package graft.streaming

import org.apache.hadoop.fs.{CommonPathCapabilities, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, assert_true, coalesce, col, count, explode, expr, lit, pmod, when, xxhash64}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Reader-atomic, multi-version snapshot publication — the one table
  * format the streaming sinks ([[sink]], [[mergeSink]], [[deltaSink]])
  * maintain.
  *
  * Two physical layouts share the same pointer commit:
  *
  * Every version directory holds exactly one metadata file, its commit
  * record `_COMMIT` ([[Commit]]), staged before the pointer flip and
  * never torn: the lineage marker, the data-file inventory, and — where
  * the layout has them — the bucket manifest, merge-on-read overlays,
  * zonemap, key blooms and column mapping, one section each.
  *
  * '''Flat''' (whole-table publishes — [[publish]]):
  * {{{
  *   base/
  *     _CURRENT        # pointer file: "37" — the committed version
  *     v00036/ …parquet + _COMMIT     # marker + inventory
  *     v00037/ …parquet + _COMMIT
  * }}}
  *
  * '''Bucketed''' (row-level MERGE — [[mergeInto]]): data files live in a
  * shared pool under `base/data/`, hash-partitioned by merge key into
  * `numBuckets` buckets; each version directory holds only its record,
  * whose bucket section maps bucket → data directory. Versions SHARE
  * untouched bucket directories, so a merge writes O(delta), not O(table):
  * {{{
  *   base/
  *     _CURRENT
  *     data/ g00000/__gbucket=0/…parquet   # written by version 0
  *           g00000/__gbucket=7/…parquet
  *           g00002/__gbucket=7/…parquet   # version 2 rewrote bucket 7
  *     v00000/ _COMMIT     # marker + inventory + buckets + zones
  *     v00002/ _COMMIT     # buckets: 7→g00002, others→g00000
  *     v00003/ _COMMIT + _PURGED/   # a purge commit: its retraction keys
  * }}}
  * This is the table-format idea (Iceberg manifests / Delta file actions)
  * reduced to plain parquet + one pointer file: the record IS the
  * version, data files are immutable and shared, and retention walks the
  * records to garbage-collect data directories no retained version
  * references ([[gcDataDirs]] — the orphan-file sweep). Each bucketed
  * record additionally carries a per-file key min/max zonemap (the Delta
  * `stats` / Iceberg bounds analog) that [[readForKeys]] and
  * update/delete-only [[mergeInto]] consult to skip files hash pruning
  * alone cannot rule out. The skip rule lives in one place, the zonemap
  * consult: [[refsNaming]] (which stats entries a manifest ref names),
  * [[filesByRef]] + [[consult]] (a ref list split into bound and
  * skipped files), [[zoneMeets]] (the range test), [[probeAggs]] +
  * [[probesOf]] (the wanted ranges) and [[bindRefs]]; every read, merge,
  * stats carry-forward, purge and clone asks it.
  *
  * Why a pointer commit rather than a directory rename-swap:
  *  - **Reader atomicity.** A swap has a window where the snapshot path
  *    does not exist (between `snap→.old` and `.tmp→snap`), and rename
  *    visibility is not atomic on object stores at all. Here a reader
  *    resolves `_CURRENT` once and reads an immutable version (directory
  *    or manifest); the pointer flip replaces one small file atomically
  *    (an atomic move on `file:`, a rename on HDFS, one object PUT on an
  *    object store — [[PointerStore]]), so every reader sees exactly the
  *    old or exactly the new version — never a mix, never an absent path.
  *  - **Concurrent-reader grace.** Old versions survive until `retain`
  *    more publishes, so a reader that resolved the pointer just before a
  *    flip keeps a complete, immutable input for its whole query.
  *  - **Crash safety.** A crash mid-write leaves a version directory (and,
  *    bucketed, staged data directories) with no pointer to them —
  *    invisible garbage, pruned on the next publish. A crash after the
  *    flip leaves extra old versions — pruned likewise. There is no
  *    recovery dance at batch start; the pointer IS the commit.
  *
  * Every operation that writes a new version — publish, merge, compact,
  * overlay staging, restore, clone, rename/drop column, the purge bump —
  * commits through ONE protocol, [[commit]]: basis check → claim →
  * stage → record → pointer CAS → retention, aborting its claim on any
  * in-JVM failure. Only purge's in-place pass rewrites committed versions
  * outside it.
  *
  * Concurrent writers (r11): publishes run OPTIMISTICALLY, the
  * Delta/Iceberg commit discipline reduced to the same plain-file
  * machinery. Each publish first CLAIMS its version number (an atomic
  * `_claims/<n>` create — claims double as "uncommitted" markers, so
  * staging in flight is protected from the orphan sweeps and an
  * uncommitted version directory is never readable as history), stages
  * freely in parallel, then commits under a short `_COMMIT_LOCK`
  * critical section that re-reads the pointer and REFUSES the flip when
  * another writer committed since this one read its snapshot
  * ([[ConcurrentSnapshotUpdate]] — the caller re-runs its merge against
  * the new current, exactly Delta's conflict-retry contract). The lock
  * is FENCED (r12): committers stamp a unique token and prove ownership
  * by reading it back — at acquire, before breaking a stale lock, as
  * the last act before the pointer flip, and at release — so a
  * GC-paused committer whose lock was legitimately broken aborts
  * retryably instead of double-flipping over its successor. A writer
  * that dies mid-publish leaves its claim behind; claims older than
  * `graft.snapshot.staleClaimMs` (default 30 min) are swept with their
  * staging by any later publish — but a version dir at-or-below the
  * pointer is committed history and is NEVER swept, even under a leaked
  * claim. Single-writer deployments (Structured Streaming's
  * one-active-query-per-checkpoint) pay a few extra small-file
  * operations per publish and can never conflict.
  *
  * On a real table format (Delta/Iceberg) [[publish]]/[[mergeInto]]
  * collapse to that format's MERGE/replace commit — the call sites do not
  * change shape.
  */
object VersionedSnapshot {

  // local-FS metadata tuning (fork-free file status) — before any
  // FileSystem call this object makes; idempotent, no-op off `file:`
  graft.io.LocalFs.tune()

  /** Another writer committed between this publish's snapshot read and
    * its pointer flip — committing anyway would silently drop that
    * writer's rows (the lost update). Retryable by re-running the whole
    * merge against the NEW current version (Delta's
    * ConcurrentAppendException contract). */
  final class ConcurrentSnapshotUpdate(val baseDir: String,
      val expected: Long, val found: Long)
    extends RuntimeException(
      s"snapshot $baseDir moved to v$found while this publish was staged " +
        s"against v$expected — re-run the merge against the new current")

  /** A fenced lock this operation held changed hands mid-flight (a
    * breaker judged it stale and re-acquired). Continuing without the
    * lock would reintroduce the exact race the lock exists to close, so
    * the holder aborts loudly. Retryable by re-running the whole
    * operation — deliberately NOT absorbed by any internal retry loop,
    * which would keep mutating without the exclusion it assumes. */
  final class FencedLockLost(val what: String, val lock: String)
    extends RuntimeException(
      s"$what lock $lock changed hands mid-operation (stale-broken by " +
        "another holder) — aborting; re-run the operation")

  /** A CDF consumer's next range fell past the retention horizon: the
    * diff can no longer be computed, and silently skipping it would drop
    * erasures. Typed so consumers can catch-and-resync without message
    * matching; extends IllegalStateException to keep the historical
    * contract for callers that caught that. */
  final class CdfHorizonLost(val baseDir: String, val from: Long,
      val to: Long)
    extends IllegalStateException(
      s"CDF stream range (v$from, v$to] of $baseDir fell past the " +
        "retention horizon — resync: re-bootstrap the consumer from " +
        "a batch read of the current version (this signal is loud " +
        "by design; silently skipping it would drop erasures)")

  private val PointerName = "_CURRENT"
  private val CommitName = "_COMMIT"     // the version's record; leading _: invisible to parquet reads
  private val PurgedName = "_PURGED"     // purge-commit retraction key list (parquet)
  private val DataDirName = "data"       // shared data-file pool (bucketed layout)
  private val BucketCol = "__gbucket"    // reserved partition column on bucket writes
  private val ActionCol = "__gaction"    // overlay row action: "u" upsert / "d" delete
  /** Session conf that makes the publish paths throw after staging but
    * before the pointer commit — the crash-consistency seam. */
  private[graft] val CrashBeforeCommitConf = "graft.snapshot.crashBeforePointerCommit"

  // ---- optimistic-concurrency plumbing (r11) ----
  private val ClaimsDirName = "_claims"      // one file per UNCOMMITTED claimed version
  private val CommitLockName = "_COMMIT_LOCK" // serializes the pointer CAS only
  /** Serializes whole purges per table (r14). Purge-vs-MERGE is handled
    * by the linearization loop (any straddling writer loses its CAS and
    * re-passes), but purge-vs-PURGE is not CAS-detectable: two in-place
    * passes read-modify-write the same version manifests and allocate
    * from the same fresh `data/p*` namespace, so an interleaving can
    * silently undo one purge's erasure with the other's stale manifest
    * write (found by the r14 linearizability fuzz under the cas
    * backend: subject 28's purge resurrected by a concurrent purge of
    * 25). Purges are rare admin operations; full mutual exclusion is
    * the correct price. The lock is fenced + HEARTBEATED: the holder
    * re-stamps its token per pass and per version dir, so a LIVE
    * long-running purge (a 100 TB pass can exceed any fixed horizon)
    * is never stale-broken, while a dead holder's lock goes stale
    * within the horizon and the next purge breaks it by identity. */
  private val PurgeLockName = "_PURGE_LOCK"
  private[graft] val PurgeLockStaleMsConf = "graft.snapshot.purgeLockStaleMs"
  private val DefaultPurgeLockStaleMs = 10L * 60 * 1000
  /** Claims older than this are a dead writer's: swept with their staging
    * by any later publish (session conf, ms). */
  private[graft] val StaleClaimMsConf = "graft.snapshot.staleClaimMs"
  private val DefaultStaleClaimMs = 30L * 60 * 1000
  /** A commit-lock file older than this is a dead writer's: broken by the
    * next committer (the critical section is milliseconds long). */
  private[graft] val CommitLockStaleMsConf = "graft.snapshot.commitLockStaleMs"
  private val DefaultCommitLockStaleMs = 60L * 1000
  /** Spec-only seam: sleep this long after staging, before the commit
    * CAS — widens the conflict window deterministically. */
  private[graft] val TestDelayBeforeCommitConf = "graft.snapshot.test.delayBeforeCommitMs"
  private[graft] val TestDelayInCommitConf = "graft.snapshot.test.delayInCommitMs"
  /** Spec-only seam: stall AFTER the commit section's fence read-back,
    * at the pointer store's last step before its write that holds no
    * store-side exclusion — between the rename store's compare and its
    * rename (its double-flip window), before cas-file takes its lock,
    * between etag-cas's reads and its conditional PUT. Drives
    * SnapshotStalledCommitterSpec, which shows the window open on an
    * HDFS-like filesystem (rename) and closed on `file:` (cas-file) and
    * on an ETag store (etag-cas). */
  private[graft] val TestDelayAfterFenceConf = "graft.snapshot.test.delayAfterFenceMs"
  /** Spec-only seam: stall a committer between its pointer flip and its
    * retention deletions — the real window in which a purge pass can
    * list a committed version that retention then retires mid-pass
    * (writers apply retention AFTER releasing the commit lock, so the
    * deletions stay in flight even under the purge escalation's frozen
    * pointer). */
  private[graft] val TestDelayBeforeRetentionConf = "graft.snapshot.test.delayBeforeRetentionMs"
  /** Spec-only seam: stall a purge pass between its committed-version
    * listing and its first read — pins the retention-collateral
    * absorption deterministically (delete a listed vdir while the pass
    * sleeps) instead of relying on suite load to land the race. */
  private[graft] val TestDelayAfterPurgeListingConf = "graft.snapshot.test.delayAfterPurgeListingMs"
  /** Spec-only seam: stall a CDF retraction scan between the endpoint
    * diff and the `_PURGED` sidecar sweep — pins the r17
    * erasure-completeness guard deterministically (retire the purge
    * commit while the scan sleeps): the range must signal horizon loss,
    * never deliver a feed missing the retraction. */
  private[graft] val TestDelayBeforeRetractionScanConf = "graft.snapshot.test.delayBeforeRetractionScanMs"
  /** Spec-only crash seam: throw immediately before [[replicateTo]]'s
    * upsert merge — models a drain that dies between a batch's
    * retraction merges and its upsert merge, the exact window where
    * marker-pinned recovery (lost checkpoint) must NOT treat the batch
    * as applied. Value is the tag to match against the thread name
    * ("*" = always). */
  private[graft] val TestFailBeforeReplicateUpsertConf =
    "graft.snapshot.test.failBeforeReplicateUpsert"
  /** Spec-only power-loss seam: when the active session's conf names one
    * of the seam points, the JVM halts outright — `Runtime.halt` skips
    * finally blocks, the [[commit]] protocol's abort, and shutdown hooks,
    * modeling a writer killed mid-operation (kill -9, OOM-killer, node
    * loss) the way an in-JVM thrown exception cannot. Driven only from a
    * child JVM spawned by CrashRecoverySpec; the parent process then
    * proves readers hold and the next writer heals the litter. The three
    * commit phases fire once each, in [[commit]], for every operation
    * that commits a new version: `staged-data` (the stage ran — data,
    * overlay or retraction files written, or nothing for a metadata-only
    * commit — claim live, no record), `staged-sidecars` (commit record
    * written, pointer not flipped), `post-flip` (pointer flipped, claim
    * NOT released, commit lock still held). Beside them:
    * `mid-retention` (old versions dropped, orphan gc not run) and
    * `mid-purge` (first retained version purged in place, the rest
    * not). */
  private[graft] val HaltAtConf = "graft.snapshot.test.haltAt"
  /** JVM system property that ARMS the halt seam. `Runtime.halt` must
    * not be reachable from a session conf alone — on a shared driver,
    * anything that can set confs could otherwise hard-kill the JVM
    * mid-commit. Only the crash-spec child launcher passes
    * `-Dgraft.snapshot.test.haltArmed=true`; without it the conf is
    * inert. */
  private[graft] val HaltArmedProp = "graft.snapshot.test.haltArmed"
  private[graft] val HaltExitCode = 117
  private def haltPoint(point: String): Unit =
    if (sys.props.get(HaltArmedProp).contains("true") &&
        org.apache.spark.sql.SparkSession.getActiveSession
          .flatMap(_.conf.getOption(HaltAtConf)).contains(point))
      Runtime.getRuntime.halt(HaltExitCode)

  /** Spec-only seam sleeps: conf value "<ms>" stalls every committer;
    * "<ms>:<substr>" stalls only threads whose name contains the tag —
    * lets a spec pin WHICH writer stalls instead of racing on conf
    * set/unset timing. */
  private def specDelay(spark: SparkSession, confName: String): Unit =
    spark.conf.getOption(confName).foreach { v =>
      val (ms, tag) = v.split(":", 2) match {
        case Array(m, t) => (m.toLongOption, Some(t))
        case arr => (arr.headOption.flatMap(_.toLongOption), None)
      }
      if (tag.forall(Thread.currentThread().getName.contains(_)))
        ms.foreach(Thread.sleep)
    }

  private def confMs(name: String, default: Long): Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => s.conf.getOption(name)).flatMap(_.toLongOption)
      .getOrElse(default)

  private def claimPath(base: Path, v: Long): Path =
    new Path(new Path(base, ClaimsDirName), v.toString)

  /** True iff `v` is claimed = staged but not (yet) committed. Claims are
    * deleted inside the commit critical section, so "no claim" + "dir
    * exists" + "v <= pointer" is exactly "committed and retained". */
  private def isClaimed(f: FileSystem, base: Path, v: Long): Boolean =
    f.exists(claimPath(base, v))

  private def releaseClaim(f: FileSystem, base: Path, v: Long): Unit =
    try { f.delete(claimPath(base, v), false); () } catch { case _: Throwable => () }

  /** (version → claim mtime) for every claim on file. */
  private def listClaims(f: FileSystem, base: Path): Map[Long, Long] = {
    val dir = new Path(base, ClaimsDirName)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName.toLongOption.map(_ -> st.getModificationTime)
    }.toMap
  }

  /** [[readForKeys]] collects the wanted keys and pushes them as an `IN`
    * scan filter when there are at most this many — large enough for any
    * real point-lookup batch, small enough that the literal list stays
    * driver- and plan-cheap. */
  private val MaxPushdownKeys = 1024L

  /** Stats-column budget for the zonemap (keys + value columns): the Delta
    * `dataSkippingNumIndexedCols` analog. Wide tables keep stats for the
    * keys plus the first prunable value columns up to this many total —
    * per-file stat lines stay O(32) fields no matter the schema. */
  private val MaxStatsCols = 32

  // Opt-in per-file key bloom filters (the record's blooms section, r9): 64 Kbit /
  // 6-hash double-hashing blooms over xxhash64 of the key tuple — the
  // Delta bloom-filter-index analog. They restore point-read FILE pruning
  // on value-clustered layouts (compact(clusterBy) trades key locality
  // for value locality, so key ranges per file go wide and the zonemap
  // stops pruning point probes). ~8 KiB per file: opt-in via `keyBlooms`
  // because at extreme file counts the section is no longer metadata-
  // priced (65536 files → ~700 MB) — enable it for point-read-heavy
  // clustered tables, exactly like Delta's per-column bloom opt-in. A
  // saturated bloom (file rows >> bits) answers "maybe" for everything —
  // degrades to no pruning, never to a wrong read.
  private val BloomBits = 65536
  private val BloomK = 6
  private val BloomSalt = "graft-bloom"

  private def fmtVersion(v: Long): String =
    "v" + "%05d".formatLocal(java.util.Locale.ROOT, v)
  private def versionPath(base: Path, v: Long): Path = new Path(base, fmtVersion(v))

  private def fs(spark: SparkSession, dir: String): FileSystem = {
    // fork-free local FS for this session (r17, guide §6) — snapshot ops
    // may run before any table resolution, so install here too
    graft.io.LocalFs.installFast(spark)
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  private def readSmallFile(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in).mkString finally in.close()
  }

  // Driver-side parquet FOOTER opens (schema probes, footer zone stats)
  // each rebuilt ParquetReadOptions from the Hadoop conf — profiled at
  // ~0.8 s of config-lookup churn per snapshot-replicate run. The
  // options depend only on the conf object, which is one per context —
  // build once per conf and reuse (guide §6, metadata constants).
  private val parquetReadOptionsCache =
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.hadoop.conf.Configuration,
      org.apache.parquet.ParquetReadOptions]()

  private[graft] def openFooter(p: Path,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val opts = parquetReadOptionsCache.computeIfAbsent(conf,
      c => org.apache.parquet.HadoopReadOptions.builder(c, p).build())
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, opts)
    try r.getFooter finally r.close()
  }

  // Local-FS fast paths (guide §6 — metadata constants): on `file:` every
  // Hadoop mkdirs/create without native libhadoop FORKS a `chmod`
  // subprocess (~5-10 ms), which multiplies across the 3-6 small files
  // and directories a snapshot commit touches — profiled at ~10% of
  // snapshot_replicate's wall time. java.nio gives the same semantics
  // (recursive mkdir; truncating overwrite-create with checksum-sidecar
  // hygiene) in microseconds; remote schemes keep the FileSystem path.
  private def mkdirsFast(f: FileSystem, p: Path): Boolean =
    if (f.getScheme == "file") {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(p.toUri.getPath))
      true
    } else f.mkdirs(p)

  private def writeSmallFile(f: FileSystem, p: Path, content: String): Unit =
    if (f.getScheme == "file") {
      import java.nio.file.{Files => JFiles, Paths => JPaths}
      val dst = JPaths.get(p.toUri.getPath)
      val par = dst.getParent
      if (par != null) JFiles.createDirectories(par)
      // checksum hygiene (see atomicOverwrite): a stale `.crc` left by a
      // checksummed-FS writer of this name would fail FS-API readers
      JFiles.deleteIfExists(dst.resolveSibling("." + p.getName + ".crc"))
      JFiles.write(dst, content.getBytes("UTF-8"))
      ()
    } else {
      val out = f.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }

  /** Read parquet `paths` (files and/or directories) as one frame under
    * the publish contract that every data file of a version carries the
    * identical physical schema. A bare multi-path `spark.read.parquet`
    * pays a schema-inference pass (footer reads via a scheduled Spark
    * job) on EVERY call — a per-read constant that multiplies across
    * version-frame reads, CDF diffs and merge scans. Here the schema
    * comes from ONE footer opened driver-side; any surprise (no leaf
    * file, unconvertible type) falls back to the inference path, so
    * behavior is identical when the contract cannot be proven cheap.
    * NOT for cross-generation unions whose schemas may legitimately
    * drift (purge's batched probe keeps inference + its drift fallback). */
  private def readUniform(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val one = try {
      val conf = spark.sparkContext.hadoopConfiguration
      def leafParquet(p: Path): Option[Path] = {
        val f = p.getFileSystem(conf)
        val st = f.getFileStatus(p)
        if (st.isFile) Some(p).filter(_.getName.endsWith(".parquet"))
        else graft.io.LocalFs.listParquetLeaves(f, p) match {
          // fork-free local walk (listFiles materializes permissions via
          // one `ls -ld` subprocess per file on a non-native local FS)
          case Some(leaves) =>
            leaves.find(q =>
              !q.getName.startsWith("_") && !q.getName.startsWith("."))
          case None =>
            val it = f.listFiles(p, true)
            var found: Option[Path] = None
            while (found.isEmpty && it.hasNext) {
              val s = it.next()
              val n = s.getPath.getName
              if (s.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
                  !n.startsWith("."))
                found = Some(s.getPath)
            }
            found
        }
      }
      paths.view.flatMap(p => leafParquet(new Path(p))).headOption.map { fp =>
        val msg = openFooter(fp, conf).getFileMetaData.getSchema
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(msg)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    one match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Overwrite a small metadata file ATOMICALLY for concurrent readers —
    * the primitive under the pointer flip and purge's in-place manifest
    * rewrites. On `file:` this is one NIO `ATOMIC_MOVE` with no checksum
    * sidecar: the checksummed FileContext flip is TWO renames (file,
    * then `.crc`), and a reader between them fails verification
    * (stress-spec-observed on `_CURRENT`); stale sidecars for both names
    * are dropped first, and with no `.crc` present checksum readers skip
    * verification. On HDFS-like schemes rename is atomic server-side
    * with checksums internal. */
  private def atomicOverwrite(spark: SparkSession, f: FileSystem, p: Path,
      content: String): Unit = {
    // per-call unique tmp: pointer flips are lock-serialized, but purge's
    // in-place manifest rewrites are not — two concurrent rewrites of the
    // same sidecar sharing one fixed tmp path could interleave
    // write/move (lost update, or NoSuchFileException on the second
    // move). A crashed writer's orphan tmp is harmless litter: readers
    // skip dot/tmp names and the next rewrite uses a fresh one.
    val tmp = new Path(p.getParent,
      p.getName + "." + java.util.UUID.randomUUID().toString + ".tmp")
    if (f.getScheme == "file") {
      import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
      val src = JPaths.get(tmp.toUri.getPath)
      val dst = JPaths.get(p.toUri.getPath)
      JFiles.write(src, content.getBytes("UTF-8"))
      Seq(p.getName, tmp.getName).foreach { n =>
        JFiles.deleteIfExists(JPaths.get(
          new Path(p.getParent, "." + n + ".crc").toUri.getPath)); ()
      }
      JFiles.move(src, dst, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      ()
    } else {
      writeSmallFile(f, tmp, content)
      FileContext.getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  // ---- the pointer flip: one store per platform ----

  /** The single-key commit primitive behind the pointer flip: replace
    * `_CURRENT`'s content with `next` ONLY IF it still reads what this
    * committer read when it validated its basis — a conditional put.
    *
    * No conf selects the store: [[pointerStoreFor]] picks the one that
    * runs on the table's `FileSystem`.
    *  - `file:` → [[CasFilePointerStore]]: compare and write are one
    *    atomic unit under an OS file lock on a `_CURRENT.caslock`
    *    sidecar (held cross-process; same-JVM threads serialize on a
    *    striped monitor first, because the JVM throws on overlapping
    *    [[java.nio.channels.FileLock]]s from one process).
    *  - a `FileSystem` that reports `ETAGS_AVAILABLE` for the pointer
    *    path (S3A, ABFS) → [[EtagPointerStore]]: Hadoop's public
    *    conditional-write API (HTTP `If-Match`/`If-None-Match`).
    *  - anything else (HDFS-like: atomic server-side rename, no
    *    conditional put) → [[RenamePointerStore]]: compare, then an
    *    atomic rename-with-overwrite. The compare and the write are
    *    separate steps, so it is safe only under the fenced commit lock,
    *    and even then a committer stalled between its compare and its
    *    rename can overwrite a successor (the double-flip window; see
    *    [[commitPointer]]).
    *
    * Under the two conditional stores a committer stalled ARBITRARILY
    * long before calling `putIfMatch` simply loses: the store rejects the
    * stale expectation. `PointerStoreContract` certifies each store
    * directly. */
  private[graft] trait PointerStore {
    /** Store name, reported in [[detail]]'s `pointer_store` column. */
    def name: String
    /** Atomically set `ptr`'s content to `value` iff the current content
      * equals `expected` (None = the file must not exist). Returns false
      * when the precondition failed; the write must be atomic for
      * readers (never a partial file). */
    def putIfMatch(spark: SparkSession, f: FileSystem, ptr: Path,
        value: String, expected: Option[String]): Boolean
  }

  /** Read `ptr`, and [[atomicOverwrite]] it with `value` iff it reads
    * `expected` (running `beforeWrite` between the two) — atomic against
    * other writers only under an exclusion the caller holds. */
  private def compareAndOverwrite(spark: SparkSession, f: FileSystem,
      ptr: Path, value: String, expected: Option[String])(
      beforeWrite: => Unit): Boolean = {
    val cur = if (f.exists(ptr)) Some(readSmallFile(f, ptr).trim) else None
    if (cur != expected.map(_.trim)) false
    else { beforeWrite; atomicOverwrite(spark, f, ptr, value); true }
  }

  /** The store of HDFS-like filesystems: no conditional put, so the
    * compare and the rename are only as atomic as the fenced commit lock
    * around them. */
  private[graft] object RenamePointerStore extends PointerStore {
    val name = "rename"
    def putIfMatch(spark: SparkSession, f: FileSystem, ptr: Path,
        value: String, expected: Option[String]): Boolean =
      // spec-only stall: the double-flip window is this compare→rename gap
      compareAndOverwrite(spark, f, ptr, value, expected)(
        specDelay(spark, TestDelayAfterFenceConf))
  }

  /** The store of `file:` tables: the same compare-and-overwrite as
    * [[RenamePointerStore]], run under an OS `FileLock` on
    * `<ptr>.caslock`, so a committer that stalls for ANY length of time
    * between validating its basis and flipping the pointer cannot
    * overwrite a successor — its `putIfMatch` finds the content moved and
    * returns false. The pointer file itself is replaced by
    * [[atomicOverwrite]], so lock-free readers never see a partial write. */
  private[graft] object CasFilePointerStore extends PointerStore {
    val name = "cas-file"
    // FileLock is per-PROCESS: a second lock attempt on the same file
    // from another thread of this JVM throws OverlappingFileLockException
    // instead of blocking, so same-JVM writers serialize on a per-path
    // monitor before taking the cross-process OS lock
    private val monitors =
      new java.util.concurrent.ConcurrentHashMap[String, Object]()
    def putIfMatch(spark: SparkSession, f: FileSystem, ptr: Path,
        value: String, expected: Option[String]): Boolean = {
      require(f.getScheme == "file",
        s"$name flips only file: pointers; a '${f.getScheme}' table flips " +
          "through etag-cas when its FileSystem reports ETags, else " +
          "through rename under the fenced commit lock")
      // spec-only stall, taken before the lock: inside it a stall only
      // delays the next committer
      specDelay(spark, TestDelayAfterFenceConf)
      val dst = java.nio.file.Paths.get(ptr.toUri.getPath)
      val lockFile = dst.resolveSibling(dst.getFileName.toString + ".caslock")
      val mon = monitors.computeIfAbsent(
        dst.toAbsolutePath.toString, _ => new Object)
      mon.synchronized {
        val ch = java.nio.channels.FileChannel.open(lockFile,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val lk = ch.lock() // blocks until cross-process exclusive
          try compareAndOverwrite(spark, f, ptr, value, expected)(())
          finally lk.release()
        } finally ch.close()
      }
    }
  }

  /** The store of object stores whose `FileStatus` carries ETags (S3A
    * with conditional creates switched on, ABFS), over Hadoop's
    * PUBLIC conditional-write API (HADOOP-19256, hadoop-client-api
    * 3.4.2+): the S3 put-if-match face that closes the double-flip window
    * with zero custom SDK code.
    *
    *  - `expected = Some(x)`: read the pointer's status (must be an
    *    [[org.apache.hadoop.fs.EtagSource]]) and content; verify content
    *    == x; then replace via `createFile(ptr).overwrite(true)
    *    .must(FS_OPTION_CREATE_CONDITIONAL_OVERWRITE_ETAG, etag)` — the
    *    store accepts the PUT at close() iff the object still carries
    *    that etag (HTTP `If-Match`). A committer stalled ARBITRARILY
    *    long between its reads and the put loses: a successor's flip
    *    changed the etag, the PUT 412s, `putIfMatch` returns false. The
    *    two driver-side reads need no atomicity — any drift either fails
    *    the content check or fails the etag precondition server-side.
    *  - `expected = None`: create-if-absent via `overwrite(false)` +
    *    `must(FS_OPTION_CREATE_CONDITIONAL_OVERWRITE, true)` (HTTP
    *    `If-None-Match: *`) — the STORE decides, never a racy listing.
    *
    * Precondition failures surface store-specifically — S3A raises
    * `RemoteFileChangedException` at close(), create-if-absent losers
    * get [[org.apache.hadoop.fs.FileAlreadyExistsException]], proxies
    * may wrap a bare 412 — so the failure mapping walks the cause chain
    * for any of those shapes and maps them to `false`; everything else
    * propagates. A filesystem whose statuses carry no ETags fails
    * loudly (a store that IGNORED the mandatory etag key would write
    * unconditionally — which is exactly what the [[PointerStore]]
    * contract laws 3/4 catch, so run `PointerStoreContract` against a
    * new object store before deploying on it; the in-repo certification
    * runs these laws over an etag-exposing local double). */
  private[graft] object EtagPointerStore extends PointerStore {
    val name = "etag-cas"
    // Options.CreateFileOptionKeys statics (hadoop 3.4.2+)
    private val CondOverwriteKey =
      org.apache.hadoop.fs.Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE
    private val CondEtagKey =
      org.apache.hadoop.fs.Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE_ETAG
    // CONCRETE shapes only — a broad message-substring match would remap
    // unrelated infrastructure errors (whose text merely mentions
    // "precondition" or "412") to a silent lost-CAS retry instead of
    // surfacing the real failure. Matched: the S3A RemoteFileChanged
    // type, the generic FileAlreadyExists type, and any store exception
    // EXPOSING an HTTP status field equal to 412 (ABFS
    // AbfsRestOperationException.getStatusCode, AWS SDK statusCode),
    // walked down the cause chain.
    private def isPreconditionFailure(e: Throwable): Boolean = {
      def status412(c: Throwable): Boolean =
        Seq("getStatusCode", "statusCode").exists { m =>
          try c.getClass.getMethod(m).invoke(c) match {
            case i: Integer => i.intValue == 412
            case _ => false
          } catch { case _: ReflectiveOperationException => false }
        }
      var c: Throwable = e
      while (c != null) {
        if (c.getClass.getSimpleName == "RemoteFileChangedException") return true
        if (c.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException]) return true
        if (status412(c)) return true
        c = if (c.getCause eq c) null else c.getCause
      }
      false
    }
    private def putConditional(f: FileSystem, ptr: Path, value: String,
        mustKey: String, mustVal: String, overwrite: Boolean): Boolean =
      try {
        val b = f.createFile(ptr).overwrite(overwrite)
        val out = (mustVal match {
          case "" => b.must(mustKey, true)
          case v => b.must(mustKey, v)
        }).build()
        // the conditional PUT happens at close() (object-store semantics:
        // the whole object uploads, the precondition gates the final PUT)
        try out.write(value.getBytes("UTF-8")) finally out.close()
        true
      } catch { case e: Exception if isPreconditionFailure(e) => false }
    def putIfMatch(spark: SparkSession, f: FileSystem, ptr: Path,
        value: String, expected: Option[String]): Boolean = expected match {
      case None =>
        putConditional(f, ptr, value,
          mustKey = CondOverwriteKey, mustVal = "", overwrite = false)
      case Some(exp) =>
        val st =
          try f.getFileStatus(ptr)
          catch { case _: java.io.FileNotFoundException => return false }
        val etag = st match {
          case e: org.apache.hadoop.fs.EtagSource
              if e.getEtag != null && e.getEtag.nonEmpty => e.getEtag
          case _ => sys.error(
            s"$name requires a FileSystem whose FileStatus carries ETags " +
              s"(S3A/ABFS — EtagSource); scheme '${f.getScheme}' does not")
        }
        if (readSmallFile(f, ptr).trim != exp.trim) false
        else {
          // spec-only stall between the reads and the PUT: the etag
          // precondition, not this check, must refuse a moved pointer
          specDelay(spark, TestDelayAfterFenceConf)
          putConditional(f, ptr, value,
            mustKey = CondEtagKey, mustVal = etag, overwrite = true)
        }
    }
  }

  /** The one store that runs on `f`, chosen from the filesystem alone:
    * `file:` → cas-file; ETags reported for `ptr` → etag-cas; anything
    * else → rename (see [[PointerStore]]). */
  private def pointerStoreFor(f: FileSystem, ptr: Path): PointerStore =
    if (f.getScheme == "file") CasFilePointerStore
    else if (f.hasPathCapability(ptr, CommonPathCapabilities.ETAGS_AVAILABLE))
      EtagPointerStore
    else RenamePointerStore

  /** The committed version number, if any publish has completed. */
  def currentVersion(spark: SparkSession, baseDir: String): Option[Long] = {
    val f = fs(spark, baseDir)
    val ptr = new Path(baseDir, PointerName)
    if (!f.exists(ptr)) None else readSmallFile(f, ptr).trim.toLongOption
  }

  /** Read the committed snapshot (None before the first publish). The
    * returned frame is bound to immutable data files (a version directory,
    * or the bucket directories its record references), so it
    * stays consistent for the whole downstream query even if publishes
    * continue concurrently.
    *
    * When the version carries merge-on-read overlays ([[stageDelta]] —
    * the merge-on-read tier), the read RECONCILES: the newest overlay
    * row per key wins over older overlays and over the base; a winning
    * delete drops the key. Read cost = base scan + one anti-join against
    * the (small) overlay key set + a ranking over overlay rows only —
    * the standard MoR trade: O(|delta|) writes buy a bounded
    * reconciliation term on reads until [[compact]] folds it away. */
  def read(spark: SparkSession, baseDir: String): Option[DataFrame] =
    currentVersion(spark, baseDir).map(versionFrame(spark, baseDir, _))

  /** Time travel: read a specific RETAINED version — any version whose
    * directory survived [[publish]]/[[mergeInto]] retention (raise
    * `retain` to keep more history). Immutability makes this free: a past
    * version IS its committed metadata + the shared immutable data files
    * it references. None when the version was never committed or has been
    * retired. The standard uses: reproducing a training run against the
    * exact table state it saw, and diffing two versions for an audit. */
  def readVersion(spark: SparkSession, baseDir: String, version: Long): Option[DataFrame] =
    retained(spark, baseDir, version).map(frameOf(spark, baseDir, version, _))

  /** The record of `v` iff it is committed (at or below the pointer) and
    * still retained — a retired version (or one whose record is gone)
    * reads as absent, never as defaults. */
  private def retained(spark: SparkSession, baseDir: String, v: Long): Option[Commit] =
    if (!currentVersion(spark, baseDir).exists(v <= _)) None
    else readCommit(fs(spark, baseDir), versionPath(new Path(baseDir), v))

  /** Point-lookup read: the committed snapshot restricted to `keyRows`'
    * key values, pruning twice before any data is read —
    *
    *   1. '''bucket pruning''': only the bucket directories the keys hash
    *      into (`(table/numBuckets)·|key buckets|` bytes instead of the
    *      table);
    *   2. '''zonemap pruning''': within those buckets, only the FILES
    *      whose committed zonemap min/max range can intersect the wanted
    *      keys' value range — so a lookup of absent or out-of-range keys
    *      (existence probes, keys that have not arrived yet) reads ZERO
    *      data files, the Delta/Iceberg data-skipping behavior;
    *   3. '''row-group pushdown''': when the key set is small
    *      (≤ [[MaxPushdownKeys]]), the literal keys are pushed as an
    *      `IN` filter INTO the parquet scan of the surviving files, so
    *      the reader skips row groups whose column statistics (and
    *      dictionaries) exclude every wanted key — pruning below the
    *      file level, which matters once buckets are GB-sized.
    *
    * The first two prunes come from one small driver job over `keyRows`
    * (bucket set + row count + per-column value range together); the
    * third collects the keys themselves only when the count says they
    * are literal-sized. `keyRows`' column names define the key; overlays
    * reconcile as in [[read]] (they are delta-sized) and a final
    * semi-join restricts the result to exactly the requested keys (so
    * the per-column `IN` superset on composite keys is safe). Flat
    * layouts, pre-zonemap versions, and unsupported key types degrade
    * gracefully to the coarser prune. */
  def readForKeys(spark: SparkSession, baseDir: String, keyRows: DataFrame)
      : Option[DataFrame] =
    currentVersion(spark, baseDir)
      .map(v => readForKeysAt(spark, baseDir, v, keyRows))

  /** [[readForKeys]] against an explicit version — the same three-level
    * prune; the predicated [[changes]] overload reads both of its
    * versions through this. */
  private def readForKeysAt(spark: SparkSession, baseDir: String, v: Long,
      keyRows: DataFrame, viewV: Long = -1L): DataFrame = {
      import org.apache.spark.sql.functions.collect_set
      val base = new Path(baseDir)
      val vdir = versionPath(base, v)
      val rec = recordOf(fs(spark, baseDir), vdir)
      // the caller speaks the VIEW version's logical names (default: the
      // read version's own); everything below — zone keys, bloom headers,
      // file scans — speaks THIS version's physical names, so the probe
      // frame is translated once here (birth-joined across any
      // normalization) and the result aliased once at the end
      val cm = crossColMap(spark, baseDir, v, if (viewV < 0) v else viewV)
      val keyCols = keyRows.columns.toSeq.map(cm.toPhysical)
      val keyRowsP = keyRows.select(keyRows.columns.toIndexedSeq.map(c =>
        col(c).as(cm.toPhysical(c))): _*)
      // probe dtypes must match the TABLE's key dtypes before any hashing:
      // bucketOf and the bloom pair are xxhash64 over the TYPED columns,
      // so an IntegerType probe against a LongType table hashes
      // differently and would silently prune the very files that hold the
      // keys (purgeKeys rebuilds its key frame from the table schema for
      // exactly this reason). One select; a no-op when dtypes agree. A
      // probe column the table doesn't have passes through untouched and
      // fails loudly downstream instead of mis-pruning here.
      val tableSchema = rawFrame(spark, base, vdir, rec).schema
      val aligned = keyRowsP.select(keyCols.map { c =>
        // case-insensitive lookup: Spark analysis resolves 'ID' against a
        // table column 'id' by default, so the dtype alignment must too —
        // a case-only mismatch would skip the cast and re-enter the
        // mis-hash/mis-prune path this alignment exists to close
        tableSchema.find(_.name.equalsIgnoreCase(c)) match {
          case Some(fld) if fld.dataType != keyRowsP.schema(c).dataType =>
            col(c).cast(fld.dataType).as(c)
          case _ => col(c)
        }
      }: _*)
      val wanted = aligned.distinct()
      val baseFrame = rec.buckets match {
        case Some((nb, entries)) =>
          val wTags = keyCols.map(c => zoneTag(wanted.schema(c).dataType))
          // ONE driver job: the keys' bucket set and per-column value
          // ranges (+ null presence) together
          val aggs = Seq(collect_set(bucketOf(keyCols, nb)).as("__bs"),
            count(lit(1)).as("__n")) ++ probeAggs(wanted.schema, keyCols, wTags)
          val row = wanted.agg(aggs.head, aggs.tail: _*).collect()(0)
          val touched = row.getAs[Seq[Int]]("__bs").toSet
          val nWanted = row.getAs[Long]("__n")
          // literal-sized key sets are collected ONCE, with their bloom
          // hash pair computed by the same Spark expressions the write
          // side aggregated — serves both the bloom file prune and the
          // pushed IN filter below
          val keyVals: Array[org.apache.spark.sql.Row] =
            if (nWanted > 0 && nWanted <= MaxPushdownKeys) {
              val (h1, h2) = bloomHashCols(keyCols)
              wanted.select(keyCols.map(col) :+ h1.as("__h1") :+ h2.as("__h2"): _*)
                .collect()
            } else Array.empty
          val blooms =
            if (keyVals.isEmpty) None
            else rec.blooms.filter(_._1 == keyCols).map(_._2)
          val wantedHashes: Array[(Long, Long)] = keyVals.map(r =>
            (r.getAs[Long]("__h1"), r.getAs[Long]("__h2")))
          def bloomKeeps(frel: String): Boolean =
            blooms.flatMap(_.get(frel)).forall(b => // no bloom: cannot prune
              wantedHashes.exists { case (h1, h2) => bloomMayContain(b, h1, h2) })
          val probes = probesOf(row, keyCols, wTags)
          val refs = touched.toSeq.sorted.flatMap(entries.get).flatten
          val bound = rec.zones.filter(z => z.keys == keyCols && z.tags == wTags) match {
            case Some(z) =>
              consult(refs, filesByRef(z.entries)) { case (frel, (_, fRanges)) =>
                zoneMeets(fRanges, probes) && bloomKeeps(frel)
              }._1
            // no zonemap or key-shape drift: bucket-level binding, but
            // the blooms section can still prune per file
            case None =>
              blooms.fold(refs)(bs =>
                consult(refs, filesByRef(bs))((frel, _) => bloomKeeps(frel))._1)
          }
          // fully pruned: an empty relation of the snapshot's schema
          val scan = bindRefs(spark, base, bound)(tableSchema)
          // row-group pushdown: literal-sized key sets become an IN
          // filter the parquet reader can evaluate against row-group
          // stats/dictionaries. Per-column (a superset on composite
          // keys — the final semi-join keeps semantics exact); a
          // column with a wanted NULL key contributes no filter
          // (IN never matches NULL).
          if (bound.isEmpty || keyVals.isEmpty) scan
          else {
            val perCol = keyCols.zipWithIndex.map { case (c, i) =>
              val vals = keyVals.map(_.get(i)).toSeq.distinct
              if (vals.contains(null)) lit(true)
              else col(c).isInCollection(vals)
            }
            scan.filter(perCol.reduce(_ && _))
          }
        case None => readUniform(spark, Seq(vdir.toString))
      }
      presentLogical(reconcileOverlays(spark, base, rec.deltas, baseFrame)
        .join(wanted, keyCols, "left_semi"), cm)
  }

  // ------------------------------------- value-range pruned reads (r9)

  /** Driver-side normalization of a range-predicate literal to the
    * zonemap's at-rest base64 form — the literal analog of
    * [[zoneNormExpr]] + [[renderZoneVal]]. None = literal shape this tag
    * cannot compare (the column then never prunes; the exact filter
    * still applies). A fractional literal against an 'i' column
    * truncates toward zero, which only ever WIDENS the pruning range for
    * integral data — safe superset semantics. */
  private def renderZoneLiteral(tag: String, v: Any): Option[String] = {
    val norm: Option[Any] = (tag, v) match {
      case (_, null) => None
      case ("i", b: java.lang.Boolean) => Some(if (b) 1L else 0L)
      case ("i", t: java.sql.Timestamp) =>
        val i = t.toInstant
        Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
      case ("i", t: java.time.Instant) =>
        Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
      case ("i", d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
      case ("i", d: java.time.LocalDate) => Some(d.toEpochDay)
      case ("i", n: java.lang.Number) => Some(n.longValue)
      case ("f", n: java.lang.Number) =>
        try Some(new java.math.BigDecimal(n.toString))
        catch { case _: NumberFormatException => None } // NaN/Infinity
      case ("s", s: String) => Some(s)
      case _ => None
    }
    norm.flatMap(renderZoneVal(tag, _))
  }

  /** Current-version read pruned by VALUE-column range predicates — the
    * data-skipping read Delta/Iceberg serve from their per-file column
    * stats, from the same zonemap that serves key pruning.
    * `ranges` maps column name to (optional lo, optional hi), both
    * inclusive. Only data files whose committed stats for EVERY
    * predicate column can intersect the wanted range are bound (files or
    * columns without stats never prune — superset semantics, same as a
    * pre-r9 keys-only zonemap, which degrades to bucket-level binding);
    * merge-on-read overlays are delta-sized and always reconcile. The
    * exact range predicate is re-applied to the result — and pushed into
    * the parquet scan of the surviving files for row-group skipping — so
    * the returned rows satisfy `ranges` exactly and the stats prune is
    * purely an I/O optimization. */
  def readWhere(spark: SparkSession, baseDir: String,
      ranges: Map[String, (Option[Any], Option[Any])]): Option[DataFrame] =
    currentVersion(spark, baseDir)
      .map(v => readWhereAt(spark, baseDir, v, ranges))

  private def readWhereAt(spark: SparkSession, baseDir: String, v: Long,
      rangesL: Map[String, (Option[Any], Option[Any])],
      viewV: Long = -1L): DataFrame = {
    val base = new Path(baseDir)
    val vdir = versionPath(base, v)
    val rec = recordOf(fs(spark, baseDir), vdir)
    // predicate columns arrive in the view's logical names; the zonemap's
    // stat headers below are THIS version's physical — translate once
    // (birth-joined across any normalization), alias at the end
    val cm = crossColMap(spark, baseDir, v, if (viewV < 0) v else viewV)
    val ranges = rangesL.map { case (c, b) => cm.toPhysical(c) -> b }
    val baseFrame = rec.buckets match {
      case Some((_, entries)) =>
        val refs = entries.toSeq.sortBy(_._1).flatMap(_._2)
        val bound = rec.zones match {
          case Some(z) =>
            val statCols = z.keys ++ z.vcols
            val statTags = z.tags ++ z.vtags
            val probes = ranges.toSeq.flatMap { case (c, (lo, hi)) =>
              val i = statCols.indexOf(c)
              if (i < 0) None
              else Some(ZoneProbe(i, statTags(i),
                lo.flatMap(renderZoneLiteral(statTags(i), _)),
                hi.flatMap(renderZoneLiteral(statTags(i), _))))
            }
            consult(refs, filesByRef(z.entries)) { case (_, (_, fRanges)) =>
              zoneMeets(fRanges, probes)
            }._1
          case None => refs // no zonemap
        }
        bindRefs(spark, base, bound)(rawFrame(spark, base, vdir, rec).schema)
      case None => readUniform(spark, Seq(vdir.toString))
    }
    val reconciled = presentLogical(
      reconcileOverlays(spark, base, rec.deltas, baseFrame), cm)
    // the exact re-filter runs on the LOGICAL frame with the caller's names
    rangesL.foldLeft(reconciled) { case (df, (c, (lo, hi))) =>
      (lo.map(l => col(c) >= lit(l)).toSeq ++ hi.map(h => col(c) <= lit(h)))
        .foldLeft(df)((d, cond) => d.filter(cond))
    }
  }

  /** Row-level change feed between two RETAINED versions — the
    * table-format `table_changes` / CDF read, derived here from version
    * immutability alone: diff = one full-outer equi-join of the two
    * version frames on the key, so no change log needs to be stored.
    * Emits (op, …row): `insert` rows carry the new values, `update` rows
    * the new values, `delete` rows the values as of `fromVersion`. Rows
    * whose key exists in both versions with identical non-key values are
    * not changes and are not emitted (null-safe comparison, so
    * null-valued columns diff correctly). None unless BOTH versions are
    * still retained — a feed over retired history would be silently
    * partial, which is worse than absent.
    *
    * The standard uses: driving a downstream incremental consumer
    * without replaying the source stream, and auditing exactly what a
    * merge window changed. Cost: both version frames scan once; the join
    * shuffles on the key. */
  def changes(spark: SparkSession, baseDir: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String]): Option[DataFrame] =
    endpointDiff(spark, baseDir, fromVersion, toVersion, keys,
      oldSideOps = Seq("delete"))(changeOps)

  /** [[changes]]' op expansion: at most one op per key. */
  private def changeOps(differs: Column): Column =
    when(col("__in_a").isNull, array(lit("insert")))
      .when(col("__in_b").isNull, array(lit("delete")))
      .when(differs, array(lit("update")))

  /** The row diff of two RETAINED versions on `keys` (None unless both
    * are): one full-outer join of the endpoint frames, each joined row
    * expanded to the ops `ops(differs)` names (an array; null = not a
    * change), carrying the FROM side's values for `oldSideOps` and the TO
    * side's otherwise. The FROM side is presented through the TO
    * version's logical view (physical names are frozen, so the aliasing
    * is exact): a feed spanning a rename boundary diffs instead of
    * erroring, and `keys` is always interpreted in the newer view. */
  private def endpointDiff(spark: SparkSession, baseDir: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String],
      oldSideOps: Seq[String])(ops: Column => Column): Option[DataFrame] =
    for {
      recA <- retained(spark, baseDir, fromVersion)
      recB <- retained(spark, baseDir, toVersion)
    } yield {
      val (a, b) = diffInputs(spark, baseDir, fromVersion, toVersion, recA, recB)
      diffFrames(a, b, keys, oldSideOps)(ops)
    }

  /** The two endpoint frames a CDF diff joins, PRUNED to the data refs
    * that can actually contribute diff rows. Version immutability gives
    * the invariant: a ref carried by BOTH endpoint manifests names
    * byte-identical rows on both sides (merges carry untouched
    * buckets/files by reference; purge's in-place rewrite swaps the ref
    * in EVERY retained manifest at once, so a rewritten dir either stays
    * shared or diverges explicitly), a key lives in exactly one ref per
    * version, and metadata-only commits (rename/drop/clone/purge-bump)
    * share every ref verbatim. Keys confined to shared refs therefore
    * diff to nothing, and dropping shared refs from BOTH sides leaves
    * the diff unchanged — O(changed data) per diff instead of O(2 ×
    * table), which is what lets a consumer tail a 100 TB table without
    * rescanning it per sync (a purge-bump or rename endpoint diff now
    * binds ZERO data files). Falls back to the full frames whenever the
    * invariant can't be proven from metadata alone: flat versions,
    * differing bucket counts, or merge-on-read overlays on either side
    * (overlay rows live outside the bucket manifests). */
  private def diffInputs(spark: SparkSession, baseDir: String,
      fromVersion: Long, toVersion: Long, recA: Commit, recB: Commit)
      : (DataFrame, DataFrame) = {
    val base = new Path(baseDir)
    def full() =
      (presentLogical(rawFrame(spark, base, versionPath(base, fromVersion), recA),
        crossColMap(spark, baseDir, fromVersion, toVersion)),
        frameOf(spark, baseDir, toVersion, recB))
    def overlaid(rec: Commit) = rec.deltas.exists(_._2.nonEmpty)
    (recA.buckets, recB.buckets) match {
      case (Some((nbA, eA)), Some((nbB, eB)))
          if nbA == nbB && !overlaid(recA) && !overlaid(recB) =>
        val refsA = eA.values.flatten.toSet
        val refsB = eB.values.flatten.toSet
        val shared = refsA intersect refsB
        if (shared.isEmpty) full()
        else {
          def pruned(v: Long, rec: Commit, entries: Map[Int, Seq[String]]) = {
            val refs = entries.toSeq.sortBy(_._1).flatMap(_._2).filterNot(shared)
            presentLogical(
              bindRefs(spark, base, refs)(rawFrame(spark, base, versionPath(base, v), rec).schema),
              crossColMap(spark, baseDir, v, toVersion))
          }
          (pruned(fromVersion, recA, eA), pruned(toVersion, recB, eB))
        }
      case _ => full()
    }
  }

  /** [[changes]] restricted by value-column range predicates — the CDF
    * read that no longer scans every in-bucket file when the predicate
    * is selective. Emits the diff rows of keys whose OLD or NEW row
    * satisfies `ranges` (both bounds inclusive, either side open), with
    * exact op labels. Two-phase read: (1) each version binds only its
    * zonemap-surviving files ([[readWhere]] semantics) and the
    * exact-filtered rows yield the candidate key set; (2) both versions
    * are point-read for exactly those keys ([[readForKeysAt]] — key
    * zonemap + row-group pushdown), so a key whose row moved INTO or OUT
    * of the range still diffs against its true counterpart row instead
    * of being mislabeled insert/delete. None unless both versions are
    * retained. */
  def changes(spark: SparkSession, baseDir: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String],
      ranges: Map[String, (Option[Any], Option[Any])]): Option[DataFrame] =
    for {
      _ <- retained(spark, baseDir, fromVersion)
      _ <- retained(spark, baseDir, toVersion)
    } yield {
      val candA = readWhereAt(spark, baseDir, fromVersion, ranges,
          viewV = toVersion)
        .select(keys.map(col): _*)
      val candB = readWhereAt(spark, baseDir, toVersion, ranges)
        .select(keys.map(col): _*)
      val cand = candA.unionByName(candB).distinct()
      diffFrames(
        readForKeysAt(spark, baseDir, fromVersion, cand, viewV = toVersion),
        readForKeysAt(spark, baseDir, toVersion, cand), keys,
        oldSideOps = Seq("delete"))(changeOps)
    }

  /** [[changes]] in pre/post-image form — the Delta CDF row contract
    * (`update_preimage` / `update_postimage`) that makes the feed
    * CONSUMABLE by retraction-based incremental view maintenance
    * ([[graft.operators.Incremental.retractPartials]]): a downstream
    * aggregate subtracts every preimage/delete row and adds every
    * postimage/insert row, which stays correct even when an update moves
    * a row BETWEEN groups (the plain [[changes]] update row carries only
    * new values, so the old group could never be decremented). Emits one
    * row per insert/delete and TWO rows per update:
    *
    *   - `insert` — new values
    *   - `delete` — the last values the key had
    *   - `update_preimage` — old values; `update_postimage` — new values
    *
    * Same cost shape as [[changes]] (one full-outer join on the key);
    * the update split is a 2-element explode of the already-joined row,
    * not a second read. None unless both versions are retained. */
  def changesPrePost(spark: SparkSession, baseDir: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String]): Option[DataFrame] =
    // ops this row expands to: inserts/deletes one-element, updates two
    endpointDiff(spark, baseDir, fromVersion, toVersion, keys,
      oldSideOps = Seq("delete", "update_preimage")) { differs =>
      when(col("__in_a").isNull, array(lit("insert")))
        .when(col("__in_b").isNull, array(lit("delete")))
        .when(differs, array(lit("update_preimage"), lit("update_postimage")))
    }

  /** The row diff of two version frames on `keys` (see [[endpointDiff]]). */
  private def diffFrames(a: DataFrame, b: DataFrame, keys: Seq[String],
      oldSideOps: Seq[String])(ops: Column => Column): DataFrame = {
    val nonKeys = b.columns.toSeq.filterNot(keys.contains)
    val aSide = a.select(
      (keys.map(col) :+ lit(true).as("__in_a")) ++
        nonKeys.map(c => col(c).as(s"__a_$c")): _*)
    val bSide = b.select(
      (keys.map(col) :+ lit(true).as("__in_b")) ++
        nonKeys.map(c => col(c).as(s"__b_$c")): _*)
    val differs = nonKeys
      .map(c => !(col(s"__a_$c") <=> col(s"__b_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    aSide.join(bSide, keys, "full_outer")
      .withColumn("op", explode(ops(differs)))
      .select(col("op") +: keys.map(col) ++: nonKeys.map(c =>
        when(col("op").isin(oldSideOps: _*), col(s"__a_$c"))
          .otherwise(col(s"__b_$c")).as(c)): _*)
  }

  /** The committed frame of one version in its own logical view: its
    * bucket (or flat) files with any merge-on-read overlays reconciled,
    * presented through the version's column mapping. */
  private def versionFrame(spark: SparkSession, baseDir: String, v: Long): DataFrame =
    frameOf(spark, baseDir, v,
      recordOf(fs(spark, baseDir), versionPath(new Path(baseDir), v)))

  /** [[versionFrame]] from an already-fetched record. */
  private def frameOf(spark: SparkSession, baseDir: String, v: Long,
      rec: Commit): DataFrame = {
    val base = new Path(baseDir)
    presentLogical(rawFrame(spark, base, versionPath(base, v), rec), rec.colMap)
  }

  /** The version's frame under PHYSICAL (at-rest) column names. */
  private def rawFrame(spark: SparkSession, base: Path, vdir: Path,
      rec: Commit): DataFrame = {
    val baseFrame = rec.buckets match {
      case Some((_, entries)) =>
        val paths = entries.toSeq.sortBy(_._1)
          .flatMap(_._2).map(rel => resolveRef(base, rel).toString)
        readUniform(spark, paths)
      case None => readUniform(spark, Seq(vdir.toString))
    }
    reconcileOverlays(spark, base, rec.deltas, baseFrame)
  }

  /** Apply a version's merge-on-read overlays to its base frame: newest
    * overlay row per key wins over older overlays and the base; winning
    * deletes drop the key. Identity when the version carries no overlays. */
  private def reconcileOverlays(spark: SparkSession, base: Path,
      deltas: Option[(Seq[String], Seq[String])], baseFrame: DataFrame): DataFrame =
    deltas match {
      case Some((keys, overlays)) if overlays.nonEmpty =>
        val tagged = overlays.zipWithIndex.map { case (rel, i) =>
          readUniform(spark, Seq(resolveRef(base, rel).toString))
            .withColumn("__seq", lit(i))
        }.reduce(_ unionByName _)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*).orderBy(col("__seq").desc)
        val latest = tagged
          .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("__rn") === 1)
        val live = latest.filter(col(ActionCol) === lit("u"))
          .drop(ActionCol, "__seq", "__rn")
        baseFrame
          .join(tagged.select(keys.map(col): _*).distinct(), keys, "left_anti")
          .unionByName(live)
      case _ => baseFrame
    }

  /** (tag, batchId) recorded by the last publish; ("", -1) if none. */
  private[graft] def lastApplied(spark: SparkSession, baseDir: String): (String, Long) =
    currentVersion(spark, baseDir).map { v =>
      val s = recordOf(fs(spark, baseDir), versionPath(new Path(baseDir), v)).marker.trim
      val cut = s.lastIndexOf(':')
      // a marker that does not END in a batch id (a manual publish or
      // an annotated compact, e.g. after a crash between a pre-merge
      // compact and its merge) carries no replay info — report "none"
      // so the batch re-applies, which is content-idempotent under
      // last-writer-wins, rather than throwing and wedging the stream
      if (cut < 0) ("", -1L)
      else s.substring(cut + 1).toLongOption match {
        case Some(id) => (s.substring(0, cut), id)
        case None => ("", -1L)
      }
    }.getOrElse(("", -1L))

  // ------------------------------------------------- bucketed-layout metadata

  /** True iff a manifest ref names an individual data FILE rather than a
    * bucket directory — the only files the manifest ever references are
    * parquet, and directory names never carry the extension. */
  private def isFileRef(rel: String): Boolean = rel.endsWith(".parquet")

  /** Prefix of an EXTERNAL manifest ref — an absolute URI into another
    * table's data tree, written only by shallow [[cloneTo]]. Every other
    * ref is base-relative. External refs are read-only borrows: reads,
    * zone/bloom pruning, CDF diffs and file-carry treat them like any
    * ref, while every path that WRITES data (merge rewrite, compact,
    * purge) writes fresh LOCAL files and drops the borrow — so the
    * source table's bytes are never mutated through a clone. */
  private[graft] val ExtRefPrefix = "ext:"

  private def isExternalRef(rel: String): Boolean = rel.startsWith(ExtRefPrefix)

  /** Resolve a manifest data ref to its path: base-relative by default,
    * as-is for an `ext:` ref. Single seam — every read of a ref goes
    * through here so cloned tables resolve uniformly. */
  private def resolveRef(base: Path, rel: String): Path =
    if (isExternalRef(rel)) new Path(rel.substring(ExtRefPrefix.length))
    else new Path(base, rel)

  /** The ref's components AFTER its generation dir (`g/d/pNNNNN…`):
    * `"__gbucket=K"` for bucket dirs (and files within one, the file
    * name dropped), `""` for overlay dirs. Works for local and external
    * refs alike — the generation dir is located by NAME SHAPE from the
    * right, so a base path that itself contains `data/` segments can
    * never shift the boundary. */
  private def refTail(rel: String): String = {
    val comps =
      (if (isFileRef(rel)) rel.split('/').dropRight(1) else rel.split('/')).toSeq
    val gIdx = comps.lastIndexWhere(c => c.length >= 6 &&
      (c.head == 'g' || c.head == 'd' || c.head == 'p') &&
      c.tail.forall(_.isDigit))
    if (gIdx < 0) "" else comps.drop(gIdx + 1).mkString("/")
  }

  // ------------------------------------------------------ the commit record

  /** Everything a version says about itself, as ONE immutable file
    * (`_COMMIT`) staged before the pointer flip — the shape of the Delta
    * transaction log and of Structured Streaming's commit log. A version
    * exists as its record plus its data files, or not at all: no reader
    * can see a version with half its metadata (the r17 race class, where
    * a missing per-feature file legitimately meant "default").
    *
    * Sections, each under a `@@<name>` header line, framed by
    * `@@commit at=<ms>` and `@@end`:
    *  - `marker`: the lineage marker (`tag:batchId` for streaming sinks);
    *  - `inventory`: `name:bytes` per data file, sorted — the integrity
    *    manifest [[validateCurrent]] checks against listings;
    *  - `buckets`: `buckets=N`, then `b:ref;ref…` per bucket. A ref is a
    *    bucket data DIRECTORY (`data/gN/__gbucket=K`) or — the r10
    *    file-pruning merge — one parquet FILE inside one, so a partial
    *    rewrite carries a bucket's untouched files by reference;
    *  - `deltas`: `keys=…`, then the merge-on-read overlay dirs OLDEST
    *    FIRST;
    *  - `zones`: the per-file zonemap ([[Zones]]);
    *  - `blooms`: per-file key blooms (`keys=`, `m=`, `k=`, `ref\tb64`);
    *  - `colmap`: the column mapping ([[ColMap]]);
    *  - `purged`: the name of a purge commit's retraction dir.
    * An absent section means flat, no overlays, no stats, no blooms,
    * identity colmap, not a purge commit. A record without its `@@end`
    * line is torn (still staging). `at` is the staging time — the
    * [[history]] `committed_at` — and survives purge's in-place rewrite. */
  private final case class Commit(
      marker: String,
      inventory: Seq[(String, Long)] = Nil,
      buckets: Option[(Int, Map[Int, Seq[String]])] = None,
      deltas: Option[(Seq[String], Seq[String])] = None,
      zones: Option[Zones] = None,
      blooms: Option[(Seq[String], Map[String, Array[Byte]])] = None,
      colMap: ColMap = IdentityColMap,
      purged: Boolean = false,
      at: Long = 0L) {

    /** The basis of a DERIVED version: the layout sections carry, the
      * per-version facts (marker, inventory, retraction dir) do not. */
    def derive(newMarker: String): Commit =
      copy(marker = newMarker, inventory = Nil, purged = false)

    def render: String = {
      val b = Seq.newBuilder[String]
      b += s"@@commit at=$at" += "@@marker" += marker += "@@inventory"
      b ++= inventory.map { case (name, len) => s"$name:$len" }
      buckets.foreach { case (nb, entries) =>
        b += "@@buckets" += s"buckets=$nb"
        b ++= entries.toSeq.sortBy(_._1).map { case (k, rels) => s"$k:${rels.mkString(";")}" }
      }
      deltas.foreach { case (keys, overlays) =>
        b += "@@deltas" += s"keys=${keys.mkString(",")}"
        b ++= overlays
      }
      zones.foreach { z =>
        b += "@@zones" += s"keys=${z.keys.mkString(",")}" +=
          s"tags=${z.tags.mkString(",")}" += s"cols=${z.vcols.mkString(",")}" +=
          s"ctags=${z.vtags.mkString(",")}"
        b ++= z.entries.toSeq.sortBy(_._1).map { case (rel, (n, rs)) => zoneLine(rel, n, rs) }
      }
      blooms.foreach { case (keys, entries) =>
        b += "@@blooms" += s"keys=${keys.mkString(",")}" += s"m=$BloomBits" += s"k=$BloomK"
        b ++= entries.toSeq.sortBy(_._1).map { case (rel, bits) =>
          s"$rel\t${java.util.Base64.getEncoder.encodeToString(bits)}"
        }
      }
      if (!colMap.isIdentity) b += "@@colmap" += serializeColMap(colMap)
      if (purged) b += "@@purged" += PurgedName
      (b += "@@end").result().mkString("\n")
    }
  }

  private object Commit {
    private val Headers = Set("@@marker", "@@inventory", "@@buckets",
      "@@deltas", "@@zones", "@@blooms", "@@colmap", "@@purged", "@@end")

    /** None for a torn or malformed record. The zones and blooms sections
      * parse defensively: malformed content there degrades to no stats /
      * no blooms (never-prune), not to an unreadable version. */
    def parse(text: String): Option[Commit] =
      try {
        val lines = text.split('\n').toSeq
        if (lines.size < 2 || !lines.head.startsWith("@@commit at=") ||
            lines.last != "@@end") None
        else {
          val heads = lines.indices.filter(i => Headers(lines(i)))
          val sec: Map[String, Seq[String]] = heads.zip(heads.tail).map {
            case (i, j) => lines(i).drop(2) -> lines.slice(i + 1, j)
          }.toMap
          def rows(name: String): Option[Seq[String]] =
            sec.get(name).map(_.map(_.trim).filter(_.nonEmpty))
          Some(Commit(
            marker = sec.get("marker").map(_.mkString("\n")).getOrElse(""),
            inventory = rows("inventory").getOrElse(Nil).map { line =>
              val cut = line.lastIndexOf(':')
              (line.substring(0, cut), line.substring(cut + 1).toLong)
            },
            buckets = rows("buckets").map { ls =>
              require(ls.head.startsWith("buckets="))
              ls.head.stripPrefix("buckets=").toInt -> ls.tail.map { line =>
                val cut = line.indexOf(':')
                line.substring(0, cut).toInt ->
                  line.substring(cut + 1).split(';').toSeq.filter(_.nonEmpty)
              }.toMap
            },
            deltas = rows("deltas").map { ls =>
              require(ls.head.startsWith("keys="))
              (ls.head.stripPrefix("keys=").split(',').toSeq.filter(_.nonEmpty), ls.tail)
            },
            zones = sec.get("zones").flatMap(parseZones),
            blooms = sec.get("blooms").flatMap(parseBlooms),
            colMap = sec.get("colmap").map(ls => parseColMapContent(ls.mkString("\n"), "commit record"))
              .getOrElse(IdentityColMap),
            purged = sec.contains("purged"),
            at = lines.head.stripPrefix("@@commit at=").toLong))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** A version dir's record; None when it is absent (a retired version,
    * or one still staging) or torn. */
  private def readCommit(f: FileSystem, vdir: Path): Option[Commit] =
    try Commit.parse(readSmallFile(f, new Path(vdir, CommitName)))
    catch { case _: java.io.FileNotFoundException => None }

  /** The record of a COMMITTED version. Absence is an error, never a
    * default: the version was retired under the caller (re-run against
    * the current version) or the table is damaged. */
  private def recordOf(f: FileSystem, vdir: Path): Commit =
    readCommit(f, vdir).getOrElse(throw new IllegalStateException(
      s"no readable commit record in $vdir — the version was retired " +
        "mid-operation (re-run against the current version) or the table " +
        "is damaged"))

  private def currentRecord(spark: SparkSession, baseDir: String): Option[Commit] =
    currentVersion(spark, baseDir).map(v =>
      recordOf(fs(spark, baseDir), versionPath(new Path(baseDir), v)))

  /** Write version dir `target`'s record (creating the dir when the stage
    * wrote nothing into it) — the single pre-flip metadata step of the
    * [[commit]] protocol: the inventory is listed and the staging time
    * stamped here. */
  private def stageRecord(f: FileSystem, base: Path, target: Path, rec: Commit): Unit = {
    writeSmallFile(f, new Path(target, CommitName),
      rec.copy(inventory = inventory(f, base, target, rec),
        at = System.currentTimeMillis()).render)
    haltPoint("staged-sidecars")
  }

  /** The committed version's bucket layout, if it is bucketed. */
  private[graft] def bucketManifest(spark: SparkSession, baseDir: String)
      : Option[(Int, Map[Int, Seq[String]])] =
    currentRecord(spark, baseDir).flatMap(_.buckets)

  /** The committed version's overlay list (empty when none). */
  private[graft] def deltaManifest(spark: SparkSession, baseDir: String): Seq[String] =
    currentRecord(spark, baseDir).toSeq.flatMap(_.deltas.toSeq.flatMap(_._2))

  // ------------------------------------------- logical column mapping
  // Rename/drop a column on a 100 TB table as ONE metadata commit — the
  // Delta column-mapping idea reduced to this format's plain-text +
  // pointer machinery. The invariant that makes it safe: a column's
  // PHYSICAL (parquet) name is frozen at birth and every data file of a
  // table generation carries the full physical column set, so renames
  // never touch data, every at-rest artifact (data files, zone/bloom
  // headers and overlay keys, `_PURGED` retraction dirs) speaks
  // physical names, and every in-memory frame a caller sees speaks the
  // version's LOGICAL view. Drops are view-level (the bytes remain until
  // the next [[compact]], which also NORMALIZES physical := logical —
  // exactly Delta's "DROP COLUMN is metadata; REORG TABLE purges" split).

  /** `renames`: physical → logical, only where they differ; `dropped`:
    * physical names removed from the logical view (bytes pending a
    * reifying compact); `origin`: current-physical → BIRTH-physical,
    * only where they differ — the column's stable identity (the Delta
    * column-id analog). Physical names are frozen at birth EXCEPT across
    * a normalize-compact, which re-freezes physical := logical; `origin`
    * records that lineage so any two versions of a table can still be
    * joined column-for-column ([[crossColMap]]) — without it, a CDF diff
    * or purge probe across a normalization boundary would mis-align
    * renamed columns. */
  private final case class ColMap(renames: Map[String, String],
      dropped: Set[String], origin: Map[String, String] = Map.empty) {
    private val inverse: Map[String, String] = renames.map(_.swap)
    private lazy val byBirth: Map[String, String] = origin.map(_.swap)
    def toLogical(phys: String): String = renames.getOrElse(phys, phys)
    def toPhysical(logical: String): String = inverse.getOrElse(logical, logical)
    def originOf(phys: String): String = origin.getOrElse(phys, phys)
    def physOfBirth(birth: String): String = byBirth.getOrElse(birth, birth)
    def isIdentity: Boolean =
      renames.isEmpty && dropped.isEmpty && origin.isEmpty
  }
  private val IdentityColMap = ColMap(Map.empty, Set.empty)

  /** The colmap presenting VERSION `v`'s physical frame in VIEW version
    * `viewV`'s logical names — the cross-version translation every
    * endpoint-diff ([[changes]]), view-pinned point read
    * ([[readForKeysAt]]/[[readWhereAt]]) and cross-version purge probe
    * needs. Columns are joined on BIRTH identity (`origin` lineage), so
    * the result is exact even when a normalize-compact re-froze physical
    * names between the two versions. Synthetic (origin empty): used only
    * to translate/present, never persisted. */
  private def crossColMap(spark: SparkSession, baseDir: String, v: Long,
      viewV: Long): ColMap = {
    val cmV = colMapOf(spark, baseDir, v)
    if (viewV == v) cmV
    else {
      val cmW = colMapOf(spark, baseDir, viewV)
      if (cmV == cmW) cmV // steady state: no schema drift in between
      else composeColMaps(cmV, cmW)
    }
  }

  /** The synthetic colmap presenting a frame whose names live in `cmV`'s
    * PHYSICAL space under `cmW`'s LOGICAL view, columns joined on birth
    * identity. Shared by [[crossColMap]] and replica schema
    * propagation. */
  private def composeColMaps(cmV: ColMap, cmW: ColMap): ColMap = {
    // candidate v-physicals: every name either side mentions, pulled
    // back to v's physical space through birth identity (a name
    // mentioned nowhere is identity end-to-end and needs no entry)
    val cands = cmV.renames.keySet ++ cmV.dropped ++ cmV.origin.keySet ++
      (cmW.renames.keySet ++ cmW.dropped ++ cmW.origin.keySet)
        .map(q => cmV.physOfBirth(cmW.originOf(q)))
    val entries = cands.toSeq.map { p =>
      val q = cmW.physOfBirth(cmV.originOf(p))
      if (cmV.dropped.contains(p) || cmW.dropped.contains(q)) p -> None
      else p -> Some(cmW.toLogical(q))
    }
    ColMap(
      entries.collect { case (p, Some(l)) if p != l => p -> l }.toMap,
      entries.collect { case (p, None) => p }.toSet)
  }

  private def parseColMapContent(content: String, where: String): ColMap = {
    val lines = content.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    require(lines.nonEmpty && lines.head.startsWith("map="),
      s"corrupt column map in $where")
    val renames = lines.head.stripPrefix("map=").split(',').toSeq
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf(':')
        require(i > 0 && i < kv.length - 1, s"corrupt column map entry '$kv' in $where")
        kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap
    val dropped = lines.find(_.startsWith("dropped="))
      .map(_.stripPrefix("dropped=").split(',').toSeq.filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val origin = lines.find(_.startsWith("origin="))
      .map(_.stripPrefix("origin=").split(',').toSeq
        .filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf(':')
          require(i > 0 && i < kv.length - 1,
            s"corrupt column map origin entry '$kv' in $where")
          kv.substring(0, i) -> kv.substring(i + 1)
        }.toMap)
      .getOrElse(Map.empty[String, String])
    ColMap(renames, dropped, origin)
  }

  private def serializeColMap(cm: ColMap): String = Seq(
    "map=" + cm.renames.toSeq.sortBy(_._1)
      .map { case (p, l) => s"$p:$l" }.mkString(","),
    "dropped=" + cm.dropped.toSeq.sorted.mkString(","),
    "origin=" + cm.origin.toSeq.sortBy(_._1)
      .map { case (p, b) => s"$p:$b" }.mkString(",")).mkString("\n")

  /** A COMMITTED version's colmap never changes: renames and drops
    * commit NEW versions, and purge's in-place rewrite keeps the section
    * — so a committed vdir's colmap can be cached forever, across writers
    * and JVMs. Only [[colMapOf]] fills it, and its callers pass committed
    * versions only: a STAGED record is not final (an aborted vN's number
    * is re-claimed by the retry, whose record may map differently), so
    * the sweeps' and claims' reads of other writers' staging must never
    * land here. This kills the
    * per-version small-file read on the CDF path (every sync/IVM tick
    * paid it). Bounded: cleared wholesale past 8192 entries (a colmap is
    * a few dozen bytes; the cap is paranoia, not need). */
  private val colMapCache =
    new java.util.concurrent.ConcurrentHashMap[String, ColMap]()

  private def colMapOf(spark: SparkSession, baseDir: String, v: Long): ColMap = {
    val vdir = versionPath(new Path(baseDir), v)
    val hit = colMapCache.get(vdir.toString)
    if (hit != null) hit
    else {
      val cm = recordOf(fs(spark, baseDir), vdir).colMap
      if (colMapCache.size() > 8192) colMapCache.clear()
      colMapCache.put(vdir.toString, cm)
      cm
    }
  }

  /** A PHYSICAL frame in `cm`'s logical view: dropped physical columns
    * vanish, renamed ones alias; internal columns (never in a colmap)
    * pass through. One projection — free under codegen. */
  private def presentLogical(df: DataFrame, cm: ColMap): DataFrame =
    if (cm.isIdentity) df
    else df.select(df.columns.toIndexedSeq.filterNot(cm.dropped.contains)
      .map(c => col(c).as(cm.toLogical(c))): _*)

  // --------------------------------------------------- per-file zonemaps
  // The data-skipping layer production table formats keep in their file
  // manifests (Delta `stats`, Iceberg `lower_bounds`/`upper_bounds`),
  // reduced to the same plain-text + pointer machinery: every committed
  // bucketed record carries a zones section mapping each referenced data
  // file to (row count, per-key-column min/max). Hash bucketing answers
  // "which bucket could hold this key"; the zonemap answers the orthogonal
  // question "could this FILE's value range hold it at all" — which is
  // what prunes reads for absent / out-of-range keys and lets value-
  // disjoint merges inherit even hash-touched buckets.
  //
  // Cost shape: stats are computed by ONE narrow aggregate over the files
  // the publish just wrote (O(delta) — inherited files copy their rows
  // from the previous version's zonemap driver-side), and the section is
  // one line per referenced data file — the same cardinality the record's
  // inventory already carries.

  /** Comparison class of a key column: 'i' = integer-comparable longs
    * (integral/boolean/date/timestamp, normalized in the stats query so
    * serialized values are timezone-free), 'f' = decimal-comparable
    * (float/double/decimal), 's' = UTF-8 binary-ordered strings (matches
    * Spark's UTF8String ordering), 'x' = no stats (never prunes). */
  private def zoneTag(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType => "i"
      case DateType | TimestampType => "i"
      case FloatType | DoubleType | _: DecimalType => "f"
      case StringType => "s"
      case _ => "x"
    }
  }

  /** The column expression whose min/max the zonemap stores — identity
    * except the calendar types, which normalize to epoch longs so the
    * serialized value never passes through a timezone-dependent
    * toString. */
  private def zoneNormExpr(dt: org.apache.spark.sql.types.DataType, c: String): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case DateType => org.apache.spark.sql.functions.unix_date(col(c))
      case TimestampType => org.apache.spark.sql.functions.unix_micros(col(c))
      case ByteType | ShortType | IntegerType | LongType | BooleanType =>
        col(c).cast("long")
      case _ => col(c)
    }
  }

  /** Serialize a collected min/max value: base64 of its canonical string
    * form (base64 keeps the line format delimiter-safe for arbitrary
    * string keys). None for null or values whose form won't round-trip
    * (NaN/Infinity) — the column then records no stats for that file. */
  private def renderZoneVal(tag: String, v: Any): Option[String] = {
    if (v == null) return None
    val s0 = v.toString
    val s = tag match {
      case "f" =>
        try {
          // canonicalize signed zero: parquet footer statistics store a
          // 0.0-containing column's min as -0.0 (conservative IEEE
          // bound), the scan aggregate returns 0.0 — identical under
          // the consult path's BigDecimal compare, so render ONE form
          // and the two stats builders stay bit-identical
          if (new java.math.BigDecimal(s0).signum() == 0 && s0.startsWith("-"))
            s0.substring(1)
          else s0
        } catch { case _: NumberFormatException => return None }
      case _ => s0
    }
    Some(java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8")))
  }

  /** a < b under the tag's ordering; both sides arrive in the zonemap's
    * base64 at-rest form ([[renderZoneVal]]). None when either side fails
    * to decode/parse — callers treat that as "cannot prune". */
  private def zoneLt(tag: String, aB64: String, bB64: String): Option[Boolean] =
    try {
      val dec = java.util.Base64.getDecoder
      val (a, b) = (new String(dec.decode(aB64), "UTF-8"),
        new String(dec.decode(bB64), "UTF-8"))
      tag match {
        case "i" => Some(a.toLong < b.toLong)
        case "f" => Some(new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b)) < 0)
        case "s" =>
          val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
          val n = math.min(x.length, y.length)
          var i = 0
          while (i < n && x(i) == y(i)) i += 1
          Some(if (i < n) (x(i) & 0xff) < (y(i) & 0xff) else x.length < y.length)
        case _ => None
      }
    } catch {
      case _: NumberFormatException | _: IllegalArgumentException => None
    }

  // ---------------------------------------------------- the zonemap consult
  // The file-skipping rule lives here and nowhere else: which stats
  // entries a manifest ref names ([[refsNaming]], indexed by
  // [[filesByRef]]), which files a consult binds or skips ([[consult]]),
  // whether a file's range can meet a wanted one ([[zoneMeets]]), and the
  // probe side's ranges ([[probeAggs]] + [[probesOf]]). The key read, the
  // value-range read, mergeInto's file split, stats carry-forward, purge
  // and clone all ask these.

  /** The manifest refs that name data file `frel`: the file itself (a
    * file ref, r10 partial merges) and every directory it sits under (a
    * dir ref covers `rel + "/"`…). A set of refs names `frel` iff this
    * meets it — O(path depth) per file, whatever the manifest's size. */
  private def refsNaming(frel: String): Iterator[String] = {
    val dirs = Iterator.iterate(frel.lastIndexOf('/'))(i => frel.lastIndexOf('/', i - 1))
      .takeWhile(_ >= 0).map(frel.substring(0, _)).filterNot(isFileRef)
    if (isFileRef(frel)) Iterator.single(frel) ++ dirs else dirs
  }

  /** Per-file stats (zone entries or blooms) indexed by the refs that name
    * them, each ref's files sorted — built once per consult, so expanding
    * a ref is one lookup, not a scan of every entry. */
  private def filesByRef[V](stats: Map[String, V]): Map[String, Seq[(String, V)]] =
    stats.toSeq.sortBy(_._1)
      .flatMap { case e @ (frel, _) => refsNaming(frel).map(_ -> e) }
      .groupMap(_._1)(_._2)

  /** `refs` expanded through indexed per-file stats into (bound, skipped)
    * files: a file is skipped only when `keeps` rejects it. A ref no stats
    * entry falls under is bound whole and never skipped — its files are
    * unknown, so a merge can never carry it. Bound files keep `refs`
    * order. */
  private def consult[V](refs: Seq[String], byRef: Map[String, Seq[(String, V)]])(
      keeps: (String, V) => Boolean): (Seq[String], Seq[String]) = {
    val (bound, skipped) = refs.map { rel =>
      byRef.get(rel) match {
        case None => (Seq(rel), Nil)
        case Some(files) =>
          val (k, s) = files.partition { case (frel, v) => keeps(frel, v) }
          (k.map(_._1), s.map(_._1))
      }
    }.unzip
    (bound.flatten, skipped.flatten)
  }

  /** A wanted range on stats column `i` (either bound open), in the
    * zonemap's at-rest form, compared under `tag`. */
  private final case class ZoneProbe(i: Int, tag: String,
      lo: Option[String], hi: Option[String])

  /** Can a file with per-column stats `fRanges` hold a row inside every
    * probe? Superset rule: a file fails only when a decoded comparison
    * proves it disjoint (hi < fileMin or fileMax < lo); absent stats or
    * undecodable values never prune. */
  private def zoneMeets(fRanges: Seq[Option[(String, String)]],
      probes: Seq[ZoneProbe]): Boolean =
    probes.forall { p =>
      fRanges.lift(p.i).flatten.forall { case (fMin, fMax) =>
        !(p.hi.flatMap(zoneLt(p.tag, _, fMin)).getOrElse(false) ||
          p.lo.flatMap(zoneLt(p.tag, fMax, _)).getOrElse(false))
      }
    }

  /** The probe side's aggregate: per prunable column of `cols`, the
    * min/max of its zone-normalized value and whether a NULL occurs —
    * decoded per aggregated row by [[probesOf]]. */
  private def probeAggs(schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String], tags: Seq[String]): Seq[Column] = {
    import org.apache.spark.sql.functions.{max => fMax, min => fMin}
    cols.zip(tags).flatMap { case (c, tag) =>
      if (tag == "x") Nil
      else {
        val e = zoneNormExpr(schema(c).dataType, c)
        Seq(fMin(e).as(s"__min_$c"), fMax(e).as(s"__max_$c"),
          fMax(col(c).isNull.cast("int")).as(s"__null_$c"))
      }
    }
  }

  /** One [[probeAggs]] row as closed probes on `cols`' positions. A column
    * probes nothing when it has no stats tag, holds a wanted NULL (a NULL
    * key can live in any file: file stats cover non-null values only), or
    * has a bound that does not render. */
  private def probesOf(r: org.apache.spark.sql.Row, cols: Seq[String],
      tags: Seq[String]): Seq[ZoneProbe] =
    cols.zip(tags).zipWithIndex.flatMap { case ((c, tag), i) =>
      if (tag == "x" || r.getAs[Int](s"__null_$c") == 1) None
      else for {
        lo <- renderZoneVal(tag, r.getAs[Any](s"__min_$c"))
        hi <- renderZoneVal(tag, r.getAs[Any](s"__max_$c"))
      } yield ZoneProbe(i, tag, Some(lo), Some(hi))
    }

  /** Bind `refs` as one frame or, when none is left to bind, an empty
    * LOCAL relation of the version's schema: a limit(0) over the version
    * frame would still bind every data file. */
  private def bindRefs(spark: SparkSession, base: Path, refs: Seq[String])(
      schema: => org.apache.spark.sql.types.StructType): DataFrame =
    if (refs.nonEmpty) readUniform(spark, refs.map(rel => resolveRef(base, rel).toString))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** One version's zonemap: the merge-key columns and their tags, plus
    * (r9) optional VALUE-column stats (`vcols`/`vtags` — the Delta
    * `dataSkippingNumIndexedCols` analog), and per data file (row count,
    * per-column min/max in base64 — None = no stats). Ranges are ordered
    * keys-first then vcols, so every pre-r9 consult site that indexes by
    * key position keeps working on the prefix, and pre-r9 files (no
    * `cols=`/`ctags=` header lines) parse as vcols = empty. */
  private final case class Zones(keys: Seq[String], tags: Seq[String],
      vcols: Seq[String], vtags: Seq[String],
      entries: Map[String, (Long, Seq[Option[(String, String)]])])

  /** A record's zones section. Defensive: a corrupt or hand-edited
    * section degrades to the documented no-stats/never-prune fallback
    * (same path as a version without a zonemap or key-shape drift), never
    * crashes the read. */
  private def parseZones(section: Seq[String]): Option[Zones] = {
    try {
      val lines = section.filter(_.nonEmpty)
      if (lines.size < 2 ||
          !lines.head.startsWith("keys=") || !lines(1).startsWith("tags=")) None
      else {
        val keys = lines.head.stripPrefix("keys=").split(',').toSeq.filter(_.nonEmpty)
        val tags = lines(1).stripPrefix("tags=").split(',').toSeq.filter(_.nonEmpty)
        // optional value-column stats headers (r9); absent on older files
        val hasV = lines.size >= 4 &&
          lines(2).startsWith("cols=") && lines(3).startsWith("ctags=")
        val vcols =
          if (hasV) lines(2).stripPrefix("cols=").split(',').toSeq.filter(_.nonEmpty)
          else Nil
        val vtags =
          if (hasV) lines(3).stripPrefix("ctags=").split(',').toSeq.filter(_.nonEmpty)
          else Nil
        val entries = lines.drop(if (hasV) 4 else 2).map { line =>
          val parts = line.split('\t')
          val ranges = parts.drop(2).toSeq.map { fld =>
            if (fld == "-") None
            else {
              val cut = fld.indexOf(',')
              // cut == -1 makes substring throw -> caught below -> None
              Some((fld.substring(0, cut), fld.substring(cut + 1)))
            }
          }
          // parts(1) absent or non-numeric throws -> caught below -> None
          parts(0) -> (parts(1).toLong, ranges)
        }.toMap
        Some(Zones(keys, tags, vcols, vtags, entries))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def zoneLine(rel: String, count: Long,
      ranges: Seq[Option[(String, String)]]): String =
    (Seq(rel, count.toString) ++ ranges.map {
      case Some((lo, hi)) => s"$lo,$hi"
      case None => "-"
    }).mkString("\t")

  // ------------------------------------------------- per-file key blooms

  /** Set the k double-hashed bits of (h1, h2) in `b`; shared by the
    * write-side aggregator and the driver-side membership probe so both
    * sides agree bit for bit. */
  private def bloomSet(b: Array[Byte], h1: Long, h2: Long): Unit = {
    var i = 0
    while (i < BloomK) {
      val bit = java.lang.Math.floorMod(h1 + i.toLong * h2, BloomBits.toLong).toInt
      b(bit >>> 3) = (b(bit >>> 3) | (1 << (bit & 7))).toByte
      i += 1
    }
  }

  private def bloomMayContain(b: Array[Byte], h1: Long, h2: Long): Boolean = {
    var i = 0
    while (i < BloomK) {
      val bit = java.lang.Math.floorMod(h1 + i.toLong * h2, BloomBits.toLong).toInt
      if ((b(bit >>> 3) & (1 << (bit & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** One-pass distributive bloom build over (h1, h2) hash pairs — the
    * same typed-Aggregator discipline as operators/Aggregates. */
  private class KeyBloomAgg
      extends org.apache.spark.sql.expressions.Aggregator[(Long, Long), Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](BloomBits / 8)
    def reduce(b: Array[Byte], in: (Long, Long)): Array[Byte] = {
      bloomSet(b, in._1, in._2); b
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** The (h1, h2) hash pair of the key tuple, as Spark expressions — the
    * probe side collects the SAME expressions over its wanted keys, so
    * write and read hashes agree by construction (no driver-side
    * reimplementation of xxhash64's type handling). */
  private def bloomHashCols(keys: Seq[String]): (Column, Column) =
    (xxhash64(keys.map(col): _*),
      xxhash64(lit(BloomSalt) +: keys.map(col): _*))

  /** A data file's base-relative ref from its scanned URI. lastIndexOf,
    * matching footerZoneStats: a base path that itself contains `/data/`
    * segments must not shift the ref boundary. */
  private def relOfDataUri(uri: String): String =
    uri.substring(uri.lastIndexOf(s"/$DataDirName/") + 1)

  /** Per-file key blooms of the data files under `dirs` (the files a
    * publish or purge just wrote) — one narrow aggregate, same cost shape
    * as [[freshZoneStats]]. */
  private def freshBloomStats(spark: SparkSession, dirs: Seq[Path],
      keys: Seq[String]): Seq[(String, Array[Byte])] = {
    import org.apache.spark.sql.functions.input_file_name
    val bloomAgg = org.apache.spark.sql.functions.udaf(new KeyBloomAgg,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong))
    val (h1, h2) = bloomHashCols(keys)
    readUniform(spark, dirs.map(_.toString))
      .groupBy(input_file_name().as("__f"))
      .agg(bloomAgg(h1, h2).as("__bloom"))
      .collect().toSeq.map { r =>
        (relOfDataUri(r.getAs[String]("__f")), r.getAs[Array[Byte]]("__bloom"))
      }
  }

  /** A record's blooms section: (key cols, per-file bloom). Defensive
    * parse — malformed content degrades to no-bloom, never a crash. */
  private def parseBlooms(section: Seq[String])
      : Option[(Seq[String], Map[String, Array[Byte]])] =
    try {
      val lines = section.filter(_.nonEmpty)
      if (lines.size < 3 || !lines.head.startsWith("keys=") ||
          lines(1) != s"m=$BloomBits" || lines(2) != s"k=$BloomK") None
      else {
        val keys = lines.head.stripPrefix("keys=").split(',').toSeq.filter(_.nonEmpty)
        val entries = lines.drop(3).map { line =>
          val Array(rel, b64) = line.split('\t')
          rel -> java.util.Base64.getDecoder.decode(b64)
        }.toMap
        if (entries.values.exists(_.length != BloomBits / 8)) None
        else Some((keys, entries))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-file (count, min/max per key) stats for the data files under
    * `dirs` (the files a publish or purge just wrote). Fast path: the
    * parquet FOOTERS of those files already carry exact per-row-group
    * statistics, so for every
    * cleanly-mappable type the stats are METADATA-priced — O(files)
    * footer reads instead of a second O(delta) scan of everything the
    * publish just wrote (at 100 TB that second scan, not the manifest
    * writes, is the dominant zonemap cost). Any file or column the
    * footer path cannot map EXACTLY (unexpected physical type,
    * stats-less chunk, NaN-dropped float stats, INT96 timestamps, a
    * decimal whose parquet scale differs from the column's) falls the
    * whole call back to the scan aggregate, so the zonemap artifact is
    * bit-identical either way — ZoneStatsParitySpec pins the
    * equivalence per type, including the null/all-null and empty-file
    * shapes. Snapshot writes pin TIMESTAMP_MICROS (see
    * [[withMicrosTimestamps]]) precisely so timestamp-bearing tables
    * stay on this path instead of silently paying the scan forever. */
  private def freshZoneStats(spark: SparkSession, dirs: Seq[Path],
      statCols: Seq[String], schema: org.apache.spark.sql.types.StructType,
      padMissingColumns: Boolean = false)
      : Seq[(String, Long, Seq[Option[(String, String)]])] =
    footerZoneStats(spark, dirs, statCols, schema, padMissingColumns)
      .getOrElse(scanZoneStats(spark, dirs, statCols, schema))

  private def isMicrosTimestamp(
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean =
    chunk.getPrimitiveType.getLogicalTypeAnnotation match {
      case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
      case _ => false
    }

  /** Footer fast path of [[freshZoneStats]] (and of the purge pass's
    * zones regeneration): None = fall back to the scan (never guesses —
    * a partially-mappable layout is all-or-nothing, because a MISSING
    * stat must mean "no stats recorded", not "footer unreadable").
    * `padMissingColumns`: a stat column absent from a file's schema
    * records None (the purge-regen semantic for pre-evolution files)
    * instead of bailing. */
  private[graft] def footerZoneStats(spark: SparkSession, dirs: Seq[Path],
      statCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      padMissingColumns: Boolean = false)
      : Option[Seq[(String, Long, Seq[Option[(String, String)]])]] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // a stat column absent from the union schema itself (possible under
    // padMissingColumns with pre-evolution dirs) tags "x" → no stats,
    // matching the scan path's padding
    val tags = statCols.map(k =>
      schema.fields.find(_.name == k).map(f => zoneTag(f.dataType)).getOrElse("x"))
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val files: Seq[(Path, String)] = dirs.flatMap { dir =>
        val f = dir.getFileSystem(conf)
        if (!f.exists(dir)) Nil
        else {
          val marker = s"/$DataDirName/${dir.getName}/"
          val leaves: Seq[Path] = graft.io.LocalFs.listParquetLeaves(f, dir) match {
            // fork-free local walk (listFiles pays one `ls -ld`
            // subprocess per file on a non-native local FS)
            case Some(ls) => ls
            case None =>
              val it = f.listFiles(dir, true)
              val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
              while (it.hasNext) {
                val st = it.next()
                if (st.isFile && st.getPath.getName.endsWith(".parquet"))
                  buf += st.getPath
              }
              buf.toSeq
          }
          leaves.map { p =>
            val uri = p.toUri.toString
            val idx = uri.lastIndexOf(marker)
            if (idx < 0) return None // not under data/<gen>/: bail whole call
            p -> uri.substring(idx + 1)
          }
        }
      }
      val out = files.flatMap { case (p, rel) =>
        val footer = openFooter(p, conf)
        val blocks = footer.getBlocks.asScala.toSeq
        val n = blocks.map(_.getRowCount).sum
        // a 0-row part file produces NO row group for the scan path's
        // groupBy(input_file_name) to see, so the scan artifact omits it
        // entirely — omit it here too or the bit-identical contract breaks
        if (n == 0) None else {
        val ranges = statCols.zip(tags).map { case (k, tag) =>
          if (tag == "x") None
          else if (padMissingColumns &&
              blocks.forall(!_.getColumns.asScala.exists(_.getPath.toDotString == k)))
            None // pre-evolution file: column absent everywhere → no stats
          else {
            val chunks = blocks.map(b =>
              b.getColumns.asScala.find(_.getPath.toDotString == k)
                .getOrElse(return None))
            val stats = chunks.map(_.getStatistics)
            // exactness gate: every chunk must carry fully-set stats
            // (null count AND, when non-null rows exist, min/max)
            if (stats.exists(s => s == null || !s.isNumNullsSet)) return None
            val nulls = stats.map(_.getNumNulls).sum
            if (nulls > 0) None // scan path: any null key row → no stats
            else {
              if (stats.exists(s => !s.hasNonNullValue)) return None
              // merge across row groups with the column's own comparator
              val merged = stats.reduce { (a, b) =>
                a.asInstanceOf[org.apache.parquet.column.statistics.Statistics[_]]
                  .mergeStatistics(
                    b.asInstanceOf[org.apache.parquet.column.statistics.Statistics[_]])
                a
              }
              val primitive = chunks.head.getPrimitiveType.getPrimitiveTypeName
              // map (Spark dtype, parquet primitive) → the SAME normalized
              // value the scan path's zoneNormExpr produces; anything
              // unexpected bails the whole fast path
              def norm(v: Any): Option[Any] = (schema(k).dataType, primitive) match {
                case (BooleanType, BOOLEAN) =>
                  Some(if (v.asInstanceOf[Boolean]) 1L else 0L)
                case (ByteType | ShortType | IntegerType, INT32) =>
                  Some(v.asInstanceOf[Int].toLong)
                case (LongType, INT64) => Some(v.asInstanceOf[Long])
                case (DateType, INT32) => Some(v.asInstanceOf[Int]) // days, = unix_date
                case (TimestampType, INT64) if isMicrosTimestamp(chunks.head) =>
                  Some(v.asInstanceOf[Long]) // micros, = unix_micros
                case (FloatType, FLOAT) =>
                  val x = v.asInstanceOf[Float]
                  if (x.isNaN) None else Some(x)
                case (DoubleType, DOUBLE) =>
                  val x = v.asInstanceOf[Double]
                  if (x.isNaN) None else Some(x)
                case (StringType, BINARY) =>
                  Some(new String(
                    v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes, "UTF-8"))
                case (dt: DecimalType, prim) =>
                  // decimal min/max are exactly mappable: the stats value
                  // is the UNSCALED integer (INT32/INT64) or its
                  // big-endian two's-complement bytes (FLBA/BINARY);
                  // rescaling with the column's own annotation reproduces
                  // the scan path's java.math.BigDecimal toString form
                  chunks.head.getPrimitiveType.getLogicalTypeAnnotation match {
                    case d: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
                        if d.getScale == dt.scale =>
                      prim match {
                        case INT32 => Some(java.math.BigDecimal.valueOf(
                          v.asInstanceOf[Int].toLong, dt.scale))
                        case INT64 => Some(java.math.BigDecimal.valueOf(
                          v.asInstanceOf[Long], dt.scale))
                        case FIXED_LEN_BYTE_ARRAY | BINARY =>
                          Some(new java.math.BigDecimal(new java.math.BigInteger(
                            v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes),
                            dt.scale))
                        case _ => None
                      }
                    case _ => None // foreign scale/annotation: bail to scan
                  }
                case _ => None
              }
              (for {
                lo <- norm(merged.genericGetMin()).flatMap(renderZoneVal(tag, _))
                hi <- norm(merged.genericGetMax()).flatMap(renderZoneVal(tag, _))
              } yield (lo, hi)) match {
                case some @ Some(_) => some
                case None => return None // unmappable ≠ "no stats": bail
              }
            }
          }
        }
        Some((rel, n, ranges))
        }
      }
      Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Scan fallback of [[freshZoneStats]] for one generation dir — the
    * form ZoneStatsParitySpec pins against the footer path. */
  private[graft] def scanZoneStats(spark: SparkSession, gDir: Path, gName: String,
      statCols: Seq[String], schema: org.apache.spark.sql.types.StructType)
      : Seq[(String, Long, Seq[Option[(String, String)]])] =
    scanZoneStats(spark, Seq(gDir), statCols, schema)

  /** Scan fallback of [[freshZoneStats]] — one narrow aggregate over the
    * delta only (the pre-r14 path, and the semantics the footer path
    * must reproduce exactly). A stat column absent from `schema` (a
    * pre-evolution dir under purge) records no stats, as on the footer
    * path. */
  private def scanZoneStats(spark: SparkSession, dirs: Seq[Path],
      statCols: Seq[String], schema: org.apache.spark.sql.types.StructType)
      : Seq[(String, Long, Seq[Option[(String, String)]])] = {
    import org.apache.spark.sql.functions.{count => fCount, input_file_name, max => fMax, min => fMin}
    val tags = statCols.map(k =>
      schema.fields.find(_.name == k).map(f => zoneTag(f.dataType)).getOrElse("x"))
    val aggs = fCount(lit(1L)).as("__n") +:
      statCols.zip(tags).flatMap { case (k, tag) =>
        if (tag == "x") Nil
        else {
          val e = zoneNormExpr(schema(k).dataType, k)
          Seq(fMin(e).as(s"__min_$k"), fMax(e).as(s"__max_$k"),
            fCount(e).as(s"__nn_$k"))
        }
      }
    readUniform(spark, dirs.map(_.toString))
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        val rel = relOfDataUri(r.getAs[String]("__f"))
        val n = r.getAs[Long]("__n")
        val ranges = statCols.zip(tags).map { case (k, tag) =>
          if (tag == "x") None
          else if (r.getAs[Long](s"__nn_$k") < n) None // null keys present
          else for {
            lo <- renderZoneVal(tag, r.getAs[Any](s"__min_$k"))
            hi <- renderZoneVal(tag, r.getAs[Any](s"__max_$k"))
          } yield (lo, hi)
        }
        (rel, n, ranges)
      }
  }

  /** The committed version's zonemap, if any. */
  private[graft] def zoneManifest(spark: SparkSession, baseDir: String): Option[(Seq[String], Seq[String], Map[String, (Long, Seq[Option[(String, String)]])])] =
    currentRecord(spark, baseDir).flatMap(_.zones).map(z => (z.keys, z.tags, z.entries))

  /** Hash bucket of the merge key — pure function of the key columns, so
    * every merge agrees on each row's bucket regardless of layout. */
  private def bucketOf(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets)).cast("int")

  /** Delete `data/g*` directories no version directory references — the
    * orphan sweep. Runs at publish start (clears crashed staging, whose
    * version dirs were just pruned) and after retention (frees data only
    * aged-out versions referenced). Safe under the single-writer
    * assumption: nothing is mid-staging at either point. */
  private def gcDataDirs(f: FileSystem, base: Path): Unit =
    orphanDataDirs(f, base).foreach(p =>
      try { f.delete(p, true); () } catch { case _: Throwable => () })

  /** The data dirs the orphan sweep would reclaim RIGHT NOW — shared by
    * [[gcDataDirs]] (publish-time sweep) and the explicit [[vacuum]]
    * face. Empty on a partial manifest scan (deleting on incomplete
    * knowledge could sweep live generations — defer instead). */
  private def orphanDataDirs(f: FileSystem, base: Path): Seq[Path] = {
    val dataRoot = new Path(base, DataDirName)
    if (!f.exists(dataRoot)) return Nil
    // a LIVE claim's staging (data/g<n> or data/d<n>, named by the
    // claimed version) is a concurrent writer mid-publish, not garbage
    val now = System.currentTimeMillis()
    val staleMs = confMs(StaleClaimMsConf, DefaultStaleClaimMs)
    val liveClaims = listClaims(f, base).collect {
      case (v, m) if now - m <= staleMs => v
    }.toSet
    val vdirs = f.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
    // the scan reads OTHER writers' staging and retention's targets: any
    // per-dir read can lose its file mid-parse. An absent or torn record
    // is a version still staging (covered by the age horizon) or retired;
    // a THROWN read means `referenced` may be missing a committed
    // version's refs — deleting anything on a partial scan could sweep
    // live old generations, so the whole pass defers instead.
    var scanComplete = true
    val referenced = vdirs.flatMap { st =>
      val rec =
        try readCommit(f, st.getPath)
        catch { case scala.util.control.NonFatal(_) => scanComplete = false; None }
      // "data/gNNNNN/__gbucket=K[/file]" → shared granularity is the
      // g-dir; a dir lives while ANY version references it or a file in
      // it (file refs keep the whole dir — conservative, documented).
      // Merge-on-read overlays ("data/dNNNNN") are shared the same way.
      // External refs (shallow clones) live in ANOTHER table's tree —
      // they protect nothing here and this sweep can never reach them.
      rec.toSeq.flatMap(r => r.buckets.toSeq.flatMap(_._2.values.flatten) ++
        r.deltas.toSeq.flatMap(_._2))
        .filterNot(isExternalRef).map(_.split('/')(1))
    }.toSet
    f.listStatus(dataRoot).toSeq.flatMap { st =>
      val name = st.getPath.getName
      val claimedLive = name.drop(1).toLongOption.exists(liveClaims.contains)
      // age horizon (Iceberg/Delta orphan-cleanup discipline): our claim
      // listing and manifest scan are point-in-time reads, so a writer
      // that CLAIMED after the listing, or COMMITTED after the scan, owns
      // a dir this gc would misread as orphaned. Both leave a dir younger
      // than the stale-claim window, so a young dir is never deleted —
      // sweeping it is merely deferred to a gc that starts after the
      // horizon, when the manifests provably cover it. (Stores with no
      // real dir mtimes report 0 → "old" → the referenced/claims checks
      // alone decide, the pre-horizon behavior.)
      val young = now - st.getModificationTime <= staleMs
      if (scanComplete && !referenced.contains(name) && !claimedLive && !young)
        Some(st.getPath)
      else None
    }
  }

  /** Explicit orphan reclaim — the `VACUUM` face of the publish-time
    * sweep, for operators who want to SEE (and price) what a table is
    * leaking before anything is deleted. Returns one row per reclaimable
    * data directory: `path`, `bytes` (−1 when the store cannot summarize),
    * `reclaimed`. `dryRun = true` (default) deletes NOTHING; `false`
    * deletes exactly the listed dirs. Same safety envelope as the
    * automatic sweep: live claims, young dirs (the point-in-time-scan
    * horizon) and partially-scanned manifests are never touched, and a
    * shallow clone's borrowed (external) files are out of scope by
    * construction — they live in the source table's tree. O(metadata):
    * listings plus one content summary per orphan. */
  def vacuum(spark: SparkSession, baseDir: String,
      dryRun: Boolean = true): DataFrame = {
    import spark.implicits._
    val f = fs(spark, baseDir)
    val base = new Path(baseDir)
    val orphans = if (!f.exists(base)) Nil else orphanDataDirs(f, base)
    // `reclaimed` reports the ACTUAL per-directory delete outcome — a
    // swallowed delete failure must not claim space it did not free
    val rows = orphans.map { p =>
      val bytes =
        try f.getContentSummary(p).getLength
        catch { case scala.util.control.NonFatal(_) => -1L }
      val reclaimed = !dryRun && {
        try f.delete(p, true) || !f.exists(p)
        catch { case scala.util.control.NonFatal(_) => !f.exists(p) }
      }
      (p.toString, bytes, reclaimed)
    }
    rows.toDF("path", "bytes", "reclaimed")
  }

  // ------------------------------------------------------ integrity manifest

  /** Base-relative data-file inventory of a version: the version dir's own
    * files (flat), or every file of every bucket directory the record
    * references (bucketed). Listing-only — no contents read. Staged into
    * the record BEFORE the pointer flip, so every committed version
    * carries its own integrity record: a replicated or promoted version
    * is checked with [[validateCurrent]] — missing, truncated, or stray
    * data files (the classic partial-copy failure on object stores) are
    * detected from listings alone. */
  private def inventory(f: FileSystem, base: Path, vdir: Path,
      rec: Commit): Seq[(String, Long)] = {
    val baseFiles = rec.buckets match {
      case Some((_, entries)) =>
        entries.toSeq.sortBy(_._1).flatMap(_._2).flatMap { rel =>
          if (isFileRef(rel))
            Seq((rel, f.getFileStatus(resolveRef(base, rel)).getLen))
          else
            dataFiles(f, resolveRef(base, rel)).map { case (name, len) => (s"$rel/$name", len) }
        }
      case None => dataFiles(f, vdir)
    }
    val deltaFiles = rec.deltas.map(_._2).getOrElse(Nil).flatMap { rel =>
      dataFiles(f, resolveRef(base, rel)).map { case (name, len) => (s"$rel/$name", len) }
    }
    (baseFiles ++ deltaFiles).sortBy(_._1)
  }

  private def dataFiles(f: FileSystem, dir: Path): Seq[(String, Long)] =
    f.listStatus(dir).toSeq
      .filterNot(_.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen))
      .sortBy(_._1)

  /** True iff the committed version's data files exactly match its
    * record's inventory (same names, same byte lengths, nothing extra).
    * False when no version or no readable record exists. */
  def validateCurrent(spark: SparkSession, baseDir: String): Boolean =
    currentVersion(spark, baseDir).exists { v =>
      val f = fs(spark, baseDir)
      val base = new Path(baseDir)
      val dir = versionPath(base, v)
      readCommit(f, dir).exists { rec =>
        // a referenced dir/file that VANISHED (partial copy, swept source
        // of a shallow clone) is exactly the drift this check exists to
        // report — "invalid", never an exception out of the listing
        val actual =
          try Some(inventory(f, base, dir, rec))
          catch { case _: java.io.FileNotFoundException => None }
        actual.contains(rec.inventory)
      }
    }

  // --------------------------------------------------- operational metadata

  /** One row per RETAINED version, newest first — the `DESCRIBE HISTORY`
    * analog. Columns: `version`, `marker` (the full lineage marker,
    * `tag:batchId` suffix included), `layout` (`flat` / `bucketed` /
    * `bucketed+mor`), `num_buckets` (null for flat), `n_files`, `bytes`
    * (both from the record's inventory — listing-written at publish, so
    * no data is read here), `n_overlays`, `is_current`, `committed_at`.
    * O(metadata): a driver listing plus ≤`retain` small-file reads; the
    * result is a ≤`retain`-row local relation. A version retired between
    * the listing and its record read is not listed. Empty frame when the
    * table has never committed. */
  def history(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(spark, baseDir)
    val rows: Seq[(Long, String, String, Option[Int], Long, Long, Int, Boolean, Long)] =
      cur match {
        case None => Nil
        case Some(c) =>
          val f = fs(spark, baseDir)
          val base = new Path(baseDir)
          f.listStatus(base).toSeq
            .flatMap { st =>
              val n = st.getPath.getName
              // numeric parse, not a length check: fmtVersion pads to 5
              // digits but grows past it at version 100000, and history()
              // must keep listing what every other read path still sees
              if (st.isDirectory && n.startsWith("v"))
                n.drop(1).toLongOption.filter(_ <= c).map(_ -> st.getPath)
              else None
            }
            .sortBy(-_._1)
            .flatMap { case (v, vdir) =>
              // commit time = the record's staging stamp, milliseconds
              // before the pointer CAS; purge's in-place rewrite keeps it
              // (lineage contract) — the approximation Delta's timestamp
              // travel makes with its commit-file mtimes
              readCommit(f, vdir).map { rec =>
                val s = summary(rec)
                (v, s.marker, s.layout, s.numBuckets, s.nFiles, s.bytes,
                  s.nOverlays, v == c, rec.at)
              }
            }
      }
    rows.toDF("version", "marker", "layout", "num_buckets",
      "n_files", "bytes", "n_overlays", "is_current", "committed_at")
  }

  /** The per-version columns [[history]] and [[detail]] share. */
  private final case class Summary(marker: String, layout: String,
      numBuckets: Option[Int], nFiles: Long, bytes: Long, nOverlays: Int)

  private def summary(rec: Commit): Summary = {
    val overlays = rec.deltas.map(_._2.size).getOrElse(0)
    val layout = (rec.buckets, overlays) match {
      case (None, _) => "flat"
      case (Some(_), 0) => "bucketed"
      case (Some(_), _) => "bucketed+mor"
    }
    Summary(rec.marker.trim, layout, rec.buckets.map(_._1),
      rec.inventory.size.toLong, rec.inventory.map(_._2).sum, overlays)
  }

  /** One-row operational summary of the CURRENT version — the `DESCRIBE
    * DETAIL` analog, O(metadata) like [[history]] with three table-health
    * columns history cannot show: `n_external_refs` (borrowed files of a
    * shallow [[cloneTo]] — 0 means self-contained, anything else means
    * the table depends on its clone source until a compact localizes),
    * `renamed_columns`/`dropped_columns` (the live column mapping — a
    * nonzero dropped count means bytes are awaiting a reifying compact),
    * and the `pointer_store` the table's filesystem flips through. Empty
    * frame when the table has never committed. */
  def detail(spark: SparkSession, baseDir: String): DataFrame = {
    import spark.implicits._
    val rows: Seq[(Long, String, String, Option[Int], Long, Long, Int, Long,
        Seq[String], Seq[String], String)] =
      currentVersion(spark, baseDir).toSeq.map { c =>
        val f = fs(spark, baseDir)
        val rec = recordOf(f, versionPath(new Path(baseDir), c))
        val s = summary(rec)
        val nExternal =
          (rec.buckets.toSeq.flatMap(_._2.values.flatten) ++
            rec.deltas.toSeq.flatMap(_._2)).count(isExternalRef).toLong
        (c, s.marker, s.layout, s.numBuckets, s.nFiles, s.bytes, s.nOverlays,
          nExternal,
          rec.colMap.renames.toSeq.sortBy(_._1).map { case (p, l) => s"$p->$l" },
          rec.colMap.dropped.toSeq.sorted,
          pointerStoreFor(f, new Path(baseDir, PointerName)).name)
      }
    rows.toDF("version", "marker", "layout", "num_buckets", "n_files",
      "bytes", "n_overlays", "n_external_refs", "renamed_columns",
      "dropped_columns", "pointer_store")
  }

  /** Timestamp time travel (the Delta `TIMESTAMP AS OF` analog): the
    * NEWEST retained version whose commit time is ≤ `tsMillis` — commit
    * times come from [[history]]'s `committed_at` (record stamps), and
    * like Delta the choice takes the max VERSION among qualifying ones,
    * so a clock wobble between two adjacent commits cannot select a
    * version that an already-qualifying later version supersedes. None
    * when every retained version committed after `tsMillis` (the
    * requested instant predates retained history — resync/bootstrap
    * territory, same contract as a retired CDF from-side). */
  def versionAsOf(spark: SparkSession, baseDir: String, tsMillis: Long): Option[Long] = {
    val h = history(spark, baseDir)
      .select("version", "committed_at").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // committed_at == 0 is the unknown-commit-time sentinel (a record
    // staged without a stamp). Such a version must NOT
    // qualify — 0 would qualify for ANY timestamp, letting a ts that
    // predates all retained history resolve to it instead of returning
    // the contractual None (the resync signal).
    h.filter { case (_, at) => at > 0L && at <= tsMillis }.map(_._1).maxOption
  }

  /** [[versionAsOf]] composed with [[readVersion]]. */
  def readAsOf(spark: SparkSession, baseDir: String, tsMillis: Long): Option[DataFrame] =
    versionAsOf(spark, baseDir, tsMillis)
      .flatMap(v => readVersion(spark, baseDir, v))

  /** Roll the table back (or forward within retention) to `version` — the
    * Delta `RESTORE` analog. The restored state commits as a NEW version
    * (history moves forward; the bad versions stay diffable via
    * [[changes]] until retention ages them out), under the ordinary
    * single-file pointer flip, so readers see exactly the old or exactly
    * the restored state.
    *
    * Bucketed versions restore in O(metadata): the new version's record
    * REFERENCES the restored version's bucket (and overlay) data
    * directories via its copied sections — immutability makes the data
    * trivially shareable, and the orphan sweep keeps every directory a
    * retained manifest mentions. Flat versions are self-contained
    * directories, so their restore degrades to a republish of the frame
    * (O(table) — documented, not hidden). None when `version` is not
    * retained. */
  def restore(spark: SparkSession, baseDir: String, version: Long,
      marker: String = "restore", retain: Int = 2): Option[Long] = {
    require(retain >= 1, "retain must keep at least the current version")
    val current = currentVersion(spark, baseDir).getOrElse(-1L)
    retained(spark, baseDir, version).filter(_ => version <= current).map { src =>
      val restored = s"$marker:v$version"
      commit(spark, baseDir, current, Some(retain)) { (_, target) =>
        if (src.buckets.isDefined) src.derive(restored)
        else {
          frameOf(spark, baseDir, version, src).write.mode("overwrite")
            .parquet(target.toString)
          Commit(restored)
        }
      }
    }
  }

  /** Clone a snapshot table — the Delta `CLONE` / Iceberg snapshot-ref
    * analog, in both depths:
    *
    *  - '''Shallow (default)''': the new table's first version is a
    *    METADATA-ONLY copy. Its record's bucket and overlay sections
    *    reference the source version's data files through `ext:`-prefixed
    *    absolute URIs, and the zone/bloom sections carry over with
    *    re-keyed entries, so reads, key/value pruning, CDF diffs and
    *    file-carrying merges all work at full quality from second zero —
    *    O(metadata) regardless of table size, the instant dev/test/branch
    *    copy of a 100 TB table. Writes against the clone follow the
    *    copy-on-write discipline everywhere: a merge rewrites only
    *    touched buckets locally (untouched external refs carry), a
    *    [[compact]] fully localizes the table, and a [[purgeKeys]]
    *    rewrites affected files into the CLONE's own tree — the source
    *    table's bytes are never mutated through a clone.
    *
    *    CAVEATS (the same ones Delta documents for shallow clones): the
    *    clone remains valid only while the source's referenced data dirs
    *    live — the SOURCE table's retention/orphan-gc does not know about
    *    borrowers, so age-out there breaks the clone (loud: reads fail on
    *    missing files and [[validateCurrent]] reports the drift; compact
    *    the clone to sever the dependency before aging the source). And a
    *    GDPR purge of the CLONE erases only the clone's view — the
    *    source (and any other clone) must be purged separately.
    *
    *  - '''Deep (`deep = true`)''': byte-for-byte copy of exactly the
    *    files the source version references (not its whole history),
    *    executed as one DISTRIBUTED Spark job over the file list (the
    *    DistCp shape — O(bytes) spread across the cluster, never a
    *    driver-side loop), then committed locally with re-keyed
    *    manifests. Fully independent of the source from the first read;
    *    copy completeness is verified file-by-file (name + byte length)
    *    before the pointer commit.
    *
    * `version` picks a retained source version (time-travel clone);
    * default = current. The target must not be an existing table. The
    * clone's history starts fresh at its own v0 with marker
    * `clone:<src>@v<N>` — [[history]], [[changes]] and retention on the
    * clone are independent of the source's. Returns the committed
    * version number (0 for a fresh target).
    *
    * Shallow requires the bucketed layout (a flat version has no
    * manifest to borrow through — one [[mergeInto]] migrates it) and both
    * tables on the same filesystem; deep supports flat sources and any
    * same-scheme pair. */
  def cloneTo(spark: SparkSession, srcBase: String, dstBase: String,
      version: Option[Long] = None, deep: Boolean = false,
      marker: String = ""): Long = {
    val sf = fs(spark, srcBase)
    val df0 = fs(spark, dstBase)
    val src = new Path(srcBase)
    val dst = new Path(dstBase)
    require(sf.makeQualified(src) != df0.makeQualified(dst),
      "clone target must differ from the source")
    require(sf.getUri.getScheme == df0.getUri.getScheme,
      s"clone requires one filesystem: ${sf.getUri} vs ${df0.getUri}")
    val srcCur = currentVersion(spark, srcBase).getOrElse(
      sys.error(s"clone source $srcBase has no committed version"))
    val v = version.getOrElse(srcCur)
    require(v <= srcCur && sf.exists(versionPath(src, v)),
      s"clone source version $v of $srcBase is not retained (current $srcCur)")
    require(currentVersion(spark, dstBase).isEmpty,
      s"clone target $dstBase already has a committed version — " +
        "clone CREATES tables; merge/restore evolve them")
    val srcVdir = versionPath(src, v)
    val srcRec = recordOf(sf, srcVdir)
    val bucketsOpt = srcRec.buckets
    val deltasOpt = srcRec.deltas
    val cloneMarker = if (marker.nonEmpty) marker else s"clone:$srcBase@v$v"

    // the source record with every data ref remapped (old ref → new ref),
    // applied uniformly to the bucket/overlay sections and to the
    // zone/bloom sections' per-FILE entry keys (longest-prefix remap for
    // files living under a remapped dir ref); the column mapping travels
    // as is (no refs inside)
    def cloneRecord(refMap: Map[String, String]): Commit = {
      def km(key: String): String =
        refMap.getOrElse(key, refsNaming(key).find(refMap.contains)
          .map(o => refMap(o) + key.substring(o.length)).getOrElse(key))
      srcRec.derive(cloneMarker).copy(
        buckets = bucketsOpt.map { case (nb, entries) =>
          nb -> entries.map { case (b, rels) => b -> rels.map(refMap) } },
        deltas = deltasOpt.map { case (dkeys, overlays) => dkeys -> overlays.map(refMap) },
        zones = srcRec.zones.map(z =>
          z.copy(entries = z.entries.map { case (rel, e) => km(rel) -> e })),
        blooms = srcRec.blooms.map { case (bkeys, bm) =>
          bkeys -> bm.map { case (rel, b) => km(rel) -> b } })
    }

    if (!deep) {
      require(bucketsOpt.isDefined,
        s"shallow clone requires the bucketed layout, but $srcBase@v$v is " +
          "flat — one mergeInto migrates it (or pass deep = true)")
      // ext-ify: fully-qualified absolute URI into the source tree; a ref
      // that is ALREADY external (clone of a clone) stays one hop deep
      def extify(rel: String): String =
        if (isExternalRef(rel)) rel
        else ExtRefPrefix + sf.makeQualified(new Path(src, rel)).toString
      val allRefs = bucketsOpt.toSeq.flatMap(_._2.values.flatten) ++
        deltasOpt.toSeq.flatMap(_._2)
      val refMap = allRefs.distinct.map(r => r -> extify(r)).toMap
      commit(spark, dstBase, -1L, retain = None)((_, _) => cloneRecord(refMap))
    } else {
      // deep: one fresh local generation dir per distinct source ref,
      // preserving the ref's bucket tail so layout conventions carry
      val bucketRefs = bucketsOpt.toSeq.flatMap(_._2.values.flatten).distinct
      val overlayRefs = deltasOpt.toSeq.flatMap(_._2).distinct
      var gSeq = -1L
      def allocGen(prefix: Char): String = {
        gSeq += 1
        s"$prefix" + "%05d".formatLocal(java.util.Locale.ROOT, gSeq)
      }
      val refMap: Map[String, String] =
        (bucketRefs.map { r =>
          val tail = refTail(r)
          val gen = allocGen('g')
          val dir = if (tail.isEmpty) s"$DataDirName/$gen"
                    else s"$DataDirName/$gen/$tail"
          r -> (if (isFileRef(r)) s"$dir/${r.split('/').last}" else dir)
        } ++ overlayRefs.map(r => r -> s"$DataDirName/${allocGen('d')}")).toMap
      // expand refs to (srcFile, dstFile) pairs — driver does LISTINGS
      // only, all before the claim; the bytes move in one distributed job
      // below. A flat source's data files ARE its version dir's content
      // and land in the clone's (claimed) version dir.
      val flatFiles =
        if (bucketsOpt.isEmpty) dataFiles(sf, srcVdir).map(_._1) else Nil
      val refPairs: Seq[(String, String)] =
        refMap.toSeq.flatMap { case (o, n) =>
          val from = resolveRef(src, o)
          if (isFileRef(o)) Seq((from.toString, new Path(dst, n).toString))
          else dataFiles(sf, from).map { case (name, _) =>
            (new Path(from, name).toString, new Path(dst, s"$n/$name").toString)
          }
        }
      commit(spark, dstBase, -1L, retain = None) { (_, target) =>
        val pairs = refPairs ++ flatFiles.map(name =>
          (new Path(srcVdir, name).toString, new Path(target, name).toString))
        if (pairs.nonEmpty) {
          // serialize the Hadoop conf as plain pairs (Configuration is not
          // serializable); each task re-opens the filesystems it needs
          val confKv = {
            val it = spark.sparkContext.hadoopConfiguration.iterator()
            val b = Seq.newBuilder[(String, String)]
            while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
            b.result()
          }
          val slices = math.min(pairs.size,
            math.max(1, spark.sparkContext.defaultParallelism))
          spark.sparkContext.parallelize(pairs, slices).foreachPartition { it =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confKv.foreach { case (k, vl) => conf.set(k, vl) }
            it.foreach { case (s, d) =>
              val sp = new Path(s); val dp = new Path(d)
              val sfs = sp.getFileSystem(conf); val dfs = dp.getFileSystem(conf)
              mkdirsFast(dfs, dp.getParent)
              if (!org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
                  false, true, conf))
                sys.error(s"clone copy failed: $s -> $d")
            }
          }
        }
        // completeness fence before any commit: every pair landed with the
        // source's exact byte length (the classic partial-copy failure)
        pairs.foreach { case (s, d) =>
          val want = sf.getFileStatus(new Path(s)).getLen
          val got = try Some(df0.getFileStatus(new Path(d)).getLen)
                    catch { case _: java.io.FileNotFoundException => None }
          require(got.contains(want),
            s"deep clone incomplete: $d has $got bytes, want $want")
        }
        cloneRecord(refMap)
      }
    }
  }

  /** Rename columns as ONE metadata commit — no data rewritten, on a
    * 100 TB table exactly as cheap as on an empty one (the Delta
    * column-mapping `RENAME COLUMN`). A column's PHYSICAL parquet name is
    * frozen at birth; this commit only changes the per-version column
    * mapping that presents the logical view, so:
    *
    *  - every retained version keeps ITS OWN names under time travel
    *    (reading v_old shows the old names);
    *  - [[changes]]/CDF across the rename boundary keeps working — the
    *    from-side is presented through the to-side's view;
    *  - merge keys, zone pruning, blooms and purge all keep working (they
    *    speak physical names internally, translated at the API boundary);
    *  - the next [[compact]] NORMALIZES the layout (physical := logical).
    *
    * `renames` maps current logical names to new ones; swaps and chains
    * are applied simultaneously over the current view. Key columns may be
    * renamed freely — later calls just pass the new names. Retention is
    * deliberately not applied (a metadata commit must never age out
    * history). Returns the committed version. */
  def renameColumns(spark: SparkSession, baseDir: String,
      renames: Map[String, String], marker: String = "rename-columns"): Long = {
    require(renames.nonEmpty, "renameColumns needs at least one mapping")
    val (basis, rec) = colMapBasis(spark, baseDir)
    val cm0 = rec.colMap
    val raw = rawFrame(spark, new Path(baseDir), versionPath(new Path(baseDir), basis), rec)
    val logical = presentLogical(raw, cm0).columns.toSeq
    renames.keys.foreach(k => require(logical.contains(k),
      s"unknown column $k (have ${logical.mkString(", ")})"))
    renames.values.foreach { n =>
      require(n.nonEmpty && !n.exists(ch => ch == ':' || ch == ',' || ch == '\n'),
        s"invalid column name '$n'")
      require(!n.startsWith("__"), s"column name '$n' is reserved")
    }
    val newLogical = logical.map(c => renames.getOrElse(c, c))
    require(newLogical.distinct.size == newLogical.size,
      s"renames collide: resulting columns ${newLogical.mkString(", ")}")
    val live = raw.columns.toSeq.filterNot(cm0.dropped.contains)
    val newRenames = live.flatMap { ph =>
      val l1 = renames.getOrElse(cm0.toLogical(ph), cm0.toLogical(ph))
      if (l1 != ph) Some(ph -> l1) else None
    }.toMap
    commitColMap(spark, baseDir, basis, rec,
      ColMap(newRenames, cm0.dropped, cm0.origin), marker)
  }

  /** Drop columns as ONE metadata commit — the view-level half of the
    * Delta `DROP COLUMN` contract. The columns vanish from every read of
    * this and later versions, but their BYTES remain in the data files
    * until the next [[compact]] physically reifies the drop — so for a
    * compliance-grade erasure of the column's values, follow with a
    * compact (the row-level analog of [[purgeKeys]]'s in-place rewrite).
    * Dropping a column frees its LOGICAL name immediately, but its
    * physical slot stays occupied until that compact (re-adding a
    * same-named column before then is refused loudly). Returns the
    * committed version. */
  def dropColumns(spark: SparkSession, baseDir: String, cols: Seq[String],
      marker: String = "drop-columns"): Long = {
    require(cols.nonEmpty, "dropColumns needs at least one column")
    val (basis, rec) = colMapBasis(spark, baseDir)
    val cm0 = rec.colMap
    val logical = frameOf(spark, baseDir, basis, rec).columns.toSeq
    cols.foreach(c => require(logical.contains(c),
      s"unknown column $c (have ${logical.mkString(", ")})"))
    require((logical.toSet -- cols).nonEmpty, "cannot drop every column")
    val physDropped = cols.map(cm0.toPhysical).toSet
    commitColMap(spark, baseDir, basis, rec,
      ColMap(cm0.renames.filterNot { case (ph, _) => physDropped.contains(ph) },
        cm0.dropped ++ physDropped, cm0.origin), marker)
  }

  /** The current version and its record — the one record read of a
    * column-mapping commit. */
  private def colMapBasis(spark: SparkSession, baseDir: String): (Long, Commit) = {
    val basis = currentVersion(spark, baseDir).getOrElse(
      sys.error(s"$baseDir has no committed version"))
    (basis, recordOf(fs(spark, baseDir), versionPath(new Path(baseDir), basis)))
  }

  /** Shared metadata commit of a new column mapping: every data and
    * pruning section of the basis record `src` carries verbatim (nothing
    * about the FILES changed), CAS-pinned to the basis. */
  private def commitColMap(spark: SparkSession, baseDir: String, basis: Long,
      src: Commit, newCm: ColMap, marker: String): Long = {
    require(src.buckets.isDefined,
      "column mapping requires the bucketed layout — one mergeInto migrates " +
        "a flat table")
    commit(spark, baseDir, basis, retain = None)((_, _) =>
      src.derive(marker).copy(colMap = newCm))
  }

  /** Right-to-be-forgotten: physically remove every row matching
    * `keyRows` from EVERY retained version — current, history, and
    * merge-on-read overlays — the GDPR purge production table formats
    * pair with their time travel (without it, "deleted" subjects live on
    * in every retained snapshot and in [[readVersion]]).
    *
    * Unlike every other write in this layer, purge edits committed
    * versions IN PLACE — that is the operation's nature: history itself
    * must forget. Everything else about the layer's discipline is kept:
    *
    *  - '''O(affected files), zone/hash-pruned.''' Only bucket dirs the
    *    purge keys HASH into are probed (per bucket-count generation),
    *    each probe is one pushed-down point lookup, and a shared data dir
    *    referenced by several versions is probed and rewritten ONCE (the
    *    memo) — cost scales with key spread, never with table × history.
    *  - '''Reader atomicity per version.''' Each updated version's
    *    whole record (refs, zones, blooms and inventory together) swaps
    *    in ONE tmp + rename(OVERWRITE), the `_CURRENT` pointer's
    *    primitive. Old data dirs are NOT deleted here — a reader that
    *    resolved the old record keeps a complete input for its whole
    *    query; the next publish's orphan sweep reclaims them. Fresh stats
    *    are regenerated for rewritten dirs so pruning quality survives
    *    the purge.
    *  - '''Fail fast, mutate late.''' Flat (pre-bucketed) retained
    *    versions are self-contained and cannot be swapped atomically, so
    *    a purge key found in one raises BEFORE anything is rewritten —
    *    one [[mergeInto]] migrates the layout.
    *
    * Multi-file clustered bucket dirs collapse to one file on rewrite
    * (zones regenerated accordingly); markers and commit times are left
    * untouched so streaming replay and time travel survive. Returns the number
    * of data/overlay dirs rewritten. A crash mid-purge leaves some
    * versions updated and others not — rerunning the same purge completes
    * the erasure (the batched probe finds only the remaining matches, and
    * already-clean dirs are left untouched). */
  def purgeKeys(spark: SparkSession, baseDir: String, keys: Seq[String],
      keyRows: Seq[Seq[Any]], marker: String = "purge-commit",
      retractUnmatched: Boolean = false): Int = {
    // Purge-vs-PURGE exclusion (r14): the CAS protocol below linearizes
    // this purge against MERGES, but a concurrent purge's in-place pass
    // races this one's manifest read-modify-writes and `data/p*` name
    // allocation — silently undoing erasures (see PurgeLockName). The
    // whole operation therefore holds the per-table fenced purge lock,
    // heartbeated per pass so a live long pass is never stale-broken.
    val fLock = fs(spark, baseDir)
    val basePath = new Path(baseDir)
    if (!fLock.exists(basePath)) return 0
    val purgeLock = new Path(basePath, PurgeLockName)
    val lockStale = confMs(PurgeLockStaleMsConf, DefaultPurgeLockStaleMs)
    val lockToken = acquireFencedLock(fLock, purgeLock, lockStale,
      deadlineMs = math.max(60000L, 2 * lockStale), what = "purge")
    try {
    // Linearization loop (r13). The in-place pass alone is NOT safe
    // against concurrent writers: a merge that CLAIMED and staged before
    // this purge (its staged files were rewritten from pre-purge reads)
    // but COMMITS after it passes its CAS — the pointer never moved — and
    // republishes the purged subject into the new current ("resurrection":
    // both operations report success, the erasure silently fails). So a
    // pass that rewrote anything must LINEARIZE: commit a zero-copy
    // republish of the purged current ([[purgeCommit]]) through the same
    // claim + CAS protocol writers use, pinned to the exact version the
    // pass processed. Any straddling writer then loses its CAS and
    // retries against the purged manifests; any writer that committed
    // mid-pass moves the pointer first, which sends THIS loop back around
    // to purge the interloper's version too. Bounded optimistic attempts,
    // then ESCALATION under the commit lock (below): sustained contention
    // costs writers a short stall, never the erasure.
    var total = 0
    var attempts = 8
    while (attempts > 0) {
      // heartbeat: a live purge must never look stale to the next purge
      heartbeatFencedLock(fLock, purgeLock, lockToken, "purge")
      attempts -= 1
      val basis = currentVersion(spark, baseDir) match {
        case Some(v) => v
        case None => return total
      }
      // a version listed at pass start can be retired by a concurrent
      // writer's retention MID-pass, failing its in-place rewrite in
      // collateral ways (missing dirs/sidecars). When the pointer moved
      // off the basis, any pass failure is presumed such collateral and
      // the loop re-passes over the fresh listing (consuming an
      // attempt); with the pointer unmoved the fault is real and
      // propagates — same reasoning as purgeCommit's withBasis guard
      total +=
        (try purgeKeysPass(spark, baseDir, keys, keyRows,
          heartbeat = () => heartbeatFencedLock(fLock, purgeLock, lockToken, "purge"))
        catch {
          // lock loss must propagate (re-passing without the exclusion it
          // assumes IS the purge-vs-purge race), and so must fatal errors
          // (OOM, interrupt, linkage) — only NON-fatal collateral of a
          // moved pointer is absorbable
          case e: FencedLockLost => throw e
          case scala.util.control.NonFatal(_)
              if currentVersion(spark, baseDir).getOrElse(-1L) != basis => 0
        })
      val now = currentVersion(spark, baseDir).getOrElse(-1L)
      if (now == basis) {
        // nothing ever matched and nobody interfered: no copy of the
        // subject exists anywhere a straddling writer could have read,
        // so BY DEFAULT no linearization commit happens and no _PURGED
        // retraction is recorded. `retractUnmatched` opts into a
        // retraction-only bump for that case: a downstream CDF consumer
        // may have ingested the subject before an ordinary upstream
        // delete removed it from this table, and without a retraction
        // row the erasure signal never propagates to it
        if (total == 0 && !retractUnmatched) return 0
        // withBasis: concurrent retention can retire the basis mid-commit,
        // making sidecar reads fail in collateral ways — report those as
        // the retryable conflict they are, so the loop re-passes instead
        // of failing a compliance erasure hard
        try {
          // re-verify purge-lock ownership as the last act before the
          // linearization commit: a zombie that lost the lock mid-pass
          // must abort here, not publish over the breaker's passes
          heartbeatFencedLock(fLock, purgeLock, lockToken, "purge")
          withBasis(spark, baseDir, basis) {
            purgeCommit(spark, baseDir, basis, marker, keys, keyRows)
          }
          return total
        }
        catch { case _: ConcurrentSnapshotUpdate => () } // writer won: re-pass
      }
      // pointer moved mid-pass (or the bump lost the CAS): the
      // interloper's version may reference pre-purge files — run another
      // pass over the fresh listing
    }
    // ESCALATION (r14): the optimistic attempts are exhausted — writers
    // are committing faster than passes complete, and an erasure that
    // errors out under routine load is not a compliance story (at
    // 1000 executors the writers never quiesce). Take the COMMIT lock
    // itself for one final round: no writer can flip the pointer while
    // it is held, so the pass runs against a frozen current and the
    // linearization commit cannot lose its CAS. Writers block on the
    // lock for the (bounded) escalated round — already-purged versions
    // re-probe to nothing, so the round covers only the interlopers'
    // recent versions; a rare seconds-long writer stall is the price of
    // a purge that always lands. Lock order is strictly purge-lock →
    // commit-lock (writers take only the commit lock): no cycle.
    heartbeatFencedLock(fLock, purgeLock, lockToken, "purge")
    val commitLock = new Path(basePath, CommitLockName)
    val cStale = confMs(CommitLockStaleMsConf, DefaultCommitLockStaleMs)
    val cTok = acquireFencedLock(fLock, commitLock, cStale,
      deadlineMs = math.max(30000L, 2 * cStale),
      what = "snapshot commit (purge escalation)")
    try {
      val basis = currentVersion(spark, baseDir) match {
        case Some(v) => v
        case None => return total
      }
      // the escalated pass runs under BOTH locks — heartbeat both.
      // DefaultCommitLockStaleMs (60 s) is shorter than a large table's
      // pass, so a purge-lock-only heartbeat would get the commit lock
      // stale-broken by the blocked writers mid-pass, a writer would
      // commit a pre-purge-staged version, and the final commit would
      // fence-fail — the escalation erroring under exactly the sustained
      // contention it exists to survive
      val bothLocks = () => {
        heartbeatFencedLock(fLock, purgeLock, lockToken, "purge")
        heartbeatFencedLock(fLock, commitLock, cTok,
          "snapshot commit (purge escalation)")
      }
      total += purgeKeysPass(spark, baseDir, keys, keyRows,
        heartbeat = bothLocks)
      if (total == 0 && !retractUnmatched) return 0
      // last-act ownership proof on both locks before the commit
      bothLocks()
      withBasis(spark, baseDir, basis) {
        purgeCommit(spark, baseDir, basis, marker, keys, keyRows,
          heldLockToken = Some(cTok))
      }
      total
    } finally releaseFencedLock(fLock, commitLock, cTok)
    } finally releaseFencedLock(fLock, purgeLock, lockToken)
  }

  /** The purge linearization commit: republish version `basis`'s (just
    * purged in place) metadata as the next version, zero data copied,
    * CAS-pinned to `basis` itself — NOT to a re-read pointer, which could
    * have moved to an unpurged interloper. Retention is intentionally not
    * applied: purge must never age out history. */
  private def purgeCommit(spark: SparkSession, baseDir: String, basis: Long,
      marker: String, keys: Seq[String], keyRows: Seq[Seq[Any]],
      heldLockToken: Option[String] = None): Long = {
    val src = recordOf(fs(spark, baseDir), versionPath(new Path(baseDir), basis))
    // retraction dir content: the purged key tuples, typed with the
    // table's key schema (see [[purgedKeys]]). Written into the bump
    // version so the erasure has a CDF-consumable record — the in-place
    // pass removes the rows from BOTH sides of any version diff, so
    // without this a downstream consumer that already ingested the
    // subject would hold it forever.
    def writePurged(target: Path): Unit = {
      // retraction dirs are at-rest artifacts: PHYSICAL key names,
      // dtypes from the logical view (renames never change a type)
      val curSchema = frameOf(spark, baseDir, basis, src).schema
      val keySchema = org.apache.spark.sql.types.StructType(
        keys.map(k => curSchema(k).copy(name = src.colMap.toPhysical(k))))
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
          keyRows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, keySchema)
        .coalesce(1).write.mode("overwrite")
        .parquet(new Path(target, PurgedName).toString)
    }
    // LINEAGE PRESERVATION: overwriting a streaming lineage marker
    // ("tag:batchId") with the purge marker would make lastApplied
    // report "none" on restart, so a re-delivered batch would RE-APPLY —
    // and a re-applied batch can carry the purged subject, silently
    // undoing the erasure this commit exists to linearize. When the
    // basis marker parses as lineage it is carried VERBATIM (replay
    // skip intact); purge identity then lives in the record's retraction
    // dir, which is what purgedKeys/changesWithPurges key on anyway.
    val outMarker = {
      val m = src.marker.trim
      val cut = m.lastIndexOf(':')
      if (cut >= 0 && m.substring(cut + 1).toLongOption.isDefined) m
      else s"$marker:v$basis"
    }
    // flat current (possible when the matches lived only in older
    // bucketed versions): a flat dir is self-contained, so the bump is a
    // full republish under the logical names — rare shape, priced
    // accordingly. Either way the retraction dir is staged BEFORE the
    // pointer flip: a purge commit never exists without its record of
    // what it erased.
    val flat = src.buckets.isEmpty
    commit(spark, baseDir, basis, retain = None, heldLockToken) { (_, target) =>
      if (flat)
        frameOf(spark, baseDir, basis, src).write.mode("overwrite").parquet(target.toString)
      writePurged(target)
      (if (flat) Commit(outMarker) else src.derive(outMarker)).copy(purged = true)
    }
  }

  /** The key tuples a purge's linearization commit erased — the
    * retraction record [[changesWithPurges]] folds into the change feed.
    * None when `version` is not retained or is not a purge commit.
    * Carries the REQUESTED subjects of that COMMITTED purge
    * (conservative within a commit: a subject that matched nothing
    * still yields a retraction row when ANY subject of the same call
    * matched — forgetting a key you never held is a no-op downstream).
    * A [[purgeKeys]] call whose subjects ALL matched nothing commits no
    * bump at all by default, so no retraction record exists for it —
    * pass `retractUnmatched = true` when downstream erasure signals
    * must propagate even for subjects this table no longer (or never)
    * held, e.g. a subject an ordinary upstream delete removed before
    * the GDPR request arrived but which a CDF consumer ingested. */
  def purgedKeys(spark: SparkSession, baseDir: String, version: Long): Option[DataFrame] =
    retained(spark, baseDir, version).filter(_.purged).map { rec =>
      val p = new Path(versionPath(new Path(baseDir), version), PurgedName)
      presentLogical(readUniform(spark, Seq(p.toString)), rec.colMap)
    }

  /** [[changes]] plus purge retractions: the row diff of the two
    * versions, UNIONed with one `op = "purge"` row (key columns set,
    * value columns null — the erased values are gone by design) for
    * every subject of every purge commit in `(fromVersion, toVersion]`.
    *
    * Why the plain diff cannot see them: purge rewrites BOTH endpoint
    * versions in place, so an erased subject vanishes from both sides of
    * the full-outer join and the feed is silent — a downstream consumer
    * that ingested the subject before the purge would retain it forever,
    * defeating the erasure. Consumption contract: apply the purge
    * retractions FIRST (forget the key wholesale), then the diff rows —
    * a subject legitimately re-inserted after the purge appears as a
    * normal insert/update row and survives. */
  def changesWithPurges(spark: SparkSession, baseDir: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String]): Option[DataFrame] =
    withRetractions(spark, baseDir, fromVersion, toVersion, keys)(
      changes(spark, baseDir, fromVersion, toVersion, keys))

  /** [[changesWithPurges]] restricted by value-range predicates on the
    * DIFF rows (the zone-pruned [[changes]] overload) — purge
    * retractions are deliberately NOT filtered: a purged subject's
    * values are gone by design, so a range can never be evaluated
    * against them, and an erasure signal filtered out of a compliance
    * feed would be silently dropped. A range-keyed consumer treats any
    * retraction conservatively (drop the key if held). */
  def changesWithPurges(spark: SparkSession, baseDir: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String],
      ranges: Map[String, (Option[Any], Option[Any])]): Option[DataFrame] =
    withRetractions(spark, baseDir, fromVersion, toVersion, keys)(
      changes(spark, baseDir, fromVersion, toVersion, keys, ranges))

  /** [[changesPrePost]] plus purge retractions — the purge-aware face of
    * the retraction-IVM feed. Same `op = "purge"` rows as
    * [[changesWithPurges]] (keys set, values null): a keyed mart drops
    * the key outright; an AGGREGATED consumer cannot subtract an erased
    * preimage (the values are gone by design) and must recompute the
    * affected groups or full-refresh — the same contract Delta's CDF has
    * after a VACUUM passes the retention horizon. */
  def changesPrePostWithPurges(spark: SparkSession, baseDir: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String]): Option[DataFrame] =
    withRetractions(spark, baseDir, fromVersion, toVersion, keys)(
      changesPrePost(spark, baseDir, fromVersion, toVersion, keys))

  /** `feed` UNIONed with the purge retraction rows of `(fromVersion,
    * toVersion]` — the shared body of the `*WithPurges` feeds. None when
    * the range's retraction info was retired. */
  private def withRetractions(spark: SparkSession, baseDir: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String])
      (feed: => Option[DataFrame]): Option[DataFrame] =
    try feed.map { diff =>
      purgeRetractionRows(spark, baseDir, fromVersion, toVersion, keys,
        diff.schema).map(diff.unionByName).getOrElse(diff)
    } catch { case _: CdfHorizonLost => None }

  // ------------------------------------------------- streaming CDF source

  private val CdfOffsetName = "_CDF_OFFSET" // durable last-delivered version
  private val CdfLockName = "_CDF_LOCK"     // one drain per checkpoint at a time
  // the source colmap whose LOGICAL view the replica currently speaks —
  // replicateTo's durable schema position (survives checkpoint loss with
  // the replica itself; rewritten only when the source view drifts)
  private val ReplicaSrcMapName = "_REPLICA_SRCMAP"

  /** Tail a snapshot table's version history as a STREAM of row-level
    * changes — the `readChangeFeed` streaming-source analog, and the
    * read-side twin of [[mergeSink]]/[[deltaSink]]. Each call drains to
    * quiescence (`Trigger.AvailableNow` semantics): while the pointer is
    * ahead of the durable offset, the next micro-batch is the CDF of
    * `(last, min(last + maxVersionsPerBatch, current)]` — purge
    * retractions included via [[changesWithPurges]] — handed to `body`
    * as a LAZY, fully-distributed DataFrame (nothing is collected
    * driver-side; at 100 TB the per-batch cost is one endpoint diff,
    * zone/bucket-pruned, regardless of how many intermediate versions
    * the range spans, because [[changes]] diffs the range's ENDPOINT
    * frames — intermediate versions may even be retired already).
    *
    * Offsets: `<checkpoint>/_CDF_OFFSET` holds the last DELIVERED
    * version and advances only after `body` returns, so a crash between
    * the two re-delivers that batch on restart — at-least-once,
    * effectively-once for idempotent/upserting handlers: exactly
    * Structured Streaming's foreachBatch contract, and the same lineage
    * discipline the write-side sinks use (`tag:batchId` markers). One
    * consumer per checkpoint, as with any streaming query — ENFORCED by
    * a fenced heartbeated drain lock: concurrent drains serialize, the
    * loser wakes to the winner's advanced offset and delivers nothing.
    *
    * Column renames and the stream: each batch interprets `keys` in its
    * TO version's logical view (diffs therefore span rename boundaries of
    * NON-key columns transparently — the batch simply arrives under the
    * new names). Renaming a KEY column mid-stream fails the next drain
    * loudly (the old key name no longer resolves); the offset is not
    * advanced, so the consumer restarts the drain with the new key name
    * and loses nothing.
    *
    * Bootstrap: with no prior offset the stream starts at
    * `startVersion` (the version the consumer batch-bootstrapped from)
    * or, absent that, at the CURRENT version — future changes only. A
    * range whose from-side fell past the retention horizon raises an
    * explicit resync signal (mirroring the batch feed's `None`
    * contract): the consumer must re-bootstrap from a batch read, never
    * silently skip an erasure. Size retention generously against the
    * slowest consumer's lag — the Delta/vacuum deployment rule.
    *
    * Returns the number of micro-batches delivered this drain. */
  def changesStream(spark: SparkSession, baseDir: String, keys: Seq[String],
      checkpoint: String, startVersion: Option[Long] = None,
      maxVersionsPerBatch: Long = 1L, includePurges: Boolean = true,
      ranges: Map[String, (Option[Any], Option[Any])] = Map.empty)
      (body: (DataFrame, Long, Long) => Unit): Long = {
    require(maxVersionsPerBatch >= 1L, "a micro-batch spans at least one version")
    val f = fs(spark, checkpoint)
    val ckpt = new Path(checkpoint)
    mkdirsFast(f, ckpt)
    // one consumer per checkpoint is the streaming contract; ENFORCE it —
    // two concurrent drains would both read the same offset and deliver
    // the same batch twice in parallel (a double-apply even an
    // idempotent-per-batch handler cannot dedupe while both are mid-
    // flight). Same fenced + heartbeated discipline as the purge lock;
    // a crashed drain's lock goes stale and the next drain breaks it.
    val drainLock = new Path(ckpt, CdfLockName)
    val lockStale = confMs(PurgeLockStaleMsConf, DefaultPurgeLockStaleMs)
    val lockToken = acquireFencedLock(f, drainLock, lockStale,
      deadlineMs = math.max(60000L, 2 * lockStale), what = "CDF drain")
    try {
    val off = new Path(ckpt, CdfOffsetName)
    def readOffset(): Option[Long] =
      if (!f.exists(off)) None
      else readSmallFile(f, off).trim.toLongOption
    var last: Long = readOffset().getOrElse {
      val start = startVersion
        .orElse(currentVersion(spark, baseDir))
        .getOrElse(throw new IllegalStateException(
          s"cannot start a CDF stream on $baseDir: no committed version " +
            "and no explicit startVersion"))
      // record the bootstrap durably before delivering anything, so a
      // crash right here restarts from the same position
      atomicOverwrite(spark, f, off, start.toString)
      start
    }
    var delivered = 0L
    var cur = currentVersion(spark, baseDir).getOrElse(last)
    while (last < cur) {
      val to = math.min(last + maxVersionsPerBatch, cur)
      // `ranges` makes this a PREDICATED feed (a filtered-mart consumer
      // reads only zone-surviving files per batch); purge retractions
      // still flow unfiltered — see the predicated changesWithPurges
      val feed =
        ((includePurges, ranges.isEmpty) match {
          case (true, true) => changesWithPurges(spark, baseDir, last, to, keys)
          case (true, false) => changesWithPurges(spark, baseDir, last, to, keys, ranges)
          case (false, true) => changes(spark, baseDir, last, to, keys)
          case (false, false) => changes(spark, baseDir, last, to, keys, ranges)
        })
          .getOrElse(throw new CdfHorizonLost(baseDir, last, to))
      body(feed, last, to)
      // re-prove drain ownership before acking: a zombie drain whose lock
      // was stale-broken must not advance the successor's offset
      heartbeatFencedLock(f, drainLock, lockToken, "CDF drain")
      // the offset advances only AFTER the handler returns (see scaladoc)
      atomicOverwrite(spark, f, off, to.toString)
      last = to
      delivered += 1
      cur = currentVersion(spark, baseDir).getOrElse(cur)
    }
    delivered
    } finally releaseFencedLock(f, drainLock, lockToken)
  }

  /** One-call incremental replication of a snapshot table — the
    * DR-mirror / downstream-mart primitive packaged from the CDF stream:
    * each call bootstraps the target from the source's current version if
    * it has never replicated, then drains every newer source version as
    * one endpoint-diff micro-batch applied to the target via MERGE
    * (upserts + deletes; purge retractions arrive as deletes, so an
    * erasure reaches the replica's CURRENT state on the very next sync).
    * Effectively-once under crash/restart: the drain rides
    * [[changesStream]]'s durable offset and batch-atomic merges, and
    * re-delivered batches are content-idempotent. Returns the number of
    * batches applied (0 = already in sync).
    *
    * Scale shape: bootstrap is one O(table) merge; every later call is
    * O(changed rows since the last sync) regardless of table size — the
    * replica never rescans the source. Schedule it like any maintenance
    * tick; run the target's own [[compact]]/retention on its own cadence.
    *
    * Compliance note: a source purge deletes the subject from the
    * replica's current state, but the REPLICA's retained history and the
    * replica's own time travel keep their copies until its retention ages
    * them out — for a full downstream erasure run [[purgeKeys]] on the
    * replica too (the same contract as any CDF consumer).
    *
    * Source column renames/drops propagate AUTOMATICALLY
    * (`propagateSchema`, default on): the replica records the source
    * colmap whose logical view it currently speaks (`_REPLICA_SRCMAP`,
    * updated only when it changes — zero cost on the steady path), and a
    * sync whose feed arrives under new names first applies the same
    * metadata-only [[renameColumns]]/[[dropColumns]] to the replica.
    * Renaming a KEY column still fails loudly (the caller's `keys` no
    * longer resolve — restart with the new key names); pass
    * `propagateSchema = false` for the historical loud behavior on any
    * schema drift.
    *
    * A sync window that fell past the source's retention horizon raises
    * [[CdfHorizonLost]] (the replica lagged behind retention). With
    * `resyncOnHorizonLoss = true` the call instead REBASES the replica:
    * one full-sync merge of the source's current version (upsert all +
    * delete unmatched — erasures still land, through the rebase rather
    * than a retraction) and the tail resumes from there. Off by default:
    * a rebase is O(table), and a silent one would hide that the
    * replica's cadence lost to retention. */
  def replicateTo(spark: SparkSession, srcBase: String, dstBase: String,
      keys: Seq[String], checkpoint: String, retain: Int = 2,
      numBuckets: Int = 32, maxVersionsPerBatch: Long = 1L,
      propagateSchema: Boolean = true,
      resyncOnHorizonLoss: Boolean = false): Long = {
    val ckptF = fs(spark, checkpoint)
    val offPath = new Path(new Path(checkpoint), CdfOffsetName)
    val dstF = fs(spark, dstBase)
    val srcMapPath = new Path(new Path(dstBase), ReplicaSrcMapName)
    def spokenMap(): ColMap =
      if (!dstF.exists(srcMapPath)) IdentityColMap
      else parseColMapContent(readSmallFile(dstF, srcMapPath),
        srcMapPath.toString)
    def recordSpoken(cm: ColMap): Unit =
      atomicOverwrite(spark, dstF, srcMapPath, serializeColMap(cm))
    // a RETIRED source version has no record, so its colmap read fails
    // THIS sync attempt retryably — it can never read as identity and
    // poison the recorded spoken view, which would lose a rename forever
    // (the r17 replica-storm fuzz failure)
    // apply the source's rename/drop drift (spoken view → view at `toV`)
    // to the replica as the same metadata-only commits, stamped with the
    // batch START so a crash mid-propagation replays idempotently (the
    // replica-has-from / lacks-to guards absorb the replay)
    def propagate(fromStamp: Long, toV: Long): Unit = {
      val spoken = spokenMap()
      val cmTo = colMapOf(spark, srcBase, toV)
      if (spoken != cmTo) {
        if (currentVersion(spark, dstBase).nonEmpty) {
          // spoken-physical → to-logical, joined on birth identity (exact
          // across source normalize-compacts); the replica's columns are
          // the SPOKEN-logical names, so each fate maps through both
          val composed = composeColMaps(spoken, cmTo)
          val cols0 = read(spark, dstBase).get.columns.toSet
          val drops = composed.dropped.toSeq
            .map(spoken.toLogical).filter(cols0.contains)
          if (drops.nonEmpty)
            dropColumns(spark, dstBase, drops,
              marker = s"replicate-schema-v$fromStamp")
          val cols = cols0 -- drops
          // rename diff over BIRTH identity — deliberately NOT
          // composed.renames: composeColMaps presents PHYSICAL frames, so
          // it (correctly, for its other callers) omits entries whose
          // to-logical equals the spoken-physical name. That omission is
          // exactly the rename-BACK case (tag→tag2 then tag2→tag: the
          // source colmap returns to identity), which left the replica
          // speaking the OLD name while recordSpoken stamped the new view
          // — a permanently poisoned spoken map the r17 replica-storm
          // fuzz caught as a lost rename at quiesce.
          val cands = spoken.renames.keySet ++ spoken.origin.keySet ++
            (cmTo.renames.keySet ++ cmTo.origin.keySet)
              .map(q => spoken.physOfBirth(cmTo.originOf(q)))
          val renames = cands.toSeq.sorted.flatMap { p =>
            val q = cmTo.physOfBirth(spoken.originOf(p))
            if (cmTo.dropped.contains(q) || spoken.dropped.contains(p)) None
            else {
              val a = spoken.toLogical(p)
              val b = cmTo.toLogical(q)
              if (a != b && cols.contains(a) && !cols.contains(b))
                Some(a -> b)
              else None
            }
          }.toMap
          if (renames.nonEmpty)
            renameColumns(spark, dstBase, renames,
              marker = s"replicate-schema-v$fromStamp")
        }
        recordSpoken(cmTo)
      }
    }
    val hasOffset = ckptF.exists(offPath)
    // every replica commit's marker records the SOURCE version it applied
    // ("replicate-*-v<N>"); the newest one is the replica's true sync
    // position when the checkpoint cannot speak for it
    def markerPosition(): Option[Long] =
      if (currentVersion(spark, dstBase).isEmpty) None
      else history(spark, dstBase).select("marker").collect().toSeq
        .flatMap { r =>
          val m = r.getString(0)
          if (m.startsWith("replicate-"))
            m.substring(m.lastIndexOf("-v") + 2).takeWhile(_.isDigit).toLongOption
          else None
        }.maxOption
    val startV: Option[Long] =
      if (hasOffset) None
      else markerPosition() match {
        case Some(pos) =>
          // the checkpoint never recorded an offset but the replica's own
          // markers pin the position — the crash window between the
          // bootstrap merge (or a moved checkpoint) and the first offset
          // write. Resume from the marker; the overlap replays
          // content-idempotently.
          Some(pos)
        case None =>
          // a COMMITTED target without replicate markers is the
          // silent-divergence trap: bootstrapping the stream at the
          // source's CURRENT version would skip every change between the
          // target's actual content and now. Refuse loudly.
          require(currentVersion(spark, dstBase).isEmpty,
            s"$dstBase already has commits but neither checkpoint " +
              s"$checkpoint nor the target's markers record a sync " +
              "position — replicating over a foreign table would " +
              "silently skip the gap to the source's current version; " +
              "use a fresh target or the original checkpoint")
          currentVersion(spark, srcBase).map { v =>
            mergeInto(dstBase, readVersion(spark, srcBase, v).get, keys,
              UpdateMatched, insertUnmatched = true,
              marker = s"replicate-bootstrap-v$v", retain = retain,
              numBuckets = numBuckets)
            recordSpoken(colMapOf(spark, srcBase, v))
            v
          }
      }
    if (!hasOffset && startV.isEmpty) return 0L // source never committed
    def drain(sv: Option[Long]): Long =
      changesStream(spark, srcBase, keys, checkpoint,
        startVersion = sv,
        maxVersionsPerBatch = maxVersionsPerBatch) { (feed, from, to) =>
      if (propagateSchema) propagate(from, to)
      feed.cache()
      try {
        // ONE per-row-action merge per batch (r16, was purge + delete +
        // upsert as up to three sequential merges): [[applyChanges]]
        // folds retractions and upserts into a single commit — a third
        // of the per-batch commit constants, and the r15 multi-merge
        // marker-stamping window no longer exists: the batch applies
        // entirely (marker v$to) or not at all (recovery resumes from
        // `from` and replays content-idempotently).
        spark.conf.getOption(TestFailBeforeReplicateUpsertConf)
          .filter(t => t == "*" || Thread.currentThread().getName.contains(t))
          .foreach(_ => throw new IllegalStateException(
            "spec seam: drain killed before the apply merge"))
        // no emptiness pre-probe (r17): an empty batch is a provable
        // no-op inside the merge's own stats job — the probe was one
        // extra endpoint-diff action per micro-batch
        applyChanges(dstBase, feed, keys,
          marker = s"replicate-apply-v$to", retain = retain,
          numBuckets = numBuckets)
        ()
      } finally { feed.unpersist(); () }
    }
    var total = 0L
    var sv = startV
    var attempts = 0
    var pending = true
    while (pending) {
      try { total += drain(sv); pending = false }
      catch {
        case e: CdfHorizonLost if resyncOnHorizonLoss =>
          // the replica lagged past the source's retention: REBASE — one
          // full-sync merge of the source's current version replaces the
          // unfoldable diff window (erasures land through the rebase's
          // delete-unmatched side). Delete the dead offset FIRST: a crash
          // anywhere after leaves the markers pinning a pre-rebase
          // position, and the next call walks this same path again.
          attempts += 1
          if (attempts > 15) throw e
          ckptF.delete(offPath, false)
          val posStamp = markerPosition().getOrElse(0L)
          currentVersion(spark, srcBase)
            .flatMap(v => readVersion(spark, srcBase, v).map(v -> _)) match {
            case Some((v, df)) =>
              if (propagateSchema) propagate(posStamp, v)
              mergeInto(dstBase, df, keys, UpdateMatched,
                insertUnmatched = true,
                deleteUnmatchedBySource = Some(lit(true)),
                marker = s"replicate-resync-v$v", retain = retain,
                numBuckets = numBuckets)
              total += 1
              sv = Some(v)
            case None =>
              // the current version moved/retired mid-rebase — retry the
              // whole loop from the marker-pinned position
              sv = markerPosition()
          }
      }
    }
    total
  }

  /** `op = "purge"` retraction rows (keys set, every other column null)
    * for the purge commits in `(fromVersion, min(toVersion, current)]`,
    * projected to the feed's `schema`. One pointer read for the whole
    * range; None when the range holds no purge commits. */
  private def purgeRetractionRows(spark: SparkSession, baseDir: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val f = fs(spark, baseDir)
    specDelay(spark, TestDelayBeforeRetractionScanConf)
    val cur = currentVersion(spark, baseDir).getOrElse(-1L)
    // each retraction dir is typed with the key schema AT ITS PURGE TIME, which
    // can differ from the feed's: a key column whose type later widened
    // (schema evolution), or a purge issued on an entirely different key
    // set. Project + cast every one to the REQUESTED keys with the
    // feed's dtypes before unioning — a dtype drift is absorbed by the
    // cast; a purge whose subjects cannot be expressed in the feed's
    // keys fails with a targeted message naming the version (silently
    // skipping it would hide an erasure signal from a compliance feed;
    // blindly unioning it would fail the whole read with an unkeyed
    // schema error)
    val keyCols = keys.map(k => k -> schema(k).dataType)
    // retraction dirs store the purge version's PHYSICAL key names; the
    // feed speaks the TO version's logical view — alias each into it
    // (birth-joined across any normalization) before the name/dtype
    // projection below
    val viewVersion = math.min(toVersion, cur)
    val purged = ((fromVersion + 1) to math.min(toVersion, cur))
      .flatMap { v =>
        val vdir = versionPath(new Path(baseDir), v)
        // no record: a version-number gap (aborted claim) or retired
        // mid-scan — the floor check below tells the two apart
        if (!readCommit(f, vdir).exists(_.purged)) None
        else {
          val sidecar = presentLogical(
            readUniform(spark, Seq(new Path(vdir, PurgedName).toString)),
            crossColMap(spark, baseDir, v, viewVersion))
          val missing = keys.filterNot(sidecar.columns.contains)
          if (missing.nonEmpty)
            throw new IllegalStateException(
              s"purge commit v$v of $baseDir retracts key columns " +
                s"[${sidecar.columns.mkString(", ")}], which cannot be " +
                s"projected onto the feed's keys [${keys.mkString(", ")}] " +
                s"(missing: ${missing.mkString(", ")}) — consume the " +
                "change feed with the purge's key columns, or start the " +
                s"range at v$v or later")
          // dtype drift that cannot be CAST (e.g. string subjects onto a
          // bigint feed key) must fail like the missing-column case does —
          // a silent null-ing cast would corrupt retraction subjects in a
          // compliance feed into null rows. try_cast-probe only when the
          // dtypes actually differ (zero extra work on the common path);
          // retraction dirs are point-sized, so the probe is one tiny job.
          val drifted = keys.filter { k =>
            val dt = schema(k).dataType
            sidecar.schema(k).dataType != dt &&
              sidecar.filter(col(k).isNotNull &&
                  expr(s"try_cast(`$k` AS ${dt.sql})").isNull)
                .limit(1).count() > 0
          }
          if (drifted.nonEmpty)
            throw new IllegalStateException(
              s"purge commit v$v of $baseDir carries retraction subjects " +
                s"in key column(s) [${drifted.mkString(", ")}] that cannot " +
                s"be cast to the feed's dtypes — refusing to corrupt a " +
                "compliance feed's retraction subjects into NULLs; consume " +
                s"the range with matching key dtypes, or start at v$v or later")
          Some(sidecar.select(
            keyCols.map { case (k, dt) => col(k).cast(dt).as(k) }: _*))
        }
      }
    // erasure-completeness guard (r17, fuzz-caught): a skipped v above
    // means EITHER "v was not a purge commit" (fine) or "v's whole dir
    // was RETIRED mid-scan" — and a retired purge commit's erasure
    // is invisible to the endpoint diff too (purge rewrites both
    // endpoints in place), so silently skipping it DROPS the retraction
    // from a compliance feed (the replica-storm fuzz kept a purged
    // subject forever). Retention retires a version PREFIX, so the
    // range's purge info is complete iff fromVersion+1 is still at or
    // above the retention floor, re-checked AFTER the record scan
    // (TOC-TOU: a sweep during the scan moves the floor and is caught
    // here; a sweep after it cannot remove information already read).
    // Aborted-claim version-number gaps never existed and do not move
    // the floor. Below-floor ranges raise the same loud resync signal a
    // vanished diff endpoint does.
    val floor = f.listStatus(new Path(baseDir)).toSeq
      .flatMap(st => Option(st.getPath.getName)
        .filter(n => st.isDirectory && n.startsWith("v"))
        .flatMap(_.drop(1).toLongOption))
      .minOption.getOrElse(Long.MaxValue)
    if (fromVersion + 1 < floor)
      throw new CdfHorizonLost(baseDir, fromVersion, toVersion)
    purged.reduceOption(_ unionByName _).map { subjects =>
      subjects.distinct()
        .withColumn("op", lit("purge"))
        .select(schema.fields.map { fld =>
          if (fld.name == "op" || keys.contains(fld.name)) col(fld.name)
          else lit(null).cast(fld.dataType).as(fld.name)
        }.toIndexedSeq: _*)
    }
  }

  /** One in-place purge pass over the versions retained at listing time —
    * see [[purgeKeys]] for the linearization wrapper that makes this safe
    * under concurrent writers. */
  private[graft] def purgeKeysPass(spark: SparkSession, baseDir: String, keys: Seq[String],
      keyRows: Seq[Seq[Any]], heartbeat: () => Unit = () => ()): Int = {
    require(keys.nonEmpty, "purge needs at least one key column")
    require(keyRows.nonEmpty, "purge needs at least one key tuple")
    require(keyRows.size <= MaxPushdownKeys,
      s"purge is a point operation: at most $MaxPushdownKeys key tuples per call")
    require(keyRows.forall(_.size == keys.size),
      s"every key tuple must have ${keys.size} values")
    val f = fs(spark, baseDir)
    val base = new Path(baseDir)
    val cur0 = currentVersion(spark, baseDir) match {
      case Some(v) => v
      case None => return 0
    }

    // subjects arrive in the CURRENT version's logical names; every probe
    // and rewrite below reads raw files (physical). Physical names are
    // frozen WITHIN a generation, but a normalize-compact re-freezes
    // them — so older retained versions (and the data refs only they
    // hold) can speak DIFFERENT physical names than the current one.
    // Each probe therefore translates per version through the birth
    // lineage ([[crossColMap]]); a single current-names translation
    // would silently skip matches in pre-normalize files — a missed
    // erasure, the one failure mode a purge must never have.
    val pcm = colMapOf(spark, baseDir, cur0)
    val pKeys = keys.map(pcm.toPhysical)
    def physKeysAt(v: Long): Seq[String] =
      keys.map(crossColMap(spark, baseDir, v, cur0).toPhysical)

    def matchCondFor(pk: Seq[String]): Column =
      if (pk.size == 1)
        coalesce(col(pk.head).isin(keyRows.map(_.head): _*), lit(false))
      else keyRows.map(t =>
        pk.zip(t).map { case (k, v) => col(k) <=> lit(v) }.reduce(_ && _))
        .reduce(_ || _)

    // COMMITTED versions only (<= the pointer at listing): a concurrent
    // writer's staged dir above the pointer is mid-flight — half-written
    // parquet throws at the probe, a staged flat dir trips the fail-fast
    // for a version that may never commit, and a staged record with a
    // new bucket count isn't in hitBuckets. Anything that commits later
    // is the linearization loop's job, not this pass's.
    val vdirs = f.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v"))
      .filter(_.getPath.getName.drop(1).toLongOption.exists(_ <= cur0))
      .map(_.getPath).sortBy(_.getName)
    specDelay(spark, TestDelayAfterPurgeListingConf)

    // RETENTION COLLATERAL (r15): writers apply retention AFTER releasing
    // the commit lock (publish/mergeInto/restore all do), so a version
    // listed above can be deleted by an already-committed writer's
    // in-flight retention at ANY later point of this pass — even under
    // the escalation's frozen pointer, where the caller's moved-pointer
    // absorption can never fire (the pointer provably does not move).
    // Only retention deletes committed version dirs, and a retired
    // version needs no purging (no reader can resolve it anymore), so
    // listed-then-vanished is absorbable collateral everywhere below,
    // never a fault.
    def retired(vdir: Path): Boolean = !f.exists(vdir)
    // each listed version's record, read ONCE for the pass: only purges
    // rewrite committed records, and purges exclude each other. A listed
    // dir with no readable record holds no committed version to purge:
    // it was retired since the listing, or it is a conflict loser's
    // staging (a writer whose claimed number the pointer jumped past,
    // still writing or mid-abort)
    val recs: Seq[(Path, Commit)] = vdirs.flatMap { vdir =>
      try readCommit(f, vdir).map(vdir -> _)
      catch { case scala.util.control.NonFatal(_) if retired(vdir) => None }
    }

    // fail fast: a flat version holding a purged key cannot be rewritten
    // atomically — raise before ANY mutation so the purge is all-or-nothing
    recs.foreach { case (vdir, rec) =>
      try {
        if (rec.buckets.isEmpty) {
          val pkV = physKeysAt(vdir.getName.drop(1).toLong)
          val d = readUniform(spark, Seq(vdir.toString))
          if (pkV.forall(d.columns.contains) &&
              d.filter(matchCondFor(pkV)).limit(1).count() > 0)
            throw new IllegalStateException(
              s"purge requires the bucketed layout, but flat version " +
                s"${vdir.getName} contains matching rows — one mergeInto " +
                "migrates the table")
        }
      } catch { // retired between the check and the read: nothing to purge
        case scala.util.control.NonFatal(_) if retired(vdir) => ()
      }
    }

    // the purge keys' hash buckets, per bucket-count generation, computed
    // with the TABLE's key dtypes so write- and probe-side hashing agree
    val curSchema = read(spark, baseDir).get.schema
    val keySchema = org.apache.spark.sql.types.StructType(
      keys.map(k => curSchema(k).copy(name = pcm.toPhysical(k))))
    import scala.jdk.CollectionConverters._
    val keysDf = spark.createDataFrame(
      keyRows.map(r => org.apache.spark.sql.Row.fromSeq(r)).asJava, keySchema)
    val nbs = recs.flatMap(_._2.buckets.map(_._1)).toSet
    val hitBuckets: Map[Int, Set[Int]] = nbs.map { nb =>
      nb -> keysDf.select(bucketOf(pKeys, nb).as("__b"))
        .distinct().collect().map(_.getInt(0)).toSet
    }.toMap

    // fresh purge-dir names: above every existing data/ entry
    val dataRoot = new Path(base, DataDirName)
    var pSeq = (if (f.exists(dataRoot)) f.listStatus(dataRoot).toSeq else Nil)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("p") => n.drop(1).toLongOption }
      .flatten.maxOption.getOrElse(-1L) + 1
    def allocName(): String = {
      val n = "p" + "%05d".formatLocal(java.util.Locale.ROOT, pSeq)
      pSeq += 1
      n
    }

    // candidate dirs across ALL versions: hash-hit buckets + every
    // overlay. Probed in ONE batched job (input_file_name → dir) rather
    // than one job per dir — with V versions × B hit buckets the per-dir
    // form pays ~V·B job-scheduling constants, which dominates wall time
    // long before any real I/O does.
    // every candidate carries the PHYSICAL key names of the version(s)
    // referencing it: refs are never shared across a normalize boundary
    // (the normalize is a full rewrite), and metadata-only commits
    // (rename/drop) share refs without changing physicals — so a ref's
    // key naming is well-defined even when versions disagree logically
    val relKeys: Map[String, Seq[String]] = recs.flatMap { case (vdir, rec) =>
      try {
        val pkV = physKeysAt(vdir.getName.drop(1).toLong)
        val bucketRels = rec.buckets match {
          case Some((nb, entries)) =>
            val hits = hitBuckets(nb)
            entries.toSeq.collect { case (b, rels) if hits(b) => rels }.flatten
          case None => Nil
        }
        (bucketRels ++ rec.deltas.map(_._2).getOrElse(Nil)).map(_ -> pkV)
      } catch { case scala.util.control.NonFatal(_) if retired(vdir) => Nil }
    }.groupBy(_._1).map { case (rel, ps) => rel -> ps.head._2 }
      // a data ref held ONLY by retired versions is swept by their
      // retention's orphan gc mid-pass — drop vanished candidates here
      // (any still-live version's refs exist, by gcDataDirs' contract)
      .filter { case (rel, _) => f.exists(resolveRef(base, rel)) }
    val candidateRels: Seq[String] = relKeys.keys.toSeq
    // FILE-level match set (no dir truncation): a manifest ref matches if
    // it IS a matched file (file ref) or contains one (dir/overlay ref).
    // A scanned file URI maps back to its manifest ref by RESOLVED-PATH
    // prefix against the candidate list. Both sides normalize to the
    // URI's PATH component (scheme/authority spellings differ between a
    // caller-supplied base and input_file_name's qualified URIs, and all
    // of a table's refs live on its own filesystem) — never by string
    // surgery on the URI, which cannot express an external (cloned) ref
    // and mis-cuts when the source base itself contains `/data/`
    // segments. The schema-drift fallback adds whole manifest rels,
    // which the exact clause covers.
    val candidateByPath: Seq[(String, String)] = candidateRels.map { rel =>
      resolveRef(base, rel).toUri.getPath -> rel
    }
    def relOf(uri: String): String = {
      val norm = new Path(uri).toUri.getPath
      candidateByPath.collectFirst {
        case (p, rel) if norm == p => rel // file ref scanned directly
        case (p, rel) if norm.startsWith(p + "/") =>
          // dir/overlay ref: the matched FILE's ref, in the same
          // namespace as the manifest/zones (ext-prefixed iff the dir is)
          rel + norm.substring(p.length)
      }.getOrElse {
        // not under any candidate (cannot happen for rows of this scan) —
        // keep the legacy local surgery as a conservative fallback
        uri.substring(uri.lastIndexOf(s"/$DataDirName/") + 1)
      }
    }
    val matchedFiles: Set[String] =
      // one batched job per key-naming GROUP (normally one; two while
      // retained history straddles a normalize-compact)
      relKeys.groupBy(_._2).flatMap { case (pkV, group) =>
        val rels = group.keys.toSeq
        try {
          import org.apache.spark.sql.functions.input_file_name
          spark.read
            .parquet(rels.map(r => resolveRef(base, r).toString): _*)
            .filter(matchCondFor(pkV))
            .select(input_file_name().as("__f")).distinct()
            .collect().toSeq.map(r => relOf(r.getString(0)))
        } catch {
          // schema drift across candidate generations (or a candidate
          // swept between the filter above and the batched read): probe
          // per ref
          case scala.util.control.NonFatal(_) =>
            rels.filter { rel =>
              val p = resolveRef(base, rel)
              try f.exists(p) && {
                val d = spark.read.parquet(p.toString)
                pkV.forall(d.columns.contains) &&
                  d.filter(matchCondFor(pkV)).limit(1).count() > 0
              } catch { // swept mid-probe: every holder is retired
                case scala.util.control.NonFatal(_) if !f.exists(p) => false
              }
            }
        }
      }.toSet
    val matchedRefs: Set[String] = matchedFiles.flatMap(refsNaming)
    def matched(rel: String): Boolean =
      matchedFiles.contains(rel) || matchedRefs.contains(rel)

    // shared-ref memo: rewrite each matching data ref exactly once, no
    // matter how many retained versions reference it
    val memo = scala.collection.mutable.Map.empty[String, Option[String]]
    def rewriteRef(rel: String, gName: String): Option[String] =
      try {
        // the ref's own key naming (dir refs and their file-level
        // children share a generation, hence a naming)
        val pkV = relKeys.getOrElse(rel, relKeys.collectFirst {
          case (r, pk) if refsNaming(rel).contains(r) || refsNaming(r).contains(rel) => pk
        }.getOrElse(pKeys))
        val d = readUniform(spark, Seq(resolveRef(base, rel).toString))
        // "" for overlays; file refs rewrite into their bucket subdir.
        // refTail (not a fixed component drop) so an external ref from a
        // shallow clone rewrites into the right LOCAL bucket subdir —
        // purging a clone must never touch the source table's bytes.
        val tail = refTail(rel)
        val newRel =
          if (tail.isEmpty) s"$DataDirName/$gName"
          else s"$DataDirName/$gName/$tail"
        withMicrosTimestamps(spark) {
          d.filter(!matchCondFor(pkV)).coalesce(1)
            .write.mode("overwrite").parquet(new Path(base, newRel).toString)
        }
        Some(newRel)
      } catch { // ref swept mid-rewrite: every referencing version retired
        case scala.util.control.NonFatal(_)
            if !f.exists(resolveRef(base, rel)) => None
      }
    def rewritten(rel: String): Option[String] = memo.getOrElseUpdate(rel,
      if (!matched(rel)) None else rewriteRef(rel, allocName()))
    // rewrite every matched ref CONCURRENTLY, before any record update
    // (guide §2.6 — overlap independent jobs): the per-ref filtered
    // writes go to disjoint fresh dirs and share no state beyond the
    // pre-allocated names, so running them sequentially paid one
    // job-scheduling constant per ref where a small in-flight window
    // keeps the executor busy. Names are allocated on THIS thread; the
    // memo is fully populated before updateRecord reads it, so the
    // sequential fallback path above only ever sees unmatched refs.
    locally {
      val toRewrite = candidateRels.filter(matched).sorted
      if (toRewrite.sizeIs > 1) {
        val named = toRewrite.map(rel => rel -> allocName())
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(4, toRewrite.size))
        try {
          val futs = named.map { case (rel, g) =>
            rel -> pool.submit(new java.util.concurrent.Callable[Option[String]] {
              def call(): Option[String] = rewriteRef(rel, g)
            })
          }
          futs.foreach { case (rel, fut) =>
            memo.update(rel,
              try fut.get()
              catch { case e: java.util.concurrent.ExecutionException =>
                throw e.getCause
              })
          }
        } finally { pool.shutdown(); () }
      }
    }

    def updateRecord(vdir: Path, rec: Commit): Unit = {
      val bucketUpdates: Map[String, String] = rec.buckets match {
        case Some((nb, entries)) =>
          val hits = hitBuckets(nb)
          entries.toSeq.collect {
            case (b, rels) if hits(b) => rels.flatMap(rel => rewritten(rel).map(rel -> _))
          }.flatten.toMap
        case None => Map.empty
      }
      val overlayUpdates: Map[String, String] = rec.deltas.toSeq.flatMap(_._2)
        .flatMap(r => rewritten(r).map(r -> _)).toMap
      if (bucketUpdates.nonEmpty || overlayUpdates.nonEmpty) {
        // zonemap and blooms: drop the rewritten refs' file entries and
        // regenerate them for the replacement dirs, one batched job each
        // (zones padded None for any stats column a pre-evolution dir
        // lacks)
        val newDirs = bucketUpdates.values.toSeq.distinct.map(new Path(base, _))
        def kept[V](entries: Map[String, V]): Map[String, V] =
          entries.filterNot { case (frel, _) => refsNaming(frel).exists(bucketUpdates.contains) }
        val (zones, blooms) =
          if (newDirs.isEmpty) (rec.zones, rec.blooms)
          else (rec.zones.map { z =>
              val schema = readUniform(spark, newDirs.map(_.toString)).schema
              z.copy(entries = kept(z.entries) ++
                freshZoneStats(spark, newDirs, z.keys ++ z.vcols, schema,
                  padMissingColumns = true).map { case (r, n, rs) => r -> (n, rs) })
            },
            rec.blooms.map { case (bkeys, bs) =>
              bkeys -> (kept(bs) ++ freshBloomStats(spark, newDirs, bkeys))
            })
        val updated = rec.copy(
          buckets = rec.buckets.map { case (nb, entries) =>
            nb -> entries.map { case (b, rels) => b -> rels.map(r => bucketUpdates.getOrElse(r, r)) }
          },
          deltas = rec.deltas.map { case (dkeys, overlays) =>
            dkeys -> overlays.map(r => overlayUpdates.getOrElse(r, r))
          },
          zones = zones, blooms = blooms)
        // the whole record — refs, stats and the inventory of the new refs
        // — swaps in ONE torn-read-free overwrite (the pointer's primitive)
        atomicOverwrite(spark, f, new Path(vdir, CommitName),
          updated.copy(inventory = inventory(f, base, vdir, updated)).render)
      }
    }
    recs.zipWithIndex.foreach { case ((vdir, rec), vi) =>
      heartbeat() // a 100 TB pass iterates many versions: stay un-stale
      // power-loss window: the first retained version's record already
      // points at purged rewrites, later versions still reference the
      // un-purged files — the documented rerun-completes contract
      if (vi == 1) haltPoint("mid-purge")
      if (!retired(vdir)) try updateRecord(vdir, rec) catch {
        case scala.util.control.NonFatal(_) if retired(vdir) =>
          // retired mid-update: a record write into a recursively-deleted
          // dir can partially resurrect it (create() re-creates parent
          // dirs on local FS) — sweep our own litter. Only ours can be
          // there: staged versions are numbered ABOVE the pointer and
          // version numbers are never reused, so nothing live shares the
          // retired dir's name.
          try { f.delete(vdir, true); () }
          catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    memo.values.count(_.isDefined)
  }

  // ------------------------------------------------------------- publication

  /** Clear uncommitted leftovers from crashed publishes, then CLAIM and
    * return the next version number (atomic `_claims/<n>` create — racing
    * writers get distinct numbers). Crashed numbers are never reused.
    *
    * Sweep rule: a version dir is uncommitted garbage iff its claim went
    * STALE (a writer died mid-publish — live claims protect concurrent
    * writers' staging) or — the pre-claims legacy shape — it sits above
    * the pointer with no claim at all.
    *
    * "Above the pointer" is judged against a pointer RE-READ taken after
    * the claim listing, never against the caller's `current` (a publish-
    * entry read). The entry read can be stale: a concurrent commit flips
    * the pointer to v and only THEN releases v's claim, so a sweep keyed
    * to the stale read that listed claims after that release would see
    * the freshly committed v as unclaimed-above-pointer and delete the
    * live pointer target. With the ordering dirs → claims → pointer, an
    * unclaimed committed version is always at-or-below the fresh read
    * (its claim release, hence its flip, happened before the claim
    * listing, hence before the pointer read), so the fresh-read gate is
    * sound — the same point-in-time-listing discipline as gcDataDirs'
    * age horizon. */
  private[graft] def prepareNext(f: FileSystem, base: Path, current: Long): Long = {
    // numeric parse, no length guard: fmtVersion's %05d grows past 5
    // digits at version 100000 and crashed dirs above the pointer must
    // still be cleared then
    def versionOf(name: String): Option[Long] =
      if (name.startsWith("v")) name.drop(1).toLongOption else None
    val existing = f.listStatus(base).toSeq
      .flatMap(st => versionOf(st.getPath.getName).map(_ -> st.getPath))
    val claims = listClaims(f, base)
    def freshPointer(): Long = {
      val ptr = new Path(base, PointerName)
      try {
        if (!f.exists(ptr)) -1L
        else readSmallFile(f, ptr).trim.toLongOption.getOrElse(-1L)
      } catch { case _: Throwable => -1L }
    }
    // post-listing pointer re-read — the sweep fence (see scaladoc)
    val fence = math.max(current, freshPointer())
    val now = System.currentTimeMillis()
    val staleMs = confMs(StaleClaimMsConf, DefaultStaleClaimMs)
    def staleClaim(v: Long): Boolean = claims.get(v).exists(now - _ > staleMs)
    existing.foreach { case (v, p) =>
      if (v > fence && (staleClaim(v) || !claims.contains(v))) {
        // above the pointer: uncommitted staging whose writer died (stale
        // claim) or pre-claims legacy garbage (no claim at all)
        f.delete(p, true)
        releaseClaim(f, base, v)
      } else if (v <= fence && staleClaim(v)) {
        // at-or-below the pointer = committed retained history. A leaked
        // claim there (commitPointer's releaseClaim swallows failed
        // deletes) is dropped WITHOUT sweeping the version dir — the old
        // rule deleted any stale-claimed dir except the pointer target,
        // which could destroy an older retained version readers still
        // time-travel to
        releaseClaim(f, base, v)
      }
    }
    // orphan stale claims whose staging never materialized
    claims.keys.filter(v => staleClaim(v) && !existing.exists(_._1 == v))
      .foreach(releaseClaim(f, base, _))
    gcDataDirs(f, base)
    mkdirsFast(f, new Path(base, ClaimsDirName))
    var n = math.max(fence,
      math.max(existing.map(_._1).maxOption.getOrElse(-1L),
        claims.keys.maxOption.getOrElse(-1L))) + 1
    // a claim is exclusive only while it is held: a fast commit (claim,
    // stage, flip, release — a metadata-only rename takes milliseconds)
    // can finish between this writer's claim listing and its claim, which
    // then wins the released number. Staging into a COMMITTED number
    // would overwrite its record and a conflict abort would delete it, so
    // a claim at or below a pointer read taken after it is handed back
    var claimed = false
    while (!claimed) {
      if (!tryCreateNew(f, claimPath(base, n))) n += 1
      else {
        val ptr = freshPointer()
        if (ptr < n) claimed = true
        else { releaseClaim(f, base, n); n = ptr + 1 }
      }
    }
    n
  }

  /** Atomic create-if-absent that never throws on a lost race — the
    * primitive every claim and lock acquisition sits on.
    *
    * Hadoop's `FileSystem.createNewFile` is exists-then-create with NO
    * exclusivity on the local scheme: two writers hitting the same path
    * at the same instant can BOTH get `true` (observed under the
    * concurrency spec — both then staged the same version number and
    * clobbered each other's `_temporary` dirs), or one gets a thrown
    * [[org.apache.hadoop.fs.FileAlreadyExistsException]] instead of
    * `false`. On `file:` we therefore go through NIO `Files.createFile`
    * (true `O_CREAT|O_EXCL`). On HDFS-like stores `create(overwrite =
    * false)` is atomic server-side, so the default path is already
    * exclusive — a lost race surfaces as the exception we map to
    * `false`. */
  private def tryCreateNew(f: FileSystem, p: Path): Boolean =
    if (f.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      try { java.nio.file.Files.createFile(local); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else
      try f.createNewFile(p)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: org.apache.hadoop.fs.PathExistsException => false
      }

  /** Acquire a fenced exclusive lock file (the commit-lock pattern,
    * reusable): ownership is only ever proven by reading the stamped
    * token back, a lock measured older than `staleMs` is a dead
    * holder's and is broken by identity (re-read equals the measured
    * value), and the acquire gives up loudly past `deadlineMs`.
    * Returns the token; pair with [[releaseFencedLock]]. */
  private def acquireFencedLock(f: FileSystem, lock: Path, staleMs: Long,
      deadlineMs: Long, what: String): String = {
    val token = java.util.UUID.randomUUID().toString
    def lockToken(): Option[String] =
      try Some(readSmallFile(f, lock).trim) catch { case _: Throwable => None }
    val deadline = System.currentTimeMillis() + deadlineMs
    var held = false
    while (!held) {
      if (tryCreateNew(f, lock)) {
        writeSmallFile(f, lock, token)
        held = lockToken().contains(token)
      } else {
        val seen = lockToken()
        val age = try System.currentTimeMillis() -
          f.getFileStatus(lock).getModificationTime
          catch { case _: Throwable => -1L } // raced away: retry create
        if (age > staleMs && seen.isDefined && lockToken() == seen) {
          try f.delete(lock, false) catch { case _: Throwable => () }
        }
        else if (System.currentTimeMillis() > deadline)
          sys.error(s"could not acquire $what lock $lock — " +
            "another holder is live (or quiesce and retry)")
        else Thread.sleep(20L)
      }
    }
    token
  }

  /** Verify-then-stamp heartbeat: re-stamping keeps a live holder's lock
    * from ever looking stale, but a blind overwrite is a zombie hazard —
    * a holder stalled PAST the stale horizon gets legitimately broken,
    * and its next blind stamp would re-take the lock from the breaker,
    * leaving BOTH sides believing they hold it (the dual-ownership race
    * the fence exists to close). So the heartbeat proves ownership first
    * (token read-back, mirroring commitPointer's fence) and aborts the
    * whole operation via [[FencedLockLost]] when the lock changed hands.
    * The read→stamp gap is not atomic, but it shrinks the dual-ownership
    * window from "forever after a break" to one heartbeat's milliseconds,
    * and the callers re-verify immediately before their commit. */
  private def heartbeatFencedLock(f: FileSystem, lock: Path, token: String,
      what: String): Unit = {
    val cur = try Some(readSmallFile(f, lock).trim)
      catch { case scala.util.control.NonFatal(_) => None }
    if (!cur.contains(token)) throw new FencedLockLost(what, lock.toString)
    writeSmallFile(f, lock, token)
  }

  /** Identity-checked release: never deletes a lock that changed hands. */
  private def releaseFencedLock(f: FileSystem, lock: Path, token: String): Unit =
    try {
      val cur = try Some(readSmallFile(f, lock).trim)
        catch { case _: Throwable => None }
      if (cur.contains(token)) { f.delete(lock, false); () }
    } catch { case _: Throwable => () }

  /** The commit: crash-injection seam, then the optimistic-concurrency
    * CAS — under a short `_COMMIT_LOCK` critical section, re-read the
    * pointer, refuse the flip if another writer moved it past `expected`
    * ([[ConcurrentSnapshotUpdate]]), else one conditional put of
    * `_CURRENT` ([[PointerStore]]) and release of `next`'s claim
    * (the version becomes committed and claim-free in the same critical
    * section). Everything staged before this call is uncommitted;
    * everything after is visible.
    *
    * The lock is FENCED: each writer stamps a unique token into the lock
    * file, and ownership is only ever proven by reading that token back —
    * never by `createNewFile`'s return alone. This closes the two races
    * of a bare stale-break mutex: (a) a waiter that measured an old lock
    * as stale could otherwise delete a DIFFERENT writer's freshly
    * created lock (check-then-delete), and (b) a live committer paused
    * past `commitLockStaleMs` (GC pause, object-store stall) whose lock
    * was legitimately broken would otherwise wake and flip the pointer
    * OVER the successor's commit — the exact lost update the CAS exists
    * to prevent. The paused writer now re-reads the token as the last
    * act before the flip and aborts (retryably) when it lost the lock.
    *
    * THE FLIP, AND THE LIMIT OF RENAME: the flip is always
    * `putIfMatch(expected = the content this committer validated)` on
    * the store the table's filesystem selects ([[pointerStoreFor]]). On
    * `file:` ([[CasFilePointerStore]]) and on ETag object stores
    * ([[EtagPointerStore]]) the store itself rejects a stalled
    * committer's late write, however long the stall. On an HDFS-like
    * filesystem the only primitive is rename ([[RenamePointerStore]]):
    * there the fence NARROWS but cannot CLOSE the double-flip window — a
    * committer stalled between the store's compare and its rename (a
    * sub-millisecond gap, vs the seconds-long staleness horizon needed
    * to break the lock in the first place) still overwrites the
    * successor. SnapshotStalledCommitterSpec drives the identical
    * post-fence stall through all three stores: the double flip on
    * rename, the refusal on cas-file and etag-cas. */
  private def commitPointer(spark: SparkSession, f: FileSystem, base: Path,
      next: Long, expected: Long,
      heldLockToken: Option[String] = None): Unit = {
    // crash-consistency fault-injection point (spec-only): a crash HERE
    // must leave readers on the previous version and be healed by the
    // next publish — VersionedSnapshotSpec drives this seam.
    if (spark.conf.getOption(CrashBeforeCommitConf).contains("true"))
      throw new IllegalStateException(
        s"injected crash before pointer commit ($CrashBeforeCommitConf)")
    // spec-only conflict-window widener
    specDelay(spark, TestDelayBeforeCommitConf)
    val lock = new Path(base, CommitLockName)
    val lockStaleMs = confMs(CommitLockStaleMsConf, DefaultCommitLockStaleMs)
    def lockToken(): Option[String] =
      try Some(readSmallFile(f, lock).trim) catch { case _: Throwable => None }
    // `heldLockToken`: the caller (purge escalation) already owns the
    // commit lock and keeps it across this call — verify ownership
    // instead of re-acquiring, and leave release to the holder
    val token = heldLockToken.getOrElse(
      acquireFencedLock(f, lock, lockStaleMs,
        deadlineMs = math.max(30000L, 2 * lockStaleMs), what = "snapshot commit"))
    if (heldLockToken.isDefined && !lockToken().contains(token))
      throw new ConcurrentSnapshotUpdate(base.toString, expected, -1L)
    try {
      // spec-only mid-section pause: models a GC/object-store stall long
      // enough for this writer's lock to be broken and taken over
      spark.conf.getOption(TestDelayInCommitConf).flatMap(_.toLongOption)
        .foreach(Thread.sleep)
      val ptr = new Path(base, PointerName)
      val rawCur: Option[String] =
        if (!f.exists(ptr)) None else Some(readSmallFile(f, ptr).trim)
      val cur = rawCur.flatMap(_.toLongOption).getOrElse(-1L)
      if (cur != expected)
        throw new ConcurrentSnapshotUpdate(base.toString, expected, cur)
      // the fence: confirm the lock is still ours as the last act before
      // the flip — a committer that lost it mid-section aborts retryably
      // instead of double-committing over the successor
      if (!lockToken().contains(token))
        throw new ConcurrentSnapshotUpdate(base.toString, expected, cur)
      // the flip: the store re-checks `rawCur` at write time (atomically
      // with the write on a conditional store); a moved pointer surfaces
      // as the same retryable conflict as a lost CAS
      if (!pointerStoreFor(f, ptr).putIfMatch(spark, f, ptr, next.toString, rawCur)) {
        val now =
          if (!f.exists(ptr)) -1L
          else readSmallFile(f, ptr).trim.toLongOption.getOrElse(-1L)
        throw new ConcurrentSnapshotUpdate(base.toString, expected, now)
      }
      // power-loss window: pointer flipped (the version IS committed) but
      // the claim is never released and the commit lock never deleted —
      // the worst-litter crash shape the healing paths must absorb
      haltPoint("post-flip")
      releaseClaim(f, base, next)
    } finally {
      // identity-checked release: never delete a lock that changed
      // hands; an externally-held lock is the holder's to release
      if (heldLockToken.isEmpty)
        releaseFencedLock(f, lock, token)
    }
  }

  /** Drop committed versions older than the newest `retain`, then sweep
    * unreferenced data dirs. */
  /** Snapshot data writes pin `spark.sql.parquet.outputTimestampType` to
    * TIMESTAMP_MICROS for the write's duration. Spark's INT96 default
    * carries no usable footer statistics (deprecated in the format), so
    * any timestamp-bearing table would silently demote EVERY publish's
    * zonemap build from the O(files) footer read to the O(delta) second
    * scan.
    *
    * The set/restore is REFCOUNTED per session: concurrent snapshot
    * writers overlap (the concurrency batteries do it constantly), and
    * naive save/restore pairs race — writer B saves writer A's
    * "TIMESTAMP_MICROS" as the value to restore, and whichever finishes
    * last leaks MICROS into the session, silently flipping every later
    * non-snapshot timestamp write to tz-aware micros (caught as dtype
    * drift in the round-15 full verify). The outermost enter saves the
    * user's value; only the outermost exit restores it. */
  private final class MicrosGuard {
    var depth = 0; var saved: Option[String] = None
    // set when the guard is evicted from the map at depth 0 — a thread
    // that raced computeIfAbsent against the eviction must retry on a
    // fresh guard instead of entering a detached one (two live guards
    // for one session would race the conf save/restore)
    var dead = false
  }
  // keyed per SparkSession, EVICTED when the outermost scope exits —
  // without eviction a long-lived driver that creates many sessions
  // would accumulate a strong reference per stopped session forever
  private val microsGuards =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, MicrosGuard]()
  private def withMicrosTimestamps[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    var g: MicrosGuard = null
    var entered = false
    while (!entered) {
      g = microsGuards.computeIfAbsent(spark, _ => new MicrosGuard)
      g.synchronized {
        if (!g.dead) {
          if (g.depth == 0) {
            g.saved = spark.conf.getOption(key)
            spark.conf.set(key, "TIMESTAMP_MICROS")
          }
          g.depth += 1
          entered = true
        }
      }
    }
    try body finally g.synchronized {
      g.depth -= 1
      if (g.depth == 0) {
        g.saved match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        g.dead = true
        microsGuards.remove(spark, g)
        ()
      }
    }
  }

  private def applyRetention(f: FileSystem, base: Path, current: Long,
      next: Long, retain: Int): Unit = {
    // retention runs AFTER the commit lock is released (deliberately: the
    // deletes are not part of the critical section), so its deletions can
    // land mid-flight in any concurrent purge pass — the seam widens that
    // window deterministically for the collateral-absorption specs
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(specDelay(_, TestDelayBeforeRetentionConf))
    // numeric parse, no length guard (see prepareNext): retention must
    // keep aging out versions past v99999 or the table leaks history
    def versionOf(name: String): Option[Long] =
      if (name.startsWith("v")) name.drop(1).toLongOption else None
    f.listStatus(base).toSeq
      .flatMap(st => versionOf(st.getPath.getName).map(_ -> st.getPath))
      .filter { case (v, _) => v <= current && v <= next - retain }
      .foreach { case (_, p) =>
        // ATOMIC retirement (r17): a recursive delete exposes concurrent
        // readers to a HALF-DELETED version dir — a probe that finds the
        // dir but not its colmap parses "identity colmap", which is a
        // WRONG answer, not a retryable collateral (the replica storm's
        // lost-rename fuzz failure). Renaming the dir to a dot-prefixed
        // tombstone first makes retirement all-or-nothing for every
        // reader: a version dir either exists in full or not at all.
        // The tombstone is invisible to version listings ("v" prefix)
        // and is deleted without readers. A failed rename falls back to
        // the direct delete (the pre-r17 behavior) rather than leaking.
        val tomb = new Path(base,
          s".retired-${p.getName}-${java.util.UUID.randomUUID().toString}")
        val renamed = try f.rename(p, tomb)
          catch { case scala.util.control.NonFatal(_) => false }
        f.delete(if (renamed) tomb else p, true)
      }
    // best-effort sweep of tombstones a crashed retirement left behind
    try f.listStatus(base).toSeq
      .filter(_.getPath.getName.startsWith(".retired-"))
      .foreach(st => f.delete(st.getPath, true))
    catch { case scala.util.control.NonFatal(_) => () }
    haltPoint("mid-retention")
    gcDataDirs(f, base)
  }

  /** Write `df` as the next version (flat layout: a self-contained
    * directory) and atomically flip the pointer to it. Returns the
    * published version number. `retain` is the number of versions kept
    * INCLUDING the new one (min 1). */
  def publish(df: DataFrame, baseDir: String, marker: String, retain: Int = 2,
      expected: Option[Long] = None): Long = {
    require(retain >= 1, "retain must keep at least the current version")
    val spark = df.sparkSession
    // callers whose `df` derives from a table read pass the version they
    // read as `expected` (basis pinning, see mergeInto) — a pointer that
    // already moved means the frame is stale, so fail fast and retryably
    // rather than committing a lost update. Callers publishing
    // independent content omit it and race only at the CAS itself.
    val basis = expected.getOrElse(currentVersion(spark, baseDir).getOrElse(-1L))
    commit(spark, baseDir, basis, Some(retain)) { (_, target) =>
      df.write.mode("overwrite").parquet(target.toString)
      Commit(marker)
    }
  }

  /** The commit protocol — the one sequence every write of a NEW version
    * runs (publish, bucketed publish and so merge/compact, overlay
    * staging, restore, clone, column-mapping and purge commits):
    *
    *  1. '''basis check''': the pointer must still read `expected` (the
    *     version the caller's frames, manifests and refs derive from),
    *     else [[ConcurrentSnapshotUpdate]] before anything is claimed;
    *  1. '''claim''' the next version number ([[prepareNext]]) — only
    *     after the caller finished validating and listing, so a rejected
    *     operation never leaves a claim behind;
    *  1. '''stage''': `stage(next, target)` writes whatever must exist
    *     before the flip (data files, the retraction dir; nothing for a
    *     metadata-only commit) with TIMESTAMP_MICROS output
    *     ([[withMicrosTimestamps]]) and returns the version's record;
    *     then the `staged-data` halt point;
    *  1. '''record''' ([[stageRecord]], then `staged-sidecars`);
    *  1. '''CAS''' ([[commitPointer]], `post-flip` inside);
    *  1. '''retain''' when `retain` is given — metadata commits (clone,
    *     column mapping, purge) pass None: they never age out history.
    *
    * Any in-JVM failure from the claim to the CAS aborts the staged
    * version before rethrowing ([[abortStaged]]), so the claim never sits
    * live for `staleClaimMs` shielding garbage from every sweep; a
    * conflict loss also drops the staged dir, before the claim. A writer
    * that DIES skips the abort; the stale-claim sweep collects its
    * litter. `heldLockToken`: the caller already holds the commit lock
    * (purge escalation). Returns the committed version. */
  private def commit(spark: SparkSession, baseDir: String, expected: Long,
      retain: Option[Int], heldLockToken: Option[String] = None)
      (stage: (Long, Path) => Commit): Long = {
    val f = fs(spark, baseDir)
    val base = new Path(baseDir)
    mkdirsFast(f, base)
    val found = currentVersion(spark, baseDir).getOrElse(-1L)
    if (found != expected)
      throw new ConcurrentSnapshotUpdate(baseDir, expected, found)
    val next = prepareNext(f, base, expected)
    try {
      val target = versionPath(base, next)
      val rec = withMicrosTimestamps(spark)(stage(next, target))
      haltPoint("staged-data")
      stageRecord(f, base, target, rec)
      commitPointer(spark, f, base, next, expected, heldLockToken)
    } catch {
      case c: ConcurrentSnapshotUpdate =>
        abortStaged(f, base, next, conflictLoss = true); throw c
      case t: Throwable => abortStaged(f, base, next); throw t
    }
    retain.foreach(applyRetention(f, base, expected, next, _))
    next
  }

  /** Run a transaction whose reads are pinned to `basis`. A concurrent
    * writer pushing the pointer `retain` versions ahead RETIRES the basis
    * version dir mid-transaction, so sidecar parses and frame scans can
    * fail in arbitrary collateral ways — on any non-conflict failure,
    * re-check the pointer: if it moved, the transaction was doomed at the
    * CAS regardless, and the failure is reported as the retryable
    * [[ConcurrentSnapshotUpdate]] it really is (original error kept as a
    * suppressed cause). A failure with the pointer unmoved is real and
    * propagates untouched. */
  private def withBasis[A](spark: SparkSession, baseDir: String, basis: Long)
      (body: => A): A =
    try body catch {
      case c: ConcurrentSnapshotUpdate => throw c
      case scala.util.control.NonFatal(e) =>
        val now = currentVersion(spark, baseDir).getOrElse(-1L)
        if (now != basis) {
          val c = new ConcurrentSnapshotUpdate(baseDir, basis, now)
          c.addSuppressed(e)
          throw c
        } else throw e
    }

  /** An in-JVM publish failure releases its claim (the crash-shape
    * leftovers — an above-pointer staged dir — stay visible for the next
    * publish's sweep, which the crash-consistency specs pin). The staged
    * DIR is deleted when the pointer already moved to or past this
    * number, or on ANY conflict loss (`conflictLoss` — even one where the
    * winner committed a LOWER number): an unclaimed dir at-or-below the
    * pointer would otherwise read as committed history that never
    * committed. On a conflict loss the dir dies BEFORE the claim is
    * released — a concurrent [[prepareNext]] that listed claims before
    * the release treats the dir as live staging and can commit past it,
    * after which a surviving unclaimed dir under the pointer would be
    * exactly that phantom history. A writer that DIES skips all of this;
    * the stale-claim sweep collects its claim and staging later. */
  private[graft] def abortStaged(f: FileSystem, base: Path, next: Long,
      conflictLoss: Boolean = false): Unit = {
    val cur = try {
      val ptr = new Path(base, PointerName)
      if (!f.exists(ptr)) -1L
      else readSmallFile(f, ptr).trim.toLongOption.getOrElse(-1L)
    } catch { case _: Throwable => Long.MaxValue } // unreadable: delete, be safe
    if (conflictLoss || cur >= next)
      try { f.delete(versionPath(base, next), true); () } catch { case _: Throwable => () }
    releaseClaim(f, base, next)
  }

  /** Stage `df`'s rows into per-bucket data directories under the shared
    * pool, link `inherited` bucket directories unchanged, and commit the
    * combined manifest as the next version. The write job touches ONLY
    * `df`'s rows — inherited buckets are REFERENCED, never copied or
    * rewritten, which is what makes [[mergeInto]] O(delta). An empty
    * combined manifest degrades to a flat empty version directory (so the
    * table keeps a readable schema). */
  private def publishBucketed(df: DataFrame, baseDir: String, marker: String,
      keys: Seq[String], numBuckets: Int, inherited: Map[Int, Seq[String]],
      retain: Int, expected: Long, valueStatsCols: Option[Seq[String]] = None,
      clusterBy: Seq[String] = Nil, maxRecordsPerFile: Long = 0L,
      keyBlooms: Boolean = false,
      carryFiles: Map[Int, Seq[String]] = Map.empty,
      clusterExprs: Seq[Column] = Nil,
      cm: ColMap = IdentityColMap,
      assertUniqueKeys: Boolean = false): Long = {
    require(retain >= 1, "retain must keep at least the current version")
    require(numBuckets >= 1, "numBuckets must be >= 1")
    require(!df.columns.contains(BucketCol), s"column name $BucketCol is reserved")
    val spark = df.sparkSession
    val f = fs(spark, baseDir)
    val base = new Path(baseDir)
    // snapshot isolation: `expected` is the version every input frame,
    // manifest, and carry ref was derived FROM (pinned by the caller at
    // its transaction start), and the commit's basis check refuses a
    // moved pointer before staging a byte — committing would otherwise
    // pass the CAS while silently dropping the interloper's rows, the
    // lost update the stress spec caught when this method re-read the
    // pointer for itself
    commit(spark, baseDir, expected, Some(retain)) { (next, target) =>
      val gName = "g" + "%05d".formatLocal(java.util.Locale.ROOT, next)
      val gDir = new Path(new Path(base, DataDirName), gName)
      // repartition ON the bucket value: each bucket lands wholly in one
      // task, so every bucket directory holds exactly ONE data file. Without
      // this, every shuffle task holding rows of a bucket writes its own
      // fragment — touched buckets accumulate up to shuffle.partitions small
      // files per merge, the small-file problem table formats pay a
      // compaction pass to undo. One extra exchange over the delta only.
      // cluster-on-write: sort each bucket's rows so parquet row-group
      // min/max stats are tight. Default order = the merge keys (readForKeys'
      // pushed IN filter then skips row groups — the pruning level below the
      // zonemap). A caller-supplied clusterBy (compact's OPTIMIZE-ZORDER
      // analog) orders by VALUE columns instead, and with maxRecordsPerFile
      // splits each bucket into several files, each covering a contiguous
      // value range — the per-FILE zone stats then prune mid-range
      // value predicates below bucket level (at the documented cost of
      // looser key row-group locality in the rewritten files). Task-local
      // sort over the delta only, no extra exchange either way.
      // clusterExprs (compact's zorderBy) takes precedence: a computed
      // space-filling-curve key instead of a lexicographic column list
      val clusterCols: Seq[Column] =
        if (clusterExprs.nonEmpty) clusterExprs
        else (if (clusterBy.nonEmpty) clusterBy else keys).map(col)
      // bucketing and clustering run in LOGICAL space (hashes and sorts
      // are over values, and the caller's cluster exprs reference logical
      // names); the final projection renames to the frozen PHYSICAL
      // at-rest names and pads dropped columns as typed nulls — every
      // file of every generation carries the full physical column set,
      // which is what keeps multi-path reads schema-uniform
      val pKeys = keys.map(cm.toPhysical)
      lazy val prev = if (expected < 0) None else Some(recordOf(f, versionPath(base, expected)))
      val toPhysical: DataFrame => DataFrame = d =>
        if (cm.isIdentity) d
        else {
          val renamed = d.columns.toIndexedSeq.map(c => col(c).as(cm.toPhysical(c)))
          val padded =
            if (cm.dropped.isEmpty || expected < 0) Nil
            else {
              val raw = rawFrame(d.sparkSession, base, versionPath(base, expected), prev.get).schema
              cm.dropped.toSeq.sorted.flatMap(dc =>
                raw.fields.find(_.name == dc)
                  .map(fl => lit(null).cast(fl.dataType).as(dc)))
            }
          d.select(renamed ++ padded: _*)
        }
      val sorted = df.withColumn(BucketCol, bucketOf(keys, numBuckets))
        .repartition(col(BucketCol))
        .sortWithinPartitions(col(BucketCol) +: clusterCols: _*)
      // seed-path key-uniqueness proof riding the write itself (r17): the
      // write already hash-partitions by bucket and sorts each partition
      // by (bucket, keys), so equal keys are ADJACENT — a lag-window over
      // exactly that (partition, order) adds NO exchange and NO sort, and
      // asserting it here deletes the separate pre-count action the seed
      // publish used to pay (one Spark action per table seed). Null-safe
      // (<=>): the first row's lag is null; null key fields compare
      // field-wise like the historical groupBy check. Only requested when
      // the cluster order IS the keys (the seed path), so adjacency holds.
      val checked =
        if (!assertUniqueKeys) sorted
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(BucketCol)).orderBy(clusterCols: _*)
          val kStruct = org.apache.spark.sql.functions.struct(keys.map(col): _*)
          sorted
            .withColumn("__chk", assert_true(
              !(org.apache.spark.sql.functions.lag(kStruct, 1).over(w) <=> kStruct),
              lit(s"MERGE source has multiple rows for a " +
                s"(${keys.mkString(",")}) key")))
            .filter(col("__chk").isNull).drop("__chk")
        }
      val physDf = toPhysical(checked)
      val writer = physDf.write.mode("overwrite").partitionBy(BucketCol)
      (if (maxRecordsPerFile > 0L)
         writer.option("maxRecordsPerFile", maxRecordsPerFile)
       else writer).parquet(gDir.toString)
      // which buckets actually produced files (a bucket whose merge result
      // is empty writes no partition dir — it must vanish from the manifest)
      val written: Map[Int, String] =
        if (!f.exists(gDir)) Map.empty
        else f.listStatus(gDir).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(BucketCol + "="))
          .flatMap { st =>
            st.getPath.getName.drop(BucketCol.length + 1).toIntOption
              .map(b => b -> s"$DataDirName/$gName/${st.getPath.getName}")
          }.toMap
      // fold the three ref sources per bucket: the file this publish wrote
      // (if any), then the untouched files a file-pruning merge carried by
      // reference ([[mergeInto]]'s partial rewrite), then whole inherited
      // buckets — a bucket appears in `inherited` XOR in (written ∪
      // carryFiles), never both
      val manifest: Map[Int, Seq[String]] = {
        val bucketIds = inherited.keySet ++ carryFiles.keySet ++ written.keySet
        bucketIds.map(b => b ->
          (written.get(b).toSeq ++ carryFiles.getOrElse(b, Nil) ++
            inherited.getOrElse(b, Nil))).toMap
          .filter(_._2.nonEmpty)
      }
      if (manifest.isEmpty) {
        // nothing anywhere (e.g. a full delete): flat empty dir keeps schema
        // (the PHYSICAL schema — the colmap still presents the logical view)
        f.delete(gDir, true)
        physDf.drop(BucketCol).limit(0)
          .write.mode("overwrite").parquet(target.toString)
        Commit(marker, colMap = cm)
      } else {
        // zonemap: fresh stats for the files this publish wrote (one narrow
        // aggregate over the delta), inherited files copy their rows from
        // the previous version's zonemap driver-side (absent there, they
        // simply carry no stats and never prune).
        // r9: stats also cover VALUE columns (keys-first ordering) so
        // value-range reads (readWhere / predicated changes) skip files the
        // way Delta's dataSkippingNumIndexedCols stats do; the set is every
        // prunable-typed column up to the budget, or the caller's explicit
        // list.
        val tags = keys.map(k => zoneTag(df.schema(k).dataType))
        val vcols = valueStatsCols.getOrElse(
            df.columns.toSeq.filterNot(keys.contains).filter(c =>
              zoneTag(df.schema(c).dataType) != "x"))
          .filterNot(keys.contains).filter(df.columns.contains)
          .filterNot(_ == BucketCol)
          .take(math.max(0, MaxStatsCols - keys.size))
        val vtags = vcols.map(c => zoneTag(df.schema(c).dataType))
        // zone/bloom headers and stats jobs speak the at-rest PHYSICAL names
        // (the written files' own); tags/types are name-independent
        val pVcols = vcols.map(cm.toPhysical)
        val statCols = pKeys ++ pVcols
        val physSchema = org.apache.spark.sql.types.StructType(
          physDf.schema.fields.filterNot(_.name == BucketCol))
        val fresh =
          if (written.isEmpty) Nil
          else freshZoneStats(spark, Seq(gDir), statCols, physSchema)
        // a previous version's per-FILE stats entry carries iff its file is
        // still referenced: inside a wholly-inherited dir ref, named by an
        // inherited file ref (an earlier partial merge), or named by this
        // merge's carryFiles
        val carryRefs = inherited.values.flatten.toSet ++ carryFiles.values.flatten
        def stillReferenced(rel: String): Boolean = refsNaming(rel).exists(carryRefs)
        val carried: Seq[(String, Long, Seq[Option[(String, String)]])] =
          prev.flatMap(_.zones) match {
            case Some(z) if z.keys == pKeys && z.tags == tags &&
                z.vcols == pVcols && z.vtags == vtags =>
              z.entries.toSeq.collect {
                case (rel, (n, ranges)) if stillReferenced(rel) =>
                  (rel, n, ranges)
              }
            // stats-shape drift (e.g. a pre-r9 keys-only zonemap): carry the
            // KEY prefix of matching entries and pad the value columns with
            // no-stats — key pruning keeps working, value pruning starts
            // fresh from this publish's files
            case Some(z) if z.keys == pKeys && z.tags == tags =>
              z.entries.toSeq.collect {
                case (rel, (n, ranges)) if stillReferenced(rel) =>
                  (rel, n, ranges.take(keys.size).padTo(statCols.size, None))
              }
            case _ => Nil
          }
        val zones = Zones(pKeys, tags, pVcols, vtags,
          (carried ++ fresh).map { case (rel, n, rs) => rel -> (n, rs) }.toMap)
        // key blooms: sticky once enabled (a bloom-indexed table keeps its
        // index across merges that did not re-request it), fresh for the
        // files this publish wrote, carried for inherited files
        val prevBlooms = prev.flatMap(_.blooms).filter(_._1 == pKeys)
        val blooms =
          if (!keyBlooms && prevBlooms.isEmpty) None
          else {
            val freshB =
              if (written.isEmpty) Nil
              else freshBloomStats(spark, Seq(gDir), pKeys)
            val carriedB = prevBlooms.map(_._2.filter { case (rel, _) =>
              stillReferenced(rel)
            }).getOrElse(Map.empty)
            Some(pKeys -> (carriedB ++ freshB))
          }
        Commit(marker, buckets = Some(numBuckets -> manifest), zones = Some(zones),
          blooms = blooms, colMap = cm)
      }
    }
  }

  /** Rewrite the CURRENT bucketed snapshot into one fresh generation —
    * the maintenance counterpart of [[mergeInto]]'s copy-on-write. A long
    * merge history leaves the manifest referencing buckets scattered
    * across many generation directories; compaction reads the committed
    * snapshot once and republishes EVERY bucket into a single generation
    * (one data file per bucket), committed as the next version through
    * the same atomic pointer flip — readers see pre- or post-compaction,
    * never a mix, and row content is identical (spec-asserted). Old
    * generations are swept by the existing orphan gc once retention ages
    * out the versions referencing them.
    *
    * O(table) by design: run on a maintenance cadence (the Delta
    * OPTIMIZE / Iceberg rewrite_data_files role), while merges stay
    * O(delta). Returns the new version, or None when the table is absent
    * or flat (nothing to compact — flat tables rewrite whole anyway). */
  def compact(spark: SparkSession, baseDir: String, keys: Seq[String],
      marker: String, retain: Int = 2,
      valueStatsCols: Option[Seq[String]] = None,
      clusterBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      newNumBuckets: Option[Int] = None,
      keyBlooms: Boolean = false,
      zorderBy: Seq[String] = Nil): Option[Long] = {
    require(zorderBy.isEmpty || zorderBy.size == 2,
      s"zorderBy interleaves exactly two numeric dimensions, got $zorderBy " +
        "(for one dimension use clusterBy; for more, compose curve keys " +
        "with graft.io.Layout.zorder yourself)")
    currentVersion(spark, baseDir).flatMap { basis =>
      // basis pinning (see mergeInto): the manifest and the frame must
      // come from the SAME version the commit CAS will verify
      withBasis(spark, baseDir, basis) {
      val basisRec = recordOf(fs(spark, baseDir), versionPath(new Path(baseDir), basis))
      basisRec.buckets.map { case (nb, _) =>
        val current = frameOf(spark, baseDir, basis, basisRec)
        // OPTIMIZE ZORDER BY (r15): cluster each bucket's rewrite along a
        // Morton curve of the two dimensions, so per-file zone ranges
        // are tight on BOTH — a lexicographic clusterBy only serves its
        // leading column. The curve's bounding box costs one narrow agg
        // (four driver scalars) over the same pinned frame the rewrite
        // reads; nulls in a dimension sort first (null curve key).
        val zorderExprs: Seq[Column] =
          if (zorderBy.isEmpty) Nil
          else {
            import org.apache.spark.sql.functions.{max => fMax, min => fMin}
            val Seq(a, b) = zorderBy
            val r = current.agg(
              fMin(col(a).cast("double")), fMax(col(a).cast("double")),
              fMin(col(b).cast("double")), fMax(col(b).cast("double"))).head()
            def lo(i: Int) = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
            def hi(i: Int, l: Double) =
              if (r.isNullAt(i)) l + 1.0
              else math.max(r.getDouble(i), l + 1e-9) // degenerate range: constant column
            val (aLo, bLo) = (lo(0), lo(2))
            Seq(graft.io.Layout.zorder(
              graft.io.Layout.bucketize(col(a), aLo, hi(1, aLo)),
              graft.io.Layout.bucketize(col(b), bLo, hi(3, bLo))))
          }
        // bucket-count EVOLUTION: a table sized for 1 TB needs more buckets
        // at 100 TB (one bucket must fit an executor). The bucket count is
        // committed per version, so publishing this full rewrite under a
        // new count re-buckets atomically — readers flip with the pointer,
        // and every later merge adopts the committed count automatically
        // (mergeInto always reads the manifest's bucket count).
        //
        // Column-mapping NORMALIZATION rides the same full rewrite: the
        // new generation is written under the LOGICAL names (physical :=
        // logical, identity colmap) and dropped columns' bytes are
        // physically reified away — the REORG half of the
        // rename/drop-as-metadata contract. The sticky-bloom contract is
        // preserved across it by probing the basis blooms under the
        // basis's PHYSICAL key names.
        val basisCm = basisRec.colMap
        val stickyBlooms = basisRec.blooms.exists(_._1 == keys.map(basisCm.toPhysical))
        // normalization re-freezes physical := logical; the ORIGIN
        // lineage (new physical → birth physical) rides the colmap so
        // cross-version reads (CDF diffs, view-pinned probes, purges of
        // older retained versions) keep joining columns on their stable
        // birth identity across the re-freeze
        val normalizedCm = ColMap(Map.empty, Set.empty,
          rawFrame(spark, new Path(baseDir), versionPath(new Path(baseDir), basis),
            basisRec).columns.toSeq
            .filterNot(basisCm.dropped.contains)
            .flatMap { p =>
              val birth = basisCm.originOf(p)
              val newPhys = basisCm.toLogical(p)
              if (newPhys != birth) Some(newPhys -> birth) else None
            }.toMap)
        publishBucketed(current, baseDir, marker, keys,
          newNumBuckets.getOrElse(nb),
          inherited = Map.empty, retain = retain, expected = basis,
          valueStatsCols = valueStatsCols,
          clusterBy = clusterBy, maxRecordsPerFile = maxRecordsPerFile,
          keyBlooms = keyBlooms || stickyBlooms, clusterExprs = zorderExprs,
          cm = normalizedCm)
      }
      }
    }
  }

  /** Maintenance policy: compact the CURRENT snapshot when its metadata
    * says the read path has degraded past the thresholds —
    *
    *   - `maxOverlays`: pending merge-on-read overlays (each adds a
    *     reconciliation term to every read until folded), or
    *   - `maxGenerations`: distinct data generations the bucket manifest
    *     references (a long CoW merge history scatters buckets across
    *     many directories, degrading listing/locality).
    *
    * This is the scheduling half of the Delta OPTIMIZE / Iceberg
    * rewrite_data_files story: [[compact]] is the O(table) action, this
    * decides WHEN from O(metadata) alone — no data is read to make the
    * decision. Returns the new version if compaction ran, None if the
    * table is healthy, absent, or flat. Call it on the same cadence as
    * the merges (e.g. from foreachBatch after N triggers); it is cheap
    * to call every time. */
  def maintain(spark: SparkSession, baseDir: String, keys: Seq[String],
      marker: String, maxOverlays: Int = 4, maxGenerations: Int = 8,
      retain: Int = 2, clusterBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L, zorderBy: Seq[String] = Nil): Option[Long] =
    bucketManifest(spark, baseDir).flatMap { case (_, entries) =>
      val overlays = deltaManifest(spark, baseDir).size
      val generations = entries.values.flatten.map(_.split('/')(1)).toSet.size
      if (overlays > maxOverlays || generations > maxGenerations)
        // marker passes through VERBATIM: streaming callers hand the
        // "tag:batchId" lineage marker, and annotating it here would
        // corrupt the replay-skip parse (batchId is the last ':' segment)
        // clusterBy/zorderBy/maxRecordsPerFile pass through so scheduled
        // maintenance of a value- or curve-clustered table keeps its
        // layout instead of silently de-clustering it (key blooms are
        // sticky on their own)
        compact(spark, baseDir, keys, marker = marker, retain = retain,
          clusterBy = clusterBy, maxRecordsPerFile = maxRecordsPerFile,
          zorderBy = zorderBy)
      else None
    }

  /** MERGE INTO's matched-row clause: overwrite with the source row, or
    * delete the target row. */
  sealed trait MatchedAction
  case object UpdateMatched extends MatchedAction
  case object DeleteMatched extends MatchedAction

  /** Row-level MERGE INTO against the versioned snapshot — the
    * Delta/Iceberg `MERGE INTO target USING source ON keys WHEN MATCHED
    * THEN UPDATE/DELETE WHEN NOT MATCHED THEN INSERT` contract,
    * re-expressed as a declarative plan + one bucket-pruned copy-on-write
    * publish:
    *
    *   - matched + [[UpdateMatched]]: target row replaced by source row
    *   - matched + [[DeleteMatched]]: target row dropped
    *   - unmatched source rows inserted iff `insertUnmatched`
    *   - untouched target rows carried over verbatim
    *   - `deleteUnmatchedBySource = Some(cond)` adds the SQL:2023 /
    *     Delta `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE`
    *     clause: target rows with no source match AND satisfying `cond`
    *     (null ⇒ not deleted, WHERE semantics) are dropped — the
    *     full-sync shape ("remove what the feed no longer carries").
    *     This clause is O(table) BY DEFINITION — any row anywhere may be
    *     deletable, so bucket inheritance and zonemap refinement are
    *     disabled for the merge (every bucket rewrites once); production
    *     formats pay the same. Without the clause the O(delta) story
    *     below is unchanged.
    *   - `updateUnmatchedBySource = Some((cond, sets))` adds the
    *     `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …`
    *     variant (Delta's mark-stale shape): unmatched target rows
    *     satisfying `cond` get the `sets` column assignments; others
    *     keep their values. Same O(table) price as the delete clause.
    *     When BOTH BY SOURCE clauses are present, DELETE evaluates
    *     first (clause order), then UPDATE over the survivors.
    *
    * '''Cost shape — O(delta), not O(table).''' The snapshot is
    * hash-partitioned by key into `numBuckets` bucket directories (the
    * bucketed layout above). A merge first computes the source's bucket
    * set AND per-bucket key ranges (one small aggregate, ≤ numBuckets
    * rows), then reads and rewrites ONLY those buckets; every untouched
    * bucket directory is carried into the new version's bucket
    * manifest by REFERENCE — the same immutable files, zero bytes copied
    * (spec-asserted). Update-only and delete-only merges prune FURTHER
    * through the committed zonemap: a hash-touched bucket none
    * of whose files' key ranges intersect the source's range for that
    * bucket provably cannot change, so it is inherited too (measured
    * 43.7× fewer bytes staged for a fully value-disjoint update —
    * `tools/MergeBench`). This is the min/max data-skipping seam a
    * production table format provides, built from plain parquet + the
    * manifest: per micro-batch the
    * write cost is `(table/numBuckets) · touchedBuckets + |delta|`, which
    * for a key-local batch is a small constant fraction of the table
    * regardless of table size. Size `numBuckets` so one bucket fits an
    * executor comfortably (at 100 TB with numBuckets=65536, a bucket is
    * ~1.5 GB).
    *
    * Within touched buckets: one shuffle equi-join on `keys` (anti/semi —
    * never a row explosion) plus a union; the commit inherits the atomic
    * pointer flip, so readers see the pre- or post-merge snapshot, never
    * a torn mix, and a crash mid-merge is healed by the next publish.
    *
    * Source rows must be UNIQUE per key (the standard MERGE
    * precondition — a multi-match makes the update nondeterministic);
    * enforced distributed-side with a codegen assert, same discipline as
    * Anomaly's overflow require. The assert evaluates before any staging
    * write, so a rejected merge leaves no committed trace.
    *
    * `numBuckets` applies when the table is first created (or upgraded
    * from a flat layout); thereafter the committed manifest's bucket
    * count wins, so every merge agrees on the bucket function. */
  def mergeInto(baseDir: String, source: DataFrame, keys: Seq[String],
      whenMatched: MatchedAction, insertUnmatched: Boolean,
      marker: String, retain: Int = 2, numBuckets: Int = 32,
      evolveSchema: Boolean = false,
      valueStatsCols: Option[Seq[String]] = None,
      keyBlooms: Boolean = false,
      deleteUnmatchedBySource: Option[Column] = None,
      updateUnmatchedBySource: Option[(Column, Seq[(String, Column)])] = None): Long =
    mergeIntoAttempt(baseDir, source, keys, whenMatched, insertUnmatched,
      marker, retain, numBuckets, evolveSchema, valueStatsCols, keyBlooms,
      deleteUnmatchedBySource, updateUnmatchedBySource,
      preCompactAttempts = 3)

  /** Apply a CDF-shaped change batch — per-row upserts AND deletes — as
    * ONE MERGE commit. `changes` carries `opCol` ∈ {insert, update,
    * delete, purge}; rows fold to one action per key (an upsert beats a
    * retraction, so a subject purged and legitimately re-inserted inside
    * one endpoint window survives as its re-inserted row), then commit as
    * a single bucketed publish: matched keys with a delete/purge action
    * drop, every insert/update row lands, untouched buckets inherit.
    *
    * This replaces the up-to-three SEQUENTIAL merges (purge, delete,
    * upsert) a CDF consumer otherwise pays per batch: one commit's
    * constants instead of three (each merge is a stats job + a write job
    * + sidecar/manifest writes + a pointer CAS + a retention sweep — at
    * any scale the batch data cost is unchanged but the constant floor
    * drops 3×), and the multi-merge marker-stamping window is GONE — the
    * batch applies entirely or not at all, under one marker. */
  def applyChanges(baseDir: String, changes: DataFrame, keys: Seq[String],
      marker: String, opCol: String = "op", retain: Int = 2,
      numBuckets: Int = 32): Long = {
    require(keys.nonEmpty, "applyChanges needs at least one key column")
    val ups = changes.filter(col(opCol).isin("insert", "update")).drop(opCol)
    val retracts = changes.filter(col(opCol).isin("delete", "purge"))
      .select(keys.map(col): _*).distinct()
    // retraction-first fold, declaratively: a key with both a retraction
    // and an upsert row keeps the upsert (the re-insert semantics the
    // sequential purge→delete→upsert order provided)
    val delOnly = retracts.join(ups.select(keys.map(col): _*), keys, "left_anti")
    mergeIntoAttempt(baseDir, ups, keys, UpdateMatched,
      insertUnmatched = true, marker, retain, numBuckets,
      evolveSchema = false, valueStatsCols = None, keyBlooms = false,
      deleteUnmatchedBySource = None, updateUnmatchedBySource = None,
      preCompactAttempts = 3, extraDeleteKeys = Some(delOnly))
  }

  /** [[mergeInto]] body with a BOUNDED pre-merge-compact budget: the
    * overlay fold below re-enters the merge after compacting, and a
    * concurrent writer continually staging fresh overlays could
    * otherwise re-trigger full compacts indefinitely — a livelock of
    * repeated compacts. Exhausting the budget surfaces as the retryable
    * [[ConcurrentSnapshotUpdate]] so sustained contention lands in the
    * caller's [[retryOnConflict]] backoff instead. */
  private def mergeIntoAttempt(baseDir: String, source: DataFrame, keys: Seq[String],
      whenMatched: MatchedAction, insertUnmatched: Boolean,
      marker: String, retain: Int, numBuckets: Int,
      evolveSchema: Boolean,
      valueStatsCols: Option[Seq[String]],
      keyBlooms: Boolean,
      deleteUnmatchedBySource: Option[Column],
      updateUnmatchedBySource: Option[(Column, Seq[(String, Column)])],
      preCompactAttempts: Int,
      extraDeleteKeys: Option[DataFrame] = None): Long = {
    require(keys.nonEmpty, "MERGE needs at least one key column")
    val spark = source.sparkSession
    // multi-match rejection moved OUT of the row stream (r16): it used to
    // ride a count-over-window on the source, which re-materialized in
    // EVERY downstream job as an extra full-row exchange of the delta —
    // the write path paid (window shuffle + bucket repartition) where one
    // exchange suffices. The check now rides the key-level pre-aggregate
    // of the bucket-stats job below (Some branch) or a dedicated
    // key-columns-only job (seed branch): the same fail-before-staging
    // guarantee, shuffling key columns instead of whole rows (guide §2.3
    // "shuffle fewer bytes" / §2.4 "remove shuffles outright").
    val dupMsg = s"MERGE source has multiple rows for a (${keys.mkString(",")}) key"
    // the transaction's BASIS: one pointer read pins the version every
    // frame, manifest, and zonemap below derives from, and travels to the
    // commit CAS as `expected`. Re-resolving the pointer per read opened
    // a lost-update window: a commit landing between the data read and
    // the CAS read made the CAS vacuous (stress-spec-observed).
    currentVersion(spark, baseDir) match {
      case None =>
        // seed publish: the uniqueness proof rides the publish write
        // (r17, assertUniqueKeys — adjacent-equal keys under the write's
        // own bucket/key ordering assert with no extra exchange or sort),
        // replacing the separate pre-count action this path used to pay.
        // A dup source fails the staged write; the staged dir is aborted
        // and the table never commits — the same all-or-nothing outcome.
        val result = if (insertUnmatched) source else source.limit(0)
        publishBucketed(result, baseDir, marker, keys, numBuckets,
          inherited = Map.empty, retain = retain, expected = -1L,
          valueStatsCols = valueStatsCols, keyBlooms = keyBlooms,
          assertUniqueKeys = insertUnmatched)
      case Some(basis) => withBasis(spark, baseDir, basis) {
        val basisRec = recordOf(fs(spark, baseDir), versionPath(new Path(baseDir), basis))
        val target0 = frameOf(spark, baseDir, basis, basisRec)
        // callers and frames speak the basis version's LOGICAL names; the
        // zone headers and raw file scans below speak frozen physical
        // names — translate at exactly those two boundaries
        val cm = basisRec.colMap
        val pKeys = keys.map(cm.toPhysical)
        // pending merge-on-read overlays would be silently dropped by
        // bucket inheritance (overlay rows live outside the bucket files)
        // — fold them into fresh buckets first, then re-run against the
        // compacted state. The check reads the PINNED basis (a floating
        // read could miss overlays staged just before our basis commit).
        if (basisRec.deltas.exists(_._2.nonEmpty)) {
          if (preCompactAttempts <= 0)
            // a concurrent writer keeps staging overlays faster than we
            // can fold them — retryable contention, not silent livelock
            throw new ConcurrentSnapshotUpdate(baseDir, basis,
              currentVersion(spark, baseDir).getOrElse(-1L))
          compact(spark, baseDir, keys, marker = s"$marker:pre-merge-compact",
            retain = retain)
          return mergeIntoAttempt(baseDir, source, keys, whenMatched,
            insertUnmatched, marker, retain, numBuckets, evolveSchema,
            valueStatsCols, keyBlooms, deleteUnmatchedBySource,
            updateUnmatchedBySource, preCompactAttempts - 1, extraDeleteKeys)
        }
        // name AND type parity: a name-only check would let a type-drifted
        // source slide into a confusing analysis error (or a silently
        // widened column) deep inside publish
        def sig(df: DataFrame): Seq[(String, String)] =
          df.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq.sortBy(_._1)
        val evolved = evolveSchema && sig(target0) != sig(source)
        if (!evolveSchema)
          require(sig(target0) == sig(source),
            s"MERGE source schema ${sig(source).mkString(",")} must match " +
              s"snapshot schema ${sig(target0).mkString(",")} " +
              "(pass evolveSchema = true to union-evolve)")
        else {
          // evolution is union-by-name: columns may be ADDED on either
          // side (padded null on the other); a type CHANGE on a shared
          // column is still drift, never silent
          val tT = target0.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
          val sT = source.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
          require(keys.forall(sT.contains), s"source must carry the keys ${keys.mkString(",")}")
          (tT.keySet & sT.keySet).foreach { c =>
            require(tT(c) == sT(c),
              s"column $c type drift: snapshot ${tT(c)} vs source ${sT(c)}")
          }
          // a NEW logical column is born with physical name == its own —
          // which must not collide with a physical name the colmap still
          // occupies (a renamed-away original, or a dropped column whose
          // bytes await a reifying compact): the multi-generation read
          // would silently conflate the two
          if (!cm.isIdentity) {
            val rawPhysical = rawFrame(spark, new Path(baseDir),
              versionPath(new Path(baseDir), basis), basisRec).columns.toSet
            (sT.keySet -- tT.keySet).foreach { c =>
              require(!rawPhysical.contains(c),
                s"cannot add column $c: its physical name is still " +
                  "occupied by a renamed or dropped column — run compact " +
                  "to normalize the layout first")
            }
          }
        }
        // unified frame pair: snapshot columns first, new source columns
        // appended — old rows read the new columns as null
        val target = source.schema.fields.toSeq
          .filterNot(f => target0.columns.contains(f.name))
          .foldLeft(target0)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        val src = {
          val missing = target.schema.fields.toSeq
            .filterNot(f => source.columns.contains(f.name))
          missing.foldLeft(source)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
            .select(target.columns.map(col).toIndexedSeq: _*)
        }
        val (nb, entries0) = basisRec.buckets
          // legacy flat snapshot: this merge upgrades it to the bucketed
          // layout with one full rewrite (the last one it will ever pay)
          .getOrElse((numBuckets, Map.empty[Int, Seq[String]]))
        // a schema evolution rewrites EVERY bucket once: inherited files
        // would otherwise carry the old parquet schema and the plain
        // multi-path read would resolve columns inconsistently. Rare by
        // nature (schema migrations), priced accordingly.
        val entries = if (evolved) Map.empty[Int, Seq[String]] else entries0
        // bucket pruning: the source's bucket set (≤ nb rows) plus its
        // per-bucket key value ranges, in ONE small job — the multi-match
        // assert rides this first action, failing a bad source before
        // anything is staged. Two-level shape (r16): a key-level
        // pre-aggregate carries the per-key count for the assert, then
        // re-aggregates to bucket level — min/max/null of the KEY columns
        // are identical whether taken over rows or over distinct keys, so
        // the stats are unchanged while the job shuffles only key columns
        // and the write path no longer carries a count-over-window.
        val srcTags = keys.map(k => zoneTag(src.schema(k).dataType))
        // the key universe this merge touches: the source's keys plus —
        // for the per-row-action apply path — the keys it deletes. Both
        // the bucket/zonemap stats and the target's anti-join are keyed
        // off this frame, so deleted keys rewrite their buckets exactly
        // like updated ones.
        val srcKeysFrame = extraDeleteKeys match {
          case Some(dk) => src.select(keys.map(col): _*)
            .unionByName(dk.select(keys.map(col): _*))
          case None => src.select(keys.map(col): _*)
        }
        val keyLevel = srcKeysFrame.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__kn"))
          .withColumn("__chk", assert_true(col("__kn") === 1, lit(dupMsg)))
          .filter(col("__chk").isNull).drop("__kn", "__chk")
        val statAggs = probeAggs(src.schema, keys, srcTags)
        val grouped = keyLevel.groupBy(bucketOf(keys, nb).as("__b"))
        val bRows = (if (statAggs.isEmpty) grouped.agg(count(lit(1)).as("__n"))
                     else grouped.agg(statAggs.head, statAggs.tail: _*)).collect()
        // EMPTY-SOURCE no-op (r17): the bucket-stats job just proved the
        // source (plus any apply-path delete keys) carries ZERO rows; with
        // no BY SOURCE clause and no schema evolution such a merge can
        // only republish content-identical state — skip the commit and
        // return the basis. This is what lets CDF consumers
        // (replicateTo / changesStream bodies) hand every batch straight
        // to applyChanges without a per-batch `feed.limit(1).count()`
        // emptiness probe: the probe re-executed the endpoint diff as its
        // own Spark action (~0.2 s per micro-batch of pure constants),
        // where the stats job here already answers it for free.
        if (bRows.isEmpty && deleteUnmatchedBySource.isEmpty &&
            updateUnmatchedBySource.isEmpty && !evolved)
          return basis
        val touchedAll: Set[Int] =
          // the BY SOURCE delete clause can drop rows in ANY bucket —
          // every bucket is touched, nothing inherits (O(table) clause)
          if (deleteUnmatchedBySource.isDefined || updateUnmatchedBySource.isDefined)
            bRows.map(_.getAs[Int]("__b")).toSet ++ entries.keySet
          else bRows.map(_.getAs[Int]("__b")).toSet
        // zonemap refinement, two levels. The BY SOURCE clauses read every
        // target row, so neither level applies to them.
        //   bucket level — an update-only or delete-only merge cannot
        //   change a bucket none of whose files' key ranges intersect the
        //   source's range for that bucket: such hash-touched but
        //   value-disjoint buckets are INHERITED instead of rewritten.
        //   (insertUnmatched merges must land inserts in every touched
        //   bucket, so bucket-level pruning is off for them.)
        //   file level — within a touched bucket, a file whose key range
        //   is disjoint from the source's range for that bucket cannot
        //   hold a matched row (keys bucket by hash, so cross-bucket
        //   matches are impossible; null keys never equi-join-match): the
        //   file is carried into the new manifest BY REFERENCE and only
        //   the overlapping files are read and rewritten. This is the
        //   partial rewrite the multi-ref bucket section exists for,
        //   and it applies to insert merges too (inserts land in the
        //   bucket's fresh file alongside the carried ones).
        val zonesOpt =
          if (entries.isEmpty ||
            deleteUnmatchedBySource.isDefined ||
            updateUnmatchedBySource.isDefined) None
          else basisRec.zones.filter(z => z.keys == pKeys && z.tags == srcTags)
        val srcProbes: Map[Int, Seq[ZoneProbe]] =
          bRows.map(r => r.getAs[Int]("__b") -> probesOf(r, keys, srcTags)).toMap
        // each touched bucket's refs split into the files the merge reads
        // and rewrites and the files it carries by reference
        val split: Map[Int, (Seq[String], Seq[String])] = {
          val byRef = zonesOpt.map(z => filesByRef(z.entries))
          touchedAll.map { b =>
            val rels = entries.getOrElse(b, Nil)
            b -> byRef.fold((rels, Seq.empty[String]))(idx => consult(rels, idx) {
              case (_, (_, fRanges)) => zoneMeets(fRanges, srcProbes.getOrElse(b, Nil))
            })
          }.toMap
        }
        val touched: Set[Int] =
          if (zonesOpt.isEmpty || insertUnmatched) touchedAll
          // an empty bucket stays touched and writes nothing
          else touchedAll.filter(b => entries.get(b).forall(_.isEmpty) || split(b)._1.nonEmpty)
        val touchedRels = touched.toSeq.sorted.flatMap(split(_)._1)
        val carry: Map[Int, Seq[String]] =
          touched.toSeq.map(b => b -> split(b)._2).filter(_._2.nonEmpty).toMap
        val touchedPaths = touchedRels
          .map(rel => resolveRef(new Path(baseDir), rel).toString)
        val touchedTarget =
          if (entries.isEmpty) target // flat: no pruning available
          else if (touchedPaths.nonEmpty)
            presentLogical(readUniform(spark, touchedPaths), cm)
          else target.limit(0)
        val unmatchedTarget = touchedTarget
          .join(srcKeysFrame, keys, "left_anti")
        val afterBySourceDelete = deleteUnmatchedBySource match {
          // WHEN NOT MATCHED BY SOURCE AND cond THEN DELETE — null cond
          // keeps the row (SQL WHERE semantics)
          case Some(cond) => unmatchedTarget.filter(!coalesce(cond, lit(false)))
          case None => unmatchedTarget
        }
        val untouched = updateUnmatchedBySource match {
          // … THEN UPDATE SET — applied to the delete clause's survivors
          // (clause order); null cond leaves the row unchanged
          case Some((cond, sets)) =>
            sets.foreach { case (c, _) =>
              require(target.columns.contains(c),
                s"UPDATE SET column $c is not a snapshot column")
            }
            val hit = coalesce(cond, lit(false))
            val setMap = sets.toMap
            // ONE projection: every RHS evaluates against the OLD row
            // (SQL UPDATE semantics) — a withColumn fold would feed a
            // later assignment the earlier one's new value
            afterBySourceDelete.select(target.columns.toIndexedSeq.map { c =>
              setMap.get(c) match {
                case Some(v) =>
                  when(hit, v.cast(target.schema(c).dataType))
                    .otherwise(col(c)).as(c)
                case None => col(c)
              }
            }: _*)
          case None => afterBySourceDelete
        }
        val fromSource = (whenMatched, insertUnmatched) match {
          case (UpdateMatched, true) => src // upsert: every source row lands
          case (UpdateMatched, false) =>
            src.join(touchedTarget.select(keys.map(col): _*), keys, "left_semi")
          case (DeleteMatched, true) =>
            src.join(touchedTarget.select(keys.map(col): _*), keys, "left_anti")
          case (DeleteMatched, false) => src.limit(0)
        }
        publishBucketed(untouched.unionByName(fromSource), baseDir, marker,
          keys, nb, inherited = entries -- touched, retain = retain,
          expected = basis, valueStatsCols = valueStatsCols,
          keyBlooms = keyBlooms, carryFiles = carry, cm = cm)
      }
    }
  }

  /** Merge-on-read delta staging — the write path for deltas copy-on-write
    * CANNOT prune: a uniformly-spread key sample touches every hash
    * bucket, so [[mergeInto]] degenerates to a full rewrite no matter how
    * small the delta (measured in `graft.tools.MergeBench` / PLANS.md).
    * This is the delta-log idea of production table formats reduced to
    * the same plain-parquet + pointer machinery: the source rows are
    * written BLIND as one small overlay directory (`data/dNNNNN`,
    * O(|delta|) bytes — no base read, no bucket rewrite) and the new
    * version's record lists every live overlay in apply
    * order. [[read]] reconciles (newest overlay row per key wins;
    * [[UpdateMatched]] rows upsert, [[DeleteMatched]] rows delete);
    * [[compact]] folds all overlays into fresh buckets on a maintenance
    * cadence, restoring pruned-CoW merges. Write amplification 1 per
    * batch regardless of key spread — the cost moves to a bounded
    * read-side term that grows with the overlay count, which is the
    * knob `compact` resets.
    *
    * `action`: [[UpdateMatched]] stages upserts (full schema parity with
    * the table enforced, like MERGE); [[DeleteMatched]] stages
    * delete-by-key markers — the source may carry just the key columns
    * (padding is internal). Source keys must be unique per batch, same
    * precondition as [[mergeInto]]. Requires the bucketed layout (the
    * first upsert batch creates it); the atomic pointer flip, replay
    * markers, retention and orphan gc are all inherited unchanged. */
  def stageDelta(baseDir: String, source: DataFrame, keys: Seq[String],
      action: MatchedAction, marker: String, retain: Int = 2,
      numBuckets: Int = 32): Long = {
    require(keys.nonEmpty, "stageDelta needs at least one key column")
    val spark = source.sparkSession
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val uniqueSource = source
      .withColumn("__kn", count(lit(1)).over(w))
      .withColumn("__chk", assert_true(col("__kn") === 1,
        lit(s"delta batch has multiple rows for a (${keys.mkString(",")}) key")))
      .filter(col("__chk").isNull).drop("__kn", "__chk")
    currentVersion(spark, baseDir) match {
      case None =>
        val seeded = action match {
          case UpdateMatched => uniqueSource
          case DeleteMatched => uniqueSource.limit(0)
        }
        publishBucketed(seeded, baseDir, marker, keys, numBuckets,
          inherited = Map.empty, retain = retain, expected = -1L)
      case Some(cur) => withBasis(spark, baseDir, cur) {
        // basis pinning (see mergeInto): one pointer read serves the
        // schema frame, the carried manifests, and the commit CAS
        val f = fs(spark, baseDir)
        val base = new Path(baseDir)
        val curRec = recordOf(f, versionPath(base, cur))
        require(curRec.buckets.isDefined,
          "stageDelta requires the bucketed layout — seed the table via " +
            "mergeInto/stageDelta-upsert, not a flat publish")
        val current = frameOf(spark, baseDir, cur, curRec)
        val cm = curRec.colMap
        val pKeys = keys.map(cm.toPhysical)
        def sig(df: DataFrame): Seq[(String, String)] =
          df.schema.fields.map(fl => (fl.name, fl.dataType.catalogString)).toSeq.sortBy(_._1)
        val overlayRows = action match {
          case UpdateMatched =>
            require(sig(current) == sig(source),
              s"delta source schema ${sig(source).mkString(",")} must match " +
                s"snapshot schema ${sig(current).mkString(",")}")
            uniqueSource.select(current.columns.map(col).toIndexedSeq: _*)
              .withColumn(ActionCol, lit("u"))
          case DeleteMatched =>
            require(keys.forall(source.columns.contains),
              s"delete delta must carry the key columns ${keys.mkString(",")}")
            // key-only markers padded to the table schema so every overlay
            // file reads under one schema
            val padded = current.schema.fields.toIndexedSeq.map { fl =>
              if (keys.contains(fl.name)) col(fl.name)
              else lit(null).cast(fl.dataType).as(fl.name)
            }
            uniqueSource.select(padded: _*).withColumn(ActionCol, lit("d"))
        }
        val priorOverlays = curRec.deltas match {
          case Some((pk, dirs)) =>
            require(pk == pKeys,
              s"overlay keys $pk do not match this delta's keys $keys")
            dirs
          case None => Nil
        }
        // overlay files speak physical names and carry the full physical
        // set (dropped columns pad as typed nulls) — reconciliation unions
        // overlay epochs and the bucket files under ONE schema
        val overlayRowsP =
          if (cm.isIdentity) overlayRows
          else {
            val renamed = overlayRows.columns.toIndexedSeq.map(c =>
              col(c).as(cm.toPhysical(c)))
            val raw = rawFrame(spark, base, versionPath(base, cur), curRec).schema
            val padded = cm.dropped.toSeq.sorted.flatMap(dc =>
              raw.fields.find(_.name == dc)
                .map(fl => lit(null).cast(fl.dataType).as(dc)))
            overlayRows.select(renamed ++ padded: _*)
          }
        commit(spark, baseDir, cur, Some(retain)) { (next, _) =>
          val dRel = s"$DataDirName/d" + "%05d".formatLocal(java.util.Locale.ROOT, next)
          // one file per overlay: a delta is batch-sized by definition, and
          // overlay count — not file count per overlay — is the read cost
          overlayRowsP.coalesce(1).write.mode("overwrite")
            .parquet(resolveRef(base, dRel).toString)
          // bucket files are untouched by a blind overlay — their refs,
          // zonemap and blooms carry forward verbatim so delta versions
          // keep data skipping (overlay files themselves get no stats:
          // they are delta-sized and reconciliation reads them in full by
          // design)
          curRec.derive(marker).copy(deltas = Some((pKeys, priorOverlays :+ dRel)))
        }
      }
    }
  }

  /** Run `body` — one optimistic publish/merge attempt — and re-run it
    * when another writer wins the CAS, up to `attempts` total tries:
    * Delta's conflict-retry contract packaged as a combinator. This is
    * CORRECT to wrap around [[mergeInto]]/[[stageDelta]]/[[publish]]
    * (and anything composed of them) because each attempt re-reads the
    * committed snapshot at entry — the losing merge re-runs against the
    * winner's table state, so no update is lost and no update applies
    * twice (the replay-skip marker and key-level last-writer-wins hold
    * per attempt). Exponential backoff with random jitter decorrelates a
    * herd of retrying writers — under sustained contention a staging
    * merge takes long enough for several competitors to commit, so
    * linear waits livelock the slowest writer (observed in the stress
    * spec); doubling waits force the herd apart. Anything that is not a
    * conflict propagates immediately. */
  def retryOnConflict[A](attempts: Int = 5, backoffMs: Long = 50L)(body: => A): A = {
    require(attempts >= 1, "retryOnConflict needs at least one attempt")
    var tried = 0
    while (true) {
      try return body
      catch {
        case c: ConcurrentSnapshotUpdate =>
          tried += 1
          if (tried >= attempts) throw c
          val cap = math.min(backoffMs << math.min(tried - 1, 6), 5000L)
          Thread.sleep(cap / 2 +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(cap / 2 + 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Apply one micro-batch at most once per checkpoint lineage: skip it
    * when the table's marker already covers `batchId` of `checkpointTag`
    * ([[MicroBatch.applied]]), else run `commit` with the batch's marker.
    * The marker commits with the pointer flip, so the skip is exact. A
    * concurrent maintenance compactor (or ad-hoc merge) can win the CAS
    * against a micro-batch; `commit` then re-runs whole against the
    * winner's table ([[retryOnConflict]]), keeping the sink exactly-once
    * and the stream alive. */
  private def applyOnce(spark: SparkSession, baseDir: String,
      checkpointTag: String, batchId: Long)(commit: String => Unit): Unit =
    if (!MicroBatch.applied(lastApplied(spark, baseDir), checkpointTag, batchId))
      retryOnConflict()(commit(s"$checkpointTag:$batchId"))

  /** One delta-staging cycle driven by a micro-batch — [[stageDelta]]
    * with the replay skip of [[applyOnce]] and the last-writer-wins batch
    * reduction of [[MicroBatch.latestPerKey]]. */
  private[graft] def stageDeltaBatch(batch: DataFrame, keys: Seq[String],
      orderCol: String, baseDir: String, checkpointTag: String,
      batchId: Long, action: MatchedAction = UpdateMatched,
      retain: Int = 2, numBuckets: Int = 32): Unit = {
    val latest = MicroBatch.latestPerKey(batch, keys, orderCol)
    applyOnce(batch.sparkSession, baseDir, checkpointTag, batchId) { marker =>
      stageDelta(baseDir, latest, keys, action, marker = marker,
        retain = retain, numBuckets = numBuckets)
    }
  }

  /** Streaming merge-on-read CDC sink: [[mergeSink]]'s contract with
    * O(|batch|) write amplification per trigger regardless of key spread
    * — each micro-batch lands as one overlay via [[stageDelta]]. The
    * read-side reconciliation cost grows with the overlay count, so the
    * sink is SELF-MAINTAINING: after each staged batch, [[maintain]]
    * folds the overlays whenever more than `maxOverlays` are pending
    * (compaction commits through the same atomic pointer flip, so a
    * crash between stage and fold just leaves overlays for the next
    * trigger's maintenance to fold — nothing is lost or doubled). Pass
    * `maxOverlays = Int.MaxValue` to manage compaction externally. The
    * choice between the two sinks is the classic copy-on-write
    * (read-optimized) vs merge-on-read (write-optimized) table split. */
  def deltaSink(updates: DataFrame, keys: Seq[String], orderCol: String,
      baseDir: String, checkpoint: String, retain: Int = 2,
      numBuckets: Int = 32, maxOverlays: Int = 8)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    MicroBatch.drain(updates, checkpoint) { (batch, batchId) =>
      stageDeltaBatch(batch, keys, orderCol, baseDir,
        checkpointTag = checkpoint, batchId = batchId, retain = retain,
        numBuckets = numBuckets)
      if (maxOverlays != Int.MaxValue)
        // an external writer racing the fold must not fail the stream
        retryOnConflict() {
          maintain(batch.sparkSession, baseDir, keys,
            marker = s"$checkpoint:$batchId", maxOverlays = maxOverlays,
            retain = retain)
        }
      ()
    }

  /** One MERGE INTO cycle driven by a micro-batch — [[mergeInto]] with
    * the replay skip of [[applyOnce]]: a restarted stream re-delivering an
    * already-applied batch id leaves the snapshot untouched, so the sink
    * is effectively-once. The batch is first reduced to ONE row per key
    * ([[MicroBatch.latestPerKey]]), because a micro-batch can legally
    * carry several updates for one key while MERGE requires unique source
    * keys. */
  private[graft] def mergeIntoBatch(batch: DataFrame, keys: Seq[String],
      orderCol: String, baseDir: String, checkpointTag: String,
      batchId: Long, whenMatched: MatchedAction = UpdateMatched,
      retain: Int = 2, numBuckets: Int = 32): Unit = {
    val latest = MicroBatch.latestPerKey(batch, keys, orderCol)
    applyOnce(batch.sparkSession, baseDir, checkpointTag, batchId) { marker =>
      mergeInto(baseDir, latest, keys, whenMatched, insertUnmatched = true,
        marker = marker, retain = retain, numBuckets = numBuckets)
    }
  }

  /** Streaming CDC-upsert sink: maintain a keyed table from a stream of
    * row versions via MERGE INTO per micro-batch — the streaming
    * counterpart of a warehouse `MERGE` pipeline. Latest row per key
    * wins within a batch (by `orderCol`); across batches the snapshot's
    * pointer commit + lineage marker give effectively-once apply. Each
    * batch rewrites only the buckets its keys hash into ([[mergeInto]]'s
    * pruning), so per-trigger cost follows the BATCH size, not the
    * accumulated table size. */
  def mergeSink(updates: DataFrame, keys: Seq[String], orderCol: String,
      baseDir: String, checkpoint: String, retain: Int = 2,
      numBuckets: Int = 32): DataStreamWriter[org.apache.spark.sql.Row] =
    MicroBatch.drain(updates, checkpoint) { (batch, batchId) =>
      mergeIntoBatch(batch, keys, orderCol, baseDir,
        checkpointTag = checkpoint, batchId = batchId, retain = retain,
        numBuckets = numBuckets)
    }

  /** One merge cycle against the versioned snapshot: the batch's
    * mergeable (count, sum, min, max) partials per key
    * ([[graft.operators.Incremental.partials]]) merged into the current
    * version and published through [[publish]]'s pointer commit, with the
    * replay skip of [[applyOnce]]. Per-batch work is O(batch + snapshot
    * keys), never a rescan of history. */
  private[graft] def mergeBatch(batch: DataFrame, keys: Seq[String],
      valueCol: String, baseDir: String, checkpointTag: String,
      batchId: Long, retain: Int = 2): Unit = {
    val spark = batch.sparkSession
    val partial = graft.operators.Incremental.partials(batch, keys, col(valueCol))
    // the retry scope is read+merge+publish, NOT publish alone: a
    // conflict means the snapshot changed, so the merge itself must
    // recompute against the winner's rows or they would be lost. The
    // basis version is pinned per attempt and travels to the CAS.
    applyOnce(spark, baseDir, checkpointTag, batchId) { marker =>
      val basis = currentVersion(spark, baseDir)
      withBasis(spark, baseDir, basis.getOrElse(-1L)) {
        val merged = basis.map(versionFrame(spark, baseDir, _)) match {
          case Some(snap) => graft.operators.Incremental.merge(Seq(snap, partial), keys)
          case None => partial
        }
        publish(merged, baseDir, marker, retain,
          expected = Some(basis.getOrElse(-1L)))
      }
    }
  }

  /** Streaming sink: maintain the versioned snapshot from a stream of new
    * rows, one [[mergeBatch]] per micro-batch — the streaming form of the
    * reference's hourly full refresh that survives a long history with a
    * small hourly batch. */
  def sink(events: DataFrame, keys: Seq[String], valueCol: String,
      baseDir: String, checkpoint: String, retain: Int = 2)
      : DataStreamWriter[org.apache.spark.sql.Row] =
    MicroBatch.drain(events, checkpoint) { (batch, batchId) =>
      mergeBatch(batch, keys, valueCol, baseDir,
        checkpointTag = checkpoint, batchId = batchId, retain = retain)
    }
}
