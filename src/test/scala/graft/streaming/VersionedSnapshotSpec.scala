package graft.streaming

import graft.SparkSpec
import graft.io.Sources
import java.nio.file.Files
import org.apache.spark.sql.functions._

class VersionedSnapshotSpec extends SparkSpec {

  test("versioned sink merges per-batch partials into a full-history-equivalent snapshot") {
    val dir = Files.createTempDirectory("graft-vsnap")
    val inDir = dir.resolve("in"); Files.createDirectories(inDir)
    def shard(name: String, rows: String): Unit =
      Files.writeString(inDir.resolve(name),
        "user_id,track_id,listen_time\n" + rows)
    shard("a.csv",
      """1,t1,2024-06-25T10:00:00.000Z
        |2,t1,2024-06-25T10:10:00.000Z
        |""".stripMargin)
    shard("b.csv",
      """1,t2,2024-06-25T11:00:00.000Z
        |3,t1,2024-06-25T11:30:00.000Z
        |""".stripMargin)
    shard("c.csv", "2,t2,2024-06-25T12:00:00.000Z\n")
    val stream = StreamingKpis.fileStream(spark, Sources.streamsSchema,
        inDir.toString, maxFilesPerTrigger = 1)
      .withColumn("v", length(col("track_id")).cast("long"))
    val base = dir.resolve("snap").toString
    VersionedSnapshot.sink(stream, Seq("user_id"), "v",
      base, dir.resolve("ckpt").toString).start().awaitTermination(60000)
    val got = VersionedSnapshot.read(spark, base).get
      .selectExpr("user_id", "n", "sum_v").collect()
      .map(r => (r.getAs[Number]("user_id").longValue(),
        r.getAs[Long]("n"), r.getAs[Long]("sum_v"))).toSet
    assert(got == Set((1L, 2L, 4L), (2L, 2L, 4L), (3L, 1L, 2L)))
    // three merge cycles ran, but retain=2 keeps exactly two version dirs
    val versions = new java.io.File(base).listFiles()
      .map(_.getName).filter(_.startsWith("v")).sorted.toSeq
    assert(versions.size == 2, s"retention should keep 2 versions, saw $versions")
  }

  test("pointer flip is the commit: old version survives one publish; replay skips; resets merge") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vsnap2").resolve("snap").toString
    val batch = Seq((1L, 2L), (2L, 3L)).toDF("k", "v")
    VersionedSnapshot.mergeBatch(batch, Seq("k"), "v", base, "ck1", 0L)
    val v1 = VersionedSnapshot.currentVersion(spark, base).get
    // a reader bound to v1's directory BEFORE the next publish…
    val v1Dir = new java.io.File(base, f"v$v1%05d")
    assert(v1Dir.exists)
    VersionedSnapshot.mergeBatch(batch, Seq("k"), "v", base, "ck1", 1L)
    val v2 = VersionedSnapshot.currentVersion(spark, base).get
    assert(v2 == v1 + 1)
    // …still has its complete immutable input after the flip (retain=2)
    assert(v1Dir.exists, "previous version must survive one publish for in-flight readers")
    def state() = VersionedSnapshot.read(spark, base).get
      .selectExpr("k", "n", "sum_v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(state() == Set((1L, 2L, 4L), (2L, 2L, 6L)))
    // same-lineage replay of batch 1 — skipped, pointer unmoved
    VersionedSnapshot.mergeBatch(batch, Seq("k"), "v", base, "ck1", 1L)
    assert(VersionedSnapshot.currentVersion(spark, base).get == v2)
    assert(state() == Set((1L, 2L, 4L), (2L, 2L, 6L)))
    // lineage reset: same batchId under a new tag carries unseen data → merges
    VersionedSnapshot.mergeBatch(batch, Seq("k"), "v", base, "ck2", 1L)
    assert(state() == Set((1L, 3L, 6L), (2L, 3L, 9L)))
  }

  test("a crashed publish's uncommitted version dir is cleared, never committed or reused") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vsnap3").resolve("snap").toString
    val batch = Seq((1L, 5L)).toDF("k", "v")
    VersionedSnapshot.mergeBatch(batch, Seq("k"), "v", base, "ck", 0L)
    val v = VersionedSnapshot.currentVersion(spark, base).get
    // simulate a crash mid-write of a LATER version: dir exists, pointer not flipped
    val orphan = new java.io.File(base, f"v${v + 7}%05d")
    Files.createDirectories(orphan.toPath)
    Files.writeString(orphan.toPath.resolve("part-garbage.parquet"), "not parquet")
    VersionedSnapshot.mergeBatch(batch, Seq("k"), "v", base, "ck", 1L)
    assert(!orphan.exists, "uncommitted orphan version must be pruned")
    // the new commit must not have landed on the orphan's half-written number
    assert(VersionedSnapshot.currentVersion(spark, base).get > v + 7)
    val got = VersionedSnapshot.read(spark, base).get
      .selectExpr("k", "n", "sum_v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 10L)))
  }

  test("crash between staging and pointer commit: readers hold, re-publish heals") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vsnap6").resolve("snap").toString
    val v0 = VersionedSnapshot.publish(Seq((1L, 10L)).toDF("k", "v"), base, "m0")
    def rows() = VersionedSnapshot.read(spark, base).get
      .selectExpr("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows() == Set((1L, 10L)))
    // a stale tmp pointer from an even earlier crash must not confuse commit
    Files.writeString(java.nio.file.Paths.get(base, "_CURRENT.tmp"), "999")
    // inject the crash AFTER the new version dir (data+marker+manifest) is
    // fully staged, BEFORE the pointer rename
    spark.conf.set(VersionedSnapshot.CrashBeforeCommitConf, "true")
    try intercept[IllegalStateException] {
      VersionedSnapshot.publish(Seq((1L, 20L)).toDF("k", "v"), base, "m1")
    } finally spark.conf.unset(VersionedSnapshot.CrashBeforeCommitConf)
    // the staged-but-uncommitted dir exists in full…
    val staged = new java.io.File(base).listFiles().map(_.getName)
      .filter(n => n.startsWith("v") && n != f"v$v0%05d")
    assert(staged.nonEmpty, "crash must land after the version dir is staged")
    // …yet every read-side API still serves the committed version
    assert(VersionedSnapshot.currentVersion(spark, base).contains(v0))
    assert(rows() == Set((1L, 10L)))
    assert(VersionedSnapshot.validateCurrent(spark, base))
    // re-publish heals: clears the orphan, commits past its number
    val v2 = VersionedSnapshot.publish(Seq((1L, 30L)).toDF("k", "v"), base, "m2")
    assert(v2 > v0)
    assert(rows() == Set((1L, 30L)))
    assert(VersionedSnapshot.validateCurrent(spark, base))
    val leftover = new java.io.File(base).listFiles().map(_.getName)
      .filter(n => staged.contains(n))
    assert(leftover.isEmpty, "healed publish must clear the uncommitted dir")
  }

  test("mergeSink upserts a keyed table from a live stream, last writer wins") {
    val dir = Files.createTempDirectory("graft-msink")
    val inDir = dir.resolve("in"); Files.createDirectories(inDir)
    def shard(name: String, rows: String): Unit =
      Files.writeString(inDir.resolve(name),
        "user_id,track_id,listen_time\n" + rows)
    // user 1 appears in two files with different tracks — the later
    // micro-batch must overwrite; user 3 only in the second
    shard("a.csv",
      """1,tA,2024-06-25T10:00:00.000Z
        |2,tB,2024-06-25T10:10:00.000Z
        |""".stripMargin)
    shard("b.csv",
      """1,tC,2024-06-25T11:00:00.000Z
        |1,tD,2024-06-25T11:30:00.000Z
        |3,tE,2024-06-25T11:40:00.000Z
        |""".stripMargin)
    // the file source orders micro-batches by modification time — pin it
    // so a.csv is applied first (upsert order is the point of this test)
    java.nio.file.Files.setLastModifiedTime(inDir.resolve("a.csv"),
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L))
    java.nio.file.Files.setLastModifiedTime(inDir.resolve("b.csv"),
      java.nio.file.attribute.FileTime.fromMillis(1000000060000L))
    val stream = StreamingKpis.fileStream(spark, Sources.streamsSchema,
      inDir.toString, maxFilesPerTrigger = 1)
    val base = dir.resolve("snap").toString
    VersionedSnapshot.mergeSink(stream, Seq("user_id"), "listen_time",
      base, dir.resolve("ckpt").toString).start().awaitTermination(60000)
    val got = VersionedSnapshot.read(spark, base).get
      .selectExpr("user_id", "track_id").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getString(1)).toMap
    // within b.csv user 1's LATEST by listen_time is tD; tA was replaced
    assert(got == Map(1L -> "tD", 2L -> "tB", 3L -> "tE"))
  }

  test("a SEED merge with duplicate source keys fails all-or-nothing " +
      "(r17: the uniqueness proof rides the publish write)") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-seeddup").resolve("snap").toString
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    val err = intercept[Exception] {
      VersionedSnapshot.mergeInto(base,
        Seq((1L, "a"), (2L, "b"), (2L, "c")).toDF("k", "v"), Seq("k"),
        UpdateMatched, insertUnmatched = true, marker = "dup-seed",
        numBuckets = 4)
    }
    assert(messages(err).exists(_.contains("multiple rows")),
      messages(err).mkString(" | "))
    assert(VersionedSnapshot.currentVersion(spark, base).isEmpty,
      "a failed seed must never commit")
    // the table still seeds cleanly afterwards (no litter blocks it)
    VersionedSnapshot.mergeInto(base,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    assert(VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("mergeInto covers the four MERGE clauses and rejects multi-match sources") {
    import spark.implicits._
    import VersionedSnapshot.{DeleteMatched, UpdateMatched}
    val base = Files.createTempDirectory("graft-merge").resolve("snap").toString
    def rows() = VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toSet
    // seed (empty table + insert)
    VersionedSnapshot.mergeInto(base,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed")
    assert(rows() == Set((1L, "a"), (2L, "b")))
    // update without insert: unmatched source rows are dropped
    VersionedSnapshot.mergeInto(base,
      Seq((2L, "B"), (9L, "x")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "upd")
    assert(rows() == Set((1L, "a"), (2L, "B")))
    // delete + insert: matched keys go, new keys land
    VersionedSnapshot.mergeInto(base,
      Seq((1L, "-"), (7L, "g")).toDF("k", "v"), Seq("k"),
      DeleteMatched, insertUnmatched = true, marker = "del+ins")
    assert(rows() == Set((2L, "B"), (7L, "g")))
    // each merge is a pointer-committed version: three merges, retain=2
    val vs = new java.io.File(base).listFiles().map(_.getName).filter(_.startsWith("v"))
    assert(vs.length == 2)
    // a source with two rows for one key must fail the job, not pick one
    val err = intercept[Exception] {
      VersionedSnapshot.mergeInto(base,
        Seq((2L, "x"), (2L, "y")).toDF("k", "v"), Seq("k"),
        UpdateMatched, insertUnmatched = true, marker = "dup")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("multiple rows")))
    assert(rows() == Set((2L, "B"), (7L, "g"))) // failed merge left no trace
    // schema drift is rejected up front — extra columns AND type drift
    intercept[IllegalArgumentException] {
      VersionedSnapshot.mergeInto(base,
        Seq((2L, "x", 1L)).toDF("k", "v", "extra"), Seq("k"),
        UpdateMatched, insertUnmatched = true, marker = "drift")
    }
    intercept[IllegalArgumentException] {
      VersionedSnapshot.mergeInto(base,
        Seq((2L, 99L)).toDF("k", "v"), Seq("k"), // v long, snapshot has string
        UpdateMatched, insertUnmatched = true, marker = "typedrift")
    }
  }

  test("WHEN NOT MATCHED BY SOURCE deletes conditioned unmatched rows; null cond keeps") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-fsync").resolve("snap").toString
    def rows() = VersionedSnapshot.read(spark, base).get
      .as[(Long, String, Option[Long])].collect().toSet
    VersionedSnapshot.mergeInto(base,
      Seq((1L, "a", Some(10L)), (2L, "b", Some(900L)), (3L, "c", Some(5L)),
        (4L, "d", None)).toDF("k", "v", "w"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "seed")
    // source matches k=1 (update) and brings k=9 (insert); unmatched
    // k=2 (w=900, cond false → kept), k=3 (w=5, cond true → DELETED),
    // k=4 (w null → cond null → kept, WHERE semantics)
    VersionedSnapshot.mergeInto(base,
      Seq((1L, "A", Some(11L)), (9L, "i", Some(1L))).toDF("k", "v", "w"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "sync",
      deleteUnmatchedBySource = Some(col("w") < 100L))
    assert(rows() == Set((1L, "A", Some(11L)), (2L, "b", Some(900L)),
      (4L, "d", None), (9L, "i", Some(1L))))
    // without the clause the same merge shape deletes nothing (regression)
    VersionedSnapshot.mergeInto(base,
      Seq((9L, "I", Some(2L))).toDF("k", "v", "w"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "plain")
    assert(rows() == Set((1L, "A", Some(11L)), (2L, "b", Some(900L)),
      (4L, "d", None), (9L, "I", Some(2L))))
  }

  test("NOT MATCHED BY SOURCE UPDATE SET: old-row RHS semantics, delete precedence") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-stale").resolve("snap").toString
    def rows() = VersionedSnapshot.read(spark, base).get
      .as[(Long, Long, Long)].collect().toSet
    VersionedSnapshot.mergeInto(base,
      Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L)).toDF("k", "a", "b"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "seed")
    // k=1 matched (update); k=2, k=3 unmatched. UPDATE swaps a and b —
    // if the RHS saw the fold's intermediate value, b would get the NEW
    // a instead of the old one
    VersionedSnapshot.mergeInto(base,
      Seq((1L, 11L, 101L)).toDF("k", "a", "b"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "swap",
      updateUnmatchedBySource =
        Some((col("k") === 2L, Seq("a" -> col("b"), "b" -> col("a")))))
    assert(rows() == Set((1L, 11L, 101L), (2L, 200L, 20L), (3L, 30L, 300L)))
    // both BY SOURCE clauses: DELETE first, UPDATE only over survivors
    VersionedSnapshot.mergeInto(base,
      Seq((1L, 12L, 102L)).toDF("k", "a", "b"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "both",
      deleteUnmatchedBySource = Some(col("k") === 3L),
      updateUnmatchedBySource =
        Some((col("a") > 0L, Seq("b" -> (col("b") + 1L)))))
    assert(rows() == Set((1L, 12L, 102L), (2L, 200L, 21L)))
    // a set column that is not a snapshot column is rejected up front
    intercept[IllegalArgumentException] {
      VersionedSnapshot.mergeInto(base,
        Seq((1L, 13L, 103L)).toDF("k", "a", "b"),
        Seq("k"), UpdateMatched, insertUnmatched = true, marker = "badcol",
        updateUnmatchedBySource = Some((lit(true), Seq("nope" -> lit(1L)))))
    }
  }

  test("manifest validates a committed version and catches partial copies") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vsnap5").resolve("snap").toString
    val df = (1L to 100L).map(i => (i, i * 2)).toDF("k", "v").repartition(3)
    val v = VersionedSnapshot.publish(df, base, marker = "ck:0")
    assert(VersionedSnapshot.validateCurrent(spark, base))
    // truncate one data file → length mismatch detected
    val dir = new java.io.File(base, "v%05d".format(v))
    val part = dir.listFiles().filter(f =>
      !f.getName.startsWith("_") && !f.getName.startsWith(".")).head
    val ch = new java.io.RandomAccessFile(part, "rw")
    try ch.setLength(part.length() - 1) finally ch.close()
    assert(!VersionedSnapshot.validateCurrent(spark, base))
    ch.close()
    // restore length won't restore content, but the manifest check is
    // listing-based: a STRAY file must also fail validation
    val ra = new java.io.RandomAccessFile(part, "rw")
    try ra.setLength(part.length() + 1) finally ra.close()
    val stray = new java.io.File(dir, "stray.parquet")
    assert(stray.createNewFile())
    assert(!VersionedSnapshot.validateCurrent(spark, base))
    assert(stray.delete())
  }

  test("file-level carry: a 1-key merge into a multi-file bucket rewrites one file, carries siblings by reference") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-fcarry").resolve("snap").toString
    val seed = (1L to 800L).map(i => (i, s"v$i")).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, seed, Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    // key-clustered multi-file buckets: ~200 rows/bucket split at 40/file
    VersionedSnapshot.compact(spark, base, Seq("k"), marker = "split",
      maxRecordsPerFile = 40L)
    val (_, entries0) = VersionedSnapshot.bucketManifest(spark, base).get
    def inventory(rels: Seq[String]): Map[String, (Long, Long)] =
      rels.flatMap { rel =>
        val d = new java.io.File(base, rel)
        if (d.isFile) Seq(d.getPath -> (d.length(), d.lastModified()))
        else d.listFiles().toSeq
          .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
          .map(f => f.getPath -> (f.length(), f.lastModified()))
      }.toMap
    val before = entries0.map { case (b, rels) => b -> inventory(rels) }
    assert(before.values.forall(_.size >= 3),
      "compact(maxRecordsPerFile) must split each bucket into several files")
    // update ONE key — touches one bucket, overlaps one of its files
    val delta = Seq((17L, "UPD")).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, delta, Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "one", numBuckets = 4)
    val (_, entries1) = VersionedSnapshot.bucketManifest(spark, base).get
    val changedBuckets = entries1.filter { case (b, rels) => !entries0.get(b).contains(rels) }
    assert(changedBuckets.keySet.size == 1, s"one bucket touched, got ${changedBuckets.keySet}")
    val (b, rels1) = changedBuckets.head
    // the touched bucket's new manifest: per-file carried refs + one new dir
    val fileRefs = rels1.filter(_.endsWith(".parquet"))
    assert(fileRefs.nonEmpty, s"siblings must be carried by per-file reference, got $rels1")
    // every carried file is byte-identical to the pre-merge inventory
    val now = inventory(rels1)
    val old = before(b)
    (now.keySet & old.keySet).foreach(p => assert(now(p) == old(p), s"carried $p rewritten"))
    assert((now.keySet & old.keySet).size == fileRefs.size)
    // rewritten bytes ≪ bucket bytes: only the one overlapping file moved
    val rewritten = (now.keySet -- old.keySet).map(now(_)._1).sum
    val bucketBytes = old.values.map(_._1).sum
    assert(rewritten < bucketBytes,
      s"partial rewrite must stage less than the bucket ($rewritten vs $bucketBytes)")
    // all OTHER buckets inherited untouched
    entries1.foreach { case (ob, rels) =>
      if (ob != b) assert(entries0.get(ob).contains(rels), s"bucket $ob must inherit") }
    // content correct, manifest valid, point reads still prune
    val got = VersionedSnapshot.read(spark, base).get.as[(Long, String)].collect().toMap
    assert(got.size == 800 && got(17L) == "UPD" && got(16L) == "v16")
    assert(VersionedSnapshot.validateCurrent(spark, base))
    val probe = Seq(17L).toDF("k")
    val bound = VersionedSnapshot.readForKeys(spark, base, probe).get
    assert(bound.as[(Long, String)].collect().toMap.apply(17L) == "UPD")
    // a second selective merge composes: carried refs stay per-file
    // (possibly now nested under an already-partial manifest), content
    // stays exact
    val k2 = 523L
    VersionedSnapshot.mergeInto(base, Seq((k2, "UPD2")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "two", numBuckets = 4)
    val got2 = VersionedSnapshot.read(spark, base).get.as[(Long, String)].collect().toMap
    assert(got2.size == 800 && got2(17L) == "UPD" && got2(k2) == "UPD2")
    assert(VersionedSnapshot.validateCurrent(spark, base))
  }

  test("mergeInto rewrites only touched buckets; untouched bucket files are shared by reference") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-bmerge").resolve("snap").toString
    val seed = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, seed, Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 8)
    val (nb0, entries0) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(nb0 == 8 && entries0.nonEmpty)
    // inventory of every bucket file BEFORE the delta merge (a manifest
    // ref is a bucket dir or — after a partial merge — one parquet file)
    def files(rel: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(base, rel)
      if (d.isFile) Map(d.getPath -> (d.length(), d.lastModified()))
      else d.listFiles().filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    def bucketFiles(rels: Seq[String]): Map[String, (Long, Long)] =
      rels.flatMap(files).toMap
    val before = entries0.map { case (b, rels) => b -> bucketFiles(rels) }
    // a 3-key delta — touches at most 3 of the 8 buckets
    val delta = Seq((1L, "V1"), (2L, "V2"), (401L, "NEW")).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, delta, Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "delta", numBuckets = 8)
    val (nb1, entries1) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(nb1 == 8)
    val changed = entries1.filter { case (b, rels) => !entries0.get(b).contains(rels) }
    assert(changed.size <= 3,
      s"a 3-key delta may rewrite at most 3 buckets, rewrote ${changed.keySet}")
    assert(changed.nonEmpty, "the delta's buckets must move to a new data dir")
    // every untouched bucket: SAME refs, SAME files, untouched bytes+mtimes
    val kept = entries1.filter { case (b, rels) => entries0.get(b).contains(rels) }
    assert(kept.nonEmpty)
    kept.foreach { case (b, rels) =>
      assert(bucketFiles(rels) == before(b),
        s"untouched bucket $b must not be rewritten (refs $rels changed)")
    }
    // file-level carry: even REWRITTEN buckets never re-copy bytes that a
    // carried file ref still covers — every pre-merge file referenced by
    // the new manifest is byte-identical
    entries1.foreach { case (b, rels) =>
      val now = bucketFiles(rels)
      before.get(b).foreach { old =>
        (now.keySet & old.keySet).foreach { p =>
          assert(now(p) == old(p), s"carried file $p of bucket $b was rewritten")
        }
      }
    }
    // and the merged table is semantically right
    val got = VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toMap
    assert(got.size == 401 && got(1L) == "V1" && got(2L) == "V2" &&
      got(401L) == "NEW" && got(3L) == "v3")
    // integrity manifest covers the referenced bucket files and validates
    assert(VersionedSnapshot.validateCurrent(spark, base))
  }

  test("compact collapses a merge history into one generation, one file per bucket, content-identical") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-compact").resolve("snap").toString
    val seed = (1L to 300L).map(i => (i, s"v$i")).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, seed, Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 8)
    // a run of small merges scatters buckets across generations
    for (g <- 1 to 4) {
      val delta = Seq((g.toLong, s"G$g"), (300L + g, s"N$g")).toDF("k", "v")
      VersionedSnapshot.mergeInto(base, delta, Seq("k"),
        UpdateMatched, insertUnmatched = true, marker = s"delta$g", numBuckets = 8)
    }
    val (_, fragEntries) = VersionedSnapshot.bucketManifest(spark, base).get
    val fragGens = fragEntries.values.flatten.map(_.split('/')(1)).toSet
    assert(fragGens.size > 1, s"history should span generations, got $fragGens")
    val want = VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toMap
    val vBefore = VersionedSnapshot.currentVersion(spark, base).get

    val vAfter = VersionedSnapshot.compact(spark, base, Seq("k"), marker = "compact").get
    assert(vAfter == vBefore + 1)
    val (nb2, entries2) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(nb2 == 8)
    // one generation, one data file per occupied bucket
    assert(entries2.values.flatten.map(_.split('/')(1)).toSet.size == 1,
      "compaction must land every bucket in a single generation")
    entries2.foreach { case (b, rels) =>
      assert(rels.size == 1, s"bucket $b should hold one dir ref, got $rels")
      val d = new java.io.File(base, rels.head)
      val parts = d.listFiles().filter(f =>
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(parts.length == 1, s"bucket $b should hold one file, got ${parts.length}")
    }
    // row content identical, manifest valid, readers fine
    val got = VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toMap
    assert(got == want, "compaction must not change table content")
    assert(VersionedSnapshot.validateCurrent(spark, base))
    // a merge after compaction still prunes: untouched buckets keep
    // referencing the compacted generation
    VersionedSnapshot.mergeInto(base, Seq((1L, "Z")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "post", numBuckets = 8)
    val (_, entries3) = VersionedSnapshot.bucketManifest(spark, base).get
    val stillShared = entries3.count { case (b, rel) => entries2.get(b).contains(rel) }
    assert(stillShared >= entries2.size - 1,
      "a 1-key merge after compaction must reuse all but one compacted bucket")
    // flat table: nothing to compact
    val flatBase = Files.createTempDirectory("graft-compactflat").resolve("s").toString
    VersionedSnapshot.publish(seed, flatBase, marker = "flat")
    assert(VersionedSnapshot.compact(spark, flatBase, Seq("k"), marker = "x").isEmpty)
  }

  test("bucketed retention GCs data dirs only when no retained version references them") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-bgc").resolve("snap").toString
    def dataDirs() = {
      val d = new java.io.File(base, "data")
      if (!d.exists) Set.empty[String] else d.listFiles().map(_.getName).toSet
    }
    VersionedSnapshot.mergeInto(base, (1L to 100L).map(i => (i, i)).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "m0", numBuckets = 4)
    // two delta merges (retain=2 drops v0's DIR, but v1/v2 still reference
    // g00000's untouched buckets — it must survive the sweep)
    VersionedSnapshot.mergeInto(base, Seq((1L, 0L)).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "m1", numBuckets = 4)
    VersionedSnapshot.mergeInto(base, Seq((2L, 0L)).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "m2", numBuckets = 4)
    assert(dataDirs().contains("g00000"),
      "g00000 holds buckets still referenced by retained versions")
    // two FULL rewrites: after them no retained version references g00000.
    // The sweep honors the orphan age horizon (a young dir may belong to a
    // concurrent writer this gc's point-in-time listings cannot see), so
    // shrink the horizon to surface the sweep in-test.
    val full = (1L to 100L).map(i => (i, -i)).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, full, Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "m3", numBuckets = 4)
    spark.conf.set(VersionedSnapshot.StaleClaimMsConf, "1")
    try {
      Thread.sleep(10)
      VersionedSnapshot.mergeInto(base, full, Seq("k"),
        UpdateMatched, insertUnmatched = true, marker = "m4", numBuckets = 4)
    } finally spark.conf.unset(VersionedSnapshot.StaleClaimMsConf)
    assert(!dataDirs().contains("g00000"), "unreferenced data dir must be swept")
    val got = VersionedSnapshot.read(spark, base).get
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 100L).map(i => i -> -i).toMap)
  }

  test("bucketed crash before pointer commit: readers hold, re-merge heals, staging GC'd") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-bcrash").resolve("snap").toString
    VersionedSnapshot.mergeInto(base, Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    val v0 = VersionedSnapshot.currentVersion(spark, base).get
    def rows() = VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toSet
    spark.conf.set(VersionedSnapshot.CrashBeforeCommitConf, "true")
    try intercept[IllegalStateException] {
      VersionedSnapshot.mergeInto(base, Seq((1L, "A")).toDF("k", "v"),
        Seq("k"), UpdateMatched, insertUnmatched = true, marker = "crash", numBuckets = 4)
    } finally spark.conf.unset(VersionedSnapshot.CrashBeforeCommitConf)
    // committed state intact, including its integrity manifest
    assert(VersionedSnapshot.currentVersion(spark, base).contains(v0))
    assert(rows() == Set((1L, "a"), (2L, "b")))
    assert(VersionedSnapshot.validateCurrent(spark, base))
    // re-merge heals past the crashed number and sweeps its staging
    // (shrink the orphan age horizon: the crashed generation dir is
    // seconds old, and a production gc defers young dirs to a later pass)
    spark.conf.set(VersionedSnapshot.StaleClaimMsConf, "1")
    try {
      Thread.sleep(10)
      VersionedSnapshot.mergeInto(base, Seq((1L, "A")).toDF("k", "v"),
        Seq("k"), UpdateMatched, insertUnmatched = true, marker = "heal", numBuckets = 4)
    } finally spark.conf.unset(VersionedSnapshot.StaleClaimMsConf)
    assert(rows() == Set((1L, "A"), (2L, "b")))
    assert(VersionedSnapshot.validateCurrent(spark, base))
    val staged = new java.io.File(base, "data").listFiles().map(_.getName)
    val (_, entries) = VersionedSnapshot.bucketManifest(spark, base).get
    val referenced = entries.values.flatten.map(_.split('/')(1)).toSet ++
      VersionedSnapshot.currentVersion(spark, base).toSeq.flatMap { _ =>
        // the retained previous version's references too
        new java.io.File(base).listFiles().filter(_.getName.startsWith("v")).toSeq
          .flatMap { vd =>
            CommitRecordFiles.section(base, vd.getName.drop(1).toLong, "buckets")
              .toSeq.flatMap(_.drop(1))
              .filter(_.nonEmpty).map(_.split(':')(1).split('/')(1))
          }
      }
    assert(staged.toSet.subsetOf(referenced),
      s"crashed staging dirs must be GC'd: staged=${staged.toSet}, referenced=$referenced")
  }

  test("deleting every row leaves a readable empty snapshot with schema") {
    import spark.implicits._
    import VersionedSnapshot.{DeleteMatched, UpdateMatched}
    val base = Files.createTempDirectory("graft-bempty").resolve("snap").toString
    val all = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, all, Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    VersionedSnapshot.mergeInto(base, all, Seq("k"),
      DeleteMatched, insertUnmatched = false, marker = "wipe", numBuckets = 4)
    val empty = VersionedSnapshot.read(spark, base).get
    assert(empty.columns.toSeq == Seq("k", "v"))
    assert(empty.count() == 0)
    // and the table comes back from empty
    VersionedSnapshot.mergeInto(base, Seq((9L, "z")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "revive", numBuckets = 4)
    assert(VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toSet == Set((9L, "z")))
  }

  test("stageDelta: blind overlays reconcile on read — upserts, deletes, last overlay wins") {
    import spark.implicits._
    import VersionedSnapshot.{DeleteMatched, UpdateMatched}
    val base = Files.createTempDirectory("graft-mor").resolve("snap").toString
    val seed = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    VersionedSnapshot.stageDelta(base, seed, Seq("k"),
      UpdateMatched, marker = "seed", numBuckets = 8)
    // overlay 1: update 1, insert 101; overlay 2: delete 2, re-update 1
    VersionedSnapshot.stageDelta(base,
      Seq((1L, "A"), (101L, "NEW")).toDF("k", "v"), Seq("k"),
      UpdateMatched, marker = "d1", numBuckets = 8)
    VersionedSnapshot.stageDelta(base,
      Seq(Tuple1(2L)).toDF("k"), Seq("k"),
      DeleteMatched, marker = "d2", numBuckets = 8)
    VersionedSnapshot.stageDelta(base,
      Seq((1L, "B")).toDF("k", "v"), Seq("k"),
      UpdateMatched, marker = "d3", numBuckets = 8)
    val got = VersionedSnapshot.read(spark, base).get.as[(Long, String)].collect().toMap
    assert(got.size == 100 && got(1L) == "B" && !got.contains(2L) &&
      got(101L) == "NEW" && got(3L) == "v3")
    assert(VersionedSnapshot.validateCurrent(spark, base))
  }

  test("stageDelta writes O(delta): base bucket files are untouched by any overlay") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-mor2").resolve("snap").toString
    val seed = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    VersionedSnapshot.stageDelta(base, seed, Seq("k"),
      UpdateMatched, marker = "seed", numBuckets = 8)
    val (_, entries0) = VersionedSnapshot.bucketManifest(spark, base).get
    def files(rel: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(base, rel)
      d.listFiles().filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    }
    val before = entries0.map { case (b, rels) => b -> rels.flatMap(files).toMap }
    // a uniformly-spread delta — the shape copy-on-write cannot prune
    val spread = (1L to 400L by 10L).map(i => (i, "U")).toDF("k", "v")
    VersionedSnapshot.stageDelta(base, spread, Seq("k"),
      UpdateMatched, marker = "spread", numBuckets = 8)
    val (_, entries1) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(entries1 == entries0, "an overlay must not move any bucket")
    entries1.foreach { case (b, rels) =>
      assert(rels.flatMap(files).toMap == before(b), s"overlay rewrote base bucket $b")
    }
    assert(VersionedSnapshot.deltaManifest(spark, base).size == 1)
    // reconciled read still correct
    val got = VersionedSnapshot.read(spark, base).get.as[(Long, String)].collect().toMap
    assert(got.size == 400 && got(1L) == "U" && got(11L) == "U" && got(2L) == "v2")
  }

  test("compact folds overlays; a CoW merge over pending overlays keeps them") {
    import spark.implicits._
    import VersionedSnapshot.{DeleteMatched, UpdateMatched}
    val base = Files.createTempDirectory("graft-mor3").resolve("snap").toString
    VersionedSnapshot.stageDelta(base,
      (1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"),
      UpdateMatched, marker = "seed", numBuckets = 4)
    VersionedSnapshot.stageDelta(base,
      Seq((1L, "A"), (51L, "NEW")).toDF("k", "v"), Seq("k"),
      UpdateMatched, marker = "d1", numBuckets = 4)
    VersionedSnapshot.stageDelta(base,
      Seq(Tuple1(2L)).toDF("k"), Seq("k"), DeleteMatched, marker = "d2",
      numBuckets = 4)
    val reconciled = VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toMap
    VersionedSnapshot.compact(spark, base, Seq("k"), marker = "compact")
    assert(VersionedSnapshot.deltaManifest(spark, base).isEmpty)
    val afterCompact = VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toMap
    assert(afterCompact == reconciled)
    // a copy-on-write merge on a table with FRESH overlays folds them
    // first instead of dropping them
    VersionedSnapshot.stageDelta(base,
      Seq((3L, "C")).toDF("k", "v"), Seq("k"), UpdateMatched, marker = "d3",
      numBuckets = 4)
    VersionedSnapshot.mergeInto(base, Seq((4L, "D")).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "m1",
      numBuckets = 4)
    val finalState = VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toMap
    assert(finalState(3L) == "C" && finalState(4L) == "D" &&
      VersionedSnapshot.deltaManifest(spark, base).isEmpty)
  }

  test("deltaSink stages one overlay per micro-batch from a live stream with replay skip") {
    val dir = Files.createTempDirectory("graft-mor4")
    val inDir = dir.resolve("in"); Files.createDirectories(inDir)
    def shard(name: String, rows: String): Unit =
      Files.writeString(inDir.resolve(name),
        "user_id,track_id,listen_time\n" + rows)
    shard("a.csv",
      """1,t1,2024-06-25T10:00:00.000Z
        |2,t1,2024-06-25T10:10:00.000Z
        |""".stripMargin)
    shard("b.csv",
      """1,t22,2024-06-25T11:00:00.000Z
        |3,t1,2024-06-25T11:30:00.000Z
        |""".stripMargin)
    val stream = StreamingKpis.fileStream(spark, Sources.streamsSchema,
        inDir.toString, maxFilesPerTrigger = 1)
      .select(col("user_id"), col("track_id"),
        unix_timestamp(col("listen_time")).as("ord"))
    val base = dir.resolve("snap").toString
    VersionedSnapshot.deltaSink(stream, Seq("user_id"), "ord",
      base, dir.resolve("ckpt").toString, numBuckets = 4)
      .start().awaitTermination(60000)
    val got = VersionedSnapshot.read(spark, base).get
      .selectExpr("user_id", "track_id").collect()
      .map(r => (r.getAs[Number]("user_id").longValue(), r.getString(1))).toMap
    // later batch's t22 overwrote user 1's t1
    assert(got == Map(1L -> "t22", 2L -> "t1", 3L -> "t1"))
    // first batch seeded buckets; the second landed as an overlay
    assert(VersionedSnapshot.deltaManifest(spark, base).size == 1)
    assert(VersionedSnapshot.validateCurrent(spark, base))
  }

  test("readVersion time-travels across retained versions; retired/uncommitted → None") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-tt").resolve("snap").toString
    val v0 = VersionedSnapshot.mergeInto(base,
      Seq((1L, "old"), (2L, "x")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed",
      retain = 3, numBuckets = 4)
    val v1 = VersionedSnapshot.mergeInto(base,
      Seq((1L, "new")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "upd",
      retain = 3, numBuckets = 4)
    def rowsOf(v: Long) = VersionedSnapshot.readVersion(spark, base, v).get
      .as[(Long, String)].collect().toMap
    assert(rowsOf(v0) == Map(1L -> "old", 2L -> "x"))
    assert(rowsOf(v1) == Map(1L -> "new", 2L -> "x"))
    assert(VersionedSnapshot.read(spark, base).get
      .as[(Long, String)].collect().toMap == rowsOf(v1))
    assert(VersionedSnapshot.readVersion(spark, base, v1 + 5).isEmpty)
    // retention retires v0 → time travel to it honestly fails
    VersionedSnapshot.mergeInto(base, Seq((3L, "y")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "more",
      retain = 1, numBuckets = 4)
    assert(VersionedSnapshot.readVersion(spark, base, v0).isEmpty)
  }

  test("readForKeys reads only the keys' bucket dirs and reconciles overlays") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-pk").resolve("snap").toString
    val seed = (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v")
    VersionedSnapshot.stageDelta(base, seed, Seq("k"),
      UpdateMatched, marker = "seed", numBuckets = 8)
    VersionedSnapshot.stageDelta(base, Seq((7L, "OVR")).toDF("k", "v"),
      Seq("k"), UpdateMatched, marker = "ovr", numBuckets = 8)
    val wanted = Seq(7L, 8L).toDF("k")
    val got = VersionedSnapshot.readForKeys(spark, base, wanted).get
    assert(got.as[(Long, String)].collect().toMap == Map(7L -> "OVR", 8L -> "v8"))
    // pruning: the point read must touch fewer base files than a full read
    val fullFiles = VersionedSnapshot.read(spark, base).get.inputFiles.toSet
    val prunedFiles = got.inputFiles.toSet
    assert(prunedFiles.subsetOf(fullFiles))
    assert(prunedFiles.size < fullFiles.size,
      s"expected bucket pruning, read ${prunedFiles.size}/${fullFiles.size} files")
  }

  test("changes() emits the row diff of two retained versions; identical rows are silent") {
    import spark.implicits._
    import VersionedSnapshot.{DeleteMatched, UpdateMatched}
    val base = Files.createTempDirectory("graft-cdf").resolve("snap").toString
    val v0 = VersionedSnapshot.mergeInto(base,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed",
      retain = 4, numBuckets = 4)
    VersionedSnapshot.mergeInto(base,
      Seq((2L, "B"), (4L, "d")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "up",
      retain = 4, numBuckets = 4)
    val v2 = VersionedSnapshot.mergeInto(base,
      Seq(Tuple1(3L)).toDF("k").withColumn("v", lit(null).cast("string")),
      Seq("k"), DeleteMatched, insertUnmatched = false, marker = "del",
      retain = 4, numBuckets = 4)
    val got = VersionedSnapshot.changes(spark, base, v0, v2, Seq("k")).get
      .as[(String, Long, String)].collect().toSet
    // 1 unchanged → silent; 2 updated; 3 deleted (v0 values); 4 inserted
    assert(got == Set(("update", 2L, "B"), ("delete", 3L, "c"), ("insert", 4L, "d")))
    // retired window → None, never a partial feed
    VersionedSnapshot.mergeInto(base, Seq((9L, "z")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "more",
      retain = 1, numBuckets = 4)
    assert(VersionedSnapshot.changes(spark, base, v0, v2, Seq("k")).isEmpty)
  }

  test("mergeInto evolveSchema: new source column appears, old rows read null, drift still loud") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-evo").resolve("snap").toString
    VersionedSnapshot.mergeInto(base,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    // without the flag: loud reject
    val wider = Seq((2L, "B", 9L), (3L, "c", 7L)).toDF("k", "v", "score")
    assertThrows[IllegalArgumentException] {
      VersionedSnapshot.mergeInto(base, wider, Seq("k"),
        UpdateMatched, insertUnmatched = true, marker = "no", numBuckets = 4)
    }
    VersionedSnapshot.mergeInto(base, wider, Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "evolve",
      numBuckets = 4, evolveSchema = true)
    val got = VersionedSnapshot.read(spark, base).get
      .select("k", "v", "score").collect()
      .map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(got == Map(1L -> ("a", None), 2L -> ("B", Some(9L)), 3L -> ("c", Some(7L))))
    // a TYPE change on a shared column is still rejected, even evolving
    val drift = Seq((1L, 5)).toDF("k", "v") // v int, was string
    assertThrows[IllegalArgumentException] {
      VersionedSnapshot.mergeInto(base, drift, Seq("k"),
        UpdateMatched, insertUnmatched = true, marker = "bad",
        numBuckets = 4, evolveSchema = true)
    }
    // post-evolution merges work at the new schema without the flag
    VersionedSnapshot.mergeInto(base, Seq((1L, "A", 1L)).toDF("k", "v", "score"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "after",
      numBuckets = 4)
    assert(VersionedSnapshot.read(spark, base).get.count() == 3)
  }

  test("read before any publish is None; retain=1 keeps only the current version") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vsnap4").resolve("snap").toString
    assert(VersionedSnapshot.read(spark, base).isEmpty)
    val batch = Seq((9L, 1L)).toDF("k", "v")
    VersionedSnapshot.mergeBatch(batch, Seq("k"), "v", base, "ck", 0L, retain = 1)
    VersionedSnapshot.mergeBatch(batch, Seq("k"), "v", base, "ck", 1L, retain = 1)
    val versions = new java.io.File(base).listFiles()
      .map(_.getName).filter(_.startsWith("v")).toSeq
    assert(versions.size == 1, s"retain=1 should keep one version, saw $versions")
  }

  test("zonemap: point reads bind only files whose key range can match; absent keys read zero files") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-zone1").resolve("snap").toString
    VersionedSnapshot.mergeInto(base,
      (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 8)
    val (keys, tags, zentries) = VersionedSnapshot.zoneManifest(spark, base).get
    assert(keys == Seq("k") && tags == Seq("i"))
    // one stats row per referenced bucket file, each with a real range
    val (_, bentries) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(zentries.size == bentries.size && zentries.values.forall(_._2.head.isDefined))
    // present key: exactly its bucket's file binds, value comes back
    val hit = VersionedSnapshot.readForKeys(spark, base, Seq(5L).toDF("k")).get
    assert(hit.as[(Long, String)].collect().toSeq == Seq((5L, "v5")))
    assert(hit.inputFiles.length == 1, s"expected 1 bound file, got ${hit.inputFiles.length}")
    // absent, out-of-range key: hash pruning alone would still read its
    // bucket's file; the zonemap proves no file can hold it → ZERO files
    val miss = VersionedSnapshot.readForKeys(spark, base, Seq(5000L).toDF("k")).get
    assert(miss.count() == 0 && miss.inputFiles.isEmpty,
      s"out-of-range probe must bind no files, bound ${miss.inputFiles.length}")
    assert(miss.schema == hit.schema)
    // string keys prune the same way (UTF-8 binary order)
    val base2 = Files.createTempDirectory("graft-zone2").resolve("snap").toString
    VersionedSnapshot.mergeInto(base2,
      ('a' to 'm').map(c => (s"$c$c$c", 1L)).toDF("k", "n"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    val miss2 = VersionedSnapshot.readForKeys(spark, base2, Seq("zzz").toDF("k")).get
    assert(miss2.count() == 0 && miss2.inputFiles.isEmpty)
    val hit2 = VersionedSnapshot.readForKeys(spark, base2, Seq("ccc").toDF("k")).get
    assert(hit2.count() == 1 && hit2.inputFiles.length == 1)
  }

  test("readForKeys aligns probe dtypes to the table's key schema before hashing") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-dtype").resolve("snap").toString
    // LongType key table with zonemaps + blooms on the write path
    VersionedSnapshot.mergeInto(base,
      (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 8)
    // IntegerType probe: xxhash64(int) != xxhash64(long) for the same
    // value, so without the schema alignment BOTH the bucket prune and
    // the bloom prune would silently drop the matching files
    val intProbe = Seq(7, 13).toDF("k")
    assert(intProbe.schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val got = VersionedSnapshot.readForKeys(spark, base, intProbe).get
    assert(got.as[(Long, String)].collect().toSet == Set((7L, "v7"), (13L, "v13")),
      "an IntegerType probe against a LongType table must still find its rows")
    // and an absent int probe still prunes to zero files (alignment does
    // not disable the zonemap/bloom path, it fixes its inputs)
    val miss = VersionedSnapshot.readForKeys(spark, base, Seq(5000).toDF("k")).get
    assert(miss.count() == 0 && miss.inputFiles.isEmpty)
  }

  test("zonemap: value-disjoint update/delete merges inherit every bucket instead of rewriting") {
    import spark.implicits._
    import VersionedSnapshot.{DeleteMatched, UpdateMatched}
    val base = Files.createTempDirectory("graft-zone3").resolve("snap").toString
    VersionedSnapshot.mergeInto(base,
      (1L to 400L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 8)
    val (_, entries0) = VersionedSnapshot.bucketManifest(spark, base).get
    // update-only merge whose keys hash into real buckets but sit far
    // outside every file's range: zonemap proves nothing can match, so
    // every bucket is inherited by reference — zero data files staged
    VersionedSnapshot.mergeInto(base,
      (10000L to 10010L).map(i => (i, "X")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "noop-update", numBuckets = 8)
    val (_, entries1) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(entries1 == entries0,
      s"value-disjoint update must inherit all buckets: ${entries1.toSet diff entries0.toSet}")
    // delete-only merge of absent keys: same inheritance
    VersionedSnapshot.mergeInto(base,
      Seq(20000L, 20001L).map(i => (i, "")).toDF("k", "v"), Seq("k"),
      DeleteMatched, insertUnmatched = false, marker = "noop-delete", numBuckets = 8)
    val (_, entries2) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(entries2 == entries0)
    // an overlapping update-only merge still rewrites (and only) its buckets
    VersionedSnapshot.mergeInto(base,
      Seq((7L, "V7")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "real-update", numBuckets = 8)
    val (_, entries3) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(entries3 != entries0 &&
      entries3.count { case (b, rel) => !entries0.get(b).contains(rel) } == 1)
    val got = VersionedSnapshot.read(spark, base).get.as[(Long, String)].collect().toMap
    assert(got.size == 400 && got(7L) == "V7" && got(8L) == "v8")
    assert(VersionedSnapshot.validateCurrent(spark, base))
  }

  test("deltaSink self-maintains: overlays fold once maxOverlays is exceeded, content intact") {
    val dir = Files.createTempDirectory("graft-dsm")
    val inDir = dir.resolve("in"); Files.createDirectories(inDir)
    (1 to 6).foreach { i =>
      Files.writeString(inDir.resolve(s"s$i.csv"),
        s"user_id,track_id,listen_time\n$i,t$i,2024-06-25T10:0$i:00.000Z\n" +
          s"1,tU$i,2024-06-25T11:0$i:00.000Z\n")
      java.nio.file.Files.setLastModifiedTime(inDir.resolve(s"s$i.csv"),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val stream = StreamingKpis.fileStream(spark, Sources.streamsSchema,
      inDir.toString, maxFilesPerTrigger = 1)
    val base = dir.resolve("snap").toString
    VersionedSnapshot.deltaSink(stream, Seq("user_id"), "listen_time",
        base, dir.resolve("ckpt").toString, maxOverlays = 1)
      .start().awaitTermination(120000)
    // maintenance ran: pending overlays bounded by the threshold, never
    // the batch count
    assert(VersionedSnapshot.deltaManifest(spark, base).size <= 1)
    val got = VersionedSnapshot.read(spark, base).get
      .selectExpr("user_id", "track_id").collect()
      .map(r => r.getAs[Number](0).longValue() -> r.getString(1)).toMap
    // user 1 saw an update in every batch — last writer wins through the
    // stage+fold cycles; every other user keeps its single row
    assert(got == Map(1L -> "tU6", 2L -> "t2", 3L -> "t3", 4L -> "t4",
      5L -> "t5", 6L -> "t6"))
    // and the lineage marker survived maintenance in tag:batchId form
    assert(VersionedSnapshot.lastApplied(spark, base)._2 == 5L)
  }

  test("lastApplied tolerates non-lineage markers (annotated compact, manual publish)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-mark").resolve("snap").toString
    VersionedSnapshot.publish(Seq((1L, 2L)).toDF("k", "v"), base,
      marker = "manual:pre-merge-compact")
    // a marker not ending in a batch id must read as "no replay info",
    // never throw (a crash between a pre-merge compact and its merge
    // leaves exactly this state)
    assert(VersionedSnapshot.lastApplied(spark, base) == ("", -1L))
    VersionedSnapshot.publish(Seq((1L, 2L)).toDF("k", "v"), base, marker = "ck:7")
    assert(VersionedSnapshot.lastApplied(spark, base) == ("ck", 7L))
  }

  test("CDC batch sinks reject an orderCol key and a reserved __rn column before staging") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-guard").resolve("snap").toString
    VersionedSnapshot.mergeIntoBatch(
      Seq((1L, "a", 1L)).toDF("user_id", "track_id", "seq"), Seq("user_id"),
      "seq", base, checkpointTag = "ck", batchId = 0L, numBuckets = 4)
    val v0 = VersionedSnapshot.currentVersion(spark, base)
    assert(v0.isDefined)
    val batch = Seq((2L, "b", 2L)).toDF("user_id", "track_id", "seq")
    type BatchSink = (org.apache.spark.sql.DataFrame, Seq[String]) => Unit
    val sinks: Seq[(String, BatchSink)] = Seq(
      "mergeIntoBatch" -> ((df, keys) => VersionedSnapshot.mergeIntoBatch(
        df, keys, "seq", base, checkpointTag = "ck", batchId = 1L, numBuckets = 4)),
      "stageDeltaBatch" -> ((df, keys) => VersionedSnapshot.stageDeltaBatch(
        df, keys, "seq", base, checkpointTag = "ck", batchId = 1L, numBuckets = 4)))
    for ((name, sink) <- sinks) {
      // dropping the order column after the reduce would drop this key
      val e1 = intercept[IllegalArgumentException](sink(batch, Seq("user_id", "seq")))
      assert(e1.getMessage.contains("orderCol"), name)
      // the internal rank column would replace, then drop, the input's own
      val e2 = intercept[IllegalArgumentException](
        sink(batch.withColumn("__rn", lit(7)), Seq("user_id")))
      assert(e2.getMessage.contains("__rn"), name)
      assert(VersionedSnapshot.currentVersion(spark, base) == v0,
        s"$name committed a rejected batch")
    }
    assert(VersionedSnapshot.read(spark, base).get.columns.toSet == Set("user_id", "track_id"))
  }

  test("maintain() compacts from metadata thresholds only: overlay pile-up and generation sprawl") {
    import spark.implicits._
    import VersionedSnapshot.{UpdateMatched, maintain}
    val base = Files.createTempDirectory("graft-maint").resolve("snap").toString
    VersionedSnapshot.mergeInto(base,
      (1L to 200L).map(i => (i, i * 2L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    // healthy table: no action
    assert(maintain(spark, base, Seq("k"), "m").isEmpty)
    // pile up overlays past the threshold
    (1 to 5).foreach { i =>
      VersionedSnapshot.stageDelta(base, Seq((i.toLong, 999L)).toDF("k", "v"),
        Seq("k"), UpdateMatched, marker = s"d$i", retain = 10, numBuckets = 4)
    }
    assert(VersionedSnapshot.deltaManifest(spark, base).size == 5)
    val compacted = maintain(spark, base, Seq("k"), "m", maxOverlays = 4)
    assert(compacted.isDefined, "5 overlays > 4 must trigger compaction")
    assert(VersionedSnapshot.deltaManifest(spark, base).isEmpty)
    // content survived: overlay upserts folded in
    val got = VersionedSnapshot.read(spark, base).get.as[(Long, Long)].collect().toMap
    assert(got.size == 200 && got(3L) == 999L && got(100L) == 200L)
    // and a healthy post-compaction table is again a no-op
    assert(maintain(spark, base, Seq("k"), "m").isEmpty)
    // generation sprawl: CoW merges scatter buckets across generations
    (1 to 6).foreach { i =>
      VersionedSnapshot.mergeInto(base, Seq((i * 30L, -1L)).toDF("k", "v"),
        Seq("k"), UpdateMatched, insertUnmatched = false,
        marker = s"u$i", retain = 10, numBuckets = 4)
    }
    val (_, entries) = VersionedSnapshot.bucketManifest(spark, base).get
    val gens = entries.values.flatten.map(_.split('/')(1)).toSet.size
    assert(maintain(spark, base, Seq("k"), "m", maxGenerations = gens - 1).isDefined)
    val (_, entries2) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(entries2.values.flatten.map(_.split('/')(1)).toSet.size == 1,
      "compaction must collapse to one generation")
  }

  test("point reads push literal keys into the parquet scan (row-group pruning below the zonemap)") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-push").resolve("snap").toString
    VersionedSnapshot.mergeInto(base,
      (1L to 2000L).map(i => (i, s"v$i")).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    val hit = VersionedSnapshot.readForKeys(spark, base, Seq(42L, 77L).toDF("k")).get
    // correctness first
    assert(hit.as[(Long, String)].collect().toSet == Set((42L, "v42"), (77L, "v77")))
    // the literal keys must reach the parquet scan as a pushed IN filter
    val plan = hit.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(k, [42,77]"),
      s"expected pushed IN(k, [42,77]) in:\n$plan")
    // a wanted NULL key disables that column's IN (IN never matches NULL)
    // but the read stays correct through the semi-join
    val withNull = Seq(Some(42L), None).map(Tuple1(_)).toDF("k")
    val nullRead = VersionedSnapshot.readForKeys(spark, base, withNull).get
    assert(nullRead.as[(Long, String)].collect().toSet == Set((42L, "v42")))
    assert(!nullRead.queryExecution.executedPlan.toString.contains("In(k,"))
    // an over-limit key set skips the literal pushdown, result unchanged
    val big = spark.range(1, 1203).select(col("id").as("k")) // 1202 keys > 1024
    val bigRead = VersionedSnapshot.readForKeys(spark, base, big).get
    assert(bigRead.count() == 1202)
    assert(!bigRead.queryExecution.executedPlan.toString.contains("In(k,"))
  }

  test("zonemap: carried across stageDelta, overlays still serve pruned point reads, legacy tables degrade") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-zone4").resolve("snap").toString
    VersionedSnapshot.mergeInto(base,
      (1L to 100L).map(i => (i, i * 10L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    // blind overlay upserts an OUT-OF-RANGE key: base files prune for it,
    // but the overlay must still surface the row on a point read
    VersionedSnapshot.stageDelta(base, Seq((9999L, 42L)).toDF("k", "v"),
      Seq("k"), UpdateMatched, marker = "mor", numBuckets = 4)
    assert(VersionedSnapshot.zoneManifest(spark, base).isDefined,
      "stageDelta must carry the zonemap forward")
    val got = VersionedSnapshot.readForKeys(spark, base, Seq(9999L).toDF("k")).get
    assert(got.as[(Long, Long)].collect().toSeq == Seq((9999L, 42L)))
    // in-range read reconciles base + overlay as before
    val got2 = VersionedSnapshot.readForKeys(spark, base, Seq(3L).toDF("k")).get
    assert(got2.as[(Long, Long)].collect().toSeq == Seq((3L, 30L)))
    // a version whose record has no zones section: reads fall back to
    // bucket pruning and stay correct
    val cur = VersionedSnapshot.currentVersion(spark, base).get
    CommitRecordFiles.rewriteSection(base, cur, "zones", None)
    assert(VersionedSnapshot.zoneManifest(spark, base).isEmpty)
    val legacy = VersionedSnapshot.readForKeys(spark, base, Seq(5000L).toDF("k")).get
    assert(legacy.count() == 0 && legacy.inputFiles.nonEmpty,
      "without a zonemap the probe degrades to reading its hash bucket")
    val legacyHit = VersionedSnapshot.readForKeys(spark, base, Seq(3L).toDF("k")).get
    assert(legacyHit.as[(Long, Long)].collect().toSeq == Seq((3L, 30L)))
  }

  test("value-column zonemap: range reads bind only files whose stats can match; predicated changes stay exact") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-zonev").resolve("snap").toString
    // seed: v = k*10, global range [10, 4000], 8 buckets (one file each)
    VersionedSnapshot.mergeInto(base,
      (1L to 400L).map(i => (i, i * 10L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed",
      retain = 3, numBuckets = 8)
    val v0 = VersionedSnapshot.currentVersion(spark, base).get
    // covering range: everything binds, everything returns
    val all = VersionedSnapshot.readWhere(spark, base,
      Map("v" -> (Some(10L), None))).get
    assert(all.count() == 400)
    val nAll = all.inputFiles.length
    assert(nAll >= 8, s"expected all bucket files bound, got $nAll")
    // out-of-range probe: the value stats prove no file can match
    val none = VersionedSnapshot.readWhere(spark, base,
      Map("v" -> (Some(100000L), None))).get
    assert(none.count() == 0 && none.inputFiles.isEmpty,
      s"out-of-range value probe must bind no files, bound ${none.inputFiles.length}")
    // update two keys into a far value range: only their buckets rewrite,
    // so only the rewritten files can hold v >= 500000
    VersionedSnapshot.mergeInto(base,
      Seq((7L, 999999L), (8L, 888888L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "hot",
      retain = 3, numBuckets = 8)
    val v1 = VersionedSnapshot.currentVersion(spark, base).get
    val hot = VersionedSnapshot.readWhere(spark, base,
      Map("v" -> (Some(500000L), None))).get
    assert(hot.as[(Long, Long)].collect().toSet ==
      Set((7L, 999999L), (8L, 888888L)))
    assert(hot.inputFiles.nonEmpty && hot.inputFiles.length <= 2,
      s"value stats must shrink binding to the rewritten buckets, " +
        s"bound ${hot.inputFiles.length} of $nAll")
    // half-open upper bound
    val low = VersionedSnapshot.readWhere(spark, base,
      Map("v" -> (None, Some(50L)))).get
    assert(low.as[(Long, Long)].collect().toSet ==
      (1L to 5L).map(i => (i, i * 10L)).toSet)
    // predicated CDF, range matching the NEW side
    val ch = VersionedSnapshot.changes(spark, base, v0, v1, Seq("k"),
      Map("v" -> (Some(500000L), None))).get
    assert(ch.select("op", "k", "v").as[(String, Long, Long)].collect().toSet ==
      Set(("update", 7L, 999999L), ("update", 8L, 888888L)))
    // range matching only the OLD side (v0 rows 70/80): the same keys must
    // still surface as updates carrying the NEW values — not as inserts
    val chOld = VersionedSnapshot.changes(spark, base, v0, v1, Seq("k"),
      Map("v" -> (Some(70L), Some(80L)))).get
    assert(chOld.select("op", "k", "v").as[(String, Long, Long)].collect().toSet ==
      Set(("update", 7L, 999999L), ("update", 8L, 888888L)))
    // a range touching no changed row yields an empty feed
    val chNone = VersionedSnapshot.changes(spark, base, v0, v1, Seq("k"),
      Map("v" -> (Some(100L), Some(120L)))).get
    assert(chNone.count() == 0)
    // string-tagged range (UTF-8 order) composes with the long range and
    // stays exact even when string stats cannot prune (scattered values)
    val sBase = Files.createTempDirectory("graft-zonevs").resolve("snap").toString
    VersionedSnapshot.mergeInto(sBase,
      (1L to 100L).map(i => (i, s"u${i % 7}")).toDF("k", "tag"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    val sHit = VersionedSnapshot.readWhere(spark, sBase,
      Map("tag" -> (Some("u3"), Some("u4")))).get
    assert(sHit.as[(Long, String)].collect().toSet ==
      (1L to 100L).filter(i => i % 7 == 3 || i % 7 == 4)
        .map(i => (i, s"u${i % 7}")).toSet)
    val sNone = VersionedSnapshot.readWhere(spark, sBase,
      Map("tag" -> (Some("zzz"), None))).get
    assert(sNone.count() == 0 && sNone.inputFiles.isEmpty,
      "string range beyond every file's max must bind no files")
  }

  test("clustered compact: value-ordered multi-file buckets let mid-range value reads prune below bucket level") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-zorder").resolve("snap").toString
    // 400 rows, v = k*10, TWO buckets — before clustering, each bucket is
    // one file whose v range spans nearly the whole domain (hash-scattered
    // keys), so a mid-range predicate binds everything
    VersionedSnapshot.mergeInto(base,
      (1L to 400L).map(i => (i, i * 10L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed",
      retain = 1, numBuckets = 2)
    val before = VersionedSnapshot.readWhere(spark, base,
      Map("v" -> (Some(1000L), Some(1500L)))).get
    val expect = (100L to 150L).map(i => (i, i * 10L)).toSet
    assert(before.as[(Long, Long)].collect().toSet == expect)
    val nBefore = before.inputFiles.length
    assert(nBefore == 2, s"unclustered mid-range read should bind both bucket files, got $nBefore")
    // OPTIMIZE-ZORDER analog: rewrite clustered by v, several files per
    // bucket, each covering a contiguous v range
    VersionedSnapshot.compact(spark, base, Seq("k"), marker = "cluster",
      retain = 1, clusterBy = Seq("v"), maxRecordsPerFile = 50L)
    val after = VersionedSnapshot.readWhere(spark, base,
      Map("v" -> (Some(1000L), Some(1500L)))).get
    assert(after.as[(Long, Long)].collect().toSet == expect, "clustering must not change content")
    val total = VersionedSnapshot.read(spark, base).get.inputFiles.length
    assert(total >= 6, s"maxRecordsPerFile=50 over 2×200-row buckets should split files, got $total")
    assert(after.inputFiles.length < total && after.inputFiles.nonEmpty,
      s"mid-range read should bind a strict subset: ${after.inputFiles.length} of $total")
    // point reads still work on the value-clustered layout
    val hit = VersionedSnapshot.readForKeys(spark, base, Seq(42L).toDF("k")).get
    assert(hit.as[(Long, Long)].collect().toSeq == Seq((42L, 420L)))
  }

  test("bucket-count evolution: compact re-buckets atomically; later merges adopt the new count") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-rebucket").resolve("snap").toString
    VersionedSnapshot.mergeInto(base,
      (1L to 400L).map(i => (i, i * 10L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed",
      retain = 1, numBuckets = 4)
    assert(VersionedSnapshot.bucketManifest(spark, base).get._1 == 4)
    // grow the layout 4 -> 16 in one atomic rewrite
    VersionedSnapshot.compact(spark, base, Seq("k"), marker = "rebucket",
      retain = 1, newNumBuckets = Some(16))
    val (nb, entries) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(nb == 16 && entries.size > 4, s"expected 16-bucket layout, got $nb/${entries.size}")
    // content identical, point reads prune against the NEW bucket fn
    assert(VersionedSnapshot.read(spark, base).get.count() == 400)
    val hit = VersionedSnapshot.readForKeys(spark, base, Seq(42L).toDF("k")).get
    assert(hit.as[(Long, Long)].collect().toSeq == Seq((42L, 420L)))
    assert(hit.inputFiles.length == 1)
    // a merge AFTER evolution adopts the committed 16-bucket count (its
    // numBuckets arg is ignored in favor of the manifest) and stays exact
    VersionedSnapshot.mergeInto(base,
      Seq((42L, 777L), (9999L, 1L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "post", retain = 1,
      numBuckets = 4)
    assert(VersionedSnapshot.bucketManifest(spark, base).get._1 == 16)
    val after = VersionedSnapshot.readForKeys(spark, base,
      Seq(42L, 9999L).toDF("k")).get
    assert(after.as[(Long, Long)].collect().toSet == Set((42L, 777L), (9999L, 1L)))
  }

  test("key blooms: point reads prune files on a value-clustered layout; sticky across merges; corrupt sidecar degrades") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-bloom").resolve("snap").toString
    VersionedSnapshot.mergeInto(base,
      (1L to 400L).map(i => (i, i * 10L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed",
      retain = 1, numBuckets = 2)
    // value-clustered rewrite WITH blooms: key ranges per file go wide
    // (hash-scattered keys sorted by v), so without blooms a point read
    // binds every file of its bucket
    VersionedSnapshot.compact(spark, base, Seq("k"), marker = "cluster",
      retain = 1, clusterBy = Seq("v"), maxRecordsPerFile = 50L,
      keyBlooms = true)
    val total = VersionedSnapshot.read(spark, base).get.inputFiles.length
    assert(total >= 6)
    val hit = VersionedSnapshot.readForKeys(spark, base, Seq(42L).toDF("k")).get
    assert(hit.as[(Long, Long)].collect().toSeq == Seq((42L, 420L)))
    assert(hit.inputFiles.length <= 2,
      s"bloom should bind ~1 file of ${total}, bound ${hit.inputFiles.length}")
    // absent key: blooms prove no file can hold it (zonemap ranges cannot,
    // 77 is inside every file's wide key range on this layout)
    val miss = VersionedSnapshot.readForKeys(spark, base, Seq(50000L).toDF("k")).get
    assert(miss.count() == 0)
    // sticky: a merge that does NOT pass keyBlooms keeps the index
    VersionedSnapshot.mergeInto(base, Seq((42L, 1L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "touch", retain = 1,
      numBuckets = 2)
    val after = VersionedSnapshot.readForKeys(spark, base, Seq(42L).toDF("k")).get
    assert(after.as[(Long, Long)].collect().toSeq == Seq((42L, 1L)))
    val cur = VersionedSnapshot.currentVersion(spark, base).get
    assert(CommitRecordFiles.section(base, cur, "blooms").isDefined,
      "blooms must carry across merges once enabled")
    // a corrupt blooms section degrades to no-bloom, and so does none at
    // all: reads stay correct, they only bind more files
    for (body <- Seq(Some(Seq("garbage")), None)) {
      CommitRecordFiles.rewriteSection(base, cur, "blooms", body)
      val legacy = VersionedSnapshot.readForKeys(spark, base, Seq(42L).toDF("k")).get
      assert(legacy.as[(Long, Long)].collect().toSeq == Seq((42L, 1L)))
      assert(legacy.inputFiles.length >= after.inputFiles.length)
    }
  }

  test("key blooms survive file-level carry: carried per-file refs keep pruning point reads") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-bloomcarry").resolve("snap").toString
    VersionedSnapshot.mergeInto(base,
      (1L to 800L).map(i => (i, i * 10L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    VersionedSnapshot.compact(spark, base, Seq("k"), marker = "split",
      maxRecordsPerFile = 40L, keyBlooms = true)
    // narrow update-only merge: the partial rewrite carries the touched
    // bucket's sibling files by per-file reference
    VersionedSnapshot.mergeInto(base, Seq((17L, 1L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "one", numBuckets = 4)
    val (_, entries) = VersionedSnapshot.bucketManifest(spark, base).get
    assert(entries.values.flatten.exists(_.endsWith(".parquet")),
      "the narrow merge must have carried at least one file by reference")
    // the blooms section carried through the partial publish
    assert(CommitRecordFiles.section(base,
      VersionedSnapshot.currentVersion(spark, base).get, "blooms").isDefined,
      "blooms must survive a partial merge")
    // a key living in a CARRIED file: correct value, pruned binding
    val probe = VersionedSnapshot.readForKeys(spark, base, Seq(500L).toDF("k")).get
    assert(probe.as[(Long, Long)].collect().toSeq == Seq((500L, 5000L)))
    val total = VersionedSnapshot.read(spark, base).get.inputFiles.length
    assert(probe.inputFiles.length < total,
      s"carried-file point read should prune (${probe.inputFiles.length} of $total)")
    // the updated key reads back through the fresh file; absent key binds none
    val upd = VersionedSnapshot.readForKeys(spark, base, Seq(17L).toDF("k")).get
    assert(upd.as[(Long, Long)].collect().toSeq == Seq((17L, 1L)))
    assert(VersionedSnapshot.readForKeys(spark, base, Seq(50000L).toDF("k"))
      .get.count() == 0)
    assert(VersionedSnapshot.validateCurrent(spark, base))
  }

  test("zonemap: a corrupt _ZONES file degrades to never-prune instead of crashing") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-zonec").resolve("snap").toString
    VersionedSnapshot.mergeInto(base,
      (1L to 100L).map(i => (i, i * 10L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", numBuckets = 4)
    val cur = VersionedSnapshot.currentVersion(spark, base).get
    for (junk <- Seq(
        "garbage with no header",                       // malformed header
        "keys=k\ntags=i\nfile.parquet\tnotanumber\tAA,BB", // bad count
        "keys=k\ntags=i\nfile.parquet\t5\tno-comma-here")) { // bad range field
      CommitRecordFiles.rewriteSection(base, cur, "zones", Some(junk.split('\n').toSeq))
      // read + point read + merge must all survive on the no-stats path
      val probe = VersionedSnapshot.readForKeys(spark, base, Seq(5000L).toDF("k")).get
      assert(probe.count() == 0 && probe.inputFiles.nonEmpty,
        "corrupt zonemap must degrade to bucket pruning, not crash or over-prune")
      val hit = VersionedSnapshot.readForKeys(spark, base, Seq(3L).toDF("k")).get
      assert(hit.as[(Long, Long)].collect().toSeq == Seq((3L, 30L)))
    }
    // a merge on top of the corrupt manifest republishes a healthy one
    VersionedSnapshot.mergeInto(base, Seq((3L, 99L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "fix", numBuckets = 4)
    assert(VersionedSnapshot.zoneManifest(spark, base).isDefined)
    val after = VersionedSnapshot.readForKeys(spark, base, Seq(3L).toDF("k")).get
    assert(after.as[(Long, Long)].collect().toSeq == Seq((3L, 99L)))
  }

  test("changesPrePost: pre/post images drive retraction-IVM across a group-moving update") {
    import spark.implicits._
    import VersionedSnapshot.{DeleteMatched, UpdateMatched}
    val base = Files.createTempDirectory("graft-cdfpp").resolve("snap").toString
    // v0: 8 rows in two groups
    val seed = (1L to 8L).map(i => (i, if (i <= 4) "a" else "b", i * 10L))
      .toDF("k", "grp", "v")
    val v0 = VersionedSnapshot.mergeInto(base, seed, Seq("k"), UpdateMatched,
      insertUnmatched = true, marker = "seed", retain = 4, numBuckets = 4)
    // v1: k=2 moves group a→b AND changes v; k=5 changes v in place;
    //     k=9 inserts into a
    val up = Seq((2L, "b", 999L), (5L, "b", 51L), (9L, "a", 90L)).toDF("k", "grp", "v")
    VersionedSnapshot.mergeInto(base, up, Seq("k"), UpdateMatched,
      insertUnmatched = true, marker = "upsert", retain = 4, numBuckets = 4)
    // v2: delete k=3
    val v2 = VersionedSnapshot.mergeInto(base, Seq((3L, "a", 30L)).toDF("k", "grp", "v"),
      Seq("k"), DeleteMatched, insertUnmatched = false, marker = "delete",
      retain = 4, numBuckets = 4)
    val cdf = VersionedSnapshot.changesPrePost(spark, base, v0, v2, Seq("k")).get
    val rows = cdf.as[(String, Long, String, Long)].collect().toSet
    // updates emit exactly the pre/post pair; inserts/deletes one row each
    assert(rows == Set(
      ("update_preimage", 2L, "a", 20L), ("update_postimage", 2L, "b", 999L),
      ("update_preimage", 5L, "b", 50L), ("update_postimage", 5L, "b", 51L),
      ("insert", 9L, "a", 90L),
      ("delete", 3L, "a", 30L)))
    // IVM: mart(v0) + retractable partials over the feed == mart(v2).
    // The group-moving update is the case the post-image-only feed cannot
    // maintain: grp=a must lose k=2 while grp=b gains it.
    val mart0 = graft.operators.Incremental.partials(
      VersionedSnapshot.readVersion(spark, base, v0).get, Seq("grp"), col("v"))
      .select("grp", "n", "sum_v")
    val delta = graft.operators.Incremental.retractPartials(
      cdf, Seq("grp"), col("v"),
      when(col("op").isin("insert", "update_postimage"), 1).otherwise(-1))
    val maintained = graft.operators.Incremental
      .retractMerge(Seq(mart0, delta), Seq("grp"))
      .as[(String, Long, Long)].collect().toSet
    val recomputed = graft.operators.Incremental.partials(
      VersionedSnapshot.readVersion(spark, base, v2).get, Seq("grp"), col("v"))
      .select("grp", "n", "sum_v")
      .as[(String, Long, Long)].collect().toSet
    assert(maintained == recomputed)
    // unchanged keys appear in NO row of the feed
    assert(!rows.exists(_._2 == 1L))
  }

  test("history lists retained versions newest-first with layout and manifest stats") {
    import spark.implicits._
    import VersionedSnapshot.UpdateMatched
    val base = Files.createTempDirectory("graft-hist").resolve("snap").toString
    assert(VersionedSnapshot.history(spark, base).isEmpty)
    val v0 = VersionedSnapshot.mergeInto(base,
      (1L to 20L).map(i => (i, i)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", retain = 3, numBuckets = 4)
    VersionedSnapshot.mergeInto(base, Seq((2L, 99L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "up", retain = 3, numBuckets = 4)
    VersionedSnapshot.stageDelta(base, Seq((3L, 77L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, marker = "overlay", retain = 3, numBuckets = 4)
    val h = VersionedSnapshot.history(spark, base)
      .select("version", "marker", "layout", "n_overlays", "is_current")
      .as[(Long, String, String, Int, Boolean)].collect().toSeq
    assert(h.map(_._1) == Seq(v0 + 2, v0 + 1, v0), "newest first")
    assert(h.head._3 == "bucketed+mor" && h.head._4 == 1 && h.head._5)
    assert(h.tail.forall(r => r._3 == "bucketed" && r._4 == 0 && !r._5))
    assert(h.map(_._2) == Seq("overlay", "up", "seed"))
    // manifest-backed stats: every retained version has files and bytes
    val stats = VersionedSnapshot.history(spark, base)
      .select("n_files", "bytes").as[(Long, Long)].collect()
    assert(stats.forall { case (nf, b) => nf > 0 && b > 0 })
  }

  test("restore republishes a retained version as the new current without copying data") {
    import spark.implicits._
    import VersionedSnapshot.{DeleteMatched, UpdateMatched}
    val dir = Files.createTempDirectory("graft-restore")
    val base = dir.resolve("snap").toString
    val v0 = VersionedSnapshot.mergeInto(base,
      (1L to 30L).map(i => (i, i * 10L)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", retain = 4, numBuckets = 4)
    def state() = VersionedSnapshot.read(spark, base).get
      .as[(Long, Long)].collect().toSet
    val wanted = state()
    // a bad deploy: delete a third of the rows
    VersionedSnapshot.mergeInto(base,
      (1L to 30L).filter(_ % 3 == 0).map(i => (i, i * 10L)).toDF("k", "v"), Seq("k"),
      DeleteMatched, insertUnmatched = false, marker = "bad", retain = 4, numBuckets = 4)
    assert(state() != wanted)
    def dataDirs() = new java.io.File(base, "data").listFiles().map(_.getName).toSet
    val before = dataDirs()
    val vr = VersionedSnapshot.restore(spark, base, v0, retain = 4).get
    assert(vr == v0 + 2, "restore commits a NEW version")
    assert(state() == wanted, "restored state must equal the restored-to version")
    assert(dataDirs() == before, "bucketed restore is metadata-only: no new data dirs")
    assert(VersionedSnapshot.validateCurrent(spark, base),
      "restored version must carry a valid manifest")
    // the bad version stays diffable until retention ages it out
    val diff = VersionedSnapshot.changes(spark, base, v0 + 1, vr, Seq("k")).get
    assert(diff.filter(col("op") === "insert").count() == 10)
    // point reads consult the restored version's copied zonemap
    val hit = VersionedSnapshot.readForKeys(spark, base, Seq(7L).toDF("k")).get
    assert(hit.as[(Long, Long)].collect().toSeq == Seq((7L, 70L)))
    // an unretained (never-committed) version does not restore
    assert(VersionedSnapshot.restore(spark, base, 99L).isEmpty)
    // flat layouts restore by republish — same contract, O(table)
    val flat = dir.resolve("flat").toString
    VersionedSnapshot.publish(Seq((1L, 1L)).toDF("k", "v"), flat, "seed", retain = 3)
    VersionedSnapshot.publish(Seq((1L, 2L)).toDF("k", "v"), flat, "bad", retain = 3)
    val fr = VersionedSnapshot.restore(spark, flat, 0L, retain = 3).get
    assert(fr == 2L && VersionedSnapshot.read(spark, flat).get
      .as[(Long, Long)].collect().toSeq == Seq((1L, 1L)))
  }
}
