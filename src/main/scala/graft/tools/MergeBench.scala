package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.streaming.VersionedSnapshot

/** Measures the bucket-pruned MERGE's cost shape: merge ~1%-of-keys
  * deltas into an orders snapshot and report wall time plus BYTES WRITTEN
  * per publish, across the three regimes that matter:
  *
  *   a) bucket-local delta into the bucketed layout — the key-local CDC
  *      batch shape; prunes to touched buckets, inherits the rest by
  *      reference (bytes ≈ touched/numBuckets of the table)
  *   b) uniformly-spread delta into the bucketed layout — hash bucketing
  *      spreads a uniform key sample across ALL buckets, so pruning
  *      cannot help; the honest bound is
  *      touched = min(numBuckets, |delta keys|)
  *   c) flat layout — no pruning available, always a full rewrite
  *
  *   tools/run.sh graft.tools.MergeBench [sfDir]
  *
  * The bytes ratio a÷c is the pruning win; b documents the regime where
  * copy-on-write amplifies regardless of layout (the merge-on-read /
  * delta-log seam in production table formats).
  */
object MergeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "merge-bench")
    spark.sparkContext.setLogLevel("WARN")

    val nb = 256
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    val nRows = orders.count()
    // ~1% of keys, bucket-local (buckets 0..2 of 256 — the key-local CDC
    // batch shape; same bucket fn as VersionedSnapshot.bucketOf)
    val localDelta = orders
      .filter(pmod(xxhash64(col("o_orderkey")), lit(nb)) < 3)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    // ~1% of keys, uniformly spread (worst case for pruning)
    val spreadDelta = orders
      .filter(col("o_orderkey") % 100 === 7)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    val nLocal = localDelta.count(); val nSpread = spreadDelta.count()

    // the cost that matters is bytes STAGED by the merge (new files), not
    // net directory growth — retention deletes the superseded version, so
    // a full rewrite can net to ~zero while having written the whole table
    def files(dir: String): Map[String, Long] = {
      def walk(d: java.io.File): Seq[(String, Long)] =
        Option(d.listFiles()).map(_.toSeq.flatMap(x =>
          if (x.isDirectory) walk(x) else Seq(x.getPath -> x.length()))).getOrElse(Nil)
      walk(new java.io.File(dir)).toMap
    }
    def timed(tag: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$tag%-40s $s%7.2f s")
      s
    }

    val root = java.nio.file.Files.createTempDirectory("mergebench").toString
    def freshTable(dir: String, bucketed: Boolean): Unit =
      if (bucketed)
        VersionedSnapshot.mergeInto(dir, orders, Seq("o_orderkey"),
          VersionedSnapshot.UpdateMatched, insertUnmatched = true,
          marker = "init", retain = 1, numBuckets = nb)
      else VersionedSnapshot.publish(orders, dir, marker = "init", retain = 1)

    def measure(tag: String, dir: String, bucketed: Boolean,
        delta: org.apache.spark.sql.DataFrame): Long = {
      freshTable(dir, bucketed)
      val before = files(dir)
      timed(tag) {
        VersionedSnapshot.mergeInto(dir, delta, Seq("o_orderkey"),
          VersionedSnapshot.UpdateMatched, insertUnmatched = true,
          marker = "delta", retain = 1, numBuckets = nb)
      }
      files(dir).collect { case (p, len) if !before.contains(p) => len }.sum
    }

    val aBytes = measure("bucketed(256): bucket-local ~1% merge",
      s"$root/a", bucketed = true, localDelta)
    val bBytes = measure("bucketed(256): uniform ~1% merge",
      s"$root/b", bucketed = true, spreadDelta)
    val cBytes = measure("flat: ~1% merge (full rewrite)",
      s"$root/c", bucketed = false, spreadDelta)

    // merge-on-read: the same uniform delta staged as a blind overlay —
    // write cost O(|delta|) regardless of key spread (the regime row b
    // shows copy-on-write cannot prune)
    val dDir = s"$root/d"
    freshTable(dDir, bucketed = true)
    val dBefore = files(dDir)
    timed("bucketed(256): uniform ~1% stageDelta") {
      VersionedSnapshot.stageDelta(dDir, spreadDelta, Seq("o_orderkey"),
        VersionedSnapshot.UpdateMatched, marker = "delta", retain = 1,
        numBuckets = nb)
    }
    val dBytes = files(dDir).collect { case (p, len) if !dBefore.contains(p) => len }.sum

    println(f"rows=$nRows localDelta=$nLocal (${100.0 * nLocal / nRows}%.2f%%) " +
      f"spreadDelta=$nSpread (${100.0 * nSpread / nRows}%.2f%%)")
    println(f"bytes written: bucket-local=${aBytes / 1024}%d KiB, " +
      f"uniform=${bBytes / 1024}%d KiB, flat=${cBytes / 1024}%d KiB, " +
      f"uniform-MoR-overlay=${dBytes / 1024}%d KiB; " +
      f"local-vs-flat ratio=${cBytes.toDouble / math.max(1, aBytes)}%.1fx, " +
      f"MoR-vs-CoW-uniform ratio=${bBytes.toDouble / math.max(1, dBytes)}%.1fx")

    // ---- zonemap data skipping: bytes BOUND by point reads and bytes
    // STAGED by value-disjoint merges ----
    val eDir = s"$root/e"
    freshTable(eDir, bucketed = true)
    def boundBytes(df: org.apache.spark.sql.DataFrame): Long =
      df.inputFiles.map(u => new java.io.File(new java.net.URI(u)).length()).sum
    val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    // clustered ABSENT probe — keys beyond every file's range (the
    // existence-check / not-yet-arrived-key serving shape)
    val absentKeys = spark.range(maxKey + 1000, maxKey + 1010)
      .select(col("id").as("o_orderkey"))
    // clustered PRESENT probe — the 10 smallest keys, as a LITERAL
    // relation (a probe derived from the orders scan would add
    // orders.parquet itself to the result's inputFiles)
    val presentKeys = {
      import spark.implicits._
      orders.select("o_orderkey").orderBy("o_orderkey").limit(10)
        .collect().map(_.getLong(0)).toSeq.toDF("o_orderkey")
    }
    val zAbsent = boundBytes(VersionedSnapshot.readForKeys(spark, eDir, absentKeys).get)
    val zPresent = boundBytes(VersionedSnapshot.readForKeys(spark, eDir, presentKeys).get)
    // value-disjoint update-only merge: every key far outside the table's
    // range — zonemap inherits every bucket, writes only metadata
    val disjoint = orders.limit(2000)
      .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
    val zBefore = files(eDir)
    timed("bucketed(256): disjoint update merge (zonemap)") {
      VersionedSnapshot.mergeInto(eDir, disjoint, Seq("o_orderkey"),
        VersionedSnapshot.UpdateMatched, insertUnmatched = false,
        marker = "noop", retain = 1, numBuckets = nb)
    }
    val zMergeBytes = files(eDir).collect { case (p, len) if !zBefore.contains(p) => len }.sum
    // value-column (r9) stats: a range probe beyond every file's
    // o_totalprice binds ZERO data files. Hash bucketing scatters keys, so every file's
    // range for an unclustered value column is wide — the value-stats
    // win is the absent/out-of-range regime (same as Delta stats on an
    // unclustered column); clustered columns also prune mid-range.
    val maxPrice = orders.agg(max(col("o_totalprice"))).head().getDouble(0)
    val vAbsent = boundBytes(VersionedSnapshot.readWhere(spark, eDir,
      Map("o_totalprice" -> (Some(maxPrice + 1e6), None))).get)
    val allE = boundBytes(VersionedSnapshot.read(spark, eDir).get)
    println(f"zonemap point-read bytes bound: absent-keys ${zAbsent / 1024}%d KiB, " +
      f"present-keys ${zPresent / 1024}%d KiB, of ${allE / 1024}%d KiB total")
    println(f"zonemap disjoint-merge bytes staged: ${zMergeBytes / 1024}%d KiB")
    println(f"zonemap value-range read bytes bound (out-of-range price): " +
      f"${vAbsent / 1024}%d KiB")

    // ---- r9: value-clustered layout + key blooms. clusterBy trades key
    // locality for value locality: mid-range VALUE reads now prune below
    // bucket level, while point reads would bind every file of their
    // bucket — key blooms restore that pruning. ----
    val fDir = s"$root/f"
    freshTable(fDir, bucketed = true)
    timed("bucketed(256): clustered+bloom compact") {
      VersionedSnapshot.compact(spark, fDir, Seq("o_orderkey"),
        marker = "cluster", retain = 1, clusterBy = Seq("o_totalprice"),
        maxRecordsPerFile = 150L, keyBlooms = true)
    }
    val p10Price = orders.stat.approxQuantile("o_totalprice", Array(0.1), 0.001)(0)
    val cRange = boundBytes(VersionedSnapshot.readWhere(spark, fDir,
      Map("o_totalprice" -> (Some(0.0), Some(p10Price)))).get)
    // MID-RANGE keys: every file's key range straddles the middle of the
    // domain on a value-clustered layout, so the zonemap cannot prune
    // them (edge keys it can) — this is exactly the probe blooms serve
    val midKeys = {
      import spark.implicits._
      orders.select("o_orderkey").filter(col("o_orderkey") >= maxKey / 2)
        .orderBy("o_orderkey").limit(10)
        .collect().map(_.getLong(0)).toSeq.toDF("o_orderkey")
    }
    val cPresent = boundBytes(VersionedSnapshot.readForKeys(spark, fDir, midKeys).get)
    val allBytes = boundBytes(VersionedSnapshot.read(spark, fDir).get)
    println(f"clustered layout: p10 value-range read binds ${cRange / 1024}%d KiB " +
      f"of ${allBytes / 1024}%d KiB total; 10-mid-key point read binds " +
      f"${cPresent / 1024}%d KiB with blooms")

    // ---- r11: file-level carry (partial rewrite). On a key-clustered
    // multi-file layout a selective merge rewrites only the FILES of a
    // touched bucket whose key ranges overlap the delta, carrying the
    // sibling files by per-file manifest reference — pruning one level
    // below the bucket. Two selectivities: one bucket's worth of keys
    // (every file of the bucket overlaps → whole bucket rewritten, the
    // pre-r11 floor) and ONE key (one file overlaps → one file
    // rewritten).
    def multiFileTable(dir: String): Unit = {
      freshTable(dir, bucketed = true)
      VersionedSnapshot.compact(spark, dir, Seq("o_orderkey"),
        marker = "split", retain = 1, maxRecordsPerFile = 150L)
    }
    val minKey = orders.agg(min(col("o_orderkey"))).head().getLong(0)
    val oneKeyDelta = orders.filter(col("o_orderkey") === minKey)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    def mergeBytes(tag: String, dir: String, delta: org.apache.spark.sql.DataFrame): Long = {
      multiFileTable(dir)
      val before = files(dir)
      timed(tag) {
        VersionedSnapshot.mergeInto(dir, delta, Seq("o_orderkey"),
          VersionedSnapshot.UpdateMatched, insertUnmatched = false,
          marker = "sel", retain = 1, numBuckets = nb)
      }
      files(dir).collect { case (p, len) if !before.contains(p) && p.endsWith(".parquet") => len }.sum
    }
    val oneFileBytes = mergeBytes("multi-file: 1-key merge (file carry)",
      s"$root/g", oneKeyDelta)
    val oneBucketBytes = mergeBytes("multi-file: bucket-0 ~0.4% merge",
      s"$root/h", localDelta.filter(pmod(xxhash64(col("o_orderkey")), lit(nb)) === 0))
    println(f"file-level carry, data bytes staged: 1-key=${oneFileBytes / 1024}%d KiB, " +
      f"1-bucket=${oneBucketBytes / 1024}%d KiB")

    // ---- r13: the single-writer concurrency TAX of the fenced commit
    // protocol, as a number. Per publish, the r11/r13 machinery adds to
    // the pre-r11 commit (pointer read + tmp write + atomic rename):
    // one claims-dir listing, one O_EXCL claim create, one post-listing
    // pointer re-read (the r13 sweep fence), the fenced lock cycle
    // (O_EXCL create, token stamp, token read-back, CAS pointer read,
    // fence token re-read, lock delete) and the claim release — all
    // constant-size small-file ops, independent of data volume. Time
    // the two exact op sequences solo on a scratch dir, then the
    // smallest possible real publish (1 row, flat) for scale: the tax
    // is (fenced - pre) µs against that floor — every real publish
    // stages MORE data, so the percentage only shrinks from there.
    locally {
      import java.nio.file.{Files => JF, StandardCopyOption}
      val taxRoot = JF.createTempDirectory("mergebench-tax")
      val claims = taxRoot.resolve("_claims"); JF.createDirectories(claims)
      val ptr = taxRoot.resolve("_CURRENT")
      JF.write(ptr, "0".getBytes("UTF-8"))
      val M = 2000
      def flip(i: Int): Unit = {
        val cur = new String(JF.readAllBytes(ptr), "UTF-8").trim.toLong
        val tmp = taxRoot.resolve(s"_CURRENT.$i.tmp")
        JF.write(tmp, (cur + 1).toString.getBytes("UTF-8"))
        JF.move(tmp, ptr, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        ()
      }
      var i = 0
      val t0 = System.nanoTime()
      while (i < M) { // pre-r11 commit: read + flip, nothing else
        flip(i); i += 1
      }
      val preUs = (System.nanoTime() - t0) / 1e3 / M
      val lock = taxRoot.resolve("_COMMIT_LOCK")
      i = 0
      val t1 = System.nanoTime()
      while (i < M) { // fenced commit: the full r11+r13 op sequence
        val st = JF.list(claims); try { st.count(); () } finally st.close()
        val claim = claims.resolve(i.toString)
        JF.createFile(claim)                        // O_EXCL claim
        new String(JF.readAllBytes(ptr), "UTF-8")   // r13 sweep fence re-read
        JF.createFile(lock)                         // O_EXCL lock
        JF.write(lock, ("tok" + i).getBytes("UTF-8")) // token stamp
        new String(JF.readAllBytes(lock), "UTF-8")  // ownership read-back
        new String(JF.readAllBytes(ptr), "UTF-8")   // CAS pointer read
        new String(JF.readAllBytes(lock), "UTF-8")  // fence token re-read
        flip(i)
        JF.delete(claim)                            // release inside section
        JF.delete(lock)
        i += 1
      }
      val fencedUs = (System.nanoTime() - t1) / 1e3 / M
      // smallest real publish: 1 row, flat layout — staging floor (its
      // flip, unlike the timed sequences, also takes cas-file's FileLock)
      val pubDir = taxRoot.resolve("pub").toString
      val one = spark.range(1).selectExpr("id AS k", "id AS v")
      VersionedSnapshot.publish(one, pubDir, "warm", retain = 1)
      val K = 20
      val t2 = System.nanoTime()
      (0 until K).foreach(j =>
        VersionedSnapshot.publish(one, pubDir, s"p$j", retain = 1))
      val pubMs = (System.nanoTime() - t2) / 1e6 / K
      println(f"concurrency tax: pre-r11 commit ${preUs}%.0f µs, fenced ${fencedUs}%.0f µs " +
        f"(tax ${fencedUs - preUs}%.0f µs/publish); 1-row publish ${pubMs}%.1f ms end-to-end " +
        f"=> tax ~ ${(fencedUs - preUs) / (pubMs * 10)}%.2f%% of the smallest possible publish")
      org.apache.commons.io.FileUtils.deleteDirectory(taxRoot.toFile)
    }

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    spark.stop()
  }
}
