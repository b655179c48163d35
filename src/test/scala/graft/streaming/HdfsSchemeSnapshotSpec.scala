package graft.streaming

import graft.SparkSpec
import java.nio.file.Files
import org.apache.hadoop.fs.Path

/** Drives the whole snapshot life cycle over [[GraftTestFileSystem]]'s
  * non-`file:` scheme, covering the branches every production
  * deployment (HDFS, object stores behind an HCFS adapter) would run
  * and `file:`-based tests never touch: claim/lock acquisition through
  * `FileSystem.createNewFile` (`tryCreateNew`'s non-NIO arm) and the
  * pointer/manifest flips through `FileContext.rename(OVERWRITE)`
  * (`atomicOverwrite`'s non-NIO arm). */
class HdfsSchemeSnapshotSpec extends SparkSpec {

  private lazy val schemeReady: Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    hc.set("fs.AbstractFileSystem.graftfs.impl", classOf[GraftTestAbstractFs].getName)
  }

  test("merge/read/time-travel/purge cycle on a graftfs:// table (non-file commit branches)") {
    schemeReady
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-hdfs-scheme")
    val base = s"graftfs://$tmp/snap"
    // sanity: the path really resolves to the non-file scheme, so every
    // pointer flip and claim below runs the HDFS-shaped branch
    val f = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.getScheme == "graftfs", s"test scheme not registered: ${f.getScheme}")

    val seed = (0L until 60L).map(k => (k, k * 10)).toDF("k", "v")
    val v0 = VersionedSnapshot.mergeInto(base, seed, Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = true,
      marker = "seed", numBuckets = 4, retain = 3)
    // update merge: second pointer flip through FileContext.rename
    val upd = (0L until 60L by 3).map(k => (k, k * 10 + 7)).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, upd, Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = false,
      marker = "upd", numBuckets = 4, retain = 3)
    val got = VersionedSnapshot.read(spark, base).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 60L)
      .map(k => k -> (if (k % 3 == 0) k * 10 + 7 else k * 10)).toMap
    assert(got == want, s"merge over graftfs lost rows: ${got.size} vs ${want.size}")
    // time travel across the retained seed version still reads
    val old = VersionedSnapshot.readVersion(spark, base, v0).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(old == (0L until 60L).map(k => k -> k * 10).toMap)
    // claims all released through the non-NIO release path
    val claimsDir = new Path(base, "_claims")
    val leftover =
      if (!f.exists(claimsDir)) Nil
      else f.listStatus(claimsDir).map(_.getPath.getName).toSeq
    assert(leftover.isEmpty, s"leaked claims on graftfs: $leftover")
    // purge rewrites bucket dirs AND sidecar manifests in place — the
    // manifest rewrites go through atomicOverwrite's FileContext arm
    VersionedSnapshot.purgeKeys(spark, base, Seq("k"),
      Seq(Seq[Any](3L), Seq[Any](30L)))
    val cur = VersionedSnapshot.read(spark, base).get.collect()
      .map(_.getLong(0)).toSet
    assert(!cur.contains(3L) && !cur.contains(30L) && cur.size == 58,
      s"purge over graftfs wrong: ${cur.size} rows")
    val oldAfter = VersionedSnapshot.readVersion(spark, base, v0).get.collect()
      .map(_.getLong(0)).toSet
    assert(!oldAfter.contains(3L) && !oldAfter.contains(30L),
      "purge must reach retained history on graftfs too")
  }

  test("merge-on-read overlays and compaction work over graftfs://") {
    schemeReady
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-hdfs-mor")
    val base = s"graftfs://$tmp/snap"
    val seed = (0L until 40L).map(k => (k, k)).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, seed, Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = true,
      marker = "seed", numBuckets = 4)
    VersionedSnapshot.stageDelta(base,
      (0L until 40L by 5).map(k => (k, k + 100)).toDF("k", "v"),
      Seq("k"), VersionedSnapshot.UpdateMatched, marker = "overlay")
    val reconciled = VersionedSnapshot.read(spark, base).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reconciled(5L) == 105L && reconciled(7L) == 7L)
    VersionedSnapshot.compact(spark, base, Seq("k"), marker = "fold")
    val folded = VersionedSnapshot.read(spark, base).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == reconciled, "compaction over graftfs changed content")
  }

  test("graftfs:// createNewFile is atomic create-if-absent: of racing claimants exactly one wins") {
    schemeReady
    val tmp = Files.createTempDirectory("graft-hdfs-excl")
    val f = new Path(s"graftfs://$tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claimants = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(claimants)
    try {
      (0 until 200).foreach { round =>
        val p = new Path(s"graftfs://$tmp/_claims/$round")
        val start = new java.util.concurrent.CountDownLatch(1)
        val futs = (0 until claimants).map(_ =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              start.await()
              try f.createNewFile(p)
              catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
            }
          }))
        start.countDown()
        val wins = futs.count(_.get())
        assert(wins == 1, s"round $round: $wins claimants created $p")
      }
    } finally pool.shutdown()
  }
}
