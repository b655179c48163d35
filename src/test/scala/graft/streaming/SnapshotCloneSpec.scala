package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.VersionedSnapshot._
import org.apache.spark.sql.functions._

/** r15 table clone contract ([[VersionedSnapshot.cloneTo]]) — the Delta
  * CLONE analog in both depths. Pins the core promises:
  *
  *  - shallow = metadata-only (zero data bytes under the clone's tree)
  *    yet reads identical to the cloned source version, MoR overlays and
  *    zone/bloom pruning included;
  *  - divergence isolation BOTH ways (merges into either side never show
  *    in the other);
  *  - a purge of the clone rewrites into the clone's OWN tree and leaves
  *    the source's bytes and content untouched;
  *  - compact localizes a shallow clone (no external refs remain), after
  *    which deleting the source entirely leaves the clone fully readable;
  *  - deep clone is source-independent from the first read;
  *  - the documented shallow caveat is LOUD: vaporized source data fails
  *    validateCurrent instead of silently returning partial rows. */
class SnapshotCloneSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private def seed(base: String, n: Long = 40L, buckets: Int = 4): Long =
    mergeInto(base, (1L to n).map(k => (k, k * 10, s"s$k")).toDF("k", "v", "s"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "seed",
      retain = 10, numBuckets = buckets)

  private def rows(base: String): Set[(Long, Long, String)] =
    read(spark, base).get.select("k", "v", "s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def localParquetFiles(base: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    val root = new java.io.File(base)
    if (root.exists) walk(root) else Nil
  }

  private def manifestRefs(base: String): Seq[String] =
    bucketManifest(spark, base).toSeq.flatMap(_._2.values.flatten) ++
      deltaManifest(spark, base)

  test("shallow clone: zero data bytes copied, reads identical — " +
      "overlays reconciled, zones/blooms carried, history independent") {
    val src = tmp("graft-clsrc1"); val dst = tmp("graft-cldst1")
    seed(src)
    // merge-on-read overlay so the clone must reconcile _DELTAS too
    stageDelta(src, Seq((3L, 333L, "s3x")).toDF("k", "v", "s"), Seq("k"),
      UpdateMatched, marker = "overlay", retain = 10)
    val want = rows(src)
    val v = cloneTo(spark, src, dst)
    assert(v == 0L, s"fresh target commits v0, got $v")
    assert(rows(dst) == want, "clone must read the source version exactly")
    assert(localParquetFiles(dst).isEmpty,
      "shallow clone must copy ZERO data files")
    assert(manifestRefs(dst).nonEmpty &&
      manifestRefs(dst).forall(_.startsWith(ExtRefPrefix)),
      s"every shallow ref is external, got ${manifestRefs(dst)}")
    assert(validateCurrent(spark, dst),
      "the clone's integrity manifest must validate against the borrowed files")
    val h = history(spark, dst).select("version", "marker").collect()
    assert(h.length == 1 && h(0).getLong(0) == 0L &&
      h(0).getString(1).startsWith("clone:"),
      "clone history starts fresh at its own v0 with the clone marker")
  }

  test("divergence isolation both ways: merges into clone and source " +
      "never leak across; key-pruned reads on the clone stay correct") {
    val src = tmp("graft-clsrc2"); val dst = tmp("graft-cldst2")
    seed(src)
    val base = rows(src)
    cloneTo(spark, src, dst)
    mergeInto(dst, Seq((1L, 111L, "c1"), (99L, 990L, "c99")).toDF("k", "v", "s"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "c-up", retain = 10)
    mergeInto(src, Seq((2L, 222L, "p2")).toDF("k", "v", "s"),
      Seq("k"), UpdateMatched, insertUnmatched = false, marker = "s-up", retain = 10)
    val wantClone = base.filterNot(_._1 == 1L) + ((1L, 111L, "c1")) + ((99L, 990L, "c99"))
    val wantSrc = base.filterNot(_._1 == 2L) + ((2L, 222L, "p2"))
    assert(rows(dst) == wantClone, "clone shows only its own divergence")
    assert(rows(src) == wantSrc, "source shows only its own divergence")
    // the post-merge clone manifest still CARRIES untouched external refs
    assert(manifestRefs(dst).exists(_.startsWith(ExtRefPrefix)),
      "an O(delta) merge must carry untouched borrowed buckets by ref")
    // pruned point read through the carried external refs
    val got = readForKeys(spark, dst, Seq(99L, 7L).toDF("k"))
      .get.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((99L, 990L), (7L, 70L)))
  }

  test("purge on a shallow clone erases the subject from the clone, " +
      "rewrites into the clone's own tree, and never mutates the source") {
    val src = tmp("graft-clsrc3"); val dst = tmp("graft-cldst3")
    seed(src)
    val before = rows(src)
    val srcFiles = localParquetFiles(src).map(f => (f.getPath, f.length, f.lastModified)).toSet
    cloneTo(spark, src, dst)
    assert(purgeKeys(spark, dst, Seq("k"), Seq(Seq(5L))) > 0)
    assert(rows(dst) == before.filterNot(_._1 == 5L),
      "the subject is erased from the clone")
    assert(rows(src) == before, "the source still holds the subject")
    assert(localParquetFiles(src).map(f =>
      (f.getPath, f.length, f.lastModified)).toSet == srcFiles,
      "purging a clone must not touch one byte of the source tree")
    // the rewritten ref is LOCAL now; untouched buckets stay borrowed
    val refs = manifestRefs(dst)
    assert(refs.exists(!_.startsWith(ExtRefPrefix)),
      s"the purged bucket must have been rewritten locally, got $refs")
    assert(validateCurrent(spark, dst))
  }

  test("compact localizes a shallow clone; the source can then vanish " +
      "entirely and the clone keeps reading") {
    val src = tmp("graft-clsrc4"); val dst = tmp("graft-cldst4")
    seed(src)
    val want = rows(src)
    cloneTo(spark, src, dst)
    compact(spark, dst, Seq("k"), marker = "localize", retain = 1)
    assert(manifestRefs(dst).nonEmpty &&
      manifestRefs(dst).forall(!_.startsWith(ExtRefPrefix)),
      "compact must sever every borrow")
    // retain=1 aged out the borrowing v0; now hard-delete the source table
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    assert(rows(dst) == want, "a localized clone outlives its source")
    assert(validateCurrent(spark, dst))
  }

  test("deep clone copies exactly the referenced files and is " +
      "source-independent from the first read; time-travel clone " +
      "picks the requested version") {
    val src = tmp("graft-clsrc5"); val dst = tmp("graft-cldst5")
    val v0 = seed(src)
    val asOfV0 = rows(src)
    mergeInto(src, Seq((1L, 111L, "later")).toDF("k", "v", "s"), Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "later", retain = 10)
    cloneTo(spark, src, dst, version = Some(v0), deep = true)
    assert(manifestRefs(dst).nonEmpty &&
      manifestRefs(dst).forall(!_.startsWith(ExtRefPrefix)),
      "deep clone refs are local")
    assert(localParquetFiles(dst).nonEmpty, "deep clone copies bytes")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    assert(rows(dst) == asOfV0,
      "deep clone of v0 reads the OLD version with the source gone")
    assert(validateCurrent(spark, dst))
  }

  test("the shallow caveat is loud: after the source's data is " +
      "vaporized, validateCurrent reports drift and reads fail — " +
      "never silent partial rows") {
    val src = tmp("graft-clsrc6"); val dst = tmp("graft-cldst6")
    seed(src)
    cloneTo(spark, src, dst)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(src, "data"), true)
    assert(!validateCurrent(spark, dst),
      "integrity check must flag the vanished borrowed files")
    intercept[Exception] { rows(dst) }
  }

  test("guard rails: clone onto a live table, of a missing version, " +
      "and shallow-of-flat are all rejected before any mutation") {
    val src = tmp("graft-clsrc7"); val dst = tmp("graft-cldst7")
    seed(src)
    intercept[IllegalArgumentException] {
      cloneTo(spark, src, dst, version = Some(99L))
    }
    cloneTo(spark, src, dst)
    intercept[IllegalArgumentException] { cloneTo(spark, src, dst) }
    // flat source: publish() writes a flat layout; shallow refuses, deep works
    val flat = tmp("graft-clsrc7f"); val dflat = tmp("graft-cldst7f")
    publish((1L to 5L).map(k => (k, k)).toDF("k", "v"), flat, "flat-seed", 5)
    intercept[IllegalArgumentException] { cloneTo(spark, flat, dflat) }
    // rejected before the claim: no claim left to push the next clone past v0
    val claims = new java.io.File(dflat, "_claims")
    assert(Option(claims.list).forall(_.isEmpty),
      s"the rejected clone left claims: ${Option(claims.list).map(_.toSeq)}")
    assert(cloneTo(spark, flat, dflat, deep = true) == 0L)
    assert(history(spark, dflat).select("version").collect().map(_.getLong(0))
      .toSeq == Seq(0L))
    assert(read(spark, dflat).get.count() == 5L)
  }

  test("clone of a clone stays one hop deep: re-borrowed refs still " +
      "point at the ORIGINAL table's files") {
    val a = tmp("graft-clsrc8"); val b = tmp("graft-cldst8b")
    val c = tmp("graft-cldst8c")
    seed(a)
    val want = rows(a)
    cloneTo(spark, a, b)
    cloneTo(spark, b, c)
    assert(rows(c) == want)
    val aQ = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
      .makeQualified(new org.apache.hadoop.fs.Path(a)).toString
    assert(manifestRefs(c).forall(r => r.startsWith(ExtRefPrefix) &&
      r.contains(aQ)),
      s"grand-clone refs resolve to the original $aQ, got ${manifestRefs(c)}")
    // the middle clone can now disappear without breaking the grand-clone
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(b), true)
    assert(rows(c) == want)
  }

  test("deep clone of a table WITH merge-on-read overlays: the overlay " +
      "dirs copy under fresh d-names and reconcile identically") {
    val src = tmp("graft-clsrc10"); val dst = tmp("graft-cldst10")
    seed(src)
    stageDelta(src, Seq((2L, 222L, "o2")).toDF("k", "v", "s"), Seq("k"),
      UpdateMatched, marker = "ov1", retain = 10)
    stageDelta(src, Seq((5L, 0L, "x")).toDF("k", "v", "s"), Seq("k"),
      DeleteMatched, marker = "ov2", retain = 10)
    val want = rows(src)
    cloneTo(spark, src, dst, deep = true)
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(src), true)
    assert(rows(dst) == want,
      "overlays must reconcile on the deep clone with the source gone")
    assert(validateCurrent(spark, dst))
    // folding them works against the copied dirs too
    compact(spark, dst, Seq("k"), marker = "fold", retain = 1)
    assert(rows(dst) == want)
  }

  test("clone of a COLUMN-MAPPED table: the view travels, merges under " +
      "the renamed key work through the borrow, and a purge of the " +
      "clone under the new names leaves the source intact") {
    val src = tmp("graft-clsrc11"); val dst = tmp("graft-cldst11")
    seed(src)
    renameColumns(spark, src, Map("k" -> "id", "v" -> "value"))
    val before = read(spark, src).get.select("id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    cloneTo(spark, src, dst)
    mergeInto(dst, Seq((1L, 111L, "c")).toDF("id", "value", "s"), Seq("id"),
      UpdateMatched, insertUnmatched = false, marker = "c-up", retain = 10)
    assert(purgeKeys(spark, dst, Seq("id"), Seq(Seq(9L))) > 0)
    val got = read(spark, dst).get.select("id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == before.filterNot(t => t._1 == 1L || t._1 == 9L) + ((1L, 111L)))
    assert(read(spark, src).get.select("id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == before,
      "the source keeps its content AND its renamed view")
  }

  test("CDF works across a clone's own history: changes since clone-v0 " +
      "report exactly the clone's divergence") {
    val src = tmp("graft-clsrc9"); val dst = tmp("graft-cldst9")
    seed(src)
    val v = cloneTo(spark, src, dst)
    mergeInto(dst, Seq((4L, 444L, "c4")).toDF("k", "v", "s"), Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "c-up", retain = 10)
    val diff = changes(spark, dst, v, v + 1, Seq("k")).get
      .select("op", "k").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(diff == Set(("update", 4L)))
  }
}
