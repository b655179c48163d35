package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.VersionedSnapshot._

/** The one-record version layout: every commit path stages exactly one
  * metadata file per version dir (`_COMMIT`, plus a purge commit's
  * `_PURGED` retraction dir), and a committed version whose record is
  * gone reads as absent or fails — never as the defaults an absent file
  * used to mean. */
class CommitRecordSpec extends SparkSpec {
  import spark.implicits._

  /** Everything in a version dir that is not a data file. */
  private def metaFiles(base: String, v: Long): Set[String] =
    new java.io.File(base, f"v$v%05d").listFiles().map(_.getName)
      .filterNot(_.endsWith(".parquet")).toSet

  private def assertOneRecord(base: String, op: String,
      want: Set[String] = Set("_COMMIT")): Unit = {
    val v = currentVersion(spark, base).get
    assert(metaFiles(base, v) == want, s"after $op, v$v holds ${metaFiles(base, v)}")
  }

  test("every commit path leaves exactly one metadata file in the new version dir") {
    val base = Files.createTempDirectory("graft-rec1").resolve("t").toString
    def rows(n: Long, bump: Long) =
      (1L to n).map(k => (k, k * 10 + bump, s"t$k")).toDF("k", "v", "t")
    mergeInto(base, rows(40, 0), Seq("k"), UpdateMatched, insertUnmatched = true,
      marker = "seed", retain = 20, numBuckets = 4)
    assertOneRecord(base, "the seed mergeInto")
    mergeInto(base, rows(5, 1), Seq("k"), UpdateMatched, insertUnmatched = true,
      marker = "m1", retain = 20)
    assertOneRecord(base, "mergeInto")
    val restorable = currentVersion(spark, base).get
    stageDelta(base, rows(3, 2), Seq("k"), UpdateMatched, marker = "d1", retain = 20)
    assertOneRecord(base, "an overlay stageDelta")
    compact(spark, base, Seq("k"), marker = "c1", retain = 20, keyBlooms = true)
    assertOneRecord(base, "compact")
    assert(purgeKeys(spark, base, Seq("k"), Seq(Seq(7L))) > 0)
    assertOneRecord(base, "purgeKeys", Set("_COMMIT", "_PURGED"))
    renameColumns(spark, base, Map("v" -> "w"))
    assertOneRecord(base, "renameColumns")
    dropColumns(spark, base, Seq("t"))
    assertOneRecord(base, "dropColumns")
    restore(spark, base, restorable, retain = 20)
    assertOneRecord(base, "restore")
    // purge's in-place rewrite swapped records, it added no files
    new java.io.File(base).listFiles().map(_.getName).filter(_.startsWith("v"))
      .foreach { n =>
        assert(Set(Set("_COMMIT"), Set("_COMMIT", "_PURGED"))
          .contains(metaFiles(base, n.drop(1).toLong)), s"$n: ${metaFiles(base, n.drop(1).toLong)}")
      }
    for (deep <- Seq(false, true)) {
      val dst = Files.createTempDirectory("graft-rec1c").resolve("t").toString
      cloneTo(spark, base, dst, deep = deep)
      assertOneRecord(dst, s"cloneTo(deep = $deep)")
      assert(read(spark, dst).get.count() == read(spark, base).get.count())
    }
  }

  test("a retained version without its record reads as absent or fails, " +
      "never as an identity-colmap frame") {
    val base = Files.createTempDirectory("graft-rec2").resolve("t").toString
    mergeInto(base, (1L to 20L).map(k => (k, k)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", retain = 10,
      numBuckets = 4)
    val renamed = renameColumns(spark, base, Map("v" -> "w"))
    val v2 = mergeInto(base, Seq((1L, 100L)).toDF("k", "w"), Seq("k"),
      UpdateMatched, insertUnmatched = false, marker = "m", retain = 10)
    // warm every cache the reads consult, then lose the renamed version's record
    assert(readVersion(spark, base, renamed).get.columns.toSeq == Seq("k", "w"))
    Files.delete(CommitRecordFiles.recordPath(base, renamed))
    assert(readVersion(spark, base, renamed).isEmpty)
    assert(changes(spark, base, renamed, v2, Seq("k")).isEmpty)
    assert(!history(spark, base).select("version").collect()
      .map(_.getLong(0)).contains(renamed))
    // the CURRENT version's record gone: every read fails loudly
    Files.delete(CommitRecordFiles.recordPath(base, v2))
    intercept[IllegalStateException](read(spark, base))
    intercept[IllegalStateException](readForKeys(spark, base, Seq(1L).toDF("k")))
    intercept[IllegalStateException](lastApplied(spark, base))
  }

  /** Copy `from`'s whole tree over `to`, replacing what is there — how a
    * spec lands another JVM's commit without this JVM's writer code
    * seeing it. */
  private def overlayTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val d = java.nio.file.Paths.get(to).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  test("an aborted staged record never lends its colmap to the version " +
      "that later commits under the same number") {
    val root = Files.createTempDirectory("graft-rec3")
    val base = root.resolve("t").toString
    // the qualified form: the orphan sweep's listing names version dirs
    // exactly so, which is where a staged record could be mistaken for a
    // committed one
    val uri = "file:" + base
    val seed = mergeInto(uri, (1L to 20L).map(k => (k, k)).toDF("k", "v"), Seq("k"),
      UpdateMatched, insertUnmatched = true, marker = "seed", retain = 10,
      numBuckets = 4)
    // the winning writer (another JVM) commits v(seed + 1) with colmap
    // v -> w; modelled in a copy landed over the table below
    val other = root.resolve("other").toString
    overlayTree(base, other)
    assert(renameColumns(spark, other, Map("v" -> "w")) == seed + 1)
    // first, a loser staged the same number with the identity colmap;
    // this JVM's orphan sweep parses that staged record before it aborts
    val staged = CommitRecordFiles.recordPath(base, seed + 1)
    Files.createDirectories(staged.getParent)
    Files.copy(CommitRecordFiles.recordPath(base, seed), staged)
    vacuum(spark, uri)
    Files.delete(staged)
    Files.delete(staged.getParent)
    overlayTree(other, base)
    // the next rename builds on the committed colmap, not the staged one
    renameColumns(spark, uri, Map("w" -> "z"))
    assert(read(spark, uri).get.columns.toSeq == Seq("k", "z"))
    assert(readVersion(spark, uri, seed + 1).get.columns.toSeq == Seq("k", "w"))
  }
}
