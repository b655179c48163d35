package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.VersionedSnapshot._

class PurgeKeysSpec extends SparkSpec {
  import spark.implicits._

  private def ids(base: String): Set[Long] =
    read(spark, base).get.select("k").collect().map(_.getLong(0)).toSet

  private def idsAt(base: String, v: Long): Set[Long] =
    readVersion(spark, base, v).get.select("k").collect().map(_.getLong(0)).toSet

  test("purge removes the subject from current AND retained history") {
    val base = Files.createTempDirectory("graft-purge1").resolve("t").toString
    mergeInto(base, Seq((42L, 1L), (7L, 1L), (9L, 1L)).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "b0",
      retain = 3, numBuckets = 8)
    mergeInto(base, Seq((7L, 2L)).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "b1",
      retain = 3, numBuckets = 8)
    val v2 = mergeInto(base, Seq((5L, 1L)).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "b2",
      retain = 3, numBuckets = 8)
    // 42 is visible at every retained version before the purge
    (v2 - 2 to v2).foreach(v => assert(idsAt(base, v).contains(42L)))

    val bucketsBefore = CommitRecordFiles.section(base, v2, "buckets").get
    val n = purgeKeys(spark, base, Seq("k"), Seq(Seq(42L)))
    assert(n >= 1)

    // gone from the current read, from TIME TRAVEL, and from point lookups
    assert(ids(base) === Set(7L, 9L, 5L))
    (v2 - 2 to v2).foreach { v =>
      assert(!idsAt(base, v).contains(42L), s"42 still visible at v$v")
      assert(idsAt(base, v) - 42L === idsAt(base, v)) // others intact
    }
    assert(readForKeys(spark, base, Seq(42L).toDF("k")).map(_.count()).getOrElse(0L) === 0L)
    assert(readForKeys(spark, base, Seq(7L).toDF("k")).get
      .select("v").head().getLong(0) === 2L)

    // untouched buckets keep their manifest lines verbatim (inheritance)
    val bucketsAfter = CommitRecordFiles.section(base, v2, "buckets").get
    val changedLines = bucketsBefore.toSet -- bucketsAfter.toSet
    assert(changedLines.nonEmpty && changedLines.size < 8,
      s"only hit buckets may change, saw $changedLines")

    // the integrity manifest was refreshed in place
    assert(validateCurrent(spark, base))

    // reader grace: the OLD dirs survive the purge itself…
    val dataRoot = new java.io.File(base, "data")
    assert(dataRoot.listFiles().exists(_.getName.startsWith("p")))
    val oldDirs = dataRoot.listFiles().map(_.getName).filter(_.startsWith("g")).toSet
    assert(oldDirs.nonEmpty)
    // …and the next publish's orphan sweep reclaims whatever no retained
    // manifest references anymore
    mergeInto(base, Seq((11L, 1L)).toDF("k", "v"), Seq("k"), UpdateMatched,
      insertUnmatched = true, marker = "b3", retain = 3, numBuckets = 8)
    assert(ids(base) === Set(7L, 9L, 5L, 11L))
  }

  test("purge reaches merge-on-read overlays") {
    val base = Files.createTempDirectory("graft-purge2").resolve("t").toString
    mergeInto(base, Seq((1L, 1L), (2L, 1L)).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "b0",
      retain = 2, numBuckets = 4)
    stageDelta(base, Seq((3L, 9L), (2L, 5L)).toDF("k", "v"),
      Seq("k"), UpdateMatched, marker = "d0", retain = 2, numBuckets = 4)
    assert(ids(base) === Set(1L, 2L, 3L))
    val n = purgeKeys(spark, base, Seq("k"), Seq(Seq(3L), Seq(2L)))
    assert(n >= 1)
    // 2 lived in a bucket file AND as an overlay upsert; 3 only in the
    // overlay — both fully forgotten, the reconcile read never resurrects
    assert(ids(base) === Set(1L))
    assert(validateCurrent(spark, base))
  }

  test("purge works when the base dir itself contains a /data/ segment") {
    // regression: rel extraction keys on the LAST /data/ in file URIs
    val base = Files.createTempDirectory("graft-purgedd")
      .resolve("data").resolve("t").toString
    mergeInto(base, Seq((1L, 1L), (2L, 1L)).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "b0",
      retain = 2, numBuckets = 4)
    assert(purgeKeys(spark, base, Seq("k"), Seq(Seq(2L))) >= 1)
    assert(ids(base) === Set(1L))
    assert(validateCurrent(spark, base))
  }

  test("flat versions fail fast with nothing mutated") {
    val base = Files.createTempDirectory("graft-purge3").resolve("t").toString
    publish(Seq((1L, 1L), (2L, 2L)).toDF("k", "v"), base, marker = "b0")
    val e = intercept[IllegalStateException] {
      purgeKeys(spark, base, Seq("k"), Seq(Seq(1L)))
    }
    assert(e.getMessage.contains("bucketed layout"))
    assert(ids(base) === Set(1L, 2L)) // untouched
  }

  test("randomized op sequences match an in-memory model at every retained version") {
    // model-based fuzz: random upsert/delete merges, MoR delta batches and
    // purges against a Map model; after the run, every retained version
    // this test published must read back exactly the model's snapshot of
    // it — purged keys excised from history, everything else untouched
    (1 to 3).foreach { scenario =>
      val rnd = new scala.util.Random(9000L + scenario)
      val base = Files.createTempDirectory(s"graft-purgefz$scenario")
        .resolve("t").toString
      var model = Map.empty[Long, Long]
      var snaps = Map.empty[Long, Map[Long, Long]]
      def batch(n: Int): Map[Long, Long] =
        Seq.fill(n)(rnd.nextInt(30).toLong -> rnd.nextInt(10000).toLong).toMap
      (1 to 14).foreach { step =>
        rnd.nextInt(4) match {
          case 0 =>
            val b = batch(1 + rnd.nextInt(5))
            mergeInto(base, b.toSeq.toDF("k", "v"), Seq("k"), UpdateMatched,
              insertUnmatched = true, marker = s"m$step", retain = 4,
              numBuckets = 4)
            model = model ++ b
          case 1 if model.nonEmpty =>
            val b = batch(1 + rnd.nextInt(3))
            mergeInto(base, b.toSeq.toDF("k", "v"), Seq("k"), DeleteMatched,
              insertUnmatched = false, marker = s"d$step", retain = 4,
              numBuckets = 4)
            model = model -- b.keys
          case 2 =>
            val b = batch(1 + rnd.nextInt(4))
            stageDelta(base, b.toSeq.toDF("k", "v"), Seq("k"), UpdateMatched,
              marker = s"s$step", retain = 4, numBuckets = 4)
            model = model ++ b
          case _ =>
            if (currentVersion(spark, base).nonEmpty) {
              val purged = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(30).toLong)
                .distinct
              purgeKeys(spark, base, Seq("k"), purged.map(Seq[Any](_)))
              model = model -- purged
              snaps = snaps.view.mapValues(_ -- purged).toMap
            }
        }
        currentVersion(spark, base).foreach(v => snaps += v -> model)
      }
      // every retained version the test itself published must equal its
      // model snapshot (intermediate pre-merge-compact versions are not in
      // the map and are skipped); require real coverage
      var checked = 0
      snaps.foreach { case (v, want) =>
        readVersion(spark, base, v).foreach { df =>
          val got = df.select("k", "v").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got === want, s"scenario $scenario v$v diverged")
          checked += 1
        }
      }
      assert(checked >= 3, s"scenario $scenario compared only $checked versions")
    }
  }

  test("zonemap and bloom sidecars are regenerated, never left dangling") {
    val base = Files.createTempDirectory("graft-purge4").resolve("t").toString
    mergeInto(base, (1L to 40L).map(k => (k, k)).toDF("k", "v"),
      Seq("k"), UpdateMatched, insertUnmatched = true, marker = "b0",
      retain = 2, numBuckets = 4, keyBlooms = true)
    assert(purgeKeys(spark, base, Seq("k"), Seq(Seq(10L), Seq(20L))) >= 1)
    // every _ZONES entry of the current version points at a file on disk
    val (_, _, entries) = zoneManifest(spark, base).get
    entries.keys.foreach { rel =>
      assert(new java.io.File(base, rel).exists(), s"dangling zone entry $rel")
    }
    // pruned point reads still work on both sides of the purge
    assert(readForKeys(spark, base, Seq(10L).toDF("k")).map(_.count()).getOrElse(0L) === 0L)
    assert(readForKeys(spark, base, Seq(11L).toDF("k")).map(_.count()).getOrElse(0L) === 1L)
    assert(ids(base).size === 38)
    assert(validateCurrent(spark, base))
  }
}
