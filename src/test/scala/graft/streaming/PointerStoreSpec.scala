package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path

/** Unit-level pins on the pointer stores ([[VersionedSnapshot
  * .PointerStore]]): which store each filesystem selects, the cas-file
  * store's atomicity (exactly one winner per generation under thread
  * races), its create-if-absent semantics, and the property the
  * conditional stores exist for — a committer that read the pointer,
  * then stalled while another writer flipped it, LOSES when it finally
  * writes, no matter how long the stall. The rename store is pinned only
  * for its compare behavior (it is documented non-atomic; the fenced
  * lock around it is specced in HdfsSchemeSnapshotSpec and
  * SnapshotStalledCommitterSpec). */
class PointerStoreSpec extends SparkSpec {

  private def fsFor(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def freshPtr(tag: String): Path = {
    val d = Files.createTempDirectory(s"graft-ps-$tag")
    new Path(d.resolve("_CURRENT").toString)
  }

  private def contentOf(p: Path): Option[String] = {
    val jp = Paths.get(p.toUri.getPath)
    if (Files.exists(jp)) Some(new String(Files.readAllBytes(jp), "UTF-8").trim)
    else None
  }

  test("cas-file: racing creates — exactly one thread wins the absent→0 put") {
    val store = VersionedSnapshot.CasFilePointerStore
    val ptr = freshPtr("create")
    val f = fsFor(ptr.getParent.toString)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { i =>
      val t = new Thread(() => {
        if (store.putIfMatch(spark, f, ptr, s"0", None)) { wins.incrementAndGet(); () }
      }, s"ps-create-$i")
      t.start(); t
    }
    threads.foreach(_.join(30000))
    assert(wins.get == 1, s"exactly one creator must win, got ${wins.get}")
    assert(contentOf(ptr).contains("0"))
  }

  test("cas-file: per generation, exactly one of N racing writers flips") {
    val store = VersionedSnapshot.CasFilePointerStore
    val ptr = freshPtr("gen")
    val f = fsFor(ptr.getParent.toString)
    assert(store.putIfMatch(spark, f, ptr, "0", None))
    (0 until 15).foreach { g =>
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (1 to 6).map { i =>
        val t = new Thread(() => {
          if (store.putIfMatch(spark, f, ptr, (g + 1).toString, Some(g.toString))) {
            wins.incrementAndGet(); ()
          }
        }, s"ps-gen$g-$i")
        t.start(); t
      }
      threads.foreach(_.join(30000))
      assert(wins.get == 1, s"generation $g: exactly one winner, got ${wins.get}")
      assert(contentOf(ptr).contains((g + 1).toString))
    }
  }

  test("cas-file: a writer stalled between read and put loses to the interim flip") {
    val store = VersionedSnapshot.CasFilePointerStore
    val ptr = freshPtr("stall")
    val f = fsFor(ptr.getParent.toString)
    assert(store.putIfMatch(spark, f, ptr, "5", None))
    // writer A reads "5" as its basis, then stalls; B flips 5→6 during
    // the stall; A's late conditional put against "5" must be refused —
    // the deciding check happens INSIDE the store at put time, so the
    // stall length is irrelevant (this is what the fenced rename cannot
    // guarantee: its check precedes its write)
    val aBasis = contentOf(ptr)
    assert(aBasis.contains("5"))
    assert(store.putIfMatch(spark, f, ptr, "6", Some("5")), "B's flip must land")
    assert(!store.putIfMatch(spark, f, ptr, "7", aBasis),
      "A's stale-basis put must be refused")
    assert(contentOf(ptr).contains("6"), "B's commit must survive A's late write")
  }

  test("cas-file: expected=None never matches an existing pointer") {
    val store = VersionedSnapshot.CasFilePointerStore
    val ptr = freshPtr("none")
    val f = fsFor(ptr.getParent.toString)
    assert(store.putIfMatch(spark, f, ptr, "3", None))
    assert(!store.putIfMatch(spark, f, ptr, "9", None))
    assert(contentOf(ptr).contains("3"))
  }

  test("rename: putIfMatch honors the compare under external serialization") {
    val store = VersionedSnapshot.RenamePointerStore
    val ptr = freshPtr("ren")
    val f = fsFor(ptr.getParent.toString)
    assert(store.putIfMatch(spark, f, ptr, "0", None))
    assert(store.putIfMatch(spark, f, ptr, "1", Some("0")))
    assert(!store.putIfMatch(spark, f, ptr, "2", Some("0")),
      "a moved pointer must fail the compare")
    assert(contentOf(ptr).contains("1"))
  }

  test("cas-file refuses non-file schemes with a pointer to the deployment path") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    val gfs = new Path("graftfs:///tmp").getFileSystem(hc)
    val store = VersionedSnapshot.CasFilePointerStore
    val e = intercept[IllegalArgumentException] {
      store.putIfMatch(spark, gfs,
        new Path("graftfs:///tmp/nowhere/_CURRENT"), "0", None)
    }
    assert(e.getMessage.contains("graftfs") && e.getMessage.contains("etag-cas"))
  }

  test("each filesystem flips through its one store: file → cas-file, " +
      "an ETag filesystem → etag-cas, any other scheme → rename") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.etagfs.impl", classOf[EtagCasTestFileSystem].getName)
    hc.set("fs.AbstractFileSystem.etagfs.impl", classOf[EtagCasAbstractFs].getName)
    hc.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    hc.set("fs.AbstractFileSystem.graftfs.impl", classOf[GraftTestAbstractFs].getName)
    Seq("" -> "cas-file", "etagfs://" -> "etag-cas", "graftfs://" -> "rename")
      .foreach { case (scheme, want) =>
        val local = Files.createTempDirectory("graft-ps-sel").resolve("snap")
        val base = scheme + local
        VersionedSnapshot.publish(Seq((1L, 1L)).toDF("k", "v"), base, "seed")
        val got = VersionedSnapshot.detail(spark, base).head()
          .getAs[String]("pointer_store")
        assert(got == want, s"a '$scheme' table flipped through $got, not $want")
        // the flip itself went through it: only cas-file leaves its lock file
        assert(Files.exists(local.resolve("_CURRENT.caslock")) == (want == "cas-file"))
      }
  }
}
