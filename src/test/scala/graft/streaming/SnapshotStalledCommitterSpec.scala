package graft.streaming

import graft.SparkSpec
import java.nio.file.Files
import org.apache.hadoop.fs.Path

/** THE window the conditional-put stores exist to close, driven
  * end-to-end through `publish` on each store's own filesystem with the
  * identical interleaving:
  *
  *   writer A passes its CAS check AND its lock-fence read-back, then
  *   stalls (GC pause / object-store stall); a successor breaks A's
  *   now-stale lock, commits, and moves on; A wakes and writes.
  *
  * On an HDFS-like filesystem (the `graftfs` double: no `file:` scheme,
  * no ETags) the flip is the rename store, and A's compare-then-rename
  * lands ON TOP of the successor's commit — the double flip filesystem
  * rename cannot close (the fence read happened BEFORE the stall, so it
  * proved nothing about the world A wakes into). On `file:` (cas-file)
  * and on an ETag store (etag-cas) the same late write is REFUSED by the
  * store itself — the compare and the write are one atomic unit at wake
  * time — so the successor's commit survives and A aborts retryably.
  * The first test pins the window OPEN on rename (so if someone "fixes"
  * rename into safety silently, we learn our model is wrong); the other
  * two pin it CLOSED. */
class SnapshotStalledCommitterSpec extends SparkSpec {

  private val StallTag = "graft-stalled-committer"

  /** The claims left under the table, read on its LOCAL path: a
    * scheme-prefixed base names no local directory. */
  private def claimsIn(localBase: String): Seq[String] = {
    val d = new java.io.File(localBase, "_claims")
    if (!d.exists) Nil else d.listFiles().map(_.getName).toSeq
  }

  /** Run the interleaving once; None = inconclusive scheduling (A woke
    * before the successor committed), retried by [[scenario]]. Some =
    * (v0, A's outcome, successor's version, final pointer, base, local
    * path of base). */
  private def runScenario(tag: String, schemePrefix: String):
      Option[(Long, Option[Throwable], Long, Long, String, String)] = {
    import spark.implicits._
    // schemePrefix routes the TABLE through a non-file FileSystem (and so
    // through that filesystem's pointer store) while the spec's own
    // white-box reads stay on the underlying local path
    val localBase = Files.createTempDirectory(s"graft-stall-$tag").resolve("snap").toString
    val base = schemePrefix + localBase
    VersionedSnapshot.publish(Seq((1L, 1L)).toDF("k", "v"), base, "seed", retain = 5)
    val v0 = VersionedSnapshot.currentVersion(spark, base).get
    // only threads named with the tag stall at the post-fence seam — the
    // successor (this thread) runs the same code unstalled
    spark.conf.set(VersionedSnapshot.TestDelayAfterFenceConf, s"8000:$StallTag")
    spark.conf.set(VersionedSnapshot.CommitLockStaleMsConf, "400")
    @volatile var aOutcome: Option[Throwable] = None
    try {
      val a = new Thread(() => {
        aOutcome = try {
          VersionedSnapshot.publish(Seq((2L, 2L)).toDF("k", "v"), base,
            "stalled-writer", retain = 5)
          None
        } catch { case e: Throwable => Some(e) }
      }, StallTag)
      a.start()
      // wait until A holds the commit lock (token stamped) — it passes
      // its CAS + fence within milliseconds after and parks at the seam
      val lockFile = new java.io.File(localBase, "_COMMIT_LOCK")
      val deadline = System.currentTimeMillis() + 60000
      var tok = ""
      while (tok.length != 36 && System.currentTimeMillis() < deadline) {
        Thread.sleep(20)
        tok = if (lockFile.exists) Files.readString(lockFile.toPath).trim else ""
      }
      assert(tok.length == 36, s"writer A never stamped its lock token, saw '$tok'")
      Thread.sleep(600) // past the fence and into the 8 s stall; lock now stale (>400 ms)
      // the successor: breaks A's stale lock by token identity, commits.
      // On a pathologically loaded machine A can wake before this lands —
      // the successor then loses the race legitimately (an inconclusive
      // shape, not a violation): surface it as None so the caller retries
      val vSucc =
        try VersionedSnapshot.publish(Seq((3L, 3L)).toDF("k", "v"), base,
          "successor", retain = 5)
        catch { case _: VersionedSnapshot.ConcurrentSnapshotUpdate =>
          a.join(120000); return None
        }
      a.join(120000)
      assert(!a.isAlive, "writer A never finished")
      val ptrFinal = Files.readString(
        new java.io.File(localBase, "_CURRENT").toPath).trim
      Some((v0, aOutcome, vSucc, ptrFinal.toLong, base, localBase))
    } finally {
      spark.conf.unset(VersionedSnapshot.TestDelayAfterFenceConf)
      spark.conf.unset(VersionedSnapshot.CommitLockStaleMsConf)
    }
  }

  private def scenario(tag: String, schemePrefix: String = ""):
      (Long, Option[Throwable], Long, Long, String, String) = {
    val r = (1 to 3).iterator.map(i => runScenario(s"$tag$i", schemePrefix))
      .collectFirst { case Some(x) => x }
    assert(r.nonEmpty,
      "A kept waking before the successor committed across 3 attempts")
    r.get
  }

  test("rename backend: the post-fence stall window is REAL — the stalled " +
      "committer overwrites the successor (the documented residual hazard)") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    hc.set("fs.AbstractFileSystem.graftfs.impl", classOf[GraftTestAbstractFs].getName)
    val (v0, aOutcome, vSucc, ptrFinal, base, _) = scenario("rename", "graftfs://")
    assert(VersionedSnapshot.detail(spark, base).head()
      .getAs[String]("pointer_store") == "rename")
    assert(aOutcome.isEmpty,
      s"under rename the stalled committer believes it succeeded, got $aOutcome")
    assert(ptrFinal != vSucc && ptrFinal == v0 + 1,
      s"rename's blind flip must land over the successor " +
        s"(ptr=$ptrFinal, successor=$vSucc) — if this ever fails, the " +
        "window model is wrong and the backends need re-review")
  }

  test("cas-file backend: the identical stall LOSES — the successor's commit " +
      "survives and the stalled committer aborts retryably") {
    val (v0, aOutcome, vSucc, ptrFinal, base, localBase) = scenario("cas")
    assert(ptrFinal == vSucc,
      s"the successor's commit must survive the stalled committer's wake " +
        s"(ptr=$ptrFinal, successor=$vSucc)")
    aOutcome match {
      case Some(_: VersionedSnapshot.ConcurrentSnapshotUpdate) => ()
      case other => fail(s"the stalled committer must abort with the retryable " +
        s"ConcurrentSnapshotUpdate, got $other")
    }
    // the loser's staging is cleaned up like any conflict loss
    assert(claimsIn(localBase).isEmpty, s"no claim survives, saw ${claimsIn(localBase)}")
    // and the retry path composes: re-running A's merge now lands cleanly
    import spark.implicits._
    VersionedSnapshot.retryOnConflict() {
      VersionedSnapshot.publish(Seq((2L, 2L)).toDF("k", "v"), base,
        "retried", retain = 5); ()
    }
    assert(VersionedSnapshot.currentVersion(spark, base).exists(_ > vSucc))
    val _ = v0
  }

  test("etag-cas backend: the identical stall LOSES server-side — the " +
      "successor's flip changed the etag, the late conditional PUT 412s, " +
      "and the stalled committer aborts retryably (r15)") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.etagfs.impl", classOf[EtagCasTestFileSystem].getName)
    hc.set("fs.AbstractFileSystem.etagfs.impl", classOf[EtagCasAbstractFs].getName)
    val (v0, aOutcome, vSucc, ptrFinal, _, localBase) =
      scenario("etag", "etagfs://")
    assert(ptrFinal == vSucc,
      s"the successor's commit must survive the stalled committer's wake " +
        s"(ptr=$ptrFinal, successor=$vSucc)")
    aOutcome match {
      case Some(_: VersionedSnapshot.ConcurrentSnapshotUpdate) => ()
      case other => fail(s"the stalled committer must abort with the retryable " +
        s"ConcurrentSnapshotUpdate, got $other")
    }
    assert(claimsIn(localBase).isEmpty, s"no claim survives, saw ${claimsIn(localBase)}")
    val _ = v0
  }
}
