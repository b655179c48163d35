package graft.streaming

import graft.SparkSpec
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.TimeUnit

/** True power-loss fault injection, one named crash point at a time: a
  * child JVM ([[CrashJvmMain]]) runs a table operation and `Runtime.halt`s
  * mid-flight — skipping finally blocks, the commit protocol's abort, and
  * shutdown hooks, which is what distinguishes a killed PROCESS from the
  * in-JVM thrown-exception crashes the older specs cover. For every point
  * the parent then proves the two halves of the durability contract:
  *
  *  1. '''Readers hold''': the table reads as the last committed state —
  *     pre-crash content for pre-flip points, the child's content for
  *     post-flip points (the pointer flip IS the commit).
  *  2. '''The next writer heals''': with the staleness horizons aged out,
  *     one ordinary operation absorbs all the litter — staged dirs swept,
  *     orphan claims released (WITHOUT sweeping committed versions), the
  *     abandoned commit lock broken, orphan generations GC'd — and leaves
  *     zero claims, no lock, and a manifest-valid current version.
  *
  * Crash points (see [[VersionedSnapshot.HaltAtConf]]): the commit
  * protocol's staged-data, staged-sidecars and post-flip, which every
  * operation committing a new version passes once, plus mid-retention and
  * mid-purge. staged-data is crashed for merge, overlay staging, flat
  * publish, restore and renameColumns; staged-sidecars and post-flip for
  * merge. */
class CrashRecoverySpec extends SparkSpec {
  import org.apache.spark.sql.functions.col

  private val addOpens = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  /** Run the child op and require it died AT the seam (exit = halt code). */
  private def crashChild(tmp: JPath, args: Seq[String]): Unit = {
    val log = tmp.resolve(s"child-${args.mkString("-").replace('/', '_').take(40)}.log")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xms512m", "-Xmx3g",
      "-Dspark.ui.enabled=false",
      // arms the Runtime.halt seam: a session conf alone is inert
      s"-D${VersionedSnapshot.HaltArmedProp}=true",
      "-cp", sys.props("java.class.path"),
      "graft.streaming.CrashJvmMain") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log.toFile)
    val proc = pb.start()
    try {
      assert(proc.waitFor(240, TimeUnit.SECONDS),
        "crash child never exited — " + tailOf(log))
      assert(proc.exitValue == VersionedSnapshot.HaltExitCode,
        s"crash child exited ${proc.exitValue}, expected the halt code " +
          s"${VersionedSnapshot.HaltExitCode} (seam never fired?) — " + tailOf(log))
    } finally { if (proc.isAlive) proc.destroyForcibly(); () }
  }

  private def tailOf(p: JPath): String =
    if (!Files.exists(p)) "(no child log)"
    else "child log tail:\n" + new String(Files.readAllBytes(p), "UTF-8")
      .linesIterator.toSeq.takeRight(25).mkString("\n")

  private def seed(base: String): Unit = {
    import spark.implicits._
    val df = (0L until 20L).map(k => (k, k * 10)).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, df, Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = true,
      marker = "seed", numBuckets = 4)
    ()
  }

  private def content(base: String): Map[Long, Long] =
    VersionedSnapshot.read(spark, base).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def claims(tmp: JPath): Seq[String] =
    Option(tmp.resolve("snap/_claims").toFile.listFiles)
      .map(_.map(_.getName).toSeq.sorted).getOrElse(Nil)

  /** Age out the staleness horizons, run one healing merge (keys [0,10) →
    * v = k*10 + 1000), restore the horizons. */
  private def healMerge(base: String, retain: Int = 2): Unit = {
    import spark.implicits._
    val src = (0L until 10L).map(k => (k, k * 10 + 1000)).toDF("k", "v")
    spark.conf.set(VersionedSnapshot.StaleClaimMsConf, "1")
    spark.conf.set(VersionedSnapshot.CommitLockStaleMsConf, "300")
    try {
      VersionedSnapshot.mergeInto(base, src, Seq("k"),
        VersionedSnapshot.UpdateMatched, insertUnmatched = false,
        marker = "healing-merge", retain = retain)
      ()
    } finally {
      spark.conf.unset(VersionedSnapshot.StaleClaimMsConf)
      spark.conf.unset(VersionedSnapshot.CommitLockStaleMsConf)
    }
  }

  private def assertHealed(tmp: JPath, base: String,
      want: Map[Long, Long]): Unit = {
    assert(content(base) == want,
      s"post-heal content diverged: got ${content(base).toSeq.sorted}")
    assert(claims(tmp).isEmpty, s"leaked claims after heal: ${claims(tmp)}")
    assert(!Files.exists(tmp.resolve("snap/_COMMIT_LOCK")),
      "commit lock survived the heal")
    assert(VersionedSnapshot.validateCurrent(spark, base),
      "current version fails manifest validation after heal")
  }

  private def dataDirs(tmp: JPath): Seq[String] =
    Option(tmp.resolve("snap/data").toFile.listFiles)
      .map(_.map(_.getName).toSeq.sorted).getOrElse(Nil)

  test("power loss after bucket-data staging: readers hold, one merge heals all litter") {
    val tmp = Files.createTempDirectory("graft-crash")
    val base = tmp.resolve("snap").toString
    seed(base)
    val before = content(base)
    crashChild(tmp, Seq("merge", base, "staged-data", "2"))
    // child died with data/g00001 written, no version dir, claim live
    assert(content(base) == before, "reader saw uncommitted staged data")
    assert(claims(tmp).nonEmpty, "the dead writer's claim should still sit")
    assert(dataDirs(tmp).contains("g00001"), "expected the orphaned staging generation")
    healMerge(base)
    val want = (0L until 20L).map(k =>
      k -> (if (k < 10) k * 10 + 1000 else k * 10)).toMap
    assertHealed(tmp, base, want)
    // the dead child's staging generation must be swept: crashed version
    // numbers are never reused (the leaked claim pushes the healer to
    // v2/g00002), so g00001 surviving means the orphan gc missed it
    assert(!dataDirs(tmp).contains("g00001"),
      s"dead writer's staging generation survived the heal: ${dataDirs(tmp)}")
  }

  test("power loss after sidecar staging (pre-flip): staged version swept, never committed") {
    val tmp = Files.createTempDirectory("graft-crash")
    val base = tmp.resolve("snap").toString
    seed(base)
    val before = content(base)
    crashChild(tmp, Seq("merge", base, "staged-sidecars", "2"))
    // everything staged — v1 dir, manifest, sidecars — but no flip
    assert(content(base) == before, "reader saw a staged-but-uncommitted version")
    assert(Files.exists(tmp.resolve("snap/v00001")), "expected staged v1 litter")
    healMerge(base)
    val want = (0L until 20L).map(k =>
      k -> (if (k < 10) k * 10 + 1000 else k * 10)).toMap
    assertHealed(tmp, base, want)
    // crashed numbers are never reused (prepareNext claims above them),
    // so the dead child's v1 must be GONE from history outright and the
    // current version must be the healer's — a "doomed" marker anywhere
    // would be phantom history
    val hist = VersionedSnapshot.history(spark, base)
      .select("version", "marker").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!hist.values.exists(_.contains("crash-child-merge")),
      s"the crashed attempt surfaced as committed history: $hist")
    val cur = VersionedSnapshot.currentVersion(spark, base).get
    assert(hist(cur).contains("healing-merge"),
      s"current version should be the healer's commit, got ${hist(cur)}")
  }

  test("power loss between pointer flip and claim release: commit is durable, lock+claim heal") {
    val tmp = Files.createTempDirectory("graft-crash")
    val base = tmp.resolve("snap").toString
    seed(base)
    crashChild(tmp, Seq("merge", base, "post-flip", "3"))
    // the flip IS the commit: the child's merge is fully visible...
    val committed = (0L until 20L).map(k => k -> (k * 10 + 5)).toMap
    assert(content(base) == committed,
      "a flipped pointer must read as committed despite the crash")
    // ...but the worst litter remains: live claim on a COMMITTED version
    // and the commit lock still held by a dead process
    assert(claims(tmp).nonEmpty, "expected the unreleased claim")
    assert(Files.exists(tmp.resolve("snap/_COMMIT_LOCK")),
      "expected the abandoned commit lock")
    Thread.sleep(600) // age the lock past the heal's 300ms staleness horizon
    healMerge(base, retain = 3)
    // the heal must RELEASE the claim without sweeping v1 (it is committed
    // history): child rows outside the healer's key range survive
    val want = (0L until 20L).map(k =>
      k -> (if (k < 10) k * 10 + 1000 else k * 10 + 5)).toMap
    assertHealed(tmp, base, want)
    assert(VersionedSnapshot.readVersion(spark, base, 1L).isDefined,
      "the crashed-but-committed version must survive as retained history")
  }

  test("power loss mid-retention (before orphan gc): next writer finishes the sweep") {
    val tmp = Files.createTempDirectory("graft-crash")
    val base = tmp.resolve("snap").toString
    seed(base) // v0 → generation g00000
    crashChild(tmp, Seq("merge", base, "mid-retention", "1"))
    // retain=1 dropped v0 before the halt; v1 (all keys rewritten)
    // references only g00001 — g00000 is an orphan the gc never reached
    val committed = (0L until 20L).map(k => k -> (k * 10 + 5)).toMap
    assert(content(base) == committed, "v1 must read complete after the crash")
    assert(dataDirs(tmp).contains("g00000"),
      s"expected the orphaned old generation, got ${dataDirs(tmp)}")
    healMerge(base, retain = 1)
    val want = (0L until 20L).map(k =>
      k -> (if (k < 10) k * 10 + 1000 else k * 10 + 5)).toMap
    assertHealed(tmp, base, want)
    assert(!dataDirs(tmp).contains("g00000"),
      s"orphan generation survived the healing gc: ${dataDirs(tmp)}")
  }

  test("power loss after overlay staging: reader holds, orphan overlay swept") {
    val tmp = Files.createTempDirectory("graft-crash")
    val base = tmp.resolve("snap").toString
    seed(base)
    val before = content(base)
    crashChild(tmp, Seq("overlay", base, "staged-data"))
    assert(content(base) == before, "reader saw an uncommitted overlay")
    assert(dataDirs(tmp).contains("d00001"),
      s"expected the orphaned overlay file, got ${dataDirs(tmp)}")
    healMerge(base)
    val want = (0L until 20L).map(k =>
      k -> (if (k < 10) k * 10 + 1000 else k * 10)).toMap
    assertHealed(tmp, base, want)
    assert(!dataDirs(tmp).contains("d00001"),
      s"orphan overlay survived the healing gc: ${dataDirs(tmp)}")
  }

  test("power loss at staged-data in flat publish, restore and renameColumns: " +
      "readers hold, one merge heals") {
    import spark.implicits._
    Seq(Seq("publish"), Seq("restore", "0"), Seq("rename")).foreach { op =>
      val tmp = Files.createTempDirectory("graft-crash")
      val base = tmp.resolve("snap").toString
      // v0 flat (so restore takes the flat, data-rewriting branch), v1 a
      // merge that moves the table to the bucketed layout renameColumns
      // needs
      VersionedSnapshot.publish((0L until 20L).map(k => (k, k * 10)).toDF("k", "v"),
        base, "seed-flat", retain = 3)
      VersionedSnapshot.mergeInto(base,
        (10L until 20L).map(k => (k, k * 10 + 5)).toDF("k", "v"), Seq("k"),
        VersionedSnapshot.UpdateMatched, insertUnmatched = false,
        marker = "v1", retain = 3)
      val before = content(base)
      crashChild(tmp, Seq(op.head, base, "staged-data") ++ op.tail)
      assert(content(base) == before, s"${op.head}: reader saw uncommitted staging")
      assert(VersionedSnapshot.currentVersion(spark, base).contains(1L),
        s"${op.head}: the pointer moved")
      healMerge(base)
      val want = (0L until 20L).map(k =>
        k -> (if (k < 10) k * 10 + 1000 else k * 10 + 5)).toMap
      assertHealed(tmp, base, want)
    }
  }

  test("power loss mid-purge: rerunning the same purge completes the erasure") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-crash")
    val base = tmp.resolve("snap").toString
    seed(base) // v0: keys 0..19
    // v1 with v0 retained, so the purge walks two versions
    val upd = (10L until 20L).map(k => (k, k * 10 + 5)).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, upd, Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = false,
      marker = "v1", retain = 3)
    crashChild(tmp, Seq("purge", base, "mid-purge", "3"))
    // v0 is already purged, v1 not yet — rerun must find ONLY the
    // remaining matches and finish. The dead child still holds the
    // fenced _PURGE_LOCK (halt skips finally blocks); the rerun breaks
    // it once it ages past the staleness horizon — shortened here so
    // the test doesn't sit out the operational default
    spark.conf.set(VersionedSnapshot.PurgeLockStaleMsConf, "200")
    val n =
      try VersionedSnapshot.purgeKeys(spark, base, Seq("k"), Seq(Seq(3L)))
      finally spark.conf.unset(VersionedSnapshot.PurgeLockStaleMsConf)
    assert(n >= 1, "the rerun purge should still find un-purged refs")
    Seq(0L, 1L).foreach { v =>
      val d = VersionedSnapshot.readVersion(spark, base, v)
        .getOrElse(fail(s"v$v should be retained"))
      assert(d.filter(col("k") === 3L).count() == 0,
        s"purged key survives in retained v$v")
    }
    val want = (0L until 20L).filterNot(_ == 3L).map(k =>
      k -> (if (k >= 10) k * 10 + 5 else k * 10)).toMap
    assert(content(base) == want, "non-purged rows must be untouched")
  }
}
