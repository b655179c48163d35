package graft.streaming

import graft.SparkSpec
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Pins the optimistic-concurrency commit protocol of
  * [[VersionedSnapshot]]: the CAS conflict detection itself, the fenced
  * commit lock (token identity, not createNewFile success, proves
  * ownership), conflict-loss staging cleanup ordering, and the
  * stale-claim sweep's committed-history guard. These are the races a
  * multi-writer 100 TB table hits in production: two merge jobs
  * publishing at once, a GC-paused committer whose lock was broken, a
  * leaked claim shielding or sweeping retained history.
  *
  * On `file:` tables every flip goes through the cas-file store, so
  * each invariant here holds under the fenced lock AND the conditional
  * put; SnapshotStalledCommitterSpec pins the one window in which the
  * stores differ (rename's post-fence double flip).
  *
  * [[SnapshotConcurrencyCasSpec]] runs the battery a second time. */
class SnapshotConcurrencySpec extends SparkSpec {

  private def fsFor(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fmt(v: Long) = f"v$v%05d"

  private def claimsIn(base: String): Seq[String] = {
    val d = new java.io.File(base, "_claims")
    if (!d.exists) Nil else d.listFiles().map(_.getName).toSeq
  }

  private def versionDirs(base: String): Set[String] =
    new java.io.File(base).listFiles().map(_.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit)).toSet

  test("two concurrent publishers: exactly one commits, the loser aborts with no trace") {
    import spark.implicits._
    // the conflict needs both writers to read the pointer before either
    // commits; on a loaded machine a thread can start late enough to miss
    // the window, in which case both legitimately succeed in sequence —
    // an inconclusive (not wrong) shape, so retry it. Any OTHER deviation
    // is a protocol violation and fails immediately.
    val attempts = (1 to 3).iterator.map { attempt =>
      val base = Files.createTempDirectory(s"graft-race$attempt").resolve("snap").toString
      VersionedSnapshot.publish(Seq((1L, 10L)).toDF("k", "v"), base, "seed")
      val v0 = VersionedSnapshot.currentVersion(spark, base).get
      val dfs = Map("a" -> Seq((2L, 111L)).toDF("k", "v"),
        "b" -> Seq((2L, 222L)).toDF("k", "v"))
      spark.conf.set(VersionedSnapshot.TestDelayBeforeCommitConf, "1500")
      val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
      try {
        val threads = dfs.toSeq.map { case (name, df) =>
          val t = new Thread(() => {
            val r = try Right(VersionedSnapshot.publish(df, base, s"writer-$name"))
            catch { case e: Throwable => Left(e) }
            results.put(name, r); ()
          })
          t.start(); t
        }
        threads.foreach(_.join(120000))
      } finally spark.conf.unset(VersionedSnapshot.TestDelayBeforeCommitConf)
      (base, v0, Seq(results.get("a"), results.get("b")))
    }
    val conclusive = attempts.find { case (_, _, rs) =>
      rs.count(r => r != null && r.isLeft) == 1
    }
    assert(conclusive.nonEmpty,
      "no attempt produced a conflict (both writers kept missing each other) — " +
        "either pathological scheduling or conflicts are not being detected")
    val (base, v0, rs) = conclusive.get
    val (losses, wins) = rs.partition(_.isLeft)
    val winner = wins.head.toOption.get
    losses.head.swap.toOption.get match {
      case _: VersionedSnapshot.ConcurrentSnapshotUpdate => ()
      case other => fail(s"loser must see ConcurrentSnapshotUpdate, got $other")
    }
    assert(VersionedSnapshot.currentVersion(spark, base).contains(winner))
    // loser's staging is fully gone — dir AND claim — whichever side of
    // the winner's number it drew from prepareNext (retention may or may
    // not have kept v0, depending on which number won)
    val loserV = (Set(v0 + 1, v0 + 2) - winner).head
    val dirs = versionDirs(base)
    assert(dirs.contains(fmt(winner)) && !dirs.contains(fmt(loserV)) &&
      dirs.subsetOf(Set(fmt(v0), fmt(winner))),
      s"only retained committed versions may remain, saw $dirs (winner $winner)")
    assert(claimsIn(base).isEmpty, s"no claim may survive, saw ${claimsIn(base)}")
    val got = VersionedSnapshot.read(spark, base).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.exists(_._1 == 2L), s"winner's rows must be visible, saw $got")
  }

  test("conflict-loss abort drops the staged dir even when the winner committed a LOWER number") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-abort").resolve("snap").toString
    VersionedSnapshot.publish(Seq((1L, 1L)).toDF("k", "v"), base, "seed")
    val f = fsFor(base)
    val bp = new Path(base)
    // a fully-formed staged dir ABOVE the pointer, claimed — the shape a
    // loser holds when the winner's committed number was lower than its own
    def stage(v: Long): Unit = {
      Files.createDirectories(new java.io.File(base, fmt(v)).toPath)
      Files.writeString(new java.io.File(base, fmt(v) + "/_MARKER").toPath, "loser")
      Files.createDirectories(new java.io.File(base, "_claims").toPath)
      Files.writeString(new java.io.File(base, "_claims/" + v).toPath, "")
    }
    stage(5L)
    VersionedSnapshot.abortStaged(f, bp, 5L, conflictLoss = true)
    assert(!new java.io.File(base, fmt(5L)).exists,
      "conflict loss must delete the staged dir even though pointer < 5")
    assert(!claimsIn(base).contains("5"))
    // non-conflict in-JVM failure keeps the crash shape: dir stays (above
    // pointer, unclaimed) for the next publish's sweep
    stage(6L)
    VersionedSnapshot.abortStaged(f, bp, 6L)
    assert(new java.io.File(base, fmt(6L)).exists,
      "plain abort above the pointer must keep the crash-shape dir")
    assert(!claimsIn(base).contains("6"), "claim must release either way")
    VersionedSnapshot.publish(Seq((2L, 2L)).toDF("k", "v"), base, "sweeper")
    assert(!new java.io.File(base, fmt(6L)).exists,
      "next publish must sweep the unclaimed above-pointer leftover")
  }

  test("stale-claim sweep releases a leaked claim on committed history WITHOUT deleting the dir") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-leak").resolve("snap").toString
    VersionedSnapshot.publish(Seq((1L, 1L)).toDF("k", "v"), base, "m0", retain = 3)
    VersionedSnapshot.publish(Seq((1L, 2L)).toDF("k", "v"), base, "m1", retain = 3)
    val v0 = VersionedSnapshot.currentVersion(spark, base).get - 1
    // leak: a claim file for the COMMITTED, retained v0 (a commit whose
    // claim delete failed leaves exactly this), already stale
    Files.writeString(new java.io.File(base, "_claims/" + v0).toPath, "")
    spark.conf.set(VersionedSnapshot.StaleClaimMsConf, "1")
    try {
      Thread.sleep(10)
      VersionedSnapshot.publish(Seq((1L, 3L)).toDF("k", "v"), base, "m2", retain = 3)
    } finally spark.conf.unset(VersionedSnapshot.StaleClaimMsConf)
    assert(new java.io.File(base, fmt(v0)).exists,
      "committed retained history must survive a leaked stale claim")
    assert(!claimsIn(base).contains(v0.toString), "the orphan claim itself is released")
    val old = VersionedSnapshot.readVersion(spark, base, v0).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(old == Set((1L, 1L)), s"time travel to v$v0 must still read its rows, got $old")
  }

  test("prepareNext with a stale pointer read never sweeps a just-committed version (r13 fence)") {
    import spark.implicits._
    // The advisor-flagged race, reproduced deterministically: writer A
    // reads the pointer (v0) at publish entry; writer B then commits v1 —
    // flips the pointer AND releases v1's claim; A's prepareNext now
    // lists dirs/claims and sees v1 as an unclaimed dir above A's stale
    // `current`. Pre-fix, the sweep deleted the LIVE pointer target.
    // The fence (a pointer re-read taken after the claim listing) must
    // keep v1 — and hand A a number above it.
    val base = Files.createTempDirectory("graft-fence").resolve("snap").toString
    val v0 = VersionedSnapshot.publish(Seq((1L, 1L)).toDF("k", "v"), base, "m0", retain = 3)
    val v1 = VersionedSnapshot.publish(Seq((1L, 2L)).toDF("k", "v"), base, "m1", retain = 3)
    assert(VersionedSnapshot.currentVersion(spark, base).contains(v1))
    assert(claimsIn(base).isEmpty, "committed versions hold no claims")
    // writer A's sweep, keyed to the pre-commit pointer value v0
    val f = fsFor(base)
    val n = VersionedSnapshot.prepareNext(f, new Path(base), v0)
    assert(new java.io.File(base, fmt(v1)).exists,
      s"the committed pointer target $v1 must survive a sweep keyed to stale current=$v0")
    assert(VersionedSnapshot.currentVersion(spark, base).contains(v1))
    val cur = VersionedSnapshot.read(spark, base).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cur == Set((1L, 2L)), s"current version must still read its rows, got $cur")
    assert(n > v1, s"the claimed next number $n must land above the committed $v1")
    // drop the test claim so later publishes in shared temp space are clean
    f.delete(new Path(base, "_claims/" + n), false)
  }

  test("a dead writer's stale commit lock is broken by token identity and the flip proceeds") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-lock").resolve("snap").toString
    Files.createDirectories(new java.io.File(base).toPath)
    val lockFile = new java.io.File(base, "_COMMIT_LOCK")
    Files.writeString(lockFile.toPath, "dead-writers-token")
    assert(lockFile.setLastModified(System.currentTimeMillis() - 600000L))
    spark.conf.set(VersionedSnapshot.CommitLockStaleMsConf, "50")
    try {
      val v = VersionedSnapshot.publish(Seq((1L, 1L)).toDF("k", "v"), base, "m0")
      assert(VersionedSnapshot.currentVersion(spark, base).contains(v))
    } finally spark.conf.unset(VersionedSnapshot.CommitLockStaleMsConf)
    assert(!lockFile.exists, "the breaker releases the lock it re-acquired")
  }

  test("a committer whose lock is stolen mid-section aborts retryably instead of double-flipping") {
    import spark.implicits._
    // One hazard window exists by construction: if the committer stalls
    // >1s between stamping its token and reading it back, the overwrite
    // below lands between the two and the committer re-queues on the
    // (foreign, fresh) lock until its acquire deadline — an inconclusive
    // timing shape, retried. The INVARIANT — the pointer never moves
    // under a lost lock — fails the test immediately on any attempt.
    def attempt(i: Int): Option[Throwable] = {
      val base = Files.createTempDirectory(s"graft-fence$i").resolve("snap").toString
      VersionedSnapshot.publish(Seq((1L, 1L)).toDF("k", "v"), base, "seed")
      val v0 = VersionedSnapshot.currentVersion(spark, base).get
      val lockFile = new java.io.File(base, "_COMMIT_LOCK")
      spark.conf.set(VersionedSnapshot.TestDelayInCommitConf, "4000")
      @volatile var outcome: Option[Throwable] = None
      try {
        val t = new Thread(() => {
          outcome = try {
            VersionedSnapshot.publish(Seq((2L, 2L)).toDF("k", "v"), base, "paused")
            None
          } catch { case e: Throwable => Some(e) }
        })
        t.start()
        // wait until the paused committer holds the lock (its UUID token
        // is stamped), then model a stale-break + takeover by a successor
        val deadline = System.currentTimeMillis() + 60000
        var tok = ""
        while (tok.length != 36 && System.currentTimeMillis() < deadline) {
          Thread.sleep(20)
          tok = if (lockFile.exists) Files.readString(lockFile.toPath).trim else ""
        }
        assert(tok.length == 36, s"committer never stamped its lock token, saw '$tok'")
        Thread.sleep(1000) // let it pass its own read-back and enter the pause
        Files.writeString(lockFile.toPath, "successors-token")
        t.join(180000)
      } finally spark.conf.unset(VersionedSnapshot.TestDelayInCommitConf)
      // the invariant, unconditionally: no flip under a lost lock
      assert(VersionedSnapshot.currentVersion(spark, base).contains(v0),
        "the pointer must NOT move under a lost lock")
      outcome match {
        case Some(_: VersionedSnapshot.ConcurrentSnapshotUpdate) =>
          assert(Files.readString(lockFile.toPath).trim == "successors-token",
            "identity-checked release must not delete the successor's lock")
          assert(claimsIn(base).isEmpty && versionDirs(base) == Set(fmt(v0)),
            "the aborted publish leaves no staging behind")
          Files.delete(lockFile.toPath) // clean up the simulated successor
          outcome
        case _ => None // inconclusive: overwrite landed inside the stamp/read-back gap
      }
    }
    assert((1 to 3).iterator.map(attempt).exists(_.isDefined),
      "committer never reached the fence check across 3 attempts")
  }

  test("a bucketed-staging failure releases its claim immediately (no 30-min garbage shield)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-bfail").resolve("snap").toString
    VersionedSnapshot.mergeInto(base, Seq((1L, 1L)).toDF("k", "v"), Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = true, marker = "seed")
    val v0 = VersionedSnapshot.currentVersion(spark, base).get
    val boom = udf((v: Long) => if (v >= 0) throw new RuntimeException("boom") else v)
    val bad = Seq((1L, 5L)).toDF("k", "v").select(col("k"), boom(col("v")).as("v"))
    intercept[Throwable] {
      VersionedSnapshot.mergeInto(base, bad, Seq("k"),
        VersionedSnapshot.UpdateMatched, insertUnmatched = true, marker = "bad")
    }
    assert(claimsIn(base).isEmpty,
      s"failed bucketed staging must release its claim, saw ${claimsIn(base)}")
    assert(VersionedSnapshot.currentVersion(spark, base).contains(v0))
    // and the table keeps working: the next good merge commits and sweeps
    val v2 = VersionedSnapshot.mergeInto(base, Seq((1L, 7L)).toDF("k", "v"), Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = true, marker = "good")
    val got = VersionedSnapshot.read(spark, base).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 7L)) && v2 > v0)
    assert(claimsIn(base).isEmpty)
  }

  test("retryOnConflict: two racing merges BOTH land, the loser re-runs against the winner") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-retry").resolve("snap").toString
    VersionedSnapshot.mergeInto(base, Seq((1L, 0L), (2L, 0L)).toDF("k", "v"), Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = true, marker = "seed")
    val dfs = Map(1L -> Seq((1L, 100L)).toDF("k", "v"), 2L -> Seq((2L, 200L)).toDF("k", "v"))
    spark.conf.set(VersionedSnapshot.TestDelayBeforeCommitConf, "1200")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val threads = dfs.toSeq.map { case (key, df) =>
        val t = new Thread(() => {
          try VersionedSnapshot.retryOnConflict(attempts = 5) {
            VersionedSnapshot.mergeInto(base, df, Seq("k"),
              VersionedSnapshot.UpdateMatched, insertUnmatched = true,
              marker = s"writer-$key"); ()
          } catch { case e: Throwable => errors.add(e); () }
        })
        t.start(); t
      }
      threads.foreach(_.join(180000))
    } finally spark.conf.unset(VersionedSnapshot.TestDelayBeforeCommitConf)
    assert(errors.isEmpty, s"both merges must land under retry, got $errors")
    val got = VersionedSnapshot.read(spark, base).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 100L), (2L, 200L)),
      s"the loser's re-run must preserve the winner's update, got $got")
    assert(claimsIn(base).isEmpty)
  }

  test("multi-writer stress: 4 writers x 3 retrying merges interleave to a correct table") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stress").resolve("snap").toString
    VersionedSnapshot.mergeInto(base, Seq((0L, 0L)).toDF("k", "v"), Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = true, marker = "seed")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // no injected delays: real interleavings of claim, stage, CAS, retry,
    // abort, and gc — each writer upserts 3 distinct keys in sequence
    val threads = (1 to 4).map { w =>
      val dfs = (1 to 3).map(r => (r, Seq((w * 10L + r, w * 100L + r)).toDF("k", "v")))
      val t = new Thread(() => {
        try dfs.foreach { case (r, df) =>
          VersionedSnapshot.retryOnConflict(attempts = 12, backoffMs = 50L) {
            VersionedSnapshot.mergeInto(base, df, Seq("k"),
              VersionedSnapshot.UpdateMatched, insertUnmatched = true,
              marker = s"w$w-r$r"); ()
          }
        } catch { case e: Throwable => errors.add(e); () }
      })
      t.start(); t
    }
    threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"every merge must land under retry, got $errors")
    val got = VersionedSnapshot.read(spark, base).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((0L, 0L)) ++
      (for { w <- 1 to 4; r <- 1 to 3 } yield (w * 10L + r, w * 100L + r)).toSet
    assert(got == want, s"all 13 rows must survive the interleaving, got ${got.size} rows")
    assert(claimsIn(base).isEmpty, s"no claim survives, saw ${claimsIn(base)}")
    assert(VersionedSnapshot.validateCurrent(spark, base),
      "the final manifest must validate")
  }

  test("a delta-overlay staging failure (duplicate-key batch) releases its claim") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-dfail").resolve("snap").toString
    VersionedSnapshot.mergeInto(base, Seq((1L, 1L)).toDF("k", "v"), Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = true, marker = "seed")
    val v0 = VersionedSnapshot.currentVersion(spark, base).get
    val dup = Seq((1L, 2L), (1L, 3L)).toDF("k", "v") // two rows per key: rejected in-flight
    intercept[Throwable] {
      VersionedSnapshot.stageDelta(base, dup, Seq("k"),
        VersionedSnapshot.UpdateMatched, marker = "dup")
    }
    assert(claimsIn(base).isEmpty,
      s"failed overlay staging must release its claim, saw ${claimsIn(base)}")
    assert(VersionedSnapshot.currentVersion(spark, base).contains(v0))
    val v2 = VersionedSnapshot.stageDelta(base, Seq((1L, 9L)).toDF("k", "v"), Seq("k"),
      VersionedSnapshot.UpdateMatched, marker = "good")
    assert(v2 > v0)
    val got = VersionedSnapshot.read(spark, base).get.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 9L)))
  }
}

/** The same battery a second time, under the name it had when a conf
  * chose the cas-file store for it. `file:` tables now always flip
  * through cas-file, so this is a second sample of the same thread
  * interleavings, not a second backend. */
class SnapshotConcurrencyCasSpec extends SnapshotConcurrencySpec
