package graft.streaming

import graft.SparkSpec
import java.nio.file.Files
import java.util.concurrent.TimeUnit

/** The cross-PROCESS face of [[SnapshotConcurrencySpec]]: the r12 stress
  * spec races writers as threads in one JVM, which shares FileSystem
  * instances and JVM memory — exactly what a 1000-executor cluster does
  * NOT share. Here a second OS process (own JVM, own SparkSession, own
  * FileSystem/NIO state) races `mergeInto` against this JVM on one base
  * dir, so the `_claims` O_EXCL create, the fenced `_COMMIT_LOCK`, and
  * the pointer CAS must coordinate through the filesystem alone — on
  * `file:` that CAS is the cas-file store, whose FileLock is an OS lock,
  * so this race also proves it across JVMs.
  * Disjoint key effects make the racing merges commute, so the final
  * table is closed-form regardless of commit order — a lost update,
  * duplicated claim number, or swept live version shows up as a wrong
  * row set. */
class CrossProcessMergeSpec extends SparkSpec {

  private val addOpens = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))

  test("two OS processes race mergeInto on one table: claims + fenced CAS hold across JVMs") {
    raceAcrossProcesses()
  }

  // kept under the name it had when a conf chose cas-file for it: `file:`
  // tables now always flip through cas-file, so this is a second sample
  // of the same cross-process race
  test("the same two-process race through the cas-file conditional put: " +
      "its FileLock serialization is an OS lock, proven across JVMs") {
    raceAcrossProcesses()
  }

  private def raceAcrossProcesses(): Unit = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-xjvm")
    val base = tmp.resolve("snap").toString
    val seed = (0L until 100L).map(k => (k, k * 10)).toDF("k", "v")
    VersionedSnapshot.mergeInto(base, seed, Seq("k"),
      VersionedSnapshot.UpdateMatched, insertUnmatched = true,
      marker = "seed", numBuckets = 4)
    val ready = tmp.resolve("ready")
    val gate = tmp.resolve("gate")
    val childLog = tmp.resolve("child.log")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    // child writer: keys [50,100) -> v = k*10 + 7
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xms512m", "-Xmx3g",
      "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.streaming.CrossJvmMergeMain",
      base, ready.toString, gate.toString, "50", "100", "7", "1500")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(childLog.toFile)
    val proc = pb.start()
    try {
      // wait for the child session to come up (cold JVM + SparkSession)
      val deadline = System.currentTimeMillis() + 180000L
      while (!Files.exists(ready)) {
        assert(proc.isAlive, "child JVM died before signaling ready — " +
          tailOf(childLog))
        assert(System.currentTimeMillis() < deadline,
          "child JVM never signaled ready — " + tailOf(childLog))
        Thread.sleep(50L)
      }
      // this JVM's writer: keys [0,50) -> v = k*10 + 1000, same widened
      // commit window, released together with the child by the gate
      val srcA = (0L until 50L).map(k => (k, k * 10 + 1000)).toDF("k", "v")
      spark.conf.set(VersionedSnapshot.TestDelayBeforeCommitConf, "1500")
      try {
        Files.createFile(gate)
        VersionedSnapshot.retryOnConflict() {
          VersionedSnapshot.mergeInto(base, srcA, Seq("k"),
            VersionedSnapshot.UpdateMatched, insertUnmatched = false,
            marker = "in-jvm-writer")
        }
        ()
      } finally spark.conf.unset(VersionedSnapshot.TestDelayBeforeCommitConf)
      assert(proc.waitFor(240, TimeUnit.SECONDS),
        "child JVM did not exit — " + tailOf(childLog))
      assert(proc.exitValue == 0,
        s"child writer failed (exit ${proc.exitValue}) — " + tailOf(childLog))
      val log = new String(Files.readAllBytes(childLog), "UTF-8")
      assert(log.contains("CROSSJVM_COMMITTED"),
        "child never reported a committed merge — " + tailOf(childLog))
      // closed form: BOTH writers' effects present, nothing else
      val got = VersionedSnapshot.read(spark, base).get.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (0L until 100L)
        .map(k => k -> (if (k < 50) k * 10 + 1000 else k * 10 + 7)).toMap
      assert(got == want, {
        val bad = (0L until 100L).filter(k => got.get(k) != want.get(k))
        s"lost update across processes at keys $bad: " +
          bad.map(k => s"$k -> got ${got.get(k)} want ${want(k)}").mkString(", ")
      })
      // and no uncommitted litter: every claim released, staging swept by
      // the losers' aborts (a leaked claim here means a writer path
      // skipped abortStaged)
      val claims = Option(tmp.resolve("snap/_claims").toFile.listFiles)
        .map(_.map(_.getName).toSeq).getOrElse(Nil)
      assert(claims.isEmpty, s"leaked claims after both commits: $claims")
    } finally {
      if (proc.isAlive) proc.destroyForcibly()
      ()
    }
  }

  private def tailOf(p: java.nio.file.Path): String =
    if (!Files.exists(p)) "(no child log)"
    else {
      val lines = new String(Files.readAllBytes(p), "UTF-8").linesIterator.toSeq
      "child log tail:\n" + lines.takeRight(25).mkString("\n")
    }
}
