package graft.streaming

import org.apache.spark.sql.SparkSession

/** Second-JVM writer for [[CrossProcessMergeSpec]]: merges a fixed
  * key-range update into a shared table under retryOnConflict, with a
  * file-based handshake so both processes enter the merge window
  * together — (1) touch `ready` once the session is up, (2) block on
  * `gate`, (3) merge. A committed merge prints its version and exits 0;
  * any failure propagates out of main so the process exits nonzero and
  * the spec fails on the exit code.
  *
  * This process is the part same-JVM threads cannot test: a separate
  * FileSystem instance, separate NIO state, no shared memory — the
  * `_claims` O_EXCL create, the fenced `_COMMIT_LOCK`, and the pointer
  * CAS must coordinate through the filesystem alone. */
object CrossJvmMergeMain {
  def main(args: Array[String]): Unit = {
    val Array(base, readyPath, gatePath, lo, hi, delta, delayMs) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-crossjvm-writer")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val src = (lo.toLong until hi.toLong)
        .map(k => (k, k * 10 + delta.toLong)).toDF("k", "v")
      // widen the staging→commit window so the two processes' merges
      // genuinely interleave instead of accidentally serializing
      spark.conf.set(VersionedSnapshot.TestDelayBeforeCommitConf, delayMs)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(readyPath))
      val deadline = System.currentTimeMillis() + 120000L
      while (!java.nio.file.Files.exists(java.nio.file.Paths.get(gatePath))) {
        if (System.currentTimeMillis() > deadline)
          sys.error("start gate never opened by the spec JVM")
        Thread.sleep(10L)
      }
      val v = VersionedSnapshot.retryOnConflict() {
        VersionedSnapshot.mergeInto(base, src, Seq("k"),
          VersionedSnapshot.UpdateMatched, insertUnmatched = false,
          marker = "cross-jvm-writer")
      }
      println(s"CROSSJVM_COMMITTED v$v")
    } finally spark.stop()
  }
}
