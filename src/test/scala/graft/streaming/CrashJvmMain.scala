package graft.streaming

import org.apache.spark.sql.SparkSession

/** Child-JVM writer for CrashRecoverySpec: runs one table operation with
  * the power-loss seam armed ([[VersionedSnapshot.HaltAtConf]]), so the
  * process dies by `Runtime.halt` at the named point — no finally blocks,
  * no [[VersionedSnapshot]] abort paths, no shutdown hooks, exactly the
  * litter a `kill -9` / OOM-killed / node-lost writer leaves behind. The
  * spec asserts the child exited with [[VersionedSnapshot.HaltExitCode]]
  * (reaching the end of main instead prints a sentinel and exits 0, which
  * the spec treats as "the seam never fired" and fails).
  *
  * Ops: `merge <base> <point> <retain>` updates EVERY seeded key (so the
  * committed generation supersedes all prior ones — what mid-retention
  * needs to orphan the old generation); `overlay <base> <point>` stages a
  * blind upsert delta; `purge <base> <point> <key>` point-purges one key
  * across all retained versions; `publish <base> <point>` publishes a
  * whole flat version; `restore <base> <point> <version>` restores a
  * retained version; `rename <base> <point>` renames column `v` to `w`. */
object CrashJvmMain {
  def main(args: Array[String]): Unit = {
    val op = args(0)
    val base = args(1)
    val point = args(2)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-crash-writer")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.conf.set(VersionedSnapshot.HaltAtConf, point)
    op match {
      case "merge" =>
        val src = (0L until 20L).map(k => (k, k * 10 + 5)).toDF("k", "v")
        VersionedSnapshot.mergeInto(base, src, Seq("k"),
          VersionedSnapshot.UpdateMatched, insertUnmatched = false,
          marker = "crash-child-merge", retain = args(3).toInt)
      case "overlay" =>
        val src = (0L until 5L).map(k => (k, k * 10 + 7)).toDF("k", "v")
        VersionedSnapshot.stageDelta(base, src, Seq("k"),
          VersionedSnapshot.UpdateMatched, marker = "crash-child-overlay")
      case "purge" =>
        VersionedSnapshot.purgeKeys(spark, base, Seq("k"),
          Seq(Seq(args(3).toLong)))
        ()
      case "publish" =>
        val df = (0L until 20L).map(k => (k, k * 10 + 9)).toDF("k", "v")
        VersionedSnapshot.publish(df, base, "crash-child-publish")
      case "restore" =>
        VersionedSnapshot.restore(spark, base, args(3).toLong,
          marker = "crash-child-restore")
      case "rename" =>
        VersionedSnapshot.renameColumns(spark, base, Map("v" -> "w"),
          marker = "crash-child-rename")
      case other => sys.error(s"unknown crash-child op $other")
    }
    println("CRASHCHILD_NO_HALT")
    spark.stop()
  }
}
