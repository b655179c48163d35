package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Dev micro-benchmark: what does one tiny shuffle-aggregate action and
  * one tiny bucketed parquet write cost at this session's settings? Runs
  * each N times warm and prints per-action ms — isolates the per-stage
  * scheduling/AQE constants the snapshot commit path pays 5× per commit.
  *
  *   tools/run.sh graft.tools.MicroStage [sfDir]
  */
object MicroStage {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "micro-stage")
    spark.sparkContext.setLogLevel("WARN")
    if (sys.env.contains("MICRO_FASTFS")) graft.io.LocalFs.installFast(spark)
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "n_chars", "lang")
    docs.count()

    // cutime+cstime from /proc/self/stat: CPU of reaped CHILD processes —
    // counts the chmod/ls forks Hadoop's local FS does without native IO
    def childTicks(): Long = {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")), "UTF-8")
      val fields = s.substring(s.lastIndexOf(')') + 2).split(" ")
      fields(13).toLong + fields(14).toLong // cutime, cstime (after comm)
    }

    def time(label: String, n: Int)(body: => Unit): Unit = {
      body // warm
      val c0 = childTicks()
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => body)
      val ms = (System.nanoTime() - t0) / 1e6 / n
      val ct = (childTicks() - c0) * 10.0 / n // ticks at 100Hz → ms
      println(f"  $label%-44s ${ms}%8.1f ms/action  childCPU ${ct}%6.1f ms/action")
    }

    println(s"== micro-stage costs at local[$cpus], shuffle.partitions=$cpus")
    time("noop scan (no shuffle)", 10) {
      docs.write.format("noop").mode("overwrite").save()
    }
    time("groupBy(key) agg collect (1 shuffle)", 10) {
      docs.groupBy("doc_id").agg(count(lit(1))).limit(5).collect(); ()
    }
    time("2-level agg collect (2 shuffles)", 10) {
      docs.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .groupBy(pmod(col("doc_id"), lit(8))).agg(sum("n")).collect(); ()
    }
    time("repartition(col)+sort+write parquet 8bkt", 10) {
      docs.withColumn("__b", pmod(xxhash64(col("doc_id")), lit(8)).cast("int"))
        .repartition(col("__b")).sortWithinPartitions("__b", "doc_id")
        .write.mode("overwrite").partitionBy("__b")
        .parquet("/tmp/microstage-w")
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    println("-- AQE off")
    time("groupBy(key) agg collect (1 shuffle)", 10) {
      docs.groupBy("doc_id").agg(count(lit(1))).limit(5).collect(); ()
    }
    time("2-level agg collect (2 shuffles)", 10) {
      docs.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .groupBy(pmod(col("doc_id"), lit(8))).agg(sum("n")).collect(); ()
    }
    time("repartition(col)+sort+write parquet 8bkt", 10) {
      docs.withColumn("__b", pmod(xxhash64(col("doc_id")), lit(8)).cast("int"))
        .repartition(col("__b")).sortWithinPartitions("__b", "doc_id")
        .write.mode("overwrite").partitionBy("__b")
        .parquet("/tmp/microstage-w")
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    println("-- AQE on, shuffle.partitions=4")
    time("groupBy(key) agg collect (1 shuffle)", 10) {
      docs.groupBy("doc_id").agg(count(lit(1))).limit(5).collect(); ()
    }
    time("repartition(col)+sort+write parquet 8bkt", 10) {
      docs.withColumn("__b", pmod(xxhash64(col("doc_id")), lit(8)).cast("int"))
        .repartition(col("__b")).sortWithinPartitions("__b", "doc_id")
        .write.mode("overwrite").partitionBy("__b")
        .parquet("/tmp/microstage-w")
    }
    spark.stop()
  }
}
