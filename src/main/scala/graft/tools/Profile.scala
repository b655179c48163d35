package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Dev profiler: run named queries (all if none given) with cold+warm
  * timings and optional formatted plans.
  *
  *   tools/run.sh graft.tools.Profile <sfDir> [-explain] [names...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val explain = args.contains("-explain")
    val names = args.drop(1).filterNot(_ == "-explain")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "profile")
    spark.sparkContext.setLogLevel("WARN")
    val selected: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else names.toSeq.map(n => n -> SparkEntry.queries(n))
    selected.foreach { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once(); val warm = once()
      println(f"$name%-24s cold=$cold%8.2fs warm=$warm%8.2fs")
      if (explain) fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
