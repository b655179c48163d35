package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev profiler: run named queries and print EVERY Spark job's wall time
  * with the SQL-execution callsite it belongs to, so multi-action scenario
  * queries (snapshot replay, streaming drains) can be attributed job by
  * job. Driver-side gaps (planning, small-file I/O, footer stats) show up
  * as the difference between the query total and the sum of its jobs.
  *
  *   tools/run.sh graft.tools.JobProfile <sfDir> <name> [name...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "job-profile")
    spark.sparkContext.setLogLevel("WARN")
    @volatile var jobStarts = Map.empty[Int, (Long, String)]
    @volatile var execSites = Map.empty[Long, String]
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart =>
          execSites += e.executionId -> e.description.linesIterator.next()
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val viaExec = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execSites.get(id.toLong))
        val site = viaExec.getOrElse(
          js.stageInfos.map(_.name)
            .find(n => !n.contains("withThreadLocalCaptured"))
            .getOrElse("?"))
        jobStarts += js.jobId -> (System.nanoTime(), site)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobStarts.get(je.jobId).foreach { case (t0, site) =>
          val ms = (System.nanoTime() - t0) / 1e6
          println(f"    job ${je.jobId}%4d ${ms}%8.1fms  $site")
        }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass untimed, then attributed pass
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(s"== $name (second run, warm)")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Thread.sleep(300) // let listener events drain
      println(f"== $name total ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
