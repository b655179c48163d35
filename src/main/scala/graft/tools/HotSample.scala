package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev profiler: run a named query warm, then sample the DRIVER thread
  * executing it every ~10 ms and aggregate stacks by the deepest
  * "interesting" frame (graft.* or org.apache.spark.sql.* entry point).
  * Attributes the driver-side gap JobProfile exposes (query total − sum
  * of job times) to actual code: catalyst planning, file listing, footer
  * stats, small-file I/O, pointer CAS, etc.
  *
  *   tools/run.sh graft.tools.HotSample <sfDir> <name> [topN]
  */
object HotSample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args(1)
    val topN = args.lift(2).flatMap(_.toIntOption).getOrElse(40)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "hot-sample")
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
    val target = Thread.currentThread()
    val agg = scala.collection.mutable.Map.empty[String, Int]
    @volatile var sampling = true
    var stackDumps = 0
    val sampler = new Thread(() => {
      while (sampling) {
        val st = target.getStackTrace
        if (st.nonEmpty) {
          // the frame to bill: first graft/spark frame from the TOP that
          // is not pure waiting; prefix with the top frame's class kind
          val top = st.headOption.map(f => s"${f.getClassName}.${f.getMethodName}")
            .getOrElse("?")
          val bill = st.find { f =>
            val c = f.getClassName
            c.startsWith("graft.") ||
            c.startsWith("org.apache.spark.sql.execution.") ||
            c.startsWith("org.apache.spark.sql.catalyst.") ||
            c.startsWith("org.apache.parquet.") ||
            c.startsWith("org.apache.hadoop.fs.")
          }.map(f => s"${f.getClassName}.${f.getMethodName}:${f.getLineNumber}")
            .getOrElse(top)
          // waiting-on-job samples: the driver is blocked on a Spark job
          val isWait = st.exists(f =>
            f.getClassName.contains("DAGScheduler") && f.getMethodName == "runJob") ||
            st.exists(f => f.getMethodName == "awaitResult" ||
              f.getMethodName == "awaitReady") ||
            // blocked at the very top: parked/waiting, not computing
            st.headOption.exists(f => f.getMethodName == "park" ||
              f.getMethodName == "wait0" || f.getMethodName == "wait" ||
              f.getMethodName.startsWith("epoll"))
          val key = if (isWait) s"WAIT @ $bill" else bill
          agg(key) = agg.getOrElse(key, 0) + 1
          // full-stack dump for frames matching the hunt target
          sys.env.get("HOTSAMPLE_STACK").foreach { pat =>
            if (!isWait && st.exists(f => (f.getClassName + "." + f.getMethodName)
                .contains(pat)) && stackDumps < 6) {
              stackDumps += 1
              System.err.println(s"---- stack hit #$stackDumps ($pat)")
              st.take(30).foreach(f => System.err.println(s"    $f"))
            }
          }
        }
        Thread.sleep(10)
      }
    }, "hotsample")
    sampler.setDaemon(true)
    val t0 = System.nanoTime()
    sampler.start()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    sampling = false
    val sec = (System.nanoTime() - t0) / 1e9
    sampler.join(1000)
    println(f"== $name warm total $sec%.2fs, ${agg.values.sum} samples")
    agg.toSeq.sortBy(-_._2).take(topN).foreach { case (k, n) =>
      println(f"  $n%5d  $k")
    }
    spark.stop()
  }
}
