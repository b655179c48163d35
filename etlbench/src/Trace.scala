package etlbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. Times are epoch nanoseconds; the Spark
  * counters are those of the jobs submitted while this span was the
  * innermost one open on the submitting thread. */
final class Span(val id: Int, val name: String, val parent: Int, val run: Int,
    val start: Long) {
  @volatile var end: Long = -1L
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  /** [start, end] epoch-ms intervals of this span's jobs */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def json: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"run":$run,""" +
      s""""start_ns":$start,"end_ns":$end,"jobs":$jobs,"tasks":$tasks,""" +
      s""""cpu_ns":$cpuNs,"gc_ms":$gcMs,"spill_bytes":$spillBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"input_bytes":$inputBytes,""" +
      s""""input_records":$inputRecords,"output_bytes":$outputBytes,""" +
      s""""job_intervals_ms":[${jobIntervals.map { case (a, b) => s"[$a,$b]" }.mkString(",")}]}"""
}

/** In-memory span recorder plus the Spark listener that charges job and
  * task counters to spans. A span's id rides on the SparkContext local
  * property [[Tracer.Key]], which Spark copies onto every job the thread
  * (or a thread it starts, such as a pipeline stage worker) submits, so
  * attribution survives the listener bus delivering events late. Spans
  * stay in memory until [[dump]]. A disabled tracer runs bodies bare. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, (Span, Long)]
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  @volatile var run = 0

  private def now(): Long = System.nanoTime() + epochOffsetNs

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(id => spans(id.toInt)).foreach { s =>
          s.jobs += 1
          jobSpan(e.jobId) = (s, e.time)
          e.stageIds.foreach(stageSpan(_) = s)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) => s.jobIntervals += (t0 -> e.time) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  })

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(Tracer.Key)
      val s = synchronized {
        val s = new Span(spans.size, name,
          Option(prev).map(_.toInt).getOrElse(-1), run, now())
        spans += s
        s
      }
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.end = now()
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }

  /** All spans as a JSON array, after the listener bus has delivered
    * every pending event. */
  def dump(): String = {
    org.apache.spark.etlbenchbridge.ListenerDrain(sc)
    synchronized(spans.map(_.json).mkString("[", ",\n", "]"))
  }
}

object Tracer {
  val Key = "etlbench.span"
}
