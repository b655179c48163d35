package graft

import graft.pipeline.Pipeline
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Counts the Spark jobs a block submits, from the calling thread or any
  * thread it starts, keyed by the pipeline stage that submitted each one
  * ([[Pipeline.StageKey]]; "" outside a stage). Jobs of other threads on
  * the shared session are not counted: the block runs under a unique
  * local property, which Spark copies onto every job it submits. */
object JobCounter {
  private val Key = "graft.test.jobCounter"

  def apply[T](spark: SparkSession)(body: => T): (T, Map[String, Int]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val counts = mutable.Map.empty[String, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(Key) == tag).foreach { p =>
          val stage = Option(p.getProperty(Pipeline.StageKey)).getOrElse("")
          counts.synchronized(counts(stage) = counts.getOrElse(stage, 0) + 1)
        }
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val result = body
      ListenerDrain(sc)
      (result, counts.synchronized(counts.toMap))
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
