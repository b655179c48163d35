package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every posted event; the
  * bus is package-private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
