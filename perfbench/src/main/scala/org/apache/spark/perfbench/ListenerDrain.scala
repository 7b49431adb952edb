package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered; the bus is
  * package-private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
