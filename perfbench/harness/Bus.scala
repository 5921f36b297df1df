package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * traced run's counts are complete before they are read. The listener
  * bus is package-private to Spark, hence this file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
