package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * counters a listener holds are complete for the work that ran before
  * the call. The listener bus is private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
