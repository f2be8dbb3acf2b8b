package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener has seen all jobs, tasks and query executions
  * of the calls that already returned. The listener bus is private to
  * Spark's own package, hence this one-line bridge.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
