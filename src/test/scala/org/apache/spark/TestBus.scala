package org.apache.spark

/** Access to the package-private listener bus: plan-shape tests read their
 *  listeners' counts only after every queued event has been delivered. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
