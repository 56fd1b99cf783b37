package org.apache.spark

/** Access to the package-private listener bus: the benchmark reads its task
 *  counters only after every queued listener event has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
