package org.apache.spark

/** The one driver-internal call the benchmark needs: block until every
  * posted listener event has been delivered, so the counters the
  * listeners keep are complete before they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
