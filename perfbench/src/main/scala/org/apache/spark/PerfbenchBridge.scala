package org.apache.spark

/** Access to the one Spark internal the benchmark needs: waiting until
  * every queued listener event has been delivered, so listener-fed
  * numbers are complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
