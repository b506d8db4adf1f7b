package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. */
object PerfbenchBridge {
  /** Block until every posted listener event has been delivered, so a
    * listener's counts are complete for the work that just finished. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
