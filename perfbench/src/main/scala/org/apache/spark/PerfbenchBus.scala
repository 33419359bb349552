package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's counts are complete when the benchmark reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
