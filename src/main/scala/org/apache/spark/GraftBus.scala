package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's log is complete when Lab clears or prints it. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
