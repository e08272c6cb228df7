package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * span recorder has seen the last job of a run before it reports.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
