package org.apache.spark

/** Waits until every queued listener event has been delivered, so an op's
  * counters are complete before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
