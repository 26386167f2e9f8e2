package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * counters read after a traced phase are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
