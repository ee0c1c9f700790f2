package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * span's counters are complete when the span closes. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
