package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * listener's totals are complete before they are read. The bus is
  * private to Spark; this accessor lives in Spark's package for that. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
