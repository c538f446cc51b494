package org.apache.spark

/** Reaches the package-private listener bus so the benchmark can drain
  * every queued listener event before it reads its counters, instead
  * of sleeping for a fixed time and hoping the events have arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
