package org.apache.spark

/** Bridge to the package-private listener bus: drains every queued
  * listener event, so graft's counting tools read complete counters
  * instead of sleeping for a fixed time and hoping the events have
  * arrived. Lives in the org.apache.spark package solely to satisfy
  * the access scope. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
