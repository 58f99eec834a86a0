package org.apache.spark

/** Waits until every queued listener event has been delivered, so that
  * listener-backed state (`statusTracker`, job counts) is current. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
