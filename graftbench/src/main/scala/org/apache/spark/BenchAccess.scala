package org.apache.spark

/** The one Spark-internal call the harness needs: wait until every queued
  * listener event has been delivered, so per-op counts are complete before
  * they are read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
