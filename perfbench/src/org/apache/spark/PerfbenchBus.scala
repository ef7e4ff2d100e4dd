package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so the
 * benchmark's listeners have seen all jobs and queries that have ended.
 * `LiveListenerBus.waitUntilEmpty` is package-private to `org.apache.spark`. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
