package org.apache.spark

/** The listener bus is private to Spark; the benchmark reaches its
  * drain from inside the package. */
object PerfbenchBus {
  /** Blocks until every event posted so far has been delivered to every
    * listener, so counters read afterwards include all finished tasks. */
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
