package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so counters read right after a job include that job's tasks. The
  * listener bus is Spark-internal, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
