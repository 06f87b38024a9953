package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so per-op metrics are read only once they are final.
  * The listener bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
