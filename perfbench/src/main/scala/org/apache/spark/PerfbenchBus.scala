package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark can attribute listener counters to the call that just
  * returned. The bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
