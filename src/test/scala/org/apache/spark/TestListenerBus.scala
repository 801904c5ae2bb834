package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * a spec can read listener counters for the call that just returned.
  * The bus is package-private to Spark, hence this package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
