package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark reads complete job metrics right after an action returns.
  * The bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
