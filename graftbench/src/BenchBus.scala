package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read after an operation include all of its tasks. The bus
  * is private to Spark; this object lives in Spark's package to reach it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
