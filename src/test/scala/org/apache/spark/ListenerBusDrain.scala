package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * a spec's listener counts are complete (`listenerBus` is
  * private[spark]). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
