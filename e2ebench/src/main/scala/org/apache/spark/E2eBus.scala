package org.apache.spark

/** Waits until the listener bus has delivered every posted event
  * (`listenerBus` is package-private to Spark).
  */
object E2eBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
