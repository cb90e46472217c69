package org.apache.spark

/** Waits until the listener bus has delivered every posted event. The
  * traced run drains the bus at each span boundary, so every listener
  * event a layer call caused is counted against that layer. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
