package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * per-layer Spark metrics are complete before they are read. The bus
  * is package-private, hence this object's package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
