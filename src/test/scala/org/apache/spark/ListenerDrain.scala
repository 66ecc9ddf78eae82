package org.apache.spark

/** Specs that count jobs or stages with a listener drain the bus first:
  * events reach listeners asynchronously.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
