package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * status tracker's job lists are complete (the bus is `private[spark]`). */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
