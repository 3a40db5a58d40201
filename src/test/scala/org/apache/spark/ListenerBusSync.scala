package org.apache.spark

/** Test access to the listener bus: returns once every queue, the
  * status store's included, has delivered what was posted before it. */
object ListenerBusSync {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
