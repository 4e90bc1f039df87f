package org.apache.spark

/** Test access to the listener bus, whose events arrive asynchronously:
  * `drain` returns once every posted event has reached the listeners. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
