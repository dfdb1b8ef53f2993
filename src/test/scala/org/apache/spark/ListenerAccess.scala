package org.apache.spark

/** Test access to the listener bus: block until every posted event has
  * reached the registered listeners. */
object ListenerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
