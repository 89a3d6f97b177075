package org.apache.spark

/** Test access to the `private[spark]` listener bus: after [[drain]],
  * every event posted so far has reached the registered listeners.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
