package org.apache.spark

/** Test access to the `private[spark]` listener bus. */
object ListenerBusAccess {

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
