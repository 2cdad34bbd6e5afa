package org.apache.spark

/** Test access to the listener bus, whose drain is `private[spark]`. */
object ListenerBuses {

  /** Block until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
