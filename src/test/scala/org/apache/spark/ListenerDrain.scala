package org.apache.spark

/** Test access to the driver's listener bus, whose delivery is
  * asynchronous: an assertion on what a listener saw must first drain the
  * bus, or an event still in flight is silently missed. */
object ListenerDrain {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
