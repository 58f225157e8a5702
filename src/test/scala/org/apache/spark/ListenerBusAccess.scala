package org.apache.spark

/** Test access to the driver's listener bus, which is private to Spark:
  * `drain` returns once every event posted so far has reached its
  * listeners, so a spec can count jobs right after an action. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
