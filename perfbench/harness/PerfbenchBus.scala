package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so that every task of an operation is counted before the
  * counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
