package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark's
  * trace waits on it before reading its counters. */
object MbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
