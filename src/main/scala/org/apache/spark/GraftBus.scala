package org.apache.spark

/** The listener bus drain is package-private to Spark; a listener's
  * counters are read only after it, so every finished task is counted. */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
