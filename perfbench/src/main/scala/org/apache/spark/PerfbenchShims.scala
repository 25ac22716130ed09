package org.apache.spark

/** Access to the listener bus, which is package-private to Spark. */
object PerfbenchShims {
  /** Blocks until every event posted so far has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
