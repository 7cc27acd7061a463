package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * reads listener totals only after every event has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
