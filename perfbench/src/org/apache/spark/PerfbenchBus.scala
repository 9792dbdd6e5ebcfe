package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it once at
  * the end of a traced run so that every event is attributed before the
  * per-layer metrics are computed.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
