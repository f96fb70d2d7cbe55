package org.apache.spark

/** The one listener-bus call the benchmark needs that Spark keeps
  * package-private: wait until every posted event has reached the
  * listeners, so per-layer counts are complete when they are read. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
