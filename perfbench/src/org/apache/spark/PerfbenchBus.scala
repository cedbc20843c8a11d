package org.apache.spark

/** Access to the context's listener bus, which Spark keeps package-private. */
object PerfbenchBus {
  /** Blocks until every posted event has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
