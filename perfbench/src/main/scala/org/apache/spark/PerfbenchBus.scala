package org.apache.spark

/** Listener events are delivered asynchronously; counters read before
  * the bus drains miss the tail of a job. The bus is private to Spark,
  * hence this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
