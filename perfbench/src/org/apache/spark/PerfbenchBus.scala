package org.apache.spark

/** Drains Spark's listener bus so every scheduler and streaming-progress
  * event of a run has been delivered before its metrics are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
