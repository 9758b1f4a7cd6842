package org.apache.spark

/** Access to the listener bus, which is private to Spark: a traced pass
  * waits for every queued event before the listener is detached. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
