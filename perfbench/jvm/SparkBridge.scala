package org.apache.spark

/** Access to the listener bus, which is private to Spark: the traced
  * run waits for every queued event before it writes its trace. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
