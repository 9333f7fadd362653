package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * counters read right after an action must include its last events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
