package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * counters read right after an operation include all of its events. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
