package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read after a timed phase include all of its jobs. The bus
  * is internal to Spark; this is the one place the benchmark reaches it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
