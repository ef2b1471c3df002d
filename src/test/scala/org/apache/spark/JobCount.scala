package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs started by `body` on the calling thread (and the threads
  * it spawns), counted from the listener bus. Lives in this package to
  * drain the asynchronous bus before reading the count. */
object JobCount {
  def apply(sc: SparkContext)(body: => Unit): Int = {
    val group = s"jobcount-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(
              _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
