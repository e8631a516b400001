package org.apache.spark.graft

import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of driver code submits. Jobs are matched
  * by a job group set on the calling thread (AQE and broadcast threads
  * inherit it), and counted once the listener bus — package-private in
  * Spark — has delivered every event the block posted. */
object Jobs {
  def count[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"graft-jobs-${UUID.randomUUID()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count")
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
