package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a piece of driver code launches. */
object SparkJobs {

  /** `body`'s result and the Spark jobs it launched on this thread (its
    * job group), counted after draining the listener bus. */
  def launchedBy[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"spark-jobs-${System.nanoTime()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "SparkJobs.launchedBy")
    val result =
      try body
      finally {
        sc.clearJobGroup()
        GraftListenerBus.drain(sc, 10000)
        sc.removeSparkListener(listener)
      }
    (result, n.get)
  }
}
