package graft.tools

import org.apache.spark.GraftListenerBus
import org.apache.spark.metrics.source.CodegenMetrics

import graft.{EngineSession, SparkEntry}

/** Job/stage-count profiler: run registered queries through the same
  * noop-sink materialization the bench uses and report, per query,
  * the number of Spark jobs and stages it spawned, the classes it
  * compiled (`compiles=`: generated classes that missed the JVM-wide
  * codegen cache) plus wall seconds — the evidence for "this change
  * removed N redundant jobs" claims (guide §1: measure first; a removed
  * job is visible here even when wall time is noise-bound at small SF).
  *
  * Usage: runMain graft.tools.JobCount <sfDir> <nameRegex> [runs]
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val re = args.lift(1).getOrElse("^q01_").r
    val runs = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = EngineSession.create("graft-jobcount",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val nJobs = new java.util.concurrent.atomic.AtomicInteger
    val nStages = new java.util.concurrent.atomic.AtomicInteger
    val nTasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler
          .SparkListenerJobStart): Unit = { nJobs.incrementAndGet(): Unit }
      override def onStageCompleted(sc: org.apache.spark.scheduler
          .SparkListenerStageCompleted): Unit = {
        nStages.incrementAndGet(): Unit
        nTasks.addAndGet(sc.stageInfo.numTasks): Unit
      }
    }
    // warmup so codegen/classloading doesn't inflate the first query
    try SparkEntry.queries("q01_agg_pricing_summary")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => re.findFirstIn(n).isDefined }
      .foreach { case (name, q) =>
        (1 to runs).foreach { r =>
          // listener events post asynchronously — drain before and
          // after each run so counts attribute to the right query
          GraftListenerBus.drain(spark.sparkContext, 10000)
          nJobs.set(0); nStages.set(0); nTasks.set(0)
          spark.sparkContext.addSparkListener(listener)
          val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val t0 = System.nanoTime()
          val ok = try {
            q(spark, dir).write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[jobcount] $name failed: $e"); false
          }
          val sec = (System.nanoTime() - t0) / 1e9
          val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
          GraftListenerBus.drain(spark.sparkContext, 10000)
          spark.sparkContext.removeSparkListener(listener)
          spark.catalog.clearCache()
          if (ok) println(f"JOBCOUNT $name run=$r jobs=${nJobs.get}%d " +
            f"stages=${nStages.get}%d tasks=${nTasks.get}%d " +
            f"compiles=$compiles%d sec=$sec%.2f")
        }
      }
    spark.stop()
  }
}
