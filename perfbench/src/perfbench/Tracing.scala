package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call from the benchmark into an engine layer. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest by call structure (the benchmark
  * is single-threaded); nothing is written until the run ends. When
  * disabled, [[apply]] only runs the body. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var enabled = false
  var pass = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, pass, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

/** Spark execution counters for one job group (an orchestrator job or a
  * commit-log verb). Times are in nanoseconds, sizes in bytes. */
final class GroupCounters {
  var jobs, stages, tasks = 0L
  var runNs, cpuNs, gcNs, schedulerDelayNs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var inputBytes, inputRows = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_ns" -> runNs, "cpu_ns" -> cpuNs, "gc_ns" -> gcNs,
    "scheduler_delay_ns" -> schedulerDelayNs,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes,
    "input_rows" -> inputRows)
}

/** Scheduler-side accounting, attributed to the job group that was set
  * on the calling thread when each Spark job started. Read it only after
  * draining the listener bus. */
final class ExecutionListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupCounters]()

  private def of(g: String) = groups.computeIfAbsent(g, _ => new GroupCounters)
  private def groupOfStage(stageId: Int) =
    Option(stageGroup.get(stageId)).getOrElse("(none)")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    e.stageIds.foreach(stageGroup.put(_, g))
    of(g).synchronized { of(g).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(groupOfStage(e.stageInfo.stageId))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(groupOfStage(e.stageId))
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
        else 0L
      val delayMs = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      c.synchronized {
        c.tasks += 1
        c.runNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.gcNs += m.jvmGCTime * 1000000L
        c.schedulerDelayNs += delayMs * 1000000L
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Counters accumulated since the last call, by group; resets them. */
  def take(): Map[String, GroupCounters] = {
    val out = groups.asScala.toMap
    groups.clear()
    out
  }
}

/** Catalyst and sink accounting from each successful query execution:
  * planning phase times and the write commands' file/byte/row counts. */
final class PlanListener extends QueryExecutionListener {
  private val totals = new ConcurrentHashMap[String, java.lang.Long]()

  private def add(k: String, v: Long): Unit =
    totals.merge(k, v, (a, b) => a + b)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case o => o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes)
  })

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    add("executions", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"${phase}_ms", s.durationMs)
    }
    val roots = qe.executedPlan match {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        Seq(c, c.commandPhysicalPlan)
      case p => Seq(p)
    }
    roots.flatMap(nodes).foreach {
      case w: DataWritingCommandExec =>
        val ms = w.cmd.metrics
        ms.get("numFiles").foreach(m => add("files_written", m.value))
        ms.get("numOutputBytes").foreach(m => add("bytes_written", m.value))
        ms.get("numOutputRows").foreach(m => add("rows_written", m.value))
      case _ => ()
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = add("failed_executions", 1)

  /** Totals accumulated since the last call; resets them. */
  def take(): Map[String, Long] = {
    val out = totals.asScala.map { case (k, v) => k -> v.longValue }.toMap
    totals.clear()
    out
  }
}
