package graft.pipelines

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._

/** O5: structured log forwarding — the engine-side counterpart of the
  * reference's child-process stdout/stderr streamer with level styling
  * (`Executavel do ETL.py:392-400`). Spark scheduler events scoped to
  * a job group are turned into structured [[LogForwarder.LogEvent]]s
  * and pushed to a pluggable sink (UI console, log collector, test
  * buffer); job-lifecycle events come from [[Orchestrator
  * .PipelineRunner]] through the same sink, so a consumer sees one
  * ordered, leveled stream per job — start, stage progress, task
  * failures, outcome — exactly the surface the reference's log pane
  * renders.
  *
  * O7: it also counts real task progress per job group — tasks of the
  * group's submitted stages against its successfully ended tasks —
  * in place of the reference's simulated 150 ms timer bar
  * (`ETL.py:385-390`). The sink defaults to a no-op for callers that
  * only read [[progress]].
  *
  * Delivery is the Spark listener bus (async); the runner's own
  * lifecycle events are emitted synchronously. Per-group state is
  * evicted by [[evict]] (the runner resets a group at the start of a
  * re-run), so a long-lived session's maps are bounded by the number
  * of distinct jobs, never the number of runs.
  */
final class LogForwarder(sink: LogForwarder.LogEvent => Unit = _ => ())
    extends SparkListener {

  import LogForwarder._

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val total = new ConcurrentHashMap[String, AtomicLong]()
  private val done = new ConcurrentHashMap[String, AtomicLong]()

  private def counter(m: ConcurrentHashMap[String, AtomicLong], g: String) =
    m.computeIfAbsent(g, _ => new AtomicLong())

  def emit(level: String, group: String, source: String, msg: String): Unit =
    sink(LogEvent(level, Option(group), source, msg))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        jobGroup.put(e.jobId, g)
        emit(Info, g, "scheduler",
          s"spark job ${e.jobId} started (${e.stageInfos.size} stages)")
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.get(e.jobId)
    if (g != null) e.jobResult match {
      case JobSucceeded =>
        emit(Info, g, "scheduler", s"spark job ${e.jobId} succeeded")
      case other =>
        emit(Error, g, "scheduler", s"spark job ${e.jobId} failed: $other")
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        stageGroup.put(e.stageInfo.stageId, g)
        counter(total, g).addAndGet(e.stageInfo.numTasks.toLong)
        emit(Debug, g, "scheduler",
          s"stage ${e.stageInfo.stageId} submitted " +
            s"(${e.stageInfo.numTasks} tasks)")
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) e.stageInfo.failureReason match {
      case Some(reason) =>
        emit(Error, g, "scheduler",
          s"stage ${e.stageInfo.stageId} FAILED: $reason")
      case None =>
        emit(Debug, g, "scheduler",
          s"stage ${e.stageInfo.stageId} completed")
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    // failed/killed task ends are not progress (their stage attempt
    // re-adds its tasks to `total` on resubmission); speculative
    // duplicates are rare enough to accept
    if (g != null) e.reason match {
      case org.apache.spark.Success => counter(done, g).incrementAndGet(): Unit
      case _: org.apache.spark.TaskKilled => () // cancellation, not error
      case reason =>
        emit(Warn, g, "executor",
          s"task ${e.taskInfo.taskId} of stage ${e.stageId} failed: " +
            reason.toString.linesIterator.take(1).mkString)
    }
  }

  /** (completedTasks, totalTasks) for a job group. */
  def progress(group: String): (Long, Long) =
    (counter(done, group).get(), counter(total, group).get())

  /** Drop per-group scheduler state (stage/job mappings and task
    * counters) for `group` — the runner calls it at the start of a
    * re-run (fresh progress per run); a UI may call it when it stops
    * displaying a group. */
  def evict(group: String): Unit = {
    total.remove(group)
    done.remove(group)
    stageGroup.entrySet.removeIf(en => en.getValue == group)
    jobGroup.entrySet.removeIf(en => en.getValue == group)
  }
}

object LogForwarder {
  val Debug = "DEBUG"
  val Info = "INFO"
  val Warn = "WARN"
  val Error = "ERROR"

  /** One structured log record: level, job group (None = engine-wide),
    * source ("runner" | "scheduler" | "executor"), message. */
  final case class LogEvent(level: String, group: Option[String],
      source: String, message: String)

  /** Default sink: forward into the engine's log4j logger at the
    * matching level (the headless analogue of the reference's styled
    * console pane). */
  def log4jSink: LogEvent => Unit = {
    val log = org.apache.logging.log4j.LogManager.getLogger("graft.jobs")
    e => {
      val line = s"[${e.group.getOrElse("-")}] ${e.source}: ${e.message}"
      e.level match {
        case Debug => log.debug(line)
        case Warn => log.warn(line)
        case Error => log.error(line)
        case _ => log.info(line)
      }
    }
  }
}
