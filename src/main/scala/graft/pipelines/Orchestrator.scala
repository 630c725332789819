package graft.pipelines

import java.util.concurrent.{ConcurrentHashMap, Executor, ExecutorCompletionService, Executors}
import java.util.concurrent.atomic.AtomicReference

import scala.annotation.tailrec
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Pipeline orchestration (SURVEY §2.3, O1-O7) — the Spark-side
  * replacement for the reference's Qt subprocess queue
  * (`Executavel do ETL.py:321-383,402-458`).
  *
  * Differences by design (SURVEY §3 EP1-EP3 mapping):
  *  - jobs run in-process against one SparkSession, isolated by Spark
  *    job groups (not child processes) — cancellation via
  *    `cancelJobGroup` replaces QProcess.terminate (O4);
  *  - progress is REAL task progress from a SparkListener (O7), not the
  *    reference's simulated 150 ms timer bar (`ETL.py:385-390`);
  *  - every job is independently runnable (EP3: headless CLI parity).
  */
object Orchestrator {

  /** O1: a named, labeled pipeline — mirrors the reference's config
    * entries (`ETL.py:46-67`: script → {label, tooltip}). */
  final case class PipelineJob(
      name: String,
      label: String,
      tooltip: String = "",
      run: SparkSession => Unit)

  sealed trait JobStatus
  case object Pending extends JobStatus
  case object Running extends JobStatus // ⌛ (ETL.py:288-292)
  case object Succeeded extends JobStatus // ✅
  final case class Failed(error: Throwable) extends JobStatus // ❌

  final case class JobResult(job: PipelineJob, status: JobStatus,
      wallMillis: Long)

  /** Runs jobs with per-job status, timing, job-group isolation and
    * fail-fast queueing. Thread-safe status map so a monitoring thread
    * (the reference's UI role) can poll. */
  final class PipelineRunner(spark: SparkSession,
      listener: Option[LogForwarder] = None) {

    private val statuses =
      new ConcurrentHashMap[String, AtomicReference[JobStatus]]()
    private val ranOnce = ConcurrentHashMap.newKeySet[String]()
    listener.foreach(spark.sparkContext.addSparkListener)

    def status(name: String): JobStatus =
      Option(statuses.get(name)).map(_.get()).getOrElse(Pending)

    /** Deliver all queued scheduler events to the listeners (bounded
      * wait). Call before reading [[LogForwarder.progress]] when
      * exact post-run counts matter — scheduler events ride an async
      * bus and may lag a completed job by milliseconds. */
    def drainEvents(timeoutMillis: Long = 10000): Unit =
      if (listener.nonEmpty)
        org.apache.spark.GraftListenerBus.drain(spark.sparkContext,
          timeoutMillis)

    /** O2/EP1: run one job inside its own job group. */
    def runOne(job: PipelineJob): JobResult = {
      val ref = statuses.computeIfAbsent(job.name,
        _ => new AtomicReference[JobStatus](Pending))
      ref.set(Running)
      val g = groupId(job)
      // fresh per-run scheduler state (a re-run must not accumulate
      // counters, and long-lived sessions must not grow unboundedly).
      // The bus is drained LAZILY: only a re-run of the same group can
      // race a previous run's stragglers into freshly-evicted counters,
      // so first runs — and sessions with heavy unrelated listener
      // traffic — never pay a bus-drain per job.
      if (!ranOnce.add(g)) drainEvents()
      listener.foreach(_.evict(g))
      listener.foreach(_.emit(LogForwarder.Info, g, "runner",
        s"job '${job.name}' (${job.label}) started"))
      val t0 = System.nanoTime()
      spark.sparkContext.setJobGroup(g,
        s"${job.label}", interruptOnCancel = true)
      try {
        job.run(spark)
        ref.set(Succeeded)
        val ms = (System.nanoTime() - t0) / 1000000
        listener.foreach(_.emit(LogForwarder.Info, g, "runner",
          s"job '${job.name}' succeeded in ${ms} ms"))
        JobResult(job, Succeeded, ms)
      } catch {
        case e: Throwable =>
          ref.set(Failed(e))
          val ms = (System.nanoTime() - t0) / 1000000
          listener.foreach(_.emit(LogForwarder.Error, g, "runner",
            s"job '${job.name}' FAILED after ${ms} ms: ${e.getMessage}"))
          JobResult(job, Failed(e), ms)
      } finally {
        spark.sparkContext.clearJobGroup()
      }
    }

    /** O3/EP2: sequential queue, fail-fast — the next job starts only
      * if the previous succeeded (`ETL.py:426-427`); on failure the
      * remaining queue is abandoned (`ETL.py:419`), and remaining jobs
      * keep status Pending. A chain DAG: each job depends on the one
      * before it. */
    def runAll(jobs: Seq[PipelineJob]): Seq[JobResult] =
      runDag(jobs, jobs.zip(jobs.drop(1)).map { case (a, b) =>
        b.name -> Seq(a.name) }.toMap)

    /** DAG generalization of the linear queue (SURVEY §3 EP2 note):
      * run in dependency order; a failure leaves every transitive
      * dependent never-run (status stays Pending, no result) while
      * independent branches continue — strictly more useful than the
      * reference's whole-queue abort, and identical to it on a chain.
      * `deps`: job name → names it depends on; repeated job names,
      * unknown names and cycles are rejected before anything runs.
      *
      * Up to `parallelism` ready jobs are in flight at once, always
      * the first ready ones in [[order]]. At 1 every job runs inline
      * on the calling thread in that order; above 1 they run on a
      * fixed pool of that size (`setJobGroup` is thread-local, so
      * per-job groups, cancellation and progress hold per worker) and
      * results return in completion order. */
    def runDag(jobs: Seq[PipelineJob], deps: Map[String, Seq[String]],
        parallelism: Int = 1): Seq[JobResult] = {
      require(parallelism >= 1, "parallelism must be >= 1")
      val queue = order(jobs, deps)
      val pool =
        Option.when(parallelism > 1)(Executors.newFixedThreadPool(parallelism))
      val finished =
        new ExecutorCompletionService[JobResult](pool.getOrElse[Executor](_.run()))
      val started = mutable.Set[String]()
      val succeeded = mutable.Set[String]()
      val results = mutable.Buffer[JobResult]()
      def next = queue.find(j => !started(j.name) &&
        deps.getOrElse(j.name, Nil).forall(succeeded))
      var inFlight = 0
      try {
        while (inFlight > 0 || next.nonEmpty)
          next.filter(_ => inFlight < parallelism) match {
            case Some(j) =>
              started += j.name
              finished.submit(() => runOne(j))
              inFlight += 1
            case None =>
              val r = finished.take().get()
              inFlight -= 1
              results += r
              if (r.status == Succeeded) succeeded += r.job.name
          }
        results.toSeq
      } finally pool.foreach(_.shutdown())
    }

    /** Kahn topological order, level by level and stable by input
      * position. */
    private def order(jobs: Seq[PipelineJob],
        deps: Map[String, Seq[String]]): Seq[PipelineJob] = {
      val names = jobs.map(_.name)
      require(names.distinct.size == names.size,
        s"repeated job names: ${names.diff(names.distinct).mkString(", ")}")
      deps.foreach { case (j, ds) =>
        require(names.contains(j), s"unknown job in deps: $j")
        ds.foreach(d => require(names.contains(d), s"unknown dep: $d"))
      }
      @tailrec def levels(pending: Seq[PipelineJob], done: Seq[PipelineJob])
          : Seq[PipelineJob] =
        if (pending.isEmpty) done
        else {
          val waiting = pending.map(_.name).toSet
          val (ready, rest) = pending.partition(j =>
            !deps.getOrElse(j.name, Nil).exists(waiting))
          require(ready.nonEmpty,
            s"dependency cycle among: ${waiting.mkString(", ")}")
          levels(rest, done ++ ready)
        }
      levels(jobs, Seq.empty)
    }

    /** O4: cooperative cancellation of a running job's Spark stages. */
    def cancel(job: PipelineJob): Unit =
      spark.sparkContext.cancelJobGroup(groupId(job))

    def groupId(job: PipelineJob): String = s"graft-job-${job.name}"
  }
}
