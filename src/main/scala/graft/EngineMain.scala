package graft

import graft.pipelines.{Jobs, LogForwarder, Orchestrator}

/** Headless CLI entry point (SURVEY §3 EP3: every pipeline must be
  * runnable standalone, logging to stdout).
  *
  *   runMain graft.EngineMain <jobName|all> [sfDir] [outDir] [parallel]
  *
  * `all` runs the five jobs over their declared table dependencies
  * (`Jobs.standardDeps`); a named job runs alone. `parallel` runs up
  * to four ready jobs at once instead of one.
  *
  * Exit code 0 only if every requested job succeeded — the contract
  * the reference's run-all queue keys on (`ETL.py:426-427`).
  */
object EngineMain {
  def main(args: Array[String]): Unit = {
    val jobName = args.headOption.getOrElse("all")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(2).getOrElse("/tmp/graft_out")
    val spark = EngineSession.create("graft-engine")
    try {
      val listener = new LogForwarder
      val runner = new Orchestrator.PipelineRunner(spark, Some(listener))
      val jobs = Jobs.standardJobs(sfDir, outDir)
      val selected =
        if (jobName == "all") jobs
        else jobs.filter(_.name == jobName) match {
          case Nil => sys.error(
            s"unknown job '$jobName'; known: ${jobs.map(_.name).mkString(", ")}")
          case js => js
        }
      // run-all rides the declared table-dependency DAG (EP2's
      // generalization — identical order to the reference's linear
      // queue on the chain, but an unrelated branch survives a failure)
      val results = runner.runDag(selected,
        if (jobName == "all") Jobs.standardDeps else Map.empty,
        parallelism = if (args.lift(3).contains("parallel")) 4 else 1)
      // progress events ride the async listener bus; deliver them all
      // before reading the counters (the runner only drains lazily)
      runner.drainEvents()
      results.foreach { r =>
        val (done, total) = listener.progress(runner.groupId(r.job))
        val mark = r.status match {
          case Orchestrator.Succeeded => "OK "
          case _ => "FAIL"
        }
        println(f"[engine] $mark ${r.job.name}%-40s ${r.wallMillis}%6d ms" +
          f"  tasks=$done/$total")
      }
      if (!results.forall(_.status == Orchestrator.Succeeded) ||
          results.size != selected.size)
        sys.exit(1)
    } finally spark.stop()
  }
}
