package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.EngineSession

/** Runs one workload in one JVM and writes its raw samples as JSON:
  * set-up times, per-pass wall times, per-op times, check outcomes and,
  * for traced passes, spans and layer counters. `run.py` turns the file
  * into metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --source <dir> --work <dir> --out <file>
  *
  * `--source` holds the source tables, one `<table>.parquet` each; it is
  * only read. Outputs go under `--work`.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Path.of(opt("work"))
    val out = Path.of(opt("out"))
    // set-ups: at least three, and more until half a second of warm ones
    // (all but the first) is measured, so that a set-up of a few tens of
    // milliseconds still gets a steady median
    val minSetups = 3
    val warmSetupS = 0.5
    val maxSetups = 25
    // at least two measured passes (four when traced), and a whole
    // number of the workload's pass periods
    val minPasses = if (trace) 4 else 2
    require(cores >= 1 && cores <= Runtime.getRuntime.availableProcessors,
      s"--cores $cores exceeds the ${Runtime.getRuntime.availableProcessors} " +
        "available processors")

    val tracer = new Tracer
    val dirs = RunDirs(work, opt("source"))
    val workload = Workload(workloadName, dirs, seed, tracer)
    val json = mutable.LinkedHashMap.empty[String, Any]

    // set-up: create the engine session and prepare the workload's
    // program-side state, several times; the last session is kept
    var spark: SparkSession = null
    val createS = mutable.Buffer.empty[Double]
    val setupS = mutable.Buffer.empty[Double]
    var rep = 0
    while (rep < minSetups ||
        (setupS.tail.sum < warmSetupS && rep < maxSetups)) {
      if (spark != null) spark.stop()
      val (s, c) = Workload.timed(EngineSession.create("perfbench", cores.toString))
      spark = s
      if (rep == 0) {
        workload.init(spark)
        json("init_phases") = workload.initPhases
      }
      val (_, p) = Workload.timed(workload.prepare(spark, rep))
      createS += c
      setupS += c + p
      rep += 1
    }
    json("create_s") = createS.toSeq
    json("setup_s") = setupS.toSeq

    val sc = spark.sparkContext
    val execListener = new ExecutionListener
    val planListener = new PlanListener
    val passes = mutable.Buffer.empty[mutable.LinkedHashMap[String, Any]]

    def runPass(p: Int, traced: Boolean): mutable.LinkedHashMap[String, Any] = {
      val (_, resetS) = Workload.timed(workload.reset(spark, p))
      if (traced) {
        sc.addSparkListener(execListener)
        spark.listenerManager.register(planListener)
        tracer.enabled = true
        tracer.pass = p
      }
      resetPeakRss()
      val (ops, wall) = Workload.timed(tracer("pass")(workload.pass(spark, p)))
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> p, "traced" -> traced, "wall_s" -> wall,
        "peak_rss_mb" -> peakRssMb(), "reset_s" -> resetS,
        "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds,
          "ok" -> o.ok)))
      if (traced) {
        tracer.enabled = false
        org.apache.spark.GraftListenerBus.drain(sc, 30000)
        sc.removeSparkListener(execListener)
        spark.listenerManager.unregister(planListener)
        rec("groups") = execListener.take().map { case (g, c) =>
          g -> c.fields.toMap }
        rec("plans") = planListener.take()
      }
      val (cs, verifyS) = Workload.timed(workload.verify(spark, p))
      rec("verify_s") = verifyS
      if (traced) rec("gauges") = workload.gauges(spark)
      cs.filterNot(_.ok).foreach(c => System.err.println(
        s"[perfbench] pass $p: ${c.name} mismatch: ${c.detail}"))
      rec("checks") = cs.map(c => Map("name" -> c.name, "ok" -> c.ok))
      rec
    }

    // untimed warm-up passes (JIT, caches), then the measured loop. A
    // traced run orders its passes untraced, traced, traced, untraced and
    // repeats: both kinds sit at the same mean position in the run (the JIT
    // still warms) and both see the even passes' periodic work
    json("warmup") = (0 until workload.warmupPasses)
      .map(w => runPass(w + 1 - workload.warmupPasses, traced = false))
    // the pass count is fixed by --seconds and the workload's nominal
    // pass time rather than by the clock, so that every run measures the
    // same passes whatever the host's speed
    val nPasses = {
      val n = math.max(minPasses, math.ceil(seconds / workload.nominalPassS).toInt)
      (n + workload.passPeriod - 1) / workload.passPeriod * workload.passPeriod
    }
    val loopStart = System.nanoTime()
    for (p <- 1 to nPasses) {
      passes += runPass(p, traced = trace && p % 4 >= 2)
      require((System.nanoTime() - loopStart) / 1e9 < 8 * seconds + 60,
        "measured loop overran its time budget")
    }
    json("passes") = passes.toSeq
    json("spans") = tracer.recorded.map(s => Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "pass" -> s.pass, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs))
    spark.stop()
    Files.writeString(out, Json(json))
  }

  /** Restart the process's peak-RSS count from its current RSS (Linux:
    * writing 5 to clear_refs resets VmHWM), so that [[peakRssMb]] covers
    * one timed pass and not the set-up, fixtures or checks before it. */
  private def resetPeakRss(): Unit =
    Files.writeString(Path.of("/proc/self/clear_refs"), "5")

  /** The process's peak resident set size (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Path.of("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON encoder for the raw-sample file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
