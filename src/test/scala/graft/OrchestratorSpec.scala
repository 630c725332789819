package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.pipelines.{Jobs, LogForwarder}
import graft.pipelines.Orchestrator._

/** Orchestrator semantics (SURVEY O1-O7): fail-fast queue, status
  * transitions, real progress, cancellation, config registry. */
class OrchestratorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def job(name: String, body: SparkSession => Unit): PipelineJob =
    PipelineJob(name, name, "", body)

  test("runAll is sequential fail-fast; queue abandoned after failure") {
    val ran = scala.collection.mutable.Buffer[String]()
    val runner = new PipelineRunner(spark)
    val results = runner.runAll(Seq(
      job("j1", _ => ran += "j1"),
      job("j2", _ => { ran += "j2"; sys.error("boom") }),
      job("j3", _ => ran += "j3")))
    assert(ran.toSeq == Seq("j1", "j2"))
    assert(results.map(_.status match {
      case Succeeded => "ok"
      case Failed(_) => "fail"
      case s => s.toString
    }) == Seq("ok", "fail"))
    assert(runner.status("j1") == Succeeded)
    assert(runner.status("j2").isInstanceOf[Failed])
    assert(runner.status("j3") == Pending) // never started
  }

  test("LogForwarder reports real task counts for a job group") {
    val listener = new LogForwarder
    val runner = new PipelineRunner(spark, Some(listener))
    val j = job("progress_job",
      s => { s.range(0, 1000, 1, 8).selectExpr("sum(id)").collect(); () })
    val r = runner.runOne(j)
    assert(r.status == Succeeded)
    runner.drainEvents() // scheduler events ride the async bus
    val (done, total) = listener.progress(runner.groupId(j))
    assert(total >= 8) // at least the 8 scan tasks
    assert(done == total) // finished job → all tasks accounted
  }

  test("LogForwarder: failed job emits structured error events (O5)") {
    val events =
      new java.util.concurrent.ConcurrentLinkedQueue[LogForwarder.LogEvent]()
    val fwd = new LogForwarder(events.add(_))
    val runner = new PipelineRunner(spark, Some(fwd))
    val bad = job("bad_job", s => {
      // real distributed failure: tasks throw on executors
      s.range(0, 8, 1, 4).rdd.foreach(_ => sys.error("task boom")); ()
    })
    val r = runner.runOne(bad)
    assert(r.status.isInstanceOf[Failed])
    val g = runner.groupId(bad)
    // runner lifecycle events are synchronous
    def evs = events.toArray(Array.empty[LogForwarder.LogEvent]).toSeq
    assert(evs.exists(e => e.level == LogForwarder.Info &&
      e.source == "runner" && e.group.contains(g) &&
      e.message.contains("started")))
    assert(evs.exists(e => e.level == LogForwarder.Error &&
      e.source == "runner" && e.group.contains(g) &&
      e.message.contains("FAILED")))
    // scheduler/executor events ride the async listener bus — poll
    val deadline = System.currentTimeMillis() + 10000
    def schedErr = evs.exists(e => e.level == LogForwarder.Error &&
      e.source == "scheduler" && e.group.contains(g))
    def taskWarn = evs.exists(e => e.level == LogForwarder.Warn &&
      e.source == "executor" && e.group.contains(g) &&
      e.message.contains("failed"))
    while ((!schedErr || !taskWarn) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(schedErr, s"no scheduler-level ERROR event; got: $evs")
    assert(taskWarn, s"no executor-level WARN task event; got: $evs")
    // a succeeding job forwards INFO success both from runner and bus
    events.clear()
    val good = job("good_job",
      s => { s.range(0, 10).selectExpr("sum(id)").collect(); () })
    assert(runner.runOne(good).status == Succeeded)
    assert(evs.exists(e => e.level == LogForwarder.Info &&
      e.source == "runner" && e.message.contains("succeeded")))
  }

  test("LogForwarder evicts per-group state and resets on re-run") {
    val listener = new LogForwarder
    val runner = new PipelineRunner(spark, Some(listener))
    val j = job("evict_job",
      s => { s.range(0, 100, 1, 4).selectExpr("sum(id)").collect(); () })
    assert(runner.runOne(j).status == Succeeded)
    val g = runner.groupId(j)
    runner.drainEvents()
    val (d1, t1) = listener.progress(g)
    assert(t1 >= 4 && d1 == t1)
    // re-run: counters reset per run, not accumulated across runs
    // (the runner drains the bus lazily before the re-run's evict)
    assert(runner.runOne(j).status == Succeeded)
    runner.drainEvents()
    val (d2, t2) = listener.progress(g)
    assert(t2 == t1 && d2 == d1, s"re-run accumulated: $t2 vs $t1")
    listener.evict(g)
    assert(listener.progress(g) == ((0L, 0L)))
  }

  test("cancel aborts a running job group") {
    val runner = new PipelineRunner(spark)
    val slow = job("slow_job", s => {
      s.range(0, 400, 1, 4).rdd
        .foreach(_ => Thread.sleep(100))
    })
    val fut = scala.concurrent.Future(runner.runOne(slow))(
      scala.concurrent.ExecutionContext.global)
    // wait until the group's Spark job is actually ACTIVE (a fixed
    // sleep races session/JIT warmup and cancels into a void), then
    // cancel it
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + 30000
    while (tracker.getJobIdsForGroup(runner.groupId(slow)).isEmpty &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    Thread.sleep(200) // let at least one task launch
    runner.cancel(slow)
    val r = scala.concurrent.Await.result(fut,
      scala.concurrent.duration.Duration(60, "s"))
    assert(r.status.isInstanceOf[Failed])
  }

  test("standard registry runs the five reference jobs end-to-end") {
    val out = Files.createTempDirectory("graft_jobs").toString
    val runner = new PipelineRunner(spark)
    val jobs = Jobs.standardJobs("/root/testdata/sf0.001", out)
    assert(jobs.map(_.name) == Seq(
      "alimentacao_view_manifestos", "alimentacao_view_movimento",
      "alimentacao_view_manifestomovimento", "alimentacao_view_adicionais",
      "alimentacao_parcela_ciot"))
    val results = runner.runAll(jobs)
    assert(results.size == 5 && results.forall(_.status == Succeeded))
    assert(spark.read.parquet(s"$out/view_manifestos").count() > 0)
    assert(spark.read.parquet(s"$out/parcela_ciot").count() > 0)
    // idempotence through the orchestrator: re-run adds nothing
    val n1 = spark.read.parquet(s"$out/parcela_ciot").count()
    runner.runOne(jobs.last)
    assert(spark.read.parquet(s"$out/parcela_ciot").count() == n1)
  }

  test("TimingListener records per-action wall time (O9)") {
    import spark.implicits._
    val l = graft.pipelines.TimingListener.attach(spark)
    try {
      Seq(1, 2, 3).toDF("x").selectExpr("sum(x)").collect()
      // listener events are async; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (l.snapshot.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val ts = l.snapshot
      assert(ts.nonEmpty)
      assert(ts.exists(t => !t.failed && t.durationMs >= 0))
    } finally spark.listenerManager.unregister(l)
  }

  test("runDag drives build-then-refresh view materialization (reference ETL shape)") {
    import org.apache.spark.sql.functions._
    // the reference's whole purpose, end to end through the
    // orchestrator: materialize a join view, then apply a changefeed
    // incrementally — refresh DEPENDS on build via the DAG
    val dir = "/root/testdata/sf0.001"
    val path = java.nio.file.Files.createTempDirectory("graft_dagiv")
      .toString + "/v"
    def facts(s: org.apache.spark.sql.SparkSession) =
      graft.sources.Catalog.table(s, dir, "lineitem")
        .dropDuplicates("l_orderkey", "l_linenumber")
    def view(s: org.apache.spark.sql.SparkSession,
        f: org.apache.spark.sql.DataFrame) =
      f.join(graft.sources.Catalog.table(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_name"),
          col("l_quantity"))
    var refreshed = -1L
    val buildJob = job("view_build", s => {
      graft.operators.IncrementalView.build(s, view(s, facts(s)), path); ()
    })
    val refreshJob = job("view_refresh", s => {
      val delta = facts(s).orderBy("l_orderkey", "l_linenumber").limit(10)
        .withColumn("l_quantity", col("l_quantity") + 5.0)
      refreshed = graft.operators.IncrementalView
        .refresh(s, view(s, delta), path, Seq("l_orderkey", "l_linenumber"))._2
      ()
    })
    val runner = new PipelineRunner(spark)
    val results = runner.runDag(Seq(refreshJob, buildJob),
      Map("view_refresh" -> Seq("view_build")))
    // dependency order respected despite submission order
    assert(results.map(_.job.name) == Seq("view_build", "view_refresh"))
    assert(results.forall(_.status == Succeeded))
    assert(refreshed == 10L)
    // the refreshed rows carry the delta's state
    val bumped = spark.read.parquet(path)
      .orderBy("l_orderkey", "l_linenumber").limit(10)
      .select("l_quantity").collect().map(_.getDouble(0))
    val orig = facts(spark).orderBy("l_orderkey", "l_linenumber").limit(10)
      .select("l_quantity").collect().map(_.getDouble(0))
    assert(bumped.toSeq == orig.map(_ + 5.0).toSeq)
  }

  /** The DAG tests run at both scheduler modes: inline on the calling
    * thread (1) and on a pool (2). */
  val parallelisms = Seq(1, 2)

  test("runDag skips transitive dependents of a failure, runs independents") {
    for (p <- parallelisms) {
      val ran = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val runner = new PipelineRunner(spark)
      //   a → b → d ;  c independent ;  b fails
      val jobs = Seq(
        job("a", _ => ran.add("a"): Unit),
        job("b", _ => { ran.add("b"): Unit; sys.error("boom") }),
        job("c", _ => ran.add("c"): Unit),
        job("d", _ => ran.add("d"): Unit))
      val results = runner.runDag(jobs,
        Map("b" -> Seq("a"), "d" -> Seq("b")), p)
      // d skipped, c still ran
      assert(ran.toArray.toSet == Set("a", "b", "c"), s"parallelism $p")
      assert(results.map(_.job.name).toSet == Set("a", "b", "c"))
      assert(runner.status("d") == Pending)
      // rejected before anything runs: a cycle, a repeated job name
      for (bad <- Seq(
          () => runner.runDag(jobs.take(2),
            Map("a" -> Seq("b"), "b" -> Seq("a")), p),
          () => runner.runDag(jobs :+ job("c", _ => ran.add("c2"): Unit),
            Map.empty, p))) {
        ran.clear()
        intercept[IllegalArgumentException](bad())
        assert(ran.isEmpty, s"parallelism $p")
      }
    }
  }

  test("runDag diamond: both middle branches run after the source, " +
      "the sink runs last; a middle failure prunes ONLY the sink") {
    //      a
    //     / \
    //    b   c      (diamond: d depends on BOTH b and c)
    //     \ /
    //      d
    val diamond = Map("b" -> Seq("a"), "c" -> Seq("a"),
      "d" -> Seq("b", "c"))
    for (p <- parallelisms) {
      val ran = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val runner = new PipelineRunner(spark)
      val ok = Seq(
        job("a", _ => ran.add("a"): Unit), job("b", _ => ran.add("b"): Unit),
        job("c", _ => ran.add("c"): Unit), job("d", _ => ran.add("d"): Unit))
      // submission order deliberately scrambled — the DAG restores it
      val results = runner.runDag(Seq(ok(3), ok(1), ok(0), ok(2)), diamond, p)
      val pos = results.map(_.job.name).zipWithIndex.toMap
      assert(pos("a") < pos("b") && pos("a") < pos("c") &&
        pos("b") < pos("d") && pos("c") < pos("d"), s"parallelism $p")
      assert(results.forall(_.status == Succeeded) && ran.size == 4)

      // one middle branch fails → the OTHER branch still runs, only the
      // sink is pruned
      ran.clear()
      val half = Seq(
        job("a", _ => ran.add("a"): Unit),
        job("b", _ => { ran.add("b"): Unit; sys.error("boom") }),
        job("c", _ => ran.add("c"): Unit), job("d", _ => ran.add("d"): Unit))
      val r2 = new PipelineRunner(spark).runDag(half, diamond, p)
      assert(ran.toArray.toSet == Set("a", "b", "c"), s"parallelism $p")
      assert(r2.count(_.status == Succeeded) == 2 &&
        r2.count(_.status.isInstanceOf[Failed]) == 1)
    }
  }

  test("runDag at parallelism 1 runs inline in level-by-level Kahn order") {
    val caller = Thread.currentThread()
    val ran = scala.collection.mutable.Buffer[(String, Thread)]()
    def rec(n: String) = job(n, _ => ran += n -> Thread.currentThread())
    val results = new PipelineRunner(spark).runDag(
      Seq(rec("a"), rec("c"), rec("b")), Map("c" -> Seq("a")))
    assert(ran.map(_._1).toSeq == Seq("a", "b", "c"))
    assert(results.map(_.job.name) == Seq("a", "b", "c"))
    assert(ran.forall(_._2 eq caller))
    // an empty DAG finishes at once, inline or pooled
    for (p <- Seq(1, 4))
      assert(new PipelineRunner(spark).runDag(Nil, Map.empty, p).isEmpty)
  }

  test("runDag at parallelism 2 overlaps independent branches (rendezvous)") {
    // rendezvous: b and c (both ready after a) must be IN FLIGHT
    // simultaneously — each arrives and waits for the other
    val both = new java.util.concurrent.CountDownLatch(2)
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val runner = new PipelineRunner(spark)
    def meet(n: String) = job(n, _ => {
      order.add(n): Unit
      both.countDown()
      assert(both.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "b and c must run concurrently")
    })
    val jobs = Seq(job("a", _ => order.add("a"): Unit), meet("b"), meet("c"),
      job("d", _ => order.add("d"): Unit))
    val deps = Map("b" -> Seq("a"), "c" -> Seq("a"), "d" -> Seq("b", "c"))
    val results = runner.runDag(jobs, deps, parallelism = 2)
    assert(results.size == 4 && results.forall(_.status == Succeeded))
    val seq = order.toArray.map(_.toString).toSeq
    assert(seq.head == "a" && seq.last == "d")
  }

  test("the standard registry's declared deps order manifestos/" +
      "movimento before manifesto-movimento (EP2 table dependencies)") {
    val names = Jobs.standardJobs("/root/testdata/sf0.001", "/tmp/x")
      .map(_.name)
    // every declared dep names a registered job
    Jobs.standardDeps.foreach { case (j, ds) =>
      assert(names.contains(j))
      ds.foreach(d => assert(names.contains(d)))
    }
    assert(Jobs.standardDeps(
      "alimentacao_view_manifestomovimento").toSet ==
      Set("alimentacao_view_manifestos", "alimentacao_view_movimento"))
  }

  test("loadOrInit writes the example config on first run, then loads it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg")
    val path = dir.resolve("pipelines.json")
    val jobs = Jobs.loadOrInit(path, "/root/testdata/sf0.001", "/tmp/x")
    assert(java.nio.file.Files.exists(path))
    assert(jobs.size == 5 && jobs.map(_.name).contains("alimentacao_parcela_ciot"))
    // second load reads the SAME file (no rewrite) and yields the same registry
    val again = Jobs.loadOrInit(path, "/root/testdata/sf0.001", "/tmp/x")
    assert(again.map(j => (j.name, j.label)) == jobs.map(j => (j.name, j.label)))
    // corrupt file → hard error, never silently replaced
    java.nio.file.Files.writeString(path, "{broken")
    intercept[IllegalArgumentException](
      Jobs.loadOrInit(path, "/root/testdata/sf0.001", "/tmp/x"))
  }

  test("Jdbc.ddlFor generates idempotent PostgreSQL DDL with PK") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id_manifesto", IntegerType, nullable = false),
      StructField("cd_parcela", StringType),
      StructField("vl_parcela", DecimalType(18, 2)),
      StructField("dt_parcela", TimestampType)))
    val ddl = graft.sources.Jdbc.ddlFor("gestao_fretes", "parcela_ciot",
      schema, primaryKey = Seq("id_manifesto", "cd_parcela"))
    assert(ddl.head == "CREATE SCHEMA IF NOT EXISTS \"gestao_fretes\"")
    val ct = ddl(1)
    assert(ct.startsWith(
      "CREATE TABLE IF NOT EXISTS \"gestao_fretes\".\"parcela_ciot\""))
    assert(ct.contains("\"id_manifesto\" INTEGER NOT NULL"))
    assert(ct.contains("\"vl_parcela\" NUMERIC(18,2)"))
    assert(ct.contains("PRIMARY KEY (\"id_manifesto\", \"cd_parcela\")"))
    // quoting: embedded quotes doubled, reserved words safe
    assert(graft.sources.PostgresDialect.quote("we\"ird") == "\"we\"\"ird\"")
    intercept[IllegalArgumentException] {
      graft.sources.Jdbc.ddlFor("s", "t", StructType(Seq(
        StructField("m", MapType(StringType, StringType)))))
    }
  }

  test("fromConfig resolves known jobs, overrides labels, rejects junk") {
    val cfg =
      """{"alimentacao_view_manifestos": {"label": "Custom", "tooltip": "tip"},
        |"alimentacao_parcela_ciot": {}}""".stripMargin
    val jobs = Jobs.fromConfig(cfg, "/root/testdata/sf0.001", "/tmp/x")
    assert(jobs.map(_.name) == Seq(
      "alimentacao_view_manifestos", "alimentacao_parcela_ciot"))
    assert(jobs.head.label == "Custom" && jobs.head.tooltip == "tip")
    intercept[IllegalArgumentException](
      Jobs.fromConfig("""{"nope": {}}""", "/tmp", "/tmp"))
    intercept[IllegalArgumentException](
      Jobs.fromConfig("not json at all {", "/tmp", "/tmp"))
  }
}
