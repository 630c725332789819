package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipelines.{Jobs, ParcelaCiot}
import graft.pipelines.Orchestrator.{PipelineRunner, Succeeded}
import graft.sources.CommitLog

/** One timed operation: an orchestrator job or a commit-log verb call. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** One post-pass correctness check. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Where a run reads its source tables (`full`, read-only: the fixed
  * dataset under `perfbench/data`) and keeps its outputs (`root`). */
final case class RunDirs(root: Path, full: String) {
  def out(name: String): String = root.resolve(name).toString
}

/** A closed-loop workload with one client: passes run back to back. */
trait Workload {
  /** Benchmark-side fixtures and expected fingerprints (untimed). */
  def init(spark: SparkSession): Unit
  /** Program-side set-up into fresh directories (timed as set-up). */
  def prepare(spark: SparkSession, rep: Int): Unit
  /** Untimed reset before pass `p`. */
  def reset(spark: SparkSession, p: Int): Unit
  /** The timed pass. */
  def pass(spark: SparkSession, p: Int): Seq[Op]
  /** Untimed checks after pass `p`. */
  def verify(spark: SparkSession, p: Int): Seq[Check]
  /** Untimed layer gauges read after a traced pass. */
  def gauges(spark: SparkSession): Map[String, Double] = Map.empty

  /** Untimed passes before the measured ones: the first passes of a JVM
    * run measurably slower while the JIT compiles the hot paths. */
  def warmupPasses: Int = 1

  /** Passes that repeat the workload's periodic work once: a run
    * measures a whole number of periods. */
  def passPeriod: Int = 1

  /** A measured pass's usual wall time, in seconds, on 2 task slots of a
    * 4-core VM: a run measures `--seconds` of them. */
  def nominalPassS: Double

  /** Seconds spent in each named phase of [[init]]. */
  val initPhases = mutable.LinkedHashMap.empty[String, Double]
  protected def phase[T](name: String)(body: => T): T = {
    val (r, s) = Workload.timed(body)
    initPhases(name) = s
    r
  }
}

object Workload {
  def apply(name: String, dirs: RunDirs, seed: Long, tracer: Tracer)
      : Workload = name match {
    case "etl_full_load" => new EtlLoad(dirs, seed, tracer, rerun = false)
    case "etl_incremental_rerun" => new EtlLoad(dirs, seed, tracer, rerun = true)
    case "commitlog_cdc_upsert" => new CdcUpsert(dirs, seed, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def check(name: String, got: Fingerprint, want: Fingerprint): Check =
    Check(name, got == want, s"got $got, want $want")
}

/** The five standard pipelines through `runDag`.
  *
  * Set-up, untimed: a reference full load of the source. Its
  * sinks' fingerprints are the expected ones, and it warms the JIT.
  *
  * `rerun = false` (etl_full_load): every pass loads into an empty
  * output directory, the nightly first run.
  *
  * `rerun = true` (etl_incremental_rerun): every pass loads into a
  * target that already holds the day-1 load, the load of the source
  * without a seeded ~5% of its orders and their lineitems. The held-back
  * orders predate the manifest fence, so they change no other parcel:
  * the day-1 target is the reference load without the held-back orders'
  * parcels. The idempotent insert then probes the whole incoming set and
  * appends only the delta. Either way every sink must end equal to the
  * full load. */
final class EtlLoad(dirs: RunDirs, seed: Long, tracer: Tracer,
    rerun: Boolean) extends Workload {

  def nominalPassS: Double = 6.5

  private val sinks = Seq("view_manifestos", "view_movimento",
    "view_manifestomovimento", "view_adicionais", "parcela_ciot")
  private val out = dirs.out("target")
  private val reference = dirs.out("reference_load")
  private val day1Load = dirs.out("day1_load")
  private var expected = Map.empty[String, Fingerprint]
  private var day1ParcelaRows = 0L
  private var lastInsertedRows = 0L
  private var runner: PipelineRunner = _

  def init(spark: SparkSession): Unit = {
    runner = new PipelineRunner(spark)
    require(phase("reference_load")(runAll(spark, dirs.full, reference))
      .forall(_.ok), "reference full load failed")
    expected = phase("expected")(fingerprints(spark, reference))
    if (rerun) phase("day1_target") {
      sinks.filter(_ != "parcela_ciot").foreach(n =>
        Dirs.copy(Path.of(reference, n), Path.of(day1Load, n)))
      val held = heldBack(spark)
      spark.read.parquet(s"$reference/parcela_ciot")
        .withColumn("__order",
          substring_index(col("cd_parcela"), "-", 1).cast("long"))
        .join(held, col("__order") === col("o_orderkey"), "left_anti")
        .drop("__order")
        .write.parquet(s"$day1Load/parcela_ciot")
      day1ParcelaRows = spark.read.parquet(s"$day1Load/parcela_ciot").count()
    }
  }

  /** A seeded ~5% of all orders, drawn from those dated before the
    * manifest fence: orders dated before it never qualify as a "latest
    * manifest", so holding some back leaves every other parcel as the
    * full load writes it. */
  private def heldBack(spark: SparkSession): DataFrame =
    spark.read.parquet(s"${dirs.full}/orders.parquet")
      .filter(col("o_orderdate") <
        lit(ParcelaCiot.manifestFence).cast("timestamp"))
      .filter(pmod(xxhash64(lit(seed), col("o_orderkey")), lit(100)) < 11)
      .select("o_orderkey")

  /** Run the five jobs through `runDag`, one op per job; a job the DAG
    * never started (its dependency failed) is a failed op. */
  private def runAll(spark: SparkSession, srcDir: String, outDir: String)
      : Seq[Op] = {
    val seconds = mutable.Map.empty[String, Double]
    val js = Jobs.standardJobs(srcDir, outDir).map { j =>
      j.copy(run = (s: SparkSession) => tracer(s"job.${j.name}") {
        val t0 = System.nanoTime()
        try j.run(s) finally seconds(j.name) = (System.nanoTime() - t0) / 1e9
      })
    }
    val results = tracer("orchestrator.run_dag") {
      runner.runDag(js, Jobs.standardDeps)
    }
    val status = results.map(r => r.job.name -> r.status).toMap
    results.filter(_.status != Succeeded).foreach(r =>
      System.err.println(s"[perfbench] job ${r.job.name} failed: ${r.status}"))
    js.map(j => Op(j.name, seconds.getOrElse(j.name, 0.0),
      status.get(j.name).contains(Succeeded)))
  }

  def prepare(spark: SparkSession, rep: Int): Unit =
    runner = new PipelineRunner(spark)

  def reset(spark: SparkSession, p: Int): Unit = {
    Dirs.delete(Path.of(out))
    if (rerun) Dirs.copy(Path.of(day1Load), Path.of(out))
  }

  def pass(spark: SparkSession, p: Int): Seq[Op] =
    runAll(spark, dirs.full, out)

  private def fingerprints(spark: SparkSession, dir: String) =
    Fingerprint.ofAll(sinks.map { n =>
      val df = spark.read.parquet(s"$dir/$n")
      (n, df, df.columns.toSeq.sorted)
    })

  def verify(spark: SparkSession, p: Int): Seq[Check] = {
    val got = fingerprints(spark, out)
    lastInsertedRows =
      got("parcela_ciot").rows - (if (rerun) day1ParcelaRows else 0L)
    sinks.map(n => Workload.check(n, got(n), expected(n)))
  }

  /** Rows the idempotent insert appended over rows it was offered
    * (the deduplicated incoming set, which is the whole final sink). */
  override def gauges(spark: SparkSession): Map[String, Double] = Map(
    "idempotent_insert.useful_frac" ->
      lastInsertedRows.toDouble / expected("parcela_ciot").rows)
}

/** Change-data capture over one commit-log table and its replica. Each
  * pass applies a seeded change batch to the source (a keyed merge with
  * updates and inserts, a predicate delete, a small append), reads a
  * snapshot aggregate, then replays the source's change feed since the
  * replica's last version onto the replica with one multi-clause merge.
  * Every second pass compacts both tables. An in-memory model of the
  * source yields the expected fingerprint after every pass. */
final class CdcUpsert(dirs: RunDirs, seed: Long, tracer: Tracer)
    extends Workload {

  private var updatesPerPass = 0
  private var insertsPerPass = 0
  private val compactEvery = 2
  override def passPeriod: Int = compactEvery
  def nominalPassS: Double = 8.0
  private val replicaTxn = "perfbench-replica"

  private var src = ""
  private var replica = ""
  private var replicaAt = 0L
  private var nCustomers = 0L
  private var schema: org.apache.spark.sql.types.StructType = _

  // the model: live rows by key, plus a dense key list for sampling
  private val model = mutable.HashMap.empty[Long, Row]
  private val liveKeys = mutable.ArrayBuffer.empty[Long]
  private val keyIndex = mutable.HashMap.empty[Long, Int]
  private var nextKey = 0L
  private var expectedFp = Fingerprint.empty
  private val removed = mutable.ArrayBuffer.empty[Row]
  private val added = mutable.ArrayBuffer.empty[Row]
  private var lastRead = Map.empty[String, (Long, BigDecimal)]

  def init(spark: SparkSession): Unit = {
    val orders = spark.read.parquet(s"${dirs.full}/orders.parquet")
    schema = orders.schema
    phase("model")(orders.collect().foreach(put))
    nextKey = model.keys.max + 1
    nCustomers = model.values.map(_.getLong(1)).max + 1
    // per pass: 5% of the orders updated, 1% inserted by the merge and
    // 1% appended
    updatesPerPass = model.size / 20
    insertsPerPass = model.size / 100
    expectedFp = phase("expected")(Fingerprint.of(orders, schema.fieldNames.toSeq))
  }

  private def put(r: Row): Unit = {
    val k = r.getLong(0)
    if (!model.contains(k)) { keyIndex(k) = liveKeys.size; liveKeys += k }
    model(k) = r
  }

  private def remove(k: Long): Unit = {
    model.remove(k)
    val i = keyIndex.remove(k).get
    val last = liveKeys.remove(liveKeys.size - 1)
    if (last != k) { liveKeys(i) = last; keyIndex(last) = i }
  }

  def prepare(spark: SparkSession, rep: Int): Unit = {
    val root = dirs.root.resolve(s"commitlog_$rep")
    Dirs.delete(root)
    src = root.resolve("orders").toString
    replica = root.resolve("orders_replica").toString
    replicaAt = CommitLog.append(spark, src,
      spark.read.parquet(s"${dirs.full}/orders.parquet"))
    CommitLog.append(spark, replica, CommitLog.read(spark, src))
  }

  private def freshRow(rnd: java.util.Random): Row = {
    val k = nextKey
    nextKey += 1
    Row(k, (rnd.nextDouble() * nCustomers).toLong,
      Seq("O", "F", "P")(rnd.nextInt(3)),
      math.round(100000.0 + rnd.nextDouble() * 40000000.0) / 100.0,
      // o_orderdate is a TIMESTAMP_NTZ column: its external type is
      // LocalDateTime
      java.time.LocalDate.of(1995, 1, 1).plusDays(rnd.nextInt(2404))
        .atStartOfDay(),
      Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")(rnd.nextInt(5)))
  }

  private def frame(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  // the pass's change batch, drawn (and applied to the model) before the
  // pass starts, so the timed window holds only commit-log calls
  private var mergeBatch: DataFrame = _
  private var appendBatch: DataFrame = _
  private var deleteFrom = 0L

  /** Draw pass `p`'s seeded change batch and apply it to the model. */
  def reset(spark: SparkSession, p: Int): Unit = {
    val rnd = new java.util.Random(seed * 1000003L + p)
    removed.clear(); added.clear()
    // keyed merge: updates of live keys plus inserts of fresh keys
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(updatesPerPass, liveKeys.size))
      picked += liveKeys(rnd.nextInt(liveKeys.size))
    val updates = picked.toSeq.map { k =>
      val o = model(k)
      Row(k, o.getLong(1), Seq("O", "F", "P")(rnd.nextInt(3)),
        math.round(100000.0 + rnd.nextDouble() * 40000000.0) / 100.0,
        o.get(4), o.getString(5))
    }
    val inserts = Seq.fill(insertsPerPass)(freshRow(rnd))
    mergeBatch = frame(spark, updates ++ inserts)
    updates.foreach { u =>
      removed += model(u.getLong(0)); added += u; put(u)
    }
    inserts.foreach { r => added += r; put(r) }
    // predicate delete: every order of three adjacent customers
    deleteFrom = (rnd.nextDouble() * (nCustomers - 2)).toLong
    model.values
      .filter(r => r.getLong(1) >= deleteFrom && r.getLong(1) <= deleteFrom + 2)
      .toSeq.foreach { r => removed += r; remove(r.getLong(0)) }
    // small append of fresh keys
    val appended = Seq.fill(insertsPerPass)(freshRow(rnd))
    appendBatch = frame(spark, appended)
    appended.foreach { r => added += r; put(r) }
  }

  private def op[T](spark: SparkSession, verb: String, ops: mutable.Buffer[Op])
      (body: => T): T = {
    spark.sparkContext.setJobGroup(s"perfbench-verb-$verb", verb)
    val t0 = System.nanoTime()
    var ok = false
    try {
      val r = tracer(s"commitlog.$verb")(body)
      ok = true
      r
    } finally {
      ops += Op(verb, (System.nanoTime() - t0) / 1e9, ok)
      spark.sparkContext.clearJobGroup()
    }
  }

  def pass(spark: SparkSession, p: Int): Seq[Op] = {
    val ops = mutable.Buffer.empty[Op]
    op(spark, "merge_into", ops) {
      CommitLog.mergeInto(spark, src, mergeBatch, Seq("o_orderkey"),
        whenMatchedUpdate = Map(
          "o_orderstatus" -> CommitLog.src("o_orderstatus"),
          "o_totalprice" -> CommitLog.src("o_totalprice")))
    }
    op(spark, "delete", ops) {
      CommitLog.delete(spark, src,
        col("o_custkey").between(deleteFrom, deleteFrom + 2))
    }
    op(spark, "append", ops)(CommitLog.append(spark, src, appendBatch))

    // 4. snapshot read: rows and revenue by status
    lastRead = op(spark, "read", ops) {
      val snap = tracer("commitlog.snapshot")(CommitLog.snapshot(spark, src))
      CommitLog.read(spark, src, snap.map(_.version))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(30,2)")))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
        .toMap
    }

    // 5. replicate: the change feed since the replica's last version,
    // reduced to each key's last change, applied in one merge
    val (net, upTo) = op(spark, "change_feed", ops) {
      val upTo = CommitLog.currentVersion(spark, src).get
      val w = Window.partitionBy(col("o_orderkey"))
        .orderBy(col("_commit_version").desc)
      CommitLog.changeFeed(spark, src, replicaAt, toVersion = Some(upTo))
        .filter(col("_change_type") =!= "update_preimage")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "_commit_version")
        .localCheckpoint(true) -> upTo
    }
    op(spark, "merge_into_clauses", ops) {
      val isDelete = CommitLog.src("_change_type") === "delete"
      CommitLog.mergeIntoClauses(spark, replica, net, Seq("o_orderkey"),
        matched = Seq(
          CommitLog.MergeDelete(Some(isDelete)),
          CommitLog.MergeUpdate(schema.fieldNames.toSeq.tail
            .map(c => c -> CommitLog.src(c)).toMap)),
        notMatchedInsertCondition = Some(col("_change_type") =!= "delete"),
        txn = Some(replicaTxn -> upTo))
    }
    replicaAt = upTo
    net.unpersist()

    // 6. periodic compaction of both tables
    if (p % compactEvery == 0)
      Seq(src, replica).foreach { t =>
        op(spark, "compact", ops)(CommitLog.compact(spark, t, 10000000L))
      }
    ops.toSeq
  }

  def verify(spark: SparkSession, p: Int): Seq[Check] = {
    val cols = schema.fieldNames.toSeq
    val fp = Fingerprint.ofAll(Seq(
      ("source", CommitLog.read(spark, src), cols),
      ("replica", CommitLog.read(spark, replica), cols),
      ("removed", frame(spark, removed.toSeq), cols),
      ("added", frame(spark, added.toSeq), cols)))
    expectedFp = expectedFp - fp("removed") + fp("added")
    val wantRead = model.values.groupBy(_.getString(2)).map { case (s, rs) =>
      s -> (rs.size.toLong, rs.map(r => BigDecimal(r.getDouble(3))).sum)
    }
    Seq(
      Workload.check("source", fp("source"), expectedFp),
      Workload.check("replica", fp("replica"), expectedFp),
      Check("read", lastRead == wantRead, s"got $lastRead, want $wantRead"))
  }

  override def gauges(spark: SparkSession): Map[String, Double] = {
    val snap = CommitLog.snapshot(spark, src).get
    def local(s: String) = Path.of(s.stripPrefix("file:"))
    val live = snap.segments.map(s => Dirs.bytes(local(s))).sum
    Map(
      "commitlog.versions" -> snap.version.toDouble,
      "commitlog.segments_live" -> snap.segments.size.toDouble,
      "commitlog.bytes_per_live_byte" ->
        Dirs.bytes(Path.of(src)).toDouble / math.max(1L, live))
  }
}
