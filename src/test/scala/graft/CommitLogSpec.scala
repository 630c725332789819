package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CommitLog

/** The versioned-manifest commit protocol: write-write safety under
  * interleaved writers (the lost-update law), snapshot isolation for
  * readers mid-race, time travel, and the compaction/vacuum lifecycle.
  * This is the concurrency story the plain rename-swap sinks
  * (mergeIntoParquet / Formats.compact) do not have. */
class CommitLogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_commitlog_")
      .resolve("tbl").toString

  private def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go)); f.delete(): Unit
    }
    go(new java.io.File(path).getParentFile)
  }

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "v")
  }


  /** Retention-check override for the retain-1 lifecycle tests —
    * each proves post-vacuum state, so no concurrent reader exists
    * by construction (the guard itself is pinned in its own test). */
  private def withRetentionCheckOff[A](body: => A): A = {
    spark.conf.set("spark.graft.vacuum.retentionCheck", "false")
    try body
    finally spark.conf.unset("spark.graft.vacuum.retentionCheck")
  }

  private def sortedRows(d: DataFrame): Seq[(Long, String, Double)] =
    d.select(col("id"), col("name"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq.sorted

  test("DSv2 connector: format(\"commitlog\") reads the snapshot, " +
      "time-travels, pins versions against concurrent commits, and " +
      "pushes filters into the parquet scan") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.append(spark, t, df((3L, "c", 3.0)))
      def byFormat(opts: (String, String)*): DataFrame =
        opts.foldLeft(spark.read.format("commitlog")
          .option("path", t))((r, kv) => r.option(kv._1, kv._2)).load()
      // current snapshot == CommitLog.read
      assert(sortedRows(byFormat()) ==
        sortedRows(CommitLog.read(spark, t)))
      // time travel by option
      assert(sortedRows(byFormat("versionAsOf" -> "1")) ==
        Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      // version pinning: a DataFrame planned BEFORE a commit keeps its
      // snapshot (the segments were resolved at table construction)
      val pinned = byFormat()
      CommitLog.append(spark, t, df((4L, "d", 4.0)))
      assert(sortedRows(pinned).map(_._1) == Seq(1L, 2L, 3L))
      assert(sortedRows(byFormat()).map(_._1) == Seq(1L, 2L, 3L, 4L))
      // stock parquet pushdown through the connector: the v2 scan
      // carries the id predicate
      val filtered = byFormat().filter(col("id") === 3L)
      val scan = filtered.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec => b
      }
      assert(scan.nonEmpty, "no v2 BatchScan in the plan")
      assert(scan.get.scan.description.contains("id"),
        s"no pushed filter on id: ${scan.get.scan.description}")
      assert(filtered.collect().map(_.getLong(0)).toSeq == Seq(3L))
      // unknown version → loud error naming the ask
      val e = intercept[IllegalStateException](
        byFormat("versionAsOf" -> "99").collect())
      assert(e.getMessage.contains("versionAsOf=99"))
    } finally rm(t)
  }

  test("change feed: per-version append deltas, compact skipped, " +
      "merge refused unless opted in, vacuumed gap loud") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      CommitLog.append(spark, t, df((2L, "b", 2.0), (3L, "c", 3.0)))
      val feed = CommitLog.changes(spark, t, afterVersion = 0L)
      assert(feed.map(_._1) == Seq(1L, 2L))
      assert(sortedRows(feed(0)._2) == Seq((1L, "a", 1.0)))
      assert(sortedRows(feed(1)._2) ==
        Seq((2L, "b", 2.0), (3L, "c", 3.0)))
      // from a mid watermark: only the tail
      assert(CommitLog.changes(spark, t, 1L).map(_._1) == Seq(2L))
      // compact is content-preserving → transparently skipped, and a
      // post-compact append still yields exactly its own rows
      CommitLog.compact(spark, t, targetRowsPerFile = 10)
      CommitLog.append(spark, t, df((4L, "d", 4.0)))
      val tail = CommitLog.changes(spark, t, 2L)
      assert(tail.map(_._1) == Seq(4L))
      assert(sortedRows(tail.head._2) == Seq((4L, "d", 4.0)))
      // a txn-stamped streaming append is an append for the feed —
      // its delta flows, it does not raise as an unknown rewrite
      CommitLog.appendTxn(spark, t, df((40L, "s", 40.0)),
        appId = "feedapp", batchId = 1L)
      val sTail = CommitLog.changes(spark, t, 4L)
      assert(sTail.map(_._1) == Seq(5L) &&
        sortedRows(sTail.head._2) == Seq((40L, "s", 40.0)))
      // merge rewrites row state → refused by default, skippable
      CommitLog.merge(spark, t, df((1L, "a2", 9.0)), Seq("id"))
      val e = intercept[IllegalStateException](
        CommitLog.changes(spark, t, 5L))
      assert(e.getMessage.contains("merge"))
      assert(CommitLog.changes(spark, t, 5L, skipRewrites = true).isEmpty)
      // vacuumed history below the watermark → loud, never silent skip
      CommitLog.append(spark, t, df((5L, "e", 5.0)))
      withRetentionCheckOff {
        CommitLog.vacuum(spark, t, retainVersions = 1) }
      val g = intercept[IllegalStateException](
        CommitLog.changes(spark, t, 1L))
      assert(g.getMessage.contains("vacuumed"))
    } finally rm(t)
  }

  test("consumeChanges: checkpointed at-least-once consumption, " +
      "re-run is a no-op, crash before watermark re-delivers") {
    val t = tmpTable()
    try {
      val cp = s"$t.checkpoint"
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      CommitLog.append(spark, t, df((2L, "b", 2.0)))
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      def run(): Int = CommitLog.consumeChanges(spark, t, cp) {
        (v, d) => seen += ((v, d.count())): Unit
      }
      assert(run() == 2 && seen.toSeq == Seq((1L, 1L), (2L, 1L)))
      assert(run() == 0) // watermark holds
      CommitLog.append(spark, t, df((3L, "c", 3.0)))
      assert(run() == 1 && seen.last == ((3L, 1L)))
      // crash between handler and watermark: rewind the watermark by
      // hand → the version is re-delivered (at-least-once contract)
      val f = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val out = f.create(new org.apache.hadoop.fs.Path(cp), true)
      try out.write("2".getBytes("UTF-8")) finally out.close()
      assert(run() == 1 && seen.last == ((3L, 1L)))
    } finally rm(t)
  }

  test("append commits monotonic versions; read is the union") {
    val t = tmpTable()
    try {
      val v1 = CommitLog.append(spark, t, df((1L, "a", 1.0)))
      val v2 = CommitLog.append(spark, t, df((2L, "b", 2.0)))
      assert((v1, v2) === (1L, 2L))
      assert(CommitLog.versions(spark, t) === Seq(1L, 2L))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      // the append manifest carries BOTH segments
      assert(CommitLog.snapshot(spark, t).get.segments.length === 2)
    } finally rm(t)
  }

  test("merge: replace-on-key + insert counts match the upsert contract") {
    val t = tmpTable()
    try {
      val (v1, i1, r1) = CommitLog.merge(spark, t,
        df((1L, "a", 1.0), (2L, "b", 2.0)), keys = Seq("id"))
      assert((v1, i1, r1) === (1L, 2L, 0L))
      val (v2, i2, r2) = CommitLog.merge(spark, t,
        df((2L, "B", 20.0), (3L, "c", 3.0)), keys = Seq("id"))
      assert((v2, i2, r2) === (2L, 1L, 1L))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0)))
    } finally rm(t)
  }

  test("lost-update law: the version race has exactly one winner and the loser's retry keeps both writers' rows") {
    val t = tmpTable()
    try {
      CommitLog.merge(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)),
        keys = Seq("id"))
      // deterministic interleave of the publish primitive: A and B
      // both observe version 1, both stage their segment, both try to
      // commit version 2
      val base = CommitLog.snapshot(spark, t).get
      val segA = CommitLog.writeSegment(spark, t, df((1L, "A", 10.0)))
      val segB = CommitLog.writeSegment(spark, t, df((2L, "BB", 22.0)))
      val okA = CommitLog.tryPublish(spark, t,
        CommitLog.Snapshot(base.version + 1, Seq(segA), base.version,
          "merge"))
      val okB = CommitLog.tryPublish(spark, t,
        CommitLog.Snapshot(base.version + 1, Seq(segB), base.version,
          "merge"))
      assert(okA === true)
      assert(okB === false) // the filesystem arbitrated: B must rebase
      // B's real path: the public merge loop re-reads the winner's
      // state and recomputes — afterwards BOTH updates are present
      // (the plain rename-swap sink would have silently kept only B's)
      val (v3, _, _) = CommitLog.merge(spark, t, df((2L, "BB", 22.0)),
        keys = Seq("id"))
      assert(v3 === 3L)
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "A", 10.0), (2L, "BB", 22.0)))
    } finally rm(t)
  }

  test("two genuinely concurrent merge writers both commit (no lost update)") {
    val t = tmpTable()
    try {
      CommitLog.merge(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)),
        keys = Seq("id"))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      def writer(rows: DataFrame) = scala.concurrent.Future {
        gate.await(); CommitLog.merge(spark, t, rows, keys = Seq("id"))
      }
      val fa = writer(df((1L, "A", 10.0)))
      val fb = writer(df((3L, "c", 3.0)))
      gate.countDown()
      scala.concurrent.Await.result(fa,
        scala.concurrent.duration.Duration("120s"))
      scala.concurrent.Await.result(fb,
        scala.concurrent.duration.Duration("120s"))
      pool.shutdown()
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "A", 10.0), (2L, "b", 2.0), (3L, "c", 3.0)))
      assert(CommitLog.currentVersion(spark, t) === Some(3L))
    } finally rm(t)
  }

  test("OPTIMIZE racing a concurrent vectored delete never resurrects " +
      "deleted rows: whichever writer loses the version race rebases " +
      "onto the winner's state (compact reads live, delete re-keys)") {
    val t = tmpTable()
    try {
      CommitLog.merge(spark, t,
        df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
          (4L, "d", 4.0)), keys = Seq("id"))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fCompact = scala.concurrent.Future {
        gate.await()
        graft.sources.CommitLogStats.compactClustered(spark, t,
          Seq("id"), 2, Seq("id"))
      }
      val fDelete = scala.concurrent.Future {
        gate.await()
        CommitLog.deleteVectored(spark, t, col("id") === 2L)
      }
      gate.countDown()
      scala.concurrent.Await.result(fCompact,
        scala.concurrent.duration.Duration("120s")): Unit
      scala.concurrent.Await.result(fDelete,
        scala.concurrent.duration.Duration("120s")): Unit
      pool.shutdown()
      // invariant across EITHER arbitration order: the deleted row is
      // gone, every other row survives byte-identical
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (3L, "c", 3.0), (4L, "d", 4.0)))
      // both writers committed (no silent no-op), versions serialized
      assert(CommitLog.currentVersion(spark, t) === Some(3L))
      val ops = CommitLog.snapshotsAsc(spark, t).map(_.op)
      assert(ops.count(_ == "compact") === 1 &&
        ops.count(o => o == "delete_dv" || o == "delete") === 1,
        s"ops: $ops")
    } finally rm(t)
  }

  test("snapshot isolation: a reader resolved before a commit keeps seeing its version") {
    val t = tmpTable()
    try {
      CommitLog.merge(spark, t, df((1L, "a", 1.0)), keys = Seq("id"))
      val reader = CommitLog.read(spark, t) // resolves v1's segments
      CommitLog.merge(spark, t, df((1L, "A", 10.0)), keys = Seq("id"))
      // collect AFTER the overwrite committed: segments are immutable,
      // so the old plan still returns the old content (the rename-swap
      // sink deletes the directory out from under such a reader)
      assert(sortedRows(reader) === Seq((1L, "a", 1.0)))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "A", 10.0)))
    } finally rm(t)
  }

  test("time travel: version N-1 read hash-matches the pre-commit state") {
    val t = tmpTable()
    try {
      CommitLog.merge(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)),
        keys = Seq("id"))
      val before = sortedRows(CommitLog.read(spark, t))
      CommitLog.merge(spark, t, df((2L, "B", 20.0), (3L, "c", 3.0)),
        keys = Seq("id"))
      assert(sortedRows(CommitLog.read(spark, t, asOfVersion = Some(1L)))
        === before)
      val snap = CommitLog.snapshot(spark, t, Some(2L)).get
      assert(snap.baseVersion === 1L && snap.op === "merge")
    } finally rm(t)
  }

  test("compact: content preserved, file count bounded, prior version intact") {
    val t = tmpTable()
    try {
      // 6 single-row appends → >= 6 little segments
      (1 to 6).foreach(i =>
        CommitLog.append(spark, t, df((i.toLong, s"n$i", i.toDouble))))
      val before = sortedRows(CommitLog.read(spark, t))
      val v = CommitLog.compact(spark, t, targetRowsPerFile = 6L)
      assert(v === 7L)
      assert(CommitLog.snapshot(spark, t).get.segments.length === 1)
      assert(sortedRows(CommitLog.read(spark, t)) === before)
      // old version still readable (segments immutable)
      assert(sortedRows(CommitLog.read(spark, t, Some(6L))) === before)
      val segFiles = new java.io.File(
        CommitLog.snapshot(spark, t).get.segments.head)
        .listFiles.count(_.getName.endsWith(".parquet"))
      assert(segFiles === 1)
    } finally rm(t)
  }

  test("vacuum: unreferenced segments and old manifests removed, current read intact") {
    val t = tmpTable()
    try {
      CommitLog.merge(spark, t, df((1L, "a", 1.0)), keys = Seq("id"))
      CommitLog.merge(spark, t, df((1L, "b", 2.0)), keys = Seq("id"))
      CommitLog.merge(spark, t, df((1L, "c", 3.0)), keys = Seq("id"))
      val cur = sortedRows(CommitLog.read(spark, t))
      withRetentionCheckOff {
        CommitLog.vacuum(spark, t, retainVersions = 1) }
      assert(CommitLog.versions(spark, t) === Seq(3L))
      assert(sortedRows(CommitLog.read(spark, t)) === cur)
      // the dropped versions' segments are physically gone
      val dataDirs = new java.io.File(s"$t/data").listFiles.length
      assert(dataDirs === 1)
      intercept[IllegalStateException] {
        CommitLog.read(spark, t, asOfVersion = Some(1L)).collect()
      }
    } finally rm(t)
  }

  test("crashed writer leaves no visible effect: uncommitted segment is invisible and vacuumable") {
    val t = tmpTable()
    try {
      CommitLog.merge(spark, t, df((1L, "a", 1.0)), keys = Seq("id"))
      // simulate a writer that staged data then died before publish
      CommitLog.writeSegment(spark, t, df((9L, "ghost", 9.0)))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0)))
      withRetentionCheckOff {
        CommitLog.vacuum(spark, t, retainVersions = 1) }
      assert(new java.io.File(s"$t/data").listFiles.length === 1)
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0)))
    } finally rm(t)
  }

  // ---- exactly-once streaming appends (txn stamps) ---------------------

  test("appendTxn: a replayed micro-batch is recognized and skipped") {
    val t = tmpTable()
    try {
      assert(CommitLog.appendTxn(spark, t, df((1L, "a", 1.0)),
        appId = "q", batchId = 0L) === Some(1L))
      // crash-replay of batch 0: skipped, no new version, content same
      assert(CommitLog.appendTxn(spark, t, df((1L, "a", 1.0)),
        appId = "q", batchId = 0L) === None)
      assert(CommitLog.versions(spark, t) === Seq(1L))
      assert(sortedRows(CommitLog.read(spark, t)) === Seq((1L, "a", 1.0)))
      // the next batch commits normally
      assert(CommitLog.appendTxn(spark, t, df((2L, "b", 2.0)),
        appId = "q", batchId = 1L) === Some(2L))
      assert(CommitLog.lastTxn(spark, t, "q") === Some(1L))
    } finally rm(t)
  }

  test("appendTxn: replay dedup survives an interleaved foreign writer; other apps are independent") {
    val t = tmpTable()
    try {
      CommitLog.appendTxn(spark, t, df((1L, "a", 1.0)), "q", 0L)
      // a batch writer commits between the original run and the replay
      CommitLog.append(spark, t, df((5L, "x", 5.0)))
      assert(CommitLog.appendTxn(spark, t, df((1L, "a", 1.0)),
        "q", 0L) === None) // still recognized across the foreign commit
      // a DIFFERENT app's batch 0 is not confused with q's
      assert(CommitLog.appendTxn(spark, t, df((7L, "y", 7.0)),
        "other", 0L).isDefined)
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (5L, "x", 5.0), (7L, "y", 7.0)))
    } finally rm(t)
  }

  test("commitLogSink: end-to-end stream lands exactly-once; replayed last batch is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = tmpTable()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_clsink_ckpt_").toString
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[Long](100, spark, None)
      val q = graft.streaming.Streaming.commitLogSink(
          mem.toDF().withColumnRenamed("value", "id"), t, appId = "sinkq")
        .option("checkpointLocation", ckpt).start()
      try {
        mem.addData(1L, 2L, 3L); q.processAllAvailable()
        mem.addData(4L, 5L); q.processAllAvailable()
      } finally q.stop()
      val got = CommitLog.read(spark, t).select(col("id"))
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(got === Seq(1L, 2L, 3L, 4L, 5L))
      // simulate the restart-replay of the LAST batch (Structured
      // Streaming re-runs it when the sink didn't record completion):
      val lastBatch = CommitLog.lastTxn(spark, t, "sinkq").get
      val before = CommitLog.currentVersion(spark, t)
      assert(CommitLog.appendTxn(spark, t, df((4L, "dup", 4.0)),
        "sinkq", lastBatch) === None)
      assert(CommitLog.currentVersion(spark, t) === before)
    } finally { rm(t); rm(ckpt + "/x") }
  }

  test("delete: copy-on-write — only touched segments rewritten, SQL " +
      "NULL-keeps semantics, no-op commits nothing, prior version intact") {
    val t = tmpTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.append(spark, t, df((3L, "c", 3.0), (4L, "d", 4.0)))
      val segsBefore = CommitLog.snapshot(spark, t).get.segments
      // NULL predicate keeps the row: name null on id=2
      val t2 = tmpTable()
      try {
        CommitLog.append(spark, t2, Seq((1L, Some("x")), (2L, None))
          .toDF("id", "name"))
        val (_, n) = CommitLog.delete(spark, t2,
          col("name") =!= "x") // NULL for id=2 → kept
        assert(n === 0L)
        assert(CommitLog.read(spark, t2).count() === 2L)
      } finally rm(t2)
      // delete touches only segment 2's rows
      val (v, n) = CommitLog.delete(spark, t, col("id") === 3L)
      assert((v, n) === (3L, 1L))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0), (4L, "d", 4.0)))
      // untouched segment 1 survives by IDENTITY (same path in the
      // new manifest), not by rewrite
      val segsAfter = CommitLog.snapshot(spark, t).get.segments
      assert(segsAfter.contains(segsBefore.head))
      assert(!segsAfter.contains(segsBefore(1)))
      // time travel: pre-delete state intact
      assert(sortedRows(CommitLog.read(spark, t, Some(2L))).map(_._1) ===
        Seq(1L, 2L, 3L, 4L))
      // no-op delete: no new version
      val (v2, n2) = CommitLog.delete(spark, t, col("id") === 99L)
      assert((v2, n2) === (3L, 0L))
      assert(CommitLog.currentVersion(spark, t) === Some(3L))
      // deleting every row of a segment drops it without an empty
      // replacement segment
      val (v3, n3) = CommitLog.delete(spark, t, col("id") <= 2L)
      assert((v3, n3) === (4L, 2L))
      assert(sortedRows(CommitLog.read(spark, t)) === Seq((4L, "d", 4.0)))
    } finally rm(t)
  }

  test("update: matched rows rewritten with type-preserving SET, " +
      "unknown column loud, unmatched rows and segments untouched") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.append(spark, t, df((3L, "c", 3.0)))
      val segsBefore = CommitLog.snapshot(spark, t).get.segments
      val schemaBefore = CommitLog.read(spark, t).schema
      // v*10 promotes through IntegerType arithmetic; the cast-back
      // keeps the declared DoubleType (schema equality asserted below)
      val (v, n) = CommitLog.update(spark, t, col("id") === 2L,
        Map("name" -> upper(col("name")), "v" -> (col("v") * 10)))
      assert((v, n) === (3L, 1L))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (2L, "B", 20.0), (3L, "c", 3.0)))
      assert(CommitLog.read(spark, t).schema === schemaBefore)
      // only the touched segment was rewritten
      val segsAfter = CommitLog.snapshot(spark, t).get.segments
      assert(segsAfter.contains(segsBefore(1)))
      assert(!segsAfter.contains(segsBefore.head))
      // no-op update commits nothing
      assert(CommitLog.update(spark, t, col("id") === 99L,
        Map("v" -> lit(0.0))) === ((3L, 0L)))
      // unknown SET column fails fast naming it
      val e = intercept[IllegalArgumentException](
        CommitLog.update(spark, t, col("id") === 1L,
          Map("nope" -> lit(1))))
      assert(e.getMessage.contains("nope"))
    } finally rm(t)
  }

  test("changeFeed: insert/delete/update_pre/update_post rows with " +
      "commit versions; DML applies to the prior feed state; compact " +
      "skipped; merge refused unless opted in") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.delete(spark, t, col("id") === 1L)
      CommitLog.update(spark, t, col("id") === 2L,
        Map("v" -> lit(22.0)))
      CommitLog.compact(spark, t, targetRowsPerFile = 10)
      CommitLog.append(spark, t, df((5L, "e", 5.0)))
      val feed = CommitLog.changeFeed(spark, t, afterVersion = 0L)
      val got = feed.select(col("_commit_version"), col("_change_type"),
          col("id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSeq.sorted
      assert(got === Seq(
        (1L, "insert", 1L, 1.0), (1L, "insert", 2L, 2.0),
        (2L, "delete", 1L, 1.0),
        (3L, "update_postimage", 2L, 22.0),
        (3L, "update_preimage", 2L, 2.0),
        (5L, "insert", 5L, 5.0)))
      // replaying the feed reconstructs the final state
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((2L, "b", 22.0), (5L, "e", 5.0)))
      // merge has no change record → loud unless opted in
      CommitLog.merge(spark, t, df((2L, "m", 99.0)), Seq("id"))
      val e = intercept[IllegalStateException](
        CommitLog.changeFeed(spark, t, 5L))
      assert(e.getMessage.contains("merge"))
      CommitLog.append(spark, t, df((7L, "g", 7.0)))
      assert(CommitLog.changeFeed(spark, t, 5L, skipRewrites = true)
        .filter(col("_change_type") === "insert").count() === 1L)
    } finally rm(t)
  }

  test("vacuum removes change records of dropped versions; retained " +
      "DML history still feeds") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.delete(spark, t, col("id") === 1L)   // v2 + changes
      CommitLog.append(spark, t, df((3L, "c", 3.0))) // v3
      CommitLog.update(spark, t, col("id") === 3L,
        Map("v" -> lit(30.0)))                        // v4 + changes
      val chDir = new java.io.File(s"$t/_changes")
      assert(chDir.listFiles.count(_.isDirectory) === 2)
      withRetentionCheckOff {
        CommitLog.vacuum(spark, t, retainVersions = 1) }
      // v2's delete record is unreferenced by the retained floor → gone;
      // v4's update record survives (referenced by the live manifest)
      assert(chDir.listFiles.count(_.isDirectory) === 1)
      assert(CommitLog.snapshot(spark, t).get.changes.nonEmpty)
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((2L, "b", 2.0), (3L, "c", 30.0)))
    } finally rm(t)
  }

  private def ckptDir(): String = java.nio.file.Files
    .createTempDirectory("graft_clstream_ckpt_").toString

  test("streaming source: versions stream exactly once across " +
      "triggers AND restarts; admission paces by version") {
    val t = tmpTable()
    val ckpt = ckptDir()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.append(spark, t, df((3L, "c", 3.0)))
      val batches =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
      def start() = spark.readStream.format("commitlog")
        .option("path", t).option("maxVersionsPerTrigger", "1").load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
            batches += ((id, b.select(col("id")).collect()
              .map(_.getLong(0)).toSeq.sorted)): Unit
        }
        .option("checkpointLocation", ckpt).start()
      val q = start()
      try {
        q.processAllAvailable()
        // pacing: one version per micro-batch, in version order
        assert(batches.map(_._2) === Seq(Seq(1L, 2L), Seq(3L)))
        CommitLog.append(spark, t, df((4L, "d", 4.0)))
        q.processAllAvailable()
        assert(batches.last._2 === Seq(4L))
      } finally q.stop()
      // restart from the checkpoint: ONLY post-restart versions arrive
      batches.clear()
      CommitLog.append(spark, t, df((5L, "e", 5.0)))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      assert(batches.flatMap(_._2) === Seq(5L))
    } finally { rm(t); rm(ckpt + "/x") }
  }

  test("streaming source: Trigger.AvailableNow catches up through " +
      "ALL pending versions under an admission cap (one per batch), " +
      "then terminates; a checkpointed re-run takes only the delta") {
    val t = tmpTable()
    val ckpt = ckptDir()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      CommitLog.append(spark, t, df((2L, "b", 2.0)))
      CommitLog.append(spark, t, df((3L, "c", 3.0)))
      CommitLog.append(spark, t, df((4L, "d", 4.0)))
      val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      def run(): Unit = {
        val q = spark.readStream.format("commitlog")
          .option("path", t).option("maxVersionsPerTrigger", "1").load()
          .writeStream.foreachBatch {
            (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
              batches += b.select(col("id")).collect()
                .map(_.getLong(0)).toSeq.sorted: Unit
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try assert(q.awaitTermination(120000),
          "AvailableNow query must terminate by itself")
        finally q.stop()
      }
      run()
      // the cap paced the run one version per batch — and the run
      // STILL caught up through all four (the generic wrapper would
      // have stopped after the first capped offset)
      assert(batches.toSeq === Seq(Seq(1L), Seq(2L), Seq(3L), Seq(4L)))
      // nightly re-run from the same checkpoint: only the delta
      batches.clear()
      CommitLog.append(spark, t, df((5L, "e", 5.0)))
      CommitLog.append(spark, t, df((6L, "f", 6.0)))
      run()
      assert(batches.toSeq === Seq(Seq(5L), Seq(6L)))
    } finally { rm(t); rm(ckpt + "/x") }
  }

  test("streaming source: maxBytesPerTrigger paces by ADDED data " +
      "bytes — a tiny cap splits the replay one version per batch " +
      "(soft max: oversized commits still advance), a huge cap takes " +
      "everything at once, and the union is hash-equal either way") {
    import spark.implicits._
    val t = tmpTable()
    try {
      // three appends of materially different sizes
      CommitLog.append(spark, t,
        (1L to 2000L).map(i => (i, s"n$i", i * 1.0)).toDF("id", "name", "v"))
      CommitLog.append(spark, t, df((100001L, "x", 1.0)))
      CommitLog.append(spark, t,
        (200001L to 202000L).map(i => (i, s"n$i", i * 1.0))
          .toDF("id", "name", "v"))
      def run(opts: (String, String)*): Seq[Seq[Long]] = {
        val ckpt = ckptDir()
        val batches =
          scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
        val r = spark.readStream.format("commitlog").option("path", t)
        val q = opts.foldLeft(r) { case (x, (k, vv)) => x.option(k, vv) }
          .load()
          .writeStream.foreachBatch {
            (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
              batches += b.select(col("id")).collect()
                .map(_.getLong(0)).toSeq.sorted: Unit
          }
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
        rm(ckpt + "/x")
        batches.toSeq
      }
      // cap of 1 byte: every version exceeds it, soft-max admits one
      // version per batch — the replay still completes
      val tiny = run("maxBytesPerTrigger" -> "1")
      assert(tiny.length === 3,
        s"1-byte cap must pace one version per batch, got $tiny")
      // a huge cap takes all three versions in one batch
      val huge = run("maxBytesPerTrigger" -> s"${Long.MaxValue / 2}")
      assert(huge.length === 1)
      // union law: pacing never changes WHAT is served
      assert(tiny.flatten.sorted === huge.flatten.sorted)
      assert(tiny.flatten.length === 4001)
      // a mid cap (bigger than v2's single row, smaller than the 2000-
      // row segments) groups v2 behind neither large neighbor
      val sizes = CommitLog.snapshot(spark, t).get.segments.map(s =>
        new java.io.File(s).listFiles
          .filter(f => !f.getName.startsWith("_") &&
            !f.getName.startsWith(".")).map(_.length).sum)
      val mid = run("maxBytesPerTrigger" -> (sizes.max + 10L).toString)
      // v1 fills the first batch past the point where v2 would fit
      // only if v1+v2 <= cap — either 2 or 3 batches depending on
      // exact sizes, but never 1, and the union law still holds
      assert(mid.length >= 2 && mid.flatten.sorted === huge.flatten.sorted)
      // composes with maxVersionsPerTrigger (both caps apply)
      val both = run("maxBytesPerTrigger" -> s"${Long.MaxValue / 2}",
        "maxVersionsPerTrigger" -> "1")
      assert(both.length === 3)
    } finally rm(t)
  }

  test("streaming source: readChangeFeed streams DML images; a " +
      "rewrite without a change record fails loud unless skipped") {
    val t = tmpTable()
    val ckpt = ckptDir()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.delete(spark, t, col("id") === 1L)
      CommitLog.update(spark, t, col("id") === 2L,
        Map("v" -> lit(22.0)))
      val rows = scala.collection.mutable
        .ArrayBuffer.empty[(Long, String, Long, Double)]
      val q = spark.readStream.format("commitlog")
        .option("path", t).option("readChangeFeed", "true").load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
            rows ++= b.select(col("_commit_version"),
                col("_change_type"), col("id"), col("v")).collect()
              .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
                r.getDouble(3))): Unit
        }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      assert(rows.sorted.toSeq === Seq(
        (1L, "insert", 1L, 1.0), (1L, "insert", 2L, 2.0),
        (2L, "delete", 1L, 1.0),
        (3L, "update_postimage", 2L, 22.0),
        (3L, "update_preimage", 2L, 2.0)))
      // a rewrite in the history: a data-mode stream (no CDF, no
      // opt-in) dies loud at the FIRST non-derivable version — the
      // v2 delete — naming the op and the remedies
      CommitLog.merge(spark, t, df((9L, "m", 9.0)), Seq("id"))
      val ckpt2 = ckptDir()
      val q2 = spark.readStream.format("commitlog").option("path", t)
        .load().writeStream.foreachBatch {
          (_: org.apache.spark.sql.Dataset[Row], _: Long) => ()
        }
        .option("checkpointLocation", ckpt2).start()
      val e = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] {
        q2.processAllAvailable(); q2.stop()
      }
      val msg = e.getMessage +
        Option(e.getCause).fold("")(_.getMessage)
      assert(msg.contains("delete") && msg.contains("skipRewrites"))
      val ckpt3 = ckptDir()
      var n = 0L
      val q3 = spark.readStream.format("commitlog").option("path", t)
        .option("skipRewrites", "true").load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
            n += b.count(): Unit
        }
        .option("checkpointLocation", ckpt3).start()
      try q3.processAllAvailable() finally q3.stop()
      assert(n === 2L) // the two v1 inserts; DML + merge skipped
    } finally { rm(t); rm(ckpt + "/x") }
  }

  test("DML lost-update law: a delete that loses the version race " +
      "recomputes against the winner's state") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      // steal version 2 between the delete's snapshot read and publish:
      // deterministic interleave via the primitive, as the merge law
      val base = CommitLog.snapshot(spark, t).get
      val seg = CommitLog.writeSegment(spark, t, df((3L, "c", 3.0)))
      assert(CommitLog.tryPublish(spark, t, CommitLog.Snapshot(
        base.version + 1, base.segments :+ seg, base.version, "append")))
      // the delete observes the winner's state (its loop re-reads the
      // snapshot on entry) and removes id=1 without losing id=3
      val (v, n) = CommitLog.delete(spark, t, col("id") === 1L)
      assert((v, n) === (3L, 1L))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((2L, "b", 2.0), (3L, "c", 3.0)))
    } finally rm(t)
  }

  test("CALL system.checkpoint forces a full-state pin at the " +
      "current version; resolution then reads one file") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ckpt_proc_").toString
    try {
      spark.conf.set("spark.sql.catalog.gcp",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gcp.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gcp.ns.t (id BIGINT)")
      (1 to 3).foreach(i =>
        spark.sql(s"INSERT INTO gcp.ns.t VALUES ($i)"))
      // v4 is mid-cadence (interval 10) — no checkpoint yet
      assert(!checkpointFile(path, 4L).exists())
      val v = spark.sql("CALL gcp.system.checkpoint(table => 'ns.t')")
        .head().getLong(0)
      assert(v === 4L && checkpointFile(path, 4L).exists())
      assert(CommitLog.read(spark, path).count() === 3L)
      spark.sql("DROP TABLE gcp.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gcp")
      spark.conf.unset("spark.sql.catalog.gcp.root")
      rm(root + "/x")
    }
  }

  test("vacuum retention check: retain < 2 refuses by default, the " +
      "min-age window refuses dropping fresh versions, and the " +
      "explicit override allows both") {
    val t = tmpTable()
    try {
      (1 to 4).foreach(i =>
        CommitLog.append(spark, t, df((i.toLong, s"r$i", i * 1.0))))
      // dangerously low retention refuses (a reader planned against
      // the previous version may still be running)
      val e = intercept[IllegalArgumentException] {
        CommitLog.vacuum(spark, t, retainVersions = 1)
      }
      assert(e.getMessage.contains("retentionCheck"))
      assert(CommitLog.read(spark, t, Some(3L)).count() === 3L)
      // wall-clock window: versions committed inside minAgeMillis
      // refuse to drop even at retain >= 2
      spark.conf.set("spark.graft.vacuum.minAgeMillis", "3600000")
      try {
        val e2 = intercept[IllegalStateException] {
          CommitLog.vacuum(spark, t, retainVersions = 2)
        }
        assert(e2.getMessage.contains("minAgeMillis"))
        assert(CommitLog.read(spark, t, Some(1L)).count() === 1L)
      } finally spark.conf.unset("spark.graft.vacuum.minAgeMillis")
      // the explicit override is the "no reader is active" switch
      withRetentionCheckOff {
        CommitLog.vacuum(spark, t, retainVersions = 1)
      }
      assert(CommitLog.snapshot(spark, t, Some(3L)).isEmpty)
      assert(CommitLog.read(spark, t).count() === 4L)
    } finally rm(t)
  }

  test("MERGE-vs-MERGE law: concurrent merges with OVERLAPPING key " +
      "sets serialize — each writer's disjoint keys survive, the " +
      "overlap carries the later committer's payload, no row lost") {
    // deterministic serialization first: B commits between A's
    // world-view and A's merge — A recomputes against B's state
    val t = tmpTable()
    try {
      CommitLog.append(spark, t,
        df((1L, "base", 0.0), (2L, "base", 0.0)))
      val (vB, _, _) = CommitLog.merge(spark, t,
        df((2L, "B", 2.0), (3L, "B", 3.0)), keys = Seq("id"))
      val (vA, _, _) = CommitLog.merge(spark, t,
        df((1L, "A", 1.0), (3L, "A", 30.0)), keys = Seq("id"))
      assert(vB === 2L && vA === 3L)
      // serialization order B → A: overlap key 3 carries A (later);
      // B's disjoint key 2 survives A's merge untouched
      assert(sortedRows(CommitLog.read(spark, t)) === Seq(
        (1L, "A", 1.0), (2L, "B", 2.0), (3L, "A", 30.0)))
    } finally rm(t)

    // then the REAL race: two merges in flight simultaneously — one
    // loses the version publish and must recompute; the committed
    // outcome must equal applying them in version order
    val t2 = tmpTable()
    try {
      CommitLog.append(spark, t2, df((1L, "base", 0.0)))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      import scala.concurrent.{ExecutionContext, Future, Await}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(pool)
      val fX = Future(CommitLog.merge(spark, t2,
        df((5L, "X", 5.0), (9L, "X", 9.0)), keys = Seq("id")))
      val fY = Future(CommitLog.merge(spark, t2,
        df((7L, "Y", 7.0), (9L, "Y", 99.0)), keys = Seq("id")))
      val (vX, _, _) = Await.result(fX, 120.seconds)
      val (vY, _, _) = Await.result(fY, 120.seconds)
      pool.shutdown()
      // both landed, on distinct serialized versions
      assert(Set(vX, vY) === Set(2L, 3L))
      val rows = sortedRows(CommitLog.read(spark, t2))
      // disjoint keys from BOTH writers survive — nothing lost
      assert(rows.map(_._1) === Seq(1L, 5L, 7L, 9L))
      assert(rows.collect { case (5L, n, _) => n } === Seq("X"))
      assert(rows.collect { case (7L, n, _) => n } === Seq("Y"))
      // the overlap (key 9) carries the LATER committer's payload —
      // the WriteSerializable outcome: state == merges applied in
      // version order
      val laterIsX = vX > vY
      assert(rows.collect { case (9L, n, _) => n } ===
        Seq(if (laterIsX) "X" else "Y"))
    } finally rm(t2)
  }

  // ---- segment-level stats skipping (CommitLogStats) -----------------

  import graft.sources.CommitLogStats

  test("stats skipping: no-false-negative law — readSkipping equals " +
      "the full-scan filter on in-range, boundary, and empty probes") {
    val t = tmpTable()
    try {
      // three appends with overlapping but distinct v-ranges
      CommitLogStats.appendWithStats(spark, t,
        df((1L, "a", 1.0), (2L, "b", 5.0)), Seq("v", "id"))
      CommitLogStats.appendWithStats(spark, t,
        df((3L, "c", 4.0), (4L, "d", 9.0)), Seq("v", "id"))
      CommitLogStats.appendWithStats(spark, t,
        df((5L, "e", 20.0), (6L, "f", 25.0)), Seq("v", "id"))
      for ((lo, hi) <- Seq((0.0, 100.0), (4.0, 9.0), (5.0, 5.0),
          (9.5, 19.5), (30.0, 40.0), (10.0, 0.0))) {
        val skipped = CommitLogStats.readSkipping(spark, t, "v", lo, hi)
        val full = CommitLog.read(spark, t)
          .filter(col("v") >= lo && col("v") <= hi)
        assert(sortedRows(skipped) === sortedRows(full),
          s"probe [$lo,$hi]")
      }
      // the middle probe prunes the out-of-range segment
      val plan = CommitLogStats.planSkipping(spark, t, "v", 4.0, 9.0)
      assert(plan.kept.size === 2 && plan.pruned.size === 1)
      // long probe on the long column works too
      assert(CommitLogStats.planSkipping(spark, t, "id", 5L, 6L)
        .kept.size === 1)
    } finally rm(t)
  }

  test("stats skipping: conservative on gaps — a sidecar-less foreign " +
      "segment is kept, an all-NULL column prunes, a mistyped probe " +
      "fails loudly") {
    val t = tmpTable()
    try {
      CommitLogStats.appendWithStats(spark, t,
        df((1L, "a", 1.0)), Seq("v"))
      // foreign writer: plain append, no sidecar
      CommitLog.append(spark, t, df((2L, "b", 50.0)))
      // an all-NULL v segment
      import spark.implicits._
      val nulls = Seq((3L, "c")).toDF("id", "name")
        .withColumn("v", lit(null).cast("double"))
        .select(col("id"), col("name"), col("v"))
      val seg3 = CommitLog.append(spark, t, nulls)
      CommitLogStats.writeSidecar(spark,
        CommitLog.snapshot(spark, t).get.segments.last, Seq("v"))
      assert(seg3 === 3L)
      val plan = CommitLogStats.planSkipping(spark, t, "v", 40.0, 60.0)
      // stats segment pruned (1.0 < 40), foreign segment kept
      // (conservative), all-NULL segment pruned
      assert(plan.kept.size === 1 && plan.pruned.size === 2)
      assert(sortedRows(CommitLogStats.readSkipping(
        spark, t, "v", 40.0, 60.0)) === Seq((2L, "b", 50.0)))
      // NULL rows never match, so even a full-range probe agrees with
      // the filter semantics
      assert(sortedRows(CommitLogStats.readSkipping(
          spark, t, "v", -1e9, 1e9)) ===
        sortedRows(CommitLog.read(spark, t).filter(
          col("v") >= -1e9 && col("v") <= 1e9)))
      val e = intercept[IllegalStateException] {
        CommitLogStats.planSkipping(spark, t, "v", "x", "y")
      }
      assert(e.getMessage.contains("type") &&
        e.getMessage.contains("v"))
    } finally rm(t)
  }

  test("compactClustered: content preserved in ONE commit, segments " +
      "range-disjoint so the probe prunes, change feed still treats " +
      "it as a rewrite") {
    val t = tmpTable()
    try {
      // scattered ingest: both appends span the full v range
      CommitLogStats.appendWithStats(spark, t,
        df((1L, "a", 1.0), (4L, "d", 40.0), (7L, "g", 70.0)), Seq("v"))
      CommitLogStats.appendWithStats(spark, t,
        df((2L, "b", 5.0), (5L, "e", 45.0), (8L, "h", 75.0)), Seq("v"))
      val before = CommitLogStats.planSkipping(spark, t, "v", 1.0, 6.0)
      assert(before.kept.size === 2 && before.pruned.isEmpty)
      val pre = sortedRows(CommitLog.read(spark, t))
      val v = CommitLogStats.compactClustered(spark, t,
        Seq("v", "id"), nSegments = 3, statsCols = Seq("v"))
      assert(v === 3L)
      assert(sortedRows(CommitLog.read(spark, t)) === pre)
      val after = CommitLogStats.planSkipping(spark, t, "v", 1.0, 6.0)
      // 6 rows over 3 buckets of 2: [1,5] [40,45] [70,75] — one kept
      assert(after.kept.size === 1 && after.pruned.size === 2)
      assert(sortedRows(CommitLogStats.readSkipping(
          spark, t, "v", 1.0, 6.0)) ===
        Seq((1L, "a", 1.0), (2L, "b", 5.0)))
      // prior version remains time-travelable with its own stats
      assert(CommitLogStats.planSkipping(spark, t, "v", 1.0, 6.0,
        asOfVersion = Some(2L)).kept.size === 2)
      // change feed: compact is content-preserving, transparently
      // skipped exactly like CommitLog.compact
      val feed = CommitLog.changes(spark, t, afterVersion = 2L)
      assert(feed.isEmpty)
    } finally rm(t)
  }

  test("stats skipping composes with the OCC race: a loser's retried " +
      "appendWithStats keeps both writers' segments and sidecars") {
    val t = tmpTable()
    try {
      CommitLogStats.appendWithStats(spark, t, df((1L, "a", 1.0)),
        Seq("v"))
      // steal version 2 between snapshot read and publish
      val base = CommitLog.snapshot(spark, t).get
      val seg = CommitLog.writeSegment(spark, t, df((2L, "b", 2.0)))
      CommitLogStats.writeSidecar(spark, seg, Seq("v"))
      assert(CommitLog.tryPublish(spark, t, CommitLog.Snapshot(
        base.version + 1, base.segments :+ seg, base.version, "append")))
      val v = CommitLogStats.appendWithStats(spark, t,
        df((3L, "c", 30.0)), Seq("v"))
      assert(v === 3L)
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 30.0)))
      // every segment has a sidecar; the narrow probe keeps only one
      assert(CommitLogStats.planSkipping(spark, t, "v", 25.0, 35.0)
        .kept.size === 1)
    } finally rm(t)
  }

  test("compactZOrder: a 2-D box probe prunes morton segments where " +
      "the single-axis clustering leaves the other dimension " +
      "unconstrained; results equal the full-scan box filter") {
    import spark.implicits._
    def grid(): org.apache.spark.sql.DataFrame =
      (for (x <- 0L until 16L; y <- 0L until 16L)
        yield (x * 16 + y, x, y)).toDF("id", "x", "y")
    val probes = Seq[(String, Any, Any)]((("x"), 0L, 3L), (("y"), 0L, 3L))
    def keptAfter(cluster: String => Long): (Int, Seq[(Long, Long, Long)]) = {
      val t = tmpTable()
      try {
        CommitLog.append(spark, t, grid())
        cluster(t)
        val plan = CommitLogStats.planSkippingAll(spark, t, probes)
        val rows = CommitLogStats.readSkippingAll(spark, t, probes)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSeq.sorted
        (plan.kept.size, rows)
      } finally rm(t)
    }
    val (keptZ, rowsZ) = keptAfter(t => CommitLogStats.compactZOrder(
      spark, t, "x", "y", tieBreak = Seq("id"), nSegments = 16,
      statsCols = Seq("x", "y")))
    val (keptX, rowsX) = keptAfter(t => CommitLogStats.compactClustered(
      spark, t, Seq("x", "id"), nSegments = 16,
      statsCols = Seq("x", "y")))
    // both layouts return exactly the 4×4 corner box
    val expect = (for (x <- 0L until 4L; y <- 0L until 4L)
      yield (x * 16 + y, x, y)).sorted
    assert(rowsZ === expect && rowsX === expect)
    // the morton layout bounds BOTH dims per segment: the corner box
    // touches 1 of 16 slices; the x-sorted layout keeps all 4 slices
    // spanning x∈[0,3] because every one covers the full y range
    assert(keptZ === 1, s"zorder kept $keptZ")
    assert(keptX === 4, s"x-sorted kept $keptX")
  }

  test("compactZOrderN: a 3-D box probe over a 16x16x16 grid keeps " +
      "ONE of 64 morton segments where the x-sorted layout keeps 16; " +
      "results equal the full-scan box filter; the SQL procedure " +
      "routes through it") {
    import spark.implicits._
    def grid(): org.apache.spark.sql.DataFrame =
      (for (x <- 0L until 16L; y <- 0L until 16L; w <- 0L until 16L)
        yield (x * 256 + y * 16 + w, x, y, w))
        .toDF("id", "x", "y", "w")
    val probes = Seq[(String, Any, Any)](
      ("x", 0L, 3L), ("y", 0L, 3L), ("w", 0L, 3L))
    def keptAfter(cluster: String => Long)
        : (Int, Seq[Long]) = {
      val t = tmpTable()
      try {
        CommitLog.append(spark, t, grid())
        cluster(t)
        val plan = CommitLogStats.planSkippingAll(spark, t, probes)
        val ids = CommitLogStats.readSkippingAll(spark, t, probes)
          .select("id").collect().map(_.getLong(0)).toSeq.sorted
        (plan.kept.size, ids)
      } finally rm(t)
    }
    val (keptZ, idsZ) = keptAfter(t => CommitLogStats.compactZOrderN(
      spark, t, Seq("x", "y", "w"), tieBreak = Seq("id"),
      nSegments = 64, statsCols = Seq("x", "y", "w")))
    val (keptX, idsX) = keptAfter(t => CommitLogStats.compactClustered(
      spark, t, Seq("x", "id"), nSegments = 64,
      statsCols = Seq("x", "y", "w")))
    val expect = (for (x <- 0L until 4L; y <- 0L until 4L;
      w <- 0L until 4L) yield x * 256 + y * 16 + w).sorted
    assert(idsZ === expect && idsX === expect)
    // the [0,4)^3 corner is exactly the first 64 morton codes = the
    // first of 64 segments. The x-sort keeps one segment per x value
    // in [0,3] (its id tie-break happens to correlate with (y,w),
    // bounding y inside each x slice) — still 4x the morton layout's
    // touch, and the gap widens with every dimension the 1-D sort
    // cannot bound
    assert(keptZ === 1, s"3-D zorder kept $keptZ")
    assert(keptX === 4, s"x-sorted kept $keptX")
    // CALL surface
    val root = java.nio.file.Files
      .createTempDirectory("graft_zn_").toString
    try {
      spark.conf.set("spark.sql.catalog.gzn",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gzn.root", root)
      val path = s"$root/ns/t"
      CommitLog.append(spark, path, grid())
      spark.sql("CALL gzn.system.optimize_zorder_nd(" +
        "table => 'ns.t', columns => 'x,y,w', tie_break => 'id', " +
        "segments => 64)")
      assert(CommitLogStats.planSkippingAll(spark, path, probes)
        .kept.size === 1)
    } finally {
      spark.conf.unset("spark.sql.catalog.gzn")
      spark.conf.unset("spark.sql.catalog.gzn.root")
      rm(root + "/x")
    }
  }

  test("SQL catalog: CREATE TABLE / INSERT INTO / SELECT / INSERT " +
      "OVERWRITE / DROP in plain SQL over commit-log tables; state " +
      "shared with the programmatic API; retype ALTER and table " +
      "RENAME refused") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_catalog_").toString
    try {
      spark.conf.set("spark.sql.catalog.gtest",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gtest.root", root)
      spark.sql(
        "CREATE TABLE gtest.ns.t (id BIGINT, name STRING, v DOUBLE)")
      assert(spark.sql("SELECT * FROM gtest.ns.t").count() === 0L)
      spark.sql(
        "INSERT INTO gtest.ns.t VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
      assert(spark.sql("SELECT * FROM gtest.ns.t").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSeq.sorted === Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      spark.sql("INSERT OVERWRITE gtest.ns.t VALUES (9, 'z', 9.0)")
      assert(spark.sql("SELECT id FROM gtest.ns.t").collect()
        .map(_.getLong(0)).toSeq === Seq(9L))
      // one shared state with the programmatic API: create + append +
      // overwrite are protocol versions of the SAME table
      val path = s"$root/ns/t"
      assert(CommitLog.history(spark, path).select("op")
        .collect().map(_.getString(0)).toSeq ===
        Seq("create", "append", "overwrite"))
      assert(sortedRows(CommitLog.read(spark, path, Some(2L))) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      // SQL DELETE routes through the copy-on-write protocol delete
      spark.sql("INSERT INTO gtest.ns.t VALUES (10, 'x', 10.0), " +
        "(11, 'y', 11.0)")
      spark.sql("DELETE FROM gtest.ns.t WHERE id = 10 OR name = 'q'")
      assert(spark.sql("SELECT id FROM gtest.ns.t").collect()
        .map(_.getLong(0)).toSeq.sorted === Seq(9L, 11L))
      assert(CommitLog.snapshot(spark, path).get.op === "delete")
      // SQL time travel through the catalog: both knobs
      assert(spark.sql("SELECT id FROM gtest.ns.t VERSION AS OF 2")
        .collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 2L))
      val t2 = CommitLog.snapshot(spark, path, Some(2L)).get.ts.get
      // render in UTC (the session zone) — java.sql.Timestamp.toString
      // would use the JVM default zone
      val lit = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(t2),
        java.time.ZoneOffset.UTC).toString.replace('T', ' ')
      assert(spark.sql(
          s"SELECT id FROM gtest.ns.t TIMESTAMP AS OF '$lit'")
        .collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 2L))
      // ADD COLUMNS / RENAME / DROP / safe widening are supported
      // (own laws); an UNSAFE retype stays refused — it would lie
      // about what old segments can serve
      val eRt = intercept[IllegalStateException] {
        spark.sql("ALTER TABLE gtest.ns.t ALTER COLUMN id TYPE STRING")
      }
      assert(eRt.getMessage.contains("not a metadata-only widening"))
      // catalog listing derives from the filesystem
      assert(spark.sql("SHOW TABLES IN gtest.ns").collect()
        .map(_.getString(1)).toSeq === Seq("t"))
      // namespaces are directories: SHOW / CREATE / DROP
      assert(spark.sql("SHOW NAMESPACES IN gtest").collect()
        .map(_.getString(0)).toSeq === Seq("ns"))
      spark.sql("CREATE NAMESPACE gtest.other")
      assert(spark.sql("SHOW NAMESPACES IN gtest").collect()
        .map(_.getString(0)).toSeq.sorted === Seq("ns", "other"))
      spark.sql("DROP NAMESPACE gtest.other")
      spark.sql("DROP TABLE gtest.ns.t")
      assert(CommitLog.versions(spark, path).isEmpty)
    } finally {
      spark.conf.unset("spark.sql.catalog.gtest")
      spark.conf.unset("spark.sql.catalog.gtest.root")
      rm(root + "/x") // rm deletes the parent of its argument
    }
  }

  test("writeStream.format(commitlog): standard streaming writer " +
      "surface — txn-stamped exactly-once appends, txnAppId required, " +
      "append-only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = tmpTable()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_fmt_sink_").toString
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[Long](300, spark, None)
      val q = mem.toDF().withColumnRenamed("value", "id")
        .writeStream.format("commitlog")
        .option("path", t).option("txnAppId", "fmtsink")
        .option("checkpointLocation", ckpt).start()
      try {
        mem.addData(1L, 2L); q.processAllAvailable()
        mem.addData(3L); q.processAllAvailable()
      } finally q.stop()
      assert(CommitLog.read(spark, t).select(col("id"))
        .collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 2L, 3L))
      // every version is a txn-stamped streaming append
      assert(CommitLog.history(spark, t).select("op").collect()
        .map(_.getString(0)).distinct.toSeq === Seq("streaming-append"))
      // crash-replay of the last batch is a no-op
      val lastBatch = CommitLog.lastTxn(spark, t, "fmtsink").get
      import spark.implicits._
      assert(CommitLog.appendTxn(spark, t, Seq(3L).toDF("id"),
        "fmtsink", lastBatch) === None)
      // txnAppId is mandatory
      val e = intercept[Exception] {
        mem.toDF().writeStream.format("commitlog").option("path", t)
          .option("checkpointLocation", ckpt + "2").start()
      }
      assert(e.getMessage.contains("txnAppId"))
    } finally { rm(t); rm(ckpt + "/x") }
  }

  test("writeStream.format(commitlog).partitionBy: each micro-batch " +
      "lands one sidecar'd segment per partition tuple in ONE " +
      "txn-stamped version — born prunable, exactly-once on replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t = tmpTable()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_part_sink_").toString
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      import spark.implicits._
      val mem = MemoryStream[(String, Long)](301, spark, None)
      val q = mem.toDF().toDF("region", "x")
        .writeStream.format("commitlog")
        .partitionBy("region")
        .option("path", t).option("txnAppId", "psink")
        .option("checkpointLocation", ckpt).start()
      try {
        mem.addData(("eu", 1L), ("us", 2L)); q.processAllAvailable()
        mem.addData(("eu", 3L)); q.processAllAvailable()
      } finally q.stop()
      // two batches = two versions; batch 1 landed TWO segments (one
      // per region) inside its one version
      assert(CommitLog.versions(spark, t) === Seq(1L, 2L))
      assert(CommitLog.snapshot(spark, t, Some(1L)).get
        .segments.size === 2)
      assert(CommitLog.history(spark, t).select("op").collect()
        .map(_.getString(0)).distinct.toSeq === Seq("streaming-append"))
      assert(CommitLog.read(spark, t).select(col("x"))
        .collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 2L, 3L))
      // born prunable: a region point probe prunes the other
      // region's segments via the min=max sidecars
      val plan = graft.sources.CommitLogStats.planSkipping(
        spark, t, "region", "us", "us")
      assert(plan.kept.size === 1 && plan.pruned.size === 2)
      // crash-replay of the last batch is a no-op AND leaves no
      // orphaned segments behind
      val lastBatch = CommitLog.lastTxn(spark, t, "psink").get
      val dataDirs = Option(new java.io.File(s"$t/data").listFiles)
        .toSeq.flatten.count(_.isDirectory)
      assert(graft.sources.CommitLogStats.appendPartitionedTxn(spark,
        t, Seq(("eu", 3L)).toDF("region", "x"), Seq("region"),
        "psink", lastBatch) === None)
      assert(Option(new java.io.File(s"$t/data").listFiles)
        .toSeq.flatten.count(_.isDirectory) === dataDirs,
        "replayed batch left orphaned staged segments")
    } finally { rm(t); rm(ckpt + "/x") }
  }

  test("startingTimestamp: batch CDF begins at the earliest commit " +
      "at-or-after the instant (mirror of timestampAsOf); past-end " +
      "raises; the stream starts there too, or waits for FUTURE " +
      "commits when past end") {
    val t = tmpTable()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_start_ts_").toString
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      Thread.sleep(5L)
      val cut = System.currentTimeMillis()
      Thread.sleep(5L)
      CommitLog.append(spark, t, df((2L, "b", 2.0)))
      CommitLog.append(spark, t, df((3L, "c", 3.0)))
      // batch CDF from the cut: versions 2 and 3 only
      val feed = spark.read.format("commitlog")
        .option("path", t).option("readChangeFeed", "true")
        .option("startingTimestamp", cut.toString).load()
      assert(feed.select(col("id")).collect().map(_.getLong(0))
        .toSeq.sorted === Seq(2L, 3L))
      // both knobs at once refuse
      val e1 = intercept[Exception] {
        spark.read.format("commitlog").option("path", t)
          .option("readChangeFeed", "true")
          .option("startingVersion", "2")
          .option("startingTimestamp", cut.toString).load()
      }
      assert(e1.getMessage.contains("mutually exclusive"))
      // a timestamp past every commit raises for BATCH (typo guard)
      val e2 = intercept[Exception] {
        spark.read.format("commitlog").option("path", t)
          .option("readChangeFeed", "true")
          .option("startingTimestamp",
            (System.currentTimeMillis() + 3600000L).toString)
          .load().collect()
      }
      assert(e2.getMessage.contains("after every retained commit"))
      // the STREAM from a past-end instant waits and serves only
      // FUTURE commits; from the cut it serves v2+
      val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = spark.readStream.format("commitlog")
        .option("path", t)
        .option("startingTimestamp", cut.toString).load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
            rows ++= b.select(col("id")).collect()
              .map(_.getLong(0)): Unit
        }
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()
        assert(rows.sorted.toSeq === Seq(2L, 3L))
      } finally q.stop()
      val rows2 = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q2 = spark.readStream.format("commitlog")
        .option("path", t)
        .option("startingTimestamp",
          (System.currentTimeMillis() + 5L).toString).load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
            rows2 ++= b.select(col("id")).collect()
              .map(_.getLong(0)): Unit
        }
        .option("checkpointLocation", ckpt + "B").start()
      try {
        q2.processAllAvailable()
        assert(rows2.isEmpty, "past-end stream served history")
        Thread.sleep(10L)
        CommitLog.append(spark, t, df((4L, "d", 4.0)))
        q2.processAllAvailable()
        assert(rows2.sorted.toSeq === Seq(4L))
      } finally q2.stop()
    } finally { rm(t); rm(ckpt + "/x") }
  }

  test("endingVersion / endingTimestamp: the batch change feed pins " +
      "a reproducible (start, end] range; degenerate and future " +
      "bounds refuse loudly") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      CommitLog.append(spark, t, df((2L, "b", 2.0)))
      Thread.sleep(5L)
      val cut = System.currentTimeMillis()
      Thread.sleep(5L)
      CommitLog.append(spark, t, df((3L, "c", 3.0)))
      CommitLog.append(spark, t, df((4L, "d", 4.0)))
      def feed(opts: (String, String)*): DataFrame = {
        val r = spark.read.format("commitlog")
          .option("path", t).option("readChangeFeed", "true")
        opts.foldLeft(r) { case (x, (k, v)) => x.option(k, v) }.load()
      }
      // (v1, v3]: versions 2 and 3 only — later commits invisible
      assert(feed("startingVersion" -> "2", "endingVersion" -> "3")
        .select(col("id")).collect().map(_.getLong(0)).toSeq.sorted ===
        Seq(2L, 3L))
      // endingTimestamp: at-or-before the cut = v2 (the mirror rule)
      assert(feed("endingTimestamp" -> cut.toString)
        .select(col("id")).collect().map(_.getLong(0)).toSeq.sorted ===
        Seq(1L, 2L))
      // a bound past the current version is a typo'd pin, not a wait
      val e1 = intercept[Exception] {
        feed("endingVersion" -> "9").collect()
      }
      assert(e1.getMessage.contains("exceeds the current version"))
      // end before start refuses
      val e2 = intercept[Exception] {
        feed("startingVersion" -> "3", "endingVersion" -> "2").collect()
      }
      assert(e2.getMessage.contains("must be at or after"))
      // both ending knobs refuse
      val e3 = intercept[Exception] {
        feed("endingVersion" -> "2",
          "endingTimestamp" -> cut.toString).collect()
      }
      assert(e3.getMessage.contains("mutually exclusive"))
    } finally rm(t)
  }

  test("GENERATED ALWAYS AS: created through the catalog, omitted " +
      "columns compute on every write path (including PARTITIONED " +
      "BY a generated column), provided values validate atomically, " +
      "and source-column DDL refuses") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_gencol_").toString
    try {
      spark.conf.set("spark.sql.catalog.ggc",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.ggc.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE ggc.ns.t (ts BIGINT, " +
        "day BIGINT GENERATED ALWAYS AS (ts % 7)) " +
        "PARTITIONED BY (day)")
      // SQL INSERT provides all columns — matching values land
      spark.sql("INSERT INTO ggc.ns.t VALUES (10, 3), (14, 0)")
      assert(spark.sql("SELECT count(*) FROM ggc.ns.t").head()
        .getLong(0) === 2L)
      // a mismatching provided value refuses atomically
      val vBefore = CommitLog.versions(spark, path)
      val e1 = intercept[Exception] {
        spark.sql("INSERT INTO ggc.ns.t VALUES (10, 5)")
      }
      assert(e1.getMessage.contains("mismatching provided value"))
      assert(CommitLog.versions(spark, path) === vBefore)
      // programmatic writes may OMIT the column — computed, and the
      // partitioned stager lands one segment per computed tuple
      import spark.implicits._
      graft.sources.CommitLogStats.appendPartitioned(spark, path,
        Seq(21L, 22L).toDF("ts"), Seq("day"))
      val got = spark.sql("SELECT ts, day FROM ggc.ns.t ORDER BY ts")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === Seq((10L, 3L), (14L, 0L), (21L, 0L), (22L, 1L)))
      // born prunable on the generated column
      val plan = graft.sources.CommitLogStats.planSkipping(
        spark, path, "day", 3L, 3L)
      assert(plan.pruned.nonEmpty)
      // the plain gated path computes too
      CommitLog.append(spark, path, Seq(30L).toDF("ts"))
      assert(spark.sql("SELECT day FROM ggc.ns.t WHERE ts = 30")
        .head().getLong(0) === 2L)
      // DDL on the source or the generated column itself refuses
      val e2 = intercept[IllegalStateException] {
        CommitLog.renameColumn(spark, path, "ts", "event_ts")
      }
      assert(e2.getMessage.contains("GENERATED ALWAYS AS"))
      spark.sql("DROP TABLE ggc.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.ggc")
      spark.conf.unset("spark.sql.catalog.ggc.root")
      rm(root + "/x")
    }
  }

  test("GENERATED ALWAYS AS under DML: updating a generation SOURCE " +
      "recomputes the column (CoW, vectored and MERGE); SET naming " +
      "the generated column refuses; merge-INSERT computes omitted " +
      "columns") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_gendml_").toString
    try {
      spark.conf.set("spark.sql.catalog.ggd",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.ggd.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE ggd.ns.t (ts BIGINT, " +
        "day BIGINT GENERATED ALWAYS AS (ts % 7))")
      spark.sql("INSERT INTO ggd.ns.t VALUES (10, 3), (14, 0), (21, 0)")
      import spark.implicits._
      def dayOf(ts: Long): Long = spark.sql(
        s"SELECT day FROM ggd.ns.t WHERE ts = $ts").head().getLong(0)
      // copy-on-write UPDATE of the source → day recomputes (10→12:
      // 3→5); without the recompute the stale value would refuse at
      // the gate
      CommitLog.update(spark, path, col("ts") === 10L,
        Map("ts" -> lit(12L)))
      assert(dayOf(12L) === 5L)
      // the CDC postimage carries the RECOMPUTED value
      val post = CommitLog.changeFeed(spark, path, 0L)
        .filter(col("_change_type") === "update_postimage")
        .select(col("ts"), col("day")).head()
      assert((post.getLong(0), post.getLong(1)) === ((12L, 5L)))
      // merge-on-read vectored UPDATE recomputes too (14→15: 0→1)
      CommitLog.updateVectored(spark, path, col("ts") === 14L,
        Map("ts" -> lit(15L)))
      assert(dayOf(15L) === 1L)
      // SET naming the generated column refuses on every DML path,
      // before any staging I/O
      for (refused <- Seq(
        intercept[IllegalArgumentException] {
          CommitLog.update(spark, path, lit(true),
            Map("day" -> lit(9L)))
        },
        intercept[IllegalArgumentException] {
          CommitLog.updateVectored(spark, path, lit(true),
            Map("day" -> lit(9L)))
        },
        intercept[IllegalArgumentException] {
          CommitLog.mergeInto(spark, path,
            Seq(12L).toDF("ts"), Seq("ts"),
            whenMatchedUpdate = Map("day" -> lit(9L)))
        })) assert(refused.getMessage.contains("GENERATED ALWAYS AS"))
      // MERGE: matched update of the source recomputes (12→13:
      // 5→6); NOT-MATCHED insert OMITTING day computes it (100→2)
      val source = Seq((12L, 13L), (100L, 100L))
        .toDF("ts", "new_ts")
      val (_, nUpd, _, nIns) = CommitLog.mergeInto(spark, path,
        source, Seq("ts"),
        whenMatchedUpdate = Map("ts" -> CommitLog.src("new_ts")))
      assert((nUpd, nIns) === ((1L, 1L)))
      assert(dayOf(13L) === 6L)
      assert(dayOf(100L) === 2L)
      // the invariant holds table-wide after the DML storm
      assert(spark.sql(
        "SELECT count(*) FROM ggd.ns.t WHERE day != ts % 7")
        .head().getLong(0) === 0L)
      spark.sql("DROP TABLE ggd.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.ggd")
      spark.conf.unset("spark.sql.catalog.ggd.root")
      rm(root + "/x")
    }
  }

  test("CLONE: shallow references the source snapshot zero-copy and " +
      "diverges independently; deep copies bytes (sidecars included); " +
      "the clone's vacuum never touches source files; history does " +
      "not carry") {
    val src = tmpTable(); val sh = tmpTable(); val dp = tmpTable()
    try {
      // stats-bearing writes so the deep copy's sidecar carry is
      // observable
      graft.sources.CommitLogStats.appendWithStats(spark, src,
        df((1L, "a", 1.0), (2L, "b", 2.0)), Seq("id"))
      graft.sources.CommitLogStats.appendWithStats(spark, src,
        df((3L, "c", 3.0)), Seq("id"))
      // a DV rides along: delete id=2 merge-on-read at the source
      CommitLog.deleteVectored(spark, src, col("id") === 2L)
      val srcV = CommitLog.currentVersion(spark, src).get

      // ---- shallow: zero-copy, then diverge ----------------------
      CommitLog.cloneTable(spark, src, sh)
      assert(sortedRows(CommitLog.read(spark, sh)) ===
        Seq((1L, "a", 1.0), (3L, "c", 3.0)))
      // the clone starts a FRESH history at v1 (op=clone)
      val h = CommitLog.history(spark, sh).collect()
      assert(h.length === 1 && h(0).getString(1) === "clone")
      // zero-copy: the clone's data/ holds NOTHING yet
      assert(!new java.io.File(s"$sh/data").exists())
      // diverge: writes + deletes on the clone leave the source alone
      CommitLog.append(spark, sh, df((9L, "z", 9.0)))
      CommitLog.delete(spark, sh, col("id") === 1L)
      assert(sortedRows(CommitLog.read(spark, sh)) ===
        Seq((3L, "c", 3.0), (9L, "z", 9.0)))
      assert(sortedRows(CommitLog.read(spark, src)) ===
        Seq((1L, "a", 1.0), (3L, "c", 3.0)))
      assert(CommitLog.currentVersion(spark, src).get === srcV)
      // the clone's vacuum sweeps only ITS root: every source
      // segment file survives a full-history clone vacuum
      val srcFiles = CommitLog.snapshot(spark, src).get.segments
      withRetentionCheckOff {
        CommitLog.vacuum(spark, sh, retainVersions = 1)
      }
      srcFiles.foreach(p => assert(new java.io.File(p).exists(),
        s"clone vacuum deleted source segment $p"))
      assert(sortedRows(CommitLog.read(spark, src)) ===
        Seq((1L, "a", 1.0), (3L, "c", 3.0)))

      // ---- clone-from-the-past: asOfVersion branches history ----
      val past = tmpTable()
      CommitLog.cloneTable(spark, src, past, asOfVersion = Some(1L))
      assert(sortedRows(CommitLog.read(spark, past)) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      rm(past)

      // ---- deep: independent bytes, skipping survives ------------
      CommitLog.cloneTable(spark, src, dp, shallow = false)
      assert(sortedRows(CommitLog.read(spark, dp)) ===
        Seq((1L, "a", 1.0), (3L, "c", 3.0)))
      val dpSnap = CommitLog.snapshot(spark, dp).get
      assert(dpSnap.segments.forall(_.startsWith(dp)),
        "deep clone still references source paths")
      // the copied sidecars keep stats skipping live on the clone
      assert(dpSnap.segments.forall(p =>
        new java.io.File(s"$p/_stats.json").exists()),
        "deep clone lost the _stats.json sidecars")
      val dpH = CommitLog.history(spark, dp).collect()
      assert(dpH.length === 1 && dpH(0).getString(1) === "clone_deep")
      // deep clone diverges from the source at the byte level: a
      // source DML after the deep clone leaves the clone untouched
      CommitLog.delete(spark, src, col("id") === 3L)
      assert(sortedRows(CommitLog.read(spark, dp)) ===
        Seq((1L, "a", 1.0), (3L, "c", 3.0)))
      // a clone into a non-empty table refuses
      intercept[IllegalArgumentException] {
        CommitLog.cloneTable(spark, src, dp)
      }

      // ---- metadata carry: the partition spec rides the clone ----
      val psrc = tmpTable(); val pcl = tmpTable()
      try {
        CommitLog.append(spark, psrc, df((1L, "a", 1.0), (2L, "b", 2.0)))
        CommitLog.setPartitionSpec(spark, psrc, Seq("name"))
        CommitLog.cloneTable(spark, psrc, pcl)
        assert(CommitLog.partitionColumns(spark, pcl) ===
          Some(Seq("name")),
          "clone dropped the source's partition spec")
      } finally { rm(psrc); rm(pcl) }
    } finally { rm(src); rm(sh); rm(dp) }
  }

  test("IDENTITY columns: ALWAYS allocates (start/step respected, " +
      "NULLs allocate, explicit values refuse); BY DEFAULT passes " +
      "values through and auto-syncs the high-water mark; the mark " +
      "rides the manifest; non-allocating paths refuse omission") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ident_").toString
    try {
      spark.conf.set("spark.sql.catalog.gid",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gid.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gid.ns.t (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY (START WITH 10 INCREMENT BY 2), name STRING)")
      import spark.implicits._
      // programmatic append omitting the column: 10, 12, 14
      CommitLog.append(spark, path, Seq("a", "b", "c").toDF("name"))
      def ids(): Seq[Long] = spark.sql(
        "SELECT id FROM gid.ns.t ORDER BY id").collect()
        .map(_.getLong(0)).toSeq
      assert(ids() === Seq(10L, 12L, 14L))
      // a second append continues from the committed mark
      CommitLog.append(spark, path, Seq("d").toDF("name"))
      assert(ids() === Seq(10L, 12L, 14L, 16L))
      // NULLs allocate (the SQL INSERT shape); explicit values refuse
      spark.sql("INSERT INTO gid.ns.t VALUES (NULL, 'e')")
      assert(ids() === Seq(10L, 12L, 14L, 16L, 18L))
      val e1 = intercept[Exception] {
        CommitLog.append(spark, path,
          Seq((99L, "z")).toDF("id", "name"))
      }
      assert(e1.getMessage.contains("GENERATED ALWAYS AS IDENTITY"))
      // UPDATE SET on an ALWAYS identity refuses; BY DEFAULT would not
      val e2 = intercept[IllegalArgumentException] {
        CommitLog.update(spark, path, lit(true), Map("id" -> lit(0L)))
      }
      assert(e2.getMessage.contains("IDENTITY"))
      // MERGE inserts ALLOCATE like the append path: omission mints
      // the next id and the commit advances the manifest mark under
      // the merge's own OCC
      CommitLog.mergeInto(spark, path, Seq("q").toDF("name"),
        Seq("name"))
      assert(ids() === Seq(10L, 12L, 14L, 16L, 18L, 20L))
      // ...and a subsequent append continues PAST the merged id
      // (previously the merge never advanced the mark — this append
      // would have re-minted 20 as a silent duplicate)
      CommitLog.append(spark, path, Seq("s").toDF("name"))
      assert(ids() === Seq(10L, 12L, 14L, 16L, 18L, 20L, 22L))
      // explicit values on an ALWAYS identity refuse in MERGE too
      val e3 = intercept[IllegalArgumentException] {
        CommitLog.mergeInto(spark, path,
          Seq((99L, "zz")).toDF("id", "name"), Seq("name"))
      }
      assert(e3.getMessage.contains("GENERATED ALWAYS"))
      // non-allocating gated paths refuse omission instead of
      // silently landing NULL ids
      val e4 = intercept[IllegalArgumentException] {
        graft.sources.CommitLogStats.appendWithStats(spark, path,
          Seq("x").toDF("name"), Seq("name"))
      }
      assert(e4.getMessage.contains("does not allocate"))
      // the mark is VERSIONED: time travel reads the era's own ids
      assert(CommitLog.read(spark, path, asOfVersion = Some(2L))
        .count() === 3L)
      // rename of an identity column refuses (name-keyed mark)
      val e5 = intercept[IllegalStateException] {
        CommitLog.renameColumn(spark, path, "id", "pk")
      }
      assert(e5.getMessage.contains("IDENTITY"))

      // ---- BY DEFAULT: explicit values pass, the mark auto-syncs --
      spark.sql("CREATE TABLE gid.ns.d (id BIGINT GENERATED BY " +
        "DEFAULT AS IDENTITY, name STRING)")
      val dPath = s"$root/ns/d"
      CommitLog.append(spark, dPath,
        Seq((100L, "x")).toDF("id", "name"))
      // next allocation jumps past the provided extent — no manual
      // SYNC IDENTITY needed
      CommitLog.append(spark, dPath, Seq("y").toDF("name"))
      val dIds = spark.sql("SELECT id FROM gid.ns.d ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(dIds === Seq(100L, 101L))
      // mixed NULL/provided in one frame: NULLs allocate, provided
      // pass through
      CommitLog.append(spark, dPath, Seq(
        (Some(500L), "p"), (None, "q")).toDF("id", "name"))
      val dIds2 = spark.sql("SELECT id FROM gid.ns.d ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(dIds2.length === 4 && dIds2.contains(500L) &&
        dIds2.distinct.length === 4)
      // and the mark synced past 500
      CommitLog.append(spark, dPath, Seq("r").toDF("name"))
      val dMax = spark.sql("SELECT max(id) FROM gid.ns.d").head()
        .getLong(0)
      assert(dMax > 500L)
      // MERGE with explicit BY DEFAULT ids: values pass through and
      // the merge commit itself advances the mark (previously the
      // mark went stale and the next append minted a duplicate)
      CommitLog.mergeInto(spark, dPath,
        Seq((900L, "m")).toDF("id", "name"), Seq("name"))
      CommitLog.append(spark, dPath, Seq("n").toDF("name"))
      val dIds3 = spark.sql("SELECT id FROM gid.ns.d ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(dIds3.contains(900L) && dIds3.max > 900L &&
        dIds3.distinct.length === dIds3.length)
      // SET on a BY DEFAULT identity folds the post-image into the
      // mark (auto-SYNC): a later append cannot re-mint the updated id
      CommitLog.mergeInto(spark, dPath,
        Seq(("m", 5000L)).toDF("name", "newid"), Seq("name"),
        whenMatchedUpdate = Map("id" -> CommitLog.src("newid")),
        whenNotMatchedInsert = false)
      CommitLog.append(spark, dPath, Seq("o").toDF("name"))
      val dIds4 = spark.sql("SELECT id FROM gid.ns.d ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(dIds4.contains(5000L) && dIds4.max > 5000L &&
        dIds4.distinct.length === dIds4.length)
      spark.sql("DROP TABLE gid.ns.t")
      spark.sql("DROP TABLE gid.ns.d")
    } finally {
      spark.conf.unset("spark.sql.catalog.gid")
      spark.conf.unset("spark.sql.catalog.gid.root")
      rm(root + "/x")
    }
  }

  test("IDENTITY concurrency law: racing appenders never allocate " +
      "overlapping ids — the loser reallocates against the winner's " +
      "high-water mark") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_identrace_").toString
    try {
      spark.conf.set("spark.sql.catalog.gir",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gir.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gir.ns.t (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY, name STRING)")
      import spark.implicits._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val futures = (0 until 4).map { w =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            override def call(): Long = CommitLog.append(spark, path,
              Seq.tabulate(25)(i => s"w$w-$i").toDF("name"))
          })
        }
        futures.foreach(_.get())
      } finally pool.shutdown()
      val allIds = spark.sql("SELECT id FROM gir.ns.t").collect()
        .map(_.getLong(0)).toSeq
      assert(allIds.length === 100, s"expected 100 rows, ${allIds.length}")
      assert(allIds.distinct.length === 100,
        "concurrent appends allocated duplicate identity values")
      spark.sql("DROP TABLE gir.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gir")
      spark.conf.unset("spark.sql.catalog.gir.root")
      rm(root + "/x")
    }
  }

  test("column DEFAULT values: SQL INSERT fills omitted columns and " +
      "the DEFAULT keyword (analyzer-side); programmatic appends " +
      "fill omissions engine-side; explicit NULL stays NULL; ADD " +
      "COLUMN DEFAULT refuses") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_defaults_").toString
    try {
      spark.conf.set("spark.sql.catalog.gdf",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gdf.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gdf.ns.t (a BIGINT, " +
        "b STRING DEFAULT 'pending', c BIGINT DEFAULT 42)")
      // the DEFAULT keyword and the omitted-column form both fill
      spark.sql("INSERT INTO gdf.ns.t VALUES (1, DEFAULT, DEFAULT)")
      spark.sql("INSERT INTO gdf.ns.t (a) VALUES (2)")
      // explicit NULL is a VALUE, not an absence — stays NULL
      spark.sql("INSERT INTO gdf.ns.t VALUES (3, NULL, NULL)")
      // programmatic append omitting defaulted columns fills them
      import spark.implicits._
      CommitLog.append(spark, path, Seq(4L).toDF("a"))
      val got = spark.sql(
        "SELECT a, b, c FROM gdf.ns.t ORDER BY a").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)),
          Option(r.get(2)))).toSeq
      assert(got === Seq(
        (1L, Some("pending"), Some(42L)),
        (2L, Some("pending"), Some(42L)),
        (3L, None, None),
        (4L, Some("pending"), Some(42L))))
      // write-time-only defaults: ADD COLUMN DEFAULT refuses (old
      // rows would read NULL, not the default — no silent skew)
      val e = intercept[Exception] {
        spark.sql("ALTER TABLE gdf.ns.t ADD COLUMN d STRING " +
          "DEFAULT 'x'")
      }
      assert(e.getMessage.contains("DEFAULT on an added column"))
      spark.sql("DROP TABLE gdf.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gdf")
      spark.conf.unset("spark.sql.catalog.gdf.root")
      rm(root + "/x")
    }
  }

  test("native CHECK constraint DDL: CREATE TABLE ... CONSTRAINT " +
      "CHECK rides the v1 commit, ALTER ADD validates existing rows, " +
      "DROP lifts the gate, the table reports its constraints, " +
      "non-CHECK kinds refuse") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_natcons_").toString
    try {
      spark.conf.set("spark.sql.catalog.gnc",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gnc.root", root)
      val path = s"$root/ns/t"
      // CREATE-time constraint: gated from the very first write
      spark.sql("CREATE TABLE gnc.ns.t (a BIGINT, b STRING, " +
        "CONSTRAINT a_pos CHECK (a > 0))")
      spark.sql("INSERT INTO gnc.ns.t VALUES (1, 'x')")
      val e1 = intercept[Exception] {
        spark.sql("INSERT INTO gnc.ns.t VALUES (-1, 'y')")
      }
      assert(e1.getMessage.contains("a_pos"))
      // a typo'd column fails the CREATE, not the first INSERT
      val e2 = intercept[Exception] {
        spark.sql("CREATE TABLE gnc.ns.bad (a BIGINT, " +
          "CONSTRAINT oops CHECK (nosuch > 0))")
      }
      assert(e2.getMessage.contains("nosuch"))
      // ALTER ADD validates ALL existing rows first
      val e3 = intercept[Exception] {
        spark.sql("ALTER TABLE gnc.ns.t ADD CONSTRAINT b_is_z " +
          "CHECK (b = 'z')")
      }
      assert(e3.getMessage.toLowerCase.contains("violat"))
      spark.sql("ALTER TABLE gnc.ns.t ADD CONSTRAINT b_short " +
        "CHECK (length(b) <= 3)")
      val e4 = intercept[Exception] {
        spark.sql("INSERT INTO gnc.ns.t VALUES (2, 'toolong')")
      }
      assert(e4.getMessage.contains("b_short"))
      // the loaded table REPORTS its constraints (DESCRIBE surface)
      val cat = spark.sessionState.catalogManager.catalog("gnc")
        .asInstanceOf[graft.sources.CommitLogCatalog]
      val tbl = cat.loadTable(org.apache.spark.sql.connector.catalog
        .Identifier.of(Array("ns"), "t"))
      assert(tbl.constraints().map(_.name()).toSeq.sorted ===
        Seq("a_pos", "b_short"))
      // DROP lifts the gate; IF EXISTS tolerates absence; bare
      // DROP of a missing name refuses
      spark.sql("ALTER TABLE gnc.ns.t DROP CONSTRAINT b_short")
      spark.sql("INSERT INTO gnc.ns.t VALUES (3, 'toolong')")
      spark.sql("ALTER TABLE gnc.ns.t DROP CONSTRAINT IF EXISTS nope")
      val e5 = intercept[Exception] {
        spark.sql("ALTER TABLE gnc.ns.t DROP CONSTRAINT nope")
      }
      assert(e5.getMessage.contains("nope"))
      // informational kinds refuse loudly — nothing fake-durable
      val e6 = intercept[Exception] {
        spark.sql("CREATE TABLE gnc.ns.pk (a BIGINT, " +
          "CONSTRAINT p PRIMARY KEY (a))")
      }
      assert(e6.getMessage.contains("informational"))
      spark.sql("DROP TABLE gnc.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gnc")
      spark.conf.unset("spark.sql.catalog.gnc.root")
      rm(root + "/x")
    }
  }

  test("declared NOT NULL is write-side enforced: programmatic NULL " +
      "values refuse in the gate, omission refuses before staging, " +
      "SQL INSERT refuses analyzer-side, nullable columns stay free") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_notnull_").toString
    try {
      spark.conf.set("spark.sql.catalog.gnn",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gnn.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gnn.ns.t (a BIGINT NOT NULL, b STRING)")
      import spark.implicits._
      CommitLog.append(spark, path, Seq((1L, "x")).toDF("a", "b"))
      val vBefore = CommitLog.currentVersion(spark, path).get
      // a programmatic NULL under the non-nullable schema refuses in
      // the gate (Spark's analyzer never sees this frame; without
      // the gate the NULL would land and `a IS NULL` would be
      // optimizer-folded to false — unfindable corruption)
      val e1 = intercept[IllegalStateException] {
        CommitLog.append(spark, path,
          Seq((Some(2L), "y"), (None, "z")).toDF("a", "b"))
      }
      assert(e1.getMessage.contains("NOT NULL column 'a'"))
      // omission refuses BEFORE staging (every new row would be NULL)
      val e2 = intercept[IllegalArgumentException] {
        CommitLog.append(spark, path, Seq("w").toDF("b"))
      }
      assert(e2.getMessage.contains("omits NOT NULL column"))
      // SQL INSERT refuses analyzer-side (Spark's own contract)
      intercept[Exception] {
        spark.sql("INSERT INTO gnn.ns.t VALUES (NULL, 'v')")
      }
      assert(CommitLog.currentVersion(spark, path).get === vBefore)
      // the nullable column keeps SQL freedom
      spark.sql("INSERT INTO gnn.ns.t VALUES (3, NULL)")
      assert(spark.sql("SELECT count(*) FROM gnn.ns.t").head()
        .getLong(0) === 2L)
      spark.sql("DROP TABLE gnn.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gnn")
      spark.conf.unset("spark.sql.catalog.gnn.root")
      rm(root + "/x")
    }
  }

  test("reader protocol: feature-bearing manifests stamp their " +
      "requirement, a future protocol refuses at parse (never " +
      "mis-serves), legacy absent reads as protocol 1") {
    val t = tmpTable()
    try {
      // a plain append needs only the base protocol — no stamp, so
      // pre-feature tables stay byte-compatible with the
      // pre-protocol era
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      val m1 = scala.io.Source.fromFile(
        s"$t/_commits/${"%020d".format(1)}.manifest").mkString
      assert(!m1.contains("protocol"))
      // a deletion vector CHANGES ROW CONTENT for readers — its
      // manifest requires protocol 2
      CommitLog.deleteVectored(spark, t, col("id") === 2L)
      val m2 = scala.io.Source.fromFile(
        s"$t/_commits/${"%020d".format(2)}.manifest").mkString
      assert(m2.contains("\"protocol\":2"))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0)))
      // forge a future-protocol manifest: EVERY surface must refuse
      // at parse rather than serve rows it cannot interpret
      val forged = new java.io.File(
        s"$t/_commits/${"%020d".format(3)}.manifest")
      val w = new java.io.FileWriter(forged)
      w.write("""{"version":3,"baseVersion":2,"protocol":99,""" +
        """"op":"append","segments":[]}""")
      w.close()
      val e = intercept[IllegalStateException] {
        CommitLog.read(spark, t).collect()
      }
      assert(e.getMessage.contains("requires reader protocol 99"))
      // time travel BELOW the future record still serves (the old
      // manifests are fully understood)
      assert(sortedRows(CommitLog.read(spark, t,
        asOfVersion = Some(1L))) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    } finally rm(t)
  }

  test("vacuum sweeps large dead sets on executors: 70 dropped " +
      "segments (past the driver-loop threshold) all delete, " +
      "retained state intact") {
    val t = tmpTable()
    try {
      import spark.implicits._
      (1 to 70).foreach(i =>
        CommitLog.append(spark, t, Seq((i.toLong, s"r$i", i * 1.0))
          .toDF("id", "name", "v")))
      CommitLog.compact(spark, t, targetRowsPerFile = 1000L)
      val deadBefore = CommitLog.vacuumPlan(spark, t,
        retainVersions = 1)._1.size
      assert(deadBefore === 70, s"expected 70 dead segments, $deadBefore")
      withRetentionCheckOff {
        CommitLog.vacuum(spark, t, retainVersions = 1)
      }
      val dataDirs = Option(new java.io.File(s"$t/data").listFiles)
        .map(_.length).getOrElse(0)
      assert(dataDirs === 1,
        s"expected only the compacted segment to survive, $dataDirs")
      assert(CommitLog.read(spark, t).count() === 70L)
    } finally rm(t)
  }

  test("RTAS resets identity marks: the replace commit records the " +
      "explicit-empty mark set — allocation on the new definition " +
      "cannot continue from the dead table's high-water mark") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_identrtas_").toString
    try {
      spark.conf.set("spark.sql.catalog.gri",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gri.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gri.ns.t (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY, name STRING)")
      import spark.implicits._
      CommitLog.append(spark, path, Seq("a", "b", "c").toDF("name"))
      assert(CommitLog.decodeIdentity(
        CommitLog.snapshot(spark, path).get.identity) ===
        Map("id" -> 3L))
      // REPLACE: one atomic commit; the old marks must NOT inherit
      spark.sql("REPLACE TABLE gri.ns.t AS SELECT 5 AS x")
      assert(CommitLog.decodeIdentity(
        CommitLog.snapshot(spark, path).get.identity) === Map.empty)
      spark.sql("DROP TABLE gri.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gri")
      spark.conf.unset("spark.sql.catalog.gri.root")
      rm(root + "/x")
    }
  }

  test("CONVERT from plain parquet: zero-copy adoption (v1 references " +
      "the source in place), stats backfill makes it born prunable, " +
      "DML lands under the table root and the source stays intact") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_convert_").toString
    val src = s"$root/plain"
    val t = s"$root/tbl"
    try {
      df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .write.parquet(src)
      assert(CommitLog.convertParquet(spark, src, t,
        statsCols = Seq("id")) === 1L)
      // zero-copy: the only segment IS the source directory
      val snap = CommitLog.snapshot(spark, t).get
      assert(snap.segments === Seq(src) && snap.op === "convert")
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
      // born prunable: the backfilled sidecar lives in the source
      assert(new java.io.File(s"$src/_stats.json").exists())
      // the change feed serves the conversion as the initial insert
      assert(CommitLog.changeFeed(spark, t, 0L)
        .filter(col("_change_type") === "insert").count() === 3L)
      // DML rewrites land under the TABLE root; the source bytes are
      // untouched and still read as plain parquet with original rows
      CommitLog.delete(spark, t, col("id") === 2L)
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (3L, "c", 3.0)))
      assert(CommitLog.snapshot(spark, t).get.segments
        .forall(_.startsWith(t)), "rewrite referenced outside the root")
      assert(spark.read.parquet(src).count() === 3L)
      // refusals: nesting and existing tables
      intercept[IllegalArgumentException] {
        CommitLog.convertParquet(spark, s"$t/data", t)
      }
      intercept[IllegalArgumentException] {
        CommitLog.convertParquet(spark, src, t)
      }
    } finally rm(src)
  }

  test("ALTER COLUMN SET/DROP DEFAULT: metadata-only commit, future " +
      "omissions fill the NEW default, existing rows untouched, " +
      "non-constant or typo'd defaults refuse at the DDL") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_setdef_").toString
    try {
      spark.conf.set("spark.sql.catalog.gsd",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gsd.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gsd.ns.t (a BIGINT, " +
        "b STRING DEFAULT 'old')")
      spark.sql("INSERT INTO gsd.ns.t (a) VALUES (1)")
      // SET DEFAULT: one metadata-only commit; segments unchanged
      val segsBefore = CommitLog.snapshot(spark, path).get.segments
      spark.sql("ALTER TABLE gsd.ns.t ALTER COLUMN b SET DEFAULT 'new'")
      val snap = CommitLog.snapshot(spark, path).get
      assert(snap.op === "set_default" &&
        snap.segments === segsBefore)
      // future omissions fill the NEW default on BOTH write paths;
      // the pre-DDL row keeps its materialized value
      spark.sql("INSERT INTO gsd.ns.t (a) VALUES (2)")
      import spark.implicits._
      CommitLog.append(spark, path, Seq(3L).toDF("a"))
      val got = spark.sql("SELECT a, b FROM gsd.ns.t ORDER BY a")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got === Seq((1L, "old"), (2L, "new"), (3L, "new")))
      // DROP DEFAULT: omissions revert to NULL
      spark.sql("ALTER TABLE gsd.ns.t ALTER COLUMN b DROP DEFAULT")
      spark.sql("INSERT INTO gsd.ns.t (a) VALUES (4)")
      assert(spark.sql("SELECT b FROM gsd.ns.t WHERE a = 4")
        .head().isNullAt(0))
      // refusals: column-referencing and unknown-column defaults
      val e1 = intercept[Exception] {
        CommitLog.setColumnDefault(spark, path, "b", Some("a || 'x'"))
      }
      assert(e1.getMessage.contains("constants only"))
      intercept[IllegalArgumentException] {
        CommitLog.setColumnDefault(spark, path, "nosuch", Some("'x'"))
      }
      spark.sql("DROP TABLE gsd.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gsd")
      spark.conf.unset("spark.sql.catalog.gsd.root")
      rm(root + "/x")
    }
  }

  test("connector scan optimizations are stock: MIN/MAX/COUNT push " +
      "into the parquet footers when enabled (no row decode)") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 9.0)))
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      try {
        val agg = spark.read.format("commitlog").option("path", t)
          .load().agg(min(col("v")), max(col("v")), count(lit(1)))
        val planned = agg.queryExecution.executedPlan.toString
        assert(planned.contains("PushedAggregation") &&
          planned.contains("MIN(v)"),
          s"aggregate not pushed:\n$planned")
        assert(agg.collect()(0).toSeq === Seq(1.0, 9.0, 2L))
      } finally
        spark.conf.unset("spark.sql.parquet.aggregatePushdown")
    } finally rm(t)
  }

  test("DSv2 write: mode(append) commits through the protocol, " +
      "mode(overwrite) replaces as one op=overwrite version, history " +
      "and time travel stay intact") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      df((2L, "b", 2.0)).write.format("commitlog")
        .option("path", t).mode("append").save()
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      df((9L, "z", 9.0)).write.format("commitlog")
        .option("path", t).mode("overwrite").save()
      assert(sortedRows(CommitLog.read(spark, t)) === Seq((9L, "z", 9.0)))
      assert(CommitLog.history(spark, t).select("op")
        .collect().map(_.getString(0)).toSeq ===
        Seq("append", "append", "overwrite"))
      // the replaced content is still one time travel away
      assert(sortedRows(CommitLog.read(spark, t, Some(2L))) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      // the change feed treats overwrite as a rewrite: loud by default
      intercept[IllegalStateException] {
        CommitLog.changeFeed(spark, t, afterVersion = 2L)
      }
    } finally rm(t)
  }

  test("TIMESTAMP AS OF: resolves to the latest commit at-or-before " +
      "the cutoff, refuses a pre-history cutoff, works through the " +
      "DSv2 option") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      val t1 = CommitLog.snapshot(spark, t).get.ts.get
      Thread.sleep(5)
      CommitLog.append(spark, t, df((2L, "b", 2.0)))
      val t2 = CommitLog.snapshot(spark, t).get.ts.get
      assert(t2 > t1) // publishes serialize; the clock read is inside
      // cutoff between the commits → version 1
      assert(sortedRows(CommitLog.readAsOfTimestamp(spark, t, t1)) ===
        Seq((1L, "a", 1.0)))
      // cutoff at/after the latest → latest
      assert(sortedRows(CommitLog.readAsOfTimestamp(spark, t, t2 + 1000))
        === Seq((1L, "a", 1.0), (2L, "b", 2.0)))
      // before history → loud
      val e = intercept[IllegalStateException] {
        CommitLog.readAsOfTimestamp(spark, t, t1 - 1000)
      }
      assert(e.getMessage.contains("earliest"))
      // DSv2 option
      val viaFormat = spark.read.format("commitlog")
        .option("path", t).option("timestampAsOf", t1.toString).load()
      assert(sortedRows(viaFormat) === Seq((1L, "a", 1.0)))
      intercept[IllegalArgumentException] {
        spark.read.format("commitlog").option("path", t)
          .option("versionAsOf", "1")
          .option("timestampAsOf", t1.toString).load()
      }
      // history surfaces the stamp
      val ts = CommitLog.history(spark, t)
        .select("commit_ts").collect().map(_.getLong(0)).toSeq
      assert(ts === Seq(t1, t2))
    } finally rm(t)
  }

  test("compactBucketed: hash-disjoint buckets bound DML write " +
      "amplification — a single-key delete rewrites exactly one " +
      "bucket; content preserved") {
    val t = tmpTable()
    try {
      import spark.implicits._
      val rows = (1L to 64L).map(i => (i, s"n$i", i * 1.0))
      CommitLog.append(spark, t, rows.toDF("id", "name", "v"))
      CommitLog.append(spark, t,
        (65L to 96L).map(i => (i, s"n$i", i * 1.0)).toDF("id", "name", "v"))
      val pre = sortedRows(CommitLog.read(spark, t))
      CommitLogStats.compactBucketed(spark, t, Seq("id"),
        nBuckets = 8, statsCols = Seq("id"))
      assert(sortedRows(CommitLog.read(spark, t)) === pre)
      val bucketed = CommitLog.snapshot(spark, t).get.segments.toSet
      assert(bucketed.size === 8)
      // rows with the same key hash land in the same segment: deleting
      // one key touches exactly its bucket
      val (_, n) = CommitLog.delete(spark, t, col("id") === 42L)
      assert(n === 1L)
      val post = CommitLog.snapshot(spark, t).get.segments.toSet
      assert((bucketed & post).size === 7)
      assert(sortedRows(CommitLog.read(spark, t)) ===
        pre.filterNot(_._1 == 42L))
    } finally rm(t)
  }

  test("metadataAgg: answers COUNT/MIN/MAX from sidecars alone, " +
      "refuses a partial answer, all-NULL and empty handled as SQL") {
    val t = tmpTable()
    try {
      CommitLogStats.appendWithStats(spark, t,
        df((1L, "a", 5.0), (2L, "b", 1.0)), Seq("v"))
      CommitLogStats.appendWithStats(spark, t,
        df((3L, "c", 9.0)), Seq("v"))
      assert(CommitLogStats.metadataAgg(spark, t, "v") ===
        Some((3L, Some(1.0), Some(9.0))))
      // an all-NULL segment contributes rows but no bounds
      import spark.implicits._
      val nulls = Seq((4L, "d")).toDF("id", "name")
        .withColumn("v", lit(null).cast("double"))
        .select(col("id"), col("name"), col("v"))
      val seg = CommitLog.writeSegment(spark, t, nulls)
      CommitLogStats.writeSidecar(spark, seg, Seq("v"))
      val base = CommitLog.snapshot(spark, t).get
      assert(CommitLog.tryPublish(spark, t, CommitLog.Snapshot(
        base.version + 1, base.segments :+ seg, base.version, "append")))
      assert(CommitLogStats.metadataAgg(spark, t, "v") ===
        Some((4L, Some(1.0), Some(9.0))))
      // a sidecar-less foreign segment forbids the metadata answer
      CommitLog.append(spark, t, df((5L, "e", 100.0)))
      assert(CommitLogStats.metadataAgg(spark, t, "v") === None)
      // ...but time travel to the fully-covered version (v3: the two
      // stats appends + the null segment) still answers
      assert(CommitLogStats.metadataAgg(spark, t, "v",
        asOfVersion = Some(3L)) === Some((4L, Some(1.0), Some(9.0))))
    } finally rm(t)
  }

  // ---- CHECK constraints / clone / restore ---------------------------

  test("appendChecked: clean append lands, violation refuses " +
      "atomically (no version, garbage vacuumable), NULL check is a " +
      "violation") {
    val t = tmpTable()
    try {
      val checks = Map("v_positive" -> (col("v") > 0.0))
      assert(CommitLog.appendChecked(spark, t,
        df((1L, "a", 1.0)), checks) === 1L)
      val e = intercept[IllegalStateException] {
        CommitLog.appendChecked(spark, t,
          df((2L, "b", -2.0), (3L, "c", 3.0), (4L, "d", -4.0)), checks)
      }
      assert(e.getMessage.contains("v_positive") &&
        e.getMessage.contains("2 row"))
      assert(CommitLog.versions(spark, t) === Seq(1L))
      assert(sortedRows(CommitLog.read(spark, t)) === Seq((1L, "a", 1.0)))
      // the refused segment is unreferenced garbage: vacuum removes it
      withRetentionCheckOff {
        CommitLog.vacuum(spark, t, retainVersions = 1) }
      assert(sortedRows(CommitLog.read(spark, t)) === Seq((1L, "a", 1.0)))
      // NULL predicate result = violation (SQL CHECK accepts only TRUE)
      import spark.implicits._
      val withNull = Seq((5L, "e")).toDF("id", "name")
        .withColumn("v", lit(null).cast("double"))
      intercept[IllegalStateException] {
        CommitLog.appendChecked(spark, t, withNull, checks)
      }
    } finally rm(t)
  }

  test("cloneTable: zero-copy segment sharing, divergence isolation " +
      "both ways, existing target refused") {
    val t = tmpTable()
    val c = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      CommitLog.append(spark, t, df((2L, "b", 2.0)))
      assert(CommitLog.cloneTable(spark, t, c) === 1L)
      // shallow: the clone references the SOURCE's segment paths
      assert(CommitLog.snapshot(spark, c).get.segments ===
        CommitLog.snapshot(spark, t).get.segments)
      assert(sortedRows(CommitLog.read(spark, c)) ===
        sortedRows(CommitLog.read(spark, t)))
      // divergence: writes to one never show in the other
      CommitLog.append(spark, t, df((3L, "c", 3.0)))
      CommitLog.append(spark, c, df((9L, "z", 9.0)))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
      assert(sortedRows(CommitLog.read(spark, c)) ===
        Seq((1L, "a", 1.0), (2L, "b", 2.0), (9L, "z", 9.0)))
      intercept[IllegalArgumentException] {
        CommitLog.cloneTable(spark, t, c)
      }
    } finally { rm(t); rm(c) }
  }

  test("restore: rolls content back as a NEW commit, history intact, " +
      "schema restored across an evolution, no-op at current, " +
      "vacuumed target loud") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      import spark.implicits._
      CommitLog.appendEvolve(spark, t,
        Seq((2L, "b", 2.0, "x")).toDF("id", "name", "v", "note"))
      assert(CommitLog.read(spark, t).columns.length === 4)
      val v = CommitLog.restore(spark, t, toVersion = 1L)
      assert(v === 3L)
      // restored content AND schema are version 1's
      assert(CommitLog.read(spark, t).columns.toSeq ===
        Seq("id", "name", "v"))
      assert(sortedRows(CommitLog.read(spark, t)) === Seq((1L, "a", 1.0)))
      // the rolled-back version is still readable (history preserved)
      assert(CommitLog.read(spark, t, Some(2L)).count() === 2L)
      // restore to the current version commits nothing
      assert(CommitLog.restore(spark, t, toVersion = 3L) === 3L)
      assert(CommitLog.versions(spark, t) === Seq(1L, 2L, 3L))
      intercept[IllegalStateException] {
        CommitLog.restore(spark, t, toVersion = 99L)
      }
    } finally rm(t)
  }

  // ---- three-clause MERGE INTO ---------------------------------------

  test("mergeInto: delete-before-update clause order, CDC recorded, " +
      "untouched segments survive, counts exact") {
    val t = tmpTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, df((1L, "F", 10.0), (2L, "O", 20.0)))
      CommitLog.append(spark, t, df((3L, "O", 30.0), (4L, "F", 40.0)))
      val untouchedSeg = CommitLog.snapshot(spark, t).get.segments.head
      // source hits only segment 2 (keys 3, 4) + inserts key 9
      val source = Seq((3L, 300.0), (4L, 400.0), (9L, 900.0))
        .toDF("id", "newv")
        .withColumn("name", lit("I"))
        .withColumn("v", col("newv") / 10.0)
      val (v, nUpd, nDel, nIns) = CommitLog.mergeInto(spark, t, source,
        Seq("id"),
        whenMatchedUpdate = Map("v" -> CommitLog.src("newv")),
        whenMatchedDelete = Some(col("name") === "F"))
      assert((v, nUpd, nDel, nIns) === (3L, 1L, 1L, 1L))
      // id=4 (F) deleted, id=3 updated to 300, id=9 inserted as
      // (9, "I", 90.0) — insert takes the SOURCE's name/v columns
      assert(sortedRows(CommitLog.read(spark, t)) === Seq(
        (1L, "F", 10.0), (2L, "O", 20.0), (3L, "O", 300.0),
        (9L, "I", 90.0)))
      // segment 1 held no matched key: still referenced verbatim
      assert(CommitLog.snapshot(spark, t).get.segments
        .contains(untouchedSeg))
      // CDC: the merge_into version feeds delete + both images + insert
      val feed = CommitLog.changeFeed(spark, t, afterVersion = 2L)
        .collect().map(r => (r.getAs[String]("_change_type"),
          r.getAs[Long]("id"))).toSet
      assert(feed === Set(("delete", 4L), ("update_preimage", 3L),
        ("update_postimage", 3L), ("insert", 9L)))
    } finally rm(t)
  }

  test("mergeInto: duplicate source keys refuse loudly; insert-only " +
      "merge works; clause-less call refuses; matched-miss is a no-op") {
    val t = tmpTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      val dup = Seq((5L, 1.0), (5L, 2.0)).toDF("id", "newv")
      val e = intercept[IllegalStateException] {
        CommitLog.mergeInto(spark, t, dup, Seq("id"),
          whenMatchedUpdate = Map("v" -> CommitLog.src("newv")))
      }
      assert(e.getMessage.contains("duplicate"))
      // insert-only: no touched segments, still commits
      val src2 = Seq((7L, "g", 7.0)).toDF("id", "name", "v")
      val (v2, u2, d2, i2) = CommitLog.mergeInto(spark, t, src2,
        Seq("id"), whenNotMatchedInsert = true)
      assert((v2, u2, d2, i2) === (2L, 0L, 0L, 1L))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (7L, "g", 7.0)))
      // update-only merge whose source misses every key: no commit
      val src3 = Seq((99L, 9.0)).toDF("id", "newv")
      val (v3, u3, d3, i3) = CommitLog.mergeInto(spark, t, src3,
        Seq("id"),
        whenMatchedUpdate = Map("v" -> CommitLog.src("newv")),
        whenNotMatchedInsert = false)
      assert((v3, u3, d3, i3) === (2L, 0L, 0L, 0L))
      intercept[IllegalArgumentException] {
        CommitLog.mergeInto(spark, t, src3, Seq("id"),
          whenNotMatchedInsert = false)
      }
    } finally rm(t)
  }

  test("mergeInto lost-update law: a merge that loses the version " +
      "race recomputes against the winner's state") {
    val t = tmpTable()
    try {
      import spark.implicits._
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      // steal version 2 between the merge's snapshot read and publish
      val base = CommitLog.snapshot(spark, t).get
      val seg = CommitLog.writeSegment(spark, t, df((2L, "b", 2.0)))
      assert(CommitLog.tryPublish(spark, t, CommitLog.Snapshot(
        base.version + 1, base.segments :+ seg, base.version, "append")))
      val source = Seq((2L, 200.0)).toDF("id", "newv")
      val (v, nUpd, _, _) = CommitLog.mergeInto(spark, t, source,
        Seq("id"),
        whenMatchedUpdate = Map("v" -> CommitLog.src("newv")),
        whenNotMatchedInsert = false)
      // the merge observed the winner's row and updated it
      assert((v, nUpd) === (3L, 1L))
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 1.0), (2L, "b", 200.0)))
    } finally rm(t)
  }

  // ---- schema evolution ----------------------------------------------

  test("appendEvolve: added column is NULL for prior segments, column " +
      "order is stable, time travel keeps the old column set, type " +
      "change refuses loudly") {
    val t = tmpTable()
    try {
      import spark.implicits._
      CommitLog.appendEvolve(spark, t,
        Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
      CommitLog.appendEvolve(spark, t,
        Seq((3L, "c", 30.0)).toDF("id", "name", "score"))
      val cur = CommitLog.read(spark, t)
      assert(cur.columns.toSeq === Seq("id", "name", "score"))
      val rows = cur.collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)))).toSeq.sortBy(_._1)
      assert(rows === Seq((1L, "a", None), (2L, "b", None),
        (3L, "c", Some(30.0))))
      // time travel: v1 still has exactly its own columns
      assert(CommitLog.read(spark, t, Some(1L)).columns.toSeq ===
        Seq("id", "name"))
      // a type change is a rewrite, not an evolution
      val e = intercept[IllegalStateException] {
        CommitLog.appendEvolve(spark, t,
          Seq(("x", "d", 1.0)).toDF("id", "name", "score"))
      }
      assert(e.getMessage.contains("id") &&
        e.getMessage.contains("bigint"))
      // incoming may omit an existing column — NULLs, symmetrically
      CommitLog.appendEvolve(spark, t, Seq((4L, 40.0)).toDF("id", "score"))
      val r4 = CommitLog.read(spark, t).filter(col("id") === 4L)
        .collect()(0)
      assert(r4.isNullAt(1) && r4.getDouble(2) === 40.0)
    } finally rm(t)
  }

  test("evolved schema survives plain append, compact, DML, and merge; " +
      "stats skipping reads under the pinned schema") {
    val t = tmpTable()
    try {
      import spark.implicits._
      CommitLog.appendEvolve(spark, t,
        Seq((1L, "a", 1.0)).toDF("id", "name", "v"))
      CommitLog.appendEvolve(spark, t,
        Seq((2L, "b", 2.0, "extra")).toDF("id", "name", "v", "note"))
      // plain append (schema-less writer) carries the recorded schema
      CommitLog.append(spark, t, Seq((3L, "c", 3.0)).toDF("id", "name", "v"))
      assert(CommitLog.read(spark, t).columns.toSeq ===
        Seq("id", "name", "v", "note"))
      // compact: rewritten single segment, schema intact, NULLs intact
      CommitLog.compact(spark, t, targetRowsPerFile = 100L)
      val afterCompact = CommitLog.read(spark, t)
      assert(afterCompact.columns.toSeq === Seq("id", "name", "v", "note"))
      assert(afterCompact.filter(col("note").isNull).count() === 2L)
      // DML on the evolved column set
      val (_, nUpd) = CommitLog.update(spark, t, col("id") === 1L,
        Map("note" -> lit("patched")))
      assert(nUpd === 1L)
      assert(CommitLog.read(spark, t)
        .filter(col("note") === "patched").count() === 1L)
      // merge keyed on id accepts the evolved shape
      val (_, ins, repl) = CommitLog.merge(spark, t,
        Seq((3L, "c2", 3.5, "m"), (9L, "i", 9.0, "n"))
          .toDF("id", "name", "v", "note"), Seq("id"))
      assert((ins, repl) === (1L, 1L))
      // stats skipping under the pinned schema: sidecars written after
      // evolution still plan correctly
      CommitLogStats.appendWithStats(spark, t,
        Seq((10L, "j", 100.0, "z")).toDF("id", "name", "v", "note"),
        Seq("v"))
      // merge's rewritten segment has no sidecar → conservatively
      // kept; the stats-carrying segment is kept on range
      val plan = CommitLogStats.planSkipping(spark, t, "v", 50.0, 200.0)
      assert(plan.kept.size === 2 && plan.pruned.isEmpty)
      val skipped = CommitLogStats.readSkipping(spark, t, "v", 50.0, 200.0)
      assert(skipped.columns.toSeq === Seq("id", "name", "v", "note"))
      assert(skipped.collect().map(_.getLong(0)).toSeq === Seq(10L))
    } finally rm(t)
  }

  test("sidecar string stats with backslash escapes round-trip exactly; " +
      "skipping never prunes a matching segment (no-false-negative)") {
    import spark.implicits._
    val t = tmpTable()
    try {
      // bounds whose sidecar encodings contain backslash-n / -r / -quote
      // SEQUENCES: a chained-replace decoder corrupts them (C:\names
      // encodes as C:\\names; decoding \\ first restores \n, then the
      // \n pass turns it into a newline → min/max too small/large →
      // silent mis-prune). The single-scan decoder must round-trip.
      val tricky = Seq("C:\\names", "a\\rb", "x\\\"q", "line1\nline2",
        "cr\rhere", "plain")
      CommitLogStats.appendWithStats(spark, t,
        tricky.zipWithIndex.map { case (s, i) => (i.toLong, s) }
          .toDF("id", "s"), Seq("s"))
      val side = CommitLogStats.readSidecar(spark,
        CommitLog.snapshot(spark, t).get.segments.head).get
      val cs = side.cols("s")
      val utf8sorted = tricky.sortWith((a, b) =>
        java.util.Arrays.compareUnsigned(
          a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0)
      assert(cs.min === Some(utf8sorted.head))
      assert(cs.max === Some(utf8sorted.last))
      // a probe equal to the true max must keep the segment — with the
      // corrupted decode ("C:\names" max would decode with a newline,
      // sorting BELOW the probe) the segment would be pruned
      val plan = CommitLogStats.planSkipping(spark, t, "s",
        utf8sorted.last, utf8sorted.last)
      assert(plan.kept.size === 1 && plan.pruned.isEmpty)
      val got = CommitLogStats.readSkipping(spark, t, "s",
        utf8sorted.last, utf8sorted.last).collect()
      assert(got.map(_.getString(1)).toSeq === Seq(utf8sorted.last))
    } finally rm(t)
  }

  test("pre-epoch timestamp stats encode floor-correct: boundary probes " +
      "agree between sidecar and Instant/LocalDateTime encodings") {
    import spark.implicits._
    val t = tmpTable()
    try {
      // 1969-12-31 23:59:59.25 UTC — getTime truncation-toward-zero
      // would encode this 1s too high and a probe AT the true min
      // would prune the segment
      val pre = java.sql.Timestamp.from(
        java.time.Instant.parse("1969-12-31T23:59:59.250Z"))
      val post = java.sql.Timestamp.from(
        java.time.Instant.parse("1970-01-02T00:00:00.500Z"))
      CommitLogStats.appendWithStats(spark, t,
        Seq((1L, pre), (2L, post)).toDF("id", "ts"), Seq("ts"))
      // probe exactly [min, min] via Instant (floor-correct encoding)
      val plan = CommitLogStats.planSkipping(spark, t, "ts",
        java.time.Instant.parse("1969-12-31T23:59:59.250Z"),
        java.time.Instant.parse("1969-12-31T23:59:59.250Z"))
      assert(plan.kept.size === 1 && plan.pruned.isEmpty)
      // a probe range strictly BEFORE the true min must prune
      val plan2 = CommitLogStats.planSkipping(spark, t, "ts",
        java.time.Instant.parse("1969-12-31T00:00:00Z"),
        java.time.Instant.parse("1969-12-31T23:59:59.249Z"))
      assert(plan2.kept.isEmpty && plan2.pruned.size === 1)
      // and the same boundary via java.sql.Timestamp probes agrees
      val plan3 = CommitLogStats.planSkipping(spark, t, "ts", pre, pre)
      assert(plan3.kept.size === 1)
    } finally rm(t)
  }

  test("a SQL-created table's zero-segment 'create' commit is a no-op " +
      "for changeFeed/changes/stream, and the empty snapshot batch-" +
      "reads as an empty frame of the declared schema") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_catalog2_").toString
    try {
      spark.conf.set("spark.sql.catalog.gcr",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gcr.root", root)
      spark.sql("CREATE TABLE gcr.ns.t (id BIGINT, name STRING, v DOUBLE)")
      val path = s"$root/ns/t"
      // batch read surfaces agree on the created-but-empty snapshot:
      // empty frame of the declared shape, not an exception
      val viaFormat = spark.read.format("commitlog").option("path", path)
        .load()
      assert(viaFormat.columns.toSeq === Seq("id", "name", "v"))
      assert(viaFormat.count() === 0L)
      spark.sql("INSERT INTO gcr.ns.t VALUES (1, 'a', 1.0)")
      // changes/changeFeed from version 0 cross the create commit
      val ch = CommitLog.changes(spark, path, 0L)
      assert(ch.map(_._1) === Seq(2L))
      val feed = CommitLog.changeFeed(spark, path, 0L)
      assert(feed.select("_change_type", "_commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("insert", 2L)))
      // streaming from startingVersion=1 crosses the create commit too
      import org.apache.spark.sql.streaming.Trigger
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_cr_out_").toString
      val q = spark.readStream.format("commitlog").option("path", path)
        .load().writeStream.format("memory").queryName("gcr_stream")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$outDir/cp").start()
      q.awaitTermination(60000)
      assert(spark.sql("SELECT id FROM gcr_stream").collect()
        .map(_.getLong(0)).toSeq === Seq(1L))
      spark.sql("DROP TABLE gcr.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gcr")
      spark.conf.unset("spark.sql.catalog.gcr.root")
      rm(root + "/x")
    }
  }

  // descend through adaptive wrappers to reach the real scan leaves
  private def planLeaves(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planLeaves(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      planLeaves(s.plan)
    case other => other.children.flatMap(planLeaves) :+ other
  }

  private def scannedSegments(df: DataFrame): Seq[String] = {
    df.collect() // force execution so adaptive plans are final
    planLeaves(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        // the CBO stats wrapper hides the FileScan — unwrap first
        (b.scan match {
          case w: graft.sources.CommitLogStatsScan => w.innerScan
          case s => s
        }) match {
          case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            f.fileIndex.inputFiles.toSeq
              .map(p => p.substring(0, p.lastIndexOf('/')))
          case _ => Seq.empty
        }
    }.flatten.distinct
  }

  test("SQL/DSv2 read path consumes sidecar skipping: a selective " +
      "predicate through the catalog reads fewer segments than live, " +
      "with identical results to the full-scan filter") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_catalog3_").toString
    try {
      spark.conf.set("spark.sql.catalog.gsk",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gsk.root", root)
      spark.sql("CREATE TABLE gsk.ns.t (id BIGINT, name STRING, v DOUBLE)")
      val path = s"$root/ns/t"
      // four stats-carrying segments with disjoint id ranges
      for (b <- 0 until 4)
        CommitLogStats.appendWithStats(spark, path,
          df((b * 10 + 1L, s"n$b", b + 1.0), (b * 10 + 5L, s"m$b", b + 1.5)),
          Seq("id", "v"))
      val live = CommitLog.snapshot(spark, path).get.segments.size
      assert(live === 4)
      // selective range: only segment 0 (ids 1..5) can match
      val q = spark.sql("SELECT id, name FROM gsk.ns.t WHERE id <= 5")
      val segs = scannedSegments(q)
      assert(segs.size === 1, s"expected 1 kept segment, read $segs")
      assert(q.collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 5L))
      // equality probe through format("commitlog") prunes the same way
      val q2 = spark.read.format("commitlog").option("path", path)
        .load().filter(col("id") === 21L).select("id", "v")
      assert(scannedSegments(q2).size === 1)
      assert(q2.collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq === Seq((21L, 3.0)))
      // a probe hitting nothing reads ZERO segments and returns empty
      val q3 = spark.sql("SELECT id FROM gsk.ns.t WHERE id > 1000")
      assert(scannedSegments(q3).isEmpty && q3.count() === 0L)
      // no-false-negative law on the SQL surface: skipped scan equals
      // the full-scan filter for a range spanning two segments
      val got = spark.sql(
        "SELECT id FROM gsk.ns.t WHERE id BETWEEN 5 AND 15 ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(got === Seq(5L, 11L, 15L))
      // a column with NO stats recorded keeps everything (conservative)
      val q4 = spark.sql("SELECT id FROM gsk.ns.t WHERE name = 'n0'")
      assert(scannedSegments(q4).size === 4)
      assert(q4.collect().map(_.getLong(0)).toSeq === Seq(1L))
      spark.sql("DROP TABLE gsk.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gsk")
      spark.conf.unset("spark.sql.catalog.gsk.root")
      rm(root + "/x")
    }
  }

  test("re-pointing a catalog's root in a live session takes effect: " +
      "the cached catalog instance re-resolves root from the conf") {
    val root1 = java.nio.file.Files
      .createTempDirectory("graft_reroot1_").toString
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_reroot2_").toString
    try {
      spark.conf.set("spark.sql.catalog.grr",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.grr.root", root1)
      spark.sql("CREATE TABLE grr.ns.t (id BIGINT)")
      spark.sql("INSERT INTO grr.ns.t VALUES (1)")
      assert(spark.sql("SELECT id FROM grr.ns.t").collect()
        .map(_.getLong(0)).toSeq === Seq(1L))
      // re-point the SAME catalog name at a different root — Spark
      // keeps the cached plugin instance, so without live-conf
      // resolution this would keep serving (or crash on) root1
      spark.conf.set("spark.sql.catalog.grr.root", root2)
      spark.sql("CREATE TABLE grr.ns.t (id BIGINT)")
      spark.sql("INSERT INTO grr.ns.t VALUES (2), (3)")
      assert(spark.sql("SELECT id FROM grr.ns.t").collect()
        .map(_.getLong(0)).toSeq.sorted === Seq(2L, 3L))
      assert(CommitLog.read(spark, s"$root1/ns/t").collect()
        .map(_.getLong(0)).toSeq === Seq(1L)) // root1 untouched
    } finally {
      spark.conf.unset("spark.sql.catalog.grr")
      spark.conf.unset("spark.sql.catalog.grr.root")
      rm(root1 + "/x"); rm(root2 + "/x")
    }
  }

  test("CREATE TABLE PARTITIONED BY: INSERTs land one segment per " +
      "partition value, SQL probes prune, INSERT OVERWRITE stays " +
      "partitioned, non-identity transforms refuse") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ddlpart_").toString
    try {
      spark.conf.set("spark.sql.catalog.gdp",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gdp.root", root)
      spark.sql("CREATE TABLE gdp.ns.t (id BIGINT, region STRING, " +
        "v DOUBLE) PARTITIONED BY (region)")
      val path = s"$root/ns/t"
      assert(CommitLog.partitionColumns(spark, path) ===
        Some(Seq("region")))
      spark.sql("INSERT INTO gdp.ns.t VALUES (1, 'us', 1.0), " +
        "(2, 'eu', 2.0), (3, 'us', 3.0)")
      // one segment per region, each with a min=max sidecar
      assert(CommitLog.snapshot(spark, path).get.segments.size === 2)
      // the partition column survives in the data
      assert(spark.sql("SELECT region FROM gdp.ns.t WHERE id = 1")
        .collect()(0).getString(0) === "us")
      // equality probe on the partition column scans 1 segment
      val q = spark.sql("SELECT id FROM gdp.ns.t WHERE region = 'eu'")
      assert(scannedSegments(q).size === 1)
      assert(q.collect().map(_.getLong(0)).toSeq === Seq(2L))
      // DESCRIBE surfaces the partitioning
      val desc = spark.sql("DESCRIBE TABLE gdp.ns.t").collect()
        .map(_.getString(0))
      assert(desc.contains("# Partitioning") ||
        desc.exists(_.contains("region")), desc.mkString(","))
      // a second INSERT appends partition-pure segments (no merge
      // of partitions across commits — 2 more segments)
      spark.sql("INSERT INTO gdp.ns.t VALUES (4, 'eu', 4.0), " +
        "(5, 'ap', 5.0)")
      assert(CommitLog.snapshot(spark, path).get.segments.size === 4)
      // INSERT OVERWRITE replaces with a partitioned layout
      spark.sql("INSERT OVERWRITE gdp.ns.t VALUES (9, 'us', 9.0), " +
        "(10, 'eu', 10.0)")
      val snap = CommitLog.snapshot(spark, path).get
      assert(snap.op === "overwrite" && snap.segments.size === 2)
      val q2 = spark.sql("SELECT id FROM gdp.ns.t WHERE region = 'us'")
      assert(scannedSegments(q2).size === 1)
      assert(q2.collect().map(_.getLong(0)).toSeq === Seq(9L))
      // non-identity transforms refuse loudly
      val e = intercept[UnsupportedOperationException] {
        spark.sql("CREATE TABLE gdp.ns.bad (id BIGINT, ts TIMESTAMP) " +
          "PARTITIONED BY (days(ts))")
      }
      assert(e.getMessage.contains("identity"))
      spark.sql("DROP TABLE gdp.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gdp")
      spark.conf.unset("spark.sql.catalog.gdp.root")
      rm(root + "/x")
    }
  }

  test("CALL procedures: optimize_cluster / optimize_bucket / compact " +
      "/ vacuum / restore / clone_table drive the lifecycle from SQL, " +
      "each returning its committed version") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_proc_").toString
    try {
      spark.conf.set("spark.sql.catalog.gpr",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gpr.root", root)
      val path = s"$root/ns/t"
      // scattered ingest: 3 appends, every segment spans the id range
      for (i <- 0 until 3)
        CommitLog.append(spark, path, (0 until 20).filter(_ % 3 == i)
          .map(k => (k.toLong, s"n$k", k * 1.0))
          .toDF("id", "name", "v"))
      // OPTIMIZE via CALL: 4 range-disjoint segments, stats on id
      val v1 = spark.sql("CALL gpr.system.optimize_cluster(" +
        "table => 'ns.t', cluster_by => 'id', segments => 4)")
        .collect()(0).getLong(0)
      assert(v1 === 4L)
      assert(CommitLog.snapshot(spark, path).get.segments.size === 4)
      val plan = CommitLogStats.planSkipping(spark, path, "id", 0L, 4L)
      assert(plan.kept.size === 1 && plan.pruned.size === 3)
      // bucket OPTIMIZE via CALL
      val v2 = spark.sql("CALL gpr.system.optimize_bucket(" +
        "table => 'ns.t', keys => 'id', buckets => 2)")
        .collect()(0).getLong(0)
      assert(v2 === 5L)
      // compact with the default target_rows (parameter default used)
      val v3 = spark.sql("CALL gpr.system.compact(table => 'ns.t')")
        .collect()(0).getLong(0)
      assert(v3 === 6L)
      // restore to the clustered version — content identical
      val v4 = spark.sql("CALL gpr.system.restore(" +
        "table => 'ns.t', version => 4)").collect()(0).getLong(0)
      assert(v4 === 7L)
      assert(CommitLog.read(spark, path).count() === 20L)
      // clone, then vacuum the source down to 2 retained versions
      spark.sql("CALL gpr.system.clone_table(" +
        "source => 'ns.t', target => 'ns.t2')")
      assert(CommitLog.read(spark, s"$root/ns/t2").count() === 20L)
      spark.sql("CALL gpr.system.vacuum(table => 'ns.t', retain => 2)")
      assert(CommitLog.versions(spark, path) === Seq(6L, 7L))
      assert(CommitLog.read(spark, path).count() === 20L)
      // unknown procedure refuses (Spark wraps the catalog's error,
      // which names the available procedures, in FAILED_TO_LOAD_ROUTINE)
      val e = intercept[Exception] {
        spark.sql("CALL gpr.system.nope(table => 'ns.t')")
      }
      val messages = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(messages.contains("FAILED_TO_LOAD_ROUTINE") ||
        messages.contains("available"))
    } finally {
      spark.conf.unset("spark.sql.catalog.gpr")
      spark.conf.unset("spark.sql.catalog.gpr.root")
      rm(root + "/x")
    }
  }

  test("negative-zero stats: a segment whose max is -0.0 is KEPT by " +
      "a >= 0.0 probe (SQL equality, not IEEE total order)") {
    import spark.implicits._
    val t = tmpTable()
    try {
      CommitLogStats.appendWithStats(spark, t,
        Seq((1L, -0.0), (2L, -1.5)).toDF("id", "v"), Seq("v"))
      // the sidecar's canonical form normalizes the zero: recorded
      // max must compare equal-to-zero under Double.compare, so the
      // probe decision can't depend on the writer's sign bit
      val side = CommitLogStats.readSidecar(spark,
        CommitLog.snapshot(spark, t).get.segments.head).get
      val mx = side.cols("v").max.get.asInstanceOf[Double]
      assert(java.lang.Double.compare(mx, 0.0) === 0,
        s"sidecar max $mx must be normalized +0.0")
      val plan = CommitLogStats.planSkipping(spark, t, "v", 0.0, 10.0)
      assert(plan.kept.size === 1,
        "-0.0 max must not prune the [0.0, 10.0] probe")
      assert(CommitLogStats.readSkipping(spark, t, "v", 0.0, 10.0)
        .collect().map(_.getLong(0)).toSeq === Seq(1L))
    } finally rm(t)
  }

  test("appendPartitioned: one segment per partition value in one " +
      "commit; equality probes prune through BOTH the programmatic " +
      "planner and the SQL read path; DML rewrites only the touched " +
      "partition; NULL and unsupported-type partitions refuse") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_part_").toString
    try {
      spark.conf.set("spark.sql.catalog.gpt",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gpt.root", root)
      val path = s"$root/ns/t"
      val data = Seq(
        (1L, "us", 1.0), (2L, "us", 2.0), (3L, "eu=1/x", 3.0),
        (4L, "ap", 4.0), (5L, "ap", 5.0))
        .toDF("id", "region", "v")
      val v = CommitLogStats.appendPartitioned(spark, path, data,
        partitionCols = Seq("region"), statsCols = Seq("id"))
      assert(v === 1L)
      val snap = CommitLog.snapshot(spark, path).get
      assert(snap.segments.size === 3, "one segment per region")
      // partition columns survive IN the data
      assert(CommitLog.read(spark, path).columns.toSeq ===
        Seq("id", "region", "v"))
      // programmatic pruning: equality probe keeps one segment —
      // including the special-char value that exercises path escaping
      val plan = CommitLogStats.planSkipping(spark, path, "region",
        "eu=1/x", "eu=1/x")
      assert(plan.kept.size === 1 && plan.pruned.size === 2)
      assert(CommitLogStats.readSkipping(spark, path, "region",
        "eu=1/x", "eu=1/x").collect().map(_.getLong(0)).toSeq === Seq(3L))
      // SQL read path prunes the same way (sidecar min=max=value)
      val q = spark.sql("SELECT id FROM gpt.ns.t WHERE region = 'us'")
      assert(scannedSegments(q).size === 1)
      assert(q.collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 2L))
      // the extra stats column prunes on ranges across partitions
      val idPlan = CommitLogStats.planSkipping(spark, path, "id", 4L, 5L)
      assert(idPlan.kept.size === 1)
      // DML write amplification is bounded to the touched partition
      val pre = CommitLog.snapshot(spark, path).get.segments.toSet
      CommitLog.delete(spark, path, col("id") === 4L)
      val post = CommitLog.snapshot(spark, path).get.segments.toSet
      assert((pre -- post).size === 1, "only one partition rewritten")
      assert((pre & post).size === 2, "other partitions untouched")
      // refusals: NULL partition values; non-scalar partition types
      val eNull = intercept[IllegalArgumentException] {
        CommitLogStats.appendPartitioned(spark, path,
          Seq((9L, null: String, 9.0)).toDF("id", "region", "v"),
          Seq("region"))
      }
      assert(eNull.getMessage.contains("NULL partition"))
      val eType = intercept[IllegalArgumentException] {
        CommitLogStats.appendPartitioned(spark, path,
          Seq((9L, 1.5, 9.0)).toDF("id", "region", "v"), Seq("v"))
      }
      assert(eType.getMessage.contains("only STRING / integral"))
      // empty strings alias NULL's staging directory — refuse BEFORE
      // any segment rename, with a clear message
      val eEmpty = intercept[IllegalArgumentException] {
        CommitLogStats.appendPartitioned(spark, path,
          Seq((9L, "", 9.0)).toDF("id", "region", "v"), Seq("region"))
      }
      assert(eEmpty.getMessage.contains("empty-string partition"))
      // a NULL slice value refuses with a clear message, not a
      // NumberFormatException from the staging-directory parse
      val eSlice = intercept[IllegalArgumentException] {
        CommitLogStats.appendSliced(spark, path,
          Seq((Some(1), 9L), (None, 10L)).toDF("sl", "id")
            .select(col("sl").cast("int").as("sl"), col("id")),
          "sl", Seq("id"))
      }
      assert(eSlice.getMessage.contains("NULL slice"))
    } finally {
      spark.conf.unset("spark.sql.catalog.gpt")
      spark.conf.unset("spark.sql.catalog.gpt.root")
      rm(root + "/x")
    }
  }

  test("manifest-store seam: the lost-update law holds against a " +
      "contended conditional-put object store, and BREAKS under a " +
      "blind-PUT store — the law rests on exactly this primitive") {
    val t = tmpTable()
    // write-through fake S3: an exists-CHECK followed by a plain PUT
    // is the race a conditional PUT closes; the artificial delay
    // widens the window so contending appends genuinely interleave,
    // and the synchronized recheck emulates server-side If-None-Match
    val conditionalPut = new CommitLog.ConditionalPutStore(
      (dst: String, content: Array[Byte]) => {
        val p = java.nio.file.Paths.get(dst)
        val existsAtCheck = java.nio.file.Files.exists(p)
        Thread.sleep(30) // the check-to-put window
        if (existsAtCheck) false
        else CommitLogSpec.fakeStoreLock.synchronized {
          if (java.nio.file.Files.exists(p)) false
          else { java.nio.file.Files.write(p, content); true }
        }
      })
    try {
      CommitLog.registerManifestStore(t, conditionalPut)
      CommitLog.append(spark, t, df((1L, "base", 0.0)))
      // two genuinely concurrent appends: both enter the race window
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val fa = Future(CommitLog.append(spark, t, df((2L, "a", 2.0))))
      val fb = Future(CommitLog.append(spark, t, df((3L, "b", 3.0))))
      val (va, vb) = (Await.result(fa, 120.seconds),
        Await.result(fb, 120.seconds))
      assert(Set(va, vb) === Set(2L, 3L), "exactly one winner per version")
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "base", 0.0), (2L, "a", 2.0), (3L, "b", 3.0)),
        "no lost update: both writers' rows survive")
    } finally CommitLog.unregisterManifestStore(t)

    // negative control: blind PUT (no arbitration — what a naive S3
    // writer does). The interleaving is constructed DETERMINISTICALLY
    // (racing threads can serialize on a loaded box and pass by
    // luck): both writers read the same base snapshot, both publish
    // "version 2" — the second blind PUT overwrites the first
    // writer's commit, losing its update.
    val t2 = tmpTable()
    val blindPut = new CommitLog.ConditionalPutStore(
      (dst: String, content: Array[Byte]) => {
        java.nio.file.Files.write(java.nio.file.Paths.get(dst), content)
        true
      })
    try {
      CommitLog.registerManifestStore(t2, blindPut)
      CommitLog.append(spark, t2, df((1L, "base", 0.0)))
      val base = CommitLog.snapshot(spark, t2).get // both writers read v1
      val segA = CommitLog.writeSegment(spark, t2, df((2L, "a", 2.0)))
      val segB = CommitLog.writeSegment(spark, t2, df((3L, "b", 3.0)))
      val wonA = CommitLog.tryPublish(spark, t2, CommitLog.Snapshot(
        2L, base.segments :+ segA, 1L, "append"))
      val wonB = CommitLog.tryPublish(spark, t2, CommitLog.Snapshot(
        2L, base.segments :+ segB, 1L, "append"))
      assert(wonA && wonB, "a blind PUT reports success for BOTH")
      val ids = CommitLog.read(spark, t2).select("id").collect()
        .map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L),
        s"the second blind PUT must erase writer A's commit, read $ids")
    } finally {
      CommitLog.unregisterManifestStore(t2)
      rm(t2)
    }

    // registry boundary: a store registered for table X must not
    // capture a SIBLING whose path merely shares the character prefix
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val counting = new CommitLog.ConditionalPutStore(
      (dst: String, content: Array[Byte]) => {
        hits.incrementAndGet()
        val p = java.nio.file.Paths.get(dst)
        if (java.nio.file.Files.exists(p)) false
        else { java.nio.file.Files.write(p, content); true }
      })
    try {
      CommitLog.registerManifestStore(t, counting)
      val sibling = t + "_backup"
      CommitLog.append(spark, sibling, df((7L, "s", 7.0)))
      assert(hits.get() === 0,
        s"$sibling must not route through $t's registered store")
      CommitLog.append(spark, t, df((8L, "t", 8.0)))
      assert(hits.get() === 1)
      rm(sibling)
    } finally CommitLog.unregisterManifestStore(t)
    rm(t)
  }

  test("SQL UPDATE and MERGE INTO route through the bounded protocol " +
      "executor: clause order, insert conditions, CDC, duplicate-source " +
      "refusal, and loud unsupported shapes") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_sqldml_").toString
    try {
      spark.conf.set("spark.sql.catalog.gdm",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gdm.root", root)
      spark.sql("CREATE TABLE gdm.ns.t (id BIGINT, name STRING, v DOUBLE)")
      spark.sql("INSERT INTO gdm.ns.t VALUES (1, 'a', 1.0), " +
        "(2, 'b', 2.0), (3, 'c', 3.0)")
      val path = s"$root/ns/t"

      // UPDATE: expression SET over the WHERE subset; op recorded
      spark.sql("UPDATE gdm.ns.t SET v = v * 10, name = concat(name, " +
        "'!') WHERE id <= 2")
      assert(sortedRows(spark.sql("SELECT * FROM gdm.ns.t")) ===
        Seq((1L, "a!", 10.0), (2L, "b!", 20.0), (3L, "c", 3.0)))
      assert(CommitLog.snapshot(spark, path).get.op === "update")

      // MERGE: update-before-delete clause order is first-match-wins —
      // id=1 matches BOTH conditions and must update, not delete;
      // id=2 matches only the delete; id=9 inserts (condition-gated)
      Seq((1L, "A", 100.0), (2L, "B", -1.0), (9L, "z", 9.0),
        (10L, "tiny", 0.1))
        .toDF("id", "name", "v").createOrReplaceTempView("gdm_src")
      spark.sql(
        """MERGE INTO gdm.ns.t t USING gdm_src s ON t.id = s.id
          |WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v, name = s.name
          |WHEN MATCHED THEN DELETE
          |WHEN NOT MATCHED AND s.v > 1 THEN INSERT *""".stripMargin)
      assert(sortedRows(spark.sql("SELECT * FROM gdm.ns.t")) ===
        Seq((1L, "A", 100.0), (3L, "c", 3.0), (9L, "z", 9.0)))
      assert(CommitLog.snapshot(spark, path).get.op === "merge_into")
      // CDC recorded for the SQL merge: replay the change types
      val feed = CommitLog.changeFeed(spark, path,
        CommitLog.versions(spark, path).max - 1L)
      assert(feed.groupBy("_change_type").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap ===
        Map("delete" -> 1L, "update_preimage" -> 1L,
          "update_postimage" -> 1L, "insert" -> 1L))

      // duplicate source keys refuse loudly through SQL too
      Seq((3L, "x", 1.0), (3L, "y", 2.0)).toDF("id", "name", "v")
        .createOrReplaceTempView("gdm_dup")
      val dup = intercept[Exception] {
        spark.sql("MERGE INTO gdm.ns.t t USING gdm_dup s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET v = s.v")
      }
      assert(dup.getMessage.contains("duplicate keys"))

      // three-valued logic: a NULL-evaluating update condition means
      // the UPDATE clause is NOT taken and the row falls through to
      // the unconditional DELETE (first-match-wins) — an unguarded
      // `!NULL` would silently keep the row instead
      spark.sql("INSERT INTO gdm.ns.t VALUES (20, 'nul', 20.0)")
      Seq((java.lang.Long.valueOf(20L), "x",
        null.asInstanceOf[java.lang.Double]))
        .toDF("id", "name", "v").createOrReplaceTempView("gdm_nul")
      spark.sql(
        """MERGE INTO gdm.ns.t t USING gdm_nul s ON t.id = s.id
          |WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v
          |WHEN MATCHED THEN DELETE""".stripMargin)
      assert(spark.sql("SELECT COUNT(*) FROM gdm.ns.t WHERE id = 20")
        .collect()(0).getLong(0) === 0L,
        "NULL update condition must fall through to DELETE")

      // unsupported shapes fail loudly, not silently wrong
      val nonEqui = intercept[UnsupportedOperationException] {
        spark.sql("MERGE INTO gdm.ns.t t USING gdm_src s ON t.id > s.id " +
          "WHEN MATCHED THEN DELETE")
      }
      assert(nonEqui.getMessage.contains("equi-key"))
      // WHEN NOT MATCHED BY SOURCE is a supported clause (round 15):
      // an unconditional BY-SOURCE DELETE with an all-matching source
      // prunes exactly the unmatched remainder (full law coverage in
      // DmlRound15Spec). The source is MATERIALIZED pre-insert — a
      // view over the table would re-resolve the post-insert snapshot
      // (the catalog is stateless) and match everything.
      spark.sql("SELECT id FROM gdm.ns.t").collect()
        .map(r => (r.getLong(0), "s", 0.0)).toSeq
        .toDF("id", "name", "v")
        .createOrReplaceTempView("gdm_all")
      spark.sql("INSERT INTO gdm.ns.t VALUES (99, 'orphan', 99.0)")
      spark.sql(
        """MERGE INTO gdm.ns.t t USING gdm_all s ON t.id = s.id
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
      assert(spark.sql("SELECT COUNT(*) FROM gdm.ns.t WHERE id = 99")
        .collect()(0).getLong(0) === 0L,
        "BY-SOURCE DELETE must prune the unmatched row")
      spark.sql("DROP TABLE gdm.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gdm")
      spark.conf.unset("spark.sql.catalog.gdm.root")
      rm(root + "/x")
    }
  }

  test("metadata-only aggregates through SQL: COUNT/MIN/MAX over a " +
      "fully-sidecar'd table plan as LocalTableScan (zero data files), " +
      "including string min/max that footer pushdown refuses") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_catalog4_").toString
    try {
      spark.conf.set("spark.sql.catalog.gma",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gma.root", root)
      spark.sql("CREATE TABLE gma.ns.t (id BIGINT, name STRING, v DOUBLE)")
      val path = s"$root/ns/t"
      CommitLogStats.appendWithStats(spark, path,
        df((1L, "alpha", 1.0), (2L, "omega", 9.0)), Seq("id", "name", "v"))
      CommitLogStats.appendWithStats(spark, path,
        df((3L, "beta", -2.0)), Seq("id", "name", "v"))
      val agg = spark.sql("SELECT count(*) AS c, count(name) AS cn, " +
        "min(v) AS mnv, max(v) AS mxv, min(name) AS mnn, " +
        "max(name) AS mxn FROM gma.ns.t")
      assert(agg.collect()(0).toSeq ===
        Seq(3L, 3L, -2.0, 9.0, "alpha", "omega"))
      val leaves = planLeaves(agg.queryExecution.executedPlan)
      assert(leaves.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]),
        s"expected LocalTableScan:\n${agg.queryExecution.executedPlan}")
      assert(!leaves.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.BatchScanExec]),
        "metadata aggregate still opened a file scan")
      // a sidecar-less append breaks completeness → falls back to a
      // real scan, result identical
      CommitLog.append(spark, path, df((4L, "zeta", 99.0)))
      val agg2 = spark.sql(
        "SELECT count(*) AS c, max(v) AS mxv FROM gma.ns.t")
      assert(agg2.collect()(0).toSeq === Seq(4L, 99.0))
      assert(planLeaves(agg2.queryExecution.executedPlan).exists(
        _.isInstanceOf[
          org.apache.spark.sql.execution.datasources.v2.BatchScanExec]))
      // aggregates WITH a filter never take the metadata path
      val agg3 = spark.sql(
        "SELECT count(*) AS c FROM gma.ns.t WHERE v > 0")
      assert(agg3.collect()(0).getLong(0) === 3L)
      spark.sql("DROP TABLE gma.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gma")
      spark.conf.unset("spark.sql.catalog.gma.root")
      rm(root + "/x")
    }
  }

  test("deletion vectors: deleteVectored rewrites ZERO segments, every " +
      "read surface subtracts the vector, deletes compose and never " +
      "double-report, and metadata aggregates refuse until OPTIMIZE") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.append(spark, t, df((3L, "c", 3.0), (4L, "d", 4.0)))
      val before = CommitLog.snapshot(spark, t).get
      val (v1, n1) = CommitLog.deleteVectored(spark, t, col("id") === 2L)
      assert(n1 == 1L)
      val after = CommitLog.snapshot(spark, t).get
      // merge-on-read: SAME segment list, vector recorded
      assert(after.segments == before.segments)
      assert(after.dv.isDefined && after.op == "delete_dv")
      // programmatic read subtracts
      assert(sortedRows(CommitLog.read(spark, t)) ==
        Seq((1L, "a", 1.0), (3L, "c", 3.0), (4L, "d", 4.0)))
      // DSv2 / SQL surface subtracts (V1Scan bridge), filters apply
      val viaFormat = spark.read.format("commitlog").option("path", t)
        .load()
      assert(sortedRows(viaFormat) == sortedRows(CommitLog.read(spark, t)))
      assert(viaFormat.filter(col("id") >= 3L).count() == 2L)
      assert(viaFormat.filter(col("id") === 2L).count() == 0L)
      // time travel: the pre-delete version still serves the row
      assert(CommitLog.read(spark, t, Some(v1 - 1L))
        .filter(col("id") === 2L).count() == 1L)
      // second vectored delete composes; re-deleting id=2 is a no-op
      // (already-vector-deleted rows cannot re-match or re-report)
      val (v2, n2) = CommitLog.deleteVectored(spark, t,
        col("id") === 2L || col("id") === 3L)
      assert(v2 == v1 + 1L && n2 == 1L)
      assert(sortedRows(CommitLog.read(spark, t)) ==
        Seq((1L, "a", 1.0), (4L, "d", 4.0)))
      // CDC: each vectored delete recorded its rows exactly once
      val feed = CommitLog.changeFeed(spark, t, afterVersion = v1 - 1L)
      assert(feed.filter(col("_change_type") === "delete")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(2L, 3L))
      // DESCRIBE DETAIL surfaces the vector state without opening
      // data files
      val det = CommitLog.detail(spark, t).collect()(0)
      assert(det.getAs[Boolean]("has_deletion_vector") &&
        det.getAs[Long]("dv_rows") == 2L &&
        det.getAs[Long]("n_segments") == 2L)
      // a matching-nothing predicate commits no version
      val (v3, n3) = CommitLog.deleteVectored(spark, t, col("id") > 99L)
      assert(v3 == v2 && n3 == 0L)
      // metadata aggregates refuse under a DV (sidecar counts ignore
      // the vector)...
      assert(CommitLogStats.metadataAgg(spark, t, "id").isEmpty)
      // ...and compact MATERIALIZES: dv cleared, content preserved
      val cv = CommitLog.compact(spark, t, targetRowsPerFile = 10L)
      val materialized = CommitLog.snapshot(spark, t).get
      assert(materialized.version == cv && materialized.dv.isEmpty)
      assert(sortedRows(CommitLog.read(spark, t)) ==
        Seq((1L, "a", 1.0), (4L, "d", 4.0)))
    } finally rm(t)
  }

  test("bloom sidecars: point lookups on a hash-bucketed layout prune " +
      "to the key's bucket on the programmatic AND SQL surfaces, " +
      "min/max alone prunes nothing, and absent blooms stay " +
      "conservative") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_bloom_").toString
    try {
      spark.conf.set("spark.sql.catalog.gbl",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gbl.root", root)
      val path = s"$root/ns/t"
      CommitLog.append(spark, path,
        (0L until 400L).map(k => (k, s"name_$k")).toDF("id", "name"))
      // hash-bucket OPTIMIZE: every bucket spans the full id range
      CommitLogStats.compactBucketed(spark, path, Seq("id"), 8,
        Seq("id"))
      // min/max keeps ALL buckets for a point probe (layout is hashed)
      val noBloom = CommitLogStats.planSkipping(spark, path, "id",
        123L, 123L)
      assert(noBloom.kept.size == 8 && noBloom.pruned.isEmpty)
      // backfill id blooms first, then a PARTIAL-OVERLAP backfill of
      // id+name: the second pass builds only the absent name blooms
      // (no rename-over-existing, no rescan of id); third run no-ops
      assert(CommitLogStats.attachBlooms(spark, path, Seq("id")) == 8)
      assert(CommitLogStats.attachBlooms(spark, path,
        Seq("id", "name")) == 8)
      assert(CommitLogStats.attachBlooms(spark, path,
        Seq("id", "name")) == 0)
      // the point probe now prunes to the key's bucket (fpp 1e-6 →
      // false positives effectively impossible at this size)
      val plan = CommitLogStats.planSkipping(spark, path, "id",
        123L, 123L)
      assert(plan.kept.size == 1)
      assert(CommitLogStats.readSkipping(spark, path, "id", 123L, 123L)
        .select("name").collect().map(_.getString(0)).toSeq ==
        Seq("name_123"))
      // a definitely-absent key prunes EVERY bucket, result empty
      val absent = CommitLogStats.planSkipping(spark, path, "id",
        100123L, 100123L)
      assert(absent.kept.isEmpty)
      assert(CommitLogStats.readSkipping(spark, path, "id",
        100123L, 100123L).count() == 0L)
      // CALL attach_blooms is the SQL spelling of the backfill —
      // idempotent here since the programmatic pass just ran
      assert(spark.sql("CALL gbl.system.attach_blooms(" +
        "table => 'ns.t', columns => 'id,name')")
        .collect()(0).getLong(0) ==
        CommitLog.currentVersion(spark, path).get)
      // string bloom through the SQL surface: WHERE name = … scans
      // exactly the one bucket holding the row
      val q = spark.sql(
        "SELECT id FROM gbl.ns.t WHERE name = 'name_77'")
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(77L))
      assert(scannedSegments(q).size == 1)
      // IN-list keeps the union of the listed keys' buckets but not
      // all eight, and returns exactly the listed rows
      val inQ = spark.sql(
        "SELECT id FROM gbl.ns.t WHERE id IN (5, 123, 360)")
      assert(inQ.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(5L, 123L, 360L))
      val inScanned = scannedSegments(inQ).size
      assert(inScanned >= 1 && inScanned <= 3)
      // range probes ignore blooms (no false pruning): full range
      // still serves every row
      assert(spark.sql("SELECT count(*) AS n FROM gbl.ns.t " +
        "WHERE id >= 0 AND id < 400").collect()(0).getLong(0) == 400L)
    } finally rm(s"$root/ns/t")
  }

  test("timestampAsOf accepts ISO timestamp strings as well as epoch " +
      "millis, resolving to the same version") {
    import spark.implicits._
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "name"))
      val ts1 = CommitLog.snapshot(spark, t).get.ts.get
      CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "name"))
      def readAt(v: String) = spark.read.format("commitlog")
        .option("path", t).option("timestampAsOf", v).load().count()
      assert(readAt(ts1.toString) == 1L)
      val iso = java.time.Instant.ofEpochMilli(ts1)
        .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.toString
      assert(readAt(iso) == 1L)
      // a date-only cutoff BEFORE the first commit raises loudly
      intercept[IllegalStateException] { readAt("1999-01-01") }
    } finally rm(t)
  }

  test("DSv2 write with mergeSchema evolves the recorded schema " +
      "(add-only), matching appendEvolve; without it the write refuses") {
    import spark.implicits._
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "name"))
      val widened = Seq((2L, "b", 9.5)).toDF("id", "name", "score")
      intercept[Exception] {
        widened.write.format("commitlog").option("path", t)
          .mode("append").save()
      }
      widened.write.format("commitlog").option("path", t)
        .option("mergeSchema", "true").mode("append").save()
      val out = CommitLog.read(spark, t).orderBy("id").collect()
      assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
      // the pre-evolution row serves NULL for the added column
      assert(out(0).isNullAt(2) && out(1).getDouble(2) == 9.5)
    } finally rm(t)
  }

  test("concurrent vectored deletes: both land under OCC (the loser " +
      "rebases onto the winner's vector), no deletion is lost and " +
      "none double-reports") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t,
        df((0L until 40L).map(k => (k, s"n$k", k * 1.0)): _*))
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      def deleter(pred: org.apache.spark.sql.Column) =
        scala.concurrent.Future {
          gate.await(); CommitLog.deleteVectored(spark, t, pred)
        }
      val fa = deleter(col("id") % 10L === 3L) // 3,13,23,33
      val fb = deleter(col("id") % 10L === 7L) // 7,17,27,37
      gate.countDown()
      val (_, na) = scala.concurrent.Await.result(fa,
        scala.concurrent.duration.Duration("120s"))
      val (_, nb) = scala.concurrent.Await.result(fb,
        scala.concurrent.duration.Duration("120s"))
      pool.shutdown()
      assert(na == 4L && nb == 4L)
      // both deletions present; versions serialized to 3
      assert(CommitLog.currentVersion(spark, t) == Some(3L))
      assert(CommitLog.read(spark, t).count() == 32L)
      assert(CommitLog.read(spark, t)
        .filter(col("id") % 10L === 3L || col("id") % 10L === 7L)
        .count() == 0L)
      // CDC across both versions reports each deleted row exactly once
      val feed = CommitLog.changeFeed(spark, t, afterVersion = 1L)
        .filter(col("_change_type") === "delete")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(feed == Seq(3L, 7L, 13L, 17L, 23L, 27L, 33L, 37L))
    } finally rm(t)
  }

  test("DV'd reads through the no-conversion V1 bridge serve " +
      "timestamp, date, decimal, double and boolean columns exactly") {
    import spark.implicits._
    val t = tmpTable()
    try {
      val rows = (0L until 20L).map { k =>
        (k,
          java.sql.Timestamp.valueOf(s"2024-01-${(k % 28) + 1} 10:30:00"),
          java.sql.Date.valueOf(s"2024-02-${(k % 28) + 1}"),
          BigDecimal(k * 100 + 7).setScale(2),
          k * 1.5,
          k % 2 == 0)
      }.toDF("id", "ts", "d", "dec", "x", "flag")
      CommitLog.append(spark, t, rows)
      CommitLog.deleteVectored(spark, t, col("id") % 5L === 0L)
      val viaBridge = spark.read.format("commitlog")
        .option("path", t).load()
      val expected = CommitLog.read(spark, t)
      assert(viaBridge.count() == 16L && expected.count() == 16L)
      // every column round-trips identically through the bridge
      val a = viaBridge.orderBy("id").collect().map(_.toString).toSeq
      val b = expected.orderBy("id").collect().map(_.toString).toSeq
      assert(a == b)
      // filtered + pruned projection on exotic types
      assert(viaBridge.filter(col("flag") && col("dec") > 500)
        .select("ts").collect().length ==
        expected.filter(col("flag") && col("dec") > 500)
          .select("ts").collect().length)
      // aggregate over decimal through the bridge matches
      assert(viaBridge.agg(sum("dec")).collect()(0).getDecimal(0) ==
        expected.agg(sum("dec")).collect()(0).getDecimal(0))
    } finally rm(t)
  }

  test("incremental OPTIMIZE: only the unsorted tail rewrites, the " +
      "clustered chain is kept byte-identical, repeated calls no-op " +
      "at the depth-2 steady state, and probes touch <= 2 segments") {
    import spark.implicits._
    val t = tmpTable()
    try {
      def rows(ids: Seq[Long]): DataFrame =
        ids.map(k => (k, s"n$k")).toDF("id", "name")
      CommitLog.append(spark, t, rows(0L until 400L))
      CommitLogStats.compactClustered(spark, t, Seq("id", "name"), 4,
        Seq("id"))
      val base = CommitLog.snapshot(spark, t).get.segments
      assert(base.size == 4)
      // two scattered tail appends spanning the whole id range
      CommitLogStats.appendWithStats(spark, t,
        rows((0L until 600L by 6L) :+ 599L), Seq("id"))
      CommitLogStats.appendWithStats(spark, t,
        rows(3L until 600L by 6L), Seq("id"))
      val (v1, nRw, nKeep) = CommitLogStats.compactClusteredIncremental(
        spark, t, Seq("id", "name"), targetRowsPerSegment = 101L,
        statsCols = Seq("id"))
      assert(nRw == 2 && nKeep == 4)
      // the clustered chain survived byte-identical (same paths)
      val after = CommitLog.snapshot(spark, t).get
      assert(after.version == v1 &&
        base.forall(after.segments.contains))
      // content preserved
      assert(CommitLog.read(spark, t).count() == 400L + 101L + 100L)
      // a point probe opens at most 2 segments (1 kept + 1 rewritten)
      val plan = CommitLogStats.planSkipping(spark, t, "id", 150L, 150L)
      assert(plan.kept.size <= 2)
      // steady state: a second call is a NO-OP
      val (v2, nRw2, _) = CommitLogStats.compactClusteredIncremental(
        spark, t, Seq("id", "name"), 101L, Seq("id"))
      assert(v2 == v1 && nRw2 == 0)
      // a new scattered append raises the depth again → rewritten
      CommitLogStats.appendWithStats(spark, t,
        rows(1L until 600L by 6L), Seq("id"))
      val (v3, nRw3, _) = CommitLogStats.compactClusteredIncremental(
        spark, t, Seq("id", "name"), 101L, Seq("id"))
      assert(v3 > v2 && nRw3 >= 1)
      assert(CommitLog.read(spark, t).count() == 601L + 100L)
      // stats_by omitting the lead cluster column would make every
      // rewritten segment opaque to the NEXT call — refuse loudly
      val ex = intercept[IllegalArgumentException] {
        CommitLogStats.compactClusteredIncremental(spark, t,
          Seq("id", "name"), 101L, statsCols = Seq("name"))
      }
      assert(ex.getMessage.contains("lead cluster column"))
    } finally rm(t)
    // a stack of same-single-value appends (daily one-date ingest)
    // is REDUCIBLE: the degenerate [v,v] intervals are visible to
    // the depth sweep, the stack merges, and the table converges at
    // the two-segment steady state
    val t2 = tmpTable()
    try {
      import spark.implicits._
      (0 until 5).foreach(i =>
        CommitLogStats.appendWithStats(spark, t2,
          Seq((7L, s"r$i")).toDF("id", "name"), Seq("id")))
      val (_, rw, kp) = CommitLogStats.compactClusteredIncremental(
        spark, t2, Seq("id", "name"), 100L, Seq("id"))
      assert(rw == 4 && kp == 1)
      val (_, rw2, _) = CommitLogStats.compactClusteredIncremental(
        spark, t2, Seq("id", "name"), 100L, Seq("id"))
      assert(rw2 == 0)
      assert(CommitLog.read(spark, t2).count() == 5L)
    } finally rm(t2)
  }

  test("deletion vectors through SQL: CALL delete_vectored records a " +
      "vector (zero segments rewritten), catalog SELECTs subtract it " +
      "with sidecar skipping intact, and CALL compact materializes") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_dvsql_").toString
    try {
      spark.conf.set("spark.sql.catalog.gdv",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gdv.root", root)
      val path = s"$root/ns/t"
      // two range-disjoint sidecar'd segments
      CommitLogStats.appendWithStats(spark, path,
        (0L until 10L).map(k => (k, s"n$k")).toDF("id", "name"),
        Seq("id"))
      CommitLogStats.appendWithStats(spark, path,
        (10L until 20L).map(k => (k, s"n$k")).toDF("id", "name"),
        Seq("id"))
      val before = CommitLog.snapshot(spark, path).get
      val v = spark.sql("CALL gdv.system.delete_vectored(" +
        "table => 'ns.t', where => 'id % 2 = 1')")
        .collect()(0).getLong(0)
      assert(v == 3L)
      val after = CommitLog.snapshot(spark, path).get
      assert(after.segments == before.segments && after.dv.isDefined)
      // catalog SELECT subtracts the vector
      assert(spark.sql("SELECT count(*) AS n FROM gdv.ns.t")
        .collect()(0).getLong(0) == 10L)
      assert(spark.sql(
        "SELECT sum(id) AS s FROM gdv.ns.t WHERE id >= 10")
        .collect()(0).getLong(0) == (10L to 18L by 2).sum)
      // no-false-negative law on the SQL surface under a DV: a
      // selective predicate returns exactly the live matching rows
      assert(spark.sql("SELECT id FROM gdv.ns.t WHERE id < 5")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L))
      // CALL update_vectored: MoR update from SQL, commas inside the
      // SET expression handled
      spark.sql("CALL gdv.system.update_vectored(table => 'ns.t', " +
        "where => 'id = 4', " +
        "set => \"name = concat(name, '_u'), id = id + 100\")")
        .collect()
      assert(spark.sql(
        "SELECT name FROM gdv.ns.t WHERE id = 104")
        .collect().map(_.getString(0)).toSeq == Seq("n4_u"))
      assert(spark.sql("SELECT count(*) AS n FROM gdv.ns.t")
        .collect()(0).getLong(0) == 10L)
      // CALL compact materializes; SELECT unchanged, dv cleared
      spark.sql("CALL gdv.system.compact(table => 'ns.t')").collect()
      assert(CommitLog.snapshot(spark, path).get.dv.isEmpty)
      assert(spark.sql("SELECT count(*) AS n FROM gdv.ns.t")
        .collect()(0).getLong(0) == 10L)
    } finally rm(s"$root/ns/t")
  }

  test("vectored UPDATE: matched rows' old positions join the vector " +
      "and updated copies land as one appended segment — original " +
      "segments untouched, CDC pre/post recorded, compact materializes") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.append(spark, t, df((3L, "c", 3.0)))
      val before = CommitLog.snapshot(spark, t).get
      val (v, n) = CommitLog.updateVectored(spark, t,
        col("id") <= 2L, Map("v" -> (col("v") * 10.0)))
      assert(n == 2L)
      val after = CommitLog.snapshot(spark, t).get
      // old segments all still referenced, exactly one appended
      assert(after.segments.take(before.segments.size) ==
        before.segments && after.segments.size ==
        before.segments.size + 1 && after.dv.isDefined)
      assert(sortedRows(CommitLog.read(spark, t)) ==
        Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 3.0)))
      // DSv2 surface agrees; pre-update version time-travels
      assert(sortedRows(spark.read.format("commitlog")
        .option("path", t).load()) ==
        sortedRows(CommitLog.read(spark, t)))
      assert(sortedRows(CommitLog.read(spark, t, Some(v - 1L))) ==
        Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)))
      // CDC: pre and post images recorded
      val feed = CommitLog.changeFeed(spark, t, afterVersion = v - 1L)
      assert(feed.filter(col("_change_type") === "update_preimage")
        .select("v").collect().map(_.getDouble(0)).sorted.toSeq ==
        Seq(1.0, 2.0))
      assert(feed.filter(col("_change_type") === "update_postimage")
        .select("v").collect().map(_.getDouble(0)).sorted.toSeq ==
        Seq(10.0, 20.0))
      // composes with a vectored delete of an UPDATED row (matches
      // the new copy, not the dead original)
      val (_, nDel) = CommitLog.deleteVectored(spark, t,
        col("v") === 20.0)
      assert(nDel == 1L)
      assert(sortedRows(CommitLog.read(spark, t)) ==
        Seq((1L, "a", 10.0), (3L, "c", 3.0)))
      // compact materializes both vectors' effects
      CommitLog.compact(spark, t, 10L)
      assert(CommitLog.snapshot(spark, t).get.dv.isEmpty)
      assert(sortedRows(CommitLog.read(spark, t)) ==
        Seq((1L, "a", 10.0), (3L, "c", 3.0)))
      // unknown SET column fails fast
      val ex = intercept[IllegalArgumentException] {
        CommitLog.updateVectored(spark, t, lit(true),
          Map("nope" -> lit(1)))
      }
      assert(ex.getMessage.contains("nope"))
    } finally rm(t)
  }

  test("deletion vectors: appends and DML carry the vector (publish " +
      "guard refuses a drop), skipping reads subtract, clone/restore " +
      "propagate, and vacuum sweeps dead vectors only") {
    val t = tmpTable()
    try {
      CommitLogStats.appendWithStats(spark, t,
        df((1L, "a", 1.0), (2L, "b", 2.0)), Seq("id"))
      CommitLogStats.appendWithStats(spark, t,
        df((10L, "j", 10.0), (11L, "k", 11.0)), Seq("id"))
      CommitLog.deleteVectored(spark, t, col("id") === 10L)
      val dvSnap = CommitLog.snapshot(spark, t).get
      // append AFTER the vectored delete: dv carried, row stays dead
      CommitLogStats.appendWithStats(spark, t, df((20L, "t", 20.0)),
        Seq("id"))
      assert(CommitLog.snapshot(spark, t).get.dv == dvSnap.dv)
      // skipping read over the DV'd table subtracts
      assert(CommitLogStats.readSkipping(spark, t, "id", 10L, 30L)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(11L, 20L))
      // CoW DML whose only physical matches are vector-dead rows is
      // a TRUE no-op: no version committed, nothing rewritten (the
      // touched-segment scan runs over live rows only)
      val vBefore = CommitLog.currentVersion(spark, t).get
      val (vNoop, nNoop) = CommitLog.delete(spark, t,
        col("id") === 10L)
      assert(vNoop == vBefore && nNoop == 0L)
      val (vNoopU, nNoopU) = CommitLog.update(spark, t,
        col("id") === 10L, Map("name" -> lit("zz")))
      assert(vNoopU == vBefore && nNoopU == 0L)
      // copy-on-write DML on OTHER rows neither resurrects nor
      // re-reports the vector-deleted row
      val (_, nDel) = CommitLog.delete(spark, t, col("id") === 11L)
      assert(nDel == 1L)
      assert(CommitLog.read(spark, t).filter(col("id") === 10L)
        .count() == 0L)
      val (_, nUpd) = CommitLog.update(spark, t,
        col("id") >= 10L, Map("name" -> lit("z")))
      assert(nUpd == 1L) // row 20 only; 10 is dead, 11 CoW-deleted
      assert(CommitLog.read(spark, t).filter(col("id") === 10L)
        .count() == 0L)
      // keyed MERGE INTO under an active vector: the dead id=10 row
      // is NOT MATCHED (inserts as a fresh row), the live id=20 row
      // matches and updates
      val (_, mUpd, _, mIns) = CommitLog.mergeInto(spark, t,
        df((10L, "ghost", 0.0), (20L, "mrg", 20.0)), Seq("id"),
        whenMatchedUpdate = Map("name" -> CommitLog.src("name")))
      assert(mUpd == 1L && mIns == 1L)
      val after10 = CommitLog.read(spark, t).filter(col("id") === 10L)
        .select("name").collect().map(_.getString(0)).toSeq
      assert(after10 == Seq("ghost"))
      assert(CommitLog.read(spark, t).filter(col("id") === 20L)
        .select("name").collect().map(_.getString(0)).toSeq ==
        Seq("mrg"))
      // remove the freshly-inserted ghost so the later id=10
      // liveness assertions keep probing the VECTOR-dead original
      CommitLog.delete(spark, t, col("name") === "ghost"): Unit
      // the publish guard: a commit keeping base segments while
      // dropping the base's dv refuses loudly
      val cur = CommitLog.snapshot(spark, t).get
      assert(cur.dv.isDefined)
      val bad = cur.copy(version = cur.version + 1L, dv = None,
        baseVersion = cur.version, op = "append")
      val ex = intercept[IllegalStateException] {
        CommitLog.tryPublish(spark, t, bad)
      }
      assert(ex.getMessage.contains("deletion vector"))
      // clone carries the vector; restore to the DV'd version does too
      val t3 = tmpTable()
      try {
        CommitLog.cloneTable(spark, t, t3)
        assert(CommitLog.snapshot(spark, t3).get.dv == cur.dv)
        assert(CommitLog.read(spark, t3).filter(col("id") === 10L)
          .count() == 0L)
      } finally rm(t3)
      // restore to the pre-delete version resurrects BY DESIGN
      // (exempt from the guard); restore back re-applies the vector
      val preDv = dvSnap.version - 1L
      CommitLog.restore(spark, t, preDv)
      assert(CommitLog.read(spark, t).filter(col("id") === 10L)
        .count() == 1L)
      CommitLog.restore(spark, t, dvSnap.version)
      assert(CommitLog.snapshot(spark, t).get.dv == dvSnap.dv)
      assert(CommitLog.read(spark, t).filter(col("id") === 10L)
        .count() == 0L)
      // past maxDvRows the vectored UPDATE auto-falls-back to the
      // copy-on-write update: an 'update' commit, same SET applied,
      // CDC pre/post recorded, vector still applied
      val (vUFb, nUFb) = CommitLog.updateVectored(spark, t,
        col("id") === 2L, Map("name" -> lit("fb")), maxDvRows = 1L)
      val ufbSnap = CommitLog.snapshot(spark, t).get
      assert(nUFb == 1L && ufbSnap.version == vUFb &&
        ufbSnap.op == "update")
      assert(CommitLog.read(spark, t).filter(col("id") === 2L)
        .select("name").collect().map(_.getString(0)).toSeq ==
        Seq("fb"))
      assert(CommitLog.changeFeed(spark, t, vUFb - 1L)
        .filter(col("_change_type").startsWith("update"))
        .count() == 2L) // pre + post image
      // past maxDvRows the vectored delete AUTO-FALLS-BACK to
      // copy-on-write: a 'delete' commit, same rows gone, vector of
      // the untouched segments carried — not a refusal
      val (vFb, nFb) = CommitLog.deleteVectored(spark, t,
        col("id") === 1L, maxDvRows = 1L)
      val fbSnap = CommitLog.snapshot(spark, t).get
      assert(nFb == 1L && fbSnap.version == vFb &&
        fbSnap.op == "delete" && fbSnap.dv.isDefined)
      assert(CommitLog.read(spark, t).filter(col("id") === 1L)
        .count() == 0L)
      assert(CommitLog.read(spark, t).filter(col("id") === 10L)
        .count() == 0L) // vector still applied after the fallback
      // vacuum: live vectors survive (reads stay correct), vectors
      // referenced only by dropped versions are swept
      val dvRoot = new java.io.File(s"$t/_dv")
      CommitLog.compact(spark, t, 10L) // materialize → dv now dead-ish
      (1 to 3).foreach(_ =>
        CommitLog.append(spark, t, df((30L, "x", 30.0))))
      // dry run names the dead vector (and deletes nothing)
      val (_, _, planDv, _) = CommitLog.vacuumPlan(spark, t, 2)
      assert(planDv.nonEmpty && dvRoot.exists())
      CommitLog.vacuum(spark, t, retainVersions = 2)
      assert(!dvRoot.exists() || dvRoot.listFiles().isEmpty)
      assert(CommitLog.read(spark, t).filter(col("id") === 10L)
        .count() == 0L)
    } finally rm(t)
  }

  test("SQL ALTER TABLE ADD COLUMNS: metadata-only evolve commit " +
      "(zero data files), old segments serve NULL, time travel keeps " +
      "its own columns, and every unsound ALTER refuses loudly") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ddl_evolve_").toString
    try {
      spark.conf.set("spark.sql.catalog.gde",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gde.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gde.ns.t (id BIGINT, name STRING)")
      spark.sql("INSERT INTO gde.ns.t VALUES (1, 'a'), (2, 'b')")
      val pre = CommitLog.snapshot(spark, path).get
      spark.sql(
        "ALTER TABLE gde.ns.t ADD COLUMNS (score DOUBLE, tag STRING)")
      val post = CommitLog.snapshot(spark, path).get
      // metadata-only: SAME segment list, one new version, op 'evolve'
      assert(post.version == pre.version + 1L &&
        post.op == "evolve" && post.segments == pre.segments)
      // the evolved read serves NULL for pre-evolution rows
      val out = spark.sql(
        "SELECT id, name, score, tag FROM gde.ns.t ORDER BY id")
        .collect()
      assert(out.length == 2 && out.forall(r =>
        r.isNullAt(2) && r.isNullAt(3)))
      // an INSERT carrying the new columns lands through plain append
      spark.sql("INSERT INTO gde.ns.t VALUES (3, 'c', 9.5, 'x')")
      val r3 = spark.sql("SELECT score, tag FROM gde.ns.t WHERE id = 3")
        .collect()(0)
      assert(r3.getDouble(0) == 9.5 && r3.getString(1) == "x")
      // time travel below the evolve keeps that version's own columns
      assert(CommitLog.read(spark, path, Some(pre.version))
        .columns.toSeq == Seq("id", "name"))
      // the evolve commit is change-free for CDC and the change feed
      assert(CommitLog.changes(spark, path, 0L)
        .map(_._1).toSet == Set(2L, 4L))
      assert(CommitLog.changeFeed(spark, path, 0L)
        .select("_commit_version").distinct().collect()
        .map(_.getLong(0)).toSet == Set(2L, 4L))
      // unsound ALTERs refuse loudly, naming the reason
      def refuses(sql: String, needle: String): Unit = {
        val e = intercept[Exception](spark.sql(sql))
        def msgs(t: Throwable): Seq[String] =
          Option(t).toSeq.flatMap(x =>
            Option(x.getMessage).toSeq ++ msgs(x.getCause))
        assert(msgs(e).exists(_.contains(needle)),
          s"expected '$needle' in: ${msgs(e).mkString(" | ")}")
      }
      refuses("ALTER TABLE gde.ns.t ADD COLUMNS (score2 DOUBLE FIRST)",
        "FIRST/AFTER")
      refuses("ALTER TABLE gde.ns.t ADD COLUMNS (s3 DOUBLE NOT NULL)",
        "nullable")
      // DROP/RENAME are now sound (column mapping, own laws) — the
      // remaining unsound shapes still refuse:
      // the type change is refused by Spark's own analyzer before it
      // can reach the catalog — equally loud
      refuses("ALTER TABLE gde.ns.t ALTER COLUMN id TYPE INT",
        "NOT_SUPPORTED_CHANGE_COLUMN")
      // re-adding an existing column refuses even at the same type
      refuses("ALTER TABLE gde.ns.t ADD COLUMNS (score DOUBLE)",
        "already exists")
      spark.sql("DROP TABLE gde.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gde")
      spark.conf.unset("spark.sql.catalog.gde.root")
      rm(root + "/x")
    }
  }

  test("manifest segment-count guard: a growing commit past the hard " +
      "bound refuses naming OPTIMIZE, a count-reducing commit always " +
      "lands, and DESCRIBE DETAIL surfaces the distance to the bound") {
    val t = tmpTable()
    try {
      (1 to 4).foreach(i =>
        CommitLog.append(spark, t, df((i.toLong, s"n$i", i * 1.0))))
      assert(CommitLog.snapshot(spark, t).get.segments.size == 4)
      spark.conf.set("spark.graft.manifest.maxSegments", "2")
      try {
        // DESCRIBE DETAIL shows the (configured) bound and distance
        val det = CommitLog.detail(spark, t).collect()(0)
        assert(det.getAs[Long]("segment_bound") == 2L &&
          det.getAs[Long]("segments_to_bound") == -2L)
        // growing 4 → 5 past the bound refuses, naming the remedy
        val e = intercept[IllegalStateException] {
          CommitLog.append(spark, t, df((9L, "x", 9.0)))
        }
        assert(e.getMessage.contains("maxSegments") &&
          e.getMessage.contains("compact"))
        // count-reducing commits are the way back — always land
        CommitLog.compact(spark, t, targetRowsPerFile = 100L)
        assert(CommitLog.snapshot(spark, t).get.segments.size == 1)
        // and growth under the bound lands again
        CommitLog.append(spark, t, df((9L, "x", 9.0)))
        assert(CommitLog.read(spark, t).count() == 5L)
      } finally spark.conf.unset("spark.graft.manifest.maxSegments")
    } finally rm(t)
  }

  test("BOOLEAN partition columns work end-to-end: partitioned append " +
      "lands one segment per value, the sidecar encodes false<true, " +
      "and an equality probe prunes to the value's segment") {
    val t = tmpTable()
    try {
      import spark.implicits._
      val rows = (1L to 20L).map(k => (k, k % 3 == 0, k * 1.0))
        .toDF("id", "flag", "v")
      CommitLogStats.appendPartitioned(spark, t, rows,
        partitionCols = Seq("flag"), statsCols = Seq("id"))
      assert(CommitLog.snapshot(spark, t).get.segments.size == 2)
      // the read round-trips every row (the ADVICE defect threw at
      // sidecar-write time, orphaning staged segments)
      assert(CommitLog.read(spark, t).count() == 20L)
      val trues = CommitLog.read(spark, t).filter(col("flag"))
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(trues == (3L to 18L by 3L))
      // boolean equality probes prune via the long-tagged sidecar
      val plan = CommitLogStats.planSkipping(spark, t, "flag",
        true, true)
      assert(plan.kept.size == 1 && plan.pruned.size == 1)
    } finally rm(t)
  }

  test("an orphan _partition.json from a crashed CREATE cannot leak " +
      "into a later unpartitioned CREATE of the same name") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_orphan_marker_").toString
    try {
      spark.conf.set("spark.sql.catalog.gom",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gom.root", root)
      val path = s"$root/ns/t"
      // simulate the crash: marker written, manifest never published
      CommitLog.writePartitionMarker(spark, path, Seq("name"))
      assert(CommitLog.partitionColumns(spark, path).isDefined)
      spark.sql("CREATE TABLE gom.ns.t (id BIGINT, name STRING)")
      // the orphan is gone — INSERTs do NOT reroute through the
      // partitioned writer
      assert(CommitLog.partitionColumns(spark, path).isEmpty)
      spark.sql("INSERT INTO gom.ns.t VALUES (1, 'a'), (2, NULL)")
      // NULL in the would-have-been partition column lands fine
      assert(spark.sql("SELECT * FROM gom.ns.t").count() == 2L)
      spark.sql("DROP TABLE gom.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gom")
      spark.conf.unset("spark.sql.catalog.gom.root")
      rm(root + "/x")
    }
  }

  test("partition metadata is race-arbitrated by the v1 manifest: a " +
      "partitioned CREATE's columns survive even if a stale racer " +
      "deletes the marker, and the v1 record outranks a " +
      "contradictory marker") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_create_race_").toString
    try {
      spark.conf.set("spark.sql.catalog.gcr",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gcr.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gcr.ns.t (id BIGINT, flag STRING) " +
        "PARTITIONED BY (flag)")
      assert(CommitLog.partitionColumns(spark, path) ===
        Some(Seq("flag")))
      // The ADVICE race: a CREATE loser that probed the marker before
      // the winner wrote it would (old code) delete the winner's
      // marker and restore nothing. Emulate the worst the loser could
      // do — delete the marker outright — and the winner's partition
      // columns MUST survive, because they ride in the v1 manifest,
      // not the marker.
      CommitLog.deletePartitionMarker(spark, path)
      assert(CommitLog.partitionColumns(spark, path) ===
        Some(Seq("flag")))
      // INSERTs still route through the partitioned writer
      spark.sql("INSERT INTO gcr.ns.t VALUES (1, 'a'), (2, 'b')")
      assert(CommitLog.snapshot(spark, path).get.segments.size == 2)
      // and a contradictory marker planted AFTER the fact (stale
      // racer, confused operator) cannot override the v1 record
      CommitLog.writePartitionMarker(spark, path, Seq("id"))
      assert(CommitLog.partitionColumns(spark, path) ===
        Some(Seq("flag")))
      spark.sql("DROP TABLE gcr.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gcr")
      spark.conf.unset("spark.sql.catalog.gcr.root")
      rm(root + "/x")
    }
  }

  test("evolveColumns refuses a case-variant duplicate under the " +
      "analyzer's default case-insensitive resolution") {
    import spark.implicits._
    val t = tmpTable()
    try {
      CommitLog.append(spark, t,
        Seq((1L, 10.0)).toDF("id", "o_totalprice"))
      // committing O_TOTALPRICE next to o_totalprice would make every
      // later SELECT of the name ambiguous — the table is bricked
      val e = intercept[IllegalStateException] {
        CommitLog.evolveColumns(spark, t, Seq(
          org.apache.spark.sql.types.StructField("O_TOTALPRICE",
            org.apache.spark.sql.types.StringType)))
      }
      assert(e.getMessage.contains("already"))
      // a genuinely new column still lands
      CommitLog.evolveColumns(spark, t, Seq(
        org.apache.spark.sql.types.StructField("note",
          org.apache.spark.sql.types.StringType)))
      assert(CommitLog.read(spark, t).columns.toSeq ===
        Seq("id", "o_totalprice", "note"))
    } finally rm(t)
  }

  test("batch changeFeed over a range with no change-producing " +
      "versions returns an EMPTY frame under the CDF schema, not a " +
      "raise") {
    import spark.implicits._
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "name"))
      val v = CommitLog.currentVersion(spark, t).get
      val feed = CommitLog.changeFeed(spark, t, afterVersion = v)
      assert(feed.count() == 0L)
      assert(feed.columns.toSeq ===
        Seq("id", "name", "_change_type", "_commit_version"))
      // the DSv2 batch option path serves the same empty frame
      val viaSource = spark.read.format("commitlog")
        .option("path", t).option("readChangeFeed", "true")
        .option("startingVersion", v + 1L).load()
      assert(viaSource.count() == 0L)
    } finally rm(t)
  }

  test("string timestampAsOf resolves in the SESSION timezone " +
      "(Delta's rule), not hardcoded UTC") {
    import spark.implicits._
    val t = tmpTable()
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "name"))
      val ts1 = CommitLog.snapshot(spark, t).get.ts.get
      CommitLog.append(spark, t, Seq((2L, "b")).toDF("id", "name"))
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      // ts1 rendered as Tokyo wall-clock: a UTC-hardcoded parse would
      // read it 9h late and serve BOTH commits; the session-zone
      // parse resolves back to exactly ts1 → version 1
      val tokyoIso = java.time.Instant.ofEpochMilli(ts1)
        .atZone(java.time.ZoneId.of("Asia/Tokyo"))
        .toLocalDateTime.toString
      val n = spark.read.format("commitlog").option("path", t)
        .option("timestampAsOf", tokyoIso).load().count()
      assert(n == 1L, s"expected v1 via $tokyoIso, read $n rows")
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prior)
      rm(t)
    }
  }

  test("DV subtraction drops the broadcast hint past the configured " +
      "row cap: the anti-join shuffles instead of force-broadcasting, " +
      "results unchanged") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t,
        df((0L until 20L).map(k => (k, s"n$k", k * 1.0)): _*))
      CommitLog.deleteVectored(spark, t, col("id") < 5L)
      def liveIds: Seq[Long] = CommitLog.read(spark, t)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      def hasBcastAnti: Boolean = {
        val d = CommitLog.read(spark, t)
        d.collect()
        planLeaves(d.queryExecution.executedPlan).exists {
          case b: org.apache.spark.sql.execution.joins
              .BroadcastHashJoinExec =>
            b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
          case _ => false
        }
      }
      // isolate the HINT from the planner's own small-table choice:
      // with autoBroadcast off, only the hint can broadcast
      val priorThresh = spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // under the cap: the hint forces the broadcast regime
        assert(hasBcastAnti && liveIds == (5L until 20L))
        // past the cap the hint is dropped — the anti-join shuffles
        // (no forced hundreds-of-MB broadcast), identical result
        spark.conf.set("spark.graft.dv.broadcastRows", "0")
        try assert(!hasBcastAnti && liveIds == (5L until 20L))
        finally spark.conf.unset("spark.graft.dv.broadcastRows")
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", priorThresh)
    } finally rm(t)
  }

  test("metadata tables: SELECT from cat.ns.t.history / .detail in " +
      "plain SQL; a real table named 'history' shadows the suffix") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_meta_tables_").toString
    try {
      spark.conf.set("spark.sql.catalog.gmt",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gmt.root", root)
      spark.sql("CREATE TABLE gmt.ns.t (id BIGINT, v DOUBLE)")
      spark.sql("INSERT INTO gmt.ns.t VALUES (1, 1.0), (2, 2.0)")
      spark.sql("DELETE FROM gmt.ns.t WHERE id = 1")
      val hist = spark.sql(
        "SELECT version, op FROM gmt.ns.t.history ORDER BY version")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(hist == Seq((1L, "create"), (2L, "append"),
        (3L, "delete")))
      val det = spark.sql(
        "SELECT version, n_segments, n_constraints FROM gmt.ns.t.detail")
        .collect()(0)
      assert(det.getLong(0) == 3L && det.getLong(2) == 0L)
      // a REAL table at ns.t.history wins over the metadata suffix
      spark.sql("CREATE TABLE gmt.ns.t.history (x BIGINT)")
      spark.sql("INSERT INTO gmt.ns.t.history VALUES (42)")
      assert(spark.sql("SELECT x FROM gmt.ns.t.history").collect()
        .map(_.getLong(0)).toSeq == Seq(42L))
      spark.sql("DROP TABLE gmt.ns.t.history")
      spark.sql("DROP TABLE gmt.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gmt")
      spark.conf.unset("spark.sql.catalog.gmt.root")
      rm(root + "/x")
    }
  }

  test("constraint names and expressions with quotes/backslashes " +
      "round-trip the marker exactly") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      val name = "odd \"name\" with \\backslash"
      val exprSql = "name <> 'it''s \"fine\"'"
      CommitLog.setConstraint(spark, t, name, exprSql)
      CommitLog.setConstraint(spark, t, "plain", "v > 0")
      assert(CommitLog.constraints(spark, t) ==
        Map(name -> exprSql, "plain" -> "v > 0"))
      // the exotic-named constraint still enforces
      val e = intercept[IllegalStateException] {
        CommitLog.append(spark, t, df((2L, "it's \"fine\"", 2.0)))
      }
      assert(e.getMessage.contains("odd"))
      CommitLog.dropConstraint(spark, t, name)
      assert(CommitLog.constraints(spark, t) == Map("plain" -> "v > 0"))
      CommitLog.append(spark, t, df((2L, "it's \"fine\"", 2.0)))
      assert(CommitLog.read(spark, t).count() == 2L)
    } finally rm(t)
  }

  test("full compact racing a vectored delete: whichever loses " +
      "rebases — deleted rows stay dead, content is exact, versions " +
      "serialize") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t,
        df((0L until 40L).map(k => (k, s"n$k", k * 1.0)): _*))
      CommitLog.deleteVectored(spark, t, col("id") === 0L) // live dv
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fc = scala.concurrent.Future {
        gate.await(); CommitLog.compact(spark, t, targetRowsPerFile = 10L)
      }
      val fd = scala.concurrent.Future {
        gate.await()
        CommitLog.deleteVectored(spark, t, col("id") % 10L === 3L)
      }
      gate.countDown()
      val dur = scala.concurrent.duration.Duration("120s")
      scala.concurrent.Await.result(fc, dur): Unit
      val (_, nDel) = scala.concurrent.Await.result(fd, dur)
      pool.shutdown()
      assert(nDel == 4L) // 3, 13, 23, 33
      assert(CommitLog.currentVersion(spark, t) == Some(4L))
      val ids = CommitLog.read(spark, t).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == (1L until 40L).filterNot(_ % 10L == 3L))
    } finally rm(t)
  }

  test("batch change-data-feed read: format('commitlog') with " +
      "readChangeFeed serves the recorded CDC from startingVersion, " +
      "distributed, matching the programmatic feed exactly") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.delete(spark, t, col("id") === 1L)
      CommitLog.update(spark, t, col("id") === 2L,
        Map("v" -> lit(22.0)))
      def viaFormat(startingVersion: Long) = spark.read
        .format("commitlog").option("path", t)
        .option("readChangeFeed", "true")
        .option("startingVersion", startingVersion.toString).load()
      val all = viaFormat(1L)
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(x => (x._3, x._2, x._1)).toSeq
      assert(all == Seq(
        (1L, "insert", 1L), (2L, "insert", 1L),
        (1L, "delete", 2L),
        (2L, "update_postimage", 3L), (2L, "update_preimage", 3L)))
      // from a later starting version: only the tail
      assert(viaFormat(3L).select("_change_type").collect()
        .map(_.getString(0)).sorted.toSeq ==
        Seq("update_postimage", "update_preimage"))
      // parity with the programmatic feed
      val prog = CommitLog.changeFeed(spark, t, 0L)
        .select("id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(x => (x._3, x._2, x._1)).toSeq
      assert(prog == all)
    } finally rm(t)
  }

  test("a cloned table streams from version 1: the clone commit is an " +
      "insert for the feed, as in the batch change feed") {
    import org.apache.spark.sql.streaming.Trigger
    val t = tmpTable()
    val t2 = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.cloneTable(spark, t, t2)
      CommitLog.append(spark, t2, df((3L, "c", 3.0)))
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_clone_stream_").toString
      val q = spark.readStream.format("commitlog").option("path", t2)
        .load().writeStream.format("memory").queryName("clone_stream")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$outDir/cp").start()
      q.awaitTermination(60000)
      assert(spark.sql("SELECT id FROM clone_stream").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    } finally { rm(t); rm(t2) }
  }

  test("persistent CHECK constraints: SET validates existing data, " +
      "every write path is gated (append, DML, partitioned stager), " +
      "NULL passes (SQL semantics), evolved-away columns read NULL, " +
      "UNSET lifts the gate, non-constraint properties refuse") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_constraints_").toString
    try {
      spark.conf.set("spark.sql.catalog.gcc",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gcc.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gcc.ns.t (id BIGINT, v DOUBLE)")
      spark.sql("INSERT INTO gcc.ns.t VALUES (1, 5.0), (2, -1.0)")
      // SET over data that violates → refused, nothing recorded
      val e1 = intercept[Exception] { spark.sql(
        "ALTER TABLE gcc.ns.t SET TBLPROPERTIES " +
          "('graft.constraint.v_pos' = 'v > 0')") }
      assert(e1.getMessage.contains("1 existing row"))
      assert(CommitLog.constraints(spark, path).isEmpty)
      // clean the data; SET lands and SHOW TBLPROPERTIES surfaces it
      spark.sql("DELETE FROM gcc.ns.t WHERE v <= 0")
      spark.sql("ALTER TABLE gcc.ns.t SET TBLPROPERTIES " +
        "('graft.constraint.v_pos' = 'v > 0')")
      assert(CommitLog.constraints(spark, path) ==
        Map("v_pos" -> "v > 0"))
      assert(spark.sql("SHOW TBLPROPERTIES gcc.ns.t").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
        .get("graft.constraint.v_pos").contains("v > 0"))
      // clean insert lands; dirty insert refuses ATOMICALLY
      spark.sql("INSERT INTO gcc.ns.t VALUES (3, 1.5)")
      val vBefore = CommitLog.currentVersion(spark, path).get
      val e2 = intercept[Exception] { spark.sql(
        "INSERT INTO gcc.ns.t VALUES (4, 2.0), (5, -9.0)") }
      def msgs(x: Throwable): Seq[String] =
        Option(x).toSeq.flatMap(t =>
          Option(t.getMessage).toSeq ++ msgs(t.getCause))
      // two equivalent refusal shapes: Spark's own inline
      // CheckInvariant (since the catalog reports constraints under
      // SUPPORT_TABLE_CONSTRAINT, the analyzer enforces them per-row
      // DURING the write) or the engine's staged-segment gate ("N
      // row(s)") on paths the analyzer never sees — either way the
      // violating INSERT commits nothing
      assert(msgs(e2).exists(m => m.contains("v_pos") &&
        (m.contains("1 row") ||
          m.contains("CHECK_CONSTRAINT_VIOLATION"))))
      assert(CommitLog.currentVersion(spark, path).get == vBefore)
      // SQL CHECK semantics: NULL is unknown, not a violation
      spark.sql("INSERT INTO gcc.ns.t VALUES (6, NULL)")
      // an UPDATE that would break the invariant refuses (CoW path)
      val e3 = intercept[Exception] {
        CommitLog.update(spark, path, col("id") === 3L,
          Map("v" -> lit(-5.0)))
      }
      assert(msgs(e3).exists(_.contains("v_pos")))
      // ...and the vectored path refuses identically
      val e3b = intercept[Exception] {
        CommitLog.updateVectored(spark, path, col("id") === 3L,
          Map("v" -> lit(-5.0)))
      }
      assert(msgs(e3b).exists(_.contains("v_pos")))
      assert(CommitLog.read(spark, path)
        .filter(col("id") === 3L).collect()(0).getDouble(1) == 1.5)
      // evolved-away column: constraint on a column old segments
      // lack reads NULL there (passes); a violating value refuses
      spark.sql("ALTER TABLE gcc.ns.t ADD COLUMNS (score DOUBLE)")
      spark.sql("ALTER TABLE gcc.ns.t SET TBLPROPERTIES " +
        "('graft.constraint.score_pos' = 'score > 0')")
      CommitLog.appendEvolve(spark, path, // omits score → NULL, passes
        spark.range(1).select(lit(7L).as("id"), lit(1.0).as("v")))
      val e4 = intercept[Exception] { spark.sql(
        "INSERT INTO gcc.ns.t VALUES (8, 1.0, -2.0)") }
      assert(msgs(e4).exists(_.contains("score_pos")))
      // the partitioned stager is gated too (bypasses writeSegment)
      val pt = s"$root/ns/p"
      CommitLogStats.appendPartitioned(spark, pt,
        df((1L, "a", 1.0)), partitionCols = Seq("name"),
        statsCols = Seq("id"))
      CommitLog.setConstraint(spark, pt, "v_pos", "v > 0")
      val e5 = intercept[Exception] {
        CommitLogStats.appendPartitioned(spark, pt,
          df((2L, "b", -1.0)), partitionCols = Seq("name"),
          statsCols = Seq("id"))
      }
      assert(msgs(e5).exists(_.contains("v_pos")))
      assert(CommitLog.read(spark, pt).count() == 1L)
      // UNSET lifts the gate; unknown names and foreign keys refuse
      spark.sql("ALTER TABLE gcc.ns.t UNSET TBLPROPERTIES " +
        "('graft.constraint.v_pos')")
      spark.sql("INSERT INTO gcc.ns.t VALUES (9, -9.0, 1.0)")
      assert(CommitLog.read(spark, path)
        .filter(col("id") === 9L).count() == 1L)
      intercept[Exception] { spark.sql(
        "ALTER TABLE gcc.ns.t UNSET TBLPROPERTIES " +
          "('graft.constraint.nope')") }
      intercept[Exception] { spark.sql(
        "ALTER TABLE gcc.ns.t SET TBLPROPERTIES ('foo' = 'bar')") }
      // a clone inherits the invariants (its content satisfies them
      // by construction); DESCRIBE DETAIL surfaces the count
      val ct = s"$root/ns/c"
      CommitLog.cloneTable(spark, path, ct)
      assert(CommitLog.constraints(spark, ct) ==
        CommitLog.constraints(spark, path))
      assert(CommitLog.detail(spark, path).collect()(0)
        .getAs[Long]("n_constraints") ==
        CommitLog.constraints(spark, path).size.toLong)
      // RESTORE below the evolve: constraints are VERSIONED metadata
      // — the restore serves the target version's OWN set, so
      // score_pos (set after the evolve) rolls back WITH the schema
      // instead of stranding the table (the stranding refusal
      // survives only for pre-versioning legacy side files)
      val preEvolveV = CommitLog.snapshotsAsc(spark, path)
        .find(_.op == "evolve").get.version - 1L
      assert(CommitLog.constraints(spark, path).contains("score_pos"))
      CommitLog.restore(spark, path, preEvolveV): Unit
      assert(!CommitLog.read(spark, path).columns.contains("score"))
      assert(!CommitLog.constraints(spark, path).contains("score_pos"))
      // v_pos predates preEvolveV → it still governs after restore
      assert(CommitLog.constraints(spark, path).contains("v_pos"))
      val eG = intercept[Exception] { spark.sql(
        "INSERT INTO gcc.ns.t VALUES (10, -1.0)") }
      assert(msgs(eG).exists(_.contains("v_pos")))
      spark.sql("DROP TABLE gcc.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gcc")
      spark.conf.unset("spark.sql.catalog.gcc.root")
      rm(root + "/x")
    }
  }

  test("mid-stream ADD-COLUMN evolution fails a live stream loudly " +
      "(Delta's rule); ignoreSchemaEvolution keeps the start schema " +
      "with new columns dropped; a restarted stream resolves the " +
      "evolved schema") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val t = tmpTable()
    val cpRoot = java.nio.file.Files
      .createTempDirectory("graft_evo_stream_").toString
    try {
      CommitLog.append(spark, t, Seq((1L, "a")).toDF("id", "name"))
      def startStream(name: String, ignore: Boolean) = {
        val r = spark.readStream.format("commitlog").option("path", t)
        (if (ignore) r.option("ignoreSchemaEvolution", "true") else r)
          .load().writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$cpRoot/$name")
          .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
      }
      def waitRows(name: String, n: Long): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while (spark.sql(s"SELECT * FROM $name").count() < n) {
          assert(System.currentTimeMillis() < deadline,
            s"$name never reached $n rows")
          Thread.sleep(100)
        }
      }
      // strict stream: consumes v1, then the table evolves — the
      // next batch fails loudly naming the added column
      val strict = startStream("evo_strict", ignore = false)
      waitRows("evo_strict", 1L)
      CommitLog.evolveColumns(spark, t, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType)))
      CommitLog.append(spark, t,
        Seq((2L, "b", 2.5)).toDF("id", "name", "score"))
      val ex = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        strict.processAllAvailable()
      }
      def msgs(x: Throwable): Seq[String] =
        Option(x).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ msgs(e.getCause))
      assert(msgs(ex).exists(m => m.contains("score") &&
        m.contains("ignoreSchemaEvolution")))
      strict.stop()
      // opted-in stream (fresh source, but started BEFORE a further
      // evolution): serves its start schema (3 cols now) and keeps
      // running when a 4th column lands — the new column is dropped
      val tolerant = startStream("evo_tolerant", ignore = true)
      waitRows("evo_tolerant", 2L)
      CommitLog.evolveColumns(spark, t, Seq(
        org.apache.spark.sql.types.StructField("tag",
          org.apache.spark.sql.types.StringType)))
      CommitLog.append(spark, t,
        Seq((3L, "c", 3.5, "x")).toDF("id", "name", "score", "tag"))
      tolerant.processAllAvailable()
      val rows = spark.sql(
        "SELECT id, name, score FROM evo_tolerant ORDER BY id")
        .collect()
      assert(spark.table("evo_tolerant").columns.toSeq ==
        Seq("id", "name", "score")) // start schema, no 'tag'
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
      assert(rows(0).isNullAt(2) && rows(2).getDouble(2) == 3.5)
      tolerant.stop()
      // a restarted (fresh) stream resolves the evolved 4-col schema
      val fresh = spark.readStream.format("commitlog")
        .option("path", t).load()
      assert(fresh.columns.toSeq == Seq("id", "name", "score", "tag"))
    } finally rm(t)
  }

  test("incremental OPTIMIZE racing a foreign append: the loser " +
      "rebases, no rows are lost, and the deletion-vector carry " +
      "invariant holds through the interleave") {
    val t = tmpTable()
    try {
      // a one-date-stacked table the incremental pass WILL rewrite,
      // with a live deletion vector to carry through the race
      (1 to 3).foreach { i =>
        CommitLogStats.appendWithStats(spark, t,
          df((1L to 10L).map(k => (k, s"s$i-$k", i * 1.0)): _*),
          Seq("id"))
      }
      CommitLog.deleteVectored(spark, t, col("id") === 1L && col("v") === 1.0)
      val preLive = CommitLog.read(spark, t).count() // 29
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fOpt = scala.concurrent.Future {
        gate.await()
        CommitLogStats.compactClusteredIncremental(spark, t,
          clusterCols = Seq("id"), targetRowsPerSegment = 15L,
          statsCols = Seq("id"))
      }
      val fApp = scala.concurrent.Future {
        gate.await()
        CommitLogStats.appendWithStats(spark, t,
          df((100L, "new", 100.0)), Seq("id"))
      }
      gate.countDown()
      val dur = scala.concurrent.duration.Duration("120s")
      scala.concurrent.Await.result(fOpt, dur): Unit
      scala.concurrent.Await.result(fApp, dur): Unit
      pool.shutdown()
      // no segment (and no row) lost, whichever writer rebased
      assert(CommitLog.read(spark, t).count() == preLive + 1L)
      assert(CommitLog.read(spark, t).filter(col("id") === 100L)
        .count() == 1L)
      // the vectored-deleted row stays dead (dv carried or applied
      // in the rewrite — either way it cannot resurrect)
      assert(CommitLog.read(spark, t)
        .filter(col("id") === 1L && col("v") === 1.0).count() == 0L)
      // versions serialized: base(3 appends) + dv delete + 2 racers
      assert(CommitLog.currentVersion(spark, t) == Some(6L))
    } finally rm(t)
  }

  // ---- delta log + checkpoints (round 12) ------------------------------

  private def manifestText(t: String, v: Long): String = {
    val p = java.nio.file.Paths.get(
      f"$t/_commits/$v%020d.manifest")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  private def checkpointFile(t: String, v: Long): java.io.File =
    new java.io.File(f"$t/_commits/$v%020d.checkpoint")

  test("commits are O(delta): append manifests carry addSegments " +
      "only, bytes stay flat as the table grows, checkpoints land " +
      "on the interval, and every version resolves exactly") {
    val t = tmpTable()
    try {
      (1 to 25).foreach(i =>
        CommitLog.append(spark, t, df((i.toLong, s"r$i", i * 1.0))))
      // v1 is self-contained; later appends are delta records with
      // exactly one added segment and no removes
      assert(manifestText(t, 1L).contains("\"segments\""))
      Seq(2L, 13L, 25L).foreach { v =>
        val txt = manifestText(t, v)
        assert(txt.contains("\"addSegments\""), s"v$v not a delta")
        assert(!txt.contains("\"segments\""), s"v$v lists full set")
      }
      // commit bytes do NOT grow with table size (the scale cliff the
      // old full-list format had): v25's manifest is no bigger than
      // v2's + slack, despite 24 more segments of state
      val b2 = manifestText(t, 2L).length
      val b25 = manifestText(t, 25L).length
      assert(b25 <= b2 + 64, s"delta commit grew: v2=$b2 v25=$b25")
      // checkpoint cadence (default interval 10): v10 and v20, and a
      // checkpoint is the full self-contained state
      assert(checkpointFile(t, 10L).exists())
      assert(checkpointFile(t, 20L).exists())
      assert(!checkpointFile(t, 15L).exists())
      // resolution: latest, a checkpointed version, a mid-chain
      // version (replays from the nearest checkpoint below)
      assert(CommitLog.read(spark, t).count() == 25L)
      assert(CommitLog.read(spark, t, Some(10L)).count() == 10L)
      assert(CommitLog.read(spark, t, Some(17L)).count() == 17L)
      assert(CommitLog.snapshot(spark, t, Some(17L)).get
        .segments.size == 17)
      // history walks the whole log through the forward resolver
      assert(CommitLog.history(spark, t).count() == 25L)
    } finally rm(t)
  }

  test("DML and compaction under the delta log: removes+adds round-" +
      "trip, a compact's delta drops the whole parent set, and the " +
      "change feed reconstructs across the chain") {
    val t = tmpTable()
    try {
      (1 to 12).foreach(i =>
        CommitLog.append(spark, t, df((i.toLong, s"r$i", i * 1.0))))
      CommitLog.delete(spark, t, col("id") % 3 === 0)           // v13
      CommitLog.update(spark, t, col("id") === 1L,
        Map("v" -> lit(100.0)))                                 // v14
      CommitLog.compact(spark, t, targetRowsPerFile = 100L)     // v15
      val txt15 = manifestText(t, 15L)
      assert(txt15.contains("\"addSegments\""))
      // the compact removed every parent segment and added one
      assert(CommitLog.snapshot(spark, t).get.segments.size == 1)
      assert(CommitLog.read(spark, t).count() == 8L)
      assert(CommitLog.read(spark, t)
        .filter(col("id") === 1L).head().getDouble(2) === 100.0)
      // time travel across the whole chain still exact
      assert(CommitLog.read(spark, t, Some(12L)).count() == 12L)
      assert(CommitLog.read(spark, t, Some(13L)).count() == 8L)
      // the feed reconstructs the post-DML state
      val feed = CommitLog.changeFeed(spark, t, afterVersion = 12L)
      assert(feed.filter(col("_change_type") === "delete")
        .count() == 4L)
      assert(feed.filter(col("_change_type") === "update_postimage")
        .count() == 1L)
    } finally rm(t)
  }

  test("vacuum pins the retain floor with a checkpoint before " +
      "dropping the delta tail: retained versions resolve, dropped " +
      "ones read as gone") {
    val t = tmpTable()
    try {
      (1 to 17).foreach(i =>
        CommitLog.append(spark, t, df((i.toLong, s"r$i", i * 1.0))))
      CommitLog.vacuum(spark, t, retainVersions = 3)
      // floor = v15 (a mid-chain delta record): pinned by checkpoint
      assert(checkpointFile(t, 15L).exists())
      // retained versions resolve fully despite the dropped tail
      assert(CommitLog.read(spark, t).count() == 17L)
      assert(CommitLog.read(spark, t, Some(15L)).count() == 15L)
      assert(CommitLog.read(spark, t, Some(16L)).count() == 16L)
      // dropped versions: manifest AND any checkpoint swept
      assert(CommitLog.snapshot(spark, t, Some(9L)).isEmpty)
      assert(!checkpointFile(t, 10L).exists())
      // vacuum again at deeper retention — idempotent on the pin
      CommitLog.vacuum(spark, t, retainVersions = 2)
      assert(CommitLog.read(spark, t).count() == 17L)
    } finally rm(t)
  }

  test("column mapping: RENAME COLUMN is metadata-only — data " +
      "serves under the new name on every surface, writes land " +
      "physical, time travel keeps per-version names") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_colmap_").toString
    try {
      spark.conf.set("spark.sql.catalog.gcm",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gcm.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gcm.ns.t (id BIGINT, v DOUBLE)")
      spark.sql("INSERT INTO gcm.ns.t VALUES (1, 1.5), (2, 2.5)")
      val segsBefore = CommitLog.snapshot(spark, path).get.segments
      spark.sql("ALTER TABLE gcm.ns.t RENAME COLUMN v TO score")
      // metadata-only: same segment set, one new version
      assert(CommitLog.snapshot(spark, path).get.segments ===
        segsBefore)
      assert(CommitLog.snapshot(spark, path).get.op ===
        "rename_column")
      // the renamed column serves the ORIGINAL data (a naive
      // logical-schema read would serve NULLs) — SQL surface
      assert(spark.sql(
        "SELECT score FROM gcm.ns.t WHERE id = 1").head()
        .getDouble(0) === 1.5)
      // programmatic surface + filter on the renamed name
      assert(CommitLog.read(spark, path).columns.toSeq ===
        Seq("id", "score"))
      assert(CommitLog.read(spark, path)
        .filter(col("score") > 2.0).count() === 1L)
      // writes after the rename land under the stable physical name:
      // mixed-age segments serve one uniform logical view
      spark.sql("INSERT INTO gcm.ns.t VALUES (3, 3.5)")
      assert(CommitLog.read(spark, path)
        .agg(sum(col("score"))).head().getDouble(0) === 7.5)
      // time travel below the rename keeps that version's own name
      assert(CommitLog.read(spark, path, Some(2L))
        .columns.toSeq === Seq("id", "v"))
      assert(CommitLog.read(spark, path, Some(2L))
        .agg(sum(col("v"))).head().getDouble(0) === 4.0)
      // DML through the renamed name (rewrite maps back to physical)
      CommitLog.update(spark, path, col("id") === 2L,
        Map("score" -> lit(20.5)))
      assert(CommitLog.read(spark, path)
        .filter(col("id") === 2L).head().getAs[Double]("score")
        === 20.5)
      // the change feed serves LATEST logical names across the
      // rename boundary — including pre-rename inserts and the
      // post-rename update images
      val feed = CommitLog.changeFeed(spark, path, 0L)
      assert(feed.columns.contains("score") &&
        !feed.columns.contains("v"))
      assert(feed.filter(col("_change_type") === "insert")
        .count() === 3L)
      assert(feed.filter(col("_change_type") === "update_postimage")
        .head().getAs[Double]("score") === 20.5)
      spark.sql("DROP TABLE gcm.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gcm")
      spark.conf.unset("spark.sql.catalog.gcm.root")
      rm(root + "/x")
    }
  }

  test("column mapping: DROP COLUMN removes the field without " +
      "rewrites, and re-ADDing the name maps to a FRESH physical " +
      "column — dropped bytes can never resurrect") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_colmap2_").toString
    try {
      spark.conf.set("spark.sql.catalog.gcd",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gcd.root", root)
      val path = s"$root/ns/t"
      spark.sql(
        "CREATE TABLE gcd.ns.t (id BIGINT, note STRING, v DOUBLE)")
      spark.sql(
        "INSERT INTO gcd.ns.t VALUES (1, 'secret', 1.0), " +
          "(2, 'hidden', 2.0)")
      val segsBefore = CommitLog.snapshot(spark, path).get.segments
      spark.sql("ALTER TABLE gcd.ns.t DROP COLUMN note")
      assert(CommitLog.snapshot(spark, path).get.segments ===
        segsBefore)
      assert(CommitLog.read(spark, path).columns.toSeq ===
        Seq("id", "v"))
      // time travel below the drop still serves the old column
      assert(CommitLog.read(spark, path, Some(2L))
        .filter(col("id") === 1L).head().getAs[String]("note")
        === "secret")
      // re-ADD the dropped name: fresh physical column → NULLs for
      // the old rows, NOT the dropped bytes
      spark.sql("ALTER TABLE gcd.ns.t ADD COLUMNS (note STRING)")
      val back = CommitLog.read(spark, path)
      assert(back.filter(col("note").isNotNull).count() === 0L)
      spark.sql("INSERT INTO gcd.ns.t VALUES (3, 30.0, 'fresh')")
      assert(CommitLog.read(spark, path)
        .filter(col("note") === "fresh").count() === 1L)
      assert(CommitLog.read(spark, path)
        .filter(col("id") === 1L).head().isNullAt(2))
      spark.sql("DROP TABLE gcd.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gcd")
      spark.conf.unset("spark.sql.catalog.gcd.root")
      rm(root + "/x")
    }
  }

  test("column mapping refusals and the DV interplay: partition / " +
      "constraint columns refuse rename+drop; a deletion vector " +
      "survives a rename") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_colmap3_").toString
    try {
      spark.conf.set("spark.sql.catalog.gcr2",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gcr2.root", root)
      val path = s"$root/ns/p"
      spark.sql("CREATE TABLE gcr2.ns.p (id BIGINT, region STRING) " +
        "PARTITIONED BY (region)")
      spark.sql("INSERT INTO gcr2.ns.p VALUES (1, 'na'), (2, 'eu')")
      // partition column: name-coupled layout → refuse
      val e1 = intercept[Exception] {
        spark.sql("ALTER TABLE gcr2.ns.p RENAME COLUMN region TO r")
      }
      assert(e1.getMessage.contains("PARTITION"))
      // constraint-referenced column → refuse, naming the way out
      spark.sql("ALTER TABLE gcr2.ns.p SET TBLPROPERTIES " +
        "('graft.constraint.pos' = 'id > 0')")
      val e2 = intercept[Exception] {
        spark.sql("ALTER TABLE gcr2.ns.p DROP COLUMN id")
      }
      assert(e2.getMessage.contains("constraint"))
      // duplicate target name → refuse
      val e3 = intercept[Exception] {
        spark.sql("ALTER TABLE gcr2.ns.p RENAME COLUMN id TO region")
      }
      assert(e3.getMessage.contains("already"))
      // DV + mapping: vectored-delete, rename, then read — the
      // position-keyed vector subtracts correctly under the mapping
      val t2 = s"$root/ns/d"
      spark.sql("CREATE TABLE gcr2.ns.d (id BIGINT, v DOUBLE)")
      spark.sql(
        "INSERT INTO gcr2.ns.d VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
      CommitLog.deleteVectored(spark, t2, col("id") === 2L)
      spark.sql("ALTER TABLE gcr2.ns.d RENAME COLUMN v TO w")
      assert(CommitLog.read(spark, t2).count() === 2L)
      assert(CommitLog.read(spark, t2)
        .agg(sum(col("w"))).head().getDouble(0) === 4.0)
      assert(spark.sql("SELECT w FROM gcr2.ns.d WHERE id = 3")
        .head().getDouble(0) === 3.0)
      // and a post-rename vectored delete works through the new name
      CommitLog.deleteVectored(spark, t2, col("w") === 1.0)
      assert(CommitLog.read(spark, t2).count() === 1L)
      spark.sql("DROP TABLE gcr2.ns.p")
      spark.sql("DROP TABLE gcr2.ns.d")
    } finally {
      spark.conf.unset("spark.sql.catalog.gcr2")
      spark.conf.unset("spark.sql.catalog.gcr2.root")
      rm(root + "/x")
    }
  }

  test("column mapping under a name SWAP: a legal rename rotation " +
      "(a→c, b→a, c→b) keeps every value under its own column on " +
      "write and read — no pairwise-rename collision") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_swap_").toString
    try {
      spark.conf.set("spark.sql.catalog.gsw",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gsw.root", root)
      spark.sql("CREATE TABLE gsw.ns.t (a BIGINT, b STRING)")
      spark.sql("INSERT INTO gsw.ns.t VALUES (1, 'one'), (2, 'two')")
      spark.sql("ALTER TABLE gsw.ns.t RENAME COLUMN a TO c")
      spark.sql("ALTER TABLE gsw.ns.t RENAME COLUMN b TO a")
      spark.sql("ALTER TABLE gsw.ns.t RENAME COLUMN c TO b")
      // schema is now (b: BIGINT ← physical a, a: STRING ← physical b)
      assert(spark.sql("SELECT b, a FROM gsw.ns.t WHERE b = 1")
        .head().getString(1) === "one")
      // a write through the swapped mapping round-trips (the old
      // pairwise rename either collided or silently swapped values)
      spark.sql("INSERT INTO gsw.ns.t VALUES (3, 'three')")
      assert(spark.sql("SELECT a FROM gsw.ns.t WHERE b = 3")
        .head().getString(0) === "three")
      assert(spark.sql("SELECT sum(b) FROM gsw.ns.t")
        .head().getLong(0) === 6L)
      // DML + CDC through the swap
      CommitLog.update(spark, s"$root/ns/t", col("b") === 2L,
        Map("a" -> lit("TWO")))
      assert(CommitLog.changeFeed(spark, s"$root/ns/t", 0L)
        .filter(col("_change_type") === "update_postimage")
        .head().getAs[String]("a") === "TWO")
      spark.sql("DROP TABLE gsw.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gsw")
      spark.conf.unset("spark.sql.catalog.gsw.root")
      rm(root + "/x")
    }
  }

  test("review fixes: partitioned writes map to physical names; the " +
      "feed never leaks a dropped column; mergeSchema appends refuse " +
      "new columns on mapped tables; skipping aliases drop on " +
      "collision with a re-added name") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_rvw_").toString
    try {
      spark.conf.set("spark.sql.catalog.grv",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.grv.root", root)
      // (1) PARTITIONED table + rename of a non-partition column:
      // the partitioned INSERT path must land PHYSICAL names or the
      // renamed column reads NULL
      spark.sql("CREATE TABLE grv.ns.p (id BIGINT, amt DOUBLE, " +
        "region STRING) PARTITIONED BY (region)")
      spark.sql("INSERT INTO grv.ns.p VALUES (1, 1.5, 'na')")
      spark.sql("ALTER TABLE grv.ns.p RENAME COLUMN amt TO total")
      spark.sql("INSERT INTO grv.ns.p VALUES (2, 2.5, 'eu')")
      val rows = spark.sql(
        "SELECT id, total FROM grv.ns.p ORDER BY id").collect()
      assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
        Seq((1L, 1.5), (2L, 2.5)))
      // (2) DROP COLUMN: the change feed serves the LATEST schema —
      // the dropped column must NOT reappear from pre-drop files
      val t2 = s"$root/ns/d"
      spark.sql("CREATE TABLE grv.ns.d (id BIGINT, note STRING)")
      spark.sql("INSERT INTO grv.ns.d VALUES (1, 'secret')")
      spark.sql("ALTER TABLE grv.ns.d DROP COLUMN note")
      spark.sql("ALTER TABLE grv.ns.d ADD COLUMNS (v DOUBLE)")
      spark.sql("INSERT INTO grv.ns.d VALUES (2, 2.0)")
      CommitLog.delete(spark, t2, col("id") === 1L)
      val feed = CommitLog.changeFeed(spark, t2, 0L)
      assert(!feed.columns.contains("note"),
        s"dropped column leaked into the feed: ${feed.columns.toSeq}")
      assert(feed.columns.contains("v"))
      assert(feed.filter(col("_change_type") === "delete")
        .count() === 1L)
      // (3) mergeSchema appends cannot mint columns on a mapped
      // table (a re-added name would resurrect dropped bytes)
      import spark.implicits._
      val e = intercept[IllegalStateException] {
        CommitLog.appendEvolve(spark, t2,
          Seq((9L, 9.0, "back")).toDF("id", "v", "note"))
      }
      assert(e.getMessage.contains("ADD COLUMNS"))
      // ...and the refused write left no schema change
      assert(!CommitLog.read(spark, t2).columns.contains("note"))
      // (4) skipping alias collision: rename v→score, re-ADD a fresh
      // 'v', then probe score. The sidecar is MARKER-era (physical
      // keys): key 'v' is score's stable physical name and can never
      // mean the fresh 'v' (whose physical is col-<uuid>), so the
      // probe both PRUNES correctly on score and refuses to consult
      // the old sidecar for the new 'v'.
      val t3 = tmpTable()
      try {
        CommitLogStats.appendWithStats(spark, t3,
          df((1L, "a", 1.0), (2L, "b", 5.0)), Seq("v"))
        CommitLog.renameColumn(spark, t3, "v", "score")
        CommitLog.evolveColumns(spark, t3, Seq(
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.DoubleType)))
        val plan = CommitLogStats.planSkipping(spark, t3, "score",
          100.0, 200.0)
        // physical-keyed sidecar: the no-match probe prunes the one
        // segment (bounds [1,5] cannot hold 100..200 of score)
        assert(plan.pruned.size === 1 && plan.kept.isEmpty)
        assert(CommitLogStats.readSkipping(spark, t3, "score",
          1.0, 5.0).count() === 2L)
        // the fresh 'v' (physical col-<uuid>) must NOT read the old
        // sidecar's key 'v': its probe keeps the segment (no trusted
        // key) instead of wrongly pruning/keeping via stale bounds
        val freshPlan = CommitLogStats.planSkipping(spark, t3, "v",
          100.0, 200.0)
        assert(freshPlan.pruned.isEmpty)
      } finally rm(t3)
      spark.sql("DROP TABLE grv.ns.p")
      spark.sql("DROP TABLE grv.ns.d")
    } finally {
      spark.conf.unset("spark.sql.catalog.grv")
      spark.conf.unset("spark.sql.catalog.grv.root")
      rm(root + "/x")
    }
  }

  test("the mapped-table SQL scan keeps plan-time segment skipping: " +
      "a range probe on a RENAMED sidecar'd column returns exactly " +
      "the filtered rows (alias-aware pruning, never wrong rows)") {
    val t = tmpTable()
    try {
      CommitLogStats.appendWithStats(spark, t,
        df((1L, "a", 1.0), (2L, "b", 5.0)), Seq("v"))
      CommitLogStats.appendWithStats(spark, t,
        df((3L, "c", 10.0), (4L, "d", 15.0)), Seq("v"))
      CommitLogStats.appendWithStats(spark, t,
        df((5L, "e", 20.0), (6L, "f", 25.0)), Seq("v"))
      CommitLog.renameColumn(spark, t, "v", "score")
      // the DSv2 surface (format reader — what SQL resolves to)
      // filters on the NEW name; results must equal the full filter
      val viaFormat = spark.read.format("commitlog")
        .option("path", t).load()
        .filter(col("score") >= 10.0 && col("score") <= 15.0)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(viaFormat === Seq(3L, 4L))
      // and a probe with no matching range returns empty, not wrong
      assert(spark.read.format("commitlog").option("path", t).load()
        .filter(col("score") > 100.0).count() === 0L)
      // sanity: unrenamed column probes prune as before
      assert(spark.read.format("commitlog").option("path", t).load()
        .filter(col("id") === 5L).count() === 1L)
    } finally rm(t)
  }

  test("stats skipping survives a column rename: pre-rename sidecars " +
      "keep pruning under the NEW logical name (alias lookup), and " +
      "the no-false-negative law holds across the boundary") {
    val t = tmpTable()
    try {
      // three sidecar'd appends with disjoint v-ranges, then rename
      CommitLogStats.appendWithStats(spark, t,
        df((1L, "a", 1.0), (2L, "b", 5.0)), Seq("v"))
      CommitLogStats.appendWithStats(spark, t,
        df((3L, "c", 10.0), (4L, "d", 15.0)), Seq("v"))
      CommitLogStats.appendWithStats(spark, t,
        df((5L, "e", 20.0), (6L, "f", 25.0)), Seq("v"))
      CommitLog.renameColumn(spark, t, "v", "score")
      // the probe under the NEW name still prunes via the old-name
      // sidecars (values unchanged by a rename)
      val plan = CommitLogStats.planSkipping(spark, t, "score",
        10.0, 15.0)
      assert(plan.kept.size === 1 && plan.pruned.size === 2)
      // and the skipped read equals the full filtered read
      val skipped = CommitLogStats.readSkipping(spark, t, "score",
        10.0, 15.0).select("id").collect().map(_.getLong(0)).sorted
      assert(skipped.toSeq === Seq(3L, 4L))
    } finally rm(t)
  }

  test("atomic CTAS/RTAS: CREATE TABLE AS SELECT is ONE commit, " +
      "REPLACE swaps content+schema+partitioning in one version, " +
      "and a failed CTAS leaves no table behind") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ctas_").toString
    try {
      spark.conf.set("spark.sql.catalog.gct",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gct.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gct.ns.t AS " +
        "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS v(id, name)")
      // exactly ONE commit: v1 carries schema AND data together
      assert(CommitLog.currentVersion(spark, path) === Some(1L))
      assert(CommitLog.snapshot(spark, path).get.op === "ctas")
      assert(spark.sql("SELECT * FROM gct.ns.t").count() === 2L)
      // the feed serves the CTAS output as inserts
      assert(CommitLog.changeFeed(spark, path, 0L)
        .filter(col("_change_type") === "insert").count() === 2L)
      // a second CTAS of the same name refuses
      intercept[Exception] {
        spark.sql("CREATE TABLE gct.ns.t AS SELECT 1 AS x")
      }
      assert(CommitLog.currentVersion(spark, path) === Some(1L))
      // RTAS: new content AND new schema in one 'replace' commit;
      // the old version stays one time travel away
      spark.sql("REPLACE TABLE gct.ns.t AS " +
        "SELECT * FROM VALUES (10L, 1.5), (20L, 2.5), (30L, 3.5) " +
        "AS v(k, score)")
      assert(CommitLog.currentVersion(spark, path) === Some(2L))
      assert(CommitLog.snapshot(spark, path).get.op === "replace")
      assert(spark.sql("SELECT * FROM gct.ns.t").columns.toSeq ===
        Seq("k", "score"))
      assert(spark.sql("SELECT * FROM gct.ns.t").count() === 3L)
      assert(CommitLog.read(spark, path, Some(1L))
        .columns.toSeq === Seq("id", "name"))
      // CREATE OR REPLACE on an existing table = another replace
      spark.sql("CREATE OR REPLACE TABLE gct.ns.t AS " +
        "SELECT 99L AS k, 9.9 AS score")
      assert(CommitLog.currentVersion(spark, path) === Some(3L))
      assert(spark.sql("SELECT k FROM gct.ns.t").head().getLong(0)
        === 99L)
      // partitioned CTAS: born prunable, spec recorded; a later
      // unpartitioned REPLACE clears the spec
      val p2 = s"$root/ns/p"
      spark.sql("CREATE TABLE gct.ns.p PARTITIONED BY (name) AS " +
        "SELECT * FROM VALUES (1, 'x'), (2, 'y'), (3, 'x') " +
        "AS v(id, name)")
      assert(CommitLog.partitionColumns(spark, p2) ===
        Some(Seq("name")))
      assert(CommitLog.snapshot(spark, p2).get.segments.size === 2)
      assert(spark.sql("SELECT * FROM gct.ns.p").count() === 3L)
      spark.sql("REPLACE TABLE gct.ns.p AS SELECT 1 AS only")
      assert(CommitLog.partitionColumns(spark, p2).isEmpty)
      // REPLACE of a table that does not exist refuses; CREATE OR
      // REPLACE creates it
      intercept[Exception] {
        spark.sql("REPLACE TABLE gct.ns.nope AS SELECT 1 AS x")
      }
      spark.sql("CREATE OR REPLACE TABLE gct.ns.fresh AS " +
        "SELECT 7 AS x")
      assert(spark.sql("SELECT x FROM gct.ns.fresh").head().getInt(0)
        === 7)
      // atomicity under write failure: the SELECT dies mid-write →
      // NO table exists afterwards (no create-then-stranded-empty)
      intercept[Exception] {
        spark.sql("CREATE TABLE gct.ns.bad AS " +
          "SELECT assert_true(id > 5) AS chk, id FROM " +
          "VALUES (1), (9) AS v(id)")
      }
      assert(CommitLog.currentVersion(spark, s"$root/ns/bad").isEmpty)
      spark.sql("DROP TABLE gct.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gct")
      spark.conf.unset("spark.sql.catalog.gct.root")
      rm(root + "/x")
    }
  }

  test("100k+ segment lifecycle is a metadata non-event: growing " +
      "commits stay O(delta) bytes, resolution returns the full " +
      "set, and the checkpoint carries it — no refusal") {
    val t = tmpTable()
    try {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("id", LongType)))
      // v1: real create commit (schema, no segments)
      assert(CommitLog.tryPublish(spark, t, CommitLog.Snapshot(
        1L, Seq.empty, 0L, "create",
        schema = Some(CommitLog.encodeSchema(schema)))))
      // synthetic segment paths: the protocol never opens segment
      // files until a READ asks for rows, so the metadata lifecycle
      // at 100k segments is exercised without writing 100k parquet
      // jobs (the point: commit cost must not depend on table size)
      var prev = CommitLog.snapshot(spark, t).get
      val perCommit = 25000
      (1 to 5).foreach { i =>
        val adds = (1 to perCommit).map(j => s"$t/data/fake_${i}_$j")
        val snap = CommitLog.Snapshot(prev.version + 1L,
          prev.segments ++ adds, prev.version, "append",
          schema = prev.schema)
        assert(CommitLog.tryPublish(spark, t, snap, Some(prev)),
          s"commit ${i + 1} refused")
        prev = snap
      }
      val total = 5 * perCommit // 125,000 segments
      assert(CommitLog.snapshot(spark, t).get.segments.size == total)
      // the GROWING commit stayed O(delta): its manifest lists only
      // its own adds (~25k), not the 125k cumulative set
      val lastTxt = manifestText(t, 6L)
      assert(lastTxt.contains("\"addSegments\""))
      assert(lastTxt.length <
        manifestText(t, 2L).length * 2,
        "a later commit's bytes grew with table size")
      // a mid-chain version resolves exactly
      assert(CommitLog.snapshot(spark, t, Some(4L)).get
        .segments.size == 3 * perCommit)
      // a count-reducing commit (the OPTIMIZE shape) also lands
      val compacted = CommitLog.Snapshot(prev.version + 1L,
        Seq(s"$t/data/fake_compacted"), prev.version, "compact",
        schema = prev.schema)
      assert(CommitLog.tryPublish(spark, t, compacted, Some(prev)))
      assert(CommitLog.snapshot(spark, t).get.segments.size == 1)
    } finally rm(t)
  }

  test("legacy sidecar name-reuse hazard: after RENAME a→b + " +
      "RENAME c→a, a probe on the NEW 'a' must not read the OLD " +
      "column's stale 'a' key — kept conservatively, rows exact") {
    val t = tmpTable()
    try {
      import spark.implicits._
      // columns a (1..5) and c (100..200): one sidecar'd segment
      val rows = Seq((1L, 100.0), (2L, 120.0), (3L, 150.0),
        (4L, 180.0), (5L, 200.0))
      CommitLogStats.appendWithStats(spark, t,
        rows.toDF("a", "c"), Seq("a", "c"))
      val seg = CommitLog.snapshot(spark, t).get.segments.head
      // rewrite the sidecar in the LEGACY format (write-time LOGICAL
      // keys, no "keys":"physical" marker) — what pre-hardening code
      // left on disk
      val legacy = """{"rows":5,"cols":{""" +
        """"a":{"t":"long","min":1,"max":5,"nulls":0},""" +
        """"c":{"t":"double","min":100.0,"max":200.0,"nulls":0}}}"""
      // through the Hadoop FS so the checksum sidecar stays valid
      val sp = new org.apache.hadoop.fs.Path(s"$seg/_stats.json")
      val hfs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = hfs.create(sp, true)
      try out.write(legacy.getBytes("UTF-8")) finally out.close()
      // legal DDL reusing the name: a→b, then c→a
      CommitLog.renameColumn(spark, t, "a", "b")
      CommitLog.renameColumn(spark, t, "c", "a")
      // probe the NEW 'a' (values 100..200) on a range only the OLD
      // 'a' could satisfy-check: the stale key must not prune — the
      // trusted key is the field's physical name 'c'
      val plan = CommitLogStats.planSkipping(spark, t, "a",
        140.0, 160.0)
      assert(plan.kept.size === 1,
        "stale legacy key 'a' pruned the segment that HOLDS a=150")
      assert(CommitLogStats.readSkipping(spark, t, "a", 140.0, 160.0)
        .select("b").collect().map(_.getLong(0)).toSeq === Seq(3L))
      // and the physical key still prunes when nothing matches
      assert(CommitLogStats.planSkipping(spark, t, "a", 300.0, 400.0)
        .pruned.size === 1)
      // probe on 'b' (physical 'a' — hazardous: 'a' is now another
      // field's logical name): no trusted legacy key → conservative
      assert(CommitLogStats.planSkipping(spark, t, "b", 100.0, 200.0)
        .kept.size === 1)
    } finally rm(t)
  }

  test("OPTIMIZE on a column-mapped table lands PHYSICAL-named " +
      "files: values survive compactClustered after a rename, and " +
      "skipping still prunes on the new name") {
    val t = tmpTable()
    try {
      CommitLogStats.appendWithStats(spark, t,
        df((1L, "a", 1.0), (2L, "b", 5.0)), Seq("v"))
      CommitLogStats.appendWithStats(spark, t,
        df((3L, "c", 10.0), (4L, "d", 15.0)), Seq("v"))
      CommitLog.renameColumn(spark, t, "v", "score")
      // the clustered rewrite must write physical file names ('v'),
      // or the mapped reader serves silent NULLs for score
      CommitLogStats.compactClustered(spark, t,
        clusterCols = Seq("score", "id"), nSegments = 2,
        statsCols = Seq("score"))
      val got = CommitLog.read(spark, t)
        .select("id", "score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(got === Seq((1L, 1.0), (2L, 5.0), (3L, 10.0),
        (4L, 15.0)), "compacted mapped table lost column values")
      // the rewritten sidecars key physically → pruning works
      val plan = CommitLogStats.planSkipping(spark, t, "score",
        10.0, 15.0)
      assert(plan.pruned.nonEmpty)
      assert(CommitLogStats.readSkipping(spark, t, "score",
        10.0, 15.0).count() === 2L)
    } finally rm(t)
  }

  test("partitioned RTAS over a column-mapped table: the staged " +
      "files carry the DECLARED schema's names, not the replaced " +
      "mapping — values survive the replace") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_rtas_map_").toString
    try {
      spark.conf.set("spark.sql.catalog.grm",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.grm.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE grm.ns.t AS SELECT * FROM VALUES " +
        "(1, 'x', 1.5), (2, 'y', 2.5) AS v(id, name, v)")
      // make the PRE-replace table column-mapped
      spark.sql("ALTER TABLE grm.ns.t RENAME COLUMN v TO score")
      // partitioned RTAS: staging must NOT apply the old mapping
      spark.sql("REPLACE TABLE grm.ns.t PARTITIONED BY (bucket) AS " +
        "SELECT * FROM VALUES (10, 'p', 1), (20, 'q', 1), " +
        "(30, 'r', 2) AS v(id, score, bucket)")
      val got = spark.sql(
        "SELECT id, score, bucket FROM grm.ns.t ORDER BY id")
        .collect().map(r => (r.getInt(0), r.getString(1),
          r.getInt(2))).toSeq
      assert(got === Seq((10, "p", 1), (20, "q", 1),
        (30, "r", 2)),
        "RTAS staging applied the replaced table's mapping — " +
          "columns served as NULL")
      spark.sql("DROP TABLE grm.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.grm")
      spark.conf.unset("spark.sql.catalog.grm.root")
      rm(root + "/x")
    }
  }

  test("restore serves the TARGET version's own partition spec: " +
      "rolling back across a replace that changed PARTITIONED BY " +
      "restores the old spec with the old layout, and later " +
      "partitioned inserts follow it") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_restore_pb_").toString
    try {
      spark.conf.set("spark.sql.catalog.grp",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.grp.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE grp.ns.t (region STRING, x BIGINT) " +
        "PARTITIONED BY (region)")
      spark.sql("INSERT INTO grp.ns.t VALUES ('eu', 1), ('us', 2)")
      val vRegion = CommitLog.currentVersion(spark, path).get
      assert(CommitLog.partitionColumns(spark, path) ===
        Some(Seq("region")))
      // replace changes the spec — the new record owns it
      spark.sql("REPLACE TABLE grp.ns.t PARTITIONED BY (day) AS " +
        "SELECT * FROM VALUES ('d1', 10L), ('d2', 20L) " +
        "AS v(day, x)")
      assert(CommitLog.partitionColumns(spark, path) ===
        Some(Seq("day")))
      // restore ACROSS the replace: data, schema AND spec roll back
      CommitLog.restore(spark, path, vRegion): Unit
      assert(CommitLog.partitionColumns(spark, path) ===
        Some(Seq("region")),
        "restore left the replaced definition's partition spec " +
          "governing the rolled-back layout")
      assert(spark.sql("SELECT region, x FROM grp.ns.t ORDER BY x")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("eu", 1L), ("us", 2L)))
      // and the restored spec governs new writes
      spark.sql("INSERT INTO grp.ns.t VALUES ('ap', 3)")
      assert(spark.sql("SELECT count(*) FROM grp.ns.t").head()
        .getLong(0) === 3L)
      spark.sql("DROP TABLE grp.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.grp")
      spark.conf.unset("spark.sql.catalog.grp.root")
      rm(root + "/x")
    }
  }

  test("partition evolution: set_partition_spec re-records the " +
      "spec as a metadata-only commit; mixed-layout segment sets " +
      "read and prune correctly; the change feed crosses it; " +
      "restore rolls the spec back; guards refuse") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_part_evo_").toString
    try {
      spark.conf.set("spark.sql.catalog.gpe",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gpe.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gpe.ns.t (region STRING, day STRING, " +
        "x BIGINT, price DOUBLE) PARTITIONED BY (region)")
      spark.sql("INSERT INTO gpe.ns.t VALUES " +
        "('eu', 'd1', 1, 1.5), ('us', 'd1', 2, 2.5)")
      val vPre = CommitLog.currentVersion(spark, path).get
      val segsPre = CommitLog.snapshot(spark, path).get.segments
      // evolve the spec through the CALL surface
      val vSpec = spark.sql("CALL gpe.system.set_partition_spec(" +
        "table => 'ns.t', partition_by => 'day')").head().getLong(0)
      val specSnap = CommitLog.snapshot(spark, path, Some(vSpec)).get
      assert(specSnap.op === "set_partition_spec")
      assert(specSnap.segments === segsPre,
        "partition evolution moved segments — it must be metadata-only")
      assert(CommitLog.partitionColumns(spark, path) ===
        Some(Seq("day")))
      // new writes land under the NEW spec (one segment per day)
      spark.sql("INSERT INTO gpe.ns.t VALUES " +
        "('ap', 'd2', 3, 3.5), ('eu', 'd3', 4, 4.5)")
      assert(spark.sql("SELECT count(*) FROM gpe.ns.t").head()
        .getLong(0) === 4L)
      // the change feed crosses the spec commit (it serves nothing),
      // delivering exactly the two INSERTs' rows
      assert(CommitLog.changes(spark, path, afterVersion = 0L)
        .map(_._2.count()).sum === 4L)
      // mixed layouts prune: a day probe prunes the OTHER day's new
      // segment and conservatively keeps the old-spec segments
      val plan = graft.sources.CommitLogStats.planSkipping(
        spark, path, "day", "d2", "d2")
      assert(plan.pruned.size === 1,
        s"expected exactly the d3 segment pruned, got ${plan.pruned}")
      assert(graft.sources.CommitLogStats.readSkipping(
        spark, path, "day", "d2", "d2").count() === 1L)
      // restore ACROSS the evolution: the target's own spec returns
      CommitLog.restore(spark, path, vPre): Unit
      assert(CommitLog.partitionColumns(spark, path) ===
        Some(Seq("region")))
      assert(spark.sql("SELECT count(*) FROM gpe.ns.t").head()
        .getLong(0) === 2L)
      // guards: unknown column / non-partitionable type refuse
      val e1 = intercept[IllegalStateException] {
        CommitLog.setPartitionSpec(spark, path, Seq("nope"))
      }
      assert(e1.getMessage.contains("no column"))
      val e2 = intercept[IllegalStateException] {
        CommitLog.setPartitionSpec(spark, path, Seq("price"))
      }
      assert(e2.getMessage.contains("STRING, integral or BOOLEAN"))
      // explicit-empty spec = evolve to unpartitioned
      CommitLog.setPartitionSpec(spark, path, Seq.empty): Unit
      assert(CommitLog.partitionColumns(spark, path).isEmpty)
      spark.sql("DROP TABLE gpe.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gpe")
      spark.conf.unset("spark.sql.catalog.gpe.root")
      rm(root + "/x")
    }
  }

  test("scan bridges report size statistics: small DV'd and " +
      "column-mapped tables STATICALLY broadcast in joins (no AQE " +
      "rescue needed)") {
    val t = tmpTable()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the stats relay rides the live-session hook (see
    // ScanStatsRelay scaladoc: no extensions point runs post-pushdown)
    graft.expressions.GraftExtensions.register(spark)
    try {
      CommitLog.append(spark, t,
        df((1 to 50).map(i => (i.toLong, s"n$i", i * 1.0)): _*))
      CommitLog.deleteVectored(spark, t, col("id") === 7L): Unit
      // big probe side: range stats (8 bytes/row) sit far above the
      // broadcast threshold, so only the commit-log side qualifies
      val big = spark.range(5000000L).toDF("id")
      def bhj(d: DataFrame): Boolean =
        d.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin")
      val dvd = spark.read.format("commitlog").load(t)
      assert(bhj(big.join(dvd, "id")),
        "DV'd table did not statically broadcast — the V1Scan " +
          "bridge is reporting unknown size")
      assert(big.join(dvd, "id").count() === 49L)
      // mapped path: rename routes reads through the mapped bridge
      CommitLog.renameColumn(spark, t, "v", "score"): Unit
      val mapped = spark.read.format("commitlog").load(t)
      assert(bhj(big.join(mapped, "id")),
        "column-mapped table did not statically broadcast")
      assert(big.join(mapped, "id").count() === 49L)
    } finally {
      spark.conf.unset("spark.sql.adaptive.enabled")
      rm(t)
    }
  }

  test("changes(): a vacuumed replay BASE raises the curated " +
      "feed-reconstruction error, not a bare lookup failure") {
    val t = tmpTable()
    try {
      (1 to 4).foreach(i =>
        CommitLog.append(spark, t, df((i.toLong, s"n$i", i * 1.0))))
      withRetentionCheckOff {
        CommitLog.vacuum(spark, t, retainVersions = 2) }
      // versions 3,4 retained; afterVersion=2 has a contiguous tail
      // but the BASE (v2) is gone — must raise the curated error
      val e = intercept[IllegalStateException] {
        CommitLog.changes(spark, t, afterVersion = 2L)
      }
      assert(e.getMessage.contains("replay base") &&
        e.getMessage.contains("vacuumed"))
      // changeFeed resolves the same range and refuses the same way
      val f = intercept[IllegalStateException] {
        CommitLog.changeFeed(spark, t, afterVersion = 2L)
      }
      assert(f.getMessage.contains("replay base") &&
        f.getMessage.contains("vacuumed"))
      // the fully-retained feed still serves
      assert(CommitLog.changes(spark, t, afterVersion = 3L).size === 1)
      assert(CommitLog.changeFeed(spark, t, afterVersion = 3L).count()
        === 1L)
    } finally rm(t)
  }

  test("type widening: INT→LONG / FLOAT→DOUBLE / DECIMAL growth are " +
      "metadata-only commits; mixed-age segments serve one uniform " +
      "type, stats skipping stays valid, narrowing refuses, time " +
      "travel serves the old type") {
    import org.apache.spark.sql.types._
    val t = tmpTable()
    try {
      import spark.implicits._
      def mk(ids: Seq[Int], vs: Seq[Float]): DataFrame =
        ids.zip(vs).toDF("id", "v")
          .select(col("id").cast("int").as("id"),
            col("v").cast("float").as("v"))
      // two INT/FLOAT segments with stats, then widen both columns
      CommitLogStats.appendWithStats(spark, t,
        mk(Seq(1, 2), Seq(1.5f, 2.5f)), Seq("id"))
      CommitLogStats.appendWithStats(spark, t,
        mk(Seq(10, 20), Seq(10.5f, 20.5f)), Seq("id"))
      // record the schema (plain appends infer) — widen needs it;
      // appendEvolve with same shape records without adding
      CommitLog.appendEvolve(spark, t, mk(Seq(30), Seq(30.5f)))
      val preWidenV = CommitLog.currentVersion(spark, t).get
      val segsBefore = CommitLog.snapshot(spark, t).get.segments.toSet
      CommitLog.widenColumn(spark, t, "id", LongType)
      CommitLog.widenColumn(spark, t, "v", DoubleType)
      // METADATA-ONLY: zero segments touched
      assert(CommitLog.snapshot(spark, t).get.segments.toSet ===
        segsBefore)
      // old INT/FLOAT bytes serve as LONG/DOUBLE...
      val sch = CommitLog.read(spark, t).schema
      assert(sch("id").dataType === LongType &&
        sch("v").dataType === DoubleType)
      // ...and a post-widen append lands genuinely-long values in
      // the SAME table: mixed-age segments, one uniform type
      CommitLog.append(spark, t, Seq((1L << 40, 99.25))
        .toDF("id", "v"))
      val all = CommitLog.read(spark, t).select("id", "v").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(all === Seq((1L, 1.5), (2L, 2.5), (10L, 10.5),
        (20L, 20.5), (30L, 30.5), (1L << 40, 99.25)))
      // stats skipping stays valid across the widen (integral tags
      // are all "long"): a LONG probe prunes the pre-widen sidecars
      val plan = CommitLogStats.planSkipping(spark, t, "id", 10L, 20L)
      assert(plan.pruned.nonEmpty)
      assert(CommitLogStats.readSkipping(spark, t, "id", 10L, 20L)
        .count() === 2L)
      // time travel: the pre-widen version serves the NARROW type
      assert(CommitLog.read(spark, t, Some(preWidenV))
        .schema("id").dataType === IntegerType)
      // narrowing / tag-flipping / cross-family changes refuse
      for (bad <- Seq("id" -> IntegerType, "v" -> FloatType,
          "id" -> DoubleType, "v" -> StringType)) {
        val e = intercept[IllegalStateException] {
          CommitLog.widenColumn(spark, t, bad._1, bad._2)
        }
        assert(e.getMessage.contains("not a metadata-only widening"))
      }
      // decimal: precision growth with non-shrinking integer digits
      val td = tmpTable()
      try {
        val d = Seq("12.34", "56.78")
          .toDF("s").select(col("s").cast("decimal(5,2)").as("m"))
        CommitLog.appendEvolve(spark, td, d)
        CommitLog.widenColumn(spark, td, "m", DecimalType(12, 4))
        assert(CommitLog.read(spark, td).schema("m").dataType ===
          DecimalType(12, 4))
        assert(CommitLog.read(spark, td).agg(
          sum(col("m"))).collect()(0).getDecimal(0)
          .compareTo(new java.math.BigDecimal("69.12")) === 0)
        // shrinking integer capacity refuses: (12,4)→(12,6) loses
        // integer digits
        intercept[IllegalStateException] {
          CommitLog.widenColumn(spark, td, "m", DecimalType(12, 6))
        }
      } finally rm(td)
      // SQL surface: ALTER COLUMN TYPE through the catalog
      val root = java.nio.file.Files
        .createTempDirectory("graft_widen_sql_").toString
      try {
        spark.conf.set("spark.sql.catalog.gwd",
          "graft.sources.CommitLogCatalog")
        spark.conf.set("spark.sql.catalog.gwd.root", root)
        spark.sql("CREATE TABLE gwd.ns.t (id INT, v FLOAT)")
        spark.sql("INSERT INTO gwd.ns.t VALUES (7, 7.5)")
        spark.sql("ALTER TABLE gwd.ns.t ALTER COLUMN id TYPE BIGINT")
        spark.sql(s"INSERT INTO gwd.ns.t VALUES (${1L << 41}, 8.5)")
        assert(spark.sql("SELECT SUM(id) FROM gwd.ns.t").collect()(0)
          .getLong(0) === 7L + (1L << 41))
        spark.sql("DROP TABLE gwd.ns.t")
      } finally {
        spark.conf.unset("spark.sql.catalog.gwd")
        spark.conf.unset("spark.sql.catalog.gwd.root")
        rm(root + "/x")
      }
    } finally rm(t)
  }

  test("mid-stream RENAME/DROP/WIDEN fails a LIVE stream loudly " +
      "with the non-additive error — even under " +
      "ignoreSchemaEvolution (which absorbs ADDs only); a fresh " +
      "restart serves the new schema") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val cpRoot = java.nio.file.Files
      .createTempDirectory("graft_nonadd_stream_").toString
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(th =>
        Option(th.getMessage).toSeq ++ msgs(th.getCause))
    def run(name: String, ddl: String => Unit,
        expectMsg: String, postRow: DataFrame): Unit = {
      val t = tmpTable()
      try {
        // recorded schema from the start (appendEvolve)
        CommitLog.appendEvolve(spark, t,
          Seq((1, "a")).toDF("id", "name")
            .select(col("id").cast("int").as("id"), col("name")))
        // live stream, evolution-tolerant option ON — the
        // non-additive guard must fire anyway
        val q = spark.readStream.format("commitlog").option("path", t)
          .option("ignoreSchemaEvolution", "true")
          .load().writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$cpRoot/$name")
          .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
        val deadline = System.currentTimeMillis() + 60000
        while (spark.sql(s"SELECT * FROM $name").count() < 1L) {
          assert(System.currentTimeMillis() < deadline,
            s"$name never consumed v1")
          Thread.sleep(100)
        }
        // the table changes non-additively WHILE the stream runs
        ddl(t)
        val e = intercept[
            org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        assert(msgs(e).exists(m => m.contains(expectMsg) &&
          m.contains("non-additive")), s"$name: wrong error: $e")
        q.stop()
        // the documented restart: a FRESH checkpoint with
        // startingVersion at or after the schema-change commit
        // serves the post-DDL schema (replaying pre-DDL versions
        // under the new pinned schema would trip the same guard
        // from the other side — by design)
        val vData = CommitLog.append(spark, t, postRow)
        val q3 = spark.readStream.format("commitlog")
          .option("path", t).option("startingVersion", vData.toString)
          .load().writeStream.format("memory").queryName(s"${name}3")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", s"$cpRoot/${name}_fresh")
          .start()
        q3.awaitTermination(60000)
        assert(spark.sql(s"SELECT * FROM ${name}3").count() === 1L)
      } finally rm(t)
    }
    run("ns_rename",
      t => CommitLog.renameColumn(spark, t, "name", "label"): Unit,
      "'rename_column' commit",
      Seq((2, "b")).toDF("id", "label")
        .select(col("id").cast("int").as("id"), col("label")))
    run("ns_drop",
      t => CommitLog.dropColumn(spark, t, "name"): Unit,
      "'drop_column' commit",
      Seq(3).toDF("id").select(col("id").cast("int").as("id")))
    run("ns_widen",
      t => CommitLog.widenColumn(spark, t, "id",
        org.apache.spark.sql.types.LongType): Unit,
      "'widen_column' commit",
      Seq((1L << 40, "w")).toDF("id", "name"))
    // regression pin: versions that merely PREDATE a later
    // ADD-COLUMN evolution are NOT non-additive — a fresh stream
    // replaying full history across an old evolve must serve the
    // old deltas NULL-padded under the latest schema, not trip the
    // rename/drop guard (a name-diff cannot tell the two apart;
    // the op-based guard can)
    val t2 = tmpTable()
    try {
      CommitLog.appendEvolve(spark, t2, Seq((1, "a")).toDF("id", "name"))
      CommitLog.evolveColumns(spark, t2, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType)))
      CommitLog.appendEvolve(spark, t2,
        Seq((2, "b", 2.5)).toDF("id", "name", "score"))
      val qh = spark.readStream.format("commitlog").option("path", t2)
        .load().writeStream.format("memory").queryName("nonadd_hist")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$cpRoot/hist").start()
      qh.awaitTermination(60000)
      val rows = spark.sql(
        "SELECT id, score FROM nonadd_hist ORDER BY id").collect()
      assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2))
      assert(rows(0).isNullAt(1) && rows(1).getDouble(1) === 2.5)
    } finally rm(t2)
  }

  test("missing-cadence-checkpoint tolerance: a crash between the " +
      "manifest create and the cadence checkpoint write (the " +
      "publish winner writes them in that order) only lengthens " +
      "replay — resolve, time travel and vacuum all stay exact, " +
      "and vacuum re-pins its floor") {
    val t = tmpTable()
    try {
      // 12 appends → v10 gets the cadence checkpoint (interval 10)
      (1 to 12).foreach(i =>
        CommitLog.append(spark, t, df((i.toLong, s"n$i", i * 1.0))))
      val cp10 = new java.io.File(f"$t/_commits/${10L}%020d.checkpoint")
      assert(cp10.exists(), "cadence checkpoint at v10 missing")
      val before = sortedRows(CommitLog.read(spark, t))
      val beforeV5 = sortedRows(CommitLog.read(spark, t, Some(5L)))
      // simulate the crash: the manifest landed, the checkpoint never
      // did (tryPublish writes manifest THEN checkpoint, best-effort)
      assert(cp10.delete())
      val crc10 = new java.io.File(
        f"$t/_commits/.${10L}%020d.checkpoint.crc")
      if (crc10.exists()) crc10.delete(): Unit
      // every resolution replays further (down to self-contained v1)
      // but stays EXACT
      assert(sortedRows(CommitLog.read(spark, t)) === before)
      assert(sortedRows(CommitLog.read(spark, t, Some(5L))) ===
        beforeV5)
      assert(CommitLog.snapshot(spark, t, Some(10L)).get
        .segments.size === 10)
      // vacuum must not assume the cadence pin exists: it re-pins
      // its retain floor (v10) with ensureCheckpoint before dropping
      CommitLog.vacuum(spark, t, retainVersions = 3)
      assert(cp10.exists(), "vacuum did not re-pin its retain floor")
      assert(CommitLog.versions(spark, t) === Seq(10L, 11L, 12L))
      assert(sortedRows(CommitLog.read(spark, t)) === before)
      assert(sortedRows(CommitLog.read(spark, t, Some(10L))).size
        === 10)
      // dropped versions are gone, not wrong
      assert(CommitLog.snapshot(spark, t, Some(5L)).isEmpty)
    } finally rm(t)
  }

  test("constraints are VERSIONED: concurrent setConstraint calls " +
      "both land (no lost update), the feed treats constraint " +
      "commits as metadata-only, and a stale legacy side file is " +
      "ignored once the manifest field exists") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      // (1) REAL-THREAD race: two writers set DIFFERENT constraints;
      // OCC serializes them — both present, versions distinct
      val gate = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val f1 = scala.concurrent.Future {
        gate.await(); CommitLog.setConstraint(spark, t, "v_pos", "v > 0")
      }
      val f2 = scala.concurrent.Future {
        gate.await(); CommitLog.setConstraint(spark, t, "id_pos", "id > 0")
      }
      gate.countDown()
      val vs = Seq(f1, f2).map(f =>
        scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration(60, "s")))
      pool.shutdown()
      assert(vs.toSet.size === 2, "constraint commits did not serialize")
      assert(CommitLog.constraints(spark, t) ==
        Map("v_pos" -> "v > 0", "id_pos" -> "id > 0"),
        "a concurrent setConstraint lost its update")
      // (2) metadata-only for the feeds: changes()/changeFeed skip
      // the two constraint versions without raising
      assert(CommitLog.changes(spark, t, 0L).map(_._1) === Seq(1L))
      assert(CommitLog.changeFeed(spark, t, 0L)
        .select("_commit_version").distinct().collect()
        .map(_.getLong(0)).toSeq === Seq(1L))
      // (3) a stale legacy `_constraints.json` (the crashed-RTAS
      // world) is IGNORED once the manifest field exists: the gate
      // is exactly the versioned set
      val sp = new org.apache.hadoop.fs.Path(s"$t/_constraints.json")
      val hfs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = hfs.create(sp, true)
      try out.write("""{"ghost":"v > 1000"}""".getBytes("UTF-8"))
      finally out.close()
      assert(!CommitLog.constraints(spark, t).contains("ghost"))
      // rows violating ONLY the ghost rule land fine
      CommitLog.append(spark, t, df((3L, "c", 3.0)))
      assert(CommitLog.read(spark, t).count() === 3L)
      // (4) history records the constraint ops
      val ops = CommitLog.history(spark, t).select("op").collect()
        .map(_.getString(0)).toSet
      assert(ops.contains("set_constraint"))
      // (5) UNSET commits too; versions strictly grow
      CommitLog.dropConstraint(spark, t, "id_pos")
      assert(CommitLog.constraints(spark, t) ==
        Map("v_pos" -> "v > 0"))
    } finally rm(t)
  }

  test("multi-part checkpoints: past the part threshold the " +
      "checkpoint shards into part files + an atomic marker; " +
      "resolution concatenates exactly, vacuum pins and sweeps " +
      "parts, a declared-but-missing part raises loudly") {
    val t = tmpTable()
    spark.conf.set("spark.graft.manifest.checkpointPartSegments", "3")
    try {
      (1 to 8).foreach(i =>
        CommitLog.append(spark, t, df((i.toLong, s"n$i", i * 1.0))))
      val before = sortedRows(CommitLog.read(spark, t))
      assert(CommitLog.checkpoint(spark, t) === 8L)
      def cfile(name: String) = new java.io.File(s"$t/_commits/$name")
      // 8 segments at part size 3 → parts 1..3 + the marker
      assert(cfile(f"${8L}%020d.checkpoint").exists())
      (1 to 3).foreach(k => assert(
        cfile(f"${8L}%020d.checkpoint.part-$k-of-3").exists(),
        s"part $k missing"))
      // the marker deliberately carries NO segments array (a
      // parts-unaware reader must fail loud, never serve empty)
      val marker = new String(java.nio.file.Files.readAllBytes(
        cfile(f"${8L}%020d.checkpoint").toPath), "UTF-8")
      assert(marker.contains("\"checkpointParts\":3") &&
        !marker.contains("\"segments\""))
      // resolution goes THROUGH the sharded checkpoint (it is
      // preferred over the manifest chain) and is exact
      assert(CommitLog.snapshot(spark, t, Some(8L)).get
        .segments.size === 8)
      assert(sortedRows(CommitLog.read(spark, t)) === before)
      // vacuum pins its floor with a (sharded) checkpoint and the
      // retained versions stay exact; dropped versions' parts sweep
      CommitLog.vacuum(spark, t, retainVersions = 3)
      assert(CommitLog.versions(spark, t) === Seq(6L, 7L, 8L))
      assert(cfile(f"${6L}%020d.checkpoint").exists())
      assert(cfile(f"${6L}%020d.checkpoint.part-1-of-2").exists())
      assert(sortedRows(CommitLog.read(spark, t)) === before)
      assert(sortedRows(CommitLog.read(spark, t, Some(6L))).size === 6)
      // corrupting a declared part fails LOUD at resolution
      val part2 = cfile(f"${8L}%020d.checkpoint.part-2-of-3")
      assert(part2.delete())
      val crc = cfile(f".${8L}%020d.checkpoint.part-2-of-3.crc")
      if (crc.exists()) crc.delete(): Unit
      val e = intercept[IllegalStateException] {
        CommitLog.snapshot(spark, t, Some(8L))
      }
      assert(e.getMessage.contains("part 2 is missing"))
    } finally {
      spark.conf.unset("spark.graft.manifest.checkpointPartSegments")
      rm(t)
    }
  }

  test("gate-vs-SET race closes at the publish boundary: an append " +
      "staged BEFORE a constraint existed, losing its version race " +
      "to the SET, re-gates on retry and refuses — no violating row " +
      "ever lands") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 5.0)))
      // deterministic interleave via the ManifestStore seam: the
      // violating append stages (gate sees NO constraints), then its
      // v2 publish is intercepted — a setConstraint wins v2 instead —
      // and the append's retry must re-gate against the new rule
      val store = new ManifestStores.LoseOnce(() =>
        CommitLog.setConstraint(spark, t, "v_pos", "v > 0"): Unit)
      ManifestStores.withStore(t, store) {
        val e = intercept[IllegalStateException] {
          CommitLog.append(spark, t, df((2L, "bad", -2.0)))
        }
        assert(e.getMessage.contains("v_pos"))
      }
      assert(store.fired, "the interleave never happened")
      // the SET's version is the only new commit; content is clean
      assert(CommitLog.versions(spark, t) === Seq(1L, 2L))
      assert(CommitLog.snapshot(spark, t).get.op === "set_constraint")
      assert(sortedRows(CommitLog.read(spark, t)) ===
        Seq((1L, "a", 5.0)))
      // the refused segment was deleted at the re-gate (atomic
      // refusal): only v1's segment remains under data/
      val dataDir = new java.io.File(s"$t/data")
      assert(Option(dataDir.listFiles).toSeq.flatten
        .count(_.isDirectory) === 1)
    } finally rm(t)
  }

  test("appendSliced is constraint-gated (previously the one " +
      "ungated ingest path): a violating sliced append refuses " +
      "atomically, a clean one lands") {
    val t = tmpTable()
    try {
      import spark.implicits._
      def frame(vs: Seq[Double]): DataFrame =
        vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("id", "v")
          .withColumn("slice", (col("id") % 2).cast("int"))
      CommitLog.append(spark, t,
        frame(Seq(1.0, 2.0)).drop("slice"))
      CommitLog.setConstraint(spark, t, "v_pos", "v > 0"): Unit
      val vBefore = CommitLog.versions(spark, t)
      val e = intercept[IllegalStateException] {
        CommitLogStats.appendSliced(spark, t,
          frame(Seq(3.0, -4.0)), "slice", Seq("id"))
      }
      assert(e.getMessage.contains("v_pos"))
      assert(CommitLog.versions(spark, t) === vBefore)
      assert(CommitLog.read(spark, t).count() === 2L)
      // clean sliced append passes the gate and lands per-slice
      CommitLogStats.appendSliced(spark, t,
        frame(Seq(5.0, 6.0)), "slice", Seq("id"))
      assert(CommitLog.read(spark, t).count() === 4L)
    } finally rm(t)
  }

  test("legacy side-file constraints: honored while no manifest " +
      "field exists, absorbed into the log by the first SET, and " +
      "the file is deleted") {
    val t = tmpTable()
    try {
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      // simulate a pre-versioning table: hand-written side file
      val sp = new org.apache.hadoop.fs.Path(s"$t/_constraints.json")
      val hfs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = hfs.create(sp, true)
      try out.write("""{"v_pos":"v > 0"}""".getBytes("UTF-8"))
      finally out.close()
      // the legacy rule governs reads AND gates writes
      assert(CommitLog.constraints(spark, t) == Map("v_pos" -> "v > 0"))
      intercept[IllegalStateException] {
        CommitLog.append(spark, t, df((2L, "bad", -2.0)))
      }
      // first SET absorbs the file into a versioned commit
      CommitLog.setConstraint(spark, t, "id_pos", "id > 0")
      assert(CommitLog.constraints(spark, t) ==
        Map("v_pos" -> "v > 0", "id_pos" -> "id > 0"))
      assert(!hfs.exists(sp), "legacy file not absorbed+deleted")
      // both rules now gate from the manifest
      intercept[IllegalStateException] {
        CommitLog.append(spark, t, df((-3L, "bad", 3.0)))
      }
    } finally rm(t)
  }

  test("streaming source: a vacuumed replay BASE fails the stream " +
      "with the curated restart error; the retained floor streams") {
    val t = tmpTable()
    try {
      import org.apache.spark.sql.streaming.Trigger
      (1 to 4).foreach(i =>
        CommitLog.append(spark, t, df((i.toLong, s"n$i", i * 1.0))))
      withRetentionCheckOff {
        CommitLog.vacuum(spark, t, retainVersions = 2) }
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_vb_out_").toString
      // startingVersion=3 needs v2's segment set as the delta base —
      // vacuumed → curated error, not a bare NoSuchElementException
      val q = spark.readStream.format("commitlog").option("path", t)
        .option("startingVersion", "3").load()
        .writeStream.format("memory").queryName("gvb_bad")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$outDir/cp1").start()
      val e = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(60000): Unit
      }
      assert(e.getMessage.contains("replay base") ||
        Option(e.getCause).exists(_.getMessage.contains("replay base")))
      // startingVersion=4 resolves against the pinned floor (v3)
      val q2 = spark.readStream.format("commitlog").option("path", t)
        .option("startingVersion", "4").load()
        .writeStream.format("memory").queryName("gvb_ok")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$outDir/cp2").start()
      q2.awaitTermination(60000)
      assert(spark.sql("SELECT id FROM gvb_ok").collect()
        .map(_.getLong(0)).toSeq === Seq(4L))
    } finally rm(t)
  }

  test("sliced/partitioned stagers run the writeSegmentGated " +
      "omission/identity refusals: omitted identity or NOT NULL " +
      "columns refuse (previously landed silently and read back " +
      "NULL); NULL identity values refuse (no allocation here); " +
      "provided BY DEFAULT ids auto-SYNC the mark in the commit") {
    import spark.implicits._
    import graft.sources.CommitLogStats
    val root = java.nio.file.Files
      .createTempDirectory("graft_gatestage_").toString
    try {
      spark.conf.set("spark.sql.catalog.gst",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gst.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE gst.ns.t (id BIGINT GENERATED BY " +
        "DEFAULT AS IDENTITY, name STRING NOT NULL, region STRING, " +
        "v DOUBLE)")
      // omitted identity column refuses on the partitioned stager
      val e1 = intercept[IllegalArgumentException] {
        CommitLogStats.appendPartitioned(spark, path,
          Seq(("a", "us", 1.0)).toDF("name", "region", "v"),
          Seq("region"))
      }
      assert(e1.getMessage.contains("identity column") &&
        e1.getMessage.contains("does not allocate"))
      // NULL identity values refuse (this path cannot allocate)
      val e2 = intercept[IllegalArgumentException] {
        CommitLogStats.appendPartitioned(spark, path,
          Seq((None: Option[Long], "a", "us", 1.0),
            (Some(7L), "b", "us", 2.0))
            .toDF("id", "name", "region", "v"), Seq("region"))
      }
      assert(e2.getMessage.contains("NULL value(s)"))
      // omitted NOT NULL column refuses
      val e3 = intercept[IllegalArgumentException] {
        CommitLogStats.appendPartitioned(spark, path,
          Seq((7L, "us", 1.0)).toDF("id", "region", "v"),
          Seq("region"))
      }
      assert(e3.getMessage.contains("NOT NULL column 'name'"))
      // nothing landed through the refusals
      assert(CommitLog.read(spark, path).count() === 0L)
      // a valid partitioned append with explicit BY DEFAULT ids
      // advances the mark: the next allocating append continues past
      CommitLogStats.appendPartitioned(spark, path,
        Seq((100L, "a", "us", 1.0), (101L, "b", "eu", 2.0))
          .toDF("id", "name", "region", "v"), Seq("region"))
      CommitLog.append(spark, path,
        Seq(("c", "ap", 3.0)).toDF("name", "region", "v"))
      val ids = spark.sql("SELECT id FROM gst.ns.t ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.take(2) === Seq(100L, 101L) && ids(2) > 101L &&
        ids.distinct.length === 3)
      // the sliced stager refuses the same shapes
      val e4 = intercept[IllegalArgumentException] {
        CommitLogStats.appendSliced(spark, path,
          Seq((1, 9L, "us", 9.0)).toDF("sl", "id", "region", "v"),
          "sl", Seq("id"))
      }
      assert(e4.getMessage.contains("NOT NULL column 'name'"))
      // ALWAYS identity: explicit values refuse on these paths too
      spark.sql("CREATE TABLE gst.ns.a (id BIGINT GENERATED ALWAYS " +
        "AS IDENTITY, region STRING)")
      val e5 = intercept[IllegalArgumentException] {
        CommitLogStats.appendPartitioned(spark, s"$root/ns/a",
          Seq((1L, "us")).toDF("id", "region"), Seq("region"))
      }
      assert(e5.getMessage.contains("GENERATED ALWAYS"))
      spark.sql("DROP TABLE gst.ns.t")
      spark.sql("DROP TABLE gst.ns.a")
    } finally {
      spark.conf.unset("spark.sql.catalog.gst")
      spark.conf.unset("spark.sql.catalog.gst.root")
      rm(root + "/x")
    }
  }

  test("deep CLONE remaps deletion-vector rows under NESTED segment " +
      "layouts (a Hive-partitioned tree adopted via convertParquet): " +
      "the clone subtracts exactly the source's deleted rows — " +
      "previously the parent-component remap missed and deleted rows " +
      "resurrected") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_dvclone_").toString
    val src = s"$root/plain"
    val t = s"$root/tbl"
    val dp = s"$root/deep"
    try {
      Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
        .toDF("id", "name", "v")
        .write.partitionBy("name").parquet(src)
      CommitLog.convertParquet(spark, src, t)
      // merge-on-read delete: the DV keys rows by FILE PATH inside
      // the nested tree (…/plain/name=a/part-*.parquet)
      CommitLog.deleteVectored(spark, t, col("id") === 2L)
      assert(CommitLog.read(spark, t).count() === 2L)
      CommitLog.cloneTable(spark, t, dp, shallow = false)
      // the deep clone's vector must subtract the same row — not
      // keep un-remapped source paths that subtract nothing
      val got = CommitLog.read(spark, dp)
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
      assert(got === Seq(1L, 3L),
        s"deep clone resurrected a DV-deleted row: $got")
      // every remapped DV row points under the CLONE's root
      val dvPath = CommitLog.snapshot(spark, dp).get.dv.get
      val dvFiles = spark.read.parquet(dvPath)
        .select("_dv_file").collect().map(_.getString(0))
      assert(dvFiles.nonEmpty && dvFiles.forall(_.contains(dp)),
        s"DV rows still reference source paths: ${dvFiles.toSeq}")
    } finally rm(src)
  }

  test("replaceWhere (selective overwrite): ONE atomic replace_where " +
      "commit swaps exactly the matching slice — untouched partition " +
      "segments stay byte-identical, out-of-slice rows refuse, the " +
      "reload is idempotent, CDC replays delete+insert, and the DSv2 " +
      "filtered-overwrite + replaceWhere-option surfaces route " +
      "through it") {
    import spark.implicits._
    import graft.sources.CommitLogStats
    val root = java.nio.file.Files
      .createTempDirectory("graft_rw_").toString
    try {
      spark.conf.set("spark.sql.catalog.grw",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.grw.root", root)
      val path = s"$root/ns/t"
      spark.sql("CREATE TABLE grw.ns.t (id BIGINT, day STRING, " +
        "v DOUBLE) PARTITIONED BY (day)")
      CommitLogStats.appendPartitioned(spark, path, Seq(
        (1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0),
        (4L, "d3", 4.0)).toDF("id", "day", "v"), Seq("day"))
      val preSegs = CommitLog.snapshot(spark, path).get.segments.toSet
      // the date-fenced incremental reload, done right: replace the
      // d1 slice atomically
      val (v, nDel, nIns) = CommitLog.overwriteWhere(spark, path,
        Seq((10L, "d1", 10.0), (11L, "d1", 11.0), (12L, "d1", 12.0))
          .toDF("id", "day", "v"), col("day") === "d1")
      assert(nDel === 2L && nIns === 3L)
      assert(CommitLog.snapshot(spark, path).get.op === "replace_where")
      assert(spark.sql("SELECT id FROM grw.ns.t ORDER BY id").collect()
        .map(_.getLong(0)).toSeq === Seq(3L, 4L, 10L, 11L, 12L))
      // untouched partitions (d2, d3) keep their exact segment paths
      val postSegs = CommitLog.snapshot(spark, path).get.segments.toSet
      assert((preSegs & postSegs).size === 2,
        "replaceWhere rewrote an untouched partition")
      // out-of-slice incoming rows refuse BEFORE anything commits
      val e = intercept[IllegalArgumentException] {
        CommitLog.overwriteWhere(spark, path,
          Seq((99L, "d9", 9.0)).toDF("id", "day", "v"),
          col("day") === "d1")
      }
      assert(e.getMessage.contains("do not satisfy"))
      assert(CommitLog.currentVersion(spark, path).get === v)
      // idempotent: re-running the same slice reload gives the same
      // final state (a crash-retry of the incremental job is safe)
      CommitLog.overwriteWhere(spark, path,
        Seq((10L, "d1", 10.0), (11L, "d1", 11.0), (12L, "d1", 12.0))
          .toDF("id", "day", "v"), col("day") === "d1")
      assert(spark.sql("SELECT id FROM grw.ns.t ORDER BY id").collect()
        .map(_.getLong(0)).toSeq === Seq(3L, 4L, 10L, 11L, 12L))
      // CDC: the replace_where version replays as deletes + inserts
      val feed = CommitLog.changeFeed(spark, path, v - 1L,
        toVersion = Some(v))
      val byType = feed.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType === Map("delete" -> 2L, "insert" -> 3L))
      // time travel below the replace still serves the old slice
      assert(CommitLog.read(spark, path, asOfVersion = Some(v - 1L))
        .filter(col("day") === "d1").count() === 2L)
      // DSv2 filtered overwrite (DataFrameWriterV2.overwrite(cond))
      Seq((20L, "d2", 20.0)).toDF("id", "day", "v")
        .writeTo("grw.ns.t").overwrite(col("day") === "d2")
      assert(CommitLog.snapshot(spark, path).get.op === "replace_where")
      assert(spark.sql("SELECT id FROM grw.ns.t WHERE day='d2'")
        .collect().map(_.getLong(0)).toSeq === Seq(20L))
      // the replaceWhere OPTION on a V1 overwrite write (Delta's)
      Seq((30L, "d3", 30.0)).toDF("id", "day", "v")
        .write.format("commitlog").option("path", path)
        .option("replaceWhere", "day = 'd3'").mode("overwrite").save()
      assert(spark.sql("SELECT id FROM grw.ns.t ORDER BY id").collect()
        .map(_.getLong(0)).toSeq === Seq(10L, 11L, 12L, 20L, 30L))
      // replaceWhere option without overwrite mode refuses
      val e2 = intercept[Exception] {
        Seq((31L, "d3", 31.0)).toDF("id", "day", "v")
          .write.format("commitlog").option("path", path)
          .option("replaceWhere", "day = 'd3'").mode("append").save()
      }
      assert(e2.getMessage.contains("replaceWhere") ||
        Option(e2.getCause).exists(
          _.getMessage.contains("replaceWhere")))
      // no-op contract: nothing matches + empty input = no version
      val vNow = CommitLog.currentVersion(spark, path).get
      CommitLog.overwriteWhere(spark, path,
        Seq.empty[(Long, String, Double)].toDF("id", "day", "v"),
        col("day") === "d9")
      assert(CommitLog.currentVersion(spark, path).get === vNow)
      // SQL static-partition INSERT OVERWRITE routes through the
      // same atomic replace_where (Spark plans it as
      // OverwriteByExpression on the partition predicate)
      spark.sql("INSERT OVERWRITE grw.ns.t PARTITION (day = 'd2') " +
        "SELECT 40L AS id, 40.0 AS v")
      assert(CommitLog.snapshot(spark, path).get.op === "replace_where")
      assert(spark.sql("SELECT id FROM grw.ns.t ORDER BY id").collect()
        .map(_.getLong(0)).toSeq === Seq(10L, 11L, 12L, 30L, 40L))
      spark.sql("DROP TABLE grw.ns.t")
    } finally {
      spark.conf.unset("spark.sql.catalog.grw")
      spark.conf.unset("spark.sql.catalog.grw.root")
      rm(root + "/x")
    }
  }

  test("convertParquet nesting guard qualifies paths: a scheme " +
      "alias of the table root (file:/x vs /x) cannot smuggle a " +
      "nested source past the check") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_convalias_").toString
    val t = s"$root/tbl"
    try {
      Seq((1L, "a")).toDF("id", "name").write.parquet(s"$t/data/seed")
      val e = intercept[IllegalArgumentException] {
        CommitLog.convertParquet(spark, s"file:$t/data/seed", t)
      }
      assert(e.getMessage.contains("must not nest"))
      val e2 = intercept[IllegalArgumentException] {
        CommitLog.convertParquet(spark, s"file:$root", t)
      }
      assert(e2.getMessage.contains("must not nest"))
    } finally rm(t)
  }
}

object CommitLogSpec {
  /** Emulates the object store's SERVER-SIDE arbitration point for
    * the fake conditional-put store. */
  val fakeStoreLock = new Object
}
