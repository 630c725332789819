package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Catalog
import StagedBases.{rmTree, stageDir}

/** Oracle-checked STREAMING execution (SURVEY §2.4 streaming row).
  *
  * The other streaming surfaces are law-tested in StreamingSpec; q107
  * closes the remaining verdict gap by putting a genuine Structured
  * Streaming run — file source, multiple micro-batches, session-window
  * state merged ACROSS batches — under the DuckDB hash compare. The
  * events table is staged as several files, replayed with
  * `maxFilesPerTrigger=1` under `Trigger.AvailableNow`, aggregated by
  * [[graft.streaming.Streaming.sessionAgg]] in complete mode into a
  * memory sink, and the terminal sink contents are returned. The
  * oracle replays the same session semantics one-shot with
  * gaps-and-islands SQL — so the check proves the incremental,
  * micro-batched execution converges to the batch answer exactly
  * (stream/batch parity, hash-equal).
  *
  * Scale notes: complete-mode-to-memory is the REPLAY HARNESS, sized
  * for the verification corpus; a production deployment runs the same
  * `sessionAgg` in append mode behind the watermark with a durable
  * sink ([[graft.streaming.Streaming.idempotentParquetSink]]). What
  * q107 verifies — cross-batch session merge correctness — is
  * identical in both modes.
  */
object StreamingReplay {

  private val Gap = "30 minutes"

  /** How many files (= micro-batches per stream, under
    * maxFilesPerTrigger=1) the replay stages. The RESULT is
    * file-count-invariant — every harness converges to the batch
    * answer at termination, which is exactly what the oracle hash
    * checks — but the per-trigger fixed cost (state-store commit,
    * source listing, planning) is the dominant share of replay wall
    * time. Default 4 (maximally out-of-order cross-batch coverage —
    * what Verify and the specs exercise); Bench sets the property to
    * 2, keeping the benchmark a streaming-execution measurement
    * without paying 3×(4 triggers) per bench run for out-of-order
    * coverage the correctness gate already owns. */
  private[graft] def replayFiles: Int =
    sys.props.get("graft.replay.files").map(_.toInt).getOrElse(4)

  /** Bench-only second knob: run the replay's streaming stages with
    * this many shuffle (= state-store) partitions, restoring the
    * session default afterwards. A stream-stream join carries four
    * state stores per partition, each with per-trigger commit cost —
    * at verification scale that fixed cost IS the wall time (the data
    * is KBs per partition). Results are partition-count-invariant
    * (the state is keyed; the sink converges to the batch answer
    * either way — the same reason AQE may coalesce these partitions
    * in production). Unset (Verify, specs) → session default. */
  private def withReplayConf[T](s: SparkSession)(body: => T): T =
    sys.props.get("graft.replay.statePartitions") match {
      case None => body
      case Some(np) => graft.plans.PlanProbe.withConf(s,
        "spark.sql.shuffle.partitions" -> np)(body)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q107_streaming_session_replay" -> ((s, dir) => withReplayConf(s) {
      val events = Catalog.table(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      // stage as multiple files so the replay is genuinely multi-micro-batch
      val stage = stageDir("q107_replay")
      events.repartition(replayFiles).write.mode(SaveMode.Overwrite).parquet(stage)
      val stream = s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      // the staged batches replay in RANDOM time order (hash
      // repartition), so every micro-batch back-fills earlier gaps —
      // the strongest cross-batch merge exercise. That demands an
      // effectively unbounded watermark: a production-sized one would
      // (correctly, per watermark semantics) drop rows arriving more
      // than its horizon behind the stream's max event time, and this
      // replay is maximally out-of-order by construction.
      val agg = graft.streaming.Streaming.sessionAgg(stream, Gap,
        watermark = "3650 days")
      val sink = "q107_sessions"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // the memory sink owns the rows now — the staged files can go
      rmTree(stage)
      s.table(sink)
        .select(unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("user_id"), col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start_us"))
    }),

    // Stream-stream INNER JOIN replay: views and purchases arrive as
    // two independent file streams (same staged files, separate
    // readStream progress), maximally out-of-order, and every
    // view→purchase attribution within the 1-hour window must still
    // be emitted exactly once by termination. The oracle is the
    // one-shot batch interval join — so the check proves the
    // incremental join's cross-batch buffering loses and duplicates
    // nothing. Unbounded watermark for the same reason as q107: the
    // replay is maximally out-of-order by construction; a production
    // deployment uses the bounded default and gets state eviction.
    "q113_streaming_join_replay" -> ((s, dir) => withReplayConf(s) {
      val events = Catalog.table(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val stage = stageDir("q113_replay")
      events.repartition(replayFiles).write.mode(SaveMode.Overwrite).parquet(stage)
      def side(tpe: String) = s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
        .filter(col("event_type") === tpe)
      val joined = graft.streaming.Streaming.streamStreamJoin(
        side("view"), side("purchase"),
        windowExpr = "1 HOUR", watermark = "3650 days")
      val sink = "q113_attribution"
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      rmTree(stage)
      s.table(sink)
        .select(col("user_id"),
          col("l_event_id").as("view_id"),
          unix_micros(col("l_ts")).as("view_ts_us"),
          col("r_event_id").as("buy_id"),
          unix_micros(col("r_ts")).as("buy_ts_us"),
          col("r_value").as("buy_value"))
        .orderBy(col("view_id"), col("buy_id"))
    }),

    // Streaming DEDUP replay: at-least-once delivery simulated by
    // re-delivering every third event (identical payload), the feed
    // hash-scattered across the staged files so a duplicate usually
    // arrives in a DIFFERENT micro-batch than its original — the
    // cross-batch dropDuplicates state is what's under test. The
    // append-mode sink must equal the original (duplicate-free)
    // events exactly, so the oracle is a plain batch aggregate over
    // the source table: state-backed streaming dedup converges to
    // batch DISTINCT, hash-equal. Unbounded watermark for the same
    // reason as q107/q113 (maximally out-of-order replay by
    // construction); production uses a delivery-lag-sized horizon and
    // gets bounded state eviction for free.
    "q124_streaming_dedup_replay" -> ((s, dir) => withReplayConf(s) {
      val events = Catalog.table(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val feed = events.unionAll(
        events.filter(pmod(col("event_id"), lit(3L)) === 0))
      val stage = stageDir("q124_replay")
      feed.repartition(replayFiles).write.mode(SaveMode.Overwrite).parquet(stage)
      val stream = s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val deduped = graft.streaming.Streaming
        .dedupStream(stream, Seq("event_id"), watermark = "3650 days")
      val sink = "q124_dedup"
      val q = deduped.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      rmTree(stage)
      s.table(sink)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_unique"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(30,6)")).cast("double")
            .as("sum_value"),
          sum(pmod(unix_micros(col("ts")), lit(1000000007L)))
            .as("ts_hash_sum"))
        .orderBy(col("event_type"))
    }),

    // Streaming NATIVE-AS-OF replay: the custom whole-operator
    // physical as-of join (graft.plans.AsofJoinExec) running under
    // incremental execution — events replay as micro-batches and each
    // batch is as-of joined (foreachBatch) against the static
    // purchases relation. Per-row matching against a static right
    // side is batch-split-INVARIANT by construction, so the appended
    // union over any number of micro-batches must hash-equal the
    // one-shot batch answer (DuckDB ASOF LEFT JOIN — the q144 oracle
    // over the same shape). This is the enrichment deployment shape:
    // a stream joined to a slowly-changing feature/dimension snapshot,
    // with the custom operator doing the per-batch work.
    "q145_streaming_asof_replay" -> ((s, dir) => withReplayConf(s) {
      val events = Catalog.table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"))
      val purchases = Catalog.table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      val stage = stageDir("q145_replay")
      val outDir = stageDir("q145_out")
      // delete both scratch dirs on EVERY exit path — a failed batch
      // write used to leak the staged parquet and the half-written
      // output dir (localCheckpoint(true) detaches `out` from the
      // files, so success-path cleanup inside the finally is safe too)
      try {
        events.repartition(replayFiles).write.mode(SaveMode.Overwrite)
          .parquet(stage)
        val stream = s.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
        val q = stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            graft.plans.AsofJoinNative.backward(
              batch, purchases, key = Seq("user_id"), on = "ts",
              payload = Seq("purchase_id", "purchase_value"),
              rightTiebreak = Some(col("purchase_id")))
              .write.mode(SaveMode.Append).parquet(outDir)
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(outDir)
          .withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("event_type"), col("asof_purchase_id"),
            col("asof_purchase_value"))
          .orderBy(col("event_id"))
          .localCheckpoint(true)
      } finally {
        rmTree(stage)
        rmTree(outDir)
      }
    }),

    // STREAMING read of the commit log under the oracle: a table is
    // built from three date-sliced appends plus a copy-on-write
    // delete, then `readStream.format("commitlog")` with
    // readChangeFeed=true replays the whole history as a stream; the
    // per-version/per-change-type aggregates landed by foreachBatch
    // hash-match the oracle's static recomputation of every slice.
    // Grouping is keyed on `_commit_version` carried IN the data, so
    // the check is exact regardless of how admission packs versions
    // into micro-batches — each version's rows arrive exactly once.
    "q164_commitlog_stream_replay" -> ((s, dir) => {
      val stage = stageDir("q164_cl")
      val tbl = s"$stage/tbl"
      val outDir = s"$stage/out"
      try {
        val li = Catalog.table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_returnflag"), col("l_shipdate"))
        val c1 = lit("1996-01-01").cast("timestamp")
        val c2 = lit("1997-01-01").cast("timestamp")
        val old = lit("1995-06-01").cast("timestamp")
        graft.sources.CommitLog.append(s, tbl,
          li.filter(col("l_shipdate") < c1))
        graft.sources.CommitLog.append(s, tbl,
          li.filter(col("l_shipdate") >= c1 && col("l_shipdate") < c2))
        graft.sources.CommitLog.append(s, tbl,
          li.filter(col("l_shipdate") >= c2))
        graft.sources.CommitLog.delete(s, tbl,
          col("l_returnflag") === "R" && col("l_shipdate") < old)
        val stream = s.readStream.format("commitlog")
          .option("path", tbl).option("readChangeFeed", "true").load()
        val q = stream.writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.groupBy(col("_commit_version").as("version"),
                col("_change_type").as("ctype"), col("l_returnflag"))
              .agg(count(lit(1)).as("n_rows"),
                sum(col("l_quantity").cast("decimal(30,6)"))
                  .cast("double").as("qty_sum"))
              .write.mode(SaveMode.Append).parquet(outDir)
          }
          .option("checkpointLocation", s"$stage/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(outDir)
          .select(col("version"), col("ctype"), col("l_returnflag"),
            col("n_rows"), col("qty_sum"))
          .orderBy(col("version"), col("ctype"), col("l_returnflag"))
          .localCheckpoint(true)
      } finally rmTree(stage)
    })
  )

  // session_window semantics: an event extends the session while
  // ts - prev_ts < gap; session_end = last event ts + gap. The oracle
  // is the standard gaps-and-islands rewrite of exactly that rule.
  val oracleSql: Map[String, String] = Map(
    "q107_streaming_session_replay" ->
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), grp AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS g
        |  FROM lagged
        |)
        |SELECT epoch_us(MIN(ts)) AS session_start_us,
        |  epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS session_end_us,
        |  user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
        |FROM grp
        |GROUP BY user_id, g
        |ORDER BY user_id, session_start_us""".stripMargin,

    "q113_streaming_join_replay" ->
      """SELECT v.user_id, v.event_id AS view_id,
        |  epoch_us(v.ts) AS view_ts_us,
        |  p.event_id AS buy_id, epoch_us(p.ts) AS buy_ts_us,
        |  p.value AS buy_value
        |FROM events v JOIN events p
        |  ON p.user_id = v.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
        |ORDER BY view_id, buy_id""".stripMargin,

    // the deduped stream must equal the original events exactly
    "q124_streaming_dedup_replay" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_id) AS n_unique,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        |  CAST(SUM(epoch_us(ts) % 1000000007) AS BIGINT) AS ts_hash_sum
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // identical to the q144 oracle — the streaming replay must
    // converge to exactly the one-shot batch as-of answer
    "q145_streaming_asof_replay" ->
      """WITH purchases AS (
        |  SELECT user_id, ts, event_id AS purchase_id,
        |    value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
        |    ORDER BY event_id DESC) = 1)
        |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, e.event_type,
        |  p.purchase_id AS asof_purchase_id,
        |  p.purchase_value AS asof_purchase_value
        |FROM events e ASOF LEFT JOIN purchases p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,

    // every commit-log version's change rows, recomputed statically
    "q164_commitlog_stream_replay" -> {
      def slice(v: Int, ctype: String, pred: String): String =
        s"""SELECT CAST($v AS BIGINT) AS version, '$ctype' AS ctype,
           |  l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
           |    AS qty_sum
           |FROM lineitem WHERE $pred GROUP BY l_returnflag""".stripMargin
      Seq(
        slice(1, "insert",
          "l_shipdate < TIMESTAMP '1996-01-01 00:00:00'"),
        slice(2, "insert",
          "l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND " +
            "l_shipdate < TIMESTAMP '1997-01-01 00:00:00'"),
        slice(3, "insert",
          "l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'"),
        slice(4, "delete", "l_returnflag = 'R' AND " +
          "l_shipdate < TIMESTAMP '1995-06-01 00:00:00'")
      ).mkString("", "\nUNION ALL\n",
        "\nORDER BY version, ctype, l_returnflag")
    }
  )
}
