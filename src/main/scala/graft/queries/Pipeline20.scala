package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Catalog, CommitLog}

/** Round-15 additions: the last two standard-DML surfaces a migrating
  * Delta/warehouse user reaches for.
  *
  *  - q213/q214 `WHEN NOT MATCHED BY SOURCE` — the five-clause MERGE
  *    (matched UPDATE/DELETE, not-matched INSERT, not-matched-BY-
  *    SOURCE UPDATE/DELETE), programmatic and SQL. This is the
  *    "refresh the target from the source" verb behind the
  *    reference's reload jobs (`Select de Importação de Dados.py:
  *    214-218` drops and reloads the window; the BY-SOURCE clauses
  *    express the same outcome incrementally — prune or flag rows
  *    the source stopped carrying — without the full rewrite).
  *  - q215 DELETE/UPDATE with predicates beyond the V1-filter bridge:
  *    uncorrelated IN-subqueries and arithmetic conditions route
  *    through the same bounded copy-on-write executor; `DELETE FROM t
  *    WHERE id IN (SELECT …)` is a real user's first cleanup query.
  *
  * 100 TB posture: the BY-SOURCE clauses bound their rewrite to files
  * holding condition-satisfying unmatched rows (an unconditional
  * clause rewrites the complement — the semantics asked for, same
  * cliff Delta documents); subquery predicates re-plan as semi joins
  * against the rewrite frame — broadcast when small, shuffle
  * otherwise, never a collect.
  */
object Pipeline20 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  private def rmTree(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go)); f.delete(): Unit
    }
    go(new java.io.File(path))
  }

  /** Shared q213/q214 shape: target = keys ≡ 0 (mod 3), source =
    * keys ≡ 0 (mod 2) carrying new_price. */
  private def mergeFixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    val target = o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
    val source = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("new_price", col("o_totalprice") + 1000.0)
    (target, source)
  }

  /** Each key's LAST change in a change feed (its deletes and
    * post-images), as q221's replica replay applies it. Within one
    * version an upsert wins over a delete: a version that deletes and
    * re-inserts a key (a replaceWhere's 'delete' + 'insert' pair) leaves
    * the new row, and without the tie-break the window would pick either
    * row. */
  private[graft] def netEffect(feed: DataFrame, key: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      .orderBy(col("_commit_version").desc,
        when(col("_change_type") === "delete", 1).otherwise(0))
    feed.filter(col("_change_type")
        .isin("delete", "update_postimage", "insert"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
  }

  private def mergeResult(s: SparkSession, tbl: String,
      nUpd: Long, nDel: Long, nIns: Long): DataFrame =
    CommitLog.read(s, tbl)
      .groupBy(col("o_orderstatus")).agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
          .as("sum_price"))
      .withColumn("n_updated", lit(nUpd))
      .withColumn("n_deleted", lit(nDel))
      .withColumn("n_inserted", lit(nIns))
      .orderBy(col("o_orderstatus"))
      .localCheckpoint(true)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Five-clause MERGE: q169's three clauses PLUS the BY-SOURCE
    // pair — unmatched-target 'O' rows delete, the other unmatched
    // target rows take +5 on the price. The per-clause counts ride
    // as witness columns; the oracle recomputes the final state AND
    // the combined counts from raw orders with the same
    // delete-before-update, matched-before-by-source semantics.
    "q213_commitlog_merge_nmbs" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q213_").toString
      try {
        val tbl = s"$root/tbl"
        val (target, source) = mergeFixture(s, dir)
        CommitLog.append(s, tbl, target)
        val (_, nUpd, nDel, nIns) = CommitLog.mergeInto(s, tbl, source,
          Seq("o_orderkey"),
          whenMatchedUpdate =
            Map("o_totalprice" -> CommitLog.src("new_price")),
          whenMatchedDelete = Some(col("o_orderstatus") === "F"),
          whenNotMatchedBySourceUpdate =
            Map("o_totalprice" -> (col("o_totalprice") + 5.0)),
          whenNotMatchedBySourceDelete =
            Some(col("o_orderstatus") === "O"))
        mergeResult(s, tbl, nUpd, nDel, nIns)
      } finally rmTree(root)
    }),

    // q213's merge driven through `MERGE INTO … WHEN NOT MATCHED BY
    // SOURCE` SQL against the catalog; per-clause counts re-derived
    // from the commit's RECORDED CDC (the BY-SOURCE clauses record
    // under the same delete/update_pre+postimage vocabulary), all
    // hash-checked by q213's oracle algebra.
    "q214_commitlog_sql_merge_nmbs" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q214_").toString
      val cat = "graftq214"
      try {
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.CommitLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        val tbl = s"$root/ns/t"
        val (target, source) = mergeFixture(s, dir)
        CommitLog.append(s, tbl, target)
        source.createOrReplaceTempView("q214_src")
        val preVersion = CommitLog.versions(s, tbl).max
        s.sql(
          s"""MERGE INTO $cat.ns.t t USING q214_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.new_price
             |WHEN NOT MATCHED THEN INSERT
             |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
             |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus,
             |          s.o_totalprice)
             |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'O'
             |  THEN DELETE
             |WHEN NOT MATCHED BY SOURCE
             |  THEN UPDATE SET o_totalprice = t.o_totalprice + 5.0
             |""".stripMargin)
        val byType = CommitLog.changeFeed(s, tbl, preVersion)
          .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        mergeResult(s, tbl,
          byType.getOrElse("update_preimage", 0L),
          byType.getOrElse("delete", 0L),
          byType.getOrElse("insert", 0L))
      } finally {
        s.catalog.dropTempView("q214_src"): Unit
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.root")
        rmTree(root)
      }
    }),

    // DML predicates past the V1-filter bridge, all three shapes a
    // warehouse user types: an IN-subquery DELETE, an arithmetic
    // DELETE (no subquery, still untranslatable to source filters),
    // and an IN-subquery UPDATE — each a bounded copy-on-write
    // commit (version count witnessed), final state hash-matched.
    "q215_commitlog_sql_delete_subquery" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q215_").toString
      val cat = "graftq215"
      try {
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.CommitLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        val tbl = s"$root/ns/t"
        CommitLog.append(s, tbl, t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice")))
        t(s, dir, "customer").select(col("c_custkey"),
            col("c_mktsegment"), col("c_acctbal"))
          .createOrReplaceTempView("q215_cust")
        s.sql(
          s"""DELETE FROM $cat.ns.t
             |WHERE o_custkey IN (SELECT c_custkey FROM q215_cust
             |  WHERE c_mktsegment = 'BUILDING')""".stripMargin)
        s.sql(
          s"""DELETE FROM $cat.ns.t
             |WHERE o_totalprice * 2.0 > 400000.0""".stripMargin)
        s.sql(
          s"""UPDATE $cat.ns.t SET o_orderstatus = 'X'
             |WHERE o_custkey IN (SELECT c_custkey FROM q215_cust
             |  WHERE c_acctbal < 0.0)""".stripMargin)
        val nVersions = CommitLog.versions(s, tbl).size
        s.sql(s"SELECT * FROM $cat.ns.t")
          .groupBy(col("o_orderstatus")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
              .as("sum_price"))
          .withColumn("n_versions", lit(nVersions))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q215_cust"): Unit
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.root")
        rmTree(root)
      }
    }),

    // MULTI-key storage-partitioned join (round 15): two fact tables
    // bucketed on (l_orderkey, l_linenumber) — deliberately with the
    // keys listed in OPPOSITE orders, pinning the canonical-order
    // law — join on both keys with ZERO shuffle exchanges (the
    // per-key grid layout; Spark requires single-reference partition
    // transforms, so a composite bucket could never claim). Quarter
    // slice: the witnesses are data-size independent and q211
    // already prices the full-table SPJ.
    "q216_commitlog_spj_multikey" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q216_").toString
      try {
        s.conf.set("spark.sql.catalog.gq216",
          "graft.sources.CommitLogCatalog")
        s.conf.set("spark.sql.catalog.gq216.root", root)
        val bcast = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val bkt0 = s.conf
          .getOption("spark.sql.sources.v2.bucketing.enabled")
        val aTbl = s"$root/ns/a"; val bTbl = s"$root/ns/b"
        val li = t(s, dir, "lineitem")
          .filter(pmod(col("l_orderkey"), lit(4)) === 1)
        CommitLog.append(s, aTbl, li.select(col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice")))
        CommitLog.append(s, bTbl, li.select(col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"),
          col("l_returnflag")))
        graft.sources.CommitLogStats.compactBucketed(s, aTbl,
          Seq("l_orderkey", "l_linenumber"), 8, Seq("l_orderkey"))
        graft.sources.CommitLogStats.compactBucketed(s, bTbl,
          Seq("l_linenumber", "l_orderkey"), 8, Seq("l_orderkey"))
        val specA = CommitLog.snapshot(s, aTbl).get.bucket
          .flatMap(graft.sources.CommitLog.decodeBucketSpec).get
        val specB = CommitLog.snapshot(s, bTbl).get.bucket
          .flatMap(graft.sources.CommitLog.decodeBucketSpec).get
        val aligned = specA.keys == specB.keys && specA.ns == specB.ns
        val joinSql = "SELECT b.l_returnflag, a.l_extendedprice, " +
          "b.l_quantity FROM gq216.ns.a a JOIN gq216.ns.b b " +
          "ON a.l_orderkey = b.l_orderkey " +
          "AND a.l_linenumber = b.l_linenumber"
        def shuffles(df: DataFrame): Int = {
          // NO execution: whether the join claims a storage-partitioned
          // layout (zero exchanges) is decided by EnsureRequirements at
          // PLANNING — the witness reads the planned adaptive plan, so
          // the probe no longer pays a full execution (previously a
          // collect() that also hauled the join output to the driver)
          def nodes(p: org.apache.spark.sql.execution.SparkPlan)
              : Seq[org.apache.spark.sql.execution.SparkPlan] =
            (p +: p.children.flatMap(nodes)) ++ (p match {
              case a: org.apache.spark.sql.execution.adaptive
                  .AdaptiveSparkPlanExec => nodes(a.executedPlan)
              case qe: org.apache.spark.sql.execution.adaptive
                  .QueryStageExec => nodes(qe.plan)
              case _ => Seq.empty
            })
          nodes(df.queryExecution.executedPlan).collect {
            case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeLike => e
          }.distinct.size
        }
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          val spjShuffles = shuffles(s.sql(joinSql))
          s.sql(joinSql)
            .groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_extendedprice").cast("decimal(30,6)"))
                .cast("double").as("sum_price"),
              sum(col("l_quantity").cast("decimal(30,6)"))
                .cast("double").as("sum_qty"))
            .withColumn("spj_shuffles", lit(spjShuffles))
            .withColumn("spec_aligned", lit(aligned))
            .orderBy(col("l_returnflag"))
            .localCheckpoint(true)
        } finally {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
          bkt0 match {
            case Some(v) => s.conf
              .set("spark.sql.sources.v2.bucketing.enabled", v)
            case None => s.conf
              .unset("spark.sql.sources.v2.bucketing.enabled")
          }
        }
      } finally {
        s.conf.unset("spark.sql.catalog.gq216")
        s.conf.unset("spark.sql.catalog.gq216.root")
        rmTree(root)
      }
    }),

    // Trigger.AvailableNow catch-up-then-stop over the commit-log
    // stream with BOTH admission caps active: four commits, caps
    // force one version per micro-batch, the run still drains all
    // four and terminates by itself (the nightly batch-user mode).
    // Witnesses: batch count = version count (pacing held), self-
    // termination observed; the drained union hash-matches the raw
    // batch twin through the oracle.
    "q217_streaming_available_now" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q217_").toString
      try {
        val tbl = s"$root/tbl"
        val sink = s"$root/sink"
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        (0 until 4).foreach(i => CommitLog.append(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(4)) === i)))
        val nBatches = new java.util.concurrent.atomic.AtomicInteger
        val q = s.readStream.format("commitlog").option("path", tbl)
          .option("maxVersionsPerTrigger", "1")
          // 1-byte cap: soft-max admits one oversized version per
          // batch — composing both caps on the same run
          .option("maxBytesPerTrigger", "1")
          .load()
          .writeStream.foreachBatch {
            (b: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], _: Long) =>
              if (!b.isEmpty) {
                nBatches.incrementAndGet()
                b.write.mode("append").parquet(sink): Unit
              }
          }
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger
            .AvailableNow())
          .start()
        val terminated = q.awaitTermination(180000)
        q.stop()
        s.read.parquet(sink)
          .groupBy(col("o_orderstatus")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
              .as("sum_price"))
          .withColumn("n_batches", lit(nBatches.get()))
          .withColumn("self_terminated", lit(terminated))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // Maintenance advisor rule 5b through the CALL surface: a
    // bucketed table fragments under repeated DML (each merge's
    // rewrites+inserts re-land bucket-split, growing the per-bucket
    // file count), `CALL system.maintenance_plan` recommends the
    // consolidating re-bucket, RUNNING the recommended
    // optimize_bucket restores one-segment-per-bucket, and the
    // recommendation goes quiet — the full advisor loop, content
    // hash-checked against the merge algebra replayed in the oracle.
    "q218_commitlog_maintenance_bucket" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q218_").toString
      val cat = "graftq218"
      try {
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.CommitLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        val tbl = s"$root/ns/t"
        import s.implicits._
        CommitLog.append(s, tbl, t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"),
            col("n_name")))
        graft.sources.CommitLogStats.compactBucketed(s, tbl,
          Seq("n_nationkey"), 2, Seq("n_nationkey"))
        // three insert-merges fragment the layout past the 2-per-
        // bucket threshold while PRESERVING the spec
        (0 until 3).foreach { i =>
          val src = Seq(
            (100L + 2 * i, (100L + 2 * i) % 5, "NEW"),
            (101L + 2 * i, (101L + 2 * i) % 5, "NEW"))
            .toDF("n_nationkey", "n_regionkey", "n_name")
          CommitLog.mergeInto(s, tbl, src, Seq("n_nationkey"))
        }
        val nSegsFragmented =
          CommitLog.snapshot(s, tbl).get.segments.size
        val recs = s.sql(s"CALL $cat.system.maintenance_plan(" +
          "table => 'ns.t')")
          .select(col("action")).collect().map(_.getString(0))
        val recommended = recs.contains("optimize_bucket")
        // run exactly what the advisor recommends
        s.sql(s"CALL $cat.system.optimize_bucket(table => 'ns.t', " +
          "keys => 'n_nationkey', buckets => 2)")
        val segsAfter = CommitLog.snapshot(s, tbl).get.segments.size
        val quietAfter = !s.sql(
          s"CALL $cat.system.maintenance_plan(table => 'ns.t')")
          .select(col("action")).collect().map(_.getString(0))
          .contains("optimize_bucket")
        // nation's keys are int32 on disk; the oracle's VALUES union
        // coerces to BIGINT — align the types explicitly
        nationResult(s, tbl, nSegsFragmented, recommended, segsAfter,
          quietAfter)
      } finally {
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.root")
        rmTree(root)
      }
    }),

    // SIX-clause MERGE (round-15 second wave): multiple CONDITIONAL
    // clauses per match side — Delta's full surface, first-match-wins
    // in SQL clause order. Matched: 'F' rows take +1, expensive
    // survivors delete, the rest take the source's new_price;
    // BY SOURCE: 'O' rows zero out, the rest delete; unmatched source
    // inserts. Counts from CDC; the oracle replays the exact clause
    // cascade as CASE algebra.
    "q219_commitlog_merge_multiclause" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q219_").toString
      val cat = "graftq219"
      try {
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.CommitLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        val tbl = s"$root/ns/t"
        val (target, source) = mergeFixture(s, dir)
        CommitLog.append(s, tbl, target)
        source.createOrReplaceTempView("q219_src")
        val preVersion = CommitLog.versions(s, tbl).max
        s.sql(
          s"""MERGE INTO $cat.ns.t t USING q219_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND t.o_orderstatus = 'F'
             |  THEN UPDATE SET o_totalprice = t.o_totalprice + 1.0
             |WHEN MATCHED AND t.o_totalprice > 200000.0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.new_price
             |WHEN NOT MATCHED THEN INSERT
             |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
             |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus,
             |          s.o_totalprice)
             |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'O'
             |  THEN UPDATE SET o_totalprice = 0.0
             |WHEN NOT MATCHED BY SOURCE THEN DELETE
             |""".stripMargin)
        val byType = CommitLog.changeFeed(s, tbl, preVersion)
          .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        mergeResult(s, tbl,
          byType.getOrElse("update_preimage", 0L),
          byType.getOrElse("delete", 0L),
          byType.getOrElse("insert", 0L))
      } finally {
        s.catalog.dropTempView("q219_src"): Unit
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.root")
        rmTree(root)
      }
    }),

    // MERGE WITH SCHEMA EVOLUTION (round-15 second wave): the source
    // carries a column the target lacks; the analyzer applies the
    // add-only delta through the catalog's ALTER (a metadata-only
    // evolve commit — witnessed in history), the merge resolves
    // against the evolved table, matched rows take the new column,
    // pre-evolution rows read NULL, inserts carry it. The oracle
    // groups the final state by the evolved column.
    "q220_commitlog_merge_schema_evolution" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q220_").toString
      val cat = "graftq220"
      try {
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.CommitLogCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.root", root)
        val tbl = s"$root/ns/t"
        val o = t(s, dir, "orders")
        CommitLog.append(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice")))
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"),
            substring(col("o_orderpriority"), 1, 1)
              .as("priority_class"))
          .createOrReplaceTempView("q220_src")
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.ns.t t
             |USING q220_src s ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val ops = CommitLog.history(s, tbl)
          .select(col("op")).collect().map(_.getString(0)).toSeq
        val sequenced = ops == Seq("append", "evolve", "merge_into")
        s.sql(s"SELECT * FROM $cat.ns.t")
          .groupBy(col("priority_class")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
              .as("sum_price"))
          .withColumn("evolve_then_merge", lit(sequenced))
          .orderBy(col("priority_class"))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q220_src"): Unit
        s.conf.unset(s"spark.sql.catalog.$cat")
        s.conf.unset(s"spark.sql.catalog.$cat.root")
        rmTree(root)
      }
    }),

    // CDC REPLICATION end-to-end (Delta's change-feed replication
    // pattern): a source table takes a three-clause MERGE then a
    // DELETE; a replica seeded from v1 (time travel) applies the
    // RECORDED change feed version by version — deletes through the
    // clause API, upserts through merge — and lands byte-equal to
    // the source. The oracle hash-checks the REPLICA's final state
    // re-derived from raw orders; the equality and version-count
    // witnesses ride as columns.
    "q221_commitlog_cdc_replication" -> ((s, dir) => {
      import graft.sources.CommitLog.MergeDelete
      val root = java.nio.file.Files
        .createTempDirectory("graft_q221_").toString
      try {
        val src = s"$root/src"; val rep = s"$root/rep"
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        CommitLog.append(s, src,
          o.filter(pmod(col("o_orderkey"), lit(3)) === 0))
        // v2: q169's merge algebra; v3: a predicate delete
        CommitLog.mergeInto(s, src,
          o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
            .withColumn("new_price", col("o_totalprice") + 1000.0),
          Seq("o_orderkey"),
          whenMatchedUpdate =
            Map("o_totalprice" -> CommitLog.src("new_price")),
          whenMatchedDelete = Some(col("o_orderstatus") === "F"))
        CommitLog.delete(s, src, pmod(col("o_custkey"), lit(7)) === 0)
        // replica: seed from v1, replay the feed in version order
        CommitLog.append(s, rep, CommitLog.read(s, src, Some(1L)))
        val feed = CommitLog.changeFeed(s, src, afterVersion = 1L)
          .localCheckpoint(true)
        // one grouped collect serves the version list AND the
        // delete/upsert presence flags — previously a distinct-collect
        // plus two isEmpty probe jobs per version
        val versions = feed.groupBy(col("_commit_version")).agg(
            count(when(col("_change_type") === "delete", 1)).as("nd"),
            count(when(col("_change_type")
              .isin("update_postimage", "insert"), 1)).as("nu"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        // NET-EFFECT replay (guide §2: collapse per-item jobs into
        // set-level ones): a per-version loop issues O(versions) full
        // OCC merge transactions; the replica's FINAL state only
        // depends on each key's LAST change across the replayed range
        // (delete → absent, upsert → that post-image — an
        // insert-then-delete nets to a no-op delete on the replica).
        // One delete-merge + one upsert-merge lands byte-equal to the
        // version-by-version replay, and the versions_replayed witness
        // still counts the feed's versions.
        val net = netEffect(feed, "o_orderkey")
        if (versions.exists(_._2 > 0L))
          CommitLog.mergeIntoClauses(s, rep,
            net.filter(col("_change_type") === "delete")
              .select(col("o_orderkey")),
            Seq("o_orderkey"),
            matched = Seq(MergeDelete(None)),
            notMatchedInsert = false): Unit
        if (versions.exists(_._3 > 0L))
          CommitLog.mergeInto(s, rep,
            net.filter(col("_change_type")
                .isin("update_postimage", "insert"))
              .drop("_change_type", "_commit_version", "__rn"),
            Seq("o_orderkey"),
            whenMatchedUpdate = Map(
              "o_custkey" -> CommitLog.src("o_custkey"),
              "o_orderstatus" -> CommitLog.src("o_orderstatus"),
              "o_totalprice" -> CommitLog.src("o_totalprice"))): Unit
        val srcDf = CommitLog.read(s, src)
        val repDf = CommitLog.read(s, rep)
        val equal = graft.operators.Witness.multisetEqual(srcDf, repDf)
        repDf
          .groupBy(col("o_orderstatus")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
              .as("sum_price"))
          .withColumn("versions_replayed", lit(versions.length))
          .withColumn("replica_equals_source", lit(equal))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // Streaming EXACTLY-ONCE UPSERT into the lakehouse: three staged
    // files with overlapping keys replay one file per micro-batch
    // (AvailableNow) through the txn-stamped merge sink; the fold is
    // GREATEST (order-insensitive, so the file admission order can't
    // change the answer) and each batch is exactly ONE commit —
    // version count = batch count witnesses the per-batch txn stamp.
    // The oracle re-derives the per-key max algebra from raw orders.
    "q222_streaming_upsert_sink" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_q222_").toString
      try {
        val staged = s"$root/in"; val tbl = s"$root/tbl"
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        def slice(mods: Seq[Int], mult: Double) =
          o.filter(pmod(col("o_orderkey"), lit(3))
              .isin(mods.map(Int.box): _*))
            .withColumn("o_totalprice", col("o_totalprice") * mult)
        // each key's final value = max over its slices, whatever the
        // admission order: %3=0 → 2×, %3=1 → 3×, %3=2 → 3×
        slice(Seq(0), 1.0).coalesce(1).write
          .parquet(s"$staged/f1.parquet")
        slice(Seq(0, 1), 2.0).coalesce(1).write
          .parquet(s"$staged/f2.parquet")
        slice(Seq(1, 2), 3.0).coalesce(1).write
          .parquet(s"$staged/f3.parquet")
        val stream = s.readStream
          .schema("o_orderkey BIGINT, o_totalprice DOUBLE")
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true")
          .parquet(staged)
        val q = graft.streaming.Streaming.commitLogUpsertSink(stream,
            tbl, Seq("o_orderkey"), "q222",
            update = Map("o_totalprice" -> greatest(
              col("o_totalprice"), CommitLog.src("o_totalprice"))))
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger
            .AvailableNow())
          .start()
        val terminated = q.awaitTermination(180000)
        q.stop()
        val nVersions = CommitLog.versions(s, tbl).size
        CommitLog.read(s, tbl)
          .groupBy(pmod(col("o_orderkey"), lit(3)).cast("long")
            .as("cls")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
              .as("sum_price"))
          .withColumn("n_versions", lit(nVersions))
          .withColumn("self_terminated", lit(terminated))
          .orderBy(col("cls"))
          .localCheckpoint(true)
      } finally rmTree(root)
    })
  )

  /** q218's output shape, factored for readability. */
  private def nationResult(s: SparkSession, tbl: String,
      nSegsFragmented: Int, recommended: Boolean, segsAfter: Int,
      quietAfter: Boolean): DataFrame =
        // nation's keys are int32 on disk; the oracle's VALUES union
        // coerces to BIGINT — align the types explicitly
        CommitLog.read(s, tbl)
          .groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("n_nationkey").cast("long")).as("sum_key"))
          .withColumn("fragmented", lit(nSegsFragmented > 4))
          .withColumn("recommended", lit(recommended))
          .withColumn("segs_after", lit(segsAfter))
          .withColumn("quiet_after", lit(quietAfter))
          .orderBy(col("n_regionkey"))
          .localCheckpoint(true)

  /** q213/q214 share one oracle algebra: the five-clause outcome
    * re-derived from raw orders — matched 'F' deletes, matched
    * non-'F' takes new_price, unmatched-source inserts, unmatched-
    * target 'O' deletes, unmatched-target non-'O' takes +5. */
  private val mergeNmbsOracle: String =
    """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
      |s AS (SELECT o_orderkey, o_custkey, o_orderstatus,
      |    o_totalprice, o_totalprice + 1000.0 AS new_price
      |  FROM orders WHERE o_orderkey % 2 = 0),
      |final AS (
      |  SELECT t.o_orderstatus,
      |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.new_price
      |         ELSE t.o_totalprice + 5.0 END AS price
      |  FROM t LEFT JOIN s ON s.o_orderkey = t.o_orderkey
      |  WHERE NOT (s.o_orderkey IS NOT NULL AND t.o_orderstatus = 'F')
      |    AND NOT (s.o_orderkey IS NULL AND t.o_orderstatus = 'O')
      |  UNION ALL
      |  SELECT s.o_orderstatus, s.o_totalprice
      |  FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
      |  WHERE t.o_orderkey IS NULL),
      |counts AS (
      |  SELECT
      |    CAST(SUM(CASE
      |      WHEN s.o_orderkey IS NOT NULL AND t.o_orderstatus <> 'F'
      |        THEN 1
      |      WHEN s.o_orderkey IS NULL AND t.o_orderstatus <> 'O'
      |        THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
      |    CAST(SUM(CASE
      |      WHEN s.o_orderkey IS NOT NULL AND t.o_orderstatus = 'F'
      |        THEN 1
      |      WHEN s.o_orderkey IS NULL AND t.o_orderstatus = 'O'
      |        THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
      |  FROM t LEFT JOIN s ON s.o_orderkey = t.o_orderkey),
      |ins AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_inserted
      |  FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
      |  WHERE t.o_orderkey IS NULL)
      |SELECT o_orderstatus,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(price AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
      |  (SELECT n_updated FROM counts) AS n_updated,
      |  (SELECT n_deleted FROM counts) AS n_deleted,
      |  (SELECT n_inserted FROM ins) AS n_inserted
      |FROM final
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q213_commitlog_merge_nmbs" -> mergeNmbsOracle,
    "q214_commitlog_sql_merge_nmbs" -> mergeNmbsOracle,

    // the three DML statements replayed as relational algebra over
    // raw orders/customer; 4 versions = append + three DML commits
    "q215_commitlog_sql_delete_subquery" ->
      """WITH d1 AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
        |    WHERE c_mktsegment = 'BUILDING')),
        |d2 AS (
        |  SELECT * FROM d1 WHERE NOT (o_totalprice * 2.0 > 400000.0)),
        |upd AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_custkey IN (SELECT c_custkey FROM customer
        |        WHERE c_acctbal < 0.0)
        |      THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |    o_totalprice
        |  FROM d2)
        |SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(4 AS INT) AS n_versions
        |FROM upd
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // the 2-key join aggregate re-derived from raw lineitem; the
    // zero-shuffle and aligned-layout witnesses ride as constants
    "q216_commitlog_spj_multikey" ->
      """WITH a AS (SELECT l_orderkey, l_linenumber, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 4 = 1),
        |b AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    l_returnflag
        |  FROM lineitem WHERE l_orderkey % 4 = 1)
        |SELECT b.l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(a.l_extendedprice AS DECIMAL(30,6)))
        |    AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(b.l_quantity AS DECIMAL(30,6)))
        |    AS DOUBLE) AS sum_qty,
        |  CAST(0 AS INT) AS spj_shuffles,
        |  true AS spec_aligned
        |FROM a JOIN b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_linenumber = b.l_linenumber
        |GROUP BY b.l_returnflag
        |ORDER BY b.l_returnflag""".stripMargin,

    // the four residue classes union back to the whole table; the
    // pacing (4 batches) and self-termination witnesses ride as
    // constants
    "q217_streaming_available_now" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(4 AS INT) AS n_batches,
        |  true AS self_terminated
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // nation plus the six merged-in keys (100..105, region = key%5);
    // the advisor-loop witnesses ride as constants
    "q218_commitlog_maintenance_bucket" ->
      """WITH merged AS (
        |  SELECT n_nationkey, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT k, k % 5 FROM (VALUES (CAST(100 AS BIGINT)), (101),
        |    (102), (103), (104), (105)) AS v(k))
        |SELECT n_regionkey,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
        |  true AS fragmented,
        |  true AS recommended,
        |  CAST(2 AS INT) AS segs_after,
        |  true AS quiet_after
        |FROM merged
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,

    // the six-clause cascade replayed as CASE algebra over raw
    // orders: matched 'F' → +1.0; else matched price>200000 →
    // deleted; else matched → new_price; unmatched-source → insert;
    // unmatched-target 'O' → 0.0; else unmatched-target → deleted
    "q219_commitlog_merge_multiclause" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
        |s AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, o_totalprice + 1000.0 AS new_price
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |m AS (SELECT t.o_orderstatus, t.o_totalprice, s.new_price,
        |    s.o_orderkey AS sk
        |  FROM t LEFT JOIN s ON s.o_orderkey = t.o_orderkey),
        |final AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1.0
        |         ELSE new_price END AS price
        |  FROM m WHERE sk IS NOT NULL
        |    AND NOT (o_orderstatus <> 'F' AND o_totalprice > 200000.0)
        |  UNION ALL
        |  SELECT o_orderstatus, 0.0 AS price
        |  FROM m WHERE sk IS NULL AND o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT s.o_orderstatus, s.o_totalprice AS price
        |  FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
        |  WHERE t.o_orderkey IS NULL),
        |counts AS (
        |  SELECT
        |    CAST(SUM(CASE
        |      WHEN sk IS NOT NULL AND o_orderstatus = 'F' THEN 1
        |      WHEN sk IS NOT NULL AND o_totalprice <= 200000.0 THEN 1
        |      WHEN sk IS NULL AND o_orderstatus = 'O' THEN 1
        |      ELSE 0 END) AS BIGINT) AS n_updated,
        |    CAST(SUM(CASE
        |      WHEN sk IS NOT NULL AND o_orderstatus <> 'F'
        |        AND o_totalprice > 200000.0 THEN 1
        |      WHEN sk IS NULL AND o_orderstatus <> 'O' THEN 1
        |      ELSE 0 END) AS BIGINT) AS n_deleted
        |  FROM m),
        |ins AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_inserted
        |  FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
        |  WHERE t.o_orderkey IS NULL)
        |SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(price AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
        |  (SELECT n_updated FROM counts) AS n_updated,
        |  (SELECT n_deleted FROM counts) AS n_deleted,
        |  (SELECT n_inserted FROM ins) AS n_inserted
        |FROM final
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // final state grouped by the EVOLVED column: matched rows take
    // the source's class, pre-evolution unmatched-target rows group
    // under NULL, inserts carry their own class
    "q220_commitlog_merge_schema_evolution" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |s AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    substring(o_orderpriority, 1, 1) AS priority_class
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |final AS (
        |  SELECT s.priority_class AS priority_class,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
        |         ELSE t.o_totalprice END AS price
        |  FROM t LEFT JOIN s ON s.o_orderkey = t.o_orderkey
        |  UNION ALL
        |  SELECT s.priority_class, s.o_totalprice
        |  FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
        |  WHERE t.o_orderkey IS NULL)
        |SELECT priority_class,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(price AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
        |  true AS evolve_then_merge
        |FROM final
        |GROUP BY priority_class
        |ORDER BY priority_class""".stripMargin,

    // the replica's final state = the merge algebra minus the delete
    // slice, re-derived from raw orders; 2 replayed versions and the
    // equality witness ride as constants
    "q221_commitlog_cdc_replication" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
        |s AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, o_totalprice + 1000.0 AS new_price
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |merged AS (
        |  SELECT t.o_custkey, t.o_orderstatus,
        |    CASE WHEN s.o_orderkey IS NOT NULL
        |      THEN s.new_price ELSE t.o_totalprice END AS price
        |  FROM t LEFT JOIN s ON s.o_orderkey = t.o_orderkey
        |  WHERE NOT (s.o_orderkey IS NOT NULL
        |    AND t.o_orderstatus = 'F')
        |  UNION ALL
        |  SELECT s.o_custkey, s.o_orderstatus, s.o_totalprice
        |  FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
        |  WHERE t.o_orderkey IS NULL),
        |final AS (SELECT * FROM merged WHERE o_custkey % 7 <> 0)
        |SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(price AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
        |  CAST(2 AS INT) AS versions_replayed,
        |  true AS replica_equals_source
        |FROM final
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // per-key max over the three slice multipliers (greatest is
    // order-insensitive, so the replay admission order is irrelevant
    // by construction); 3 batches = 3 commits
    "q222_streaming_upsert_sink" ->
      """WITH final AS (
        |  SELECT o_orderkey % 3 AS cls,
        |    CASE o_orderkey % 3
        |      WHEN 0 THEN o_totalprice * 2.0
        |      ELSE o_totalprice * 3.0 END AS v
        |  FROM orders)
        |SELECT cls,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(v AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
        |  CAST(3 AS INT) AS n_versions,
        |  true AS self_terminated
        |FROM final
        |GROUP BY cls
        |ORDER BY cls""".stripMargin
  )
}
