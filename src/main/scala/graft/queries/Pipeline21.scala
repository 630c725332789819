package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Catalog, CommitLog}
import graft.plans.PlanProbe
import StagedBases.{rmTree, stageDir, withCatalog}

/** Round-16 additions: CORRELATED subqueries in SQL DML — the last
  * loud refusal a migrating warehouse user hits (`DELETE FROM t WHERE
  * EXISTS (SELECT 1 FROM s WHERE s.k = t.k)` is the single most
  * common cleanup shape after q215's uncorrelated IN).
  *
  *  - q223: correlated EXISTS / NOT EXISTS deletes + a correlated IN
  *    update. The optimizer's PullupCorrelatedPredicates leaves the
  *    inner plan self-contained with the key equalities on joinCond;
  *    the DML strategy rewrites each predicate to a GUARDED
  *    uncorrelated IN (two-valued, so NOT nests verbatim) that the
  *    rewrite frame re-plans as a semi join.
  *  - q224: correlated SCALAR aggregates in SET and WHERE. The whole
  *    statement reroutes through the N-clause MERGE executor: source
  *    = the decorrelated key-grouped aggregate (unique keys by
  *    construction), matched rows take the aggregate value,
  *    NOT-MATCHED-BY-SOURCE rows take the aggregate's EMPTY-GROUP
  *    value — count's 0-on-empty (the "COUNT bug") reproduced
  *    exactly, witnessed by the oracle's per-row subquery replay.
  *
  * 100 TB posture: both rewrites stay fully distributed — the
  * EXISTS/IN semi joins and the scalar's merge join are planned by
  * Catalyst with AQE's broadcast-vs-shuffle choice; the copy-on-write
  * stays bounded to segments holding affected keys; never a collect.
  */
object Pipeline21 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  private def statusResult(s: SparkSession, tbl: String,
      nVersions: Int): DataFrame =
    CommitLog.read(s, tbl)
      .groupBy(col("o_orderstatus")).agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
          .as("sum_price"))
      .withColumn("n_versions", lit(nVersions))
      .orderBy(col("o_orderstatus"))
      .localCheckpoint(true)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q223_commitlog_sql_delete_correlated" -> ((s, dir) => {
      val root = stageDir("q223")
      val cat = "graftq223"
      try withCatalog(s, cat, root) {
        val tbl = s"$root/ns/t"
        CommitLog.append(s, tbl, t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice")))
        t(s, dir, "customer").select(col("c_custkey"),
            col("c_mktsegment"), col("c_acctbal"))
          .createOrReplaceTempView("q223_cust")
        s.sql(
          s"""DELETE FROM $cat.ns.t
             |WHERE EXISTS (SELECT 1 FROM q223_cust c
             |  WHERE c.c_custkey = $cat.ns.t.o_custkey
             |    AND c.c_mktsegment = 'BUILDING')""".stripMargin)
        s.sql(
          s"""DELETE FROM $cat.ns.t
             |WHERE NOT EXISTS (SELECT 1 FROM q223_cust c
             |  WHERE c.c_custkey = $cat.ns.t.o_custkey
             |    AND c.c_acctbal >= 1000.0)""".stripMargin)
        s.sql(
          s"""UPDATE $cat.ns.t SET o_orderstatus = 'E'
             |WHERE o_custkey IN (SELECT c.c_custkey FROM q223_cust c
             |  WHERE c.c_custkey = $cat.ns.t.o_custkey
             |    AND c.c_acctbal >= 5000.0)""".stripMargin)
        statusResult(s, tbl, CommitLog.versions(s, tbl).size)
      } finally {
        s.catalog.dropTempView("q223_cust"): Unit
        rmTree(root)
      }
    }),

    "q224_commitlog_sql_update_correlated_scalar" -> ((s, dir) => {
      val root = stageDir("q224")
      val cat = "graftq224"
      try withCatalog(s, cat, root) {
        val tbl = s"$root/ns/t"
        CommitLog.append(s, tbl, t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice")))
        t(s, dir, "lineitem").filter(col("l_quantity") > 45)
          .select(col("l_orderkey"), col("l_extendedprice"))
          .createOrReplaceTempView("q224_li")
        // count scalar in SET: orders with no qualifying lineitems
        // take count's empty-group 0 (the COUNT bug, reproduced)
        s.sql(
          s"""UPDATE $cat.ns.t
             |SET o_totalprice = o_totalprice + 10.0 *
             |  (SELECT count(*) FROM q224_li li
             |   WHERE li.l_orderkey = $cat.ns.t.o_orderkey)
             |WHERE o_orderstatus <> 'F'""".stripMargin)
        // max scalar under COALESCE: empty group -> NULL -> keep old
        s.sql(
          s"""UPDATE $cat.ns.t
             |SET o_totalprice = coalesce(
             |  (SELECT max(li.l_extendedprice) FROM q224_li li
             |   WHERE li.l_orderkey = $cat.ns.t.o_orderkey),
             |  o_totalprice)
             |WHERE o_orderstatus = 'F'""".stripMargin)
        // count scalar in a DELETE WHERE
        s.sql(
          s"""DELETE FROM $cat.ns.t
             |WHERE (SELECT count(*) FROM q224_li li
             |  WHERE li.l_orderkey = $cat.ns.t.o_orderkey) >= 5""".stripMargin)
        statusResult(s, tbl, CommitLog.versions(s, tbl).size)
      } finally {
        s.catalog.dropTempView("q224_li"): Unit
        rmTree(root)
      }
    }),

    // MERGE WITH SCHEMA EVOLUTION × TYPE WIDENING (round 16): the
    // source both WIDENED two columns (INT→LONG custkey, FLOAT→DOUBLE
    // price — q196's metadata-only widenings) and grew a new one; the
    // analyzer emits one alterTable carrying UpdateColumnType AND
    // AddColumn changes together, which the catalog now applies as
    // widen commits + one evolve commit — zero data rewrites — before
    // re-resolving the MERGE against the evolved table. The op
    // sequence rides as a witness column; the final state (old
    // segments' narrow bytes up-converted at scan) hash-checks
    // against the oracle's replay of the same algebra.
    "q225_commitlog_merge_evolution_widening" -> ((s, dir) => {
      val root = stageDir("q225")
      val cat = "graftq225"
      try withCatalog(s, cat, root) {
        val tbl = s"$root/ns/t"
        val o = t(s, dir, "orders")
        // the narrow-INT fixture column mods the key first: scaled
        // datasets shift keys by copy·10^9, which must not overflow
        // the PRE-widening INT era this query simulates
        CommitLog.append(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
            .select(col("o_orderkey"),
              pmod(col("o_custkey"), lit(1000000)).cast("int")
                .as("o_custkey"),
              col("o_totalprice").cast("float").as("o_totalprice")))
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"),
            substring(col("o_orderpriority"), 1, 1)
              .as("priority_class"))
          .createOrReplaceTempView("q225_src")
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.ns.t t
             |USING q225_src s ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val ops = CommitLog.history(s, tbl)
          .select(col("op")).collect().map(_.getString(0)).toSeq
        val sequenced = ops == Seq("append", "widen_column",
          "widen_column", "evolve", "merge_into")
        // float-origin doubles tie at dyadic .5s where HALF_UP
        // (Spark) and HALF_EVEN (DuckDB) decimal rounding diverge —
        // sum whole cents via floor instead (IEEE-deterministic in
        // both engines)
        s.sql(s"SELECT * FROM $cat.ns.t")
          .groupBy(col("priority_class")).agg(
            count(lit(1)).as("n_rows"),
            sum(floor(col("o_totalprice") * 100).cast("long"))
              .as("sum_cents"),
            sum(col("o_custkey")).as("sum_custkey"))
          .withColumn("widen_then_merge", lit(sequenced))
          .orderBy(col("priority_class"))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q225_src"): Unit
        rmTree(root)
      }
    }),

    // LEGACY multi-key layout migration (round 16): a PRE-GRID
    // composite bucket record (the shape older writers produced — no
    // per-key counts) keeps its bounded DML write amplification but
    // can never claim a storage-partitioned join, so every join over
    // it silently shuffles. The maintenance advisor detects it and
    // recommends `CALL system.optimize_grid`; the migration re-lands
    // the same keys and bucket count as a per-key grid; the join then
    // plans with ZERO exchanges; the advisor goes quiet; a re-CALL is
    // a version-stable no-op. All five protocol steps ride as witness
    // columns over the q216-style join algebra.
    "q226_commitlog_optimize_grid_migration" -> ((s, dir) => {
      val root = stageDir("q226")
      try withCatalog(s, "gq226", root) {
        val aTbl = s"$root/ns/a"; val bTbl = s"$root/ns/b"
        val li = t(s, dir, "lineitem")
          .filter(pmod(col("l_orderkey"), lit(4)) === 2)
        CommitLog.append(s, aTbl, li.select(col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice")))
        CommitLog.append(s, bTbl, li.select(col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"),
          col("l_returnflag")))
        graft.sources.CommitLogStats.compactBucketed(s, aTbl,
          Seq("l_orderkey", "l_linenumber"), 8, Seq("l_orderkey"))
        graft.sources.CommitLogStats.compactBucketed(s, bTbl,
          Seq("l_orderkey", "l_linenumber"), 8, Seq("l_orderkey"))
        // demote both records to the pre-grid composite shape an
        // older writer produced (strip the per-key counts from the
        // newest manifest — byte-faithful legacy format)
        Seq(aTbl, bTbl).foreach(demoteBucketRecord(s, _))
        val joinSql = "SELECT b.l_returnflag, a.l_extendedprice, " +
          "b.l_quantity FROM gq226.ns.a a JOIN gq226.ns.b b " +
          "ON a.l_orderkey = b.l_orderkey " +
          "AND a.l_linenumber = b.l_linenumber"
        PlanProbe.withConf(s,
            "spark.sql.autoBroadcastJoinThreshold" -> "-1",
            "spark.sql.sources.v2.bucketing.enabled" -> "true") {
          val legacyShuffled = PlanProbe.exchanges(s.sql(joinSql)) > 0
          val recommended = graft.sources.CommitLogMaintenance
            .maintenancePlan(s, aTbl).collect()
            .exists(_.getString(0) == "optimize_grid")
          s.sql("CALL gq226.system.optimize_grid(table => 'ns.a')")
          s.sql("CALL gq226.system.optimize_grid(table => 'ns.b')")
          val spjShuffles = PlanProbe.exchanges(s.sql(joinSql))
          val quiet = !graft.sources.CommitLogMaintenance
            .maintenancePlan(s, aTbl).collect()
            .exists(_.getString(0) == "optimize_grid")
          val v0 = CommitLog.versions(s, aTbl).max
          s.sql("CALL gq226.system.optimize_grid(table => 'ns.a')")
          val noop = CommitLog.versions(s, aTbl).max == v0
          s.sql(joinSql)
            .groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_extendedprice").cast("decimal(30,6)"))
                .cast("double").as("sum_price"),
              sum(col("l_quantity").cast("decimal(30,6)"))
                .cast("double").as("sum_qty"))
            .withColumn("legacy_shuffled", lit(legacyShuffled))
            .withColumn("advisor_recommended", lit(recommended))
            .withColumn("spj_shuffles", lit(spjShuffles))
            .withColumn("advisor_quiet", lit(quiet))
            .withColumn("recall_noop", lit(noop))
            .orderBy(col("l_returnflag"))
            .localCheckpoint(true)
        }
      } finally rmTree(root)
    }),

    // Subqueries in MERGE clause conditions (round 16): an IN-gated
    // UPDATE clause shadowed by a DELETE (first-match-wins), and an
    // IN-gated INSERT — previously a loud refusal. The executor
    // evaluates clause conditions inside coalesce-wrapped projections
    // (one nested CASE per match side), so the subquery plans as a
    // hash join; the oracle replays the same gated algebra over raw
    // orders/customer.
    "q228_commitlog_sql_merge_subquery_conditions" -> ((s, dir) => {
      val root = stageDir("q228")
      val cat = "graftq228"
      try withCatalog(s, cat, root) {
        val tbl = s"$root/ns/t"
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        CommitLog.append(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(3)) === 0))
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .withColumn("new_price", col("o_totalprice") + 1000.0)
          .createOrReplaceTempView("q228_src")
        t(s, dir, "customer")
          .filter(col("c_mktsegment") === "MACHINERY")
          .select(col("c_custkey"))
          .createOrReplaceTempView("q228_allow")
        s.sql(
          s"""MERGE INTO $cat.ns.t t USING q228_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND t.o_custkey IN
             |  (SELECT c_custkey FROM q228_allow)
             |  THEN UPDATE SET o_totalprice = s.new_price
             |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
             |WHEN NOT MATCHED AND s.o_custkey IN
             |  (SELECT c_custkey FROM q228_allow)
             |  THEN INSERT
             |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
             |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus,
             |          s.o_totalprice)""".stripMargin)
        statusResult(s, tbl, CommitLog.versions(s, tbl).size)
      } finally {
        s.catalog.dropTempView("q228_src"): Unit
        s.catalog.dropTempView("q228_allow"): Unit
        rmTree(root)
      }
    }),

    // INCREMENTAL ANN index maintenance over the change feed (round
    // 16): the IVF index is a commit-log table; corpus appends route
    // into EXISTING cells (map-side assignment, no refit), deletes
    // tombstone via deletion vectors, and the applied-through corpus
    // version rides the exactly-once txn stamp. Witnesses: the
    // feed-maintained index is CONTENT-EQUAL to assigning the current
    // snapshot from scratch against the same centroids; a replayed
    // maintenance run recognizes its watermark and commits nothing;
    // quantization drift was measured. The full-probe search over the
    // maintained index hash-matches DuckDB's brute-force top-k over
    // the corpus' FINAL state — the approximation-free oracle mode.
    "q227_ann_ivf_incremental" -> ((s, dir) => {
      val root = stageDir("q227")
      try {
        val corpus = s"$root/corpus"
        val index = s"$root/index"
        val cents = s"$root/cents"
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        CommitLog.append(s, corpus,
          e.filter(pmod(col("vec_id"), lit(4)) =!= 3))
        graft.operators.IvfIncremental.build(s, corpus, index, cents,
          "vec_id", "embedding", nCells = 16): Unit
        // the corpus evolves: the held-out quarter arrives, a tenth
        // leaves — final state = vec_id % 10 != 1
        CommitLog.append(s, corpus,
          e.filter(pmod(col("vec_id"), lit(4)) === 3))
        CommitLog.delete(s, corpus,
          pmod(col("vec_id"), lit(10)) === 1): Unit
        val (applied, drift) = graft.operators.IvfIncremental
          .applyFeed(s, corpus, index, cents, "vec_id", "embedding")
        // law: feed-applied ≡ from-scratch assignment, same centroids
        import s.implicits._
        val storedCents = CommitLog.read(s, cents)
          .select(col("cell"), col("v")).orderBy(col("cell"))
          .as[(Int, Array[Long])].collect().map(_._2)
        val fromScratch = graft.operators.IvfIndex.assign(
          CommitLog.read(s, corpus), "vec_id", "embedding", storedCents)
        val maintained = CommitLog.read(s, index)
          .select(col("vec_id"), col("cell"))
        val contentEqual = graft.operators.Witness.multisetEqual(
          maintained, fromScratch.select(col("vec_id"), col("cell")))
        // replay: the watermark recognizes an already-applied range
        val v0 = CommitLog.versions(s, index).max
        val (applied2, _) = graft.operators.IvfIncremental
          .applyFeed(s, corpus, index, cents, "vec_id", "embedding")
        val replayNoop = applied2 == applied &&
          CommitLog.versions(s, index).max == v0
        val queries = CommitLog.read(s, corpus)
          .filter(pmod(col("vec_id"), lit(50)) === 0)
        graft.operators.IvfIncremental.topK(s, queries, "vec_id",
            "embedding", index, cents, k = 10, nProbe = 16)
          .withColumn("content_equal", lit(contentEqual))
          .withColumn("applied_version", lit(applied))
          .withColumn("replay_noop", lit(replayNoop))
          .withColumn("drift_measured", lit(drift > 0.0))
          .orderBy(col("query_id"), col("rn"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // INCREMENTAL PQ maintenance (round 16, the compressed-domain
    // twin of q227): codebooks fit ONCE on the initial corpus; the
    // held-out quarter arrives and a tenth leaves; the delta ENCODES
    // against the existing codebooks (no re-fit) and lands as a keyed
    // merge + DV tombstones under the exactly-once watermark. The ADC
    // search runs over the STORED codes (never re-encoding — the 32x
    // compression is the point); the oracle replays the ENTIRE
    // fit(initial)→encode(final)→ADC pipeline in SQL, so the
    // approximation itself is hash-verified, not just its recall.
    "q229_pq_adc_incremental" -> ((s, dir) => {
      val root = stageDir("q229")
      try {
        val corpus = s"$root/corpus"
        val codes = s"$root/codes"
        val cb = s"$root/cb"
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        CommitLog.append(s, corpus,
          e.filter(pmod(col("vec_id"), lit(4)) =!= 3))
        graft.operators.PqIncremental.build(s, corpus, codes, cb,
          "vec_id", "embedding", m = 8, k = 16, iters = 2): Unit
        CommitLog.append(s, corpus,
          e.filter(pmod(col("vec_id"), lit(4)) === 3))
        CommitLog.delete(s, corpus,
          pmod(col("vec_id"), lit(10)) === 1): Unit
        val (applied, drift) = graft.operators.PqIncremental
          .applyFeed(s, corpus, codes, cb, "vec_id", "embedding")
        // law: feed-applied codes ≡ one-shot encode of the current
        // snapshot under the same codebooks (compare id+codes; err is
        // derived from the same assignment)
        import s.implicits._
        val cbRows = CommitLog.read(s, cb)
          .select(col("m"), col("kk"), col("v"))
          .as[(Int, Int, Array[Long])].collect()
        val mN = cbRows.map(_._1).max + 1
        val kN = cbRows.map(_._2).max + 1
        val cents = Array.ofDim[Array[Long]](mN, kN)
        cbRows.foreach { case (mm, kk, v) => cents(mm)(kk) = v }
        val books = graft.operators.PqIndex.Codebooks(
          cbRows.head._3.length, cents.map(_.toArray))
        val scratch = graft.operators.PqIndex.encode(
            CommitLog.read(s, corpus), "vec_id", "embedding", books)
          .toDF("vec_id", "codes")
        val live = CommitLog.read(s, codes)
          .select(col("vec_id"), col("codes"))
        val contentEqual = graft.operators.Witness.multisetEqual(
          live, scratch)
        val v0 = CommitLog.versions(s, codes).max
        val (applied2, _) = graft.operators.PqIncremental
          .applyFeed(s, corpus, codes, cb, "vec_id", "embedding")
        val replayNoop = applied2 == applied &&
          CommitLog.versions(s, codes).max == v0
        val queries = CommitLog.read(s, corpus)
          .filter(pmod(col("vec_id"), lit(50)) === 0)
        graft.operators.PqIncremental.adcTopK(s, queries, "vec_id",
            "embedding", codes, cb, k = 5)
          .withColumn("content_equal", lit(contentEqual))
          .withColumn("applied_version", lit(applied))
          .withColumn("replay_noop", lit(replayNoop))
          .withColumn("drift_measured", lit(drift > 0.0))
          .orderBy(col("query_id"), col("rn"))
          .localCheckpoint(true)
      } finally rmTree(root)
    })
  )

  /** Strip the per-key grid counts from `tbl`'s newest manifest (and
    * checkpoint, if one rode the same version) — byte-faithfully the
    * bucket record a PRE-GRID writer produced. Fixture for the q226
    * migration protocol. */
  private def demoteBucketRecord(s: SparkSession, tbl: String): Unit = {
    val v = CommitLog.versions(s, tbl).max
    Seq(f"$v%020d.manifest", f"$v%020d.checkpoint").foreach { name =>
      val p = java.nio.file.Paths.get(tbl, "_commits", name)
      if (java.nio.file.Files.exists(p)) {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val b64 = "\"bucket\":\"([^\"]+)\"".r.findFirstMatchIn(txt)
          .getOrElse(throw new IllegalStateException(
            s"q226: no bucket field in $name")).group(1)
        val json = new String(
          java.util.Base64.getDecoder.decode(b64), "UTF-8")
        val legacyJson = json.replaceAll(",\"__ns\":\"[^\"]*\"", "")
        require(legacyJson != json, "q226: expected to strip __ns")
        val legacyB64 = java.util.Base64.getEncoder
          .encodeToString(legacyJson.getBytes("UTF-8"))
        java.nio.file.Files.write(p, txt.replace(b64, legacyB64)
          .getBytes("UTF-8")): Unit
      }
    }
  }

  val oracleSql: Map[String, String] = Map(
    "q223_commitlog_sql_delete_correlated" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |       FROM orders),
        |t1 AS (SELECT * FROM t0 WHERE NOT EXISTS (SELECT 1 FROM c
        |         WHERE c.c_custkey = t0.o_custkey
        |           AND c.c_mktsegment = 'BUILDING')),
        |t2 AS (SELECT * FROM t1 WHERE EXISTS (SELECT 1 FROM c
        |         WHERE c.c_custkey = t1.o_custkey
        |           AND c.c_acctbal >= 1000.0)),
        |t3 AS (SELECT o_orderkey, o_custkey,
        |         CASE WHEN o_custkey IN (SELECT c.c_custkey FROM c
        |             WHERE c.c_custkey = t2.o_custkey
        |               AND c.c_acctbal >= 5000.0)
        |           THEN 'E' ELSE o_orderstatus END AS o_orderstatus,
        |         o_totalprice FROM t2)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  4 AS n_versions
        |FROM t3 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q224_commitlog_sql_update_correlated_scalar" ->
      """WITH li AS (SELECT l_orderkey, l_extendedprice FROM lineitem
        |            WHERE l_quantity > 45),
        |t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |       FROM orders),
        |t1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderstatus <> 'F'
        |           THEN o_totalprice + 10.0 * (SELECT count(*) FROM li
        |             WHERE li.l_orderkey = t0.o_orderkey)
        |           ELSE o_totalprice END AS o_totalprice FROM t0),
        |t2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F'
        |           THEN COALESCE((SELECT max(li.l_extendedprice) FROM li
        |             WHERE li.l_orderkey = t1.o_orderkey), o_totalprice)
        |           ELSE o_totalprice END AS o_totalprice FROM t1),
        |t3 AS (SELECT * FROM t2 WHERE NOT COALESCE(
        |         (SELECT count(*) FROM li
        |          WHERE li.l_orderkey = t2.o_orderkey) >= 5, FALSE))
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  4 AS n_versions
        |FROM t3 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // the merge algebra over the float-truncated target (REAL mirrors
    // Spark's FLOAT cast bit-for-bit, then widens to DOUBLE exactly
    // like the up-converting scan) and the long-native source
    "q225_commitlog_merge_evolution_widening" ->
      """WITH t AS (SELECT o_orderkey,
        |    CAST(o_custkey % 1000000 AS INT) AS o_custkey,
        |    CAST(o_totalprice AS REAL) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |s AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    substring(o_orderpriority, 1, 1) AS priority_class
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |final AS (
        |  SELECT s.priority_class AS priority_class,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
        |         ELSE CAST(t.o_totalprice AS DOUBLE) END AS price,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
        |         ELSE CAST(t.o_custkey AS BIGINT) END AS ck
        |  FROM t LEFT JOIN s ON s.o_orderkey = t.o_orderkey
        |  UNION ALL
        |  SELECT s.priority_class, s.o_totalprice, s.o_custkey
        |  FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
        |  WHERE t.o_orderkey IS NULL)
        |SELECT priority_class,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(FLOOR(price * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(SUM(ck) AS BIGINT) AS sum_custkey,
        |  true AS widen_then_merge
        |FROM final
        |GROUP BY priority_class
        |ORDER BY priority_class""".stripMargin,

    // the self-join algebra over the residue slice; the five
    // migration-protocol witnesses ride as constants
    "q226_commitlog_optimize_grid_migration" ->
      """WITH a AS (SELECT l_orderkey, l_linenumber, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 4 = 2),
        |b AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |    l_returnflag
        |  FROM lineitem WHERE l_orderkey % 4 = 2)
        |SELECT b.l_returnflag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(a.l_extendedprice AS DECIMAL(30,6)))
        |    AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(b.l_quantity AS DECIMAL(30,6)))
        |    AS DOUBLE) AS sum_qty,
        |  true AS legacy_shuffled,
        |  true AS advisor_recommended,
        |  CAST(0 AS INT) AS spj_shuffles,
        |  true AS advisor_quiet,
        |  true AS recall_noop
        |FROM a JOIN b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_linenumber = b.l_linenumber
        |GROUP BY b.l_returnflag
        |ORDER BY b.l_returnflag""".stripMargin,

    // the gated first-match-wins algebra: matched+allowed -> update
    // (shadows the DELETE), matched+F+not-allowed -> delete, other
    // matched and all unmatched target rows keep; allowed unmatched
    // source rows insert
    "q228_commitlog_sql_merge_subquery_conditions" ->
      """WITH allow AS (SELECT c_custkey FROM customer
        |               WHERE c_mktsegment = 'MACHINERY'),
        |t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
        |s AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |        o_totalprice, o_totalprice + 1000.0 AS new_price
        |      FROM orders WHERE o_orderkey % 2 = 0),
        |kept AS (
        |  SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
        |    CASE WHEN s.o_orderkey IS NOT NULL AND t.o_custkey IN
        |        (SELECT c_custkey FROM allow)
        |      THEN s.new_price ELSE t.o_totalprice END AS o_totalprice
        |  FROM t LEFT JOIN s ON s.o_orderkey = t.o_orderkey
        |  WHERE NOT (s.o_orderkey IS NOT NULL
        |    AND NOT t.o_custkey IN (SELECT c_custkey FROM allow)
        |    AND t.o_orderstatus = 'F')),
        |ins AS (
        |  SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus,
        |    s.o_totalprice
        |  FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
        |  WHERE t.o_orderkey IS NULL
        |    AND s.o_custkey IN (SELECT c_custkey FROM allow)),
        |fin AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  2 AS n_versions
        |FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // brute-force top-10 over the corpus' FINAL state (initial three
    // quarters + appended quarter − deleted tenth = vec_id % 10 != 1);
    // full probing makes the maintained-index search exhaustive, so
    // the hash pins the index CONTENT, not just its recall. The four
    // maintenance-protocol witnesses ride as constants.
    "q227_ann_ivf_incremental" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x_ -> CAST(floor(CAST(x_ AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id % 10 != 1),
        |q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i_ -> q.v[i_] * c.v[i_])) AS BIGINT) AS dot_fp
        |  FROM q JOIN e c ON q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, dot_fp,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        |  true AS content_equal,
        |  CAST(3 AS BIGINT) AS applied_version,
        |  true AS replay_noop,
        |  true AS drift_measured
        |FROM s
        |WINDOW w AS (PARTITION BY query_id ORDER BY dot_fp DESC, neighbor_id ASC)
        |QUALIFY ROW_NUMBER() OVER w <= 10
        |ORDER BY query_id, rn""".stripMargin,

    // full fit(initial corpus)→encode(final corpus)→ADC replay, the
    // q168 oracle adapted to the incremental protocol: codebooks fit
    // over vec_id % 4 != 3 (seeds = lowest ids, 2 Lloyd rounds),
    // codes assigned over the FINAL corpus (% 10 != 1) — exactly what
    // feed-application must reproduce
    "q229_pq_adc_incremental" -> {
      def assign(src: String, prev: String, out: String): String =
        s"""$out AS MATERIALIZED (
           |  SELECT vec_id, m, kk FROM (
           |    SELECT s.vec_id, s.m, c.kk,
           |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
           |        ORDER BY SUM((s.x - c.x) * (s.x - c.x)), c.kk) AS rn
           |    FROM $src s JOIN $prev c ON c.m = s.m AND c.j = s.j
           |    GROUP BY s.vec_id, s.m, c.kk)
           |  WHERE rn = 1)""".stripMargin
      def update(a: String, prev: String, out: String): String =
        s"""$out AS MATERIALIZED (
           |  SELECT c.m, c.kk, c.j, COALESCE(u.cx, c.x) AS x
           |  FROM $prev c LEFT JOIN (
           |    SELECT a.m, a.kk, s.j,
           |      CAST(SUM(s.x) // COUNT(*) AS BIGINT) AS cx
           |    FROM $a a JOIN subfit s
           |      ON s.vec_id = a.vec_id AND s.m = a.m
           |    GROUP BY a.m, a.kk, s.j) u
           |  ON u.m = c.m AND u.kk = c.kk AND u.j = c.j)""".stripMargin
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding,
         |    x_ -> CAST(floor(CAST(x_ AS DOUBLE) * 10000000.0) AS BIGINT)) AS v
         |  FROM embeddings),
         |sub AS MATERIALIZED (
         |  SELECT e.vec_id, mm.m, jj.j, e.v[mm.m * 8 + jj.j] AS x
         |  FROM e
         |  CROSS JOIN (SELECT unnest(range(8)) AS m) mm
         |  CROSS JOIN (SELECT unnest(range(1, 9)) AS j) jj),
         |subfit AS MATERIALIZED (
         |  SELECT * FROM sub WHERE vec_id % 4 != 3),
         |subfin AS MATERIALIZED (
         |  SELECT * FROM sub WHERE vec_id % 10 != 1),
         |c0 AS MATERIALIZED (
         |  SELECT m, kk, j, x FROM (
         |    SELECT subfit.*, ROW_NUMBER() OVER (PARTITION BY m, j
         |      ORDER BY vec_id) - 1 AS kk
         |    FROM subfit)
         |  WHERE kk < 16),
         |${assign("subfit", "c0", "a1")},
         |${update("a1", "c0", "c1")},
         |${assign("subfit", "c1", "a2")},
         |${update("a2", "c1", "c2")},
         |${assign("subfin", "c2", "codes")},
         |q AS (SELECT * FROM subfin WHERE vec_id % 50 = 0),
         |lut AS MATERIALIZED (
         |  SELECT q.vec_id AS query_id, c.m, c.kk,
         |    CAST(SUM(q.x * c.x) AS BIGINT) AS d
         |  FROM q JOIN c2 c ON c.m = q.m AND c.j = q.j
         |  GROUP BY q.vec_id, c.m, c.kk),
         |score AS MATERIALIZED (
         |  SELECT l.query_id, a.vec_id AS neighbor_id,
         |    CAST(SUM(l.d) AS BIGINT) AS dot_fp
         |  FROM codes a JOIN lut l ON l.m = a.m AND l.kk = a.kk
         |  WHERE a.vec_id <> l.query_id
         |  GROUP BY l.query_id, a.vec_id)
         |SELECT query_id, neighbor_id, dot_fp,
         |  CAST(ROW_NUMBER() OVER w AS INT) AS rn,
         |  true AS content_equal,
         |  CAST(3 AS BIGINT) AS applied_version,
         |  true AS replay_noop,
         |  true AS drift_measured
         |FROM score
         |WINDOW w AS (PARTITION BY query_id
         |  ORDER BY dot_fp DESC, neighbor_id ASC)
         |QUALIFY ROW_NUMBER() OVER w <= 5
         |ORDER BY query_id, rn""".stripMargin
    }
  )
}
