package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Catalog, CommitLog}
import graft.plans.PlanProbe
import StagedBases.{rmTree, stageDir, withCatalog}

/** Round-12 additions: the delta-log format evolution and atomic
  * CTAS/RTAS under the oracle gate.
  *
  *  - q191 checkpoint lifecycle: drives one table through a
  *    14-commit life (12 appends crossing the checkpoint cadence, a
  *    merge-on-read vectored DELETE, a materializing compact) and
  *    hash-checks the surviving content plus structural witnesses —
  *    the mid-chain time travel, the checkpoint landing on the
  *    interval, and the growing commits staying O(delta) bytes. The
  *    oracle recomputes the same states as pure SQL over `orders`,
  *    so the delta-manifest replay arithmetic (checkpoint + tail)
  *    is pinned by value, not just by spec.
  *  - q192 atomic CTAS/RTAS: `CREATE TABLE … AS SELECT` and
  *    `REPLACE TABLE … AS SELECT` through the SQL catalog — each
  *    exactly ONE commit — with the replaced version read back via
  *    time travel. Pins the StagingTableCatalog path end-to-end
  *    (stage → single publish → no create-then-insert window).
  *
  * Reference anchor: the reference materializes query results into
  * SQL Server tables via `SELECT INTO`-style writes (`SELECT.py`);
  * CTAS here is that verb with lakehouse atomicity, and the
  * delta-log keeps its commit cost flat at any table size
  * (SURVEY §2.1 S4's scale path).
  */
object Pipeline19 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q191_commitlog_checkpoint_lifecycle" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
      val root = stageDir("q191")
      val tbl = s"$root/tbl"
      try {
        // 12 append commits (one per o_orderkey residue class) cross
        // the default checkpoint interval of 10 — every commit after
        // v1 is an O(delta) record, v10 also lands a checkpoint
        (0 until 12).foreach(i => CommitLog.append(s, tbl,
          orders.filter(col("o_orderkey") % 12 === i)))
        // v13: merge-on-read vectored delete (O(deleted) written,
        // zero segments rewritten); v14: compact materializes the
        // vector and collapses 12 segments to 1
        CommitLog.deleteVectored(s, tbl, col("o_orderkey") % 7 === 0)
        CommitLog.compact(s, tbl, targetRowsPerFile = 2000000L)
        val live = CommitLog.read(s, tbl)
        val v10 = CommitLog.read(s, tbl, Some(10L))
        // structural witnesses (oracle pins them TRUE): cadence
        // checkpoint, delta-record commits, version arithmetic
        val ckpt10 = new java.io.File(
          f"$tbl/_commits/${10L}%020d.checkpoint").exists()
        val m12 = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(
            f"$tbl/_commits/${12L}%020d.manifest")), "UTF-8")
        val vNow = CommitLog.currentVersion(s, tbl).contains(14L)
        val agg = live.agg(
          count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(30,6)"))
            .cast("double").as("sum_price"))
        val tt = v10.agg(count(lit(1)).as("v10_rows"))
        agg.crossJoin(tt)
          .withColumn("ckpt_on_interval", lit(ckpt10))
          .withColumn("delta_commits",
            lit(m12.contains("\"addSegments\"") &&
              !m12.contains("\"segments\"")))
          .withColumn("version_arith", lit(vNow))
          .select(col("n_rows"), col("sum_price"), col("v10_rows"),
            col("ckpt_on_interval"), col("delta_commits"),
            col("version_arith"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    "q193_commitlog_column_mapping" -> ((s, dir) => {
      val root = stageDir("q193")
      val tbl = s"$root/ns/c"
      t(s, dir, "customer").createOrReplaceTempView("q193_customer")
      try withCatalog(s, "g193", root) {
        s.sql("""CREATE TABLE g193.ns.c AS
          SELECT c_custkey, c_nationkey, c_acctbal, c_mktsegment
          FROM q193_customer""")
        // metadata-only DDL chain: rename + drop, zero rewrites
        s.sql("ALTER TABLE g193.ns.c RENAME COLUMN c_acctbal " +
          "TO balance")
        s.sql("ALTER TABLE g193.ns.c DROP COLUMN c_mktsegment")
        // post-DDL write mixes physical-name ages in one table
        s.sql("""INSERT INTO g193.ns.c
          SELECT c_custkey + 1000000, c_nationkey,
            CAST(c_acctbal AS DOUBLE) FROM q193_customer
          WHERE c_nationkey < 3""")
        // served under the LATEST names; the rename is transparent
        // to the values, the dropped column is gone everywhere
        s.sql("""SELECT c_nationkey,
            COUNT(*) AS n,
            CAST(SUM(CAST(balance AS DECIMAL(30,6))) AS DOUBLE)
              AS total_balance
          FROM g193.ns.c GROUP BY c_nationkey""")
          .withColumn("v1_cols",
            lit(CommitLog.read(s, tbl, Some(1L)).columns.length
              .toLong))
          .orderBy(col("c_nationkey"))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q193_customer"): Unit
        rmTree(root)
      }
    }),

    "q194_commitlog_vacuum_lifecycle" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val root = stageDir("q194")
      val tbl = s"$root/tbl"
      try {
        // 8 appends, then vacuum at retain=3: the floor (v6) must be
        // pinned by a checkpoint before the delta tail drops, and
        // every retained version must stay exactly resolvable
        (0 until 8).foreach(i => CommitLog.append(s, tbl,
          orders.filter(col("o_orderkey") % 8 === i)))
        // the retention check is ON (retain 3 ≥ 2, no minAge set) —
        // this is the default-guarded path, not an override
        CommitLog.vacuum(s, tbl, retainVersions = 3)
        val floorPinned = new java.io.File(
          f"$tbl/_commits/${6L}%020d.checkpoint").exists()
        val droppedGone = CommitLog.snapshot(s, tbl, Some(3L)).isEmpty
        val latest = CommitLog.read(s, tbl)
        val floor = CommitLog.read(s, tbl, Some(6L))
        latest.agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .crossJoin(floor.agg(count(lit(1)).as("floor_rows")))
          .withColumn("floor_pinned", lit(floorPinned))
          .withColumn("dropped_gone", lit(droppedGone))
          .select(col("n_rows"), col("sum_price"), col("floor_rows"),
            col("floor_pinned"), col("dropped_gone"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    "q192_commitlog_ctas" -> ((s, dir) => {
      val root = stageDir("q192")
      val tblPath = s"$root/ns/cust"
      t(s, dir, "customer").createOrReplaceTempView("q192_customer")
      try withCatalog(s, "g192", root) {
        // CTAS: one commit lands schema + data atomically
        s.sql("""CREATE TABLE g192.ns.cust AS
          SELECT c_custkey, c_nationkey, c_acctbal
          FROM q192_customer WHERE c_acctbal > 0""")
        // RTAS: one commit swaps content AND schema (per-nation
        // rollup); the CTAS version stays one time travel away
        s.sql("""REPLACE TABLE g192.ns.cust AS
          SELECT c_nationkey,
            COUNT(*) AS n_cust,
            CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
              AS total_bal
          FROM q192_customer WHERE c_acctbal > 0
          GROUP BY c_nationkey""")
        val v2 = s.sql("SELECT * FROM g192.ns.cust")
        val v1n = CommitLog.read(s, tblPath, Some(1L)).count()
        v2.withColumn("v1_rows", lit(v1n))
          .orderBy(col("c_nationkey"))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q192_customer"): Unit
        rmTree(root)
      }
    }),

    // VERSIONED CHECK constraints (round 13): SET/UNSET are OCC
    // commits riding the manifest, so the rules time-travel with the
    // data — a RESTORE below the UNSET resurrects the constraint
    // along with the content it governed, and the resurrected rule
    // gates writes again. Witnesses: the pre-drop refusal (atomic —
    // no version landed), the post-restore refusal (the rule came
    // back via time travel, not via any side file), and the final
    // constraint count. Final content = exactly the clean slices,
    // so the oracle re-derives everything from predicate algebra.
    "q195_commitlog_versioned_constraints" -> ((s, dir) => {
      val root = stageDir("q195")
      val tbl = s"$root/tbl"
      try {
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        val clean = o.filter(col("o_totalprice") > 50000.0)
        val dirty = o.filter(col("o_totalprice") <= 50000.0)
        CommitLog.append(s, tbl,
          clean.filter(pmod(col("o_orderkey"), lit(2)) === 0))
        CommitLog.setConstraint(s, tbl, "price_floor",
          "o_totalprice > 50000.0"): Unit
        val vGate = CommitLog.currentVersion(s, tbl).get
        val refusedPre =
          try { CommitLog.append(s, tbl, dirty); false }
          catch { case _: IllegalStateException =>
            CommitLog.currentVersion(s, tbl).get == vGate }
        CommitLog.append(s, tbl,
          clean.filter(pmod(col("o_orderkey"), lit(2)) === 1))
        val vClean = CommitLog.currentVersion(s, tbl).get
        // UNSET lifts the gate — the dirty slice lands...
        CommitLog.dropConstraint(s, tbl, "price_floor"): Unit
        CommitLog.append(s, tbl, dirty)
        // ...and RESTORE to the gated era rolls BOTH the content and
        // the rule back (constraints are versioned metadata)
        CommitLog.restore(s, tbl, vClean): Unit
        val consBack = CommitLog.constraints(s, tbl)
          .contains("price_floor")
        val vAfter = CommitLog.currentVersion(s, tbl).get
        val refusedPost =
          try { CommitLog.append(s, tbl, dirty); false }
          catch { case _: IllegalStateException =>
            CommitLog.currentVersion(s, tbl).get == vAfter }
        CommitLog.read(s, tbl)
          .groupBy(col("o_orderstatus")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .withColumn("refused_pre", lit(refusedPre))
          .withColumn("constraint_restored", lit(consBack))
          .withColumn("refused_post_restore", lit(refusedPost))
          .withColumn("n_constraints_final",
            lit(CommitLog.constraints(s, tbl).size))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // METADATA-ONLY type widening (round 13): INT→LONG and
    // FLOAT→DOUBLE commits touch zero segments; the pinned-schema
    // scan up-converts the old files' INT32/FLOAT pages, so one
    // table serves pre- and post-widen segments as a single uniform
    // type — including values only the WIDE type can hold. The
    // oracle rebuilds the mixed union in DuckDB with explicit casts.
    // Witnesses: segments untouched by the widen commits, the
    // pre-widen version time-traveling with its own NARROW types,
    // and a narrowing attempt refused.
    "q196_commitlog_type_widening" -> ((s, dir) => {
      val root = stageDir("q196")
      val tbl = s"$root/tbl"
      try {
        val li = t(s, dir, "lineitem")
        def slice(par: Int): DataFrame = li
          .filter(pmod(col("l_orderkey"), lit(2)) === par)
          .select(
            (col("l_orderkey") % 100000).cast("int").as("key_small"),
            col("l_quantity").cast("float").as("qty"),
            col("l_returnflag").as("flag"))
        CommitLog.appendEvolve(s, tbl, slice(0))
        val preV = CommitLog.currentVersion(s, tbl).get
        val segsBefore = CommitLog.snapshot(s, tbl).get.segments
        CommitLog.widenColumn(s, tbl, "key_small",
          org.apache.spark.sql.types.LongType): Unit
        CommitLog.widenColumn(s, tbl, "qty",
          org.apache.spark.sql.types.DoubleType): Unit
        val segsUntouched =
          CommitLog.snapshot(s, tbl).get.segments == segsBefore
        // post-widen slice carries values only LONG can hold
        CommitLog.append(s, tbl, slice(1).select(
          (col("key_small").cast("bigint") + 10000000000L)
            .as("key_small"),
          col("qty").cast("double").as("qty"), col("flag")))
        val preSchema = CommitLog.read(s, tbl, Some(preV)).schema
        val preNarrow =
          preSchema("key_small").dataType ==
            org.apache.spark.sql.types.IntegerType &&
          preSchema("qty").dataType ==
            org.apache.spark.sql.types.FloatType
        val narrowRefused =
          try { CommitLog.widenColumn(s, tbl, "key_small",
            org.apache.spark.sql.types.IntegerType): Unit; false }
          catch { case _: IllegalStateException => true }
        CommitLog.read(s, tbl)
          .groupBy(col("flag")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("key_small")).cast("bigint").as("sum_key"),
            sum(col("qty").cast("decimal(30,6)")).cast("double")
              .as("sum_qty"))
          .withColumn("segs_untouched", lit(segsUntouched))
          .withColumn("pre_widen_narrow", lit(preNarrow))
          .withColumn("narrow_refused", lit(narrowRefused))
          .orderBy(col("flag"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // fsck (round 13): the executable form of FORMAT.md §8 — a
    // healthy table reports ZERO findings, spec-tolerated debris
    // (crashed writers' orphan/staging dirs) classifies as INFO with
    // zero errors, and real storage loss (a referenced segment gone)
    // is a counted ERROR. Content agg is materialized BEFORE the
    // induced corruption; the oracle pins the finding counts as
    // literals because each is fully determined by the spec.
    "q197_commitlog_fsck" -> ((s, dir) => {
      val root = stageDir("q197")
      val tbl = s"$root/tbl"
      try {
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        (0 until 6).foreach(i => CommitLog.append(s, tbl,
          o.filter(col("o_orderkey") % 6 === i)))
        // eager: the segment nuked below must not be re-read
        val content = CommitLog.read(s, tbl).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .localCheckpoint(true)
        val clean = graft.sources.CommitLogFsck.fsckSummary(s, tbl)
          .head()
        val cleanOk = clean.getLong(0) == 0L &&
          clean.getLong(1) == 0L && clean.getLong(2) == 0L &&
          clean.getBoolean(3)
        // crashed-writer debris: an unreferenced segment dir and a
        // staging dir — INFO by spec, reads unaffected
        val orphan = new java.io.File(s"$tbl/data/00000000-orphan")
        orphan.mkdirs(): Unit
        java.nio.file.Files.write(
          new java.io.File(orphan, "part-0.parquet").toPath,
          Array[Byte](1, 2, 3)): Unit
        new java.io.File(s"$tbl/data/.staging-crash").mkdirs(): Unit
        val debris = graft.sources.CommitLogFsck.fsck(s, tbl)
          .groupBy(col("level")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        // storage loss: one referenced segment vanishes — exactly
        // one ERROR from the distributed existence pass
        val victim = new java.io.File(
          CommitLog.snapshot(s, tbl).get.segments.head)
        rmTree(victim.toString)
        val broken = graft.sources.CommitLogFsck.fsckSummary(s, tbl)
          .head().getLong(0)
        content
          .withColumn("clean_ok", lit(cleanOk))
          .withColumn("debris_infos",
            lit(debris.getOrElse("INFO", 0L)))
          .withColumn("debris_errors",
            lit(debris.getOrElse("ERROR", 0L)))
          .withColumn("broken_errors", lit(broken))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // PARTITION EVOLUTION (round 13, Iceberg's capability): half of
    // orders lands partitioned by o_orderstatus, the spec evolves in
    // ONE metadata-only commit (segments untouched — witnessed), and
    // the other half lands partitioned by o_orderpriority. The
    // mixed-layout set reads as one table (the oracle recomputes the
    // union from orders), and sidecar pruning still works across
    // eras: a point probe on the NEW spec column prunes exactly the
    // other 4 priority segments (TPC-H has 5 priorities) while
    // conservatively keeping the old-era segments whose sidecars
    // never recorded that column.
    "q198_commitlog_partition_evolution" -> ((s, dir) => {
      val root = stageDir("q198")
      val tbl = s"$root/tbl"
      try {
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice"))
        graft.sources.CommitLogStats.appendPartitioned(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(2)) === 0),
          Seq("o_orderstatus"))
        val segsPre = CommitLog.snapshot(s, tbl).get.segments
        val vSpec = CommitLog.setPartitionSpec(s, tbl,
          Seq("o_orderpriority"))
        val metadataOnly =
          CommitLog.snapshot(s, tbl, Some(vSpec)).get
            .segments == segsPre
        val specEvolved = CommitLog.partitionColumns(s, tbl)
          .contains(Seq("o_orderpriority"))
        graft.sources.CommitLogStats.appendPartitioned(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(2)) === 1),
          Seq("o_orderpriority"))
        val prunedCnt = graft.sources.CommitLogStats.planSkipping(
          s, tbl, "o_orderpriority", "1-URGENT", "1-URGENT")
          .pruned.size.toLong
        CommitLog.read(s, tbl)
          .groupBy(col("o_orderstatus")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .withColumn("metadata_only", lit(metadataOnly))
          .withColumn("spec_evolved", lit(specEvolved))
          .withColumn("pruned_cnt", lit(prunedCnt))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // MAINTENANCE ADVISOR (round 13): a healthy table recommends
    // nothing; then three degradations are induced — twelve
    // small-average segments (the small-files problem), a missing
    // cadence checkpoint (crash shape: resolution replays the whole
    // tail), and a crashed writer's orphan dir — and the advisor
    // must recommend EXACTLY compact + checkpoint + vacuum, each a
    // runnable CALL. Every signal is deterministic, so the oracle
    // pins the action multiset as literals alongside the content agg.
    "q199_commitlog_maintenance" -> ((s, dir) => {
      val root = stageDir("q199")
      val tbl = s"$root/tbl"
      try {
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        (0 until 12).foreach(i =>
          graft.sources.CommitLogStats.appendWithStats(s, tbl,
            o.filter(col("o_orderkey") % 12 === i),
            statsCols = Seq("o_orderkey")))
        // healthy at the default thresholds EXCEPT small segments —
        // suppress that first to witness the clean bill
        val healthy = graft.sources.CommitLogMaintenance
          .maintenancePlan(s, tbl, smallSegmentRows = 1L).count()
        // degrade: cadence gap + crashed-writer debris (the twelve
        // sf-scale segments already average far below the 1M-row
        // small-file default)
        new java.io.File(
          f"$tbl/_commits/${10L}%020d.checkpoint").delete(): Unit
        val orphan = new java.io.File(s"$tbl/data/00000000-orphan")
        orphan.mkdirs(): Unit
        java.nio.file.Files.write(
          new java.io.File(orphan, "part-0.parquet").toPath,
          Array[Byte](1)): Unit
        val actions = graft.sources.CommitLogMaintenance
          .maintenancePlan(s, tbl)
          .select(col("action")).collect().map(_.getString(0))
          .sorted.mkString(",")
        CommitLog.read(s, tbl).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .withColumn("healthy_recs", lit(healthy))
          .withColumn("degraded_actions", lit(actions))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // GENERATED COLUMNS (round 13, Delta's design): a table created
    // with GENERATED ALWAYS AS and PARTITIONED BY the generated
    // column. Even keys land through the programmatic partitioned
    // append OMITTING the column (the engine computes it); odd keys
    // land through SQL INSERT PROVIDING it (validated); a
    // mismatching provided value refuses atomically. Even keys fill
    // buckets {0,2} and odd keys {1,3}, so a point probe on one
    // bucket prunes exactly 3 of the 4 segments. The oracle
    // re-derives the per-bucket content from o_orderkey % 4.
    "q200_commitlog_generated_columns" -> ((s, dir) => {
      val root = stageDir("q200")
      val tblPath = s"$root/ns/o"
      t(s, dir, "orders").select(col("o_orderkey"),
          col("o_totalprice"))
        .createOrReplaceTempView("q200_orders")
      try withCatalog(s, "g200", root) {
        s.sql("""CREATE TABLE g200.ns.o (o_orderkey BIGINT,
          o_totalprice DOUBLE,
          bucket BIGINT GENERATED ALWAYS AS (o_orderkey % 4))
          PARTITIONED BY (bucket)""")
        graft.sources.CommitLogStats.appendPartitioned(s, tblPath,
          s.table("q200_orders")
            .filter(pmod(col("o_orderkey"), lit(2)) === 0),
          Seq("bucket"))
        s.sql("""INSERT INTO g200.ns.o
          SELECT o_orderkey, o_totalprice, o_orderkey % 4
          FROM q200_orders WHERE o_orderkey % 2 = 1""")
        val vNow = CommitLog.currentVersion(s, tblPath).get
        val refused =
          try { s.sql(
            "INSERT INTO g200.ns.o VALUES (2, 1.0, 3)"): Unit; false }
          catch { case _: Exception =>
            CommitLog.currentVersion(s, tblPath).get == vNow }
        val prunedCnt = graft.sources.CommitLogStats.planSkipping(
          s, tblPath, "bucket", 2L, 2L).pruned.size.toLong
        s.sql("SELECT * FROM g200.ns.o")
          .groupBy(col("bucket")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .withColumn("refused_mismatch", lit(refused))
          .withColumn("pruned_cnt", lit(prunedCnt))
          .orderBy(col("bucket"))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q200_orders"): Unit
        rmTree(root)
      }
    }),

    // CLONE lifecycle (round 13, Delta's CLONE design): a source
    // table built from orders is SHALLOW-cloned (zero-copy manifest
    // reference — the 100 TB dev-branch pattern) and DEEP-cloned
    // (executor-side byte copy + DV path remap). The shallow clone
    // takes a DELETE of the odd keys and an extra even-key segment;
    // the deep clone is taken AFTER a vectored delete of keys
    // divisible by 5, so its copy must carry the remapped deletion
    // vector. The source must end bit-identical to where it started
    // — one row per table proves source isolation, clone divergence
    // and DV carry through the hash gate; the oracle re-derives all
    // three contents from orders arithmetic.
    "q201_commitlog_clone" -> ((s, dir) => {
      val root = stageDir("q201")
      val src = s"$root/src"; val sh = s"$root/sh"; val dp = s"$root/dp"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      try {
        CommitLog.append(s, src, orders)
        // vectored delete of keys % 5 == 0: the source now carries a
        // DV both clones must honor
        CommitLog.deleteVectored(s, src,
          pmod(col("o_orderkey"), lit(5)) === 0)
        val srcV = CommitLog.currentVersion(s, src).get
        CommitLog.cloneTable(s, src, sh) // shallow
        CommitLog.cloneTable(s, src, dp, shallow = false) // deep
        // zero-copy witness, taken BEFORE the divergence delete
        // rewrites segments under the clone's own root: the fresh
        // shallow clone owns no data files, only source references
        val shallowZeroCopy = !new java.io.File(s"$sh/data").exists() &&
          CommitLog.snapshot(s, sh).get.segments.forall(
            _.startsWith(src))
        // diverge the shallow clone: drop the odd keys
        CommitLog.delete(s, sh, pmod(col("o_orderkey"), lit(2)) === 1)
        // the deep clone's bytes are its own: a source-side DELETE
        // after the deep copy must not leak into it
        CommitLog.delete(s, src, pmod(col("o_orderkey"), lit(3)) === 0)
        val restoredSrc = CommitLog.restore(s, src, srcV)
        def agg(tbl: String, kind: String): DataFrame =
          CommitLog.read(s, tbl).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
            .withColumn("kind", lit(kind))
        agg(src, "source").unionByName(agg(sh, "shallow"))
          .unionByName(agg(dp, "deep"))
          .withColumn("shallow_zero_copy", lit(shallowZeroCopy))
          .withColumn("src_restored_version", lit(restoredSrc > srcV))
          .select(col("kind"), col("n_rows"), col("sum_price"),
            col("shallow_zero_copy"), col("src_restored_version"))
          .orderBy(col("kind"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // IDENTITY columns (round 13, Delta's identity design): a table
    // with GENERATED ALWAYS AS IDENTITY takes the orders payload in
    // THREE appends (by o_orderkey % 3) with the id column omitted —
    // the engine allocates distributed, shuffle-free, advancing the
    // manifest-versioned high-water mark across commits. Which row
    // gets which id is partition-order-dependent by design (Delta
    // semantics: unique + monotone per commit, not assignment-
    // deterministic), so the oracle pins the order-independent
    // facts: every row got exactly one id, ids are dense here
    // (single-writer: min=1, max=n), the payload round-trips, and
    // an explicit id refuses.
    "q202_commitlog_identity" -> ((s, dir) => {
      val root = stageDir("q202")
      val tblPath = s"$root/ns/o"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      try withCatalog(s, "g202", root) {
        s.sql("""CREATE TABLE g202.ns.o (
          id BIGINT GENERATED ALWAYS AS IDENTITY,
          o_orderkey BIGINT, o_totalprice DOUBLE)""")
        (0 until 3).foreach(i => CommitLog.append(s, tblPath,
          orders.filter(pmod(col("o_orderkey"), lit(3)) === i)))
        val vNow = CommitLog.currentVersion(s, tblPath).get
        val refused =
          try { s.sql(
            "INSERT INTO g202.ns.o VALUES (1, 1, 1.0)"): Unit; false }
          catch { case _: Exception =>
            CommitLog.currentVersion(s, tblPath).get == vNow }
        s.sql("SELECT * FROM g202.ns.o").agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("id")).as("n_ids"),
            min(col("id")).as("min_id"),
            max(col("id")).as("max_id"),
            countDistinct(col("o_orderkey")).as("n_keys"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .withColumn("refused_explicit", lit(refused))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // Column DEFAULT values (round 13, SUPPORT_COLUMN_DEFAULT_VALUE):
    // even keys land through SQL INSERT ... SELECT with the tier
    // column omitted (Spark's analyzer fills the declared default);
    // odd keys land through the programmatic append with the column
    // omitted (the ENGINE fills — the analyzer never sees that
    // frame); keys divisible by 7 land with an explicit NULL tier,
    // which must STAY NULL (a default is an absence rule, not a
    // coalesce). The per-tier aggregate is fully derivable from
    // orders arithmetic in DuckDB.
    "q203_commitlog_column_defaults" -> ((s, dir) => {
      val root = stageDir("q203")
      val tblPath = s"$root/ns/o"
      t(s, dir, "orders").select(col("o_orderkey"),
          col("o_totalprice"))
        .createOrReplaceTempView("q203_orders")
      try withCatalog(s, "g203", root) {
        s.sql("""CREATE TABLE g203.ns.o (o_orderkey BIGINT,
          o_totalprice DOUBLE, tier STRING DEFAULT 'standard')""")
        s.sql("""INSERT INTO g203.ns.o (o_orderkey, o_totalprice)
          SELECT o_orderkey, o_totalprice FROM q203_orders
          WHERE o_orderkey % 2 = 0 AND o_orderkey % 7 <> 0""")
        CommitLog.append(s, tblPath, s.table("q203_orders")
          .filter(pmod(col("o_orderkey"), lit(2)) === 1 &&
            pmod(col("o_orderkey"), lit(7)) =!= 0))
        s.sql("""INSERT INTO g203.ns.o
          SELECT o_orderkey, o_totalprice, NULL FROM q203_orders
          WHERE o_orderkey % 7 = 0""")
        s.sql("SELECT * FROM g203.ns.o")
          .groupBy(coalesce(col("tier"), lit("(none)")).as("tier"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .orderBy(col("tier"))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q203_orders"): Unit
        rmTree(root)
      }
    }),

    // Native CHECK constraint DDL (round 13, SUPPORT_TABLE_CONSTRAINT
    // — Delta's ADD CONSTRAINT semantics under Spark's first-class
    // SQL): the constraint rides the CREATE's own v1 commit, a
    // violating INSERT refuses atomically, ALTER ADD validates all
    // existing rows before committing (a violated candidate refuses
    // and gates nothing), DROP CONSTRAINT lifts the gate so the
    // previously-refused rows land. The final content is pure orders
    // arithmetic: all rows except the negated-price half-open band
    // land exactly once.
    "q204_commitlog_constraint_ddl" -> ((s, dir) => {
      val root = stageDir("q204")
      t(s, dir, "orders").select(col("o_orderkey"),
          col("o_totalprice"))
        .createOrReplaceTempView("q204_orders")
      try withCatalog(s, "g204", root) {
        s.sql("""CREATE TABLE g204.ns.o (o_orderkey BIGINT,
          o_totalprice DOUBLE,
          CONSTRAINT price_pos CHECK (o_totalprice > 0))""")
        s.sql("""INSERT INTO g204.ns.o SELECT o_orderkey,
          o_totalprice FROM q204_orders WHERE o_orderkey % 2 = 0""")
        // a violating INSERT refuses atomically (negated prices)
        val refusedInsert =
          try { s.sql("""INSERT INTO g204.ns.o SELECT o_orderkey,
            -o_totalprice FROM q204_orders
            WHERE o_orderkey % 2 = 1"""): Unit; false }
          catch { case e: Exception => e.getMessage.contains("price_pos") }
        // ALTER ADD validating existing rows: this one FAILS (even
        // keys exist) and must gate nothing
        val refusedAdd =
          try { s.sql("""ALTER TABLE g204.ns.o ADD CONSTRAINT odd_only
            CHECK (o_orderkey % 2 = 1)"""): Unit; false }
          catch { case e: Exception =>
            e.getMessage.toLowerCase.contains("violat") }
        // this one holds on all existing rows and commits — then
        // blocks the odd half...
        s.sql("""ALTER TABLE g204.ns.o ADD CONSTRAINT even_only
          CHECK (o_orderkey % 2 = 0)""")
        val blockedByAdd =
          try { s.sql("""INSERT INTO g204.ns.o SELECT o_orderkey,
            o_totalprice FROM q204_orders
            WHERE o_orderkey % 2 = 1"""): Unit; false }
          catch { case e: Exception => e.getMessage.contains("even_only") }
        // ...until DROP lifts the gate and the odd half lands
        s.sql("ALTER TABLE g204.ns.o DROP CONSTRAINT even_only")
        s.sql("""INSERT INTO g204.ns.o SELECT o_orderkey,
          o_totalprice FROM q204_orders WHERE o_orderkey % 2 = 1""")
        s.sql("SELECT * FROM g204.ns.o").agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .withColumn("refused_insert", lit(refusedInsert))
          .withColumn("refused_add", lit(refusedAdd))
          .withColumn("blocked_by_add", lit(blockedByAdd))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q204_orders"): Unit
        rmTree(root)
      }
    }),

    // GOVERNED INGEST flagship (round 13): one table composing the
    // round's whole declarative-DDL tier — an ALWAYS-identity
    // surrogate key, a NOT NULL business key, a DEFAULT'd tier, a
    // GENERATED bucket and a CHECK constraint. Even keys ingest
    // programmatically OMITTING everything the engine can supply
    // (identity allocates, default fills, generated computes); odd
    // keys ingest through SQL with NULL ids (allocate) and an
    // explicit tier; a violating price refuses at the constraint, a
    // NULL business key refuses at the NOT NULL gate; a copy-on-write
    // UPDATE shifts some business keys and the generated bucket
    // RECOMPUTES over the post-image. Every surviving row is pure
    // orders arithmetic; surrogate-key uniqueness is pinned by
    // n_ids == n_rows per bucket through the hash gate.
    "q205_commitlog_governed_ingest" -> ((s, dir) => {
      val root = stageDir("q205")
      val tblPath = s"$root/ns/o"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      orders.createOrReplaceTempView("q205_orders")
      try withCatalog(s, "g205", root) {
        s.sql("""CREATE TABLE g205.ns.o (
          row_id BIGINT GENERATED ALWAYS AS IDENTITY,
          o_orderkey BIGINT NOT NULL,
          o_totalprice DOUBLE,
          tier STRING DEFAULT 'standard',
          bucket BIGINT GENERATED ALWAYS AS (o_orderkey % 4),
          CONSTRAINT price_pos CHECK (o_totalprice > 0))""")
        // programmatic ingest: engine supplies id/tier/bucket
        CommitLog.append(s, tblPath,
          orders.filter(pmod(col("o_orderkey"), lit(2)) === 0))
        // SQL ingest: NULL ids allocate, explicit tier, bucket given
        s.sql("""INSERT INTO g205.ns.o
          SELECT NULL, o_orderkey, o_totalprice, 'gold',
            o_orderkey % 4
          FROM q205_orders WHERE o_orderkey % 2 = 1""")
        val vNow = CommitLog.currentVersion(s, tblPath).get
        val refusedPrice =
          try { s.sql("""INSERT INTO g205.ns.o VALUES
            (NULL, 2, -5.0, 'x', 2)"""): Unit; false }
          catch { case _: Exception =>
            CommitLog.currentVersion(s, tblPath).get == vNow }
        val refusedNull =
          try { CommitLog.append(s, tblPath,
            s.range(1).select(lit(null).cast("bigint")
              .as("o_orderkey"), lit(1.0).as("o_totalprice"))): Unit
            false }
          catch { case _: Exception =>
            CommitLog.currentVersion(s, tblPath).get == vNow }
        // the generated bucket recomputes over the UPDATE post-image
        CommitLog.update(s, tblPath,
          pmod(col("o_orderkey"), lit(10)) === 3,
          Map("o_orderkey" -> (col("o_orderkey") + 1)))
        s.sql("SELECT * FROM g205.ns.o")
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("row_id")).as("n_ids"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"),
            sum(when(col("tier") === "gold", 1L).otherwise(0L))
              .as("n_gold"))
          .withColumn("refused_price", lit(refusedPrice))
          .withColumn("refused_null", lit(refusedNull))
          .orderBy(col("bucket"))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q205_orders"): Unit
        rmTree(root)
      }
    }),

    // CONVERT TO COMMITLOG (round 13, Delta's CONVERT TO DELTA): an
    // existing plain-parquet directory is adopted ZERO-COPY — the v1
    // manifest references it in place (one schema inference + one
    // manifest create, a rewrite never happens at any source size),
    // with the stats backfill making the converted table born
    // prunable. A copy-on-write DELETE then lands its rewrite under
    // the TABLE root while the source bytes stay byte-identical —
    // the adoption is reversible until the first OPTIMIZE. Witnesses:
    // the source still reads as plain parquet with ALL rows, the
    // converted table serves the post-DML subset, and the conversion
    // appears in the change feed as the initial insert.
    "q206_commitlog_convert_parquet" -> ((s, dir) => {
      val root = stageDir("q206")
      val src = s"$root/plain"; val tbl = s"$root/tbl"
      try {
        t(s, dir, "orders").select(col("o_orderkey"),
            col("o_totalprice"))
          .write.parquet(src)
        CommitLog.convertParquet(s, src, tbl,
          statsCols = Seq("o_orderkey"))
        CommitLog.delete(s, tbl,
          pmod(col("o_orderkey"), lit(3)) === 0)
        val srcRows = s.read.parquet(src).count()
        val feedInserts = CommitLog.changeFeed(s, tbl, 0L)
          .filter(col("_change_type") === "insert").count()
        CommitLog.read(s, tbl).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .withColumn("src_rows", lit(srcRows))
          .withColumn("feed_inserts", lit(feedInserts))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // BOUNDED change feed (round 13, Delta's endingVersion): four
    // append commits land one o_orderkey % 4 residue class each;
    // the feed pinned to (v1, v3] serves EXACTLY residues 1 and 2 —
    // reproducible forever, immune to the later v4 commit — and the
    // past-end/degenerate bounds refuse loudly (witnessed). The
    // oracle re-derives the bounded window from residue arithmetic.
    "q207_commitlog_bounded_feed" -> ((s, dir) => {
      val root = stageDir("q207")
      val tbl = s"$root/tbl"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      try {
        (0 until 4).foreach(i => CommitLog.append(s, tbl,
          orders.filter(pmod(col("o_orderkey"), lit(4)) === i)))
        def feed(opts: (String, String)*) = {
          val r = s.read.format("commitlog")
            .option("path", tbl).option("readChangeFeed", "true")
          opts.foldLeft(r) { case (x, (k, v)) => x.option(k, v) }
            .load()
        }
        val bounded = feed("startingVersion" -> "2",
          "endingVersion" -> "3")
        val refusedFuture =
          try { feed("endingVersion" -> "9").collect(): Unit; false }
          catch { case e: Exception =>
            e.getMessage.contains("exceeds the current version") }
        val refusedInverted =
          try { feed("startingVersion" -> "3",
            "endingVersion" -> "2").collect(): Unit; false }
          catch { case e: Exception =>
            e.getMessage.contains("must be at or after") }
        bounded.groupBy(col("_commit_version").as("commit_version"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .withColumn("refused_future", lit(refusedFuture))
          .withColumn("refused_inverted", lit(refusedInverted))
          .orderBy(col("commit_version"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // SELECTIVE OVERWRITE (round 14, Delta's replaceWhere): a
    // partitioned orders table takes a date-fenced-style incremental
    // reload of ONE slice (o_orderstatus='P' re-delivered minus its
    // odd keys) as a single atomic op=replace_where commit — the
    // reference's delete-slice-then-append pattern (SELECT.py:56,97)
    // without the two-commit missing-slice window. Witnessed: the
    // untouched partitions keep their exact segment paths (the
    // sidecar tier bounded the rewrite), an out-of-slice incoming
    // row refuses, the SAME reload re-run is idempotent, and the CDC
    // record classifies the commit as deletes + inserts. The oracle
    // re-derives the final state and the CDC counts from orders.
    "q208_commitlog_replace_where" -> ((s, dir) => {
      val root = stageDir("q208")
      val tbl = s"$root/tbl"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      try {
        graft.sources.CommitLogStats.appendPartitioned(s, tbl,
          orders, Seq("o_orderstatus"))
        val pre = CommitLog.snapshot(s, tbl).get.segments.toSet
        val reload = orders
          .filter(col("o_orderstatus") === "P" &&
            pmod(col("o_orderkey"), lit(2)) === 0)
        val (v, nDel, nIns) = CommitLog.overwriteWhere(s, tbl,
          reload, col("o_orderstatus") === "P")
        val post = CommitLog.snapshot(s, tbl).get
        val untouchedKept = post.op == "replace_where" &&
          (pre & post.segments.toSet).size == pre.size - 1
        val refusedOutside =
          try { CommitLog.overwriteWhere(s, tbl,
            orders.filter(col("o_orderstatus") === "F").limit(1),
            col("o_orderstatus") === "P"): Unit; false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("do not satisfy") }
        // idempotence: the crash-retried reload lands the same state
        val (v2, nDel2, nIns2) = CommitLog.overwriteWhere(s, tbl,
          reload, col("o_orderstatus") === "P")
        val idempotent = v2 == v + 1L && nDel2 == nIns &&
          nIns2 == nIns
        // CDC at the FIRST reload version: deletes = the old slice,
        // inserts = the re-delivered slice
        val byType = CommitLog.changeFeed(s, tbl, v - 1L,
            toVersion = Some(v))
          .groupBy(col("_change_type")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        CommitLog.read(s, tbl)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .withColumn("untouched_kept", lit(untouchedKept))
          .withColumn("refused_outside", lit(refusedOutside))
          .withColumn("idempotent_rerun", lit(idempotent))
          .withColumn("cdc_deletes",
            lit(byType.getOrElse("delete", 0L)))
          .withColumn("cdc_inserts",
            lit(byType.getOrElse("insert", 0L)))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // FSCK REPAIR (round 14, Delta's FSCK REPAIR TABLE): four
    // residue-class appends land one segment each; the residue-3
    // segment's BYTES are destroyed (storage incident), so every
    // read fails — then CALL system.fsck_repair drops the dead
    // reference in ONE op=fsck_repair commit and the table serves
    // exactly the surviving residues. Witnessed: dry_run reports the
    // same action without committing, the repair commit's op, and a
    // second repair finding nothing. The oracle re-derives the
    // survivors from residue arithmetic.
    "q209_commitlog_fsck_repair" -> ((s, dir) => {
      val root = stageDir("q209")
      val tbl = s"$root/tbl"
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      try {
        (0 until 4).foreach(i => CommitLog.append(s, tbl,
          orders.filter(pmod(col("o_orderkey"), lit(4)) === i)))
        val cur = CommitLog.snapshot(s, tbl).get
        val lost = cur.segments.last // the residue-3 append
        rmTree(lost)
        val dry = graft.sources.CommitLogFsck.repair(s, tbl,
          dryRun = true).collect()
        val dryReported = dry.length == 1 &&
          dry(0).getString(0) == "drop_segment_ref" &&
          CommitLog.currentVersion(s, tbl).contains(4L)
        val acts = graft.sources.CommitLogFsck.repair(s, tbl).collect()
        val post = CommitLog.snapshot(s, tbl).get
        val repaired = acts.length == 1 && post.version == 5L &&
          post.op == "fsck_repair" &&
          post.segments.toSet == cur.segments.toSet - lost
        val idempotent =
          graft.sources.CommitLogFsck.repair(s, tbl).collect().isEmpty
        CommitLog.read(s, tbl)
          .groupBy(pmod(col("o_orderkey"), lit(4)).as("residue"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)"))
              .cast("double").as("sum_price"))
          .withColumn("dry_reported", lit(dryReported))
          .withColumn("repaired", lit(repaired))
          .withColumn("idempotent", lit(idempotent))
          .orderBy(col("residue"))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // N-D Z-ORDER (round 14): q174's morton OPTIMIZE generalized to
    // THREE interleaved dimensions (l_partkey, l_suppkey,
    // l_linenumber at 20 bits each) — a 3-D box probe prunes
    // segments that bound all three at once. The oracle replays the
    // exact interleave + bucketing arithmetic in SQL and re-derives
    // the kept-count, as q174 does for 2-D.
    "q210_commitlog_zorder_nd" -> ((s, dir) => {
      val root = stageDir("q210")
      val tbl = s"$root/tbl"
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
      try {
        (0 until 4).foreach { i =>
          graft.sources.CommitLogStats.appendWithStats(s, tbl,
            li.filter(pmod(col("l_orderkey") + col("l_linenumber"),
              lit(4)) === i).repartition(3),
            Seq("l_partkey", "l_suppkey", "l_linenumber")): Unit
        }
        val bounds = li.agg(max(col("l_partkey")),
          max(col("l_suppkey"))).collect()(0)
        val (pHi, sHi) = (bounds.getLong(0) / 8L, bounds.getLong(1) / 8L)
        val probes = Seq[(String, Any, Any)](
          ("l_partkey", 1L, pHi), ("l_suppkey", 1L, sHi),
          ("l_linenumber", 1L, 2L))
        val before = graft.sources.CommitLogStats
          .planSkippingAll(s, tbl, probes)
        graft.sources.CommitLogStats.compactZOrderN(s, tbl,
          Seq("l_partkey", "l_suppkey", "l_linenumber"),
          tieBreak = Seq("l_orderkey", "l_linenumber"),
          nSegments = 16,
          statsCols = Seq("l_partkey", "l_suppkey", "l_linenumber"))
        val after = graft.sources.CommitLogStats
          .planSkippingAll(s, tbl, probes)
        graft.sources.CommitLogStats.readSkippingAll(s, tbl, probes)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("decimal(30,6)")).cast("double")
              .as("sum_qty"))
          .withColumn("kept_before", lit(before.kept.size))
          .withColumn("kept_after", lit(after.kept.size))
          .localCheckpoint(true)
      } finally rmTree(root)
    }),

    // STORAGE-PARTITIONED JOIN (round 14, Iceberg's SPJ): lineitem
    // and orders both optimize_bucket on the order key (8 buckets);
    // the manifests record the layout, the scans report
    // KeyGroupedPartitioning, and the fact⋈fact join plans with
    // ZERO shuffle exchanges (plan-pinned in the spj_shuffles
    // witness, with broadcast forced off so the zero is SPJ's, not a
    // broadcast's). The oracle re-derives the join aggregate — the
    // hash gate proves the co-location serves exactly the right
    // rows.
    "q211_commitlog_spj" -> ((s, dir) => {
      val root = stageDir("q211")
      try withCatalog(s, "gq211", root) {
        CommitLog.append(s, s"$root/ns/li",
          t(s, dir, "lineitem").select(col("l_orderkey"),
            col("l_extendedprice")))
        CommitLog.append(s, s"$root/ns/ord",
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderstatus")))
        graft.sources.CommitLogStats.compactBucketed(s,
          s"$root/ns/li", Seq("l_orderkey"), 8, Seq("l_orderkey"))
        graft.sources.CommitLogStats.compactBucketed(s,
          s"$root/ns/ord", Seq("o_orderkey"), 8, Seq("o_orderkey"))
        val joinSql = "SELECT o.o_orderstatus, l.l_extendedprice " +
          "FROM gq211.ns.li l JOIN gq211.ns.ord o " +
          "ON l.l_orderkey = o.o_orderkey"
        // broadcast off for the result too: the hash gate checks the
        // rows the co-located join serves, not a broadcast's
        PlanProbe.withConf(s,
            "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val spjShuffles = PlanProbe.exchanges(s.sql(joinSql))
          val controlShuffles = PlanProbe.withConf(s,
              "spark.sql.sources.v2.bucketing.enabled" -> "false") {
            PlanProbe.exchanges(s.sql(joinSql))
          }
          s.sql(joinSql)
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_extendedprice").cast("decimal(30,6)"))
                .cast("double").as("sum_price"))
            .withColumn("spj_shuffles", lit(spjShuffles))
            .withColumn("control_shuffled", lit(controlShuffles >= 2))
            .orderBy(col("o_orderstatus"))
            .localCheckpoint(true)
        }
      } finally rmTree(root)
    }),

    // SPJ SURVIVES DML (round 14): after the q211 layout, the orders
    // side takes a DELETE (its max key), an UPDATE (min key's price
    // doubled) and a MERGE insert — each re-lands bucket-split, the
    // commit carries the updated spec, and the fact⋈fact join STILL
    // plans with zero shuffle exchanges. Witnessed: the exchange
    // count, the spec surviving all three DML verbs, and the
    // delete's write amplification staying bounded to its bucket.
    // The oracle re-derives the post-DML join aggregate.
    "q212_commitlog_spj_dml" -> ((s, dir) => {
      val root = stageDir("q212")
      try withCatalog(s, "gq212", root) {
        val oTbl = s"$root/ns/ord"; val lTbl = s"$root/ns/li"
        // a quarter slice of both sides: every witness (layout
        // survival, exchange count, amplification) is data-size
        // independent, and q211 already prices the full-table SPJ —
        // no reason the bench should pay 2 OPTIMIZEs over the full
        // fact three times per round here too
        val oSlice = t(s, dir, "orders")
          .filter(pmod(col("o_orderkey"), lit(4)) === 1)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
        val lSlice = t(s, dir, "lineitem")
          .filter(pmod(col("l_orderkey"), lit(4)) === 1)
          .select(col("l_orderkey"), col("l_extendedprice"))
        CommitLog.append(s, lTbl, lSlice)
        CommitLog.append(s, oTbl, oSlice)
        graft.sources.CommitLogStats.compactBucketed(s, lTbl,
          Seq("l_orderkey"), 8, Seq("l_orderkey"))
        graft.sources.CommitLogStats.compactBucketed(s, oTbl,
          Seq("o_orderkey"), 8, Seq("o_orderkey"))
        val bounds = oSlice
          .agg(max(col("o_orderkey")), min(col("o_orderkey")))
          .collect()(0)
        val (dk, uk) = (bounds.getLong(0), bounds.getLong(1))
        val pre = CommitLog.snapshot(s, oTbl).get.segments.toSet
        CommitLog.delete(s, oTbl, col("o_orderkey") === dk)
        val postDel = CommitLog.snapshot(s, oTbl).get
        val bounded = postDel.bucket.isDefined &&
          (pre & postDel.segments.toSet).size == 7
        // one MERGE covers both remaining preservation classes in
        // one commit: a matched UPDATE (min key's price doubled)
        // and an unmatched INSERT (a fresh key) — the per-verb
        // UPDATE law lives in SpjSpec; the bench should not pay a
        // fourth commit for it
        val mergeSrc = {
          import s.implicits._
          Seq((dk + 1000000L, "Z", 1.0), (uk, "", 0.0))
            .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
        }
        CommitLog.mergeInto(s, oTbl, mergeSrc, Seq("o_orderkey"),
          whenMatchedUpdate = Map(
            "o_totalprice" -> (col("o_totalprice") * 2)))
        val specKept = CommitLog.snapshot(s, oTbl).get.bucket.isDefined
        val joinSql = "SELECT o.o_orderstatus, o.o_totalprice, " +
          "l.l_extendedprice FROM gq212.ns.li l JOIN gq212.ns.ord o " +
          "ON l.l_orderkey = o.o_orderkey"
        PlanProbe.withConf(s,
            "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val spjShuffles = PlanProbe.exchanges(s.sql(joinSql))
          s.sql(joinSql)
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_extendedprice").cast("decimal(30,6)"))
                .cast("double").as("sum_l"),
              sum(col("o_totalprice").cast("decimal(30,6)"))
                .cast("double").as("sum_o"))
            .withColumn("spj_shuffles", lit(spjShuffles))
            .withColumn("spec_kept", lit(specKept))
            .withColumn("amplification_bounded", lit(bounded))
            .orderBy(col("o_orderstatus"))
            .localCheckpoint(true)
        }
      } finally rmTree(root)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q191_commitlog_checkpoint_lifecycle" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_orderkey % 7 <> 0) AS n_rows,
        |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
        |      AS DOUBLE) FROM orders
        |    WHERE o_orderkey % 7 <> 0) AS sum_price,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_orderkey % 12 < 10) AS v10_rows,
        |  TRUE AS ckpt_on_interval,
        |  TRUE AS delta_commits,
        |  TRUE AS version_arith""".stripMargin,

    "q193_commitlog_column_mapping" ->
      """WITH unioned AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal AS balance
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_nationkey,
        |    CAST(c_acctbal AS DOUBLE)
        |  FROM customer WHERE c_nationkey < 3)
        |SELECT c_nationkey,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(balance AS DECIMAL(30,6))) AS DOUBLE)
        |    AS total_balance,
        |  CAST(4 AS BIGINT) AS v1_cols
        |FROM unioned
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q194_commitlog_vacuum_lifecycle" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
        |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
        |      AS DOUBLE) FROM orders) AS sum_price,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_orderkey % 8 < 6) AS floor_rows,
        |  TRUE AS floor_pinned,
        |  TRUE AS dropped_gone""".stripMargin,

    "q192_commitlog_ctas" ->
      """SELECT c_nationkey,
        |  COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
        |    AS total_bal,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |    WHERE c_acctbal > 0) AS v1_rows
        |FROM customer WHERE c_acctbal > 0
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q195_commitlog_versioned_constraints" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  TRUE AS refused_pre,
        |  TRUE AS constraint_restored,
        |  TRUE AS refused_post_restore,
        |  CAST(1 AS INT) AS n_constraints_final
        |FROM orders WHERE o_totalprice > 50000.0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q196_commitlog_type_widening" ->
      """WITH unioned AS (
        |  SELECT CAST(l_orderkey % 100000 AS INTEGER) AS key_small,
        |    CAST(l_quantity AS REAL) AS qty, l_returnflag AS flag
        |  FROM lineitem WHERE l_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT CAST(l_orderkey % 100000 AS BIGINT) + 10000000000
        |      AS key_small,
        |    CAST(CAST(l_quantity AS REAL) AS DOUBLE) AS qty,
        |    l_returnflag AS flag
        |  FROM lineitem WHERE l_orderkey % 2 = 1)
        |SELECT flag,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(key_small AS BIGINT)) AS BIGINT) AS sum_key,
        |  CAST(SUM(CAST(qty AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
        |  TRUE AS segs_untouched,
        |  TRUE AS pre_widen_narrow,
        |  TRUE AS narrow_refused
        |FROM unioned
        |GROUP BY flag
        |ORDER BY flag""".stripMargin,

    "q197_commitlog_fsck" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  TRUE AS clean_ok,
        |  CAST(2 AS BIGINT) AS debris_infos,
        |  CAST(0 AS BIGINT) AS debris_errors,
        |  CAST(1 AS BIGINT) AS broken_errors
        |FROM orders""".stripMargin,

    "q198_commitlog_partition_evolution" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  TRUE AS metadata_only,
        |  TRUE AS spec_evolved,
        |  CAST(4 AS BIGINT) AS pruned_cnt
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q199_commitlog_maintenance" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(0 AS BIGINT) AS healthy_recs,
        |  'checkpoint,compact,vacuum' AS degraded_actions
        |FROM orders""".stripMargin,

    "q200_commitlog_generated_columns" ->
      """SELECT CAST(o_orderkey % 4 AS BIGINT) AS bucket,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  TRUE AS refused_mismatch,
        |  CAST(3 AS BIGINT) AS pruned_cnt
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q201_commitlog_clone" ->
      """SELECT * FROM (
        |  SELECT 'deep' AS kind, COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |      AS sum_price,
        |    TRUE AS shallow_zero_copy, TRUE AS src_restored_version
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |  UNION ALL
        |  SELECT 'shallow', COUNT(*),
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE),
        |    TRUE, TRUE
        |  FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'source', COUNT(*),
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE),
        |    TRUE, TRUE
        |  FROM orders WHERE o_orderkey % 5 <> 0
        |) ORDER BY kind""".stripMargin,

    "q202_commitlog_identity" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(*) AS n_ids,
        |  CAST(1 AS BIGINT) AS min_id,
        |  COUNT(*) AS max_id,
        |  COUNT(DISTINCT o_orderkey) AS n_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  TRUE AS refused_explicit
        |FROM orders""".stripMargin,

    "q203_commitlog_column_defaults" ->
      """SELECT CASE WHEN o_orderkey % 7 = 0 THEN '(none)'
        |    ELSE 'standard' END AS tier,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q204_commitlog_constraint_ddl" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  TRUE AS refused_insert,
        |  TRUE AS refused_add,
        |  TRUE AS blocked_by_add
        |FROM orders""".stripMargin,

    "q205_commitlog_governed_ingest" ->
      """SELECT CAST(CASE WHEN o_orderkey % 10 = 3
        |    THEN (o_orderkey + 1) % 4
        |    ELSE o_orderkey % 4 END AS BIGINT) AS bucket,
        |  COUNT(*) AS n_rows,
        |  COUNT(*) AS n_ids,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_gold,
        |  TRUE AS refused_price,
        |  TRUE AS refused_null
        |FROM orders
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q206_commitlog_convert_parquet" ->
      """SELECT
        |  CAST(SUM(CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN o_orderkey % 3 <> 0
        |    THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE)
        |    AS sum_price,
        |  COUNT(*) AS src_rows,
        |  COUNT(*) AS feed_inserts
        |FROM orders""".stripMargin,

    "q207_commitlog_bounded_feed" ->
      """SELECT CAST(o_orderkey % 4 + 1 AS BIGINT) AS commit_version,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  TRUE AS refused_future,
        |  TRUE AS refused_inverted
        |FROM orders
        |WHERE o_orderkey % 4 IN (1, 2)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q208_commitlog_replace_where" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  TRUE AS untouched_kept,
        |  TRUE AS refused_outside,
        |  TRUE AS idempotent_rerun,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_orderstatus = 'P') AS cdc_deletes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |    WHERE o_orderstatus = 'P' AND o_orderkey % 2 = 0)
        |    AS cdc_inserts
        |FROM orders
        |WHERE o_orderstatus <> 'P' OR o_orderkey % 2 = 0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q209_commitlog_fsck_repair" ->
      """SELECT CAST(o_orderkey % 4 AS BIGINT) AS residue,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  TRUE AS dry_reported,
        |  TRUE AS repaired,
        |  TRUE AS idempotent
        |FROM orders
        |WHERE o_orderkey % 4 <> 3
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q210_commitlog_zorder_nd" -> {
      val z = graft.queries.Pipeline10.zOrderNSql(
        Seq("l_partkey", "l_suppkey", "l_linenumber"), 20)
      s"""WITH b AS (SELECT MAX(l_partkey) // 8 AS p_hi,
         |    MAX(l_suppkey) // 8 AS s_hi FROM lineitem),
         |r AS (
         |  SELECT l_partkey, l_suppkey, l_linenumber,
         |    ROW_NUMBER() OVER (ORDER BY $z, l_orderkey, l_linenumber)
         |      AS rn,
         |    COUNT(*) OVER () AS n
         |  FROM lineitem),
         |k AS (
         |  SELECT CAST(((rn - 1) * 16) // n AS INT) AS bucket,
         |    MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
         |    MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx,
         |    MIN(l_linenumber) AS lmn, MAX(l_linenumber) AS lmx
         |  FROM r GROUP BY bucket),
         |ka AS (SELECT CAST(COUNT(*) AS INT) AS kept_after FROM k, b
         |  WHERE pmx >= 1 AND pmn <= p_hi AND smx >= 1 AND smn <= s_hi
         |    AND lmx >= 1 AND lmn <= 2)
         |SELECT COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_qty,
         |  CAST(4 AS INT) AS kept_before,
         |  (SELECT kept_after FROM ka) AS kept_after
         |FROM lineitem, b
         |WHERE l_partkey >= 1 AND l_partkey <= p_hi
         |  AND l_suppkey >= 1 AND l_suppkey <= s_hi
         |  AND l_linenumber >= 1 AND l_linenumber <= 2""".stripMargin
    },

    "q211_commitlog_spj" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(0 AS INT) AS spj_shuffles,
        |  TRUE AS control_shuffled
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q212_commitlog_spj_dml" ->
      """WITH os AS (SELECT * FROM orders WHERE o_orderkey % 4 = 1),
        |ls AS (SELECT * FROM lineitem WHERE l_orderkey % 4 = 1),
        |ks AS (SELECT MAX(o_orderkey) AS dk,
        |    MIN(o_orderkey) AS uk FROM os),
        |o2 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey = (SELECT uk FROM ks)
        |      THEN o_totalprice * 2 ELSE o_totalprice END
        |      AS o_totalprice
        |  FROM os
        |  WHERE o_orderkey <> (SELECT dk FROM ks))
        |SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_l,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_o,
        |  CAST(0 AS INT) AS spj_shuffles,
        |  TRUE AS spec_kept,
        |  TRUE AS amplification_bounded
        |FROM o2 JOIN ls ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin
  )
}
