package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Catalog, CommitLog, CommitLogStats}
import graft.plans.PlanProbe
import StagedBases.{rmTree, stageDir, withCatalog}

/** Round-9 additions, part 5 — segment-level data skipping inside the
  * commit protocol (the Iceberg manifest-stats layering over the
  * repo's versioned manifests; see [[CommitLogStats]]):
  *
  *  - q165 STATS SKIPPING on naturally-clustered appends: a table
  *    built by date-sliced appends carries tight per-segment
  *    [min,max] sidecars, so a two-year probe range plans away every
  *    other year's segment before any file I/O. The query emits the
  *    kept/pruned segment counts as WITNESS columns — the oracle
  *    hardcodes what the slicing implies, so the hash gate fails if
  *    skipping silently stops pruning (or over-prunes, which would
  *    also break the aggregate).
  *  - q166 OPTIMIZE-for-skippability: the same table shape built the
  *    way real ingest builds it (scattered — every segment spans the
  *    full date range, stats prune NOTHING), then
  *    [[CommitLogStats.compactClustered]] rewrites it as
  *    range-disjoint segments in one manifest commit. The witness
  *    columns carry segments kept before vs after; the oracle
  *    recomputes the after-count from first principles (the same
  *    global-row-number bucket formula over the same unique
  *    ordering), so the pruning effect itself is hash-verified, not
  *    just asserted in a spec.
  *
  *  - q167 ADD-COLUMN SCHEMA EVOLUTION ([[CommitLog.appendEvolve]]):
  *    the committed manifest records the merged schema (base64
  *    StructType), so every reader — snapshot, time travel, DML
  *    rewrites, stats skipping, the DSv2 connector — serves a stable
  *    pinned column set, with NULLs for segments that predate a
  *    column. Type changes refuse loudly; v1 time travel keeps v1's
  *    own columns (witness columns n_cols_v1/n_cols_v2).
  *
  * Plus the rest of the lakehouse op set over the same protocol:
  *  - q169 three-clause MERGE INTO (copy-on-write, CDC-recorded);
  *  - q170 DESCRIBE HISTORY (five-commit lifecycle, hardcoded oracle);
  *  - q171 CHECK constraints (atomic refusal witnessed);
  *  - q172 shallow CLONE + RESTORE (zero-copy snapshot lifecycle);
  *  - q173 metadata-only COUNT/MIN/MAX (sidecars answer, zero files);
  *  - q174 z-order OPTIMIZE + 2-D box skipping (morton sidecars);
  *  - q175 key-bucketed OPTIMIZE (DML write amplification bounded).
  *
  * 100 TB reading: q165 is the steady-state ingest pattern (time-
  * ordered appends are born skippable), q166 is the remediation for
  * tables that weren't — one OPTIMIZE commit turns a full-scan probe
  * into a touched-slices probe — and q167 is the decade-lifetime
  * reality that columns arrive after the first petabyte has landed;
  * the manifest protocol keeps everything concurrent-writer-safe and
  * time-travelable.
  */
object Pipeline18 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  /** See [[StagedBases]] — immutable staged fixtures build once per
    * JVM; every mutating run works on a zero-copy clone. */
  private def cachedBase[T](tag: String, dir: String)(
      build: String => T): T = StagedBases.cachedBase(tag, dir)(build)

  /** Orders (3 cols) as two parity segments with o_orderkey stats —
    * q183's and q185's shared staging shape. */
  private def ordersTwoSegmentBase(s: SparkSession,
      dir: String): String =
    cachedBase[String]("ord2seg", dir) { tbl =>
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      (0 until 2).foreach { i =>
        CommitLogStats.appendWithStats(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(2)) === i),
          Seq("o_orderkey"))
      }
      tbl
    }

  /** Data-derived probe window: the driver regenerates the fixture
    * between rounds (its shipdate span has already moved once), so
    * both engines derive the year range from the data — slices are
    * one append per calendar year, the probe is the 2nd and 3rd
    * years. LocalDateTime bounds encode identically to the fixture's
    * NTZ event time regardless of the JVM default zone
    * (java.sql.Timestamp.valueOf would shift by it). */
  private def yearSpan(li: DataFrame): (Int, Int) = {
    val r = li.agg(min(year(col("l_shipdate"))).as("y0"),
      max(year(col("l_shipdate"))).as("y1")).collect()(0)
    (r.getInt(0), r.getInt(1))
  }

  private def probeBounds(y0: Int)
      : (java.time.LocalDateTime, java.time.LocalDateTime) =
    (java.time.LocalDateTime.of(y0 + 1, 1, 1, 0, 0, 0),
      java.time.LocalDateTime.of(y0 + 2, 12, 31, 23, 59, 59))

  private def aggregate(df: DataFrame): DataFrame =
    df.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n_rows"),
      sum(col("l_quantity").cast("decimal(30,6)")).cast("double")
        .as("sum_qty"))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesBase ++ queriesDml ++ queriesPartitioned

  private def queriesBase
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    // Year-sliced appends across the fixture's whole shipdate span,
    // stats on l_shipdate; the 2-year probe keeps exactly the two
    // touched year-segments.
    "q165_commitlog_stats_skipping" -> ((s, dir) => {
      val stage = stageDir("q165_skip")
      try {
        val tbl = s"$stage/tbl"
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"), col("l_returnflag"),
          col("l_shipdate"))
        val (y0, _) = yearSpan(li)
        // one segment per calendar year in ONE commit (constant job
        // count) — same layout the per-year appendWithStats loop
        // built, at 2 jobs instead of 3 × nYears
        CommitLogStats.appendSliced(s, tbl,
          li.withColumn("__slice", year(col("l_shipdate"))),
          "__slice", Seq("l_shipdate"))
        val (lo, hi) = probeBounds(y0)
        val plan = CommitLogStats.planSkipping(s, tbl, "l_shipdate", lo, hi)
        val out = aggregate(
            CommitLogStats.readSkipping(s, tbl, "l_shipdate", lo, hi))
          .withColumn("n_segments_kept", lit(plan.kept.size))
          .withColumn("n_segments_pruned", lit(plan.pruned.size))
          .orderBy(col("l_returnflag"))
          .localCheckpoint(true)
        out
      } finally rmTree(stage)
    }),

    // Ingest-scattered table: 4 shuffled appends, every segment spans
    // every year, stats prune nothing (kept_before = 4). One
    // compactClustered commit rewrites it as 8 range-disjoint
    // segments on the UNIQUE order (l_shipdate, l_orderkey,
    // l_linenumber); the probe then keeps only the slices whose
    // [min,max] window intersects 1994-1995 — a count the oracle
    // re-derives from the bucket formula ((rn-1)*8)/n over the same
    // ordering.
    "q166_commitlog_optimize_cluster" -> ((s, dir) => {
      val stage = stageDir("q166_opt")
      try {
        val tbl = s"$stage/tbl"
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"), col("l_returnflag"),
          col("l_shipdate"))
        // immutable scattered base (the remediation OPTIMIZE under
        // measurement rewrites the zero-copy clone)
        val base = cachedBase[String]("li_scatter1d", dir) { b =>
          (0 until 4).foreach { i =>
            CommitLogStats.appendWithStats(s, b,
              li.filter(pmod(col("l_orderkey") + col("l_linenumber"),
                lit(4)) === i).repartition(3),
              Seq("l_shipdate"))
          }
          b
        }
        CommitLog.cloneTable(s, base, tbl)
        val (y0, _) = yearSpan(li)
        val (lo, hi) = probeBounds(y0)
        val before = CommitLogStats.planSkipping(s, tbl, "l_shipdate", lo, hi)
        CommitLogStats.compactClustered(s, tbl,
          Seq("l_shipdate", "l_orderkey", "l_linenumber"),
          nSegments = 8, statsCols = Seq("l_shipdate"))
        val after = CommitLogStats.planSkipping(s, tbl, "l_shipdate", lo, hi)
        val out = aggregate(
            CommitLogStats.readSkipping(s, tbl, "l_shipdate", lo, hi))
          .withColumn("kept_before", lit(before.kept.size))
          .withColumn("pruned_before", lit(before.pruned.size))
          .withColumn("kept_after", lit(after.kept.size))
          .orderBy(col("l_returnflag"))
          .localCheckpoint(true)
        out
      } finally rmTree(stage)
    }),

    // ADD-COLUMN schema evolution through the manifest: v1 appends a
    // 3-column orders slice, v2 appendEvolves the complementary slice
    // carrying a derived priority_class column. The CURRENT read
    // serves NULL priority_class for v1's segment (grouping them under
    // the NULL class); the v1 time travel still has exactly its own
    // 3 columns — both pinned as witness columns through the oracle.
    "q167_commitlog_schema_evolution" -> ((s, dir) => {
      val stage = stageDir("q167_evolve")
      try {
        val tbl = s"$stage/tbl"
        val o = t(s, dir, "orders")
        val base = o.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
        CommitLog.appendEvolve(s, tbl,
          base.filter(pmod(col("o_orderkey"), lit(2)) === 0))
        CommitLog.appendEvolve(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"),
              substring(col("o_orderpriority"), 1, 1)
                .as("priority_class")))
        val nColsV1 = CommitLog.read(s, tbl, Some(1L)).columns.length
        val nColsV2 = CommitLog.read(s, tbl).columns.length
        val out = CommitLog.read(s, tbl)
          .groupBy(col("priority_class")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
              .as("sum_price"))
          .withColumn("n_cols_v1", lit(nColsV1))
          .withColumn("n_cols_v2", lit(nColsV2))
          .orderBy(col("priority_class"))
          .localCheckpoint(true)
        out
      } finally rmTree(stage)
    }),

    // Full three-clause MERGE INTO: target = keys ≡ 0 (mod 3), source
    // = keys ≡ 0 (mod 2); matched 'F' rows delete, other matched rows
    // take the source's new_price, unmatched source rows insert.
    // The update/delete/insert counts ride as witness columns; the
    // oracle recomputes the final state AND the counts from raw
    // orders with the same clause-order semantics.
    "q169_commitlog_merge_into" -> ((s, dir) => {
      val stage = stageDir("q169_merge")
      try {
        val tbl = s"$stage/tbl"
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        CommitLog.append(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(3)) === 0))
        val source = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .withColumn("new_price", col("o_totalprice") + 1000.0)
        val (_, nUpd, nDel, nIns) = CommitLog.mergeInto(s, tbl, source,
          Seq("o_orderkey"),
          whenMatchedUpdate =
            Map("o_totalprice" -> CommitLog.src("new_price")),
          whenMatchedDelete = Some(col("o_orderstatus") === "F"))
        val out = CommitLog.read(s, tbl)
          .groupBy(col("o_orderstatus")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
              .as("sum_price"))
          .withColumn("n_updated", lit(nUpd))
          .withColumn("n_deleted", lit(nDel))
          .withColumn("n_inserted", lit(nIns))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
        out
      } finally rmTree(stage)
    }),

    // DESCRIBE HISTORY over a deterministic five-commit lifecycle:
    // append → evolving append → copy-on-write delete → compact →
    // txn-stamped streaming append. Every surfaced column (op, base
    // version, segment count, change record, schema width, txn stamp)
    // is pinned by the hardcoded oracle.
    "q170_commitlog_history" -> ((s, dir) => {
      val stage = stageDir("q170_hist")
      try {
        val tbl = s"$stage/tbl"
        val r = t(s, dir, "region").select(col("r_regionkey"),
          col("r_name"))
        CommitLog.append(s, tbl, r.filter(col("r_regionkey") < 3))
        CommitLog.appendEvolve(s, tbl,
          r.filter(col("r_regionkey") >= 3)
            .withColumn("name_len", length(col("r_name"))))
        CommitLog.delete(s, tbl, col("r_regionkey") === 0)
        CommitLog.compact(s, tbl, targetRowsPerFile = 100L)
        CommitLog.appendTxn(s, tbl,
          r.filter(col("r_regionkey") === 0), appId = "h", batchId = 1L)
        // commit_ts is wall-clock — structural fields only for the
        // deterministic oracle; the TIMESTAMP AS OF behavior it feeds
        // is law-pinned in CommitLogSpec
        CommitLog.history(s, tbl).drop("commit_ts")
          .orderBy(col("version"))
          .localCheckpoint(true)
      } finally rmTree(stage)
    }),

    // CHECK constraints at the commit gate: a clean append lands, a
    // violating one refuses ATOMICALLY (no version, no partial rows).
    // Witnesses: the refusal observed, the version count unchanged by
    // it, and the violating row count parsed from the loud error.
    "q171_commitlog_constraints" -> ((s, dir) => {
      val stage = stageDir("q171_check")
      try {
        val tbl = s"$stage/tbl"
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        val checks = Map(
          "price_positive" -> (col("o_totalprice") > 0.0),
          "status_known" -> col("o_orderstatus").isin("F", "O", "P"))
        CommitLog.appendChecked(s, tbl,
          o.filter(col("o_totalprice") > 50000.0), checks)
        val nBad = o.filter(col("o_totalprice") <= 50000.0).count()
        val refused =
          try {
            CommitLog.appendChecked(s, tbl,
              o.filter(col("o_totalprice") <= 50000.0)
                .withColumn("o_totalprice", -col("o_totalprice")),
              checks)
            None
          } catch { case e: IllegalStateException => Some(e.getMessage) }
        val out = CommitLog.read(s, tbl)
          .groupBy(col("o_orderstatus")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
              .as("sum_price"))
          .withColumn("refused",
            lit(refused.exists(_.contains("price_positive"))))
          .withColumn("violations_counted",
            lit(refused.exists(_.contains(s"$nBad row"))))
          .withColumn("n_versions",
            lit(CommitLog.versions(s, tbl).size))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
        out
      } finally rmTree(stage)
    }),

    // Zero-copy shallow clone + restore: the clone pins the source's
    // v2 content without copying a byte; the source diverges with a
    // third append and then RESTOREs back to v2 as a NEW commit
    // (history preserved). Source-after-restore and clone must agree
    // exactly — both aggregated side by side under one oracle.
    "q172_commitlog_clone_restore" -> ((s, dir) => {
      val stage = stageDir("q172_clone")
      try {
        val (src, cln) = (s"$stage/src", s"$stage/cln")
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_quantity"), col("l_returnflag"))
        CommitLog.append(s, src,
          li.filter(pmod(col("l_orderkey"), lit(3)) === 0))
        CommitLog.append(s, src,
          li.filter(pmod(col("l_orderkey"), lit(3)) === 1))
        CommitLog.cloneTable(s, src, cln)
        CommitLog.append(s, src,
          li.filter(pmod(col("l_orderkey"), lit(3)) === 2))
        CommitLog.restore(s, src, toVersion = 2L)
        def agg(df: DataFrame, n: String, q: String): DataFrame =
          df.groupBy(col("l_returnflag")).agg(
            count(lit(1)).as(n),
            sum(col("l_quantity").cast("decimal(30,6)")).cast("double")
              .as(q))
        val out = agg(CommitLog.read(s, src), "n_src", "qty_src")
          .join(agg(CommitLog.read(s, cln), "n_clone", "qty_clone"),
            "l_returnflag")
          .withColumn("src_versions",
            lit(CommitLog.versions(s, src).size))
          .withColumn("clone_versions",
            lit(CommitLog.versions(s, cln).size))
          .orderBy(col("l_returnflag"))
          .localCheckpoint(true)
        out
      } finally rmTree(stage)
    }),

    // Metadata-only COUNT/MIN/MAX: the whole answer comes from the
    // stats sidecars — zero data files open (the 100 TB
    // count-in-milliseconds path). The scan-computed twin rides along
    // as a witness so the hash gate proves metadata ≡ data.
    "q173_commitlog_metadata_agg" -> ((s, dir) => {
      val stage = stageDir("q173_meta")
      try {
        val tbl = s"$stage/tbl"
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"), col("l_returnflag"),
          col("l_shipdate"))
        CommitLogStats.appendSliced(s, tbl,
          li.withColumn("__slice", year(col("l_shipdate"))),
          "__slice", Seq("l_shipdate"))
        val meta = CommitLogStats.metadataAgg(s, tbl, "l_shipdate")
          .getOrElse(throw new IllegalStateException(
            "q173: every segment carries stats — metadata answer due"))
        val (rows, mnO, mxO) = meta
        def ldt(v: Any): java.time.LocalDateTime = {
          val us = v.asInstanceOf[Long]
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L),
            (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
        }
        val scan = CommitLog.read(s, tbl).agg(
          count(lit(1)), min(col("l_shipdate")), max(col("l_shipdate")))
          .collect()(0)
        val matches = rows == scan.getLong(0) &&
          mnO.map(ldt).contains(scan.getAs[java.time.LocalDateTime](1)) &&
          mxO.map(ldt).contains(scan.getAs[java.time.LocalDateTime](2))
        val one = s.range(1).select(
          lit(rows).as("n_rows"),
          lit(mnO.map(ldt).orNull).as("min_ship"),
          lit(mxO.map(ldt).orNull).as("max_ship"),
          lit(matches).as("matches_scan"))
        val out = one.localCheckpoint(true)
        out
      } finally rmTree(stage)
    }),

    // Z-ORDER OPTIMIZE + 2-D box probe: scattered appends prune
    // nothing; one morton-clustered rewrite bounds BOTH (partkey,
    // suppkey) per segment, so the box keeps only the corner slices.
    // kept_after is re-derived by the oracle from the identical
    // interleave + bucket formula — the 2-D pruning effect itself is
    // hash-verified.
    "q174_commitlog_zorder_skipping" -> ((s, dir) => {
      val stage = stageDir("q174_zorder")
      try {
        val tbl = s"$stage/tbl"
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"))
        // immutable scattered base (the OPTIMIZE under measurement
        // runs on the zero-copy clone)
        val base = cachedBase[String]("li_scatter2d", dir) { b =>
          (0 until 4).foreach { i =>
            CommitLogStats.appendWithStats(s, b,
              li.filter(pmod(col("l_orderkey") + col("l_linenumber"),
                lit(4)) === i).repartition(3),
              Seq("l_partkey", "l_suppkey"))
          }
          b
        }
        CommitLog.cloneTable(s, base, tbl)
        val bounds = li.agg(max(col("l_partkey")), max(col("l_suppkey")))
          .collect()(0)
        val (pHi, sHi) = (bounds.getLong(0) / 8L, bounds.getLong(1) / 8L)
        val probes = Seq[(String, Any, Any)](
          ("l_partkey", 1L, pHi), ("l_suppkey", 1L, sHi))
        val before = CommitLogStats.planSkippingAll(s, tbl, probes)
        CommitLogStats.compactZOrder(s, tbl, "l_partkey", "l_suppkey",
          tieBreak = Seq("l_orderkey", "l_linenumber"),
          nSegments = 16, statsCols = Seq("l_partkey", "l_suppkey"))
        val after = CommitLogStats.planSkippingAll(s, tbl, probes)
        val out = CommitLogStats.readSkippingAll(s, tbl, probes)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("decimal(30,6)")).cast("double")
              .as("sum_qty"))
          .withColumn("kept_before", lit(before.kept.size))
          .withColumn("kept_after", lit(after.kept.size))
          .localCheckpoint(true)
        out
      } finally rmTree(stage)
    }),

    // Key-bucketed OPTIMIZE bounds copy-on-write write amplification:
    // after hash-bucketing into 8 segments, a single-key DELETE
    // rewrites exactly ONE bucket — the other 7 stay referenced
    // byte-identical (witnessed by the segment-set overlap between
    // the pre- and post-DML manifests).
    "q175_commitlog_bucketed_dml" -> ((s, dir) => {
      val stage = stageDir("q175_bucket")
      try {
        val tbl = s"$stage/tbl"
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        // immutable bucketed base; the single-key DELETE under
        // measurement rewrites one bucket of the zero-copy clone
        val base = cachedBase[String]("ord_bucketed8dml", dir) { b =>
          (0 until 4).foreach { i =>
            CommitLog.append(s, b,
              o.filter(pmod(col("o_orderkey"), lit(4)) === i)
                .repartition(3))
          }
          CommitLogStats.compactBucketed(s, b, Seq("o_orderkey"),
            nBuckets = 8, statsCols = Seq("o_orderkey"))
          b
        }
        CommitLog.cloneTable(s, base, tbl)
        val victim = o.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
        val pre = CommitLog.snapshot(s, tbl).get.segments.toSet
        CommitLog.delete(s, tbl, col("o_orderkey") === victim)
        val post = CommitLog.snapshot(s, tbl).get.segments.toSet
        val out = CommitLog.read(s, tbl)
          .groupBy(col("o_orderstatus")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
              .as("sum_price"))
          .withColumn("n_untouched", lit((pre & post).size))
          .withColumn("n_segments_after", lit(post.size))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
        out
      } finally rmTree(stage)
    }),

    // The standard WRITER surface: df.write.format("commitlog") in
    // append and overwrite modes, committing through the protocol —
    // the overwrite replaces content as ONE version while the
    // replaced state stays a time travel away (witnessed).
    "q177_commitlog_dsv2_write" -> ((s, dir) => {
      val stage = stageDir("q177_write")
      try {
        val tbl = s"$stage/tbl"
        val r = t(s, dir, "region").select(col("r_regionkey"),
          col("r_name"))
        CommitLog.append(s, tbl, r.filter(col("r_regionkey") < 2))
        r.filter(col("r_regionkey").between(2, 2)).write
          .format("commitlog").option("path", tbl).mode("append").save()
        val nV2 = CommitLog.read(s, tbl).count()
        r.filter(col("r_regionkey") >= 3).write
          .format("commitlog").option("path", tbl).mode("overwrite")
          .save()
        val ops = CommitLog.history(s, tbl).select("op")
          .collect().map(_.getString(0)).mkString(",")
        val out = CommitLog.read(s, tbl)
          .select(col("r_regionkey"), col("r_name"))
          .withColumn("ops", lit(ops))
          .withColumn("n_v2", lit(nV2))
          .orderBy(col("r_regionkey"))
          .localCheckpoint(true)
        out
      } finally rmTree(stage)
    }),

    // The plain-SQL surface end to end: CREATE TABLE / INSERT INTO …
    // SELECT / INSERT OVERWRITE / SELECT against the DSv2 catalog,
    // with the protocol's version history as witness.
    "q178_commitlog_sql_catalog" -> ((s, dir) => {
      val stage = stageDir("q178_sqlcat")
      // a FIXED catalog name is safe: Spark caches catalog instances
      // by name, but CommitLogCatalog re-resolves its root from the
      // live conf at every access, so re-registration with a fresh
      // stage directory takes effect (spec-pinned re-initialization)
      val cat = "graftq178"
      try withCatalog(s, cat, stage) {
        t(s, dir, "nation").createOrReplaceTempView("q178_nation")
        s.sql(s"CREATE TABLE $cat.ns.nations " +
          "(n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)")
        s.sql(s"INSERT INTO $cat.ns.nations " +
          "SELECT n_nationkey, n_name, n_regionkey FROM q178_nation " +
          "WHERE n_regionkey < 3")
        s.sql(s"INSERT OVERWRITE $cat.ns.nations " +
          "SELECT n_nationkey, n_name, n_regionkey FROM q178_nation " +
          "WHERE n_regionkey >= 2")
        val ops = CommitLog.history(s, s"$stage/ns/nations")
          .select("op").collect().map(_.getString(0)).mkString(",")
        val out = s.sql(
          s"SELECT n_regionkey, COUNT(*) AS n_nations, " +
            "MIN(n_name) AS first_name " +
            s"FROM $cat.ns.nations GROUP BY n_regionkey")
          .withColumn("ops", lit(ops))
          .orderBy(col("n_regionkey"))
          .localCheckpoint(true)
        out
      } finally {
        s.catalog.dropTempView("q178_nation"): Unit
        rmTree(stage)
      }
    }),

    // SIDECAR SKIPPING ON THE SQL SURFACE (q165's layout, driven
    // through the catalog): year-sliced stats appends, then a plain
    // `SELECT … WHERE l_shipdate BETWEEN …` via spark.sql — the
    // connector's scan builder prunes the segment list from sidecars
    // before any footer I/O. Witnessed from the planned plan: the
    // scan's file index holds only the kept year-segments' files.
    "q179_commitlog_sql_skipping" -> ((s, dir) => {
      val stage = stageDir("q179_sqlskip")
      val cat = "graftq179"
      try withCatalog(s, cat, stage) {
        val tbl = s"$stage/ns/li"
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"), col("l_returnflag"),
          col("l_shipdate"))
        val (y0, y1) = yearSpan(li)
        CommitLogStats.appendSliced(s, tbl,
          li.withColumn("__slice", year(col("l_shipdate"))),
          "__slice", Seq("l_shipdate"))
        val (lo, hi) = probeBounds(y0)
        // TIMESTAMP_NTZ literals: the fixture's shipdate surfaces as
        // NTZ, and a same-type literal keeps the pushed comparison a
        // bare attribute-vs-literal (a cast would disable skipping)
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss")
        val q = s.sql(
          s"""SELECT l_returnflag, COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             |    AS sum_qty
             |FROM $cat.ns.li
             |WHERE l_shipdate >= TIMESTAMP_NTZ '${fmt.format(lo)}'
             |  AND l_shipdate <= TIMESTAMP_NTZ '${fmt.format(hi)}'
             |GROUP BY l_returnflag""".stripMargin)
        val scanned = PlanProbe.scannedSegments(q)
        q.withColumn("n_segments_scanned", lit(scanned))
          .withColumn("n_segments_live", lit(y1 - y0 + 1))
          .orderBy(col("l_returnflag"))
          .localCheckpoint(true)
      } finally rmTree(stage)
    }),

    // METADATA-ONLY AGGREGATES ON THE SQL SURFACE: COUNT / MIN / MAX
    // over a fully-sidecar'd table answer from sidecars alone — the
    // scan builder serves a LocalScan, the planned plan holds a
    // LocalTableScan and NO file scan (witness column), and string
    // min/max — which parquet FOOTER pushdown refuses because binary
    // stats may be truncated — are served exactly.
    "q180_commitlog_sql_metadata_agg" -> ((s, dir) => {
      val stage = stageDir("q180_sqlmeta")
      val cat = "graftq180"
      try withCatalog(s, cat, stage) {
        val tbl = s"$stage/ns/ord"
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        (0 until 2).foreach { i =>
          CommitLogStats.appendWithStats(s, tbl,
            o.filter(pmod(col("o_orderkey"), lit(2)) === i),
            Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
        }
        val q = s.sql(
          s"""SELECT COUNT(*) AS n_rows,
             |  COUNT(o_orderstatus) AS n_status,
             |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
             |  MIN(o_orderstatus) AS min_status,
             |  MAX(o_orderstatus) AS max_status,
             |  MIN(o_totalprice) AS min_price,
             |  MAX(o_totalprice) AS max_price
             |FROM $cat.ns.ord""".stripMargin)
        val planned = PlanProbe.nodes(q)
        val metadataOnly = planned.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.LocalTableScanExec]) &&
          !planned.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.datasources.v2.BatchScanExec])
        q.withColumn("metadata_only", lit(metadataOnly))
          .localCheckpoint(true)
      } finally rmTree(stage)
    })
  )

  // ---- SQL row-level DML ----------------------------------------------

  private def queriesDml
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    // q169's merge, driven through `MERGE INTO` SQL against the
    // catalog: DELETE and UPDATE clauses in SQL order, name-aligned
    // INSERT, per-clause counts re-derived from the commit's RECORDED
    // CDC (the SQL statement returns no counts — the change feed is
    // the auditable witness), all hash-checked by q169's oracle
    // algebra.
    "q181_commitlog_sql_merge" -> ((s, dir) => {
      val stage = stageDir("q181_sqlmerge")
      val cat = "graftq181"
      try withCatalog(s, cat, stage) {
        val tbl = s"$stage/ns/t"
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        CommitLog.append(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(3)) === 0))
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .withColumn("new_price", col("o_totalprice") + 1000.0)
          .createOrReplaceTempView("q181_src")
        val preVersion = CommitLog.versions(s, tbl).max
        s.sql(
          s"""MERGE INTO $cat.ns.t t USING q181_src s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.new_price
             |WHEN NOT MATCHED THEN INSERT
             |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
             |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus,
             |          s.o_totalprice)""".stripMargin)
        val byType = CommitLog.changeFeed(s, tbl, preVersion)
          .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val out = s.sql(s"SELECT * FROM $cat.ns.t")
          .groupBy(col("o_orderstatus")).agg(
            count(lit(1)).as("n_rows"),
            sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
              .as("sum_price"))
          .withColumn("n_updated",
            lit(byType.getOrElse("update_preimage", 0L)))
          .withColumn("n_deleted", lit(byType.getOrElse("delete", 0L)))
          .withColumn("n_inserted", lit(byType.getOrElse("insert", 0L)))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
        out
      } finally {
        s.catalog.dropTempView("q181_src"): Unit
        rmTree(stage)
      }
    }),

    // q167's schema evolution, driven by SQL DDL: v1 appends the
    // 3-column even slice, `ALTER TABLE … ADD COLUMNS` commits a
    // METADATA-ONLY evolve version (ddl_segment_delta witnesses that
    // the DDL added zero segments), and a SQL INSERT…SELECT lands the
    // odd slice carrying the new column. Same reader algebra as q167
    // — v1 rows group under the NULL class, time travel to v1 keeps
    // its own 3 columns — all through the DuckDB hash gate.
    "q188_commitlog_sql_add_columns" -> ((s, dir) => {
      val stage = stageDir("q188_ddl")
      val cat = "graftq188"
      try withCatalog(s, cat, stage) {
        val tbl = s"$stage/ns/o"
        val o = t(s, dir, "orders")
        CommitLog.append(s, tbl,
          o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice")))
        val preDdl = CommitLog.snapshot(s, tbl).get
        s.sql(s"ALTER TABLE $cat.ns.o ADD COLUMNS " +
          "(priority_class STRING)")
        val postDdl = CommitLog.snapshot(s, tbl).get
        val ddlSegDelta =
          postDdl.segments.size - preDdl.segments.size
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
          .createOrReplaceTempView("q188_src")
        s.sql(s"""INSERT INTO $cat.ns.o
                 |SELECT o_orderkey, o_custkey, o_totalprice,
                 |  substring(o_orderpriority, 1, 1)
                 |FROM q188_src""".stripMargin)
        val nColsV1 =
          CommitLog.read(s, tbl, Some(preDdl.version)).columns.length
        val nColsPostDdl = s.sql(s"SELECT * FROM $cat.ns.o")
          .columns.length
        // (q190 below exercises the TBLPROPERTIES half of ALTER)
        s.sql(
          s"""SELECT priority_class, COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             |    AS sum_price
             |FROM $cat.ns.o
             |GROUP BY priority_class""".stripMargin)
          .withColumn("n_cols_v1", lit(nColsV1))
          .withColumn("n_cols_post_ddl", lit(nColsPostDdl))
          .withColumn("ddl_segment_delta", lit(ddlSegDelta))
          .orderBy(col("priority_class"))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q188_src"): Unit
        rmTree(stage)
      }
    }),

    // PERSISTENT CHECK CONSTRAINTS via DDL (the Delta model driven
    // through TBLPROPERTIES): SET validates EXISTING data (a
    // too-strict constraint refuses — witness), the recorded
    // constraint gates every later INSERT (a dirty insert refuses
    // ATOMICALLY — version count witnesses no partial landing), and
    // UNSET lifts the gate so the same rows then land. Final state =
    // all three slices = raw orders, so the oracle re-derives
    // everything from the predicate algebra alone.
    "q190_commitlog_sql_constraints" -> ((s, dir) => {
      val stage = stageDir("q190_cons")
      val cat = "graftq190"
      try withCatalog(s, cat, stage) {
        val tbl = s"$stage/ns/o"
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        val clean = o.filter(col("o_totalprice") > 50000.0)
        CommitLog.append(s, tbl,
          clean.filter(pmod(col("o_orderkey"), lit(2)) === 0))
        s.sql(s"ALTER TABLE $cat.ns.o SET TBLPROPERTIES " +
          "('graft.constraint.price_floor' = 'o_totalprice > 50000.0')")
        // a constraint the existing data does NOT satisfy refuses
        val refusedSet =
          try {
            s.sql(s"ALTER TABLE $cat.ns.o SET TBLPROPERTIES " +
              "('graft.constraint.too_strict' = " +
              "'o_totalprice > 100000.0')")
            0
          } catch { case e: Exception
              if e.getMessage.contains("existing row") => 1 }
        // dirty insert refuses atomically: no version, no rows
        o.createOrReplaceTempView("q190_src")
        val vBefore = CommitLog.versions(s, tbl).max
        val refusedInsert =
          try {
            s.sql(s"""INSERT INTO $cat.ns.o
                     |SELECT * FROM q190_src
                     |WHERE o_totalprice <= 50000.0""".stripMargin)
            0
          } catch { case _: Exception
              if CommitLog.versions(s, tbl).max == vBefore => 1 }
        // the clean complement passes the gate
        s.sql(s"""INSERT INTO $cat.ns.o
                 |SELECT * FROM q190_src
                 |WHERE o_totalprice > 50000.0
                 |  AND o_orderkey % 2 = 1""".stripMargin)
        val nConstraints = CommitLog.constraints(s, tbl).size
        // UNSET lifts the gate — the refused rows now land
        s.sql(s"ALTER TABLE $cat.ns.o UNSET TBLPROPERTIES " +
          "('graft.constraint.price_floor')")
        s.sql(s"""INSERT INTO $cat.ns.o
                 |SELECT * FROM q190_src
                 |WHERE o_totalprice <= 50000.0""".stripMargin)
        s.sql(
          s"""SELECT o_orderstatus, COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             |    AS sum_price
             |FROM $cat.ns.o
             |GROUP BY o_orderstatus""".stripMargin)
          .withColumn("refused_set", lit(refusedSet))
          .withColumn("refused_insert", lit(refusedInsert))
          .withColumn("n_constraints_mid", lit(nConstraints))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally {
        s.catalog.dropTempView("q190_src"): Unit
        rmTree(stage)
      }
    })
  )

  // ---- partitioned layout ---------------------------------------------

  private def queriesPartitioned
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    // PARTITIONED APPEND: orders lands as one segment per
    // o_orderstatus in ONE commit (partition value recorded as a
    // min=max sidecar), and a SQL equality probe on the partition
    // column scans exactly one segment — witnessed from the planned
    // plan, aggregate hash-checked against the oracle.
    "q182_commitlog_partitioned" -> ((s, dir) => {
      val stage = stageDir("q182_part")
      val cat = "graftq182"
      try withCatalog(s, cat, stage) {
        val tbl = s"$stage/ns/ord"
        val o = t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        CommitLogStats.appendPartitioned(s, tbl, o,
          partitionCols = Seq("o_orderstatus"),
          statsCols = Seq("o_orderkey"))
        val live = CommitLog.snapshot(s, tbl).get.segments.size
        val q = s.sql(
          s"""SELECT o_orderstatus, COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             |    AS sum_price
             |FROM $cat.ns.ord
             |WHERE o_orderstatus = 'F'
             |GROUP BY o_orderstatus""".stripMargin)
        val scanned = PlanProbe.scannedSegments(q)
        q.withColumn("n_segments_scanned", lit(scanned))
          .withColumn("n_segments_live", lit(live))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally rmTree(stage)
    }),

    // DELETION VECTORS end-to-end (merge-on-read DELETE): two
    // vectored deletes — the second OVERLAPPING the first, so the
    // no-double-delete law is in the hashed counts — rewrite ZERO
    // segments (witness: segment list identical before/after), the
    // SQL catalog read subtracts the vector while it is live (the
    // V1Scan bridge), and OPTIMIZE materializes: the post-compact
    // stock-path aggregate must equal the DV-path aggregate exactly
    // (witness boolean), with the vector field cleared. The oracle
    // re-derives both per-clause counts and the surviving aggregate
    // from the predicates alone.
    "q183_commitlog_deletion_vectors" -> ((s, dir) => {
      val stage = stageDir("q183_dv")
      val cat = "graftq183"
      try withCatalog(s, cat, stage) {
        val tbl = s"$stage/ns/ord"
        // shared immutable base (also q185's), zero-copy cloned —
        // the DML under measurement runs on the clone
        val base = ordersTwoSegmentBase(s, dir)
        CommitLog.cloneTable(s, base, tbl)
        val before = CommitLog.snapshot(s, tbl).get
        val (_, nDel1) = CommitLog.deleteVectored(s, tbl,
          col("o_orderstatus") === "F" &&
            pmod(col("o_orderkey"), lit(10)) === 1)
        // %10==1 implies %5==1: the second predicate re-covers every
        // first-delete row — none may re-report
        val (_, nDel2) = CommitLog.deleteVectored(s, tbl,
          pmod(col("o_orderkey"), lit(5)) === 1)
        val after = CommitLog.snapshot(s, tbl).get
        val rewrites =
          if (after.segments == before.segments && after.dv.isDefined) 0
          else 999
        val aggSql =
          s"""SELECT o_orderstatus, COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             |    AS sum_price
             |FROM $cat.ns.ord
             |GROUP BY o_orderstatus""".stripMargin
        val dvRead = s.sql(aggSql).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1).toSeq
        CommitLog.compact(s, tbl, targetRowsPerFile = 1000000L)
        // ONE post-compact evaluation: the checkpointed frame feeds
        // both the comparison witness and the returned result
        val post = s.sql(aggSql).localCheckpoint(true)
        val postRead = post.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1).toSeq
        val materialized =
          if (dvRead == postRead &&
            CommitLog.snapshot(s, tbl).get.dv.isEmpty) 1
          else 0
        post
          .withColumn("n_deleted_1", lit(nDel1))
          .withColumn("n_deleted_2", lit(nDel2))
          .withColumn("n_segment_rewrites", lit(rewrites))
          .withColumn("dv_read_matches_compacted", lit(materialized))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally rmTree(stage)
    }),

    // BLOOM-SIDECAR POINT LOOKUP: the skipping tier min/max cannot
    // prune — a hash-bucketed layout leaves every bucket spanning the
    // full key range (witness: 8 of 8 kept before blooms) — so the
    // bloom sidecar is what turns a key lookup into a one-segment
    // read: backfilled in one maintenance pass, the SAME point probe
    // keeps exactly the key's bucket, and the SQL read scans exactly
    // one segment (fpp 1e-6 makes a false-positive extra segment
    // effectively impossible, so the witnesses are hard constants).
    "q184_commitlog_bloom_lookup" -> ((s, dir) => {
      val stage = stageDir("q184_bloom")
      val cat = "graftq184"
      try withCatalog(s, cat, stage) {
        val tbl = s"$stage/ns/ord"
        // bloom sidecars live INSIDE segment dirs, so the bloomed
        // layout cannot be cloned-then-bloomed without dirtying the
        // base — cache the finished layout WITH its build-time
        // witnesses (the pre/post-bloom kept counts are facts about
        // the backfill, measured once when it ran); the probe under
        // measurement reads a zero-copy clone
        val (base, key, preBloom, postBloom) =
          cachedBase[(String, Long, Int, Int)]("ord_bucketbloom", dir) {
            b =>
          val o = t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice"))
          CommitLog.append(s, b, o)
          CommitLogStats.compactBucketed(s, b, Seq("o_orderkey"), 8,
            Seq("o_orderkey"))
          // an INTERIOR key (≤ half the max): every hash bucket's
          // [min,max] contains it, so stats alone genuinely keep 8/8
          // — probing the global max would let min/max prune by
          // accident
          val mid = o.agg(max(col("o_orderkey"))).collect()(0)
            .getLong(0) / 2L
          val k = o.filter(col("o_orderkey") <= mid)
            .agg(max(col("o_orderkey"))).collect()(0).getLong(0)
          val pre = CommitLogStats.planSkipping(s, b,
            "o_orderkey", k, k).kept.size
          CommitLogStats.attachBlooms(s, b, Seq("o_orderkey"))
          val post = CommitLogStats.planSkipping(s, b,
            "o_orderkey", k, k).kept.size
          (b, k, pre, post)
        }
        CommitLog.cloneTable(s, base, tbl)
        val q = s.sql(
          s"""SELECT o_orderkey, o_orderstatus,
             |  CAST(o_totalprice AS DOUBLE) AS price
             |FROM $cat.ns.ord WHERE o_orderkey = $key""".stripMargin)
        val scanned = PlanProbe.scannedSegments(q)
        q.withColumn("n_kept_minmax", lit(preBloom))
          .withColumn("n_kept_bloom", lit(postBloom))
          .withColumn("n_segments_scanned", lit(scanned))
          .orderBy(col("o_orderkey"))
          .localCheckpoint(true)
      } finally rmTree(stage)
    }),

    // VECTORED UPDATE (merge-on-read): matched rows' old positions
    // join the deletion vector and their updated copies land as ONE
    // appended segment — O(matched rows) written, the original
    // segments byte-untouched (witness: prefix-identical segment
    // list, exactly one new segment). The SQL catalog read while the
    // vector is live must equal the post-OPTIMIZE stock-path read
    // exactly (witness), and the oracle re-derives the updated
    // aggregate and match count from the predicate and SET alone.
    "q185_commitlog_update_vectored" -> ((s, dir) => {
      val stage = stageDir("q185_updv")
      val cat = "graftq185"
      try withCatalog(s, cat, stage) {
        val tbl = s"$stage/ns/ord"
        // q183's shared immutable base, zero-copy cloned
        CommitLog.cloneTable(s, ordersTwoSegmentBase(s, dir), tbl)
        val before = CommitLog.snapshot(s, tbl).get
        val (_, nUpd) = CommitLog.updateVectored(s, tbl,
          col("o_orderstatus") === "O" &&
            pmod(col("o_orderkey"), lit(7)) === 3,
          Map("o_totalprice" -> (col("o_totalprice") + 10000.0)))
        val after = CommitLog.snapshot(s, tbl).get
        val untouched =
          if (after.segments.take(before.segments.size) ==
              before.segments &&
            after.segments.size == before.segments.size + 1 &&
            after.dv.isDefined) 0
          else 999
        val aggSql =
          s"""SELECT o_orderstatus, COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             |    AS sum_price
             |FROM $cat.ns.ord
             |GROUP BY o_orderstatus""".stripMargin
        val dvRead = s.sql(aggSql).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1).toSeq
        CommitLog.compact(s, tbl, targetRowsPerFile = 1000000L)
        // ONE post-compact evaluation (as q183)
        val post = s.sql(aggSql).localCheckpoint(true)
        val postRead = post.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1).toSeq
        val materialized =
          if (dvRead == postRead &&
            CommitLog.snapshot(s, tbl).get.dv.isEmpty) 1
          else 0
        post
          .withColumn("n_updated", lit(nUpd))
          .withColumn("n_old_segments_rewritten", lit(untouched))
          .withColumn("dv_read_matches_compacted", lit(materialized))
          .orderBy(col("o_orderstatus"))
          .localCheckpoint(true)
      } finally rmTree(stage)
    }),

    // CURATION AS MERGE-ON-READ DELETES: the training-data dedup
    // story tied into the lakehouse tier — canonical doc per
    // (lang, n_chars) group, losers removed from a commit-log
    // documents table by [[CommitLog.deleteVectoredKeys]]: the loser
    // set is a COMPUTED DataFrame matched by semi-join (never an
    // isin list collected to the driver — at 100 TB the loser set is
    // millions of keys), the commit writes O(losers), zero segments
    // rewrite (witness), and the deletion is CDC-audited. The oracle
    // re-derives survivors and the loser count from the grouping
    // rule alone.
    "q186_dedup_deletion_vectors" -> ((s, dir) => {
      val stage = stageDir("q186_dvdedup")
      try {
        val tbl = s"$stage/docs"
        val base = cachedBase[String]("docs2seg", dir) { b =>
          val d = t(s, dir, "documents").select(col("doc_id"),
            col("lang"), col("source"), col("n_chars"))
          (0 until 2).foreach { i =>
            CommitLogStats.appendWithStats(s, b,
              d.filter(pmod(col("doc_id"), lit(2)) === i),
              Seq("doc_id"))
          }
          b
        }
        CommitLog.cloneTable(s, base, tbl)
        val before = CommitLog.snapshot(s, tbl).get
        val live0 = CommitLog.read(s, tbl)
        val keeperIds = live0.groupBy(col("lang"), col("n_chars"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        val losers = live0.select("doc_id")
          .join(keeperIds, Seq("doc_id"), "left_anti")
        val (_, nDel) = CommitLog.deleteVectoredKeys(s, tbl,
          losers, Seq("doc_id"))
        val after = CommitLog.snapshot(s, tbl).get
        val rewrites =
          if (after.segments == before.segments && after.dv.isDefined) 0
          else 999
        CommitLog.read(s, tbl)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("n_deleted", lit(nDel))
          .withColumn("n_segment_rewrites", lit(rewrites))
          .orderBy(col("lang"))
          .localCheckpoint(true)
      } finally rmTree(stage)
    }),

    // INCREMENTAL OPTIMIZE: nightly maintenance must cost O(new
    // data), not O(table) — a clustered base (4 range-disjoint
    // segments) plus two scattered tail appends; the incremental
    // pass rewrites ONLY the 2 tail segments (witness), keeps the
    // base chain byte-identical, converges (second call is a
    // version-unchanged no-op, witness), and a point probe afterward
    // opens at most 1 kept + 1 rewritten segment (witness). Content
    // is the full union, hash-verified.
    "q187_commitlog_incremental_optimize" -> ((s, dir) => {
      val stage = stageDir("q187_inc")
      try {
        val tbl = s"$stage/li"
        val cluster = Seq("l_shipdate", "l_orderkey", "l_linenumber")
        val li = t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
        // the clustered 96%-of-lineitem base is immutable under the
        // incremental pass by construction — built once, cloned here
        val clustered = cachedBase[String]("li_clustered4", dir) { b =>
          CommitLog.append(s, b,
            li.filter(pmod(col("l_orderkey"), lit(5)) =!= 0))
          CommitLogStats.compactClustered(s, b, cluster, 4,
            Seq("l_shipdate"))
          b
        }
        CommitLog.cloneTable(s, clustered, tbl)
        val basePaths = CommitLog.snapshot(s, tbl).get.segments
        val tail = li.filter(pmod(col("l_orderkey"), lit(5)) === 0)
        (0 until 2).foreach { i =>
          CommitLogStats.appendWithStats(s, tbl,
            tail.filter(pmod(col("l_linenumber"), lit(2)) === i),
            Seq("l_shipdate"))
        }
        val tailRows = tail.count()
        val (v1, nRw, nKp) =
          CommitLogStats.compactClusteredIncremental(s, tbl, cluster,
            targetRowsPerSegment = math.max(1L, (tailRows + 1L) / 2L),
            statsCols = Seq("l_shipdate"))
        val chainIntact = {
          val now = CommitLog.snapshot(s, tbl).get.segments
          if (basePaths.forall(now.contains)) nKp else -1
        }
        val (v2, nRw2, _) =
          CommitLogStats.compactClusteredIncremental(s, tbl, cluster,
            math.max(1L, (tailRows + 1L) / 2L), Seq("l_shipdate"))
        val secondNoop = if (v2 == v1 && nRw2 == 0) 1 else 0
        // interior point probe: the latest shipdate at or below the
        // span midpoint — 1 base segment + at most 1 tail segment
        val bounds = li.agg(min(col("l_shipdate")),
          max(col("l_shipdate"))).collect()(0)
        val (lo, hi) = (
          bounds.getAs[java.time.LocalDateTime](0),
          bounds.getAs[java.time.LocalDateTime](1))
        val mid = lo.plusSeconds(
          java.time.Duration.between(lo, hi).getSeconds / 2)
        val pd = li.filter(col("l_shipdate") <= lit(mid))
          .agg(max(col("l_shipdate"))).collect()(0)
          .getAs[java.time.LocalDateTime](0)
        // the steady-state invariant bounds INTERIOR depth at 2; a
        // duplicate-heavy probe date can ALSO sit on a row-count
        // split boundary in each layer, so the scale-robust witness
        // is "strictly fewer than the live segments" (the exact <= 2
        // law is spec-pinned on unique keys in CommitLogSpec)
        val nLive = CommitLog.snapshot(s, tbl).get.segments.size
        val probeKept = CommitLogStats.planSkipping(s, tbl,
          "l_shipdate", pd, pd).kept.size
        val probeLe2 = if (probeKept >= 1 && probeKept < nLive) 1 else 0
        CommitLog.read(s, tbl)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity").cast("decimal(30,6)"))
              .cast("double").as("sum_qty"))
          .withColumn("n_rewritten", lit(nRw))
          .withColumn("n_kept_chain", lit(chainIntact))
          .withColumn("second_call_noop", lit(secondNoop))
          .withColumn("probe_prunes", lit(probeLe2))
          .orderBy(col("l_returnflag"))
          .localCheckpoint(true)
      } finally rmTree(stage)
    })
  )

  /** DuckDB twin of [[yearSpan]]/[[probeBounds]]: the probe window and
    * total segment count derived from the data, as the engine does. */
  private val sqlWindow =
    """yr AS (SELECT MIN(YEAR(l_shipdate)) AS y0,
      |    MAX(YEAR(l_shipdate)) AS y1 FROM lineitem),
      |w AS (SELECT make_timestamp(y0 + 1, 1, 1, 0, 0, 0) AS lo,
      |    make_timestamp(y0 + 2, 12, 31, 23, 59, 59) AS hi,
      |    y1 - y0 + 1 AS nseg FROM yr)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the aggregate over the probe window, plus the slicing's implied
    // witness: a year-segment survives iff it has a row in the probe
    // (the probe spans whole calendar years), so kept = distinct
    // probe years present, pruned = the other year-segments
    "q165_commitlog_stats_skipping" ->
      s"""WITH $sqlWindow,
         |kept AS (SELECT CAST(COUNT(DISTINCT YEAR(l_shipdate)) AS INT)
         |    AS k FROM lineitem, w
         |  WHERE l_shipdate >= lo AND l_shipdate <= hi)
         |SELECT l_returnflag,
         |  COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_qty,
         |  (SELECT k FROM kept) AS n_segments_kept,
         |  (SELECT CAST(nseg AS INT) FROM w) - (SELECT k FROM kept)
         |    AS n_segments_pruned
         |FROM lineitem, w
         |WHERE l_shipdate >= lo AND l_shipdate <= hi
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,

    // kept_after re-derived from first principles: bucket b of row rn
    // (1-based, ordered by the unique triple) is ((rn-1)*8)//n; a
    // bucket survives the probe iff its [min,max] shipdate window
    // intersects [lo, hi]
    "q166_commitlog_optimize_cluster" ->
      s"""WITH $sqlWindow,
         |r AS (
         |  SELECT l_shipdate,
         |    ROW_NUMBER() OVER (ORDER BY l_shipdate, l_orderkey,
         |      l_linenumber) AS rn,
         |    COUNT(*) OVER () AS n
         |  FROM lineitem),
         |b AS (SELECT l_shipdate,
         |    CAST(((rn - 1) * 8) // n AS INT) AS bucket FROM r),
         |k AS (SELECT bucket, MIN(l_shipdate) AS mn, MAX(l_shipdate) AS mx
         |  FROM b GROUP BY bucket),
         |ka AS (SELECT CAST(COUNT(*) AS INT) AS kept_after FROM k, w
         |  WHERE mx >= lo AND mn <= hi)
         |SELECT l_returnflag,
         |  COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_qty,
         |  CAST(4 AS INT) AS kept_before,
         |  CAST(0 AS INT) AS pruned_before,
         |  (SELECT kept_after FROM ka) AS kept_after
         |FROM lineitem, w
         |WHERE l_shipdate >= lo AND l_shipdate <= hi
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,

    // rebuild the evolved table's logical content from raw orders:
    // even keys predate the column (NULL class), odd keys carry it
    "q167_commitlog_schema_evolution" ->
      """SELECT
        |  CASE WHEN o_orderkey % 2 = 1
        |    THEN substr(o_orderpriority, 1, 1) END AS priority_class,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(3 AS INT) AS n_cols_v1,
        |  CAST(4 AS INT) AS n_cols_v2
        |FROM orders
        |GROUP BY priority_class
        |ORDER BY priority_class""".stripMargin,

    // the same clause-order semantics re-derived from raw orders:
    // matched+F deletes, matched+non-F updates to price+1000,
    // unmatched target keeps, unmatched source inserts
    "q169_commitlog_merge_into" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
        |s AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, o_totalprice + 1000.0 AS new_price
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |final AS (
        |  SELECT t.o_orderstatus,
        |    CASE WHEN s.o_orderkey IS NOT NULL
        |      THEN s.new_price ELSE t.o_totalprice END AS price
        |  FROM t LEFT JOIN s ON s.o_orderkey = t.o_orderkey
        |  WHERE NOT (s.o_orderkey IS NOT NULL AND t.o_orderstatus = 'F')
        |  UNION ALL
        |  SELECT s.o_orderstatus, s.o_totalprice
        |  FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
        |  WHERE t.o_orderkey IS NULL),
        |counts AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN s.o_orderkey IS NOT NULL
        |      AND t.o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_updated,
        |    CAST(SUM(CASE WHEN s.o_orderkey IS NOT NULL
        |      AND t.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_deleted
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
        |ORDER BY o_orderstatus""".stripMargin,

    // the five-commit lifecycle, hardcoded: the history surface is
    // deterministic by construction
    "q170_commitlog_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'append', CAST(0 AS BIGINT),
        |    CAST(1 AS INT), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS BIGINT), false, CAST(NULL AS INT)),
        |  (CAST(2 AS BIGINT), 'append', CAST(1 AS BIGINT),
        |    CAST(2 AS INT), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS BIGINT), false, CAST(3 AS INT)),
        |  (CAST(3 AS BIGINT), 'delete', CAST(2 AS BIGINT),
        |    CAST(2 AS INT), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS BIGINT), true, CAST(3 AS INT)),
        |  (CAST(4 AS BIGINT), 'compact', CAST(3 AS BIGINT),
        |    CAST(1 AS INT), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS BIGINT), false, CAST(3 AS INT)),
        |  (CAST(5 AS BIGINT), 'streaming-append', CAST(4 AS BIGINT),
        |    CAST(2 AS INT), 'h', CAST(1 AS BIGINT), false,
        |    CAST(3 AS INT))
        |) AS t(version, op, base_version, n_segments, txn_app,
        |  txn_batch, has_changes, n_columns)
        |ORDER BY version""".stripMargin,

    // the table holds exactly the clean slice; the dirty append never
    // landed (1 version), its refusal named the first constraint and
    // counted every violating row
    "q171_commitlog_constraints" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  true AS refused,
        |  true AS violations_counted,
        |  CAST(1 AS INT) AS n_versions
        |FROM orders
        |WHERE o_totalprice > 50000.0
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // source-after-restore ≡ clone ≡ slices 0+1 (mod 3); the source
    // carries 4 versions (append, append, diverging append, restore),
    // the clone exactly 1
    "q172_commitlog_clone_restore" ->
      """SELECT l_returnflag,
        |  COUNT(*) AS n_src,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
        |    AS qty_src,
        |  COUNT(*) AS n_clone,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
        |    AS qty_clone,
        |  CAST(4 AS INT) AS src_versions,
        |  CAST(1 AS INT) AS clone_versions
        |FROM lineitem
        |WHERE l_orderkey % 3 IN (0, 1)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the metadata answer must equal the raw-table aggregate exactly
    "q173_commitlog_metadata_agg" ->
      """SELECT COUNT(*) AS n_rows,
        |  MIN(l_shipdate) AS min_ship,
        |  MAX(l_shipdate) AS max_ship,
        |  true AS matches_scan
        |FROM lineitem""".stripMargin,

    // the identical interleave + bucket formula re-derives which of
    // the 16 morton slices intersect the 2-D box
    "q174_commitlog_zorder_skipping" -> {
      val z = graft.queries.Pipeline10.zOrderSql("l_partkey", "l_suppkey")
      s"""WITH b AS (SELECT MAX(l_partkey) // 8 AS p_hi,
         |    MAX(l_suppkey) // 8 AS s_hi FROM lineitem),
         |r AS (
         |  SELECT l_partkey, l_suppkey,
         |    ROW_NUMBER() OVER (ORDER BY $z, l_orderkey, l_linenumber)
         |      AS rn,
         |    COUNT(*) OVER () AS n
         |  FROM lineitem),
         |k AS (
         |  SELECT CAST(((rn - 1) * 16) // n AS INT) AS bucket,
         |    MIN(l_partkey) AS pmn, MAX(l_partkey) AS pmx,
         |    MIN(l_suppkey) AS smn, MAX(l_suppkey) AS smx
         |  FROM r GROUP BY bucket),
         |ka AS (SELECT CAST(COUNT(*) AS INT) AS kept_after FROM k, b
         |  WHERE pmx >= 1 AND pmn <= p_hi AND smx >= 1 AND smn <= s_hi)
         |SELECT COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_qty,
         |  CAST(4 AS INT) AS kept_before,
         |  (SELECT kept_after FROM ka) AS kept_after
         |FROM lineitem, b
         |WHERE l_partkey >= 1 AND l_partkey <= p_hi
         |  AND l_suppkey >= 1 AND l_suppkey <= s_hi""".stripMargin
    },

    // final state = all orders minus the max key; one bucket of 8
    // rewritten (7 untouched, 8 referenced after — the kept rewrite
    // replaces the victim's bucket)
    "q175_commitlog_bucketed_dml" ->
      """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders)
        |SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(7 AS INT) AS n_untouched,
        |  CAST(8 AS INT) AS n_segments_after
        |FROM orders, mx
        |WHERE o_orderkey <> m
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // final content = regions 3+, three commits in order, v2 held 3
    "q177_commitlog_dsv2_write" ->
      """SELECT r_regionkey, r_name,
        |  'append,append,overwrite' AS ops,
        |  CAST(3 AS BIGINT) AS n_v2
        |FROM region
        |WHERE r_regionkey >= 3
        |ORDER BY r_regionkey""".stripMargin,

    // the overwrite's content (regionkeys >= 2), with the version ops
    "q178_commitlog_sql_catalog" ->
      """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
        |  COUNT(*) AS n_nations,
        |  MIN(n_name) AS first_name,
        |  'create,append,overwrite' AS ops
        |FROM nation
        |WHERE n_regionkey >= 2
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin,

    // q165's witness algebra, but the kept count comes from the SQL
    // read path's planned plan: a year-segment is scanned iff it has
    // a row in the probe window (segments are whole calendar years)
    "q179_commitlog_sql_skipping" ->
      s"""WITH $sqlWindow,
         |kept AS (SELECT CAST(COUNT(DISTINCT YEAR(l_shipdate)) AS INT)
         |    AS k FROM lineitem, w
         |  WHERE l_shipdate >= lo AND l_shipdate <= hi)
         |SELECT l_returnflag,
         |  COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
         |    AS sum_qty,
         |  (SELECT k FROM kept) AS n_segments_scanned,
         |  (SELECT CAST(nseg AS INT) FROM w) AS n_segments_live
         |FROM lineitem, w
         |WHERE l_shipdate >= lo AND l_shipdate <= hi
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,

    // final state = all orders (clean even + clean odd + the
    // formerly-refused dirty slice after UNSET); witnesses hardcode
    // the refusals the lifecycle guarantees
    "q190_commitlog_sql_constraints" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(1 AS INT) AS refused_set,
        |  CAST(1 AS INT) AS refused_insert,
        |  CAST(1 AS INT) AS n_constraints_mid
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // q167's reader algebra (even keys predate the column → NULL
    // class), plus the DDL witnesses: ALTER added a column (3 → 4)
    // and ZERO segments
    "q188_commitlog_sql_add_columns" ->
      """SELECT
        |  CASE WHEN o_orderkey % 2 = 1
        |    THEN substr(o_orderpriority, 1, 1) END AS priority_class,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(3 AS INT) AS n_cols_v1,
        |  CAST(4 AS INT) AS n_cols_post_ddl,
        |  CAST(0 AS INT) AS ddl_segment_delta
        |FROM orders
        |GROUP BY priority_class
        |ORDER BY priority_class""".stripMargin,

    "q180_commitlog_sql_metadata_agg" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(o_orderstatus) AS n_status,
        |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
        |  MIN(o_orderstatus) AS min_status,
        |  MAX(o_orderstatus) AS max_status,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price,
        |  TRUE AS metadata_only
        |FROM orders""".stripMargin,

    // q169's merge algebra verbatim — the SQL-driven merge must land
    // the identical final state, and its CDC-derived per-clause
    // counts must equal the first-principles re-derivation
    "q181_commitlog_sql_merge" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice FROM orders WHERE o_orderkey % 3 = 0),
        |s AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, o_totalprice + 1000.0 AS new_price
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |final AS (
        |  SELECT t.o_orderstatus,
        |    CASE WHEN s.o_orderkey IS NOT NULL
        |      THEN s.new_price ELSE t.o_totalprice END AS price
        |  FROM t LEFT JOIN s ON s.o_orderkey = t.o_orderkey
        |  WHERE NOT (s.o_orderkey IS NOT NULL AND t.o_orderstatus = 'F')
        |  UNION ALL
        |  SELECT s.o_orderstatus, s.o_totalprice
        |  FROM s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
        |  WHERE t.o_orderkey IS NULL),
        |counts AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN s.o_orderkey IS NOT NULL
        |      AND t.o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_updated,
        |    CAST(SUM(CASE WHEN s.o_orderkey IS NOT NULL
        |      AND t.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_deleted
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
        |ORDER BY o_orderstatus""".stripMargin,

    // one segment per status by construction → the 'F' probe scans
    // exactly 1 of COUNT(DISTINCT o_orderstatus) live segments
    "q182_commitlog_partitioned" ->
      """SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  1 AS n_segments_scanned,
        |  (SELECT CAST(COUNT(DISTINCT o_orderstatus) AS INT)
        |     FROM orders) AS n_segments_live
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // survivors = rows matching NEITHER delete predicate; clause
    // counts re-derived from the predicates (the second excludes
    // rows the first already deleted — the no-double-delete law);
    // segment-rewrite and materialization witnesses are structural
    // constants the engine must reproduce
    "q183_commitlog_deletion_vectors" ->
      """WITH d1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
        |  WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 1),
        |d2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
        |  WHERE o_orderkey % 5 = 1
        |    AND NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 1)),
        |live AS (SELECT * FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 1)
        |    AND o_orderkey % 5 <> 1)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  (SELECT n FROM d1) AS n_deleted_1,
        |  (SELECT n FROM d2) AS n_deleted_2,
        |  0 AS n_segment_rewrites,
        |  1 AS dv_read_matches_compacted
        |FROM live
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // the looked-up row plus structural witnesses: hash layout keeps
    // all 8 buckets on min/max alone; blooms (fpp 1e-6 → no false
    // positive at any tested scale) cut plan and scan to exactly 1
    "q184_commitlog_bloom_lookup" ->
      """WITH k AS (SELECT MAX(o_orderkey) AS key FROM orders
        |  WHERE o_orderkey <=
        |    (SELECT MAX(o_orderkey) // 2 FROM orders))
        |SELECT o.o_orderkey, o.o_orderstatus,
        |  CAST(o.o_totalprice AS DOUBLE) AS price,
        |  8 AS n_kept_minmax, 1 AS n_kept_bloom,
        |  1 AS n_segments_scanned
        |FROM orders o, k WHERE o.o_orderkey = k.key
        |ORDER BY o.o_orderkey""".stripMargin,

    // the post-update aggregate and match count re-derived from the
    // predicate and SET expression; segment-untouched and
    // materialization witnesses are structural constants
    "q185_commitlog_update_vectored" ->
      """WITH upd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
        |  WHERE o_orderstatus = 'O' AND o_orderkey % 7 = 3),
        |fin AS (SELECT o_orderstatus,
        |  CASE WHEN o_orderstatus = 'O' AND o_orderkey % 7 = 3
        |    THEN o_totalprice + 10000.0 ELSE o_totalprice END AS price
        |  FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(price AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  (SELECT n FROM upd) AS n_updated,
        |  0 AS n_old_segments_rewritten,
        |  1 AS dv_read_matches_compacted
        |FROM fin
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // survivors = min doc_id per (lang, n_chars); losers everyone
    // else — the exact loser-set rule the engine computes, re-derived
    "q186_dedup_deletion_vectors" ->
      """WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents
        |  GROUP BY lang, n_chars),
        |surv AS (SELECT d.* FROM documents d
        |  JOIN keep k ON d.doc_id = k.doc_id)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) -
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM keep) AS n_deleted,
        |  0 AS n_segment_rewrites
        |FROM surv
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // full-union aggregate; the maintenance-economics witnesses are
    // structural constants (2 tail segments rewritten, 4-segment
    // chain kept, convergent no-op, point probe prunes segments)
    "q187_commitlog_incremental_optimize" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_qty,
        |  2 AS n_rewritten, 4 AS n_kept_chain,
        |  1 AS second_call_noop, 1 AS probe_prunes
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )
}
