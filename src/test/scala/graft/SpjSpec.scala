package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanProbe
import graft.sources.{CommitLog, CommitLogStats}

/** Storage-partitioned joins (Iceberg's SPJ, SPARK-37375) over
  * commit-log tables: a [[CommitLogStats.compactBucketed]] commit
  * records its layout in the manifest, the DSv2 scan reports
  * `KeyGroupedPartitioning(bucket(n, key))`, and the catalog resolves
  * the transform through its FunctionCatalog — so a join of two
  * bucket-aligned tables plans with ZERO shuffle exchanges. The
  * bucket layout's write-time cost is finally harvested at join time
  * (the commit-log twin of q119's plain-parquet bucketBy law).
  *
  * Negative space matters as much: mismatched bucket counts fall back
  * to a plain shuffle (never a wrong co-location), and ANY later
  * commit drops the layout claim with the segment set it described.
  */
class SpjSpec extends AnyFunSuite {

  // NOTE: the suite-specific confs (bucketing, broadcast-off) are
  // scoped to each test body by PlanProbe.withConf — builder configs
  // would leak into the shared test JVM's session and poison other
  // suites' plan-shape assertions
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go)); f.delete(): Unit
    }
    go(new java.io.File(path))
  }

  private def shuffleCount(df: DataFrame): Int = {
    df.collect() // finalize adaptive stages
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(nodes)) ++ (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive
            .QueryStageExec => nodes(q.plan)
        case _ => Seq.empty
      })
    nodes(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike => e }.distinct.size
  }

  test("bucket-aligned fact-to-fact join plans with ZERO shuffle " +
      "exchanges; results are hash-equal to the shuffled plan; " +
      "mismatched bucket counts and post-layout appends fall back " +
      "to the shuffle, never to a wrong co-location") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_spj_").toString
    // the law is about SHUFFLE elimination — a broadcast join would
    // trivially have none; force the hash-join path for this test
    try PlanProbe.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.catalog.gspj" -> "graft.sources.CommitLogCatalog",
        "spark.sql.catalog.gspj.root" -> root) {
      val a = s"$root/ns/a"; val b = s"$root/ns/b"; val c = s"$root/ns/c"
      CommitLog.append(spark, a,
        (1L to 10000L).map(k => (k, k * 2.0)).toDF("k", "v"))
      CommitLog.append(spark, b,
        (1L to 5000L).map(k => (k, s"n$k")).toDF("k", "w"))
      CommitLog.append(spark, c,
        (1L to 5000L).map(k => (k, k * 3.0)).toDF("k", "u"))
      CommitLogStats.compactBucketed(spark, a, Seq("k"), 8, Seq("k"))
      CommitLogStats.compactBucketed(spark, b, Seq("k"), 8, Seq("k"))
      CommitLogStats.compactBucketed(spark, c, Seq("k"), 4, Seq("k"))
      // the manifest records the layout; an identical snapshot read
      // decodes it
      val spec = CommitLog.decodeBucketSpec(
        CommitLog.snapshot(spark, a).get.bucket.get).get
      assert(spec.keys === Seq("k") && spec.n === 8 &&
        spec.byUuid.values.toSet.size ===
          CommitLog.snapshot(spark, a).get.segments.size)

      val q = "SELECT a.k, a.v, b.w FROM gspj.ns.a a " +
        "JOIN gspj.ns.b b ON a.k = b.k"
      // ---- the law: zero exchanges, both sides key-grouped --------
      val spj = spark.sql(q)
      val nSpj = shuffleCount(spj)
      assert(nSpj === 0,
        s"bucket-aligned join must not shuffle:\n" +
          spj.queryExecution.executedPlan)
      // the planned witness the oracle queries report attests the
      // executed plan
      assert(PlanProbe.exchanges(spj) === nSpj)
      // result parity with the shuffled plan (bucketing disabled)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val shuffled = spark.sql(q)
      val nShuffled = shuffleCount(shuffled)
      assert(nShuffled >= 2, s"control must shuffle, got $nShuffled")
      val rows = spj.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq.sorted
      assert(rows === shuffled.collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq.sorted)
      assert(rows.length === 5000)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")

      // ---- mismatched bucket counts: plain shuffle, right rows ----
      val mixed = spark.sql("SELECT a.k FROM gspj.ns.a a " +
        "JOIN gspj.ns.c c ON a.k = c.k")
      val nMixed = shuffleCount(mixed)
      assert(nMixed > 0, "8-vs-4 buckets must not co-locate")
      assert(PlanProbe.exchanges(mixed) === nMixed)
      assert(mixed.collect().length === 5000)

      // ---- DML PRESERVES the layout: delete/update/merge re-land
      // their rewrites bucket-split and carry the updated spec, so
      // the join stays shuffle-free THROUGH steady-state DML (the
      // write amplification bound holds too: one touched bucket)
      // ---- the claim degrades gracefully when the projection
      // PRUNES the bucket key (the partitioning resolves against the
      // pruned output; Spark must fall back, not fail)
      assert(spark.sql("SELECT v FROM gspj.ns.a WHERE v > 19000")
        .collect().length === 500)
      assert(spark.sql("SELECT COUNT(*) FROM gspj.ns.a")
        .collect()(0).getLong(0) === 10000L)

      // DESCRIBE DETAIL shows the live layout
      val det = CommitLog.detail(spark, a).collect()(0)
      assert(det.getAs[String]("bucket_keys") === "k" &&
        det.getAs[Int]("n_buckets") === 8)
      val preDml = CommitLog.snapshot(spark, a).get.segments.toSet
      CommitLog.delete(spark, a, col("k") === 7L)
      val postDel = CommitLog.snapshot(spark, a).get
      assert(postDel.bucket.isDefined, "delete dropped the spec")
      assert((preDml & postDel.segments.toSet).size === 7,
        "delete must rewrite exactly the touched bucket")
      assert(shuffleCount(spark.sql(q)) === 0,
        "join must stay shuffle-free after DELETE")
      CommitLog.update(spark, a, col("k") === 8L,
        Map("v" -> lit(888.0)))
      assert(CommitLog.snapshot(spark, a).get.bucket.isDefined,
        "update dropped the spec")
      assert(shuffleCount(spark.sql(q)) === 0,
        "join must stay shuffle-free after UPDATE")
      CommitLog.mergeInto(spark, a,
        Seq((10001L, 5.0), (9L, 999.0)).toDF("k", "v"), Seq("k"),
        whenMatchedUpdate = Map("v" -> CommitLog.src("v")))
      assert(CommitLog.snapshot(spark, a).get.bucket.isDefined,
        "merge dropped the spec")
      assert(shuffleCount(spark.sql(q)) === 0,
        "join must stay shuffle-free after MERGE")
      // values: the DML actually happened, through the split staging
      val aRows = spark.sql(
        "SELECT k, v FROM gspj.ns.a WHERE k IN (7, 8, 9, 10001)")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(!aRows.contains(7L) && aRows(8L) === 888.0 &&
        aRows(9L) === 999.0 && aRows(10001L) === 5.0)

      // ---- a plain append DOES drop the layout claim --------------
      CommitLog.append(spark, b, Seq((99999L, "zz")).toDF("k", "w"))
      assert(CommitLog.snapshot(spark, b).get.bucket.isEmpty,
        "an append must not inherit the bucket layout record")
      val after = spark.sql(q)
      assert(shuffleCount(after) > 0,
        "a post-layout append must fall back to the shuffle")
      assert(after.collect().length === 4999)
      // re-OPTIMIZE restores the zero-shuffle plan
      CommitLogStats.compactBucketed(spark, b, Seq("k"), 8, Seq("k"))
      assert(shuffleCount(spark.sql(q)) === 0)

      // ---- the layout serves AGGREGATION too: a groupBy on the
      // bucket key is already clustered, so the hash aggregate runs
      // exchange-free over the key-grouped partitions
      val agg = spark.sql(
        "SELECT k, COUNT(*) AS n, SUM(v) AS sv FROM gspj.ns.a GROUP BY k")
      assert(shuffleCount(agg) === 0,
        s"bucket-key aggregation must not shuffle:\n" +
          agg.queryExecution.executedPlan)
      assert(agg.collect().length === 10000)

      // ---- one-side storage-partitioned shuffle ------------------
      // (spark.sql.sources.v2.bucketing.shuffle.enabled): joining
      // the bucketed fact against an UNBUCKETED side shuffles ONLY
      // that side — into the fact's own bucket layout, evaluated
      // through the catalog's bucket function. At 100 TB this is
      // the lever: the fact's bytes never move.
      CommitLog.append(spark, s"$root/ns/d",
        (1L to 200L).map(k => (k, s"d$k")).toDF("k", "d"))
      PlanProbe.withConf(spark,
          "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true") {
        val oneSide = spark.sql("SELECT a.k, d.d FROM gspj.ns.a a " +
          "JOIN gspj.ns.d d ON a.k = d.k")
        val n = shuffleCount(oneSide)
        assert(n === 1,
          s"one-side SPJ shuffle expected exactly the unbucketed " +
            s"side to move, got $n exchanges:\n" +
            oneSide.queryExecution.executedPlan)
        assert(oneSide.collect().length === 199) // k=7 DML-deleted
      }

      // ---- partially-clustered SPJ (the skew remedy: Spark may
      // replicate the smaller side's groups instead of giving each
      // bucket one task) stays shuffle-free and value-identical
      PlanProbe.withConf(spark,
          "spark.sql.sources.v2.bucketing.partiallyClustered.enabled" ->
            "true") {
        val pc = spark.sql(q)
        assert(shuffleCount(pc) === 0,
          "partially-clustered SPJ must stay shuffle-free")
        val pcRows = pc.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq.sorted
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled",
          "false")
        val ctrl2 = spark.sql(q).collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq.sorted
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled",
          "true")
        assert(pcRows === ctrl2 && pcRows.length === 4999)
      }

      // ---- MULTI-key buckets claim SPJ via the per-key GRID layout
      // (Spark's KeyGroupedShuffleSpec requires single-reference
      // partition transforms, so the layout writes one bucket
      // dimension per key and the scan reports one bucket(n_i, k_i)
      // expression per key). Key-order canonicalization: the two
      // tables are bucketed with the keys listed in OPPOSITE orders
      // and must still land on the same grid and co-locate.
      val m1 = s"$root/ns/m1"; val m2 = s"$root/ns/m2"
      CommitLog.append(spark, m1,
        (1L to 5000L).map(i => (i % 50, i / 50, i * 1.0))
          .toDF("k1", "k2", "v"))
      CommitLog.append(spark, m2,
        (1L to 2500L).map(i => (i % 50, i / 50, s"w$i"))
          .toDF("k1", "k2", "w"))
      CommitLogStats.compactBucketed(spark, m1, Seq("k1", "k2"), 8,
        Seq("k1"))
      CommitLogStats.compactBucketed(spark, m2, Seq("k2", "k1"), 8,
        Seq("k1"))
      val mSpec = CommitLog.decodeBucketSpec(
        CommitLog.snapshot(spark, m2).get.bucket.get).get
      assert(mSpec.keys === Seq("k1", "k2"),
        "layout keys must canonicalize regardless of call order")
      assert(mSpec.ns.product === 8 && mSpec.ns.size === 2,
        s"per-key grid counts must cover the total: ${mSpec.ns}")
      val mq = "SELECT a.k1, a.k2, a.v, b.w " +
        "FROM gspj.ns.m1 a JOIN gspj.ns.m2 b " +
        "ON a.k1 = b.k1 AND a.k2 = b.k2"
      val mdf = spark.sql(mq)
      assert(shuffleCount(mdf) === 0,
        s"2-key grid-aligned join must not shuffle:\n" +
          mdf.queryExecution.executedPlan)
      assert(mdf.collect().length === 2500)
      // join keys listed in the REVERSED order still co-locate
      // (KeyGroupedShuffleSpec matches by key position bitsets)
      val mq2 = "SELECT a.k1, a.k2, a.v, b.w " +
        "FROM gspj.ns.m1 a JOIN gspj.ns.m2 b " +
        "ON a.k2 = b.k2 AND a.k1 = b.k1"
      val mdf2 = spark.sql(mq2)
      assert(shuffleCount(mdf2) === 0,
        s"reversed join-key order must still co-locate:\n" +
          mdf2.queryExecution.executedPlan)
      assert(mdf2.collect().length === 2500)
      // result parity with the shuffled control
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val mCtrl = spark.sql(mq)
      assert(shuffleCount(mCtrl) > 0, "control must shuffle")
      assert(mdf.collect().map(_.toString).sorted.toSeq ===
        mCtrl.collect().map(_.toString).sorted.toSeq)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      // a JOIN ON ONLY ONE of the two grid keys must fall back to the
      // shuffle (co-location needs every grid dimension matched),
      // never a wrong co-location
      val mPartial = spark.sql("SELECT a.k1, a.v, b.w " +
        "FROM gspj.ns.m1 a JOIN gspj.ns.m2 b ON a.k1 = b.k1")
      assert(shuffleCount(mPartial) > 0,
        "single-key join over a 2-key grid must shuffle")
      assert(mPartial.collect().length === 250000)
      // DML preserves the GRID layout too: a point delete re-lands
      // grid-split, the spec (keys + per-key ns) survives, and the
      // 2-key join stays shuffle-free
      CommitLog.delete(spark, m1, col("k1") === 3L && col("k2") === 0L)
      val m1Post = CommitLog.snapshot(spark, m1).get
      val m1Spec = m1Post.bucket
        .flatMap(CommitLog.decodeBucketSpec).get
      assert(m1Spec.gridClaimable && m1Spec.ns === mSpec.ns,
        s"grid spec must survive DML: $m1Spec")
      val mAfterDml = spark.sql(mq)
      assert(shuffleCount(mAfterDml) === 0,
        "2-key join must stay shuffle-free after grid-preserved DML")
      assert(mAfterDml.collect().length === 2499)
    } finally rm(root)
  }

  /** Rewrite a table's newest manifest (and checkpoint, if one rode
    * the same version) so its bucket record drops the per-key grid
    * counts — byte-faithfully the record a PRE-GRID writer produced
    * (`__ns` absent, composite hash implied). Format-compatibility
    * fixture for the migration law below. */
  private def demoteToLegacyRecord(tbl: String): Unit = {
    val v = graft.sources.CommitLog.versions(spark, tbl).max
    Seq(f"$v%020d.manifest", f"$v%020d.checkpoint").foreach { name =>
      val p = java.nio.file.Paths.get(tbl, "_commits", name)
      if (java.nio.file.Files.exists(p)) {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val b64 = "\"bucket\":\"([^\"]+)\"".r.findFirstMatchIn(txt)
          .getOrElse(fail(s"no bucket field in $name")).group(1)
        val json = new String(
          java.util.Base64.getDecoder.decode(b64), "UTF-8")
        val legacyJson = json.replaceAll(",\"__ns\":\"[^\"]*\"", "")
        assert(legacyJson != json, "expected to strip __ns")
        val legacyB64 = java.util.Base64.getEncoder
          .encodeToString(legacyJson.getBytes("UTF-8"))
        java.nio.file.Files.write(p, txt.replace(b64, legacyB64)
          .getBytes("UTF-8")): Unit
      }
    }
  }

  test("LEGACY composite multi-key record migration: the pre-grid " +
      "layout silently shuffles; the advisor recommends " +
      "optimize_grid; CALL system.optimize_grid re-lands the grid " +
      "and the join claims zero exchanges; the advisor goes quiet; " +
      "re-CALL is a version-stable no-op") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_spjmig_").toString
    try PlanProbe.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.catalog.gmig" -> "graft.sources.CommitLogCatalog",
        "spark.sql.catalog.gmig.root" -> root) {
      val a = s"$root/ns/a"; val b = s"$root/ns/b"
      def rows(n: Long) = (1L to n).map(k => (k, k % 7, k * 2.0))
      CommitLog.append(spark, a, rows(8000).toDF("k1", "k2", "v"))
      CommitLog.append(spark, b, rows(4000).toDF("k1", "k2", "w"))
      CommitLogStats.compactBucketed(spark, a, Seq("k1", "k2"), 8,
        Seq("k1"))
      CommitLogStats.compactBucketed(spark, b, Seq("k1", "k2"), 8,
        Seq("k1"))
      // demote BOTH to the pre-grid record an older writer produced
      demoteToLegacyRecord(a)
      demoteToLegacyRecord(b)
      val legacySpec = CommitLog.decodeBucketSpec(
        CommitLog.snapshot(spark, a).get.bucket.get).get
      assert(!legacySpec.gridClaimable && legacySpec.keys.size === 2,
        s"demotion failed: $legacySpec")

      val q = "SELECT a.k1, a.v, b.w FROM gmig.ns.a a JOIN " +
        "gmig.ns.b b ON a.k1 = b.k1 AND a.k2 = b.k2"
      // legacy record: the join CANNOT claim — it shuffles
      assert(shuffleCount(spark.sql(q)) > 0,
        "legacy composite record must not claim SPJ")

      // the advisor names the upgrade
      val plan = graft.sources.CommitLogMaintenance
        .maintenancePlan(spark, a).collect()
      val rec = plan.filter(_.getString(0) == "optimize_grid")
      assert(rec.length === 1, s"advisor must recommend " +
        s"optimize_grid, got: ${plan.toSeq}")
      assert(rec(0).getString(2).contains("optimize_grid"))

      // run exactly the recommended verb (through the CALL surface)
      spark.sql("CALL gmig.system.optimize_grid(table => 'ns.a')")
      spark.sql("CALL gmig.system.optimize_grid(table => 'ns.b')")
      val migSpec = CommitLog.decodeBucketSpec(
        CommitLog.snapshot(spark, a).get.bucket.get).get
      assert(migSpec.gridClaimable && migSpec.keys === legacySpec.keys
        && migSpec.n === legacySpec.n, s"migration spec: $migSpec")

      // migrated: zero exchanges, same rows
      val spj = spark.sql(q)
      assert(shuffleCount(spj) === 0,
        s"migrated grid must claim SPJ:\n" +
          spj.queryExecution.executedPlan)
      assert(spj.collect().length === 4000)

      // the advisor goes quiet on this rule
      val planAfter = graft.sources.CommitLogMaintenance
        .maintenancePlan(spark, a).collect()
      assert(!planAfter.exists(_.getString(0) == "optimize_grid"),
        s"advisor must go quiet, got: ${planAfter.toSeq}")

      // idempotence: re-CALL commits nothing (version-stable no-op)
      val v0 = CommitLog.versions(spark, a).max
      spark.sql("CALL gmig.system.optimize_grid(table => 'ns.a')")
      assert(CommitLog.versions(spark, a).max === v0,
        "no-op migration must not commit")
    } finally rm(root)
  }
}
