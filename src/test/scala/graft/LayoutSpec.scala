package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanProbe

/** Plan-level laws for the storage-layout block (q117–q119). The
  * value-level gate is the DuckDB oracle; these pin the properties the
  * oracle can't see — that the partition predicate actually prunes
  * directories, and that the bucketed join actually skips the shuffle.
  */
class LayoutSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_spec_${tag}_").toString

  private def rm(p: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(p), true)
  }

  test("q117: CSV round-trip preserves a quoting-hostile column exactly") {
    val d = queries.Layouts.hostileDocs(spark, dir)
      .select(col("doc_id"), col("hostile"))
    val stage = tempDir("csv")
    try {
      d.write.mode(SaveMode.Overwrite)
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .csv(stage)
      val back = spark.read.schema(d.schema)
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .option("multiLine", "true")
        .csv(stage)
      // row-for-row equality, not just a checksum: anti-join both ways
      assert(back.count() === d.count())
      assert(back.exceptAll(d).count() === 0)
      assert(d.exceptAll(back).count() === 0)
      // the hostile column genuinely contains every CSV-hostile char
      val h = d.select(col("hostile")).first().getString(0)
      assert(h.contains(",") && h.contains("\"") && h.contains("\n")
        && h.contains("\t"))
    } finally rm(stage)
  }

  test("q118: the year predicate is a planning-time partition filter") {
    val stage = tempDir("part")
    try {
      sources.Catalog.table(spark, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(stage)
      val all = spark.read.parquet(stage)
      val years = all.select(col("o_year")).distinct().count()
      assert(years > 2, s"need >2 year partitions to prove pruning, got $years")

      val pruned = all.filter(col("o_year") >= 1996)
      val scan = pruned.queryExecution.executedPlan.collectFirst {
        case f: FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec in plan"))
      assert(scan.partitionFilters.nonEmpty,
        "o_year >= 1996 must become a partition filter, not a data filter")
      // pruning is real: the scan's selected partitions < total partitions
      val selected = scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters).length
      assert(selected < years,
        s"expected pruned partition count < $years, got $selected")
    } finally rm(stage)
  }

  /** Inverse of Pipeline10.zOrder — extracts the even (offset 0) or odd
    * (offset 1) bit lanes back out of the interleaved key. */
  private def deinterleave(zc: org.apache.spark.sql.Column, offset: Int) =
    (0 until queries.Pipeline10.ZBits).map { i =>
      shiftright(zc, 2 * i + offset).bitwiseAND(lit(1L)) * lit(1L << i)
    }.reduce(_ + _)

  test("q123: z-order stays a bijection past 65,536 (ScaleGen's remapped key domain)") {
    // Round-5 regression class: ZBits=16 silently aliased keys >= 2^16 —
    // sf1 partkeys and ScaleGen's +1e9 offsets both collapse, and the
    // oracle replays the same truncation so only this law can see it.
    // Cover the corners of the widened domain: 0, the old 16-bit cliff,
    // a +1e9 remapped pair, and Int.MaxValue at both lanes.
    import spark.implicits._
    val keys = Seq(
      (0L, 0L), (65535L, 65535L), (65536L, 65535L), (65535L, 65536L),
      (65536L, 65536L), (1000000001L, 1000002000L),
      (Int.MaxValue.toLong, 0L), (0L, Int.MaxValue.toLong),
      (Int.MaxValue.toLong, Int.MaxValue.toLong))
    val df = keys.toDF("x", "y")
      .withColumn("z", queries.Pipeline10.zOrder(col("x"), col("y")))
    // every z distinct (no aliasing), always non-negative, and invertible
    assert(df.select(col("z")).distinct().count() === keys.length)
    assert(df.filter(col("z") < 0).count() === 0)
    assert(df.filter(deinterleave(col("z"), 0) =!= col("x") ||
      deinterleave(col("z"), 1) =!= col("y")).count() === 0)
    // adjacency sanity on the cliff: (65536, 0) and (65535, 0) differ
    val cliff = Seq((65535L, 0L), (65536L, 0L)).toDF("x", "y")
      .withColumn("z", queries.Pipeline10.zOrder(col("x"), col("y")))
      .select(col("z")).as[Long].collect().toSet
    assert(cliff.size === 2, "old 16-bit interleave aliased exactly this pair")
  }

  test("zOrderN: the N-D interleave is a bijection on its domain, " +
      "reduces to zOrder at n=2, and refuses budgets past the " +
      "positive-Long range") {
    import spark.implicits._
    // n=2 at 31 bits is bit-identical to the 2-D kernel (same layout)
    val pairs = Seq((0L, 0L), (65536L, 65535L),
      (Int.MaxValue.toLong, 12345L))
    val eq2 = pairs.toDF("x", "y")
      .withColumn("a", queries.Pipeline10.zOrder(col("x"), col("y")))
      .withColumn("b", queries.Pipeline10.zOrderN(
        Seq(col("x"), col("y")), 31))
    assert(eq2.filter(col("a") =!= col("b")).count() === 0)
    // n=3 at 20 bits: invertible over the full [0, 2^20) domain
    // corners + interior
    def deN(zc: org.apache.spark.sql.Column, n: Int, d: Int,
        bits: Int) =
      (0 until bits).map { i =>
        shiftright(zc, n * i + d).bitwiseAND(lit(1L)) * lit(1L << i)
      }.reduce(_ + _)
    val m = (1L << 20) - 1L
    val triples = Seq((0L, 0L, 0L), (m, m, m), (m, 0L, m),
      (65536L, 123L, 999999L), (1L, m, 524288L))
    val df3 = triples.toDF("x", "y", "w")
      .withColumn("z", queries.Pipeline10.zOrderN(
        Seq(col("x"), col("y"), col("w")), 20))
    assert(df3.filter(col("z") < 0).count() === 0)
    assert(df3.select("z").distinct().count() === triples.length)
    assert(df3.filter(
      deN(col("z"), 3, 0, 20) =!= col("x") ||
      deN(col("z"), 3, 1, 20) =!= col("y") ||
      deN(col("z"), 3, 2, 20) =!= col("w")).count() === 0)
    // budget guard: 3 dims x 21 bits = 63 would go negative — refuse
    intercept[IllegalArgumentException] {
      queries.Pipeline10.zOrderN(Seq(col("x"), col("y"), col("w")), 21)
    }
  }

  test("q123: z-order interleave is a bijection and beats 1-D sort for 2-D skipping") {
    // sf0.01: the suppkey domain at sf0.001 (~10 values) is too narrow
    // for 2-D locality to be visible; geometry needs both dims populated
    val li = sources.Catalog.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    val z = li.withColumn("z",
      queries.Pipeline10.zOrder(col("l_partkey"), col("l_suppkey")))
    // bijection: de-interleaving z recovers both keys
    assert(z.filter(deinterleave(col("z"), 0) =!= col("l_partkey") ||
      deinterleave(col("z"), 1) =!= col("l_suppkey")).count() === 0)

    // skipping witness: a predicate narrow in suppkey but unbounded in
    // partkey. Bucket min/max stats under a z-order layout prune most
    // buckets; under a partkey-sorted layout every bucket survives
    // (suppkey is unconstrained within each partkey range).
    val nb = 256
    val suppLo = 5L
    val suppHi = 8L
    val wz = org.apache.spark.sql.expressions.Window.orderBy(col("z"))
    val zStats = z.withColumn("b", ntile(nb).over(wz)) // 64 z-sorted files
      .groupBy(col("b"))
      .agg(min(col("l_suppkey")).as("lo"), max(col("l_suppkey")).as("hi"))
    val total = zStats.count()
    val zSurvive = zStats
      .filter(col("hi") >= suppLo && col("lo") <= suppHi).count()

    val w = org.apache.spark.sql.expressions.Window.orderBy(col("l_partkey"))
    val pkStats = li.withColumn("b", ntile(nb).over(w)) // contiguous sorted files
      .groupBy(col("b"))
      .agg(min(col("l_suppkey")).as("lo"), max(col("l_suppkey")).as("hi"))
    val pkSurvive = pkStats
      .filter(col("hi") >= suppLo && col("lo") <= suppHi).count()

    assert(zSurvive * 2 <= total,
      s"z-order should prune >half the buckets, survived $zSurvive/$total")
    assert(zSurvive < pkSurvive,
      s"z-order ($zSurvive) must beat partkey-sort ($pkSurvive) on a narrow-supp box")
  }

  test("q137: dynamic partition pruning — dim-attribute filter prunes " +
      "fact partitions at runtime") {
    // q118 pins STATIC pruning (predicate on the partition column
    // itself); here the selective predicate is on o_orderdate, a dim
    // attribute — only Catalyst's injected dynamic-pruning subquery
    // can keep the fact scan from reading every ship_year partition.
    val stage = tempDir("dpp")
    try {
      sources.Catalog.table(spark, dir, "lineitem")
        .withColumn("ship_year", year(col("l_shipdate")))
        .write.mode(SaveMode.Overwrite).partitionBy("ship_year").parquet(stage)
      val joined = queries.Pipeline11.dppJoin(spark, dir, stage)
      assert(joined.collect().nonEmpty)
      // AdaptiveSparkPlanHelper.collect descends into AQE query
      // stages (leaf nodes to a plain TreeNode collect)
      val scan = collect(joined.queryExecution.executedPlan) {
          case f: FileSourceScanExec => f
        }
        .find(_.relation.location.rootPaths.exists(_.toString.contains(stage)))
        .getOrElse(fail("no partitioned fact scan in executed plan"))
      assert(scan.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning")),
        s"fact scan must carry a dynamic-pruning partition filter, " +
          s"got: ${scan.partitionFilters}")
      // the pruning is real: partitions read < partitions on disk
      val total = spark.read.parquet(stage)
        .select(col("ship_year")).distinct().count()
      val read = scan.metrics.get("numPartitions").map(_.value).getOrElse(-1L)
      assert(read > 0 && read < total,
        s"DPP must prune at runtime: read $read of $total partitions")
    } finally rm(stage)
  }

  test("q126: compaction reduces file count and preserves content exactly") {
    val d = sources.Catalog.table(spark, dir, "documents")
    val stage = tempDir("compact")
    try {
      d.repartition(48).write.mode(SaveMode.Overwrite).parquet(s"$stage/small")
      spark.read.parquet(s"$stage/small").repartition(4)
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/compact")
      def parts(p: String) = new java.io.File(p).listFiles()
        .count(f => f.getName.startsWith("part-"))
      assert(parts(s"$stage/small") === 48)
      assert(parts(s"$stage/compact") === 4)
      val back = spark.read.parquet(s"$stage/compact")
      assert(back.exceptAll(d).count() === 0)
      assert(d.exceptAll(back).count() === 0)
    } finally rm(stage)
  }

  test("q127: mergeSchema unifies evolved batches; v1 rows null-fill the new column") {
    val d = sources.Catalog.table(spark, dir, "documents")
    val stage = tempDir("evolve")
    try {
      d.filter(col("doc_id") % 2 === 0)
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/batch=1")
      d.filter(col("doc_id") % 2 === 1)
        .withColumn("quality_score", (col("n_chars") % 100).cast("int"))
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/batch=2")
      val back = spark.read.option("mergeSchema", "true").parquet(stage)
      assert(back.columns.contains("quality_score"))
      assert(back.count() === d.count())
      // the new column exists ONLY on post-evolution rows
      assert(back.filter(col("doc_id") % 2 === 0 &&
        col("quality_score").isNotNull).count() === 0)
      assert(back.filter(col("doc_id") % 2 === 1 &&
        col("quality_score").isNull).count() === 0)
      // a v1-only read doesn't carry the column at all
      val v1 = spark.read.parquet(s"$stage/batch=1")
      assert(!v1.columns.contains("quality_score"))
    } finally rm(stage)
  }

  test("q119: bucketed-by-key tables sort-merge join with zero exchanges") {
    val stage = tempDir("bkt")
    val oTab = "graft_spec_bkt_orders"
    val lTab = "graft_spec_bkt_lineitem"
    // disable broadcast so the bucketing (not a broadcast) is what
    // removes the exchange — this is the 100 TB fact⋈fact shape
    try PlanProbe.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      sources.Catalog.table(spark, dir, "orders").select("o_orderkey", "o_custkey")
        .write.mode(SaveMode.Overwrite).format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$stage/orders").saveAsTable(oTab)
      sources.Catalog.table(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
        .write.mode(SaveMode.Overwrite).format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$stage/lineitem").saveAsTable(lTab)

      val j = spark.table(oTab)
        .join(spark.table(lTab), col("o_orderkey") === col("l_orderkey"))
      val exec = j.queryExecution.executedPlan
      val inner = exec match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val exchanges = inner.collect { case e: Exchange => e }
      assert(exchanges.isEmpty,
        s"bucketed join must not shuffle; found: ${exchanges.map(_.nodeName)}")

      // and it is still the RIGHT answer vs the plain (shuffling) join
      val plain = sources.Catalog.table(spark, dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(sources.Catalog.table(spark, dir, "lineitem")
          .select("l_orderkey", "l_quantity"),
          col("o_orderkey") === col("l_orderkey"))
      assert(j.count() === plain.count())
      assert(j.exceptAll(plain).count() === 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $oTab")
      spark.sql(s"DROP TABLE IF EXISTS $lTab")
      rm(stage)
    }
  }
}
