package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanProbe
import graft.sources.{Catalog, Formats}

/** Format round-trips and partition-pruning evidence. */
class FormatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  test("csv and json round-trip the nation table with explicit schema") {
    val nation = Catalog.table(spark, sfDir, "nation")
    val base = Files.createTempDirectory("graft_fmt").toString
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("n_nationkey").collect().map(_.toString).toSeq

    Formats.writeCsv(nation, s"$base/csv")
    val fromCsv = Formats.readCsv(spark, s"$base/csv", nation.schema)
    assert(canon(fromCsv) == canon(nation))

    Formats.writeJsonLines(nation, s"$base/json")
    val fromJson = Formats.readJsonLines(spark, s"$base/json", nation.schema)
    assert(canon(fromJson) == canon(nation))
  }

  test("bucketed tables join without a shuffle exchange") {
    import org.apache.spark.sql.functions._
    val li = Catalog.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = Catalog.table(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    // stale warehouse dirs survive the in-memory catalog across JVMs
    Seq("b_lineitem", "b_orders").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    Formats.writeBucketed(li, "b_lineitem", Seq("l_orderkey"), 8)
    Formats.writeBucketed(ord, "b_orders", Seq("l_orderkey"), 8)
    // force the sort-merge path (tiny test tables would broadcast and
    // the planner then ignores bucketing entirely)
    PlanProbe.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
        Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-bucketed ⇒ sort-merge join with NO shuffle exchange
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      val expected = li.join(ord, Seq("l_orderkey")).count()
      assert(joined.count() == expected)
    }
  }

  test("partitioned write prunes partitions at the scan") {
    val li = Catalog.table(spark, sfDir, "lineitem")
    val base = Files.createTempDirectory("graft_part").toString + "/li"
    Formats.writePartitioned(li, base, Seq("l_returnflag"))
    val flags = li.select("l_returnflag").distinct().count()
    assert(flags > 1)

    val pruned = spark.read.parquet(base)
      .filter(col("l_returnflag") === "R")
    val scan = pruned.queryExecution.executedPlan.toString
    // predicate must land in PartitionFilters (directory pruning),
    // not as a post-scan data filter
    assert(scan.contains("PartitionFilters") &&
      scan.matches("(?s).*PartitionFilters: \\[[^\\]]*l_returnflag[^\\]]*\\].*"),
      scan)
    val expected = li.filter(col("l_returnflag") === "R").count()
    assert(pruned.count() == expected)
  }

  test("z-ordered layout: box filter reads far fewer rows than linear sort") {
    import spark.implicits._
    // 256×256 integer grid; box filter x<16 ∧ y<16 selects 256 rows
    val grid = (for (x <- 0 until 256; y <- 0 until 256) yield (x, y))
      .toDF("x", "y")
    val base = java.nio.file.Files.createTempDirectory("graft_z").toString
    // z-ordered: every 512-row file covers a compact 2-D block
    graft.sources.Formats.writeZOrdered(grid, s"$base/z", "x", "y",
      bits = 8, partitions = 4, maxRecordsPerFile = 512)
    // linear: globally sorted by x only — y min/max is useless per file
    grid.repartitionByRange(4, col("x")).sortWithinPartitions("x")
      .write.option("maxRecordsPerFile", "512").parquet(s"$base/lin")

    def rowsRead(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("x") < 16 && col("y") < 16)
      assert(df.count() == 256) // same answer either way
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .get
      scan.metrics("numOutputRows").value
    }
    val zRows = rowsRead(s"$base/z")
    val linRows = rowsRead(s"$base/lin")
    // z: the box is one compact z-range (z < 1024) → ≤ 2 files survive
    // parquet min/max pruning; linear: all files with x<16 must be
    // read in full because their y spans the whole domain
    assert(zRows <= 1024, s"z-ordered read $zRows rows")
    assert(linRows >= 4 * zRows,
      s"linear layout read $linRows, z-ordered $zRows — no contrast")
  }

  test("file-stats skipping index: prunes the file list, result equals full scan") {
    import spark.implicits._
    val li = Catalog.table(spark, sfDir, "lineitem")
    val base = Files.createTempDirectory("graft_stats").toString
    Formats.writeWithStats(li, s"$base/li", Seq("l_orderkey"),
      partitions = 8)
    val nFiles = new java.io.File(s"$base/li").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 8)
    // narrow key range → the index must hand Spark a strict subset
    val lo = 100L; val hi = 200L
    val skipped = Formats.readSkipping(spark, s"$base/li",
      "l_orderkey", lo, hi)
    val filesTouched = skipped.select(input_file_name()).distinct().count()
    assert(filesTouched < nFiles,
      s"index touched $filesTouched of $nFiles files — no skipping")
    // exactness: identical multiset vs the unindexed full-scan filter
    val full = li.filter(col("l_orderkey").between(lo, hi))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view
        .mapValues(_.size).toMap
    assert(canon(skipped) == canon(full))
    // empty intersection → zero-row result, same schema
    val none = Formats.readSkipping(spark, s"$base/li",
      "l_orderkey", -50L, -10L)
    assert(none.count() == 0)
    assert(none.schema == spark.read.parquet(s"$base/li").schema)
  }

  test("bloom skipping index: no false negatives, files skipped on " +
      "an unclustered key, absent probes read zero files") {
    val o = Catalog.table(spark, sfDir, "orders")
    val base = Files.createTempDirectory("graft_bloom").toString
    val data = s"$base/orders"
    // layout clustered by DATE — orderkeys scatter across every file,
    // so min/max stats on the key would prune NOTHING
    o.repartitionByRange(8, col("o_orderdate"), col("o_orderkey"))
      .sortWithinPartitions("o_orderdate")
      .write.parquet(data)
    Formats.writeBloomIndex(spark, data, "o_orderkey")
    val nFiles = new java.io.File(data).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 8)

    // no false negatives: EVERY key in the data is found (and found
    // identically to the full-scan filter)
    val allKeys = o.select(col("o_orderkey")).collect()
      .map(_.getLong(0)).toSeq
    val some = allKeys.sorted.grouped(math.max(1, allKeys.size / 25))
      .map(_.head).toSeq // 25 spread probes
    val viaBloom = Formats.readBloomSkipping(spark, data,
      "o_orderkey", some)
    val full = spark.read.parquet(data)
      .filter(col("o_orderkey").isin(some: _*))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view
        .mapValues(_.size).toMap
    assert(canon(viaBloom) == canon(full))

    // a single-key probe must skip most files (each key lives in ONE
    // file; fpp at these sizes keeps survivors well under half)
    val one = Formats.readBloomSkipping(spark, data, "o_orderkey",
      Seq(some.head))
    val touched = one.select(input_file_name()).distinct().count()
    assert(one.count() >= 1)
    assert(touched <= math.max(1, nFiles / 2),
      s"probe touched $touched of $nFiles files")

    // absent keys: bloom says no everywhere → zero-file read, empty
    // result, schema preserved
    val absent = Formats.readBloomSkipping(spark, data, "o_orderkey",
      Seq(allKeys.max + 101L, allKeys.max * 3 + 7L))
    assert(absent.count() == 0)
    assert(absent.schema == spark.read.parquet(data).schema)

    // the index probe is DISTRIBUTED: the membership test is a
    // Filter in the plan over the .bloom relation (runs where the
    // index rows live) — only surviving file names are collected,
    // never the raw index
    val keepDf = Formats.bloomKeepFiles(spark, data, Seq(some.head),
      1 << 18, 3)
    val lp = keepDf.queryExecution.optimizedPlan
    assert(lp.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.nonEmpty, s"no Filter in the index-probe plan:\n$lp")
    assert(keepDf.inputFiles.nonEmpty &&
      keepDf.inputFiles.forall(_.contains(".bloom")),
      s"index probe does not scan the .bloom relation: " +
        s"${keepDf.inputFiles.mkString(", ")}")
  }

  test("compact: many small files become few, data identical") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cmp").toString
    val p = s"$base/t"
    // 64 tiny files of 10 rows each
    spark.range(0, 640).select(col("id"), (col("id") % 7).as("v"))
      .repartition(64).write.parquet(p)
    def parquetFiles =
      new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquetFiles == 64)
    val before = spark.read.parquet(p).collect().toSet
    val n = graft.sources.Formats.compact(spark, p, targetRowsPerFile = 200)
    assert(n == 4) // ceil(640 / 200)
    // fresh read (no stale file-listing cache)
    spark.catalog.clearCache()
    assert(parquetFiles == 4)
    assert(spark.read.parquet(p).collect().toSet == before)
  }

  test("zOrderKey rejects out-of-range inputs loudly (no silent z-locality loss)") {
    import spark.implicits._
    val bad = Seq((-1, 3), (2, 5)).toDF("x", "y")
    val e = intercept[Exception] {
      bad.select(graft.sources.Formats.zOrderKey(col("x"), col("y"), 4))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("zOrderKey")), e.toString)
    // in-range rows still produce the interleaved key
    val ok = Seq((3, 5)).toDF("x", "y")
      .select(graft.sources.Formats.zOrderKey(col("x"), col("y"), 4)
        .as("z")).head.getLong(0)
    // x=0b0011 at even bits, y=0b0101 at odd bits → 0b100111 = 39
    assert(ok == 39L, s"z key was $ok")
  }
}
