package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IdempotentInsert
import graft.pipelines.{Jobs, ParcelaCiot}

/** The parcel sink path: the unordered rows it loads, the column order
  * of the files the idempotent insert appends, and what a re-run or a
  * failed append leaves in the sink (nothing). */
class ParcelaSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // the repository's copy of the sf0.01 test dataset (TESTDATA.md)
  val sfDir = "perfbench/data/sf0.01"

  /** Every file in `dir` (hidden ones too) with its length. */
  def listing(dir: String): Seq[(String, Long)] =
    new File(dir).listFiles().toSeq.map(f => f.getName -> f.length).sorted

  test("appended files keep the incoming column order when the key is not first") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsert_order").toString + "/t"
    val keys = Seq("id")
    assert(IdempotentInsert.intoParquet(spark,
      Seq(("a", 1L), ("b", 2L)).toDF("v", "id"), dir, keys) == 2L)
    assert(IdempotentInsert.intoParquet(spark,
      Seq(("b", 2L), ("c", 3L)).toDF("v", "id"), dir, keys) == 1L)
    assert(IdempotentInsert.intoParquet(spark,
      Seq(("d", 4L)).toDF("v", "id"), dir, keys) == 1L)
    val files = new java.io.File(dir).listFiles().toSeq.map(_.getPath)
      .filter(_.endsWith(".parquet"))
    assert(files.size >= 3)
    files.foreach { f =>
      assert(spark.read.parquet(f).columns.toSeq == Seq("v", "id"), f)
    }
    assert(spark.read.parquet(dir).orderBy("id").as[(String, Long)]
      .collect().toSeq == Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)))
  }

  test("alimentacao_parcela_ciot loads build's rows, one per sink key") {
    val out = Files.createTempDirectory("graft_parcela_sink").toString
    Jobs.standardJobs(sfDir, out).find(_.name == "alimentacao_parcela_ciot")
      .get.run(spark)
    // the job's per-key dedup (greatest payload struct), restated as an
    // aggregate over the ordered query form
    val built = ParcelaCiot.build(spark, sfDir)
    val pk = Seq("id_manifesto", "cd_parcela")
    val payload = built.columns.filterNot(pk.contains).toSeq
    val expected = built
      .groupBy(pk.map(col): _*)
      .agg(max(struct(payload.map(col): _*)).as("p"))
      .select(pk.map(col) ++ payload.map(c => col(s"p.$c")): _*)
      .select(built.columns.toSeq.map(col): _*)
    val sink = spark.read.parquet(s"$out/parcela_ciot")
    assert(sink.columns.toSeq == built.columns.toSeq)
    val got = sink.collect().map(_.toString).sorted
    val want = expected.collect().map(_.toString).sorted
    assert(got.nonEmpty)
    assert(got.length == want.length && got.sameElements(want))
  }

  // Measured on sf0.01, local[4], 4 shuffle partitions: the re-run took
  // 19 Spark jobs when the sink persisted, counted and then appended,
  // and 16 with one staged write counted by an observation.
  val JobBudget = 16

  test("an idempotent re-run of alimentacao_parcela_ciot writes nothing") {
    val out = Files.createTempDirectory("graft_parcela_rerun").toString
    val job = Jobs.standardJobs(sfDir, out)
      .find(_.name == "alimentacao_parcela_ciot").get
    job.run(spark)
    val before = listing(s"$out/parcela_ciot")
    assert(before.exists(_._1.endsWith(".parquet")))
    // the suites share one session: start the re-run from an empty cache
    spark.catalog.clearCache()
    val (_, jobs) = SparkJobs.launchedBy(spark)(job.run(spark))
    assert(listing(s"$out/parcela_ciot") == before)
    // no staging directory is left beside the sink
    assert(new File(out).list().toSeq == Seq("parcela_ciot"))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(jobs <= JobBudget, s"$jobs Spark jobs")
  }

  test("a failed append leaves the sink as it was") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsert_fail").toString
    val sink = s"$dir/t"
    val keys = Seq("id")
    assert(IdempotentInsert.intoParquet(spark,
      Seq((1L, "a")).toDF("id", "v"), sink, keys) == 1L)
    val before = listing(sink)
    val boom = udf((v: String) =>
      if (v == "boom") throw new IllegalStateException("boom") else v)
    val bad = Seq((2L, "b"), (3L, "boom")).toDF("id", "v")
      .withColumn("v", boom(col("v")))
    intercept[Exception](IdempotentInsert.intoParquet(spark, bad, sink, keys))
    assert(listing(sink) == before)
    assert(new File(dir).list().toSeq == Seq("t"))
    assert(IdempotentInsert.intoParquet(spark,
      Seq((2L, "b"), (3L, "c")).toDF("id", "v"), sink, keys) == 2L)
    assert(spark.read.parquet(sink).orderBy("id").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }
}
