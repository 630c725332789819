package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PlanProbe
import graft.sources.CommitLog

/** A warm re-run reuses the classes the run before it compiled. The
  * cache of generated classes is keyed by the code text, so a plan
  * recompiles whenever its code text changes: here, when a version
  * number is inlined as a literal, or when the whole-stage codegen id
  * is part of the class name. Compiles are counted with Spark's own
  * codegen metric, whose count grows by one per class compiled. */
class CodegenReuseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Classes compiled while `body` runs, and its result. */
  private def compiles[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  private def orders(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, k % 37, k * 1.5)).toDF("o_orderkey", "o_custkey",
      "o_totalprice")
  }

  test("a change feed over a new version range compiles no new class") {
    val t = java.nio.file.Files.createTempDirectory("graft_codegen_")
      .resolve("tbl").toString
    CommitLog.append(spark, t, orders(1L to 100L))  // v1
    CommitLog.append(spark, t, orders(101L to 200L))  // v2
    CommitLog.append(spark, t, orders(201L to 300L))  // v3
    CommitLog.delete(spark, t, col("o_orderkey") <= 10L)  // v4
    CommitLog.delete(spark, t, col("o_orderkey") > 290L)  // v5
    def feed(after: Long, to: Long) = CommitLog.changeFeed(spark, t, after,
      toVersion = Some(to)).select("o_orderkey", "_change_type",
      "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // one append, then one delete: the warm-up compiles each shape
    assert(feed(1L, 2L) == (101L to 200L).map((_, "insert", 2L)).toSet)
    assert(feed(3L, 4L) == (1L to 10L).map((_, "delete", 4L)).toSet)
    // the same shapes over the next version compile nothing
    val (appended, c3) = compiles(feed(2L, 3L))
    assert(appended == (201L to 300L).map((_, "insert", 3L)).toSet)
    assert(c3 == 0L, "an append feed over v3 recompiled")
    val (deleted, c5) = compiles(feed(4L, 5L))
    assert(deleted == (291L to 300L).map((_, "delete", 5L)).toSet)
    assert(c5 == 0L, "a delete feed over v5 recompiled")
    // and the stamp keeps the feed schema: a non-null long
    val f = CommitLog.changeFeed(spark, t, 0L).schema("_commit_version")
    assert(f.dataType == org.apache.spark.sql.types.LongType && !f.nullable)
  }

  test("a stage under a new codegen id reuses its class with the engine's " +
      "class names") {
    // build.sbt starts the suites' JVM on the engine's settings
    EngineSession.codegen.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    // the engine's runtime codegen confs (the cache size is static and
    // fixed for the JVM when its first class compiles)
    val runtime = EngineSession.codegen
      .filterNot { case (k, _) => SQLConf.isStaticConfigKey(k) }
    // `tag` keeps each case's code text apart from every other plan's
    def sub(tag: Long) = spark.range(0L, 1000L, 1L, 2)
      .selectExpr(s"id * $tag AS x").where("x % 3 = 0")
    def other(tag: Long) = spark.range(0L, 10L, 1L, 2)
      .selectExpr(s"id + $tag AS x")
    // `sub` runs alone as stage 1, then as stage 2 behind `other`
    def rerun(tag: Long): Long = {
      sub(tag).collect(); other(tag).collect()
      val (rows, n) = compiles(other(tag).union(sub(tag)).collect())
      assert(rows.length == 10 + 334)
      n
    }
    PlanProbe.withConf(spark, runtime: _*) {
      assert(rerun(7919L) == 0L)
    }
    // the control: with the id in the class name the same stage compiles
    PlanProbe.withConf(spark, "spark.sql.codegen.useIdInClassName" -> "true") {
      assert(rerun(7927L) > 0L)
    }
  }
}
