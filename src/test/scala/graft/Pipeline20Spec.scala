package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Pipeline20
import graft.sources.CommitLog

/** q221's net-effect replay: each key's last change, where an upsert
  * wins over a delete within one version. */
class Pipeline20Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("netEffect: within a version an upsert beats a delete, in " +
      "either row order; a later version beats an earlier one") {
    import spark.implicits._
    val rows = Seq(
      (1L, "old", "delete", 2L), (1L, "new", "insert", 2L),
      (2L, "a", "insert", 2L), (2L, "a", "delete", 3L),
      (3L, "pre", "update_preimage", 2L),
      (3L, "post", "update_postimage", 2L))
    Seq(rows, rows.reverse).foreach { rs =>
      val feed = rs.toDF("k", "v", "_change_type", "_commit_version")
        .repartition(1)
      val got = Pipeline20.netEffect(feed, "k")
        .select("k", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq
      assert(got === Seq((1L, "new", "insert"), (2L, "a", "delete"),
        (3L, "post", "update_postimage")))
    }
  }

  test("netEffect keeps the row a replaceWhere re-inserts in the " +
      "version that deletes it") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_p20_")
      .resolve("tbl").toString
    try {
      CommitLog.append(spark, t, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"))
      CommitLog.overwriteWhere(spark, t, Seq((1L, 11.0)).toDF("k", "v"),
        col("k") === 1L)
      val feed = CommitLog.changeFeed(spark, t, 1L)
      assert(feed.filter(col("k") === 1L).count() === 2L)
      val got = Pipeline20.netEffect(feed, "k")
        .select("k", "v", "_change_type").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      assert(got === Seq((1L, 11.0, "insert")))
    } finally {
      def go(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(go)); f.delete(): Unit
      }
      go(new java.io.File(t).getParentFile)
    }
  }
}
