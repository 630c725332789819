package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Catalog

/** `Catalog.table` infers a source's parquet schema once per file set and
  * session parquet confs, and still sees every change to the files. */
class CatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // the repository's copy of the sf0.01 test dataset (TESTDATA.md);
  // o_orderdate is TIMESTAMP(MICROS, isAdjustedToUTC=false)
  val sfDir = "perfbench/data/sf0.01"

  private def tempSource(): String =
    Files.createTempDirectory("graft_catalog").toString

  test("a second table() on an unchanged file launches no Spark job") {
    import spark.implicits._
    val dir = tempSource()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    assert(SparkJobs.launchedBy(spark)(Catalog.table(spark, dir, "t"))._2
      >= 1)
    val (again, jobs) =
      SparkJobs.launchedBy(spark)(Catalog.table(spark, dir, "t"))
    assert(jobs == 0)
    assert(again.columns.toSeq == Seq("id", "v"))
    assert(again.count() == 2)
  }

  test("overwriting the file with an extra column yields the new schema") {
    import spark.implicits._
    val dir = tempSource()
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    assert(Catalog.table(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    Seq((1L, "a", 3.5)).toDF("id", "v", "extra")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Catalog.table(spark, dir, "t")
    assert(t.columns.toSeq == Seq("id", "v", "extra"))
    assert(t.collect().map(_.getDouble(2)).toSeq == Seq(3.5))
  }

  test("a file added to a directory source shows its rows") {
    import spark.implicits._
    val dir = tempSource()
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
    assert(Catalog.table(spark, dir, "t").count() == 1)
    Seq((2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("append").parquet(s"$dir/t.parquet")
    assert(Catalog.table(spark, dir, "t").count() == 3)
  }

  test("a changed parquet-reading conf re-infers the schema") {
    val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def orderDate = Catalog.table(spark, sfDir, "orders")
      .schema("o_orderdate").dataType
    assert(orderDate == TimestampNTZType)
    spark.conf.set(conf, "false")
    try assert(orderDate == TimestampType)
    finally spark.conf.unset(conf)
    assert(orderDate == TimestampNTZType)
  }

  test("cached reads keep the schema a plain parquet read infers") {
    val present = Catalog.tableNames
      .filter(n => new java.io.File(s"$sfDir/$n.parquet").exists)
    assert(present.size == 7)
    present.foreach { n =>
      val plain = spark.read.parquet(s"$sfDir/$n.parquet").schema
      // the first call may infer, the second reads the cached schema
      Catalog.table(spark, sfDir, n)
      assert(Catalog.table(spark, sfDir, n).schema == plain, n)
    }
  }

  test("events.ts normalizes to TimestampType from both encodings, cached") {
    import spark.implicits._
    val dir = tempSource()
    val at = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts = Catalog.table(spark, dir, "events").select("ts")
    Seq(java.time.LocalDateTime.parse("2024-01-01T10:00:00")).toDF("ts")
      .write.parquet(s"$dir/events.parquet")
    (1 to 2).foreach { _ =>
      assert(ts.schema("ts").dataType == TimestampType)
      assert(ts.as[java.sql.Timestamp].collect().toSeq == Seq(at))
    }
    // nanos since epoch, the shape nanosAsLong surfaces as LongType
    Seq(at.getTime * 1000000L).toDF("ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    (1 to 2).foreach { _ =>
      assert(ts.schema("ts").dataType == TimestampType)
      assert(ts.as[java.sql.Timestamp].collect().toSeq == Seq(at))
    }
  }
}
