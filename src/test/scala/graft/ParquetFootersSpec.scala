package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CommitLog, CommitLogStats, ParquetFooters}

/** `ParquetFooters` resolves, on the driver, exactly the schema Spark's
  * own inference returns for the same parquet path list under the same
  * session confs, and the row count a `count()` of that read returns —
  * over every commit-log layout that reads without a recorded schema, and
  * over every directory such a table holds. */
class ParquetFootersSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_footer_").toString

  private def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go)); f.delete(): Unit
    }
    go(new java.io.File(path))
  }

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "v")
  }

  /** Every path list a reader of `t` hands to parquet: the live segment
    * list, each segment, and each retained version's change record and
    * deletion vector. */
  private def pathLists(t: String): Seq[Seq[String]] = {
    val snaps = CommitLog.versions(spark, t)
      .flatMap(v => CommitLog.snapshot(spark, t, Some(v)))
    val live = snaps.last.segments
    (Seq(live) ++ live.map(Seq(_)) ++
      snaps.flatMap(s => s.changes.toSeq ++ s.dv.toSeq).map(Seq(_))).distinct
  }

  private def assertSameAsSpark(paths: Seq[String]): Unit = {
    val got = ParquetFooters.schema(spark, paths)
    assert(got.isDefined, s"no driver-side schema for $paths")
    assert(got.get === spark.read.parquet(paths: _*).schema, paths)
    assert(ParquetFooters.rowCount(spark, paths) ===
      Some(spark.read.parquet(paths: _*).count()), paths)
  }

  private def assertTable(t: String): Unit =
    pathLists(t).foreach(assertSameAsSpark)

  test("plain append: every path list resolves to Spark's schema") {
    val root = tmpRoot()
    try {
      val t = s"$root/t"
      CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.append(spark, t, df((3L, "c", 3.0)).repartition(3))
      assert(CommitLog.snapshot(spark, t).get.schema.isEmpty)
      assertTable(t)
    } finally rm(root)
  }

  test("mixed segment lists: the first file in path order decides, " +
      "whatever order the list names the segments in") {
    val root = tmpRoot()
    try {
      import spark.implicits._
      val t = s"$root/t"
      CommitLog.append(spark, t, df((1L, "a", 1.0)))
      // the same columns in another order, and a non-nullable column
      CommitLog.append(spark, t,
        Seq((2.0, "b", 2L)).toDF("v", "name", "id"))
      CommitLog.append(spark, t, spark.range(3, 6).toDF("id")
        .withColumn("name", lit("x")).withColumn("v", col("id") * 1.0))
      val segs = CommitLog.snapshot(spark, t).get.segments
      segs.permutations.foreach(assertSameAsSpark)
      segs.combinations(2).foreach(assertSameAsSpark)
      // the change record of a delete sits beside the segments
      CommitLog.delete(spark, t, col("id") === 4L)
      assertTable(t)
    } finally rm(root)
  }

  test("evolved, partitioned, column-mapped and DV-bearing tables") {
    val root = tmpRoot()
    try {
      import spark.implicits._
      val evolved = s"$root/evolved"
      CommitLog.append(spark, evolved, df((1L, "a", 1.0)))
      CommitLog.appendEvolve(spark, evolved,
        Seq((2L, "b", 2.0, "e")).toDF("id", "name", "v", "extra"))
      assertTable(evolved)

      val parted = s"$root/parted"
      CommitLogStats.appendPartitioned(spark, parted,
        df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)), Seq("name"))
      assertTable(parted)

      val mapped = s"$root/mapped"
      CommitLog.append(spark, mapped, df((1L, "a", 1.0)))
      CommitLog.renameColumn(spark, mapped, "v", "score")
      CommitLog.append(spark, mapped,
        Seq((2L, "b", 2.0)).toDF("id", "name", "score"))
      assertTable(mapped)

      val dv = s"$root/dv"
      CommitLog.append(spark, dv, df((1L, "a", 1.0), (2L, "b", 2.0)))
      CommitLog.deleteVectored(spark, dv, col("id") === 1L)
      assert(CommitLog.snapshot(spark, dv).get.dv.isDefined)
      assertTable(dv)
      assert(CommitLog.read(spark, dv).count() === 1L)
    } finally rm(root)
  }

  test("CTAS table") {
    val root = tmpRoot()
    try {
      spark.conf.set("spark.sql.catalog.gfs",
        "graft.sources.CommitLogCatalog")
      spark.conf.set("spark.sql.catalog.gfs.root", root)
      spark.sql("CREATE TABLE gfs.ns.t AS " +
        "SELECT * FROM VALUES (1, 'a'), (2, 'b') AS v(id, name)")
      assertTable(s"$root/ns/t")
    } finally {
      spark.conf.unset("spark.sql.catalog.gfs")
      spark.conf.unset("spark.sql.catalog.gfs.root")
      rm(root)
    }
  }

  test("the parquet confs are part of the key: toggling " +
      "inferTimestampNTZ re-resolves a file without Spark metadata") {
    val root = tmpRoot()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    try {
      // the repository's sf0.01 orders file: o_orderdate is
      // TIMESTAMP(MICROS, isAdjustedToUTC=false), written outside Spark
      val seg = s"$root/seg"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(seg))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("perfbench/data/sf0.01/orders.parquet"),
        java.nio.file.Paths.get(s"$seg/part-0.parquet"))
      val seen = Seq("true", "false", "true").map { v =>
        spark.conf.set(key, v)
        assertSameAsSpark(Seq(seg))
        ParquetFooters.schema(spark, Seq(seg)).get("o_orderdate").dataType
      }
      assert(seen.distinct.size === 2)
    } finally {
      spark.conf.unset(key)
      rm(root)
    }
  }

  test("outside the flat segment layout Spark infers, as before") {
    val root = tmpRoot()
    try {
      val nested = s"$root/nested"
      df((1L, "a", 1.0)).write.partitionBy("name").parquet(nested)
      assert(ParquetFooters.schema(spark, Seq(nested)).isEmpty)
      assert(ParquetFooters.read(spark, Seq(nested)).schema ===
        spark.read.parquet(nested).schema)
      val flat = s"$root/flat"
      df((1L, "a", 1.0)).write.parquet(flat)
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      try assert(ParquetFooters.schema(spark, Seq(flat)).isEmpty)
      finally spark.conf.unset("spark.sql.parquet.mergeSchema")
      assert(ParquetFooters.schema(spark, Seq(flat)).isDefined)
    } finally rm(root)
  }
}
