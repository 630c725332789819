package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CommitLog, CommitLogStats}

/** The one OCC commit path (`CommitLog.transact`): every retrying verb
  * rebases on a lost version race to the same result as an
  * uncontended run, and a writer that loses, refuses or gives up
  * leaves no unreferenced data, CDC or deletion-vector directory. */
class CommitLogTransactSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_transact_")
      .resolve("tbl").toString

  private def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go)); f.delete(): Unit
    }
    go(new java.io.File(path).getParentFile)
  }

  private def df(rows: (Long, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "name", "v")
  }

  private def rows(t: String): Seq[String] =
    CommitLog.read(spark, t).collect().map(_.toString).toSeq.sorted

  /** Two appends: two segments, three rows, all `v > 0`. */
  private def seed(t: String): Unit = {
    CommitLog.append(spark, t, df((1L, "a", 1.0), (2L, "b", 2.0)))
    CommitLog.append(spark, t, df((3L, "c", 3.0)))
  }

  /** Directories under `data/`, `_changes/` and `_dv/` that no
    * retained version references. */
  private def unreferenced(t: String): Seq[String] = {
    val snaps = CommitLog.versions(spark, t)
      .flatMap(v => CommitLog.snapshot(spark, t, Some(v)))
    val referenced = snaps.flatMap(s =>
      s.segments ++ s.changes ++ s.dv).map(p => new java.io.File(p).getName)
      .toSet
    Seq("data", "_changes", "_dv").flatMap { d =>
      Option(new java.io.File(s"$t/$d").listFiles).toSeq.flatten
        .filter(_.isDirectory).map(_.getName)
        .filterNot(referenced).map(n => s"$d/$n")
    }
  }

  private val verbs: Seq[(String, String => Any)] = Seq(
    "append" -> (t => CommitLog.append(spark, t, df((7L, "g", 7.0)))),
    "appendTxn" -> (t =>
      CommitLog.appendTxn(spark, t, df((7L, "g", 7.0)), "app", 1L)),
    "mergeInto" -> (t => CommitLog.mergeInto(spark, t,
      df((2L, "bb", 20.0), (9L, "z", 9.0)), Seq("id"),
      whenMatchedUpdate = Map("name" -> CommitLog.src("name"),
        "v" -> CommitLog.src("v")))),
    "delete" -> (t => CommitLog.delete(spark, t, col("id") === 2L)),
    "deleteVectored" -> (t =>
      CommitLog.deleteVectored(spark, t, col("id") === 2L)),
    "deleteVectoredKeys" -> (t => CommitLog.deleteVectoredKeys(spark, t,
      df((2L, "b", 2.0)).select("id"), Seq("id"))),
    "deleteVectored at maxDvRows 0" -> (t => CommitLog.deleteVectored(
      spark, t, col("id") === 2L, maxDvRows = 0L)),
    "updateVectored" -> (t => CommitLog.updateVectored(spark, t,
      col("id") === 1L, Map("v" -> lit(10.0)))),
    "updateVectored at maxDvRows 0" -> (t => CommitLog.updateVectored(
      spark, t, col("id") === 1L, Map("v" -> lit(10.0)), maxDvRows = 0L)),
    "update" -> (t => CommitLog.update(spark, t, col("id") === 1L,
      Map("v" -> lit(10.0)))),
    "overwriteWhere" -> (t => CommitLog.overwriteWhere(spark, t,
      df((2L, "x", 5.0)), col("id") === 2L)),
    "compact" -> (t => CommitLog.compact(spark, t, 100L)),
    "compactClustered" -> (t => CommitLogStats.compactClustered(spark,
      t, Seq("id"), 2, Seq("id"))),
    "setConstraint" -> (t =>
      CommitLog.setConstraint(spark, t, "v_pos", "v > 0")),
    "evolveColumns" -> (t => CommitLog.evolveColumns(spark, t,
      Seq(org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType)))))

  verbs.foreach { case (name, verb) =>
    test(s"$name retried after one lost publish equals the " +
        "uncontended run and leaves nothing unreferenced") {
      val (t, twin) = (tmpTable(), tmpTable())
      try {
        seed(t); seed(twin)
        val store = new ManifestStores.LoseOnce()
        val got = ManifestStores.withStore(t, store)(verb(t))
        assert(store.fired, "no publish was lost")
        assert(got === verb(twin))
        assert(rows(t) === rows(twin))
        assert(CommitLog.versions(spark, t) ===
          CommitLog.versions(spark, twin))
        assert(unreferenced(t) === Nil)
      } finally { rm(t); rm(twin) }
    }
  }

  test("an append that loses every race throws and drops its " +
      "staged segment") {
    val t = tmpTable()
    try {
      seed(t)
      ManifestStores.withStore(t,
          new CommitLog.ConditionalPutStore((_, _) => false)) {
        val e = intercept[java.io.IOException] {
          CommitLog.append(spark, t, df((7L, "g", 7.0)))
        }
        assert(e.getMessage.contains("lost the version race 20 times"))
      }
      assert(CommitLog.versions(spark, t) === Seq(1L, 2L))
      assert(unreferenced(t) === Nil)
    } finally rm(t)
  }

  private val refusedDml: Seq[(String, String => Any)] = Seq(
    "mergeInto" -> (t => CommitLog.mergeInto(spark, t,
      df((2L, "bb", -1.0)), Seq("id"),
      whenMatchedUpdate = Map("v" -> CommitLog.src("v")))),
    "update" -> (t => CommitLog.update(spark, t, col("id") === 2L,
      Map("v" -> lit(-1.0)))),
    "updateVectored" -> (t => CommitLog.updateVectored(spark, t,
      col("id") === 2L, Map("v" -> lit(-1.0)))),
    "updateVectored at maxDvRows 0" -> (t => CommitLog.updateVectored(
      spark, t, col("id") === 2L, Map("v" -> lit(-1.0)), maxDvRows = 0L)))

  refusedDml.foreach { case (name, verb) =>
    test(s"$name refused by a CHECK constraint leaves no change " +
        "record behind") {
      val t = tmpTable()
      try {
        seed(t)
        CommitLog.setConstraint(spark, t, "v_pos", "v > 0")
        val before = rows(t)
        val e = intercept[IllegalStateException](verb(t))
        assert(e.getMessage.contains("v_pos"))
        assert(rows(t) === before)
        assert(unreferenced(t) === Nil)
      } finally rm(t)
    }
  }

  test("installClustered that loses v1 to another creator refuses " +
      "and drops its segments; the winner's rows stand") {
    val t = tmpTable()
    try {
      val store = new ManifestStores.LoseOnce(() =>
        CommitLog.append(spark, t, df((9L, "other", 9.0))): Unit)
      ManifestStores.withStore(t, store) {
        intercept[IllegalStateException] {
          CommitLogStats.installClustered(spark, t,
            df((1L, "a", 1.0), (2L, "b", 2.0)), Seq("id"), 2, Seq("id"))
        }
      }
      assert(store.fired, "the interleave never happened")
      assert(CommitLog.versions(spark, t) === Seq(1L))
      assert(rows(t) === Seq("[9,other,9.0]"))
      val data = new java.io.File(s"$t/data").listFiles.toSeq
        .filter(_.isDirectory).map(_.getName)
      assert(data === CommitLog.snapshot(spark, t).get.segments
        .map(p => new java.io.File(p).getName))
    } finally rm(t)
  }
}
