package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TsqlFunctions._
import graft.operators.{Dedup, IdempotentInsert}
import graft.plans.PlanProbe

/** Pins the reference-fidelity semantics the DuckDB oracle can't see
  * (SURVEY §5.2 items 1 & 3). */
class FidelitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // R13: T-SQL `+` concat is NULL-propagating — either part NULL ⇒
  // whole string NULL (SELECT.py:85-88; SURVEY §7.5 names this the
  // easiest thing to get wrong via concat_ws).
  test("dtHrString NULL-propagates like T-SQL +") {
    import spark.implicits._
    val df = Seq(
      (Option(ts("2025-03-01 10:20:30")), Option(ts("2025-03-01 10:20:30"))),
      (None, Option(ts("2025-03-01 10:20:30"))),
      (Option(ts("2025-03-01 10:20:30")), None),
      (None, None)
    ).toDF("d", "t")
    val got = df.select(dtHrString(col("d"), col("t"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("01/03/2025 10:20:30", null, null, null))
  }

  // Zero-token text (empty/whitespace-only): ratio columns must be
  // NULL like SQL divide-by-zero (Spark non-ANSI, DuckDB), never JVM
  // NaN — NaN would hash-mismatch the oracle the day the corpus gains
  // such a document.
  test("textStats: zero-token text yields NULL ratios, not NaN") {
    import spark.implicits._
    val df = Seq((1L, "   "), (2L, ""), (3L, "one two"),
      (4L, null: String)).toDF("doc_id", "text")
    val rows = graft.functions.TextFunctions
      .textStats(df, "doc_id", col("text"), Seq("one"))
      .orderBy("doc_id").collect()
    // whitespace-only and empty: counts are 0, ratios NULL
    for (r <- rows.take(2)) {
      assert(r.getLong(1) == 0L, s"n_tokens: $r")
      assert(r.isNullAt(4) && r.isNullAt(5) && r.isNullAt(6),
        s"ratios must be NULL: $r")
      assert(!r.isNullAt(7), s"fingerprint of a real string is set: $r")
    }
    // normal doc: ratios present and finite
    val ok = rows(2)
    assert(!ok.isNullAt(4) && !ok.getDouble(4).isNaN)
    // NULL text: everything NULL
    assert((1 to 7).forall(rows(3).isNullAt))
  }

  test("tsqlConvert styles format like T-SQL CONVERT") {
    import spark.implicits._
    val df = Seq(ts("2025-12-31 23:59:58")).toDF("x")
    val styles = Seq(101 -> "12/31/2025", 102 -> "2025.12.31",
      103 -> "31/12/2025", 104 -> "31.12.2025", 105 -> "31-12-2025",
      108 -> "23:59:58", 110 -> "12-31-2025", 112 -> "20251231",
      120 -> "2025-12-31 23:59:58", 121 -> "2025-12-31 23:59:58.000")
    val got = df.select(styles.map { case (s, _) =>
      tsqlConvert(col("x"), s) }: _*).collect()(0)
    styles.zipWithIndex.foreach { case ((_, expect), i) =>
      assert(got.getString(i) == expect)
    }
    intercept[IllegalArgumentException](tsqlConvert(col("x"), 199))
  }

  // R5: latest-per-key is deterministic when the order key is unique,
  // and keeps exactly one row per key (SELECT.py:49,69).
  test("latestPerKey keeps the max-ordered row per key, exactly one") {
    import spark.implicits._
    val df = Seq(
      ("ciot1", 1, "a"), ("ciot1", 3, "c"), ("ciot1", 2, "b"),
      ("ciot2", 10, "x"),
      ("ciot3", 7, "m"), ("ciot3", 8, "n")
    ).toDF("nr_ciot", "id_manifesto", "payload")
    val got = Dedup
      .latestPerKey(df, Seq(col("nr_ciot")), Seq(col("id_manifesto").desc))
      .orderBy("nr_ciot").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(got == Seq(("ciot1", 3, "c"), ("ciot2", 10, "x"), ("ciot3", 8, "n")))
  }

  test("topKPerGroup returns k rows per group in order") {
    import spark.implicits._
    val df = Seq(("g", 1), ("g", 5), ("g", 3), ("h", 2)).toDF("k", "v")
    val got = Dedup.topKPerGroup(df, Seq(col("k")), Seq(col("v").desc), 2)
      .orderBy("k", "v").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == Seq(("g", 3), ("g", 5), ("h", 2)))
  }

  // R10/R11: CASE + ISNULL on decimals (SELECT.py:79-82).
  test("tsqlIsnull defaults NULL decimals to 0 inside arithmetic") {
    import spark.implicits._
    val df = Seq(
      ("Saldo do Frete", BigDecimal("100.00"), Option(BigDecimal("30.00"))),
      ("Saldo do Frete", BigDecimal("100.00"), None),
      ("Outro", BigDecimal("100.00"), Option(BigDecimal("30.00")))
    ).toDF("ds_parcela", "vl_parcela", "vl_combustivel")
    val out = df.select(
      when(col("ds_parcela") === "Saldo do Frete",
        col("vl_parcela") - tsqlIsnull(col("vl_combustivel"), lit(0)))
        .otherwise(col("vl_parcela")).cast("decimal(18,2)").as("v"))
      .collect().map(_.getDecimal(0).toPlainString).toSeq
    assert(out == Seq("70.00", "100.00", "100.00"))
  }

  // S4 idempotence laws (SURVEY §5.2 item 3):
  // write(write(t,df),df) == write(t,df); re-run inserts 0; existing
  // rows never updated (first-writer-wins, SELECT.py:146-148,217).
  test("IdempotentInsert.intoParquet: re-run inserts 0, never updates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_upsert").toString + "/t"
    val keys = Seq("id_manifesto", "cd_parcela")
    val v1 = Seq((1, "a", "old"), (2, "b", "x")).toDF("id_manifesto", "cd_parcela", "v")

    assert(IdempotentInsert.intoParquet(spark, v1, dir, keys) == 2L)
    // identical re-run: 0 inserted
    assert(IdempotentInsert.intoParquet(spark, v1, dir, keys) == 0L)
    // changed value on existing key + one new key: only the new key lands
    val v2 = Seq((1, "a", "NEW"), (3, "c", "y")).toDF("id_manifesto", "cd_parcela", "v")
    assert(IdempotentInsert.intoParquet(spark, v2, dir, keys) == 1L)
    val state = spark.read.parquet(dir).orderBy("id_manifesto")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(state == Seq((1, "a", "old"), (2, "b", "x"), (3, "c", "y")))
  }

  test("IdempotentInsert dedups within one incoming batch") {
    import spark.implicits._
    val incoming = Seq((1, "a", "p"), (1, "a", "q"), (2, "b", "r"))
      .toDF("id_manifesto", "cd_parcela", "v")
    val empty = incoming.limit(0)
    val got = IdempotentInsert.newRows(incoming, empty,
      Seq("id_manifesto", "cd_parcela"))
    assert(got.count() == 2)
  }

  // The row kept per key is the greatest payload struct, whatever the
  // partitioning: (1,"a","q") beats (1,"a","p").
  test("IdempotentInsert keeps a deterministic representative per key") {
    import spark.implicits._
    val incoming = Seq((1, "a", "p"), (1, "a", "q"))
      .toDF("id_manifesto", "cd_parcela", "v")
    for (n <- Seq("1", "7"))
      PlanProbe.withConf(spark, "spark.sql.shuffle.partitions" -> n) {
        val got = IdempotentInsert.newRows(incoming, incoming.limit(0),
          Seq("id_manifesto", "cd_parcela")).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
        assert(got == Seq((1, "a", "q")), s"shuffle.partitions=$n")
      }
  }
}
