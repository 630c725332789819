package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Checks of the correctness gate's fingerprint on a small table: layout
  * does not matter, any corrupted, lost or duplicated row does, and
  * fingerprints combine by difference. Exits non-zero on a failure.
  *
  * Usage: perfbench.SelfTest   (run by perfbench/test_bench.py)
  */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .appName("perfbench-selftest").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("x", DoubleType), StructField("t", TimestampType)))
    val rows = (0L until 200L).map(i => Row(i, s"name-$i",
      if (i % 7 == 0) null else i * 1.25,
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2000, 1, 1, 0, 0)
        .plusDays(i))))
    def df(rs: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
    val base = Fingerprint.of(df(rows))

    var failures = 0
    def expect(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    expect("row count", base.rows == 200L)
    expect("same rows, other order and partitioning",
      Fingerprint.of(df(rows.reverse).repartition(7)) == base)
    expect("column order does not matter",
      Fingerprint.of(df(rows).select("t", "x", "s", "k")) == base)
    expect("named columns are hashed in the order given",
      Fingerprint.of(df(rows), Seq("s", "k", "x", "t")) != base)
    val corrupted = rows.updated(42, Row(42L, "name-42", 52.51,
      rows(42).get(3)))
    expect("a corrupted value fails", Fingerprint.of(df(corrupted)) != base)
    val nulled = rows.updated(43, Row(43L, "name-43", null, rows(43).get(3)))
    expect("a value turned NULL fails", Fingerprint.of(df(nulled)) != base)
    expect("a lost row fails", Fingerprint.of(df(rows.tail)) != base)
    expect("a duplicated row fails",
      Fingerprint.of(df(rows :+ rows.head)) != base)
    val swapped = rows.updated(1, Row(1L, "name-2", 1.25, rows(1).get(3)))
      .updated(2, Row(2L, "name-1", 2.5, rows(2).get(3)))
    expect("values swapped between rows fail",
      Fingerprint.of(df(swapped)) != base)
    val changed = rows.take(100) ++ rows.drop(100).map(r =>
      Row(r.getLong(0), r.getString(1) + "!", r.get(2), r.get(3)))
    expect("fingerprints combine: base - removed + added",
      base - Fingerprint.of(df(rows.drop(100))) +
        Fingerprint.of(df(changed.drop(100))) == Fingerprint.of(df(changed)))
    expect("empty table", Fingerprint.of(df(Nil)) == Fingerprint.empty)
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
