package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Catalog
import StagedBases.{rmTree, stageDir}

/** Source/sink format round-trips (q115–q116): write a driver table
  * out in another interchange format, read it back, and aggregate a
  * content checksum — the DuckDB oracle computes the same aggregate
  * from the ORIGINAL parquet, so a hash match proves the round trip
  * preserved every row and every byte that feeds the checksum.
  *
  *  - q115 JSONL: the de-facto training-data interchange format.
  *    The checksum sums the polynomial hash of each document's text,
  *    so any escaping/unicode/null corruption in the JSON writer or
  *    reader changes the answer.
  *  - q116 ORC: the columnar alternative; the read-back query keeps a
  *    date filter on the scan so ORC predicate pushdown is exercised
  *    (and visible in the plan), and sums route through DECIMAL for
  *    order-independent exactness.
  *
  * The aggregate is eagerly materialized (localCheckpoint) before the
  * staged files are deleted — the returned relation owns its rows.
  */
object Formats {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q115_jsonl_roundtrip" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val stage = stageDir("q115_jsonl")
      d.write.mode(SaveMode.Overwrite).json(stage)
      val back = s.read.schema(d.schema).json(stage)
      val out = back.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextFunctions.polyHash(col("text"))).as("text_hash_sum"),
          sum(TextFunctions.polyHash(col("lang"))).as("lang_hash_sum"))
        .orderBy(col("source"))
        .localCheckpoint(true)
      rmTree(stage)
      out
    }),

    "q116_orc_roundtrip" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"), col("l_shipdate"))
      val stage = stageDir("q116_orc")
      li.write.mode(SaveMode.Overwrite).orc(stage)
      // ORC hands timestamps back as TIMESTAMP_NTZ; session TZ is
      // pinned UTC, so the cast to TIMESTAMP is value-identical
      val back = s.read.orc(stage)
        .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      val out = back
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(30,6)")).cast("double")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(30,6)")).cast("double")
            .as("sum_price"),
          max(unix_micros(col("l_shipdate"))).as("max_ship_us"),
          sum(col("l_orderkey")).as("key_sum"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
        .localCheckpoint(true)
      rmTree(stage)
      out
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q115_jsonl_roundtrip" -> {
      def ph(c: String) =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(range(1, length($c)+1), i_ -> CAST(ascii($c[i_]) AS BIGINT))), " +
          s"(h_, c_) -> (h_ * 131 + c_) % 1000000007)"
      s"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM(${ph("text")}) AS BIGINT) AS text_hash_sum,
         |  CAST(SUM(${ph("lang")}) AS BIGINT) AS lang_hash_sum
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },

    "q116_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
        |  epoch_us(MAX(l_shipdate)) AS max_ship_us,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
  )
}
