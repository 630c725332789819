package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sources.Catalog
import StagedBases.{rmTree, stageDir}

/** Storage-layout round-trips (q117–q119): the three techniques a
  * 100 TB deployment leans on to avoid reading or shuffling data it
  * doesn't need, each proved against the parquet-direct DuckDB oracle
  * (the oracle never sees the staged copy, so a hash match proves the
  * layout transformation is content-faithful).
  *
  *  - q117 CSV: completes the interchange-format matrix (parquet /
  *    JSONL / ORC / CSV). The documents corpus is CSV-benign, so the
  *    query first derives a hostile column (embedded separator, quote,
  *    newline, tab) and proves the writer's RFC-4180 quoting and the
  *    multiLine reader reproduce it byte-for-byte.
  *  - q118 hive-style partitioned layout: write orders partitioned by
  *    order year, read back with a partition-column predicate. At scale
  *    this is THE first-line scan reducer — the predicate prunes whole
  *    directories at planning time, no file footer is even opened
  *    (LayoutSpec pins the `PartitionFilters` in the scan node).
  *  - q119 bucketed co-located join: both join sides written
  *    `bucketBy(8, key)` + sorted, so the sort-merge join consumes the
  *    on-disk bucketing and needs NO shuffle exchange on either side
  *    (LayoutSpec pins the exchange-free plan). On a cluster this turns
  *    the recurring fact⋈fact shuffle — the dominant cost of a repeated
  *    join at 100 TB — into a one-time write-side cost.
  *
  * Reference anchor: the reference's one embedded T-SQL query
  * (Select de Importação de Dados.py:34-99) delegates all layout
  * decisions to SQL Server's clustered indexes; these queries are the
  * lakehouse equivalents of that capability.
  */
object Layouts {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  /** documents + a quoting-hostile derived column (comma, quote,
    * newline, tab all embedded). Shared by the query and LayoutSpec. */
  private[graft] def hostileDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").withColumn(
      "hostile",
      concat(lit("a,\"b\"\n"), col("text"), lit("\t|\""), col("lang")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q117_csv_roundtrip" -> ((s, dir) => {
      val d = hostileDocs(s, dir)
        .select(col("doc_id"), col("hostile"), col("source"), col("n_chars"))
      val stage = stageDir("q117_csv")
      // RFC-4180 quoting (doubled quotes) on both sides; multiLine on
      // the read so embedded newlines stay inside the quoted field.
      // multiLine makes each file non-splittable — at scale the writer
      // side's many-files-per-partition output keeps read parallelism.
      d.write.mode(SaveMode.Overwrite)
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .csv(stage)
      val back = s.read.schema(d.schema)
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .option("multiLine", "true")
        .csv(stage)
      val out = back.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextFunctions.polyHash(col("hostile"))).as("hostile_hash_sum"))
        .orderBy(col("source"))
        .localCheckpoint(true)
      rmTree(stage)
      out
    }),

    "q118_partition_prune" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      val stage = stageDir("q118_part")
      o.write.mode(SaveMode.Overwrite).partitionBy("o_year").parquet(stage)
      // the o_year >= 1996 predicate is a partition filter: pre-1996
      // directories are pruned at planning time and never scanned
      val back = s.read.parquet(stage).filter(col("o_year") >= 1996)
      val out = back
        .groupBy(col("o_year").cast("long").as("o_year"))
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_custs"),
          sum(col("o_totalprice").cast("decimal(30,6)")).cast("double")
            .as("sum_price"))
        .orderBy(col("o_year"))
        .localCheckpoint(true)
      rmTree(stage)
      out
    }),

    "q119_bucketed_join" -> ((s, dir) => {
      val stage = stageDir("q119_bkt")
      val oTab = "graft_q119_orders"
      val lTab = "graft_q119_lineitem"
      s.sql(s"DROP TABLE IF EXISTS $oTab")
      s.sql(s"DROP TABLE IF EXISTS $lTab")
      t(s, dir, "orders").select("o_orderkey", "o_custkey")
        .write.mode(SaveMode.Overwrite).format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$stage/orders").saveAsTable(oTab)
      t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_quantity")
        .write.mode(SaveMode.Overwrite).format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$stage/lineitem").saveAsTable(lTab)
      val j = s.table(oTab)
        .join(s.table(lTab), col("o_orderkey") === col("l_orderkey"))
      val out = j
        .groupBy(pmod(col("o_custkey"), lit(100L)).as("cust_bucket"))
        .agg(
          count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("decimal(30,6)")).cast("double")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(30,6)")).cast("double")
            .as("sum_price"))
        .orderBy(col("cust_bucket"))
        .localCheckpoint(true)
      s.sql(s"DROP TABLE IF EXISTS $oTab")
      s.sql(s"DROP TABLE IF EXISTS $lTab")
      rmTree(stage)
      out
    }),

    // Small-file compaction — the recurring lakehouse maintenance op:
    // a streaming ingest leaves N tiny files per partition (here 48
    // staged shards); compaction rewrites them as few target-size
    // files WITHOUT changing a byte of content. The checksum aggregate
    // is computed from the compacted copy and must hash-match the
    // parquet-direct oracle; LayoutSpec pins the file-count reduction.
    "q126_file_compaction" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val stage = stageDir("q126_compact")
      d.repartition(48).write.mode(SaveMode.Overwrite)
        .parquet(s"$stage/small")
      s.read.parquet(s"$stage/small")
        .repartition(4) // the compaction itself
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/compact")
      val back = s.read.parquet(s"$stage/compact")
      val out = back.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextFunctions.polyHash(col("text"))).as("text_hash_sum"))
        .orderBy(col("source"))
        .localCheckpoint(true)
      rmTree(stage)
      out
    }),

    // Schema evolution — batch 1 lands with the v1 schema, batch 2
    // adds a quality_score column; `mergeSchema` unifies the read and
    // null-fills the pre-evolution rows. The aggregate proves the
    // evolved read loses no rows, attributes the new column only to
    // post-evolution batches, and keeps the old columns byte-exact.
    // (Integer score — n_chars mod 100 — so the oracle replay is
    // arithmetic-exact.)
    "q127_schema_evolution" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // parity split (scale-independent: both batches non-empty at
      // every sf): even doc_ids land in the v1 batch, odd in v2
      val stage = stageDir("q127_evolve")
      d.filter(col("doc_id") % 2 === 0)
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/batch=1")
      d.filter(col("doc_id") % 2 === 1)
        .withColumn("quality_score", (col("n_chars") % 100).cast("int"))
        .write.mode(SaveMode.Overwrite).parquet(s"$stage/batch=2")
      val back = s.read.option("mergeSchema", "true").parquet(stage)
      val out = back.groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("quality_score")).as("n_scored"),
          sum(coalesce(col("quality_score").cast("long"), lit(0L)))
            .as("score_sum"),
          sum(TextFunctions.polyHash(col("text"))).as("text_hash_sum"))
        .orderBy(col("source"))
        .localCheckpoint(true)
      rmTree(stage)
      out
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q117_csv_roundtrip" -> {
      val hostile =
        "concat('a,\"b\"', chr(10), text, chr(9), '|\"', lang)"
      val ph =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(range(1, length(h_col)+1), i_ -> CAST(ascii(h_col[i_]) AS BIGINT))), " +
          s"(h_, c_) -> (h_ * 131 + c_) % 1000000007)"
      s"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM($ph) AS BIGINT) AS hostile_hash_sum
         |FROM (SELECT source, doc_id, n_chars, $hostile AS h_col FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin
    },

    "q118_partition_prune" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  COUNT(*) AS n_orders,
        |  COUNT(DISTINCT o_custkey) AS n_custs,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE year(o_orderdate) >= 1996
        |GROUP BY 1 ORDER BY o_year""".stripMargin,

    "q126_file_compaction" -> {
      val ph =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(range(1, length(text)+1), i_ -> CAST(ascii(text[i_]) AS BIGINT))), " +
          s"(h_, c_) -> (h_ * 131 + c_) % 1000000007)"
      s"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM($ph) AS BIGINT) AS text_hash_sum
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },

    "q127_schema_evolution" -> {
      val ph =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(range(1, length(text)+1), i_ -> CAST(ascii(text[i_]) AS BIGINT))), " +
          s"(h_, c_) -> (h_ * 131 + c_) % 1000000007)"
      s"""SELECT source, COUNT(*) AS n_docs,
         |  COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_scored,
         |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars % 100 ELSE 0 END)
         |    AS BIGINT) AS score_sum,
         |  CAST(SUM($ph) AS BIGINT) AS text_hash_sum
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    },

    "q119_bucketed_join" ->
      """SELECT o.o_custkey % 100 AS cust_bucket,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1 ORDER BY cust_bucket""".stripMargin
  )
}
