package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.TopK
import graft.plans.{MvDef, MvRegistry}
import graft.sources.{Catalog, Formats}
import StagedBases.{rmTree, stageDir}

/** Round-9 additions, part 3 — planning-layer and aggregation-layer
  * scale levers plus the tokenizer-training loop:
  *
  *  - q155 materialized-view ROLLUP REWRITE ([[graft.plans.MvRewrite]]):
  *    an aggregate over the fact table is answered from a registered
  *    grain-level summary instead — the read-side payoff of the
  *    reference's view-materialization jobs (ETL.py:46-67), supplied
  *    by an injected Catalyst Rule. The oracle computes from BASE
  *    rows, so the hash match proves the rewrite is semantics-
  *    preserving, and MvRewriteSpec pins that the executed plan scans
  *    the MV, not the fact.
  *  - q156 Bloom-filter FILE SKIPPING ([[Formats.writeBloomIndex]]):
  *    point lookups on a high-cardinality key scattered by an
  *    unrelated layout (data clustered by date, probed by key) — the
  *    case where q123's min/max stats prune nothing. No false
  *    negatives, so the bloom-pruned read hash-equals the full-scan
  *    IN filter; FormatsSpec measures the files actually skipped.
  *  - q157 BPE TOKENIZER TRAINING, multi-round: q93's single merge
  *    step iterated — each round counts adjacent pairs corpus-wide,
  *    adopts the most frequent pair (count DESC, pair ASC — the
  *    deterministic twin of the published BPE tie policy), applies it
  *    left-to-right non-overlapping (regexp_replace global semantics,
  *    identical in RE2/Java and DuckDB), and re-counts. Per round the
  *    driver holds exactly ONE row (q143's bounded-sync pattern);
  *    the oracle unrolls the same rounds as MATERIALIZED CTEs.
  *  - q158 TOP-K PER GROUP as a mergeable bounded-heap aggregation
  *    ([[graft.operators.TopK]]): the exchange carries ≤ groups × k
  *    tuples instead of every row — the aggregation-layer replacement
  *    for the window top-k (q09) at 100 TB fan-ins. Law-pinned equal
  *    to the window twin; the oracle IS the window form.
  */
object Pipeline16 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  private val Dec = "decimal(30,6)"
  private val BpeRounds = 3

  /** Adjacent-token pairs of a text column (q93's kernel). */
  private def pairsOf(df: DataFrame, textCol: String): DataFrame =
    df.select(TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(toks)-1)," +
          " i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Summary-table answering: maintain the (returnflag, linestatus)
    // grain MV, then answer a coarser rollup (group by returnflag
    // only, plus a grain filter) from it. The rewrite only ever
    // substitutes exact decimal/integral rollups — never raw double
    // sums, whose addition order would change under regrouping.
    "q155_mv_rollup_rewrite" -> ((s, dir) => {
      val base = s"$dir/lineitem.parquet"
      val stage = stageDir("q155_mv")
      val mvPath = s"$stage/mv"
      s.read.parquet(base)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(Dec)).as("sum_qty"),
          sum(col("l_extendedprice").cast(Dec)).as("sum_price"),
          count(lit(1)).as("cnt"))
        .write.mode(SaveMode.Overwrite).parquet(mvPath)
      val mv = MvDef(base, mvPath, Seq("l_returnflag", "l_linestatus"),
        Map("l_quantity" -> "sum_qty", "l_extendedprice" -> "sum_price"),
        "cnt")
      MvRegistry.register(mv)
      try {
        // localCheckpoint(eager) materializes while the MV is still
        // registered and its files still exist
        s.read.parquet(base)
          .filter(col("l_linestatus") =!= "O")
          .groupBy(col("l_returnflag"))
          .agg(
            sum(col("l_quantity").cast(Dec)).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast(Dec)).cast("double")
              .as("sum_price"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
          .localCheckpoint(true)
      } finally { MvRegistry.unregister(mv); rmTree(stage) }
    }),

    // Bloom-gated point lookup: orders laid out by DATE (8 range
    // partitions — the ingest-time layout), probed by ORDER KEY. Four
    // data-derived present keys + two absent ones (the absent probes
    // are what the bloom actually earns its keep on).
    "q156_bloom_point_lookup" -> ((s, dir) => {
      val stage = stageDir("q156_bloom")
      val data = s"$stage/orders"
      val o = t(s, dir, "orders")
      o.repartitionByRange(8, col("o_orderdate"), col("o_orderkey"))
        .sortWithinPartitions("o_orderdate")
        .write.mode(SaveMode.Overwrite).parquet(data)
      Formats.writeBloomIndex(s, data, "o_orderkey")
      val mx = o.agg(max(col("o_orderkey"))).collect()(0).getLong(0)
      val probes = Seq(1L, mx / 3, mx / 3 * 2, mx, mx + 7, mx * 2 + 1)
      val out = Formats.readBloomSkipping(s, data, "o_orderkey", probes)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"))
        .localCheckpoint(true)
      rmTree(stage)
      out
    }),

    // Multi-round BPE: the vocabulary-learning loop. Output = the
    // merge table (round, pair, support); cost = rounds passes, each
    // one pair-count shuffle + ONE collected row.
    "q157_bpe_train" -> ((s, dir) => {
      var cur = t(s, dir, "documents")
        .select(col("doc_id"), col("text").as("mtext"))
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      for (r <- 1 to BpeRounds) {
        val best = pairsOf(cur, "mtext")
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("w1"), col("w2"))
          .limit(1).collect()(0)
        val (w1, w2) = (best.getString(0), best.getString(1))
        merges += ((r, w1, w2, best.getLong(2)))
        cur = cur.select(col("doc_id"),
          regexp_replace(col("mtext"),
            lit(s"\\b$w1 $w2\\b"), lit(s"${w1}_$w2")).as("mtext"))
      }
      import s.implicits._
      merges.result().toDF("round", "w1", "w2", "cnt")
        .orderBy(col("round"))
    }),

    // Top-3 orders per customer through the bounded-heap aggregation.
    "q158_topk_per_group_agg" -> ((s, dir) => {
      TopK.topkPerKey(t(s, dir, "orders"), Seq("o_custkey"),
          "o_totalprice", "o_orderkey", k = 3)
        .withColumnRenamed("rank", "rnk")
        .orderBy(col("o_custkey"), col("rnk"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // computed from BASE lineitem — a hash match proves the MV
    // rewrite preserved semantics exactly
    "q155_mv_rollup_rewrite" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
        |    AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_linestatus <> 'O'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q156_bloom_point_lookup" ->
      """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
        |p AS (SELECT UNNEST([CAST(1 AS BIGINT), m // 3, m // 3 * 2,
        |                     m, m + 7, m * 2 + 1]) AS k FROM mx)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (SELECT k FROM p)
        |ORDER BY o_orderkey""".stripMargin,

    "q157_bpe_train" -> {
      def toks(src: String, out: String): String =
        s"""$out AS (SELECT list_filter(string_split(mtext, ' '),
           |    t_ -> t_ <> '') AS toks FROM $src)""".stripMargin
      def bestOf(tokCte: String, out: String): String =
        s"""$out AS MATERIALIZED (
           |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(list_slice(toks, 1, len(toks)-1)) AS w1,
           |           unnest(list_slice(toks, 2, len(toks))) AS w2
           |    FROM $tokCte WHERE len(toks) >= 2)
           |  GROUP BY w1, w2
           |  ORDER BY cnt DESC, w1, w2 LIMIT 1)""".stripMargin
      def applied(src: String, best: String, out: String): String =
        s"""$out AS MATERIALIZED (
           |  SELECT regexp_replace(mtext,
           |      '\\b' || w1 || ' ' || w2 || '\\b',
           |      w1 || '_' || w2, 'g') AS mtext
           |  FROM $src, $best)""".stripMargin
      s"""WITH d1 AS MATERIALIZED (SELECT text AS mtext FROM documents),
         |${toks("d1", "t1")},
         |${bestOf("t1", "b1")},
         |${applied("d1", "b1", "d2")},
         |${toks("d2", "t2")},
         |${bestOf("t2", "b2")},
         |${applied("d2", "b2", "d3")},
         |${toks("d3", "t3")},
         |${bestOf("t3", "b3")}
         |SELECT 1 AS round, w1, w2, cnt FROM b1
         |UNION ALL SELECT 2, w1, w2, cnt FROM b2
         |UNION ALL SELECT 3, w1, w2, cnt FROM b3
         |ORDER BY round""".stripMargin
    },

    "q158_topk_per_group_agg" ->
      """SELECT o_custkey, CAST(rn AS INT) AS rnk, o_totalprice,
        |  o_orderkey
        |FROM (
        |  SELECT o_custkey, o_totalprice, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rnk""".stripMargin
  )
}
