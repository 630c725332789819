package graft.queries

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Components, FuzzyDedup}
import graft.sources.Catalog
import StagedBases.{rmTree, stageDir}

/** Round-7 block: runtime-pruning/retrieval capabilities the suite
  * still lacked, plus the two curation-governance steps between
  * q50-style decontamination and q48-style splitting.
  *
  *  - q137 dynamic partition pruning (DPP): q118 proved STATIC
  *    partition pruning (predicate directly on the partition column);
  *    q137 proves the runtime variant that carries the real 100 TB
  *    weight — the selective predicate sits on a DIMENSION attribute,
  *    so no static filter on the fact's partition column exists at
  *    plan time. Catalyst injects a dynamic-pruning subquery: the dim
  *    side's broadcast result prunes fact partitions at execution
  *    (LayoutSpec pins `dynamicpruning` in the scan's partition
  *    filters and that selected < total partitions). Without DPP a
  *    star-schema fact scan reads every partition whenever the filter
  *    is on the dimension — at 100 TB that is the whole table.
  *
  *  - q138 BM25 scoring (Robertson/Spärck Jones k1=1.2, b=0.75) — the
  *    scale-hardened successor of q81, which q81's own Scaladoc calls
  *    for: q81 documents a long-overflow bound at ~10^7 docs ("a
  *    100 TB corpus would move ... the product to DECIMAL(38)") and
  *    stacks rounded fixed-point divisions; q138 IS that DECIMAL(38)
  *    move, with a single exact rational division (no accumulated
  *    rounding) and query terms derived from the data (df ranks
  *    11–15) instead of q81's fixed literals, so the query stays
  *    non-degenerate at any SF and under ScaleGen's token retagging.
  *    All arithmetic is EXACT-INTEGER: the usual ln() idf is replaced
  *    by its odds-ratio argument (N - df + ½)/(df + ½) — monotone in
  *    the log form, so rankings are BM25 rankings — and the
  *    tf-saturation fraction is cleared of denominators
  *    (k1 = 6/5, b = 3/4, dl/avgdl = dl·N/L) giving
  *    score_fp = (S·22·L·tf·(2N−2df+1)) div ((10·L·tf+3L+9·dl·N)·(2df+1)),
  *    a pure BIGINT/HUGEINT expression both engines replay bit-for-bit
  *    (a float ln() would be 1-ULP hash-unstable across libm
  *    implementations). Query terms are data-derived deterministically
  *    (df ranks 11–15), so the query stays meaningful at any SF.
  *    Products are routed through DECIMAL(38,0)/HUGEINT — the int64
  *    intermediate overflows at ~1e19 (per-term numerator is
  *    S·22·L·tf·idf_num ≈ 1e19 at sf0.01 already).
  *
  *  - q139 fractional decontamination: q50/q64 count absolute n-gram
  *    hits and drop clean docs; the decision rule real pretraining
  *    pipelines apply (GPT-3 appendix C / Llama style) is the
  *    FRACTION of a document's n-grams that appear in the eval set,
  *    thresholded — and clean docs must appear (fraction 0) because
  *    the output IS the per-doc audit table. Fraction is exact
  *    integer fixed-point (1e6·hits div n_shingles) — no float
  *    division to drift between engines.
  *
  *  - q140 leakage-safe split: a doc-level hash split (q48) leaks
  *    when near-duplicate documents straddle train/test — the eval
  *    set then contains paraphrases of training rows. The split key
  *    must be the near-dup COMPONENT, not the doc: LSH-verified pairs
  *    (q19) → connected components (q45) → one deterministic LCG hash
  *    of the component id assigns the whole cluster to one split.
  *    Singletons (the clean majority) hash on their own id, so the
  *    80/10/10 proportions still hold corpus-wide.
  */
object Pipeline11 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  /** BM25 fixed-point scale (6 decimal digits of score resolution). */
  private val BmScale = 1000000L

  /** The staged fact ⋈ filtered dim join of q137, shared with
    * LayoutSpec (which pins the dynamic-pruning plan shape on it). */
  private[graft] def dppJoin(s: SparkSession, dir: String,
      stage: String): DataFrame = {
    val fact = s.read.parquet(stage)
    // the filter is on o_orderdate (a dim ATTRIBUTE) — nothing
    // statically constrains the fact's ship_year partition column;
    // only the runtime subquery can prune
    val dim = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-06-01").cast("timestamp"))
      .select(year(col("o_orderdate")).as("yr")).distinct()
    fact.join(dim, col("ship_year") === col("yr"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q137_dynamic_partition_prune" -> ((s, dir) => {
      // project to the three consumed columns BEFORE the partitioned
      // staging write — the DPP demonstration needs the partition
      // layout, not the full 16-column fact width (at 100 TB the
      // staged star-schema fact is likewise column-pruned at ingest)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_shipdate"))
        .withColumn("ship_year", year(col("l_shipdate")))
      val stage = stageDir("q137_dpp")
      li.write.mode(SaveMode.Overwrite)
        .partitionBy("ship_year").parquet(stage)
      val out = dppJoin(s, dir, stage)
        .groupBy(col("ship_year").cast("long").as("ship_year"))
        .agg(
          count(lit(1)).as("n_lines"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(col("l_extendedprice").cast("decimal(30,6)")).cast("double")
            .as("sum_price"))
        .orderBy(col("ship_year"))
        .localCheckpoint(true)
      rmTree(stage)
      out
    }),

    "q138_bm25_topk" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("token"))
      // posting relation: one row per (doc, term) with term frequency
      val tf = toks.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      // corpus totals ride a broadcast scalar (q133's pattern) — no
      // driver-side collect
      val totals = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("corpus_len"))
      val df_ = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      // deterministic data-derived query: df ranks 11-15 (past the
      // most stopword-like head, still high-coverage)
      val qterms = df_.orderBy(col("df").desc, col("token"))
        .offset(10).limit(5)
      val d38 = "decimal(38,0)"
      val scored = tf
        .join(broadcast(qterms), Seq("token"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(totals))
        .withColumn("score_fp",
          expr(s"""CAST(CAST($BmScale AS $d38) * 22 * corpus_len * tf
                  |  * (2 * n_docs - 2 * df + 1) AS $d38) div
                  |CAST((10 * corpus_len * tf + 3 * corpus_len
                  |  + 9 * dl * n_docs) * (2 * df + 1) AS $d38)"""
            .stripMargin.replace("\n", " ")))
      scored.groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_terms_hit"),
          sum(col("score_fp")).as("bm25_fp"))
        .orderBy(col("bm25_fp").desc, col("doc_id"))
        .limit(20)
    }),

    // Per-doc contamination audit: fraction of the doc's distinct
    // 8-grams present anywhere in the held-out set (doc_id % 10 == 0,
    // as q50), thresholded at 0.25. Scale shape: the bench side
    // collapses to DISTINCT shingles before the join (eval sets are
    // tiny — AQE broadcasts it), the train side is the one corpus
    // pass, and the only shuffle is the per-doc groupBy. The left
    // join cannot fan out (the bench set is distinct on the join
    // key), so count(*) stays the doc's shingle cardinality. At
    // 100 TB swap the join key for xxhash64(shingle) — same note as
    // [[graft.operators.Decontaminate]].
    "q139_fractional_decontam" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sh = FuzzyDedup.shingles(d, "doc_id", col("text"),
        k = Pipeline3.DecontamK, cache = false)
      val benchSet = sh.filter(col("doc_id") % 10 === 0)
        .select(col("shingle")).distinct()
        .withColumn("hit", lit(1))
      sh.filter(col("doc_id") % 10 =!= 0)
        .join(benchSet, Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_shingles"),
          count(col("hit")).as("n_hits"))
        .withColumn("contam_fp",
          expr(s"$BmScale * n_hits div n_shingles"))
        .withColumn("contaminated", col("contam_fp") >= ContamFp)
        .orderBy(col("doc_id"))
    }),

    // Leakage-safe train/val/test split: the split key is the
    // near-dup component, not the doc. Pairs are the q19 LSH-verified
    // relation (banded candidates, exact-Jaccard verify at tau=0.5),
    // components the q45 min-label propagation (iterates the
    // duplicate subgraph only), and the assignment one LCG hash of
    // the component id — all three stages already scale-shaped; this
    // query is their composition, which is exactly how a production
    // curation DAG wires it.
    "q140_leakage_safe_split" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = FuzzyDedup.minhashDedupPairs(d, "doc_id", col("text"),
        tau = 0.5, k = 3, numHashes = 64, bandRows = 4)
      Components.connectedComponents(
          d.select(col("doc_id")), "doc_id",
          pairs, "doc_id_a", "doc_id_b")
        .select(col("node").as("doc_id"), col("component"))
        .withColumn("u", expr(
          "(component % 1000000007 * 1103515245 + 12345) % 1000000007 % 100"))
        .withColumn("split",
          when(col("u") < 80, "train")
            .when(col("u") < 90, "val").otherwise("test"))
        .select(col("doc_id"), col("component"), col("split"))
        .orderBy(col("doc_id"))
    })
  )

  /** q139's contamination threshold: 0.25 in [[BmScale]] fixed-point. */
  private val ContamFp = 250000L

  val oracleSql: Map[String, String] = Map(
    // the oracle reads the ORIGINAL lineitem (it never sees the staged
    // partitioned copy) — a hash match proves the partitioned round
    // trip + DPP join is content-faithful
    "q137_dynamic_partition_prune" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |  COUNT(*) AS n_lines,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |JOIN (SELECT DISTINCT year(o_orderdate) AS yr FROM orders
        |      WHERE o_orderdate >= TIMESTAMP '1996-06-01') d
        |  ON year(l_shipdate) = d.yr
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q138_bm25_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  WHERE token <> ''),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf
        |  FROM tok GROUP BY doc_id, token),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        |totals AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS corpus_len FROM dl),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |qterms AS (SELECT token, df FROM df
        |  ORDER BY df DESC, token LIMIT 5 OFFSET 10),
        |scored AS (
        |  SELECT tf.doc_id,
        |    (CAST(1000000 AS HUGEINT) * 22 * corpus_len * tf
        |       * (2 * n_docs - 2 * df + 1))
        |    // ((10 * corpus_len * tf + 3 * corpus_len
        |        + 9 * dl * n_docs) * (2 * df + 1)) AS score_fp
        |  FROM tf JOIN qterms USING (token)
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN totals)
        |SELECT doc_id, COUNT(*) AS n_terms_hit,
        |  CAST(SUM(score_fp) AS BIGINT) AS bm25_fp
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25_fp DESC, doc_id LIMIT 20""".stripMargin,

    "q139_fractional_decontam" -> {
      val k = Pipeline3.DecontamK
      s"""WITH d AS (SELECT doc_id, ${Pipeline3.sqlToks} AS tk FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, unnest(
         |    CASE WHEN len(tk) >= $k THEN
         |      list_transform(range(1, len(tk) - ${k - 2}),
         |        i_ -> ${Pipeline3.sqlKgram(k)})
         |    ELSE CAST([] AS VARCHAR[]) END) AS shingle
         |  FROM d),
         |bench AS (SELECT DISTINCT shingle, 1 AS hit FROM sh
         |          WHERE doc_id % 10 = 0),
         |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0)
         |SELECT t.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(COUNT(b.hit) AS BIGINT) AS n_hits,
         |  CAST($BmScale * COUNT(b.hit) // COUNT(*) AS BIGINT) AS contam_fp,
         |  ($BmScale * COUNT(b.hit) // COUNT(*)) >= $ContamFp AS contaminated
         |FROM train t LEFT JOIN bench b ON t.shingle = b.shingle
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
    },

    // ground truth re-derives the component exactly as q45's oracle
    // (exact-Jaccard pairs + recursive min-label closure), then applies
    // the identical integer LCG — both engines replay the arithmetic
    // bit-for-bit
    "q140_leakage_safe_split" ->
      s"""WITH RECURSIVE pairs AS (${DedupQueries.jaccardOracle}),
         |edges AS (
         |  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
         |  UNION SELECT doc_id_b, doc_id_a FROM pairs),
         |cc(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, cc.label FROM cc JOIN edges e ON cc.node = e.a),
         |comp AS (SELECT node AS doc_id, MIN(label) AS component
         |         FROM cc GROUP BY node),
         |u AS (SELECT doc_id, component,
         |  (component % 1000000007 * 1103515245 + 12345)
         |    % 1000000007 % 100 AS u
         |  FROM comp)
         |SELECT doc_id, component,
         |  CASE WHEN u < 80 THEN 'train'
         |       WHEN u < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM u ORDER BY doc_id""".stripMargin
  )
}
