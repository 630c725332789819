package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TsqlFunctions._
import graft.operators.Dedup
import graft.sources.Catalog

/** The reference's one real pipeline (`Select de Importação de
  * Dados.py:34-99`) re-expressed Spark-first on the driver's TPC-H-ish
  * star schema, per FIXTURES.md §4's role mapping:
  *
  *   orders        ~ tbdManifesto        (manifest fact)
  *   lineitem      ~ tbdManifestoMovimento / tbd_22_CIOTParcela
  *   customer/nation/region/supplier ~ the dim lookup chain
  *   c_name        ~ nr_CIOT             (string dedup/join key)
  *   o_orderdate   ~ dt_Inclusao / dt_Abertura (date fences, R6)
  *   (l_orderkey, l_linenumber) ~ (id_manifesto, cd_parcela) sink key
  *
  * Shape preserved operator-for-operator:
  *   R1  two CTEs (manifestoInfo, latestManifesto)
  *   R2  6 inner equi-joins incl. the row-multiplying bridge
  *   R3  5 left joins incl. a projected-nothing "dead" join (part)
  *   R4  string-keyed join of the CTE back into the main query
  *   R5  ROW_NUMBER PARTITION BY <string key> ORDER BY <id> DESC, rn=1
  *   R6  two hard date fences   R7 non-empty-string filter
  *   R8  post-left-join IS NOT NULL (Catalyst EliminateOuterJoin fires)
  *   R9-R14 arithmetic / CASE / ISNULL / CONVERT-103/108 /
  *          NULL-PROPAGATING date+time concat / snake_case aliasing
  *   R15 global ORDER BY on the sink key — a property of the query
  *       and oracle form ([[build]], [[sparkSql]]) only: the sink path
  *       reads the unordered [[rows]], because the parcel sink is a
  *       keyed set that keeps no order, and its dedup and idempotent
  *       insert re-shuffle the rows anyway
  *
  * Scale notes: nation/region/supplier auto-broadcast; the orders ⋈
  * lineitem joins shuffle on orderkey (co-partitioned across both uses
  * under AQE); the window R5 is one shuffle on the customer key. All
  * money math routed through DecimalType (SURVEY §7.5) and cast to
  * double only at the sink boundary for oracle parity.
  */
object ParcelaCiot {

  // Date fences (SELECT.py:56,97) mapped onto the testdata date range;
  // parameterized as SURVEY R6 recommends.
  val manifestFence = "1998-01-01"
  val contractFence = "1996-06-01"

  /** The query with R15's global sort: the q02 / oracle form. */
  def build(spark: SparkSession, sfDir: String): DataFrame =
    // R15 global sort; cd_parcela is non-unique in the synthetic data
    // (duplicate (orderkey, linenumber) pairs), so extend the sort to
    // a total order for a deterministic oracle hash.
    rows(spark, sfDir).orderBy(col("id_manifesto"), col("cd_parcela"),
      col("dt_parcela_str"), col("vl_parcela"), col("total_frete"),
      col("cd_status"), col("ds_parcela"))

  /** R1–R14: the query's rows in no particular order (the sink path). */
  def rows(spark: SparkSession, sfDir: String): DataFrame = {
    def t(n: String) = Catalog.table(spark, sfDir, n)
    val dec2 = "decimal(18,2)"
    val dec4 = "decimal(18,4)"

    // ---- CTE 1: MANIFESTO_INFO (SELECT.py:35-57) -------------------
    // 6-way inner chain incl. the m:n bridge fan-out (orders→lineitem→
    // supplier→nation) — row-multiplying by design; only order/customer
    // level columns are projected so the R5 dedup later is value-
    // deterministic among bridge ties (as in the reference).
    val manifestoInfo = t("orders")
      .join(t("customer"), col("o_custkey") === col("c_custkey"))
      .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t("region"), col("n_regionkey") === col("r_regionkey"))
      .join(t("lineitem").select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .join(t("supplier").select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("o_orderdate") >= lit(manifestFence).cast("timestamp")) // R6
      .filter(col("c_mktsegment").isNotNull && col("c_mktsegment") =!= "") // R7
      .select(
        col("o_orderkey"), col("c_name"), col("c_mktsegment"),
        col("n_name").as("cust_nation"), col("r_name").as("cust_region"),
        col("o_totalprice"))

    // ---- CTE 2: LATEST_MANIFESTO (SELECT.py:58-70) -----------------
    // R5: latest manifest per CIOT (string key), id DESC, rn = 1.
    val latestManifesto = Dedup.latestPerKey(
      manifestoInfo,
      partition = Seq(col("c_name")),
      order = Seq(col("o_orderkey").desc))

    // ---- main query (SELECT.py:71-99) ------------------------------
    val parcela = t("lineitem") // ~ tbd_22_CIOTParcela
    val contract = t("orders").select("o_orderkey", "o_custkey", "o_orderdate")
      .withColumnRenamed("o_orderkey", "ct_orderkey") // ~ tbd_22_CIOT
    val custDim = t("customer").select("c_custkey", "c_name")
      .withColumnRenamed("c_name", "ct_c_name")
    val deadDim = t("part") // ~ tbdPessoa: joined, zero columns projected
    val bankish = t("supplier").select("s_suppkey", "s_name") // ~ bank refs

    // Synthetic nullable "fuel value" (vl_Combustivel is the only
    // nullable money column, SELECT.py:80) — deterministic in both
    // engines; 4-dp decimal so double→decimal rounding is exact.
    val vlCombustivel =
      when(col("l_tax") >= 0.03,
        (col("l_extendedprice") * col("l_tax")).cast(dec4))
    // Synthetic nullable envio date + TIME columns for the
    // NULL-propagating R13: the reference fuses two DISTINCT columns
    // (dt_Envio + hr_Envio, SELECT.py:85-88), either independently
    // NULL. Date rides l_shipdate (null on linenumber%3==0), time
    // rides the contract order's o_orderdate (null on %5==0) — so all
    // four null combinations occur in the data.
    val dtEnvio = when(col("l_linenumber") % 3 =!= 0, col("l_shipdate"))
    val hrEnvio = when(col("l_linenumber") % 5 =!= 0, col("o_orderdate"))

    val m = latestManifesto.select(
      col("o_orderkey").as("m_orderkey"), col("c_name").as("m_c_name"),
      col("cust_nation"), col("cust_region"),
      col("o_totalprice").as("m_totalprice"))

    parcela
      .join(contract, col("l_orderkey") === col("ct_orderkey"), "left")  // R3
      .join(custDim, col("o_custkey") === col("c_custkey"), "left")      // R3
      .join(m, col("ct_c_name") === col("m_c_name"), "left")             // R4
      .join(deadDim, col("l_partkey") === col("p_partkey"), "left")      // R3 dead
      .join(bankish, col("l_suppkey") === col("s_suppkey"), "left")      // R3
      .filter(col("o_orderdate") >= lit(contractFence).cast("timestamp")) // R6
      .filter(col("m_orderkey").isNotNull)                               // R8
      .select(                                                           // R9-R14
        col("m_orderkey").as("id_manifesto"),
        col("m_c_name").as("nr_ciot"),
        concat(col("l_orderkey"), lit("-"), col("l_linenumber"))
          .as("cd_parcela"),
        col("l_returnflag").as("ds_parcela"),
        tsqlConvert(col("l_shipdate"), 103).as("dt_parcela_str"),        // R12
        (col("m_totalprice").cast(dec2) + col("l_extendedprice").cast(dec2))
          .cast("double").as("total_frete"),                             // R9
        when(col("l_returnflag") === "R",                                // R10
          col("l_extendedprice").cast(dec2) -
            tsqlIsnull(vlCombustivel, lit(0).cast(dec4)))                // R11
          .otherwise(col("l_extendedprice").cast(dec2))
          .cast("double").as("vl_parcela"),
        vlCombustivel.cast("double").as("vl_combustivel"),
        col("l_linestatus").as("cd_status"),
        dtHrString(dtEnvio, hrEnvio).as("dt_hr_envio_str"),              // R13
        col("cust_nation"),
        col("cust_region"),
        col("s_name").as("ds_banco"))
  }

  /** Spark SQL parity form (SURVEY §7.3 step 6): the same query as
    * [[build]] in the WITH-form the reference embeds (`SELECT.py:34-99`),
    * runnable via `spark.sql` after `Catalog.registerAll` — the engine's
    * "accept the SQL string" entry point. Equality with [[build]] is
    * pinned by SqlParitySpec. */
  val sparkSql: String =
    s"""WITH manifesto_info AS (
       |  SELECT o.o_orderkey, c.c_name, c.c_mktsegment,
       |         n.n_name AS cust_nation, r.r_name AS cust_region,
       |         o.o_totalprice
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey
       |  JOIN lineitem lb ON o.o_orderkey = lb.l_orderkey
       |  JOIN supplier sb ON lb.l_suppkey = sb.s_suppkey
       |  WHERE o.o_orderdate >= TIMESTAMP '$manifestFence 00:00:00'
       |    AND c.c_mktsegment IS NOT NULL AND c.c_mktsegment <> ''
       |), latest_manifesto AS (
       |  SELECT * FROM (
       |    SELECT mi.*, ROW_NUMBER() OVER (PARTITION BY c_name
       |      ORDER BY o_orderkey DESC) AS rn
       |    FROM manifesto_info mi) x
       |  WHERE rn = 1
       |)
       |SELECT
       |  m.o_orderkey AS id_manifesto,
       |  m.c_name AS nr_ciot,
       |  CONCAT(CAST(l.l_orderkey AS STRING), '-',
       |         CAST(l.l_linenumber AS STRING)) AS cd_parcela,
       |  l.l_returnflag AS ds_parcela,
       |  date_format(l.l_shipdate, 'dd/MM/yyyy') AS dt_parcela_str,
       |  CAST(CAST(m.o_totalprice AS DECIMAL(18,2)) +
       |       CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS total_frete,
       |  CAST(CASE WHEN l.l_returnflag = 'R'
       |    THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) -
       |         COALESCE(CASE WHEN l.l_tax >= 0.03
       |                       THEN CAST(l.l_extendedprice * l.l_tax AS DECIMAL(18,4)) END,
       |                  CAST(0 AS DECIMAL(18,4)))
       |    ELSE CAST(l.l_extendedprice AS DECIMAL(18,2)) END AS DOUBLE) AS vl_parcela,
       |  CAST(CASE WHEN l.l_tax >= 0.03
       |            THEN CAST(l.l_extendedprice * l.l_tax AS DECIMAL(18,4)) END
       |       AS DOUBLE) AS vl_combustivel,
       |  l.l_linestatus AS cd_status,
       |  CASE WHEN l.l_linenumber % 3 <> 0 AND l.l_linenumber % 5 <> 0
       |    THEN CONCAT(date_format(l.l_shipdate, 'dd/MM/yyyy'), ' ',
       |                date_format(o2.o_orderdate, 'HH:mm:ss'))
       |  END AS dt_hr_envio_str,
       |  m.cust_nation,
       |  m.cust_region,
       |  s.s_name AS ds_banco
       |FROM lineitem l
       |LEFT JOIN orders o2 ON l.l_orderkey = o2.o_orderkey
       |LEFT JOIN customer c2 ON o2.o_custkey = c2.c_custkey
       |LEFT JOIN latest_manifesto m ON c2.c_name = m.c_name
       |LEFT JOIN part p ON l.l_partkey = p.p_partkey
       |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |WHERE o2.o_orderdate >= TIMESTAMP '$contractFence 00:00:00'
       |  AND m.o_orderkey IS NOT NULL
       |ORDER BY id_manifesto, cd_parcela, dt_parcela_str, vl_parcela,
       |  total_frete, cd_status, ds_parcela""".stripMargin

  /** DuckDB oracle for [[build]] — same logical query in ANSI SQL. */
  val oracle: String =
    s"""WITH manifesto_info AS (
       |  SELECT o.o_orderkey, c.c_name, c.c_mktsegment,
       |         n.n_name AS cust_nation, r.r_name AS cust_region,
       |         o.o_totalprice
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey
       |  JOIN lineitem lb ON o.o_orderkey = lb.l_orderkey
       |  JOIN supplier sb ON lb.l_suppkey = sb.s_suppkey
       |  WHERE o.o_orderdate >= TIMESTAMP '$manifestFence 00:00:00'
       |    AND c.c_mktsegment IS NOT NULL AND c.c_mktsegment <> ''
       |), latest_manifesto AS (
       |  SELECT * FROM (
       |    SELECT mi.*, ROW_NUMBER() OVER (PARTITION BY c_name
       |      ORDER BY o_orderkey DESC) AS rn
       |    FROM manifesto_info mi) x
       |  WHERE rn = 1
       |)
       |SELECT
       |  m.o_orderkey AS id_manifesto,
       |  m.c_name AS nr_ciot,
       |  CAST(l.l_orderkey AS VARCHAR) || '-' || CAST(l.l_linenumber AS VARCHAR) AS cd_parcela,
       |  l.l_returnflag AS ds_parcela,
       |  strftime(l.l_shipdate, '%d/%m/%Y') AS dt_parcela_str,
       |  CAST(CAST(m.o_totalprice AS DECIMAL(18,2)) + CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS total_frete,
       |  CAST(CASE WHEN l.l_returnflag = 'R'
       |    THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) -
       |         COALESCE(CASE WHEN l.l_tax >= 0.03 THEN CAST(l.l_extendedprice * l.l_tax AS DECIMAL(18,4)) END,
       |                  CAST(0 AS DECIMAL(18,4)))
       |    ELSE CAST(l.l_extendedprice AS DECIMAL(18,2)) END AS DOUBLE) AS vl_parcela,
       |  CAST(CASE WHEN l.l_tax >= 0.03 THEN CAST(l.l_extendedprice * l.l_tax AS DECIMAL(18,4)) END AS DOUBLE) AS vl_combustivel,
       |  l.l_linestatus AS cd_status,
       |  CASE WHEN l.l_linenumber % 3 <> 0 AND l.l_linenumber % 5 <> 0
       |    THEN strftime(l.l_shipdate, '%d/%m/%Y') || ' ' || strftime(o2.o_orderdate, '%H:%M:%S')
       |  END AS dt_hr_envio_str,
       |  m.cust_nation,
       |  m.cust_region,
       |  s.s_name AS ds_banco
       |FROM lineitem l
       |LEFT JOIN orders o2 ON l.l_orderkey = o2.o_orderkey
       |LEFT JOIN customer c2 ON o2.o_custkey = c2.c_custkey
       |LEFT JOIN latest_manifesto m ON c2.c_name = m.c_name
       |LEFT JOIN part p ON l.l_partkey = p.p_partkey
       |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |WHERE o2.o_orderdate >= TIMESTAMP '$contractFence 00:00:00'
       |  AND m.o_orderkey IS NOT NULL
       |ORDER BY id_manifesto, cd_parcela, dt_parcela_str, vl_parcela,
       |  total_frete, cd_status, ds_parcela""".stripMargin
}
