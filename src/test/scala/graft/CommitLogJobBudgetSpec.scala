package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CommitLog

/** The Spark jobs each commit-log verb launches on a small table that
  * records no schema (made by a plain `append`). A verb over a few
  * hundred rows spends its time on per-job overhead, not on rows, so
  * each verb has a budget: no footer-inference job per read, row
  * counts taken from the write itself, and one probe for duplicate
  * source keys and touched files. Also the edge cases that budget
  * rests on: a no-op merge commits nothing, an emptied segment is not
  * republished, and a duplicate-key source is still refused. */
class CommitLogJobBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft_budget_")
      .resolve("tbl").toString

  private def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go)); f.delete(): Unit
    }
    go(new java.io.File(path).getParentFile)
  }

  /** Order-like rows: key, customer, status, price. */
  private def orders(keys: Seq[Long], bump: Double = 0.0): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, k % 37, Seq("O", "F", "P")((k % 3).toInt),
      k * 1.5 + bump)).toDF("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice")
  }

  /** A schema-less table of two appended segments, keys 1..400. */
  private def seeded(): String = {
    val t = tmpTable()
    CommitLog.append(spark, t, orders(1L to 300L))
    CommitLog.append(spark, t, orders(301L to 400L))
    t
  }

  private def jobs[T](body: => T): (T, Int) =
    SparkJobs.launchedBy(spark)(body)

  /** Entries under `data/` and `_changes/`. */
  private def dirs(t: String): Set[String] =
    Seq("data", "_changes").flatMap { d =>
      Option(new java.io.File(s"$t/$d").list).toSeq.flatten
        .map(n => s"$d/$n")
    }.toSet

  private val updatePrice = Map(
    "o_orderstatus" -> CommitLog.src("o_orderstatus"),
    "o_totalprice" -> CommitLog.src("o_totalprice"))

  test("each commit-log verb stays inside its Spark job budget") {
    val t = seeded()
    val replica = seeded()
    val dml = seeded()
    try {
      assert(CommitLog.snapshot(spark, t).get.schema.isEmpty)
      val base = CommitLog.currentVersion(spark, t).get
      val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]

      counts("mergeInto") = jobs(CommitLog.mergeInto(spark, t,
        orders((1L to 400L by 20L) ++ (401L to 405L), bump = 7.0),
        Seq("o_orderkey"), whenMatchedUpdate = updatePrice))._2
      counts("delete") = jobs(CommitLog.delete(spark, t,
        col("o_custkey").between(3L, 5L)))._2
      CommitLog.append(spark, t, orders(406L to 410L))

      counts("read") = jobs(CommitLog.read(spark, t))._2
      counts("read+aggregate") = jobs(CommitLog.read(spark, t)
        .groupBy("o_orderstatus").agg(count(lit(1))).collect())._2

      val upTo = CommitLog.currentVersion(spark, t).get
      val (feed, feedJobs) = jobs(CommitLog.changeFeed(spark, t, base,
        toVersion = Some(upTo)))
      counts("changeFeed") = feedJobs
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey"))
        .orderBy(col("_commit_version").desc)
      val net = feed.filter(col("_change_type") =!= "update_preimage")
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn", "_commit_version")
        .localCheckpoint(true)
      val isDelete = CommitLog.src("_change_type") === "delete"
      counts("mergeIntoClauses") = jobs(CommitLog.mergeIntoClauses(spark,
        replica, net, Seq("o_orderkey"),
        matched = Seq(CommitLog.MergeDelete(Some(isDelete)),
          CommitLog.MergeUpdate(Seq("o_custkey", "o_orderstatus",
            "o_totalprice").map(c => c -> CommitLog.src(c)).toMap)),
        notMatchedInsertCondition = Some(col("_change_type") =!= "delete"),
        txn = Some("replica" -> upTo)))._2
      net.unpersist()

      counts("compact") = jobs(CommitLog.compact(spark, t, 10000000L))._2

      // the replica replayed the feed: same rows as the source
      def rows(x: String) = CommitLog.read(spark, x).collect()
        .map(_.toString).toSeq.sorted
      assert(rows(replica) === rows(t))

      // one segment left: the delete needs no touched-file probe
      counts("delete one segment") = jobs(CommitLog.delete(spark, t,
        col("o_custkey") === 7L))._2
      val bumpPrice = Map("o_totalprice" -> (col("o_totalprice") + 1.0))
      counts("update one segment") = jobs(CommitLog.update(spark, t,
        col("o_custkey") === 8L, bumpPrice))._2

      // the row-level verbs on three segments: copy-on-write first, then
      // a first deletion vector, verbs over it, and both vectored verbs
      // forced onto copy-on-write
      CommitLog.append(spark, dml, orders(401L to 500L))
      counts("update") = jobs(CommitLog.update(spark, dml,
        col("o_custkey") === 3L, bumpPrice))._2
      counts("overwriteWhere") = jobs(CommitLog.overwriteWhere(spark, dml,
        orders(Seq(4L, 41L), bump = 2.0), col("o_custkey") === 4L))._2
      counts("deleteVectored") = jobs(CommitLog.deleteVectored(spark, dml,
        col("o_custkey") === 5L))._2
      counts("deleteVectored prior DV") = jobs(CommitLog.deleteVectored(
        spark, dml, col("o_custkey") === 6L))._2
      counts("updateVectored prior DV") = jobs(CommitLog.updateVectored(
        spark, dml, col("o_custkey") === 7L, bumpPrice))._2
      counts("deleteVectored maxDvRows 0") = jobs(CommitLog.deleteVectored(
        spark, dml, col("o_custkey") === 8L, maxDvRows = 0L))._2
      counts("updateVectored maxDvRows 0") = jobs(CommitLog.updateVectored(
        spark, dml, col("o_custkey") === 9L, bumpPrice, maxDvRows = 0L))._2
      val deleted = Set(4L, 5L, 6L, 8L)
      assert(CommitLog.read(spark, dml).count() ===
        (1L to 500L).count(k => !deleted(k % 37)) + 2L)
      assert(CommitLog.read(spark, dml)
        .filter(col("o_custkey").isin(3L, 7L, 9L)).collect()
        .forall(r => r.getDouble(3) == r.getLong(0) * 1.5 + 1.0))

      val budget = Map("mergeInto" -> 11, "delete" -> 4, "read" -> 0,
        "read+aggregate" -> 2, "changeFeed" -> 0, "mergeIntoClauses" -> 12,
        "compact" -> 2, "delete one segment" -> 2,
        "update one segment" -> 2, "update" -> 4, "overwriteWhere" -> 9,
        "deleteVectored" -> 3, "deleteVectored prior DV" -> 9,
        "updateVectored prior DV" -> 11, "deleteVectored maxDvRows 0" -> 14,
        "updateVectored maxDvRows 0" -> 13)
      val over = counts.filter { case (v, n) => n > budget(v) }
      assert(over.isEmpty, s"jobs per verb $counts, budget $budget")
    } finally { rm(t); rm(replica); rm(dml) }
  }

  test("a merge that matches and inserts nothing, or a delete that " +
      "matches nothing, commits no version and leaves nothing under " +
      "data/ or _changes/") {
    val t = seeded()
    val one = seeded()
    try {
      CommitLog.compact(spark, one, 10000000L)
      Seq(t, one).foreach { x =>
        val v = CommitLog.currentVersion(spark, x).get
        val before = dirs(x)
        assert(CommitLog.delete(spark, x, col("o_orderkey") > 900L) ===
          ((v, 0L)))
        assert(CommitLog.currentVersion(spark, x) === Some(v))
        assert(dirs(x) === before)
      }
      val v0 = CommitLog.currentVersion(spark, t)
      val before = dirs(t)
      // no matched clause, and the insert condition holds for no row
      assert(CommitLog.mergeInto(spark, t, orders(Seq(900L, 901L)),
        Seq("o_orderkey"),
        whenNotMatchedInsertCondition = Some(lit(false))) ===
        ((v0.get, 0L, 0L, 0L)))
      // a matched clause whose keys match no row, and no insert
      assert(CommitLog.mergeInto(spark, t, orders(Seq(900L, 901L)),
        Seq("o_orderkey"), whenMatchedUpdate = updatePrice,
        whenNotMatchedInsert = false) === ((v0.get, 0L, 0L, 0L)))
      assert(CommitLog.currentVersion(spark, t) === v0)
      assert(dirs(t) === before)
    } finally { rm(t); rm(one) }
  }

  test("a delete that empties every touched segment publishes no " +
      "empty segment") {
    val t = seeded()
    try {
      val segs = CommitLog.snapshot(spark, t).get.segments
      val before = dirs(t)
      val (v, n) = CommitLog.delete(spark, t, col("o_orderkey") > 300L)
      assert(n === 100L)
      val snap = CommitLog.snapshot(spark, t).get
      assert(snap.version === v)
      assert(snap.segments === segs.take(1))
      assert(dirs(t).filter(_.startsWith("data/")) ===
        before.filter(_.startsWith("data/")))
      assert(CommitLog.read(spark, t).count() === 300L)
    } finally rm(t)
  }

  test("a frame with no partitions still appends; a merge of one " +
      "still commits nothing") {
    val t = seeded()
    try {
      val none = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        orders(Nil).schema)
      val v = CommitLog.append(spark, t, none)
      assert(CommitLog.currentVersion(spark, t) === Some(v))
      assert(CommitLog.read(spark, t).count() === 400L)
      assert(CommitLog.mergeInto(spark, t, none, Seq("o_orderkey"),
        whenMatchedUpdate = updatePrice) === ((v, 0L, 0L, 0L)))
    } finally rm(t)
  }

  test("a duplicate-key source is refused with the same message by " +
      "the fused probe and by the insert-only guard") {
    val t = seeded()
    try {
      val dup = orders(Seq(5L, 5L, 900L))
      val want = "CommitLog.mergeInto: source has duplicate keys (e.g. " +
        "o_orderkey=5) — a matched row's outcome would be " +
        "nondeterministic; deduplicate the source first"
      val v0 = CommitLog.currentVersion(spark, t)
      val before = dirs(t)
      val fused = intercept[IllegalStateException] {
        CommitLog.mergeInto(spark, t, dup, Seq("o_orderkey"),
          whenMatchedUpdate = updatePrice)
      }
      val insertOnly = intercept[IllegalStateException] {
        CommitLog.mergeInto(spark, t, dup, Seq("o_orderkey"))
      }
      assert(fused.getMessage === want)
      assert(insertOnly.getMessage === want)
      assert(CommitLog.currentVersion(spark, t) === v0)
      assert(dirs(t) === before)
    } finally rm(t)
  }
}
