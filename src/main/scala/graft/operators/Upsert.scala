package graft.operators

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.CommitLog

/** Idempotent first-writer-wins insert (SURVEY S4).
  *
  * Reproduces `INSERT … ON CONFLICT (id_manifesto, cd_parcela) DO
  * NOTHING` (`SELECT.py:214-218`): re-runs insert only unseen key
  * pairs; existing rows are NEVER updated, even if upstream values
  * changed (`SELECT.py:146-148` documents this as intended).
  *
  * Two variants per SURVEY §4.3:
  *  (a) engine-level: read existing keys → left_anti → append — pure
  *      DataFrame ops, works on any sink that can append (tested on
  *      parquet). At 100 TB the anti-join is a shuffle on the key
  *      columns only (existing side pruned to just the keys), or a
  *      broadcast when the key set is small.
  *  (b) connector-level: per-partition JDBC `ON CONFLICT DO NOTHING`
  *      for PostgreSQL targets — conflict resolution pushed to the
  *      sink DB exactly like the reference, no read-before-write.
  */
object IdempotentInsert {

  /** Rows of `incoming` whose key tuple is absent from `existing`, one
    * per key (the DB PK would reject the second occurrence of a pair
    * within one load too), in `incoming`'s column order (a USING join
    * puts the keys first, and appended files must match the target's
    * column order). The anti-join runs first, so only unseen keys reach
    * the per-key dedup; it needs no `distinct()` on `existing`'s keys,
    * since a left-anti join ignores duplicates on its build side. The
    * row kept per key is the one [[onePerKey]] picks. */
  def newRows(incoming: DataFrame, existing: DataFrame, keys: Seq[String])
      : DataFrame = {
    val unseen = incoming
      .join(existing.select(keys.map(quoted): _*), keys, "left_anti")
      .select(incoming.columns.toSeq.map(quoted): _*)
    onePerKey(unseen, keys)
  }

  /** One row per `keys` tuple: the one with the greatest payload struct
    * (every non-key column, in `df`'s order), so the pick does not
    * depend on partitioning or arrival order. With no payload columns,
    * or a payload struct Spark cannot order (one holding a map column),
    * it falls back to `dropDuplicates`, which keeps an arbitrary row per
    * key. */
  private def onePerKey(df: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = df.schema.filterNot(f => keys.contains(f.name))
    if (payload.isEmpty || !RowOrdering.isOrderable(StructType(payload)))
      df.dropDuplicates(keys)
    else Dedup.latestPerKey(df, partition = keys.map(quoted),
      order = Seq(struct(payload.map(f => quoted(f.name)): _*).desc))
  }

  private def quoted(c: String) = col(s"`$c`")

  /** The target's one read relation, which serves as existence probe,
    * schema gate and anti-join side. `None` ("first run") means the path
    * is missing (PATH_NOT_FOUND) or an existing-but-empty directory
    * (UNABLE_TO_INFER_SCHEMA). Any other read failure (IO, permissions,
    * corruption) aborts: treating it as empty would double-insert on a
    * re-run. */
  private def existing(spark: SparkSession, path: String)
      : Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getErrorClass == "PATH_NOT_FOUND" ||
            e.getErrorClass == "UNABLE_TO_INFER_SCHEMA" => None
    }

  /** Variant (a): idempotent append into a parquet directory.
    * Returns the number of rows actually inserted (second identical
    * run returns 0 — the S4 idempotence law).
    *
    * One Spark job: the new rows are written once, to a staging
    * directory beside the sink (`.<sink name>.staging-<uuid>`, hidden
    * and unique, so no reader of the sink's parent takes it for a
    * sink), and counted by an observation on that same write. Then the
    * staged `part-*` files are renamed into the sink, and the staging
    * directory is deleted whatever happened. An empty delta leaves the
    * sink untouched: no file, not even the 0-row file a direct empty
    * append writes (and no sink directory on a first run). A failed
    * write leaves it untouched too. A crash between two renames leaves
    * part of the delta in the sink; a re-run inserts the rest, since
    * the row kept per key is deterministic. Reading and writing the
    * same sink is safe: the `existing` read lists its files when it is
    * planned, and no new file appears there before the write job has
    * ended. */
  def intoParquet(spark: SparkSession, incoming: DataFrame, path: String,
      keys: Seq[String]): Long = {
    val toInsert = existing(spark, path) match {
      case Some(ex) =>
        // schema drift into an append target silently corrupts the
        // table — gate on the existing schema first (SURVEY O10)
        graft.sources.SchemaAssert.require(incoming, ex.schema)
        newRows(incoming, ex, keys)
      case None => onePerKey(incoming, keys)
    }
    val sinkPath = new Path(path)
    val fs = sinkPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sink = fs.makeQualified(sinkPath)
    val staging = new Path(sink.getParent,
      s".${sink.getName}.staging-${UUID.randomUUID()}")
    try {
      val n = CommitLog.observedWrite(toInsert, staging.toString,
        Seq(count(lit(1)).as("n")))("n").asInstanceOf[Number].longValue
      if (n > 0) {
        fs.mkdirs(sink)
        fs.listStatus(staging).map(_.getPath)
          .filter(_.getName.startsWith("part-")).foreach { f =>
            if (!fs.rename(f, new Path(sink, f.getName)))
              throw new java.io.IOException(
                s"intoParquet: rename $f -> $sink failed")
          }
      }
      n
    } finally fs.delete(staging, true)
  }

  /** MERGE mode — the explicit improvement SURVEY §7.5 anticipates
    * over the reference's first-writer-wins contract: keyed rows that
    * already exist are REPLACED by the incoming payload, unseen keys
    * are inserted, existing keys absent from `incoming` are kept.
    * (The reference's `ON CONFLICT DO NOTHING` never refreshes changed
    * upstream values, `SELECT.py:146-148` — intended there, but a
    * view-materialization pipeline usually wants refresh semantics.)
    * `incoming` is deduplicated per key first ([[onePerKey]]),
    * mirroring the PK's one-row-per-key guarantee. The merged relation
    * is written once, to `path + ".tmp"`, with its total and kept-row
    * counts observed by that write; only the existing row count takes
    * a job of its own. Returns (inserted, replaced) counts. */
  def mergeIntoParquet(spark: SparkSession, incoming: DataFrame,
      path: String, keys: Seq[String]): (Long, Long) = {
    val incOne = onePerKey(incoming, keys)
    val keptFlag = "__graft_kept"
    val (merged, exCount) = existing(spark, path) match {
      case None => (incOne.withColumn(keptFlag, lit(0L)), 0L)
      case Some(ex) =>
        graft.sources.SchemaAssert.require(incOne, ex.schema)
        val kept = ex.join(incOne.select(keys.map(quoted): _*), keys,
          "left_anti")
        (kept.withColumn(keptFlag, lit(1L))
          .unionByName(incOne.withColumn(keptFlag, lit(0L))), ex.count())
    }
    val tmp = new Path(path + ".tmp")
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the merged relation is staged BEFORE the source it reads from is
    // touched
    val got = try CommitLog.observedWrite(merged, tmp.toString,
        Seq(count(lit(1)).as("total"), sum(col(keptFlag)).as("kept")),
        mode = SaveMode.Overwrite, drop = Seq(keptFlag))
      catch {
        // a failed staging write must not leave a partial .tmp lying
        // around to confuse a later recovery
        case e: Throwable => fs.delete(tmp, true); throw e
      }
    // swap via one metadata rename instead of a second full data
    // rewrite: the only non-atomic window is between delete(target)
    // and rename(tmp), during which the fully-written .tmp copy IS
    // the recovery point (recover by renaming path+".tmp" to path).
    // A real lakehouse would commit via table-format metadata.
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"mergeIntoParquet: rename $tmp -> $dst failed after target " +
          "delete; recover by renaming the .tmp directory to the target")
    // sum over no rows observes NULL
    def observed(k: String) = got.get(k) match {
      case Some(n: Number) => n.longValue
      case _ => 0L
    }
    (observed("total") - exCount, exCount - observed("kept"))
  }

  /** Variant (b): executor-side batched `INSERT … ON CONFLICT DO
    * NOTHING` over JDBC (PostgreSQL dialect), one connection per
    * partition, `batchSize`-row batches with per-batch commit —
    * the reference's exact transfer shape (`SELECT.py:213-230`)
    * parallelized across partitions.
    *
    * The reference's skip-failed-batch-and-continue (S6,
    * `SELECT.py:231-236`) is deliberately NOT reproduced: a failed
    * batch fails the task → Spark retries → job fails loudly rather
    * than silently dropping data (SURVEY S6 divergence note).
    */
  def intoJdbc(df: DataFrame, url: String, table: String,
      keys: Seq[String], props: java.util.Properties,
      batchSize: Int = 50000,
      dialect: graft.sources.SqlDialect = graft.sources.PostgresDialect)
      : Unit = {
    val cols = df.columns.toSeq
    val insertSql = dialect.insertDoNothing(table, df.schema, keys)
    val user = Option(props.getProperty("user"))
    val password = Option(props.getProperty("password"))
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val conn = (user, password) match {
        case (Some(u), Some(p)) =>
          java.sql.DriverManager.getConnection(url, u, p)
        case _ => java.sql.DriverManager.getConnection(url)
      }
      try { // S7: conn guaranteed closed even if statement prep throws
        conn.setAutoCommit(false)
        val stmt = conn.prepareStatement(insertSql)
        try {
          var inBatch = 0
          rows.foreach { row =>
            var i = 0
            while (i < cols.length) {
              stmt.setObject(i + 1, row.get(i)); i += 1
            }
            stmt.addBatch()
            inBatch += 1
            if (inBatch >= batchSize) {
              stmt.executeBatch(); conn.commit(); inBatch = 0
            }
          }
          if (inBatch > 0) { stmt.executeBatch(); conn.commit() }
        } finally stmt.close()
      } finally conn.close()
    }
  }
}
