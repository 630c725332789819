package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Rows of `incoming` whose key tuple is absent from `existing`, in
    * `incoming`'s column order (a USING join puts the keys first, and
    * appended files must match the target's column order).
    * Also dedups within `incoming` itself (the DB PK would reject the
    * second occurrence of a pair within one load too). */
  def newRows(incoming: DataFrame, existing: DataFrame, keys: Seq[String])
      : DataFrame = {
    val existingKeys = existing.select(keys.map(col): _*).distinct()
    incoming
      .dropDuplicates(keys)
      .join(existingKeys, keys, "left_anti")
      .select(incoming.columns.toSeq.map(c => col(s"`$c`")): _*)
  }

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
    * run returns 0 — the S4 idempotence law). */
  def intoParquet(spark: SparkSession, incoming: DataFrame, path: String,
      keys: Seq[String]): Long = {
    val toInsert = existing(spark, path) match {
      case Some(ex) =>
        // schema drift into an append target silently corrupts the
        // table — gate on the existing schema first (SURVEY O10)
        graft.sources.SchemaAssert.require(incoming, ex.schema)
        newRows(incoming, ex, keys)
      case None => incoming.dropDuplicates(keys)
    }
    // Materialize before append: the append invalidates the source
    // listing we are anti-joining against.
    val staged = toInsert.persist()
    val n = staged.count()
    if (n > 0) staged.write.mode(SaveMode.Append).parquet(path)
    staged.unpersist()
    n
  }

  /** MERGE mode — the explicit improvement SURVEY §7.5 anticipates
    * over the reference's first-writer-wins contract: keyed rows that
    * already exist are REPLACED by the incoming payload, unseen keys
    * are inserted, existing keys absent from `incoming` are kept.
    * (The reference's `ON CONFLICT DO NOTHING` never refreshes changed
    * upstream values, `SELECT.py:146-148` — intended there, but a
    * view-materialization pipeline usually wants refresh semantics.)
    * `incoming` is deduplicated per key first (greatest payload struct
    * wins — deterministic), mirroring the PK's one-row-per-key
    * guarantee. Returns (inserted, replaced) counts. */
  def mergeIntoParquet(spark: SparkSession, incoming: DataFrame,
      path: String, keys: Seq[String]): (Long, Long) = {
    val payloadCols = incoming.columns.filterNot(keys.contains).toSeq
    val incOne = if (payloadCols.isEmpty) incoming.dropDuplicates(keys)
      else graft.operators.Dedup.latestPerKey(incoming,
        partition = keys.map(col),
        order = Seq(struct(payloadCols.map(col): _*).desc))
    existing(spark, path) match {
      case None =>
        val staged = incOne.persist()
        val n = staged.count()
        staged.write.mode(SaveMode.Overwrite).parquet(path)
        staged.unpersist()
        (n, 0L)
      case Some(ex) =>
        graft.sources.SchemaAssert.require(incOne, ex.schema)
        val kept = ex.join(incOne.select(keys.map(col): _*), keys,
          "left_anti")
        // materialize the merged relation BEFORE touching the source
        // it reads from (same hazard as intoParquet's append)
        val merged = kept.unionByName(incOne).persist()
        val total = merged.count()
        val exCount = ex.count()
        val replaced = exCount - kept.count()
        val inserted = total - exCount
        val fs = org.apache.hadoop.fs.FileSystem
          .get(spark.sparkContext.hadoopConfiguration)
        val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
        val dst = new org.apache.hadoop.fs.Path(path)
        try merged.write.mode(SaveMode.Overwrite).parquet(path + ".tmp")
        catch {
          // a failed staging write must not leave a partial .tmp lying
          // around to confuse a later recovery
          case e: Throwable => fs.delete(tmp, true); throw e
        } finally merged.unpersist()
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
        (inserted, replaced)
    }
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
