package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 read connector for [[CommitLog]] tables — the
  * engine's lakehouse format surfaced through Spark's standard
  * connector API:
  *
  * {{{
  *   spark.read.format("commitlog").option("path", tbl).load()
  *   spark.read.format("commitlog").option("path", tbl)
  *     .option("versionAsOf", "3").load()      // time travel
  * }}}
  *
  * The snapshot (manifest → segment list) is resolved ONCE, at table
  * construction: the returned DataFrame is pinned to that version's
  * segments, so writers committing concurrently can never change what
  * an already-planned read sees — the DSv2 twin of
  * [[CommitLog.read]]'s snapshot isolation, spec-pinned in
  * CommitLogSpec. Scan execution delegates to Spark's own
  * `ParquetTable` over the pinned segment directories, so filter
  * pushdown, column pruning, vectorized decode and partition planning
  * are all stock — the connector adds versioned-manifest resolution
  * plus two sidecar-stats tiers on top ([[CommitLogSkipping]], the
  * Delta/Iceberg layering): pushed range filters prune the SEGMENT
  * LIST before any footer I/O, and whole-table COUNT/MIN/MAX
  * aggregates are answered from sidecars alone as a `LocalScan`
  * (zero data files opened), falling back to stock parquet behavior
  * whenever any sidecar is missing.
  *
  * Registered in META-INF/services so `format("commitlog")` resolves
  * by short name.
  */
class CommitLogSource extends TableProvider with DataSourceRegister
    with StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  /** `df.writeStream.format("commitlog")` — the standard streaming
    * WRITER surface over the exactly-once protocol append: each
    * micro-batch commits as one txn-stamped manifest version
    * ([[CommitLog.appendTxn]]), so the crash-replay of the last batch
    * is recognized and skipped. `txnAppId` is REQUIRED (Delta's
    * option of the same name): the checkpoint identifies the query,
    * the app id identifies the writer across checkpoint rebuilds.
    * Append mode only — aggregations stream through foreachBatch +
    * the idempotent keyed sinks instead. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path", throw
      new IllegalArgumentException(
        "commitlog sink requires option 'path' (the table directory)"))
    val appId = parameters.getOrElse("txnAppId", throw
      new IllegalArgumentException(
        "commitlog sink requires option 'txnAppId' — the writer " +
          "identity that makes crash-replayed batches recognizable"))
    require(outputMode == org.apache.spark.sql.streaming.OutputMode
      .Append(), s"commitlog sink: Append mode only, got $outputMode")
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // the incoming frame carries a streaming-tagged plan; re-wrap
        // the computed rows as a batch frame (see ofInternalRows)
        val spark = sqlContext.sparkSession
        val rows = data.queryExecution.toRdd.map(_.copy())
        val batchDf = org.apache.spark.sql.GraftColumnBridge
          .ofInternalRows(spark, data.schema, rows)
        // .partitionBy(cols) lands each micro-batch as one sidecar'd
        // segment per partition tuple (born prunable) in the same
        // ONE txn-stamped version — Delta's partitioned streaming
        // write, on the exactly-once protocol append
        if (partitionColumns.nonEmpty)
          CommitLogStats.appendPartitionedTxn(spark, path, batchDf,
            partitionColumns, appId, batchId): Unit
        else
          CommitLog.appendTxn(spark, path, batchDf, appId, batchId): Unit
      }
      override def toString: String = s"CommitLogSink[$path]"
    }
  }

  override def shortName(): String = "commitlog"

  // ---- streaming read: spark.readStream.format("commitlog") ----
  //
  // The V1 streaming Source API — the same layering Delta Lake's
  // streaming source uses publicly (DeltaDataSource implements
  // StreamSourceProvider; getBatch returns a batch-planned DataFrame
  // over exactly the files a version range added). Offsets ARE commit
  // versions, so the checkpoint replays are trivially exact: a batch
  // (start, end] is the same set of segment files forever. Options:
  //   startingVersion      first version to stream (default 1)
  //   readChangeFeed       stream CDC rows (_change_type,
  //                        _commit_version) incl. DML images
  //   skipRewrites         silently skip merge (and, without
  //                        readChangeFeed, delete/update) versions —
  //                        Delta's ignoreChanges caveat
  //   maxVersionsPerTrigger admission control per micro-batch
  //   maxBytesPerTrigger   admission control by ADDED data bytes per
  //                        micro-batch (soft max: the first pending
  //                        version always admits) — composes with
  //                        maxVersionsPerTrigger, both caps apply
  //   ignoreSchemaEvolution keep serving the stream's start schema
  //                        across a mid-stream ADD-COLUMN evolution
  //                        (new columns dropped); default is to FAIL
  //                        loudly at the evolving version — Delta's
  //                        rule, a restart picks up the new schema

  private def streamParams(parameters: Map[String, String]):
      (String, Long, Boolean, Boolean, Option[Long], Boolean,
        Option[Long]) = {
    val path = parameters.getOrElse("path", throw
      new IllegalArgumentException(
        "commitlog stream requires option 'path' (the table directory)"))
    val startV = parameters.get("startingVersion").map(_.toLong)
    // startingTimestamp for streams (Delta's rule): start at the
    // earliest version committed at or after the instant; an instant
    // past every retained commit means "serve only FUTURE commits"
    // (start past the current version), never an error — a stream
    // waits by nature
    val startTs = parameters.get("startingTimestamp")
      .map(CommitLogTable.parseTsMillis(SparkSession.active, _))
    require(startV.isEmpty || startTs.isEmpty,
      "commitlog stream: startingVersion and startingTimestamp are " +
        "mutually exclusive")
    val starting = startTs match {
      case Some(ts) =>
        val spark = SparkSession.active
        CommitLog.versionAtOrAfterTimestamp(spark, path, ts)
          .getOrElse(
            CommitLog.currentVersion(spark, path).getOrElse(0L) + 1L)
      case None => startV.getOrElse(1L)
    }
    (path,
      starting,
      parameters.get("readChangeFeed").exists(_.toBoolean),
      parameters.get("skipRewrites").exists(_.toBoolean),
      parameters.get("maxVersionsPerTrigger").map(_.toLong),
      parameters.get("ignoreSchemaEvolution").exists(_.toBoolean),
      parameters.get("maxBytesPerTrigger").map(_.toLong))
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (path, _, cdf, _, _, _, _) = streamParams(parameters)
    (shortName(), CommitLogStreamSource.streamSchema(
      sqlContext.sparkSession, path, cdf))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (path, startingVersion, cdf, skip, maxV, ignoreEvo, maxB) =
      streamParams(parameters)
    new CommitLogStreamSource(sqlContext.sparkSession, metadataPath,
      path, startingVersion, cdf, skip, maxV, ignoreEvo, maxB)
  }

  private def resolve(options: CaseInsensitiveStringMap): CommitLogTable = {
    val spark = SparkSession.active
    val path = Option(options.get("path")).getOrElse(throw
      new IllegalArgumentException(
        "commitlog source requires option 'path' (the table directory)"))
    val version = Option(options.get("versionAsOf")).map(_.toLong)
    // epoch millis or an ISO-ish timestamp string ('2024-01-31' /
    // '2024-01-31 10:30:00' / with 'T') — what Delta users type.
    // Wall-clock strings resolve in the SESSION timezone (Delta's
    // rule), not hardcoded UTC: a non-UTC session would otherwise
    // silently time-travel to a different version than the same
    // string picks in Delta.
    val tsOf = Option(options.get("timestampAsOf"))
      .map(CommitLogTable.parseTsMillis(spark, _))
    require(version.isEmpty || tsOf.isEmpty,
      "commitlog: versionAsOf and timestampAsOf are mutually exclusive")
    val resolved = tsOf.map(t =>
      CommitLog.snapshotAsOfTimestamp(spark, path, t).version)
      .orElse(version)
    val snap = CommitLog.snapshot(spark, path, resolved).getOrElse(throw
      new IllegalStateException(
        s"commitlog: no committed version at $path" +
          resolved.fold("")(v => s" (versionAsOf=$v — vacuumed or never " +
            "committed)")))
    // created-but-empty or fully-deleted snapshots with a recorded
    // schema serve an empty frame of the declared shape — the same
    // behavior as CommitLog.read and the SQL catalog (forSnapshot);
    // only a segment-less snapshot with NO schema is unreadable
    if (snap.segments.isEmpty && snap.schema.isEmpty)
      throw new IllegalStateException(
        s"commitlog: version ${snap.version} of $path has no segments " +
          "and no recorded schema")
    // an evolved table's recorded schema pins the column set exactly
    // as CommitLog.read does; otherwise ParquetTable infers from files
    val pq = ParquetTable(s"commitlog:$path@v${snap.version}", spark,
      options, snap.segments, snap.schema.map(CommitLog.decodeSchema),
      classOf[ParquetFileFormat])
    new CommitLogTable(spark, path, pq, snap,
      acceptAnySchema = options.getBoolean("mergeSchema", false))
  }

  /** A table with no commits yet: `writeStream` probes the provider
    * for a table BEFORE falling back to the V1 sink, so an absent
    * table must resolve to SOMETHING — a capability-less stub (reads
    * refuse with "does not support batch read"; the V1 sink fallback
    * proceeds and the first committed batch creates the table). */
  private def uncommitted(path: String,
      declared: StructType): Table = new Table {
    override def name(): String = s"commitlog:$path (no commits yet)"
    override def schema(): StructType = declared
    override def capabilities()
        : util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
      util.Collections.emptySet()
  }

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw
      new IllegalArgumentException(
        "commitlog source requires option 'path' (the table directory)"))

  /** BATCH change-data-feed read (Delta's batch CDF options):
    * `spark.read.format("commitlog").option("readChangeFeed", true)
    * .option("startingVersion", N)` serves [[CommitLog.changeFeed]]
    * distributed through the V1 bridge — table columns +
    * `_change_type` + `_commit_version` for every version ≥ N. */
  /** One load = one feed build: Spark calls `inferSchema` then
    * `getTable` on the SAME provider instance (a fresh instance per
    * `.load()`), and each used to rebuild the whole feed — two
    * manifest walks per read. The per-instance memo makes the second
    * call free; instances never outlive a load, so it cannot serve a
    * stale feed across loads. */
  @volatile private var cdfMemo: (String, Table) = null

  private def cdfTable(options: CaseInsensitiveStringMap): Table = {
    val spark = SparkSession.active
    val path = pathOf(options)
    val startV = Option(options.get("startingVersion")).map(_.toLong)
    // startingTimestamp (Delta's second CDF knob): the feed begins
    // at the EARLIEST version committed at or after the instant; a
    // timestamp past every retained commit raises (typo'd-date
    // protection, mirroring timestampAsOf's pre-history rule)
    val startTs = Option(options.get("startingTimestamp"))
      .map(CommitLogTable.parseTsMillis(spark, _))
    require(startV.isEmpty || startTs.isEmpty,
      "commitlog CDF: startingVersion and startingTimestamp are " +
        "mutually exclusive")
    val after = startTs match {
      case Some(ts) =>
        CommitLog.versionAtOrAfterTimestamp(spark, path, ts)
          .getOrElse(throw new IllegalStateException(
            s"commitlog CDF: startingTimestamp $ts is after every " +
              s"retained commit of $path — nothing to serve (use " +
              "the streaming source to wait for future commits)")) - 1L
      case None => startV.getOrElse(1L) - 1L
    }
    // ending bounds (Delta's endingVersion/endingTimestamp): the
    // feed becomes a reproducible pinned range. endingTimestamp
    // resolves at-or-BEFORE (the mirror of startingTimestamp's
    // at-or-after — the range is the commits inside the instant
    // window)
    val endV = Option(options.get("endingVersion")).map(_.toLong)
    val endTs = Option(options.get("endingTimestamp"))
      .map(CommitLogTable.parseTsMillis(spark, _))
    require(endV.isEmpty || endTs.isEmpty,
      "commitlog CDF: endingVersion and endingTimestamp are " +
        "mutually exclusive")
    val to = endTs match {
      case Some(ts) => Some(
        CommitLog.snapshotAsOfTimestamp(spark, path, ts).version)
      case None => endV
    }
    val skip = options.getBoolean("skipRewrites", false)
    // the key carries the CURRENT table version (one directory
    // listing): the memo's correctness must not rest on Spark's
    // one-provider-instance-per-load behavior — if an instance were
    // ever reused across loads, a stale version set would otherwise
    // be served with no staleness signal
    val curV = CommitLog.currentVersion(spark, path).getOrElse(0L)
    val key = s"$path|$after|$skip|$curV|${to.getOrElse(-1L)}"
    val memo = cdfMemo
    if (memo != null && memo._1 == key) return memo._2
    val df = CommitLog.changeFeed(spark, path, after, skip,
      toVersion = to)
    val built: Table = new Table
        with org.apache.spark.sql.connector.catalog.SupportsRead {
      override def name(): String = s"commitlog:$path#changes"
      override def schema(): StructType = df.schema
      override def capabilities()
          : util.Set[org.apache.spark.sql.connector.catalog
            .TableCapability] = {
        val s = new util.HashSet[org.apache.spark.sql.connector
          .catalog.TableCapability]()
        s.add(org.apache.spark.sql.connector.catalog.TableCapability
          .BATCH_READ)
        s
      }
      override def newScanBuilder(o: CaseInsensitiveStringMap)
          : org.apache.spark.sql.connector.read.ScanBuilder =
        () => new org.apache.spark.sql.connector.read.V1Scan {
          override def readSchema(): StructType = df.schema
          override def toV1TableScan[T <: org.apache.spark.sql.sources
              .BaseRelation with org.apache.spark.sql.sources
              .TableScan](
              context: org.apache.spark.sql.SQLContext): T = {
            val rel = new org.apache.spark.sql.sources.BaseRelation
                with org.apache.spark.sql.sources.TableScan {
              override def sqlContext
                  : org.apache.spark.sql.SQLContext = context
              override def schema: StructType = df.schema
              override def needConversion: Boolean = false
              override def buildScan(): org.apache.spark.rdd
                  .RDD[org.apache.spark.sql.Row] =
                df.queryExecution.toRdd
                  .asInstanceOf[org.apache.spark.rdd
                    .RDD[org.apache.spark.sql.Row]]
            }
            rel.asInstanceOf[T]
          }
        }
    }
    cdfMemo = (key, built)
    built
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = pathOf(options)
    if (CommitLog.currentVersion(SparkSession.active, path).isEmpty)
      new StructType()
    else if (options.getBoolean("readChangeFeed", false))
      cdfTable(options).schema()
    else resolve(options).schema
  }

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = pathOf(options)
    if (CommitLog.currentVersion(SparkSession.active, path).isEmpty)
      uncommitted(path, schema)
    else if (options.getBoolean("readChangeFeed", false))
      cdfTable(options)
    else resolve(options)
  }
}

/** DSv2 table wrapper: READS delegate wholesale to Spark's
  * `ParquetTable` over the pinned snapshot's segments (pushdown /
  * pruning / vectorized decode stock, as before); WRITES go through
  * the commit protocol via the V1 write bridge (`V1Write` →
  * `InsertableRelation` — the public fallback Spark's own connectors
  * use for relation-level writes): `mode("append")` is a
  * [[CommitLog.append]] commit, `mode("overwrite")` is a
  * whole-table replace committed as ONE `op = "overwrite"` version
  * (prior versions stay time-travelable; the change feed treats it
  * as a rewrite — raise unless skipRewrites, like merge). The table
  * must already exist (first commit via the programmatic API) — the
  * provider resolves the snapshot to serve the READ schema, the same
  * existence requirement the streaming source documents. */
class CommitLogTable(spark: SparkSession, path: String,
    pq: ParquetTable, snap: CommitLog.Snapshot,
    acceptAnySchema: Boolean = false)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  import org.apache.spark.sql.connector.catalog.TableCapability

  /** The commit-log table directory — the handle the SQL DML
    * strategy (graft.plans.CommitLogDmlStrategy) routes UPDATE /
    * MERGE INTO through. */
  private[graft] def tablePath: String = path

  /** Report the effective CHECK constraints (SUPPORT_TABLE_CONSTRAINT)
    * from the snapshot this table instance is PINNED to — enforced
    * and valid by construction (ADD CONSTRAINT validates all rows
    * before committing; every write is gated after). */
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    CommitLog.constraintsOf(spark, path, Some(snap)).toSeq.sortBy(_._1)
      .map { case (n, e) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(n).predicateSql(e).enforced(true)
          .validationStatus(org.apache.spark.sql.connector.catalog
            .constraints.Constraint.ValidationStatus.VALID)
          .build(): org.apache.spark.sql.connector.catalog
            .constraints.Constraint
      }.toArray

  /** SQL `DELETE FROM … WHERE …`: translated filters feed the
    * copy-on-write [[CommitLog.delete]] — only touched segments
    * rewrite, the deletion is CDC-recorded, prior versions stay
    * time-travelable. `canDeleteWhere` admits exactly the filters the
    * translator covers, so Spark falls back with a clear error (not a
    * silent wrong delete) on anything fancier. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => CommitLogTable.filterToColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val pred = filters.flatMap(CommitLogTable.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    CommitLog.delete(spark, path, pred): Unit
  }

  override def truncateTable(): Boolean = {
    import org.apache.spark.sql.functions.lit
    CommitLog.delete(spark, path, lit(true))
    true
  }

  override def name(): String = pq.name
  override def schema(): StructType = pq.schema

  /** Persistent CHECK constraints surface as table properties
    * (`graft.constraint.<name>` → expression), so `SHOW
    * TBLPROPERTIES` / DESCRIBE EXTENDED show exactly what gates
    * writes. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    CommitLog.constraints(spark, path).foreach { case (n, e) =>
      m.put(s"graft.constraint.$n", e)
    }
    m
  }

  /** A table created `PARTITIONED BY` reports its identity
    * transforms (DESCRIBE shows them; writes route through the
    * partitioned writer below). */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    CommitLog.partitionColumns(spark, path).getOrElse(Seq.empty)
      .map(c => org.apache.spark.sql.connector.expressions
        .Expressions.identity(c)).toArray
  override def capabilities(): util.Set[TableCapability] = {
    val caps = new util.HashSet[TableCapability](pq.capabilities())
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps.add(TableCapability.TRUNCATE)
    // filtered overwrite (replaceWhere): one atomic replace_where
    // commit via CommitLog.overwriteWhere
    caps.add(TableCapability.OVERWRITE_BY_FILTER)
    // a mergeSchema write must reach the connector with its extra
    // columns intact — Spark's output resolution would refuse the
    // arity first; appendEvolve then does the (loud, add-only)
    // validation. Granted ONLY when the option is set.
    if (acceptAnySchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    // MERGE WITH SCHEMA EVOLUTION: the analyzer
    // (ResolveMergeIntoSchemaEvolution) computes the source-vs-target
    // schema delta and applies it through the catalog's alterTable —
    // our existing ADD COLUMNS / safe-widening commit (metadata-only,
    // loud on anything unsafe) — then reloads and resolves the MERGE
    // against the evolved table. The evolve is its own commit ahead
    // of the merge commit (Spark's native sequencing; Delta folds
    // both into one — documented divergence, same end state).
    caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    // Column-mapped tables (any field with a physical name ≠ its
    // logical name) serve scans through the protocol reader, which
    // requests the PHYSICAL schema from parquet and restores logical
    // names — the ParquetTable fast path would silently read NULLs
    // for every renamed column. The bridge costs pushdown (plan-time
    // segment skipping / aggregate pushdown don't apply); column
    // pruning still pushes through the rename projection.
    val mapped = snap.schema.map(CommitLog.decodeSchema)
      .exists(s => !CommitLog.isIdentityMapping(s))
    if (mapped)
      new CommitLogMappedScanBuilder(spark, snap)
    else if (snap.dv.isDefined)
      new CommitLogDvScanBuilder(spark, snap, pq.schema)
    else new CommitLogScanBuilder(spark, snap, pq, options)
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      private var overwriteFilters
          : Option[Array[org.apache.spark.sql.sources.Filter]] = None
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      // filtered overwrite (DataFrameWriterV2.overwrite(cond) / SQL
      // INSERT OVERWRITE with a predicate): admit exactly the filter
      // shapes the translator covers — Spark reports anything fancier
      // as unsupported instead of this connector guessing
      override def canOverwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Boolean =
        filters.forall(f => CommitLogTable.filterToColumn(f).isDefined)
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        if (filters.forall(
            _ == org.apache.spark.sql.sources.AlwaysTrue()))
          overwrite = true
        else overwriteFilters = Some(filters)
        this
      }
      override def build()
          : org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: DataFrame, _: Boolean) => {
              // a PARTITIONED BY table lands one sidecar'd segment
              // per partition tuple on every write — INSERTs are
              // born prunable, no OPTIMIZE needed
              val pCols = CommitLog.partitionColumns(spark, path)
              // Delta's option of the same name: an append carrying
              // NEW columns evolves the recorded schema instead of
              // refusing (add-only; the protocol's appendEvolve)
              val mergeSchema = info.options()
                .getBoolean("mergeSchema", false)
              // Delta's replaceWhere OPTION on a mode("overwrite")
              // V1 write: the SQL-string form of the filtered
              // overwrite
              val replaceWhere = Option(
                info.options().get("replaceWhere")).map(_.trim)
                .filter(_.nonEmpty)
              require(!mergeSchema || (pCols.isEmpty && !overwrite &&
                overwriteFilters.isEmpty && replaceWhere.isEmpty),
                "commitlog write: mergeSchema supports plain appends " +
                  "only (not overwrite or PARTITIONED BY tables)")
              require(replaceWhere.isEmpty || overwrite,
                "commitlog write: replaceWhere requires " +
                  "mode(\"overwrite\") — an append cannot replace")
              overwriteFilters match {
                case Some(fs) =>
                  val pred = fs
                    .flatMap(CommitLogTable.filterToColumn)
                    .reduceOption(_ && _).getOrElse(lit(true))
                  CommitLog.overwriteWhere(spark, path, data, pred)
                  : Unit
                case None => (overwrite, replaceWhere, pCols) match {
                  case (true, Some(sql), _) =>
                    CommitLog.overwriteWhere(spark, path, data,
                      expr(sql)): Unit
                  case (false, _, None) if mergeSchema =>
                    CommitLog.appendEvolve(spark, path, data): Unit
                  case (false, _, None) =>
                    CommitLog.append(spark, path, data): Unit
                  case (false, _, Some(cols)) =>
                    CommitLogStats.appendPartitioned(spark, path, data,
                      cols): Unit
                  case (true, None, None) =>
                    CommitLogTable.overwrite(spark, path, data)
                  case (true, None, Some(cols)) =>
                    CommitLogTable.overwritePartitioned(spark, path,
                      data, cols)
                }
              }
            }
        }
    }
}

/** The connector's scan builder: a thin interposer over Spark's
  * `ParquetScanBuilder` that adds the two sidecar-stats tiers
  * ([[CommitLogSkipping]]) without re-implementing ANY of parquet's
  * own pushdown machinery:
  *
  *  - `pushFilters` (the Catalyst-filter hook `FileScanBuilder`
  *    itself uses) first prunes the pinned snapshot's SEGMENT LIST
  *    against each segment's `_stats.json`; when anything prunes,
  *    the inner builder is rebuilt over the surviving segments only
  *    — then the filters are forwarded unchanged, so parquet
  *    footer/page pruning and the post-scan exact predicate still
  *    apply to the survivors (results can never change, only I/O);
  *  - `pushAggregation` answers whole-table COUNT/MIN/MAX from
  *    sidecars as a COMPLETE pushdown serving a [[LocalScan]] (zero
  *    data files opened, plans as LocalTableScan), falling back to
  *    stock parquet footer aggregation when any sidecar is absent.
  *
  * Everything else (column pruning, build) forwards to the inner
  * builder chosen above. */
private[sources] class CommitLogScanBuilder(spark: SparkSession,
    snap: CommitLog.Snapshot, full: ParquetTable,
    options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
  import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters

  private var inner: ScanBuilder = full.newScanBuilder(options)
  private var kept: Seq[String] = snap.segments
  private var sawFilters = false
  private var metadataAnswer: Option[(StructType, InternalRow)] = None

  private def catalystInner: SupportsPushDownCatalystFilters =
    inner.asInstanceOf[SupportsPushDownCatalystFilters]

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    sawFilters = sawFilters || filters.nonEmpty
    kept = CommitLogSkipping.keptSegments(spark, snap.segments,
      filters)
    if (kept.length < snap.segments.length) {
      // rebuild over survivors; pin the FULL table's resolved schema
      // so an empty survivor list still has a readable shape
      inner = ParquetTable(
        s"${full.name} [sidecar-skip ${snap.segments.length - kept.length}" +
          s"/${snap.segments.length} segments]",
        spark, options, kept, Some(full.schema),
        classOf[ParquetFileFormat]).newScanBuilder(options)
    }
    catalystInner.pushFilters(filters)
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    catalystInner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.asInstanceOf[SupportsPushDownRequiredColumns]
      .pruneColumns(requiredSchema)

  override def supportCompletePushDown(agg: Aggregation): Boolean = {
    // sidecar answers are whole-table: only valid with no filters
    // (parquet data filters are post-scan, so Spark only attempts
    // aggregate pushdown filter-free — this guard is belt-and-braces)
    if (!sawFilters)
      metadataAnswer = CommitLogSkipping.metadataAggregate(
        spark, snap.segments, full.schema, agg)
    metadataAnswer.isDefined || (inner match {
      case a: SupportsPushDownAggregates => a.supportCompletePushDown(agg)
      case _ => false
    })
  }

  override def pushAggregation(agg: Aggregation): Boolean =
    metadataAnswer.isDefined || (inner match {
      case a: SupportsPushDownAggregates => a.pushAggregation(agg)
      case _ => false
    })

  override def build(): Scan = metadataAnswer match {
    case Some((aggSchema, row)) =>
      new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = aggSchema
        override def rows(): Array[InternalRow] = Array(row)
        override def description(): String =
          s"CommitLogMetadataScan(${full.name})"
      }
    case None =>
      // CBO statistics from the sidecar tier: the stock FileScan
      // reports bytes but never a ROW COUNT, so cost-based join
      // reorder and static broadcast selection treat every
      // commit-log table as unknown-cardinality unless someone runs
      // ANALYZE. Sidecars already hold the exact per-segment counts
      // (computed at write time over the landed rows) — surface
      // their sum over the KEPT (sidecar-pruned) segment list, at
      // the cost of one memoized tiny read per segment. A segment
      // without a sidecar degrades rows to unknown, never a partial
      // number. DV'd snapshots don't take this path (their bridge
      // reports size-only — the vector would make counts lie high).
      val factor = spark.conf
        .get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
      val bytes = math.max(1L,
        (CommitLog.segmentsSizeBytes(spark, kept) * factor).toLong)
      val rows = CommitLogStats.segmentsRowCount(spark, kept)
      // storage-partitioned join reporting: a compactBucketed commit
      // records its layout (keys, per-key grid ns, uuid → bucket) in
      // the manifest; a grid spec covering every segment lets the
      // scan claim KeyGroupedPartitioning — ONE single-reference
      // bucket transform PER KEY, since Spark's KeyGroupedShuffleSpec
      // asserts single-leaf partition expressions (a multi-ref
      // bucket(n, k1, k2) can never line up with its individual join
      // keys) — and Spark then plans a join of two same-(keys, grid)
      // tables with ZERO shuffle exchanges (activated by
      // spark.sql.sources.v2.bucketing.enabled; the claim costs
      // nothing when it is off or unresolvable). Legacy pre-grid
      // multi-key records (no per-key counts) keep their DML
      // write-amplification value and simply don't claim.
      def uuidOf(s: String) = s.substring(s.lastIndexOf('/') + 1)
      snap.bucket.flatMap(CommitLog.decodeBucketSpec)
        .filter(bs => bs.gridClaimable &&
          snap.segments.forall(s => bs.byUuid.contains(uuidOf(s))))
        match {
        case Some(bs) =>
          new CommitLogBucketedScan(inner.build(), rows, bytes, bs)
        case None =>
          new CommitLogStatsScan(inner.build(), rows, bytes)
      }
  }
}

/** The SPJ scan over a [[CommitLogStats.compactBucketed]] layout:
  * reports `KeyGroupedPartitioning` with ONE single-reference
  * `bucket(n_i, key_i)` transform PER KEY (Spark's
  * KeyGroupedShuffleSpec requires single-leaf partition expressions)
  * and plans ONE input partition per composite grid cell (each a
  * [[KeyedFilePartition]] whose key row carries the per-key bucket
  * ids, decomposed row-major from the composite id; absent cells
  * emit an empty partition so both join sides always expose
  * identical partition-value sets).
  * Reading machinery stays the wrapped ParquetScan's — its reader
  * factory consumes FilePartitions, and ours are FilePartitions.
  * Runtime-filter re-planning is deliberately NOT delegated here: a
  * mid-plan file-list change would have to re-group buckets, and
  * SPJ's whole point is that the layout is settled at write time. */
private[graft] class CommitLogBucketedScan(
    inner: org.apache.spark.sql.connector.read.Scan,
    rows: Option[Long], bytes: Long,
    spec: CommitLog.TableBucketSpec)
    extends CommitLogStatsScan(inner, rows, bytes)
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning
      .KeyGroupedPartitioning(
        spec.keys.zip(spec.ns).map { case (k, n) =>
          org.apache.spark.sql.connector.expressions.Expressions
            .bucket(n, k): org.apache.spark.sql.connector.expressions
              .Transform
        }.toArray[org.apache.spark.sql.connector.expressions
          .Expression], spec.n)

  /** Composite grid id → per-key bucket ids, row-major. */
  private def decompose(b: Int): Array[Any] = {
    val out = new Array[Any](spec.ns.size)
    var rest = b
    var i = spec.ns.size - 1
    while (i >= 0) {
      out(i) = rest % spec.ns(i)
      rest /= spec.ns(i)
      i -= 1
    }
    out
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = ()

  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    val ib = inner.toBatch
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] = {
        val files = ib.planInputPartitions().flatMap {
          case fp: org.apache.spark.sql.execution.datasources
              .FilePartition => fp.files
          case other => throw new IllegalStateException(
            s"commitlog bucketed scan: unexpected input partition " +
              s"${other.getClass.getName}")
        }
        val grouped = files.groupBy { pf =>
          val p = pf.filePath.toString
          val comps = p.split('/')
          val uuid = if (comps.length >= 2) comps(comps.length - 2)
            else ""
          spec.byUuid.getOrElse(uuid, throw new IllegalStateException(
            s"commitlog bucketed scan: file $p belongs to no " +
              "recorded bucket — stale layout record"))
        }
        (0 until spec.n).map { b =>
          new KeyedFilePartition(b,
            grouped.getOrElse(b, Array.empty),
            org.apache.spark.sql.catalyst.InternalRow
              .fromSeq(decompose(b).toIndexedSeq))
              : org.apache.spark.sql.connector.read.InputPartition
        }.toArray
      }
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        ib.createReaderFactory()
    }
  }
}

/** A [[org.apache.spark.sql.execution.datasources.FilePartition]]
  * carrying its bucket id as the SPJ partition key. */
private[graft] class KeyedFilePartition(idx: Int,
    fs: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.execution.datasources
      .FilePartition(idx, fs)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey()
      : org.apache.spark.sql.catalyst.InternalRow = key
}

/** [[org.apache.spark.sql.connector.read.Scan]] wrapper that reports
  * sidecar-derived statistics (exact row count + data bytes) over the
  * stock parquet scan, delegating everything else — including
  * runtime-filtering (DPP / bloom runtime filters), so wrapping
  * costs no planning capability. */
private[graft] class CommitLogStatsScan(
    inner: org.apache.spark.sql.connector.read.Scan,
    rows: Option[Long], bytes: Long)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** The wrapped parquet scan — plan introspection (segment-read
    * witnesses) unwraps through this. */
  private[graft] def innerScan
      : org.apache.spark.sql.connector.read.Scan = inner

  // structural equality over the wrapped scan (ParquetScan is a case
  // class): Spark's exchange-reuse dedup compares scans, and an
  // identity-equality wrapper would silently disable reuse on
  // self-joins of the same snapshot
  override def equals(o: Any): Boolean = o match {
    case s: CommitLogStatsScan => s.getClass == getClass &&
      s.innerScan == inner
    case _ => false
  }
  override def hashCode(): Int = inner.hashCode()

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    inner.toBatch
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.reportDriverMetrics()
  override def columnarSupportMode()
      : org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(
          java.util.OptionalLong.of)
    }
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    inner match {
      case f: org.apache.spark.sql.connector.read
          .SupportsRuntimeV2Filtering => f.filterAttributes()
      case _ => Array.empty
    }
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit =
    inner match {
      case f: org.apache.spark.sql.connector.read
          .SupportsRuntimeV2Filtering => f.filter(predicates)
      case _ => ()
    }
}

/** Scan builder for a snapshot that carries a DELETION VECTOR: the
  * stock `ParquetTable` path cannot subtract rows inside its scan, so
  * reads bridge through Spark's public `V1Scan` hook (the same V1
  * layering this connector already uses for writes, and the one the
  * built-in JDBC source reads through): the returned relation
  * executes [[CommitLog.readLive]] — parquet scan, broadcast DV
  * anti-join, nothing else — so SQL and `format("commitlog")` reads
  * of a DV'd table are exactly the programmatic read.
  *
  * Pushed filters are (a) replayed INSIDE the bridged frame, where
  * Catalyst pushes them through the anti-join to the parquet scan,
  * and (b) used for sidecar SEGMENT SKIPPING before any footer I/O —
  * resolved against the snapshot's schema, same conservative
  * `CommitLogSkipping` planner as the DV-free path (correct under a
  * DV because subtraction only shrinks segment content; stats prune
  * conservatively). All filters are also reported back to Spark as
  * residual, so a shape the translator cannot replay is still
  * applied post-scan — never a silent wrong answer. Metadata-only
  * aggregates are NOT served (sidecar counts ignore the vector);
  * OPTIMIZE materializes the DV and restores that tier. */
private[sources] class CommitLogDvScanBuilder(spark: SparkSession,
    snap: CommitLog.Snapshot, fullSchema: StructType)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}

  private var required: StructType = fullSchema
  private var filters: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // every filter stays Spark's responsibility post-scan (residual);
  // translatable ones are ALSO replayed inside the bridge for
  // pushdown + segment skipping — double application is harmless
  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs; fs
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan =
    new org.apache.spark.sql.connector.read.V1Scan
        with org.apache.spark.sql.connector.read
          .SupportsReportStatistics {
      override def readSchema(): StructType = required
      // size statistics from the pinned segments' immutable data
      // bytes (memoized listings) — without this the bridge reports
      // UNKNOWN and a small DV'd dimension NEVER statically
      // broadcasts: every join pays the shuffle and hopes AQE
      // converts at runtime. Slight overestimate under a DV
      // (subtracted rows still count) — conservative is correct for
      // a broadcast decision.
      override def estimateStatistics()
          : org.apache.spark.sql.connector.read.Statistics =
        CommitLogTable.segmentStatistics(spark, snap)
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: org.apache.spark.sql.SQLContext): T = {
        val rel = new BaseRelation with TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext =
            context
          override def schema: StructType = required
          // the bridged frame's execution already produces
          // InternalRows (vectorized parquet + codegen inside);
          // declaring no-conversion hands them through directly
          // instead of a Row round-trip per row — the documented V1
          // contract (needConversion=false ⇒ buildScan rows are
          // InternalRow)
          override def needConversion: Boolean = false
          override def buildScan()
              : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
            val cols = filters.flatMap(CommitLogTable.filterToColumn)
            // sidecar skipping: resolve the replayable conjuncts
            // against the segment schema, prune the segment list
            val probeFrame = CommitLog.readSegments(spark,
              snap.segments, snap.schema)
            val conds = cols.flatMap(c =>
              probeFrame.filter(c).queryExecution.analyzed.collect {
                case f: org.apache.spark.sql.catalyst.plans.logical
                  .Filter => f.condition
              })
            val kept = CommitLogSkipping.keptSegments(spark,
              snap.segments, conds.toIndexedSeq)
            val base =
              if (kept.isEmpty)
                CommitLog.readLive(spark, snap).filter(lit(false))
              else CommitLog.readLive(spark, snap, Some(kept))
            val filtered = cols.foldLeft(base)((d, c) => d.filter(c))
            filtered
              .select(required.fieldNames.toIndexedSeq.map(col): _*)
              .queryExecution.toRdd
              .asInstanceOf[org.apache.spark.rdd
                .RDD[org.apache.spark.sql.Row]]
          }
        }
        rel.asInstanceOf[T]
      }
    }
}

/** Scan bridge for COLUMN-MAPPED tables: serves the protocol
  * reader's frame ([[CommitLog.readLive]] — physical parquet schema
  * + logical rename projection + deletion-vector subtraction), with
  * column pruning and translatable filters replayed on the logical
  * frame (Catalyst pushes both through the rename projection into
  * the parquet scan) AND the plan-time sidecar tier: pushed
  * conjuncts prune the SEGMENT LIST via alias-aware sidecar lookups
  * ([[CommitLogStats.skippingKeys]] — renamed columns keep their
  * pre-rename stats) before any footer I/O. What remains given up
  * vs the ParquetTable fast path is aggregate pushdown. */
private[sources] class CommitLogMappedScanBuilder(spark: SparkSession,
    snap: CommitLog.Snapshot)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}

  private lazy val full = CommitLog.readLive(spark, snap)
  private var required: StructType = null
  private var filters: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs; fs // all residual; translatable ones replayed too
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def build(): Scan =
    new org.apache.spark.sql.connector.read.V1Scan
        with org.apache.spark.sql.connector.read
          .SupportsReportStatistics {
      private def outSchema: StructType =
        Option(required).getOrElse(full.schema)
      override def readSchema(): StructType = outSchema
      // same statistics bridge as the DV path: a renamed-but-small
      // dimension must stay statically broadcastable
      override def estimateStatistics()
          : org.apache.spark.sql.connector.read.Statistics =
        CommitLogTable.segmentStatistics(spark, snap)
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: org.apache.spark.sql.SQLContext): T = {
        val rel = new BaseRelation with TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext =
            context
          override def schema: StructType = outSchema
          override def needConversion: Boolean = false
          override def buildScan()
              : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
            val cols = filters.flatMap(CommitLogTable.filterToColumn)
            // sidecar segment pruning under the LOGICAL names, with
            // renamed columns resolved through their alias sets
            val probeFrame = CommitLog.readSegments(spark,
              snap.segments, snap.schema)
            val conds = cols.flatMap(c =>
              probeFrame.filter(c).queryExecution.analyzed.collect {
                case f: org.apache.spark.sql.catalyst.plans.logical
                  .Filter => f.condition
              })
            val names = conds.flatMap(_.collect {
              case a: org.apache.spark.sql.catalyst.expressions
                .AttributeReference => a.name
            }).distinct
            val kept = CommitLogSkipping.keptSegments(spark,
              snap.segments, conds.toIndexedSeq,
              CommitLogStats.skippingKeys(snap.schema, names))
            val base =
              if (kept.isEmpty) full.filter(lit(false))
              else CommitLog.readLive(spark, snap, Some(kept))
            val filtered = cols.foldLeft(base)((d, c) => d.filter(c))
            filtered
              .select(outSchema.fieldNames.toIndexedSeq
                .map(c => col(s"`$c`")): _*)
              .queryExecution.toRdd
              .asInstanceOf[org.apache.spark.rdd
                .RDD[org.apache.spark.sql.Row]]
          }
        }
        rel.asInstanceOf[T]
      }
    }
}

object CommitLogTable {

  /** Timestamp option parsing shared by `timestampAsOf`,
    * `startingTimestamp` (batch CDF and stream): epoch millis or an
    * ISO-ish string ('2024-01-31' / '2024-01-31 10:30:00' / with
    * 'T') — what Delta users type. Wall-clock strings resolve in the
    * SESSION timezone (Delta's rule), not hardcoded UTC: a non-UTC
    * session would otherwise silently resolve to a different version
    * than the same string picks in Delta. */
  private[sources] def parseTsMillis(spark: SparkSession,
      s: String): Long =
    s.toLongOption.getOrElse {
      val norm = s.trim.replace('T', ' ')
      val withTime =
        if (norm.contains(' ')) norm else s"$norm 00:00:00"
      val zone = java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone)
      java.time.LocalDateTime
        .parse(withTime.replace(' ', 'T'))
        .atZone(zone).toInstant.toEpochMilli
    }

  /** Size statistics of a pinned snapshot for the scan bridges:
    * immutable-segment data bytes (memoized listings in
    * [[CommitLog.segmentsSizeBytes]]) scaled by the standard
    * `spark.sql.sources.fileCompressionFactor` — the same estimate
    * Spark's own file relations report, so the broadcast threshold
    * means the same thing on every path. Row count is left unknown:
    * size is what the join strategy consumes, and an exact count
    * would cost a sidecar read per segment at every plan. */
  private[sources] def segmentStatistics(spark: SparkSession,
      snap: CommitLog.Snapshot)
      : org.apache.spark.sql.connector.read.Statistics = {
    val factor = spark.conf
      .get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble
    val bytes = math.max(1L,
      (CommitLog.segmentsSizeBytes(spark, snap.segments) * factor)
        .toLong)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  /** V1 Filter → Column, for the filter shapes SQL DELETE produces.
    * None = untranslatable → `canDeleteWhere` refuses and Spark
    * reports the delete as unsupported instead of guessing. */
  private[sources] def filterToColumn(
      f: org.apache.spark.sql.sources.Filter)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r))
          yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r))
          yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** Build the DSv2 table for an already-resolved snapshot: stock
    * ParquetTable over the pinned segments (empty path list + the
    * recorded schema for a created-but-empty table), wrapped with the
    * protocol write path. Used by [[CommitLogCatalog.loadTable]]. */
  private[sources] def forSnapshot(spark: SparkSession, path: String,
      snap: CommitLog.Snapshot): CommitLogTable = {
    val schema = snap.schema.map(CommitLog.decodeSchema)
    require(snap.segments.nonEmpty || schema.isDefined,
      s"commitlog: version ${snap.version} of $path has no segments " +
        "and no recorded schema")
    val pq = ParquetTable(s"commitlog:$path@v${snap.version}", spark,
      CaseInsensitiveStringMap.empty(), snap.segments, schema,
      classOf[ParquetFileFormat])
    new CommitLogTable(spark, path, pq, snap)
  }

  /** Whole-table replace as one commit: a fresh segment set under the
    * usual OCC; history preserved (time travel still reaches the
    * replaced versions until vacuum). */
  private[sources] def overwrite(spark: SparkSession, table: String,
      df: DataFrame): Unit =
    publishOverwrite(spark, table,
      Seq(CommitLog.writeSegment(spark, table, df)))

  /** [[overwrite]] for a PARTITIONED BY table: the replacement state
    * lands as one sidecar'd segment per partition tuple (the same
    * staging as a partitioned append), published as one `overwrite`
    * version. */
  private[sources] def overwritePartitioned(spark: SparkSession,
      table: String, df: DataFrame, cols: Seq[String]): Unit =
    publishOverwrite(spark, table,
      CommitLogStats.stagePartitioned(spark, table, df, cols))

  /** Publish `segs` as the table's whole content (`op = "overwrite"`). */
  private def publishOverwrite(spark: SparkSession, table: String,
      segs: Seq[String]): Unit =
    CommitLog.transact(spark, table, "commitlog overwrite",
        staged = segs) { tx =>
      val cur = tx.cur
      CommitLog.Publish(CommitLog.Snapshot(cur.fold(1L)(_.version + 1L),
        segs, cur.fold(0L)(_.version), "overwrite",
        schema = cur.flatMap(_.schema)), ())
    }
}

object CommitLogStreamSource {
  /** Data schema at stream start: from the newest version that has
    * segments (a delete-all version has none but older history does).
    * The table must exist — a stream cannot infer a schema from
    * nothing, same requirement Delta documents. */
  private[sources] def dataSchema(spark: SparkSession,
      table: String): StructType =
    CommitLog.versions(spark, table).reverse.iterator
      .flatMap(v => CommitLog.snapshot(spark, table, Some(v)))
      .collectFirst { case s if s.segments.nonEmpty =>
        // honors a recorded (evolved) schema; falls back to inference
        CommitLog.readSegments(spark, s.segments, s.schema).schema }
      .getOrElse(throw new IllegalStateException(
        "commitlog stream: no committed version with data at " +
          s"$table — the table must exist before the stream starts"))

  private[sources] def streamSchema(spark: SparkSession, table: String,
      readChangeFeed: Boolean): StructType = {
    val base = dataSchema(spark, table)
    if (readChangeFeed)
      base.add("_change_type", StringType).add("_commit_version", LongType)
    else base
  }
}

/** Streaming read of a [[CommitLog]] table: each micro-batch is the
  * exact content a range of commit versions added — append segments
  * in data mode, plus the recorded DML change images in
  * `readChangeFeed` mode. The batch's DataFrame is planned through
  * the stock parquet relation (pushdown / pruning / vectorized decode
  * intact) and re-tagged streaming — the public design of Spark's own
  * FileStreamSource and Delta's streaming source.
  *
  * Exactness: offsets are commit versions and segments are immutable,
  * so a checkpoint-replayed batch re-reads literally the same bytes —
  * no dedup bookkeeping needed. A vacuumed version inside a requested
  * range raises (a gap is detectable as a missing manifest), never
  * silently skips. Admission (`maxVersionsPerTrigger`) is anchored on
  * a tiny watermark file under the source's checkpoint metadataPath,
  * so a restart resumes pacing from durable state instead of
  * re-offering stale offsets. */
class CommitLogStreamSource(spark: SparkSession, metadataPath: String,
    table: String, startingVersion: Long, readChangeFeed: Boolean,
    skipRewrites: Boolean, maxVersionsPerTrigger: Option[Long],
    ignoreSchemaEvolution: Boolean = false,
    maxBytesPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  require(maxBytesPerTrigger.forall(_ > 0L),
    "commitlog stream: maxBytesPerTrigger must be positive")

  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  /** Trigger.AvailableNow (FileStreamSource's pattern): capture the
    * table's CURRENT version at query start; every admission decision
    * afterwards caps at it, so the catch-up run processes exactly the
    * data that existed at start — across as MANY cap-paced
    * micro-batches as `maxVersionsPerTrigger`/`maxBytesPerTrigger`
    * dictate — then stops. Implementing the interface ourselves
    * matters: Spark's generic AvailableNowSourceWrapper fetches its
    * end offset ONCE through `getOffset`, which these admission caps
    * have already bounded, so a wrapped nightly catch-up with
    * maxVersionsPerTrigger=k would silently stop k versions in and
    * sign off (data loss from the consumer's viewpoint, not merely
    * slower pacing). */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    // the cap must ALWAYS exist: a table with no committed version at
    // query start still freezes an end (one below startingVersion →
    // the >= startingVersion admission filter yields no data and the
    // run terminates), otherwise latestOffset would run uncapped and
    // an AvailableNow run over an initially-empty table would consume
    // versions committed DURING the run instead of exactly the start
    // snapshot (nothing)
    availableNowEnd = Some(CommitLog.currentVersion(spark, table)
      .getOrElse(startingVersion - 1L))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit
      .allAvailable()

  /** Cap-paced admission under AvailableNow's frozen end; the per-
    * trigger pacing itself lives in [[getOffset]] (the option-driven
    * caps — the ReadLimit argument is always allAvailable here). */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.map { o =>
      val v = o.asInstanceOf[LongOffset].offset
      LongOffset(availableNowEnd.fold(v)(math.min(v, _)))
    }.filter(_.offset >= startingVersion).orNull

  override val schema: StructType =
    CommitLogStreamSource.streamSchema(spark, table, readChangeFeed)

  /** The data columns pinned at stream start — the yardstick for
    * detecting a mid-stream ADD-COLUMN evolution. */
  private val pinnedFields: Set[String] =
    schema.fieldNames.toSet -- Set("_change_type", "_commit_version")

  /** name → type at stream start, for detecting mid-stream
    * RENAME/DROP (removed names) and type widening — the
    * NON-ADDITIVE schema changes no option can absorb. */
  private val pinnedTypes
      : Map[String, org.apache.spark.sql.types.DataType] =
    schema.fields.filter(f => pinnedFields(f.name))
      .map(f => f.name -> f.dataType).toMap

  private val watermarkPath = new org.apache.hadoop.fs.Path(
    s"$metadataPath/graft-commitlog-watermark")
  private def fs = watermarkPath.getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** Highest version already handed to a batch — the admission base.
    * Durable across restarts via the watermark file so pacing never
    * offers an offset below the checkpoint's committed progress. */
  private var plannedFloor: Long = {
    if (fs.exists(watermarkPath)) {
      val in = fs.open(watermarkPath)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLong
      finally in.close()
    } else startingVersion - 1L
  }

  private def persistFloor(v: Long): Unit = {
    if (v > plannedFloor) {
      plannedFloor = v
      val out = fs.create(watermarkPath, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  override def getOffset: Option[org.apache.spark.sql.execution
      .streaming.Offset] = {
    CommitLog.currentVersion(spark, table).flatMap { cur =>
      val cappedV = maxVersionsPerTrigger
        .fold(cur)(m => math.min(cur, plannedFloor + m))
      // BYTES admission (Delta's maxBytesPerTrigger): walk candidate
      // versions forward, summing the data bytes each one ADDED
      // (manifest segment diffs + memoized listings — zero data-file
      // I/O), and stop BEFORE the version that would cross the cap.
      // The first pending version always admits, so a single commit
      // larger than the cap still advances (Delta's soft-max rule) —
      // the knob a 100 TB backfill needs: versions can be wildly
      // uneven, and a versions-only cap can't bound executor memory.
      val capped = maxBytesPerTrigger
        .filter(_ => cappedV > plannedFloor).fold(cappedV) { cap =>
          val from = math.max(1L, plannedFloor)
          val byV = CommitLog.snapshotsRange(spark, table, from,
            cappedV).map(s => s.version -> s).toMap
          var v = plannedFloor
          var bytes = 0L
          var stop = false
          while (!stop && v < cappedV) {
            byV.get(v + 1L) match {
              case None =>
                // hole in the range (vacuumed): admit through it so
                // getBatch raises its curated restart error
                v = cappedV
              case Some(next) =>
                val prevSegs = byV.get(v).map(_.segments.toSet)
                  .getOrElse(Set.empty[String])
                val b = CommitLog.segmentsSizeBytes(spark,
                  next.segments.filterNot(prevSegs))
                if (bytes + b > cap && v > plannedFloor) stop = true
                else { bytes += b; v += 1L }
            }
          }
          v
        }
      if (capped < startingVersion) None else Some(LongOffset(capped))
    }
  }

  private def versionOf(
      o: org.apache.spark.sql.execution.streaming.Offset): Long =
    o match {
      case l: LongOffset => l.offset
      case other => other.json.trim.toLong
    }

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val after = start.map(versionOf).getOrElse(startingVersion - 1L)
    val endV = versionOf(end)
    persistFloor(math.max(after, endV))
    val vs = CommitLog.versions(spark, table)
      .filter(x => x > after && x <= endV)
    val expected = (after + 1L) to endV
    if (vs != expected) throw new IllegalStateException(
      s"commitlog stream: versions ${expected.toSet -- vs.toSet} of " +
        s"$table are vacuumed — the feed after $after cannot be " +
        "reconstructed; restart the stream from a fresh snapshot")
    // one forward pass over the replayed range: resolve(after) once
    // plus one record read per version — NOT one full resolution per
    // version (checkpointInterval+1 reads each) on the hot path
    val fromV = math.max(1L, after)
    val byVersion = CommitLog.snapshotsRange(spark, table,
      fromV, endV).map(x => x.version -> x).toMap
    // the gap check above covers versions after `after`; the replay
    // BASE must also resolve (vacuum retain floor = after+1 leaves
    // the tail intact but the base gone) — raise the curated restart
    // error, not a bare NoSuchElementException from byVersion below
    if (vs.nonEmpty && !byVersion.contains(fromV))
      throw new IllegalStateException(
        s"commitlog stream: version $fromV of $table (the replay " +
          s"base after $after) is vacuumed — the feed cannot be " +
          "reconstructed; restart the stream from a fresh snapshot")
    val parts = vs.flatMap { ver =>
      val snap = byVersion(ver)
      // Mid-stream schema changes, Delta's rules:
      //  - NON-ADDITIVE (rename_column / drop_column / widen_column
      //    commits in the streamed range) ALWAYS fails loudly — no
      //    option absorbs it, because serving under the stream's
      //    schema would misname renamed data, resurrect dropped
      //    bytes, or mistype widened values. Detected by OP, not by
      //    comparing names against the pinned schema: a name-diff
      //    cannot tell "this version predates a later ADD" (fine —
      //    old segments serve NULL) from "this version dropped a
      //    column" (not fine), and would wrongly fail any fresh
      //    stream replaying history across an old evolution.
      //  - ADDITIVE (an evolve ADDS names beyond the pinned set)
      //    fails by default; the documented ignoreSchemaEvolution
      //    opt-in keeps the stream schema with the new columns
      //    dropped.
      if (snap.op == "rename_column" || snap.op == "drop_column" ||
          snap.op == "widen_column") throw new IllegalStateException(
        s"commitlog stream: version $ver of $table is a " +
          s"'${snap.op}' commit — a non-additive schema change the " +
          "stream cannot serve under its pinned schema; restart " +
          "the stream from a fresh checkpoint with startingVersion " +
          "at or after this version (ignoreSchemaEvolution does " +
          "not apply)")
      if (!ignoreSchemaEvolution)
        snap.schema.map(CommitLog.decodeSchema).foreach { sch =>
          val added = sch.fieldNames.filterNot(pinnedFields)
          if (added.nonEmpty) throw new IllegalStateException(
            s"commitlog stream: version $ver of $table adds " +
              s"column(s) ${added.mkString(", ")} beyond the " +
              "stream's start schema — restart the stream to pick " +
              "up the evolved schema, or pass " +
              "ignoreSchemaEvolution=true to keep the start schema " +
              "(new columns dropped)")
        }
      snap.op match {
        // 'clone' is an insert for the feed exactly as in changeFeed:
        // its v1 adds the source's full segment set
        case "append" | "streaming-append" | "clone" | "clone_deep" |
            "convert" | "ctas" =>
          val prev = if (ver == 1L) Set.empty[String]
            else byVersion(ver - 1L).segments.toSet
          val added = snap.segments.filterNot(prev)
          if (added.isEmpty) None
          else {
            // column-mapped tables read under the version's mapping
            // (physical file names → logical); identity tables keep
            // the inferred-read fast path unchanged
            val d = if (snap.schema.map(CommitLog.decodeSchema)
                .exists(s => !CommitLog.isIdentityMapping(s)))
              CommitLog.readSegments(spark, added, snap.schema)
            else ParquetFooters.read(spark, added)
            Some(if (readChangeFeed)
              d.withColumn("_change_type", lit("insert"))
                .withColumn("_commit_version",
                  CommitLog.commitVersion(ver))
            else d)
          }
        case "compact" => None // content-preserving rewrite
        case "create" => None  // zero-segment schema-only commit
        case "evolve" | "rename_column" | "drop_column" |
            "widen_column" | "set_constraint" | "drop_constraint" |
            "set_partition_spec" | "set_default" =>
          None // metadata-only schema/constraint/spec commits
        case "delete" | "delete_dv" | "update" | "update_dv" |
            "replace_where" if readChangeFeed =>
          val dir = snap.changes.getOrElse(throw
            new IllegalStateException(
              s"commitlog stream: version $ver of $table is a " +
                s"'${snap.op}' with no recorded change directory"))
          val raw = ParquetFooters.read(spark, Seq(dir))
          val mapped = snap.schema.map(CommitLog.decodeSchema)
            .filter(s => !CommitLog.isIdentityMapping(s))
            .fold(raw)(CommitLog.fromPhysicalFrame(raw, _))
          Some(mapped.withColumn("_commit_version",
            CommitLog.commitVersion(ver)))
        case _ if skipRewrites => None
        case op => throw new IllegalStateException(
          s"commitlog stream: version $ver of $table is a '$op' " +
            "rewrite — stream the recorded changes with " +
            "readChangeFeed=true, or pass skipRewrites=true to " +
            "consume appends only (its row changes lost)")
      }
    }
    val batch =
      if (parts.isEmpty) {
        import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
          LocalRelation(
            org.apache.spark.sql.catalyst.types.DataTypeUtils
              .toAttributes(schema),
            Seq.empty, isStreaming = true))
      } else {
        // deltas preceding an ADD-COLUMN evolution have fewer columns
        // — they serve NULL for the added ones under the stream's
        // (latest) schema, as the batch feed does
        val union = parts.reduce(_.unionByName(_,
            allowMissingColumns = true))
          .select(schema.fieldNames.toSeq.map(col): _*)
        // the plan is batch-built (stock parquet relations); re-tag it
        // streaming, as FileStreamSource does for its per-batch reads
        val plan = union.queryExecution.analyzed.transform {
          case lr: org.apache.spark.sql.execution.datasources
              .LogicalRelation if !lr.isStreaming =>
            lr.copy(isStreaming = true)
        }
        org.apache.spark.sql.GraftColumnBridge.ofRows(spark, plan)
      }
    batch
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"CommitLogStreamSource[$table, starting=$startingVersion, " +
      s"cdf=$readChangeFeed]"
}
