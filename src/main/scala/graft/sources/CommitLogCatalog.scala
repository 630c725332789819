package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 catalog over [[CommitLog]] tables — the plain-SQL surface:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.CommitLogCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/lake")
  *
  *   spark.sql("CREATE TABLE graft.sales.orders (id BIGINT, v DOUBLE)")
  *   spark.sql("INSERT INTO graft.sales.orders VALUES (1, 2.0)")
  *   spark.sql("SELECT * FROM graft.sales.orders")
  *   spark.sql("INSERT OVERWRITE graft.sales.orders SELECT ...")
  * }}}
  *
  * Identifiers map to directories under the configured `root`
  * (namespace levels are path segments); a table IS its commit-log
  * directory, so the catalog carries no state of its own — listing,
  * existence, loading all derive from `_commits/` on the filesystem,
  * and every other tool (programmatic API, `format("commitlog")`,
  * the streaming source) sees the same tables. Reads resolve one
  * snapshot at loadTable time (per-query pinning, as the connector);
  * writes reuse [[CommitLogTable]]'s protocol commits, so SQL INSERT
  * INTO is an `append` version and INSERT OVERWRITE an `overwrite`
  * version. CREATE TABLE commits version 1 with the schema recorded
  * and NO segments — an empty table that reads as an empty frame of
  * its declared shape. DROP removes the directory; `ALTER TABLE …
  * ADD COLUMNS` commits a metadata-only evolve version (old segments
  * serve NULL); RENAME and every other ALTER refuse loudly (rename
  * would break the clone/segment-path sharing contract; drops and
  * retypes are rewrites, not evolutions).
  */
class CommitLogCatalog extends TableCatalog
    with SupportsNamespaces
    with ProcedureCatalog
    with StagingTableCatalog
    with FunctionCatalog {

  /** FunctionCatalog: exposes the `bucket` layout function so Spark
    * can resolve a bucketed scan's reported
    * `KeyGroupedPartitioning(bucket(n, key))` into a
    * TransformExpression — the resolution step storage-partitioned
    * joins hang on (V2ExpressionUtils looks the transform's name up
    * in the relation's catalog with an EMPTY namespace). */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions
        .UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket") &&
        (ident.namespace().isEmpty ||
          ident.namespace().toSeq == Seq("system")))
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty || namespace.toSeq == Seq("system"))
      Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  private var catalogName: String = _
  private var initialRoot: String = _

  /** GENERATED ALWAYS AS in CREATE TABLE: declaring the capability
    * makes Spark verify each generation expression (deterministic,
    * type-correct, no references to other generated columns) and
    * hand it to [[createTable]] inside the field metadata
    * (`GENERATION_EXPRESSION`), which the manifest schema records
    * verbatim — the write-side compute/validate contract lives in
    * [[CommitLog.computeGenerated]] / the constraint gate. */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT)

  private def spark: SparkSession = SparkSession.active

  /** Spark caches catalog INSTANCES by name per session, so a user
    * who re-points `spark.sql.catalog.<name>.root` in a live session
    * would otherwise keep hitting the initialize-time directory (or a
    * deleted one). Re-resolve from the live conf on every access —
    * initialize's value is only the fallback. */
  private def root: String =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.root")
      .getOrElse(initialRoot)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initialRoot = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"commitlog catalog '$name' requires option 'root' " +
          s"(spark.sql.catalog.$name.root = <directory>)"))
    // UPDATE / MERGE INTO route through a planner strategy
    // (graft.plans.CommitLogDmlStrategy); registering it here means a
    // catalog-only user gets SQL DML with zero extension setup — the
    // strategy is a no-op on every non-commit-log plan
    val s = spark
    if (!s.sessionState.planner.strategies
        .contains(graft.plans.CommitLogDmlStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ graft.plans.CommitLogDmlStrategy
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (root +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  /** Resolve a `namespace.table` reference (a procedure's `table`
    * argument) under this catalog's root. */
  private[sources] def locationOf(tableRef: String): String =
    (root +: tableRef.split('.').toSeq.map(_.trim)).mkString("/")

  /** `CALL <cat>.system.<proc>(...)` — the lifecycle verbs Spark's
    * parser has no statements for (OPTIMIZE / VACUUM / RESTORE /
    * CLONE), shipped the way Iceberg ships them: as catalog stored
    * procedures. See [[CommitLogProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure = {
    if (ident.namespace().toSeq != Seq("system"))
      throw new RuntimeException(
        s"commitlog catalog: procedures live in the 'system' " +
          s"namespace, got ${ident.namespace().mkString(".")}")
    CommitLogProcedures.load(this, ident.name()).getOrElse(
      throw new RuntimeException(
        s"commitlog catalog: unknown procedure '${ident.name()}' — " +
          s"available: ${CommitLogProcedures.list.mkString(", ")}"))
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      CommitLogProcedures.list
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new org.apache.hadoop.fs.Path(
      (root +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_commits")))
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    CommitLog.currentVersion(spark, pathOf(ident)).nonEmpty

  /** Iceberg-style METADATA TABLES: `SELECT * FROM cat.ns.t.history`
    * / `…t.detail` resolve when `ns.t` is a commit-log table and no
    * real table shadows the suffix (a genuine table named `history`
    * wins — checked first). Served as a LocalScan: both surfaces are
    * tiny driver-derived frames (one row per retained version / one
    * row total), snapshotted at load time like any other read. */
  private def metadataTable(parent: String, kind: String): Table = {
    val df = kind match {
      case "history" => CommitLog.history(spark, parent)
      case "detail" => CommitLog.detail(spark, parent)
    }
    val sch = df.schema
    val data = df.queryExecution.executedPlan.executeCollect()
      .map(_.copy())
    new Table
        with org.apache.spark.sql.connector.catalog.SupportsRead {
      override def name(): String = s"$parent#$kind"
      override def schema(): StructType = sch
      override def capabilities()
          : util.Set[org.apache.spark.sql.connector.catalog
            .TableCapability] = {
        val s = new util.HashSet[org.apache.spark.sql.connector
          .catalog.TableCapability]()
        s.add(org.apache.spark.sql.connector.catalog.TableCapability
          .BATCH_READ)
        s
      }
      override def newScanBuilder(
          options: CaseInsensitiveStringMap)
          : org.apache.spark.sql.connector.read.ScanBuilder =
        () => new org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = sch
          override def rows(): Array[org.apache.spark.sql.catalyst
            .InternalRow] = data.toArray
          override def description(): String =
            s"CommitLogMetadata($kind)"
        }
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val path = pathOf(ident)
    CommitLog.snapshot(spark, path) match {
      case Some(snap) => CommitLogTable.forSnapshot(spark, path, snap)
      case None =>
        val kind = ident.name().toLowerCase
        if ((kind == "history" || kind == "detail") &&
            ident.namespace().nonEmpty) {
          val parent = (root +: ident.namespace().toSeq).mkString("/")
          if (CommitLog.currentVersion(spark, parent).nonEmpty)
            return metadataTable(parent, kind)
        }
        throw new NoSuchTableException(ident)
    }
  }

  /** SQL `VERSION AS OF <v>` — Spark routes the literal here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    val snap = CommitLog.snapshot(spark, path, Some(version.toLong))
      .getOrElse(throw new NoSuchTableException(ident))
    CommitLogTable.forSnapshot(spark, path, snap)
  }

  /** SQL `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROS. */
  override def loadTable(ident: Identifier,
      timestampMicros: Long): Table = {
    val path = pathOf(ident)
    val snap = CommitLog.snapshotAsOfTimestamp(spark, path,
      timestampMicros / 1000L)
    CommitLogTable.forSnapshot(spark, path, snap)
  }

  /** Identity partition transforms only (Hive-style `PARTITIONED BY
    * (col)`); bucket/temporal transforms go through the OPTIMIZE
    * procedures instead. */
  private def identityPartitionCols(partitions: Array[Transform],
      schema: StructType): Seq[String] = {
    val cols = partitions.toSeq.map { t =>
      val refs = t.references()
      if (t.name() == "identity" && refs.length == 1 &&
          refs(0).fieldNames().length == 1) refs(0).fieldNames()(0)
      else throw new UnsupportedOperationException(
        s"commitlog catalog: unsupported partition transform $t — " +
          "only identity PARTITIONED BY (col, …) is supported; use " +
          "CALL <cat>.system.optimize_* for bucket/z-order layout")
    }
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"commitlog catalog: partition column '$c' absent from schema"))
    cols
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    createTableImpl(ident, schema, partitions, properties, Map.empty)

  private def createTableImpl(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      checkConstraints: Map[String, String]): Table = {
    val partitionCols = identityPartitionCols(partitions, schema)
    val path = pathOf(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // Partition columns ride IN the v1 manifest (`partitionBy`,
    // explicit "" = created unpartitioned), so the atomic manifest
    // create that arbitrates WHICH creator wins also arbitrates whose
    // partition metadata governs — no marker choreography a race
    // loser could corrupt (the old displace/restore dance could
    // delete a concurrent winner's marker it never observed:
    // winner writes marker + publishes AFTER the loser probed, loser
    // loses and "restores" the nothing it saw). The loser below
    // touches NOTHING on disk.
    // CREATE-time CHECK constraints validate nothing (the table is
    // empty) but must parse as boolean expressions over the declared
    // columns — a typo'd column name should fail the CREATE, not the
    // first INSERT
    checkConstraints.foreach { case (n, e) =>
      val refs = org.apache.spark.sql.catalyst.parser
        .CatalystSqlParser.parseExpression(e).collect {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => u.name
        }
      refs.find(r => !schema.fieldNames.exists(_.equalsIgnoreCase(r)))
        .foreach(r => throw new IllegalArgumentException(
          s"commitlog catalog: CHECK constraint '$n' ($e) references " +
            s"unknown column '$r'"))
    }
    val snap = CommitLog.Snapshot(1L, Seq.empty, 0L, "create",
      schema = Some(CommitLog.encodeSchema(schema)),
      partitionBy = Some(partitionCols.mkString(",")),
      constraints = Some(CommitLog.encodeConstraints(checkConstraints)))
    if (!CommitLog.tryPublish(spark, path, snap))
      throw new TableAlreadyExistsException(ident)
    // Won: reconcile the derivative `_partition.json` cache to OUR
    // truth — clears any orphan from a crashed pre-catalog attempt,
    // then re-writes it only for a partitioned table. A crash inside
    // this window is harmless: partitionColumns prefers the v1
    // record whenever it exists.
    CommitLog.deletePartitionMarker(spark, path)
    if (partitionCols.nonEmpty)
      CommitLog.writePartitionMarker(spark, path, partitionCols)
    loadTable(ident)
  }

  override def createTable(ident: Identifier,
      info: TableInfo): Table = {
    // GENERATED ALWAYS AS arrives on the v2 Column objects, NOT in
    // info.schema() (Spark's Column→StructField conversion drops
    // it) — fold each generation expression back into the field
    // metadata so the manifest schema records it and the write-side
    // compute/validate contract sees it
    val byName = info.columns().map(c => c.name() -> c).toMap
    val schema = StructType(info.schema().fields.map { f =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      var touched = false
      byName.get(f.name).flatMap(c =>
          Option(c.generationExpression())).foreach { genExpr =>
        mb.putString(CommitLog.GeneratedKey, genExpr); touched = true
      }
      // GENERATED ... AS IDENTITY arrives the same way: fold
      // (start, step, allowExplicitInsert) into the field metadata
      // so the manifest schema records it and the allocating append
      // ([[CommitLog.appendIdentity]]) sees it
      byName.get(f.name).flatMap(c =>
          Option(c.identityColumnSpec())).foreach { idSpec =>
        mb.putLong(CommitLog.IdentityStartKey, idSpec.getStart)
        mb.putLong(CommitLog.IdentityStepKey, idSpec.getStep)
        mb.putBoolean(CommitLog.IdentityExplicitKey,
          idSpec.isAllowExplicitInsert)
        touched = true
      }
      if (touched) f.copy(metadata = mb.build()) else f
    })
    // native CHECK constraints (SUPPORT_TABLE_CONSTRAINT): CREATE
    // TABLE ... CONSTRAINT c CHECK (expr) rides the SAME v1 commit as
    // the schema — no create-then-alter window where ungated writes
    // could land. Only enforced CHECK is accepted: this engine
    // actually gates writes, so recording an informational
    // PRIMARY KEY/UNIQUE/FK (or a NOT ENFORCED check) would fake a
    // guarantee nobody checks.
    val cons = Option(info.constraints())
      .getOrElse(Array.empty[org.apache.spark.sql.connector.catalog
        .constraints.Constraint]).map(checkConstraintOf).toMap
    createTableImpl(ident, schema, info.partitions(),
      info.properties(), cons)
  }

  private def checkConstraintOf(
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint)
      : (String, String) = c match {
    case chk: org.apache.spark.sql.connector.catalog.constraints.Check
        if chk.enforced() =>
      chk.name() -> chk.predicateSql()
    case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
      throw new UnsupportedOperationException(
        s"commitlog catalog: CHECK constraint '${chk.name()}' is NOT " +
          "ENFORCED — this engine gates every write, so an unenforced " +
          "check would be recorded but meaningless; declare it " +
          "ENFORCED (the default)")
    case other =>
      throw new UnsupportedOperationException(
        s"commitlog catalog: constraint '${other.name()}' " +
          s"(${other.getClass.getSimpleName}) is informational-only — " +
          "the engine cannot enforce PRIMARY KEY/UNIQUE/FOREIGN KEY " +
          "on a distributed append log; only CHECK is supported")
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) -----------------------
  //
  // `CREATE TABLE … AS SELECT` without staging is two commits
  // (CREATE, then INSERT) with a table-exists-but-empty window a
  // failed write strands forever. Staged, the SELECT's output lands
  // as invisible segments first and the CREATE manifest publish —
  // the protocol's one atomic arbitration point — is the LAST step:
  // either v1 names the data or nothing exists (Delta/Iceberg both
  // stage CTAS this way). REPLACE TABLE … AS SELECT is the same
  // shape at version N+1: one `replace` commit swaps content, schema
  // AND partition spec together; the pre-replace versions stay time
  // travel-able, and CHECK constraints reset with the definition.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    new StagedCommitLogTable(spark, pathOf(ident), ident, schema,
      identityPartitionCols(partitions, schema),
      replace = false, orCreate = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new StagedCommitLogTable(spark, pathOf(ident), ident, schema,
      identityPartitionCols(partitions, schema),
      replace = true, orCreate = false)
  }

  override def stageCreateOrReplace(ident: Identifier,
      schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    new StagedCommitLogTable(spark, pathOf(ident), ident, schema,
      identityPartitionCols(partitions, schema),
      replace = true, orCreate = true)

  /** The METADATA-ONLY table changes — each one manifest commit,
    * zero data rewritten, time travel below the change keeping that
    * version's own column set:
    *
    *  - `ADD COLUMNS` ([[CommitLog.evolveColumns]]): extends the
    *    recorded schema; pre-evolution segments serve NULL;
    *  - `RENAME COLUMN` ([[CommitLog.renameColumn]]): column
    *    mapping — the physical name pins into the field metadata,
    *    only the logical name changes;
    *  - `DROP COLUMN` ([[CommitLog.dropColumn]]): the field leaves
    *    the schema, its bytes stay unrequested in old segments, and
    *    a re-ADD of the name maps to a fresh physical column;
    *  - `SET/UNSET TBLPROPERTIES ('graft.constraint.…')`: CHECK
    *    constraint management.
    *
    * Everything else (retype / reposition / NOT NULL / DEFAULT)
    * refuses loudly: each would either rewrite data or lie about
    * what old segments can serve. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // `SET/UNSET TBLPROPERTIES ('graft.constraint.<name>' = <expr>)`
    // manages persistent CHECK constraints (the Delta model: SET
    // validates existing data, every later write is gated); other
    // property keys refuse — the catalog stores no free-form props,
    // and silently accepting them would fake durability
    val prefix = "graft.constraint."
    val propChanges = changes.collect {
      case sp: TableChange.SetProperty => sp
      case rp: TableChange.RemoveProperty => rp
    }
    if (propChanges.nonEmpty) {
      require(propChanges.size == changes.size,
        "commitlog catalog: mixing TBLPROPERTIES changes with other " +
          "ALTERs in one statement is not supported")
      val path = pathOf(ident)
      propChanges.foreach {
        case sp: TableChange.SetProperty =>
          if (!sp.property().startsWith(prefix))
            throw new UnsupportedOperationException(
              "commitlog catalog: only CHECK-constraint properties " +
                s"('$prefix<name>' = '<boolean expr>') are " +
                s"supported, got '${sp.property()}'")
          CommitLog.setConstraint(spark, path,
            sp.property().stripPrefix(prefix), sp.value())
        case rp: TableChange.RemoveProperty =>
          if (!rp.property().startsWith(prefix))
            throw new UnsupportedOperationException(
              "commitlog catalog: only CHECK-constraint properties " +
                s"('$prefix<name>') can be unset, got " +
                s"'${rp.property()}'")
          CommitLog.dropConstraint(spark, path,
            rp.property().stripPrefix(prefix))
      }
      return loadTable(ident)
    }
    // native constraint DDL (SUPPORT_TABLE_CONSTRAINT): ALTER TABLE
    // ADD CONSTRAINT validates ALL existing rows then commits
    // (CommitLog.setConstraint's contract — Delta's ADD CONSTRAINT
    // behavior); DROP CONSTRAINT is a metadata-only commit. Both ride
    // the versioned constraints field under OCC.
    val consChanges = changes.collect {
      case a: TableChange.AddConstraint => a: TableChange
      case d: TableChange.DropConstraint => d: TableChange
    }
    if (consChanges.nonEmpty) {
      require(consChanges.size == changes.size,
        "commitlog catalog: mixing constraint DDL with other ALTERs " +
          "in one statement is not supported")
      val path = pathOf(ident)
      consChanges.foreach {
        case a: TableChange.AddConstraint =>
          val (n, e) = checkConstraintOf(a.constraint())
          CommitLog.setConstraint(spark, path, n, e): Unit
        case d: TableChange.DropConstraint =>
          val have = CommitLog.constraints(spark, path)
          if (have.contains(d.name()))
            CommitLog.dropConstraint(spark, path, d.name()): Unit
          else if (!d.ifExists())
            throw new IllegalArgumentException(
              s"commitlog catalog: no CHECK constraint '${d.name()}' " +
                s"on ${ident.toString} — have: " +
                have.keys.toSeq.sorted.mkString(", "))
        case _ => ()
      }
      return loadTable(ident)
    }
    // ALTER COLUMN … SET/DROP DEFAULT: a metadata-only commit —
    // safe where ADD COLUMN DEFAULT is not, because defaults are
    // write-time-only (future omissions, never existing rows)
    val defChanges = changes.collect {
      case u: TableChange.UpdateColumnDefaultValue => u
    }
    if (defChanges.nonEmpty) {
      require(defChanges.size == changes.size,
        "commitlog catalog: mixing SET/DROP DEFAULT with other " +
          "ALTERs in one statement is not supported")
      val path = pathOf(ident)
      defChanges.foreach { u =>
        if (u.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "commitlog catalog: SET/DROP DEFAULT supports top-level " +
              s"columns only, got '${u.fieldNames().mkString(".")}'")
        val sql = Option(u.newDefaultValue()).map(_.trim)
          .filter(_.nonEmpty)
        CommitLog.setColumnDefault(spark, path, u.fieldNames()(0),
          sql): Unit
      }
      return loadTable(ident)
    }
    // RENAME / DROP COLUMN: metadata-only commits
    // ([[CommitLog.renameColumn]]/[[CommitLog.dropColumn]] under
    // column mapping — zero rewrites)
    val mappingDdl = changes.collect {
      case r: TableChange.RenameColumn => r: TableChange
      case d: TableChange.DeleteColumn => d: TableChange
    }
    if (mappingDdl.nonEmpty) {
      require(mappingDdl.size == changes.size,
        "commitlog catalog: mixing RENAME/DROP COLUMN with other " +
          "ALTERs in one statement is not supported")
      val path = pathOf(ident)
      mappingDdl.foreach {
        case r: TableChange.RenameColumn =>
          if (r.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "commitlog catalog: RENAME COLUMN supports top-level " +
                s"columns only, got '${r.fieldNames().mkString(".")}'")
          CommitLog.renameColumn(spark, path, r.fieldNames()(0),
            r.newName()): Unit
        case d: TableChange.DeleteColumn =>
          if (d.fieldNames().length != 1)
            throw new UnsupportedOperationException(
              "commitlog catalog: DROP COLUMN supports top-level " +
                s"columns only, got '${d.fieldNames().mkString(".")}'")
          CommitLog.dropColumn(spark, path, d.fieldNames()(0)): Unit
        case _ => ()
      }
      return loadTable(ident)
    }
    // ALTER COLUMN TYPE (safe widenings, [[CommitLog.widenColumn]] —
    // metadata-only) MAY combine with ADD COLUMNS in one statement:
    // that's exactly what the analyzer's MERGE WITH SCHEMA EVOLUTION
    // emits for a source that both widened a column (INT→LONG) and
    // grew a new one. Every change VALIDATES before anything commits
    // (a statement mixing a widening with an unsupported change must
    // refuse whole, not leave the widening behind); then widenings
    // apply (each its own metadata commit), adds follow as one evolve
    // commit — all zero-rewrite, each individually OCC'd.
    val widenings = changes.collect {
      case u: TableChange.UpdateColumnType => u
    }
    if (widenings.nonEmpty) {
      // same resolution and exception contract as widenColumn itself
      // (recorded schema, else inferred from segments; loud
      // IllegalStateException for unknown/unsafe) — validated here so
      // a statement mixing a widening with an unsupported change
      // refuses WHOLE instead of committing the widening first
      val path = pathOf(ident)
      val cur = CommitLog.snapshot(spark, path).getOrElse(
        throw new IllegalStateException(
          s"commitlog catalog: nothing committed at $path"))
      val schema = cur.schema.map(CommitLog.decodeSchema).getOrElse {
        if (cur.segments.isEmpty) throw new IllegalStateException(
          s"commitlog catalog: $path has no recorded schema and no " +
            "segments — nothing to alter")
        CommitLog.readSegments(spark, cur.segments, None).schema
      }
      widenings.foreach { u =>
        if (u.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "commitlog catalog: ALTER COLUMN TYPE supports " +
              "top-level columns only, got " +
              s"'${u.fieldNames().mkString(".")}'")
        val name = u.fieldNames()(0)
        val f = schema.fields
          .find(_.name.equalsIgnoreCase(name)).getOrElse(
            throw new IllegalStateException(
              s"commitlog catalog: no column '$name' to widen"))
        if (!CommitLog.isSafeWiden(f.dataType, u.newDataType()))
          throw new IllegalStateException(
            s"commitlog catalog: ${f.dataType.simpleString} → " +
              s"${u.newDataType().simpleString} on '$name' is not " +
              "a metadata-only widening")
      }
    }
    val rest = changes.filterNot(
      _.isInstanceOf[TableChange.UpdateColumnType])
    val added = rest.map {
      case a: TableChange.AddColumn =>
        if (a.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            "commitlog catalog: ALTER TABLE ADD COLUMNS supports " +
              s"top-level columns only, got nested field " +
              s"'${a.fieldNames().mkString(".")}'")
        if (a.position() != null)
          throw new UnsupportedOperationException(
            "commitlog catalog: FIRST/AFTER positioning is not " +
              "supported — evolved columns append after the existing " +
              "ones (the manifest-recorded order every reader pins)")
        if (!a.isNullable)
          throw new UnsupportedOperationException(
            "commitlog catalog: an added column must be nullable — " +
              "every pre-evolution segment serves NULL for it")
        if (a.defaultValue() != null)
          throw new UnsupportedOperationException(
            "commitlog catalog: DEFAULT on an added column is not " +
              "supported — pre-evolution rows read NULL, not the " +
              "default; backfill with UPDATE instead")
        org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = true)
      case c =>
        throw new UnsupportedOperationException(
          "commitlog catalog: ALTER TABLE supports ADD COLUMNS, " +
            "RENAME COLUMN, DROP COLUMN and the safe ALTER COLUMN " +
            s"TYPE widenings (got ${c.getClass.getSimpleName}) — " +
            "anything else needs an explicit rewrite, not metadata " +
            "evolution")
    }
    // everything validated — now commit: widenings first, adds after
    widenings.foreach { u =>
      CommitLog.widenColumn(spark, pathOf(ident), u.fieldNames()(0),
        u.newDataType()): Unit
    }
    if (added.nonEmpty)
      CommitLog.evolveColumns(spark, pathOf(ident), added): Unit
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = new org.apache.hadoop.fs.Path(pathOf(ident))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(path, "_commits")) &&
      fs.delete(path, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "commitlog catalog: RENAME TABLE is not supported — segment " +
        "paths are shared by clones and pinned by readers; copy via " +
        "cloneTable + compact instead")

  // ---- namespaces = directories under root ---------------------------

  private def nsPath(namespace: Array[String]) =
    new org.apache.hadoop.fs.Path((root +: namespace.toSeq).mkString("/"))

  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isTableDir(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p, "_commits"))

  override def listNamespaces(): Array[Array[String]] = {
    val p = nsPath(Array.empty)
    val fs = fsOf(p)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTableDir(fs, _)).map(d => Array(d.getName))
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    val p = nsPath(namespace)
    val fs = fsOf(p)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filterNot(isTableDir(fs, _))
      .map(d => namespace :+ d.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = nsPath(namespace)
    val fs = fsOf(p)
    namespace.nonEmpty && fs.exists(p) && !isTableDir(fs, p)
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val p = nsPath(namespace)
    fsOf(p).mkdirs(p): Unit
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "commitlog catalog: namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    val fs = fsOf(p)
    if (!namespaceExists(namespace)) false
    else if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"commitlog catalog: namespace ${namespace.mkString(".")} is " +
          "not empty — use CASCADE")
    else fs.delete(p, true)
  }
}

/** The CTAS/RTAS staging handle: Spark writes the SELECT's output
  * through the V1 bridge into INVISIBLE staged segments (never named
  * by any manifest yet), then calls [[commitStagedChanges]] — one
  * manifest publish that either lands data + schema + partition spec
  * together or leaves the table untouched. [[abortStagedChanges]]
  * (write failure) deletes the staged segments; a crash that skips
  * even that leaves only unreferenced garbage for vacuum, never a
  * half-created table. */
private[sources] class StagedCommitLogTable(spark: SparkSession,
    path: String, ident: Identifier, declaredSchema: StructType,
    partitionCols: Seq[String], replace: Boolean, orCreate: Boolean)
    extends StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  import org.apache.spark.sql.connector.catalog.TableCapability

  private val staged =
    new java.util.concurrent.CopyOnWriteArrayList[String]()

  override def name(): String = s"commitlog:$path (staged)"
  override def schema(): StructType = declaredSchema
  override def partitioning()
      : Array[Transform] = partitionCols
    .map(c => org.apache.spark.sql.connector.expressions
      .Expressions.identity(c)).toArray
  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.V1_BATCH_WRITE)
    s.add(TableCapability.TRUNCATE)
    s
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // RTAS arrives as a truncate+append of the staged table; the
      // staged segment set IS the replacement, so truncate is a no-op
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = this
      override def build()
          : org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
              // unchecked staging: CHECK constraints (if any) belong
              // to the definition being REPLACED, not the one being
              // committed — they reset below
              val segs =
                if (partitionCols.nonEmpty)
                  CommitLogStats.stagePartitioned(spark, path, data,
                    partitionCols, enforce = false)
                else Seq(CommitLog.stageSegmentUnchecked(spark, path,
                  data))
              segs.foreach(staged.add(_))
            }
        }
    }

  override def commitStagedChanges(): Unit = {
    import scala.jdk.CollectionConverters._
    val segs = staged.iterator().asScala.toSeq
    val schemaB64 = CommitLog.encodeSchema(declaredSchema)
    val pb = Some(partitionCols.mkString(","))
    // a refusal or giving up drops the staged segments; a CREATE that
    // loses v1 to a concurrent creator fails loudly on its retry, a
    // CREATE OR REPLACE retries as a replace of the winner
    val replaced = CommitLog.transact(spark, path, "commitlog CTAS/RTAS",
        staged = segs) { tx =>
      tx.cur match {
        case None =>
          if (replace && !orCreate) throw new NoSuchTableException(ident)
          CommitLog.Publish(CommitLog.Snapshot(1L, segs, 0L, "ctas",
            schema = Some(schemaB64), partitionBy = pb,
            constraints =
              Some(CommitLog.encodeConstraints(Map.empty))), false)
        case Some(cur) =>
          if (!replace) throw new TableAlreadyExistsException(ident)
          // the new definition starts clean: the replace commit
          // ITSELF records the explicit-empty constraint set (a kept
          // rule could reference columns the new schema dropped) —
          // atomic with the publish, so no crash window can strand
          // the old definition's rules on the new schema
          CommitLog.Publish(CommitLog.Snapshot(cur.version + 1L, segs,
            cur.version, "replace", schema = Some(schemaB64),
            partitionBy = pb,
            constraints =
              Some(CommitLog.encodeConstraints(Map.empty)),
            // identity high-water marks reset the same way: without
            // the explicit-empty field the publish would INHERIT the
            // replaced table's marks, and a re-declared identity
            // column would start allocating from the dead table's
            // mark instead of its declared START
            identity =
              Some(CommitLog.encodeConstraints(Map.empty))), true)
      }
    }
    // legacy side-file cleanup only (ignored once the field exists);
    // losing this to a crash changes nothing
    if (replaced) CommitLog.clearConstraints(spark, path)
    reconcileMarker()
  }

  /** Post-publish, reconcile the derivative `_partition.json` cache
    * to the committed spec (the manifest record governs either way —
    * see [[CommitLog.partitionColumns]]). */
  private def reconcileMarker(): Unit = {
    CommitLog.deletePartitionMarker(spark, path)
    if (partitionCols.nonEmpty)
      CommitLog.writePartitionMarker(spark, path, partitionCols)
  }

  override def abortStagedChanges(): Unit = {
    import scala.jdk.CollectionConverters._
    val f = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    staged.iterator().asScala.foreach(s =>
      f.delete(new org.apache.hadoop.fs.Path(s), true): Unit)
  }
}

