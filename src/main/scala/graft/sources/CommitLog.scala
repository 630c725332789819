package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal lakehouse commit protocol: versioned manifests over
  * immutable parquet segments — the concurrent-writer story the plain
  * directory sinks ([[graft.operators.IdempotentInsert.mergeIntoParquet]],
  * [[Formats.compact]]) lack.
  *
  * ON-DISK FORMAT: FORMAT.md at the repo root is the NORMATIVE
  * protocol specification (manifest/delta/checkpoint grammar, sidecar
  * formats and key eras, DV/CDC layouts, metadata inheritance,
  * atomic-publish requirements, conformance checklist); on conflict
  * with any scaladoc here, FORMAT.md wins.
  *
  * The reference gets write-write safety for free from its database:
  * `INSERT … ON CONFLICT DO NOTHING` serializes at the PG row lock
  * (`SELECT.py:214-218`). The lakehouse analog (public design shared
  * by Delta Lake's transaction log and Iceberg's snapshot pointer) is:
  *
  *  - data files are IMMUTABLE: every commit writes its rows into a
  *    fresh uniquely-named segment directory and never touches prior
  *    segments;
  *  - a table's state is the highest-numbered manifest in `_commits/`,
  *    a tiny JSON file listing exactly the segment directories that
  *    make up that version;
  *  - committing version N+1 is ONE atomic create-if-absent of
  *    `_commits/<N+1>.manifest` — the filesystem arbitrates races:
  *    exactly one writer wins a version, the loser re-reads the new
  *    state, rebases its intent, and retries (optimistic concurrency);
  *  - readers list `_commits/` once, pick a version, and read only the
  *    segments that manifest names — a consistent snapshot regardless
  *    of what writers do meanwhile (snapshot isolation), and any
  *    retained older version is readable the same way (time travel).
  *
  * 100 TB posture: the manifest holds segment paths, not row data —
  * commits cost one small file create no matter the table size; the
  * OCC retry loop re-runs only the conflicted writer's merge; readers
  * never block. The atomic publish primitive is a pluggable seam
  * ([[ManifestStore]]): the default uses `Files.createLink` (POSIX
  * link(2) fails with EEXIST — atomic and content-complete, since the
  * fully-written temp file is linked, never a partial) on local paths
  * and HDFS's rename-without-overwrite elsewhere; an S3-class store
  * with no atomic namespace op registers a [[ConditionalPutStore]]
  * over its conditional PUT (`If-None-Match: *`) — the same
  * store-arbitrated design Delta uses for S3 multi-writer commits.
  * The lost-update law is spec-run against a contended fake object
  * store (and a deliberately broken blind-PUT store, proving the law
  * rests on exactly this primitive) in CommitLogSpec.
  *
  * Commit metadata is O(delta), not O(table) — the Delta Lake
  * delta-log + checkpoint design (public: JSON delta actions per
  * commit, periodic full-state checkpoint, snapshot = nearest
  * checkpoint + tail replay): a commit's manifest records only the
  * segments it ADDED and REMOVED relative to its parent (every
  * other field — op, schema, dv, txn, changes — stays absolute per
  * version, so replay touches only the segment list); every
  * `spark.graft.manifest.checkpointInterval`-th version (default
  * 10) the winner also writes `<v>.checkpoint`, the full
  * self-contained state. Resolving any version reads at most
  * interval+1 small files; a 100 TB table committing thousands of
  * times a day pays ~100 bytes per append commit forever, with the
  * O(segments) render amortized across the checkpoint cadence.
  * Checkpoint writes are best-effort and idempotent (create-if-
  * absent by the unique version winner): a crash between manifest
  * and checkpoint merely lengthens later replays until the next
  * cadence hit. VACUUM pins the retain floor with a checkpoint
  * before dropping older manifests, so every retained version stays
  * resolvable; v1 and pre-evolution manifests (the old full format)
  * parse unchanged — a delta record is recognized by its
  * `addSegments` field. Segment COUNT still has an economics bound
  * (reader planning time, checkpoint bytes) — the commit-time guard
  * warns past `warnSegments` — but it is no longer a per-commit
  * cost cliff; the OPTIMIZE verbs remain the way to keep plans
  * tight.
  *
  * ==Isolation contract for concurrent DML==
  *
  * The engine provides Delta Lake's `WriteSerializable` equivalent:
  * every commit serializes at the version publish, readers get
  * snapshot isolation for free (a planned read is pinned to its
  * manifest's segment list), and a writer that loses the version
  * race RE-DERIVES its intent against the winner's committed state
  * before retrying. Per interleaving:
  *
  *  - '''append vs anything''': always both land — the loser's
  *    retry re-lists segments; rows cannot collide (append-only).
  *  - '''merge vs append / merge vs merge''': the loser RECOMPUTES
  *    the key-merge against the winner's state, so the final state
  *    equals applying both in version order; for overlapping keys
  *    the later committer's payload governs (the PG
  *    `ON CONFLICT` re-evaluation analog; merge-vs-merge law in
  *    CommitLogSpec).
  *  - '''delete/update (copy-on-write or vectored) vs any
  *    committer''': the loser re-runs find-touched + rewrite on the
  *    winner's state (DML lost-update laws) — a row inserted by the
  *    interleaved winner IS visible to the retried predicate.
  *  - '''compact/OPTIMIZE vs DML''': compaction losing to a DML
  *    recompacts the post-DML state; a DML losing to a compaction
  *    re-matches against the compacted segments (the
  *    compact-vs-vectored-delete serialization law). Either order
  *    converges to the same row set.
  *  - '''conflicting CREATEs''' (including CTAS): exactly one v1
  *    wins; the loser surfaces TableAlreadyExists and leaves no
  *    on-disk effect.
  *  - '''REFUSALS''' (no silent resolution): evolve/ADD COLUMNS of
  *    a duplicate column name; DDL mixing; RESTORE that would
  *    strand a CHECK constraint; vacuuming a version a change-feed
  *    range still needs (loud gap, never a silent skip).
  *
  * What is NOT provided: full `Serializable` across READ-then-WRITE
  * application logic — two clients that each read version N and
  * then write values derived from that read serialize as commits,
  * but their reads are not re-validated (same caveat Delta
  * documents for WriteSerializable). Route read-modify-write
  * through [[merge]]/[[update]] (whose recompute loops re-derive
  * from committed state) rather than read + blind [[append]]. */
object CommitLog {

  /** One committed table version: the segment directories whose union
    * is the table's content at `version`. `txnApp`/`txnBatch` are the
    * idempotent-writer transaction stamp (Delta's `txn` action, public
    * design): a streaming query records (its id, micro-batch id) on
    * every commit so a REPLAYED batch is recognized and skipped.
    * `changes` is the recorded change-data directory of a row-level
    * DML commit ([[delete]]/[[update]]): the rows the commit removed /
    * rewrote, stamped `_change_type` — Delta's CDC-file design, which
    * makes DML versions consumable by [[changeFeed]] (a rewrite's
    * delta is NOT derivable from segment diffs alone). `dv` is the
    * version's DELETION VECTOR: a parquet directory of
    * (`_dv_file`, `_dv_pos`) row positions that every reader
    * subtracts from the segment content — the merge-on-read DELETE
    * (public Delta/Iceberg deletion-vector design): a
    * [[deleteVectored]] commit writes O(deleted rows), rewrites ZERO
    * segments, and the next OPTIMIZE/compact materializes the
    * subtraction and clears the field. */
  final case class Snapshot(version: Long, segments: Seq[String],
      baseVersion: Long, op: String,
      txnApp: Option[String] = None, txnBatch: Option[Long] = None,
      changes: Option[String] = None,
      schema: Option[String] = None,
      ts: Option[Long] = None,
      dv: Option[String] = None,
      partitionBy: Option[String] = None,
      mapping: Option[String] = None,
      constraints: Option[String] = None,
      // identity-column high-water marks ("col=hwm;col2=hwm", names
      // base64 like constraint names): the largest (per step sign)
      // value ever ALLOCATED OR SEEN for each identity column —
      // versioned exactly like constraints (absolute per record,
      // inherited at publish), so allocation is OCC-serialized and
      // time travel reads the era's own mark
      identity: Option[String] = None,
      // minimum reader protocol this record requires (FORMAT.md §2.4,
      // Delta's reader-version design): a reader that understands
      // less than this number must REFUSE the table rather than
      // silently ignore fields whose absence changes row content
      // (e.g. skipping an unknown deletion-vector successor would
      // resurrect deleted rows). Absent = 1 (the pre-protocol era).
      protocol: Option[Int] = None,
      // bucket layout of THIS record's exact segment set (written by
      // compactBucketed: keys, bucket count, segment-uuid → bucket) —
      // what lets the DSv2 scan report KeyGroupedPartitioning so two
      // bucket-aligned tables join with ZERO shuffles (Iceberg's
      // storage-partitioned join). Deliberately NOT inherited at
      // publish: any other commit changes the segment set and the
      // layout claim dies with it (readers ignoring the field lose an
      // optimization, never a row — reader protocol unchanged).
      bucket: Option[String] = None)

  /** Decoded [[Snapshot.bucket]]: hash keys (canonical layout order),
    * TOTAL bucket count, the segment-uuid → bucket map of the exact
    * committed layout, and the PER-KEY grid counts `ns` (product =
    * `n`; the composite bucket id is row-major over them). A
    * single-key layout has `ns = Seq(n)`. A legacy multi-key layout
    * (written before the grid era, composite hash over all keys at
    * once) decodes with `ns` EMPTY — it keeps its DML
    * write-amplification value but cannot claim SPJ (Spark's
    * KeyGroupedShuffleSpec requires single-reference partition
    * transforms, so only the per-key grid form is claimable). */
  final case class TableBucketSpec(keys: Seq[String], n: Int,
      byUuid: Map[String, Int], ns: Seq[Int]) {
    /** The layout claims SPJ: per-key grid counts recorded and
      * consistent. */
    def gridClaimable: Boolean =
      ns.size == keys.size && ns.product == n
  }

  private[sources] def encodeBucketSpec(keys: Seq[String],
      ns: Seq[Int], segs: Seq[(Int, String)]): String =
    encodeBucketEntries(keys, ns, segs.map { case (b, seg) =>
      seg.substring(seg.lastIndexOf('/') + 1) -> b }.toMap)

  private[sources] def encodeBucketEntries(keys: Seq[String],
      ns: Seq[Int], entries: Map[String, Int]): String =
    encodeConstraints(Map(
      "__keys" -> keys.mkString(","),
      "__n" -> ns.product.toString,
      "__ns" -> ns.mkString(",")) ++
      entries.map { case (u, b) => u -> b.toString })

  private[graft] def decodeBucketSpec(
      enc: String): Option[TableBucketSpec] =
    try {
      val m = decodeConstraints(enc)
      for {
        keys <- m.get("__keys").map(_.split(',').toSeq.filter(_.nonEmpty))
        n <- m.get("__n").map(_.toInt)
      } yield TableBucketSpec(keys, n,
        (m - "__keys" - "__n" - "__ns")
          .map { case (u, b) => u -> b.toInt },
        // pre-grid records carry no __ns: single-key is trivially the
        // one-cell grid; multi-key stays unclaimable (empty)
        m.get("__ns").map(_.split(',').toSeq.filter(_.nonEmpty)
            .map(_.toInt))
          .getOrElse(if (keys.size == 1) Seq(n) else Seq.empty))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Highest reader protocol this engine understands (FORMAT.md
    * §2.4). History: 1 = base format; 2 = deletion vectors + column
    * mapping (fields whose absence from a reader's model CHANGES ROW
    * CONTENT — an older reader must refuse, not serve). Write-side
    * features (constraints, identity marks, generated/default column
    * metadata) do NOT raise the reader requirement: ignoring them
    * yields correct rows, just an unguarded writer — and writers are
    * always this engine. */
  private[sources] val SupportedProtocol: Int = 2

  /** The reader protocol `snap` actually requires. */
  private[sources] def requiredProtocol(snap: Snapshot): Int = {
    val mapped = snap.mapping.contains("name") ||
      snap.schema.map(decodeSchema).exists(s => !isIdentityMapping(s))
    if (snap.dv.isDefined || mapped) 2 else 1
  }

  private[sources] def commitsDir(table: String) = s"$table/_commits"

  // ---- column mapping (RENAME / DROP COLUMN) ---------------------------
  //
  // Delta Lake's column-mapping design ("name" mode), carried in the
  // schema the manifest already records: each StructField MAY hold a
  // physical name in its metadata (`graft.physical`); absent, the
  // physical name IS the logical name. RENAME is then a metadata-only
  // commit that changes the logical name and pins the physical one;
  // DROP removes the field from the recorded schema (old segments
  // keep the bytes, no reader ever requests them); re-ADDing a name
  // on a mapped table assigns a FRESH physical name (col-<uuid>), so
  // dropped data can never resurrect under a reused name. Readers
  // request the PHYSICAL schema from parquet and serve logical names
  // on top; writers rename logical → physical before the file write.
  // Physical names are stable across any number of renames — that
  // invariance is what makes time travel, CDF and mixed-age segment
  // sets line up without rewrites.

  private[sources] val PhysicalKey = "graft.physical"

  /** GENERATED ALWAYS AS (Delta's generated columns): Spark records
    * the generation expression in the field metadata under this key
    * (`GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY`) when the
    * catalog declares SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS —
    * Spark itself verifies the expression (deterministic, correct
    * type, no self/other-generated references) at CREATE. The
    * protocol's side of the contract:
    *  - a write MISSING the column computes it
    *    ([[computeGenerated]] — every gated path: append family,
    *    DML rewrites, partitioned/sliced stagers), so partitioning
    *    by a generated column works and programmatic appends may
    *    omit it;
    *  - a write PROVIDING the column is VALIDATED against the
    *    expression inside the same single-scan gate the CHECK
    *    constraints use ([[constraintViolation]]) — Delta's rule:
    *    a mismatching value refuses atomically (SQL INSERT must
    *    provide all columns, so it is always the validated case);
    *  - RENAME/DROP of a column a generation expression reads
    *    refuses ([[mappingDdlGuards]]), like constraints. */
  private[sources] val GeneratedKey = "GENERATION_EXPRESSION"

  private[sources] def generatedColumns(
      schema: Option[org.apache.spark.sql.types.StructType])
      : Seq[org.apache.spark.sql.types.StructField] =
    schema.map(_.fields.toSeq.filter(_.metadata
      .contains(GeneratedKey))).getOrElse(Seq.empty)

  /** Add any generated column the frame omits, computed from its
    * recorded expression (cast to the declared type). Present
    * columns pass through — the gate validates them. */
  private[sources] def computeGenerated(df: DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    val gens = generatedColumns(schema)
    if (gens.isEmpty) return df
    val have = df.columns.map(_.toLowerCase).toSet
    gens.foldLeft(df) { (d, f) =>
      if (have(f.name.toLowerCase)) d
      else d.withColumn(f.name,
        expr(f.metadata.getString(GeneratedKey)).cast(f.dataType))
    }
  }

  /** Column DEFAULT values (SUPPORT_COLUMN_DEFAULT_VALUE): Spark
    * records `CURRENT_DEFAULT` in the field metadata and its analyzer
    * fills SQL INSERT forms (omitted columns and the DEFAULT keyword)
    * before the write reaches the connector — this helper covers the
    * PROGRAMMATIC appends, which bypass the analyzer: a frame
    * omitting a defaulted column gets it filled. Provided values
    * (including explicit NULLs) pass through untouched — a default
    * is an absence rule, not a NULL-coalesce. Old segments predating
    * an added column still read NULL (write-time-only defaults,
    * Delta's model), so `EXISTS_DEFAULT` is recorded but not served. */
  private[sources] def computeDefaults(df: DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    val defs = schema.map(_.fields.toSeq.filter(_.metadata
      .contains("CURRENT_DEFAULT"))).getOrElse(Seq.empty)
    if (defs.isEmpty) return df
    val have = df.columns.map(_.toLowerCase).toSet
    defs.foldLeft(df) { (d, f) =>
      if (have(f.name.toLowerCase)) d
      else d.withColumn(f.name,
        expr(f.metadata.getString("CURRENT_DEFAULT")).cast(f.dataType))
    }
  }

  /** Recompute generated columns over the POST-image of a DML
    * rewrite (Delta's rule: updating a generation SOURCE propagates
    * into the generated value automatically). Generation expressions
    * are deterministic (Spark verifies at CREATE), so recomputing
    * untouched rows is the identity — one projection, no per-row
    * branch, column order preserved. `only` restricts the recompute
    * to a subset (merge-INSERT computes omitted columns but leaves
    * provided ones for the gate to validate). */
  private[sources] def recomputeGenerated(df: DataFrame,
      schema: Option[org.apache.spark.sql.types.StructType],
      only: Option[Set[String]] = None): DataFrame = {
    val gens = generatedColumns(schema).filter(f =>
      only.forall(_.exists(_.equalsIgnoreCase(f.name))))
    if (gens.isEmpty) return df
    val byName = gens.map(f => f.name.toLowerCase -> f).toMap
    df.select(df.columns.toSeq.map { c =>
      byName.get(c.toLowerCase) match {
        case Some(f) => expr(f.metadata.getString(GeneratedKey))
          .cast(f.dataType).as(c)
        case None => col(c)
      }
    }: _*)
  }

  /** GENERATED ALWAYS AS columns cannot be SET directly: their value
    * is the expression, always — update the sources and the engine
    * recomputes ([[recomputeGenerated]]). ALWAYS-identity columns
    * cannot be SET either (there is no expression to re-satisfy — the
    * value is an allocation; BY DEFAULT identity updates freely).
    * Fails fast naming the column, before any scan or staging I/O. */
  private[sources] def refuseGeneratedSet(op: String,
      setNames: Iterable[String],
      schema: Option[org.apache.spark.sql.types.StructType]): Unit = {
    val gens = generatedColumns(schema)
    setNames.find(s => gens.exists(_.name.equalsIgnoreCase(s)))
      .foreach { g =>
        val f = gens.find(_.name.equalsIgnoreCase(g)).get
        throw new IllegalArgumentException(
          s"CommitLog.$op: '$g' is GENERATED ALWAYS AS " +
            s"(${f.metadata.getString(GeneratedKey)}) — its value is " +
            "computed from the expression; update the source " +
            "column(s) instead")
      }
    val always = identityFields(schema)
      .filterNot(_.metadata.getBoolean(IdentityExplicitKey))
    setNames.find(s => always.exists(_.name.equalsIgnoreCase(s)))
      .foreach { g =>
        throw new IllegalArgumentException(
          s"CommitLog.$op: '$g' is GENERATED ALWAYS AS IDENTITY — " +
            "allocated values are immutable; declare the column " +
            "GENERATED BY DEFAULT AS IDENTITY if updates are needed")
      }
  }

  // ---- identity columns (GENERATED { ALWAYS | BY DEFAULT } AS IDENTITY)
  //
  // Delta's identity-column design re-derived for the commit
  // protocol. Spark records (start, step, allowExplicitInsert) in the
  // field metadata under these keys when the catalog declares
  // SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS. Allocation is
  // distributed and shuffle-free: one combined stats job over the
  // pinned input computes per-partition row counts (prefix-summed on
  // the driver — bounded by the partition count) plus the provided
  // columns' null/extent facts, then each row's value is
  //   hwm + step * (partition_offset + row_in_partition + 1)
  // from `monotonically_increasing_id()`'s in-partition counter — no
  // window, no sort, no shuffle. The high-water mark rides the
  // manifest ([[Snapshot.identity]]) so allocation serializes under
  // the same OCC as everything else: a LOST publish race deletes the
  // staged bytes and REALLOCATES against the winner's mark (Delta's
  // documented semantics — values are unique and monotone per step
  // sign, NOT consecutive; gaps are normal).
  //
  // ALWAYS: providing non-NULL values refuses; NULLs (or omitting
  // the column) allocate. BY DEFAULT: provided values pass through,
  // NULLs allocate, and the mark auto-advances past provided values
  // (Delta needs a manual ALTER TABLE ... SYNC IDENTITY for that —
  // here the extent facts ride the same stats job, so the sync is
  // free and future allocations can never collide).

  private[sources] val IdentityStartKey = "identity.start"
  private[sources] val IdentityStepKey = "identity.step"
  private[sources] val IdentityExplicitKey = "identity.allowExplicitInsert"

  private[sources] def identityFields(
      schema: Option[org.apache.spark.sql.types.StructType])
      : Seq[org.apache.spark.sql.types.StructField] =
    schema.map(_.fields.toSeq.filter(_.metadata
      .contains(IdentityStartKey))).getOrElse(Seq.empty)

  private[graft] def decodeIdentity(
      enc: Option[String]): Map[String, Long] =
    enc.map(decodeConstraints(_).map { case (k, v) =>
      k -> v.toLong }).getOrElse(Map.empty)

  /** Facts about the incoming frame an allocation needs, computed in
    * ONE job over the pinned input and reusable across OCC retries:
    * total rows, per-partition offsets, and per-provided-column
    * (nonNullCount, min, max). */
  private[sources] final case class IdentityStats(n: Long,
      offsets: Map[Int, Long],
      provided: Map[String, (Long, Option[Long], Option[Long])])

  private[sources] def identityStats(pinned: DataFrame,
      fields: Seq[org.apache.spark.sql.types.StructField])
      : IdentityStats = {
    val have = fields.filter(f =>
      pinned.columns.exists(_.equalsIgnoreCase(f.name)))
    val aggs = count(lit(1)).as("__n") +: have.flatMap(f => Seq(
      count(col(f.name)).as(s"__nn_${f.name}"),
      min(col(f.name)).cast("long").as(s"__mn_${f.name}"),
      max(col(f.name)).cast("long").as(s"__mx_${f.name}")))
    val rows = pinned.groupBy(spark_partition_id().as("__p"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val counts = rows.map(r => r.getInt(0) -> r.getLong(1)).toSeq
      .sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (p, c)) =>
      (p, acc + c) }.init.map(_._2).zip(counts.map(_._1))
      .map { case (off, p) => p -> off }.toMap
    val provided = have.map { f =>
      val nn = rows.map(_.getAs[Long](s"__nn_${f.name}")).sum
      def ext(pre: String, pick: Seq[Long] => Long): Option[Long] = {
        val vs = rows.flatMap(r => Option(
          r.getAs[java.lang.Long](s"$pre${f.name}")).map(_.longValue))
        if (vs.isEmpty) None else Some(pick(vs.toSeq))
      }
      f.name -> ((nn, ext("__mn_", _.min), ext("__mx_", _.max)))
    }.toMap
    IdentityStats(rows.map(_.getAs[Long]("__n")).sum, offsets, provided)
  }

  /** Materialize identity values onto `pinned` against the CURRENT
    * high-water marks and return (frame, new encoded marks). Called
    * inside the append OCC loop — a retry reallocates. */
  private[sources] def applyIdentity(pinned: DataFrame,
      fields: Seq[org.apache.spark.sql.types.StructField],
      hwms: Map[String, Long],
      stats: IdentityStats): (DataFrame, Map[String, Long]) = {
    if (fields.isEmpty) return (pinned, hwms)
    // shared shuffle-free row index over the pinned partitioning
    val offMap: org.apache.spark.sql.Column = typedLit(stats.offsets)
    val rowIdx = offMap(spark_partition_id()) +
      (monotonically_increasing_id()
        .bitwiseAND(lit((1L << 33) - 1L)))
    var out = pinned
    var marks = hwms
    fields.foreach { f =>
      val start = f.metadata.getLong(IdentityStartKey)
      val step = f.metadata.getLong(IdentityStepKey)
      require(step != 0L,
        s"CommitLog: identity column '${f.name}' has step 0")
      val hwm = marks.getOrElse(f.name, start - step)
      val candidate = (lit(hwm) + (rowIdx + 1L) * step)
        .cast(f.dataType)
      val allocatedTo = hwm + step * stats.n
      // a narrow identity type crossing its range would WRAP through
      // the cast — silent duplicates; refuse with the fix named
      import org.apache.spark.sql.types.{IntegerType, ShortType}
      val bound: Option[(Long, Long)] = f.dataType match {
        case IntegerType => Some((Int.MinValue.toLong, Int.MaxValue.toLong))
        case ShortType => Some((Short.MinValue.toLong, Short.MaxValue.toLong))
        case _ => None
      }
      bound.foreach { case (lo, hi) =>
        if (allocatedTo > hi || allocatedTo < lo)
          throw new IllegalStateException(
            s"CommitLog: identity column '${f.name}' would cross its " +
              s"${f.dataType.simpleString} range (mark $allocatedTo) — " +
              "widen the column (ALTER COLUMN TYPE BIGINT) first")
      }
      def ahead(a: Long, b: Long): Long =
        if (step > 0L) math.max(a, b) else math.min(a, b)
      stats.provided.get(f.name) match {
        case None =>
          // column omitted: every row allocates
          out = out.withColumn(f.name, candidate)
          marks += f.name -> allocatedTo
        case Some((nonNull, mn, mx)) =>
          val explicit = f.metadata.getBoolean(IdentityExplicitKey)
          if (!explicit && nonNull > 0L)
            throw new IllegalArgumentException(
              s"CommitLog: '${f.name}' is GENERATED ALWAYS AS " +
                s"IDENTITY — explicit values are not accepted ($nonNull " +
                "non-NULL provided); omit the column (or write NULLs) " +
                "to have values allocated, or declare it GENERATED BY " +
                "DEFAULT AS IDENTITY")
          // NULLs allocate; provided values pass through and the
          // mark advances past their extent (auto-SYNC IDENTITY)
          out = out.withColumn(f.name,
            coalesce(col(f.name).cast(f.dataType), candidate))
          val extent = (if (step > 0L) mx else mn).getOrElse(hwm)
          marks += f.name -> ahead(ahead(allocatedTo, extent), hwm)
      }
    }
    (out, marks)
  }

  private[sources] def encodeIdentityMarks(m: Map[String, Long]): String =
    encodeConstraints(m.map { case (k, x) => k -> x.toString })

  /** Omission gate for staging paths that bypass
    * [[writeSegmentGated]] (the sliced/partitioned stagers): a frame
    * omitting an identity or declared NOT NULL column would land
    * silently and read back NULL — the corruption the gated paths
    * refuse loudly. Same refusals, run on the pinned input BEFORE any
    * staged directory is renamed into data/. */
  private[sources] def gateStagedOmissions(op: String, table: String,
      df: DataFrame, cur: Option[Snapshot]): Unit = {
    val logical = cur.flatMap(_.schema).map(decodeSchema)
    identityFields(logical)
      .find(f => !df.columns.exists(_.equalsIgnoreCase(f.name)))
      .foreach { f =>
        throw new IllegalArgumentException(
          s"CommitLog.$op: frame omits identity column '${f.name}' " +
            s"of $table — this write path does not allocate; use " +
            "CommitLog.append (NULLs allocate there), or provide " +
            "values")
      }
    nonNullableFields(cur)
      .find(f => !df.columns.exists(_.equalsIgnoreCase(f.name)))
      .foreach { f =>
        throw new IllegalArgumentException(
          s"CommitLog.$op: frame omits NOT NULL column '${f.name}' " +
            s"of $table — new rows would read NULL under a " +
            "non-nullable schema; provide the column")
      }
  }

  /** Value rules for identity columns on NON-ALLOCATING staging
    * paths, plus their provided extents for the mark auto-SYNC:
    * GENERATED ALWAYS refuses any explicit value (only the append
    * path may mint ids); BY DEFAULT refuses NULLs (nothing here
    * allocates — a NULL would land and read back NULL forever).
    * One [[identityStats]] job over the pinned input; empty when the
    * table has no identity columns. */
  private[sources] def stagedIdentityExtents(op: String, table: String,
      pinned: DataFrame, cur: Option[Snapshot])
      : Seq[(org.apache.spark.sql.types.StructField,
        Option[Long], Option[Long])] = {
    val idFs = identityFields(cur.flatMap(_.schema).map(decodeSchema))
    if (idFs.isEmpty) return Seq.empty
    val stats = identityStats(pinned, idFs)
    idFs.map { f =>
      // omission is refused by gateStagedOmissions before this runs
      val (nonNull, mn, mx) = stats.provided(f.name)
      if (!f.metadata.getBoolean(IdentityExplicitKey) && nonNull > 0L)
        throw new IllegalArgumentException(
          s"CommitLog.$op: '${f.name}' is GENERATED ALWAYS AS " +
            s"IDENTITY — explicit values are not accepted ($nonNull " +
            "non-NULL provided); insert these rows via " +
            "CommitLog.append (NULLs allocate there)")
      if (nonNull < stats.n)
        throw new IllegalArgumentException(
          s"CommitLog.$op: identity column '${f.name}' carries " +
            s"${stats.n - nonNull} NULL value(s) — this write path " +
            "does not allocate; use CommitLog.append (NULLs allocate " +
            "there), or provide values")
      (f, mn, mx)
    }
  }

  /** Fold provided identity extents into the high-water marks (the
    * auto-SYNC the append path gives provided values) — marks only
    * ever advance per step sign, so re-folding against a retry's
    * fresher snapshot is safe without re-staging. */
  private[sources] def syncMarks(hwms: Map[String, Long],
      extents: Seq[(org.apache.spark.sql.types.StructField,
        Option[Long], Option[Long])]): Map[String, Long] =
    extents.foldLeft(hwms) { case (m, (f, mn, mx)) =>
      val step = f.metadata.getLong(IdentityStepKey)
      val start = f.metadata.getLong(IdentityStartKey)
      val hwm = m.getOrElse(f.name, start - step)
      val ext = if (step > 0L) mx else mn
      m + (f.name -> ext.fold(hwm)(e =>
        if (step > 0L) math.max(hwm, e) else math.min(hwm, e)))
    }

  private[sources] def physicalName(
      f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey))
      f.metadata.getString(PhysicalKey)
    else f.name

  /** True when every logical name equals its physical name — the
    * fast path every pre-mapping table takes (bit-identical behavior
    * to the pre-mapping code). */
  private[sources] def isIdentityMapping(
      s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.forall(f => physicalName(f) == f.name)

  private def toPhysicalSchema(
      s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      s.fields.map(f => f.copy(name = physicalName(f))))

  /** Rename logical → physical on the columns the mapping renames;
    * extra columns (CDC stamps, staging tags) pass through. No-op on
    * identity mappings. ONE simultaneous projection, never pairwise
    * renames: a legal rename chain can SWAP two names (a→c, b→a,
    * c→b), and sequential withColumnRenamed would first collide on
    * a duplicate and then rename the wrong column — silent value
    * swap or a duplicate-column refusal on a table produced by
    * legal DDL. */
  private[sources] def toPhysicalFrame(df: DataFrame,
      sch: org.apache.spark.sql.types.StructType): DataFrame =
    renameSimultaneous(df,
      sch.fields.map(f => f.name -> physicalName(f)).toMap)

  /** Rename physical → logical for every mapped column present —
    * the read-side inverse of [[toPhysicalFrame]]. */
  private[sources] def fromPhysicalFrame(df: DataFrame,
      sch: org.apache.spark.sql.types.StructType): DataFrame =
    renameSimultaneous(df,
      sch.fields.map(f => physicalName(f) -> f.name).toMap)

  private def renameSimultaneous(df: DataFrame,
      m: Map[String, String]): DataFrame =
    if (df.columns.forall(c => m.getOrElse(c, c) == c)) df
    else df.select(df.columns.toSeq.map(c =>
      col(s"`$c`").as(m.getOrElse(c, c))): _*)

  /** Table-level partition-column marker (`_partition.json`): written
    * once at `CREATE TABLE … PARTITIONED BY` and immutable thereafter
    * — partition columns are table metadata, not per-version state
    * (the Hive/Delta model), so the manifest format is untouched.
    * Catalog INSERTs route through the partitioned writer when the
    * marker is present; every reader prunes via the ordinary sidecar
    * tier (partition segments carry min = max = value). */
  private[graft] def writePartitionMarker(spark: SparkSession,
      table: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.forall(!_.contains(",")),
      "partition columns must be non-empty and comma-free")
    val f = fs(spark, table)
    f.mkdirs(new org.apache.hadoop.fs.Path(table))
    val p = new org.apache.hadoop.fs.Path(s"$table/_partition.json")
    val out = f.create(p, false)
    try out.write(
      s"""{"partitionBy":"${cols.mkString(",")}"}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** Remove the partition marker. Two legal callers: pre-create
    * orphan cleanup (a marker without a published v1 is debris from a
    * crashed attempt), and the CREATE winner reconciling the
    * derivative cache to its own v1 record immediately after
    * publishing — never a race LOSER, whose view of the marker is by
    * definition stale (see [[partitionColumns]]). */
  private[graft] def deletePartitionMarker(spark: SparkSession,
      table: String): Unit = {
    val f = fs(spark, table)
    f.delete(new org.apache.hadoop.fs.Path(s"$table/_partition.json"),
      false): Unit
  }

  /** The recorded partition columns, if the table was created
    * partitioned. Source of truth is the CURRENT manifest's
    * `partitionBy` field when present (recorded by the catalog's
    * CREATE at v1, inherited by every later commit at publish,
    * overridden by REPLACE; the explicit empty value = "explicitly
    * unpartitioned"): the manifest create is the race-arbitrated
    * publish, so partition metadata recorded IN it cannot be
    * clobbered by a race-losing creator — the `_partition.json`
    * marker is only a derivative cache (and the record for
    * pre-catalog tables / the direct [[writePartitionMarker]] API),
    * consulted when the manifest carries no field. */
  def partitionColumns(spark: SparkSession,
      table: String): Option[Seq[String]] = {
    snapshot(spark, table).flatMap(_.partitionBy) match {
      case Some(rec) =>
        val cols = rec.split(',').toSeq.filter(_.nonEmpty)
        if (cols.isEmpty) None else Some(cols)
      case None =>
        val f = fs(spark, table)
        val p = new org.apache.hadoop.fs.Path(s"$table/_partition.json")
        if (!f.exists(p)) None
        else {
          val in = f.open(p)
          val txt = try scala.io.Source
            .fromInputStream(in, "UTF-8").mkString finally in.close()
          "\"partitionBy\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt)
            .map(_.group(1).split(',').toSeq.filter(_.nonEmpty))
        }
    }
  }
  /** PARTITION EVOLUTION (Iceberg's design, which Delta lacks —
    * Delta cannot change partitioning without a full rewrite): a
    * METADATA-ONLY commit (`op = "set_partition_spec"`) re-records
    * `partitionBy` going forward; zero segments move. This is cheap
    * HERE because the read path has no Hive directory semantics:
    * partition pruning IS sidecar pruning (FORMAT.md §4.3), so a
    * segment set mixing layouts — old segments bucketed by the old
    * spec, new ones by the new — reads and prunes correctly with no
    * special casing. Later catalog INSERTs consult
    * [[partitionColumns]] and land under the new spec; RESTORE
    * across the evolution serves the target's own spec (the same
    * time-travel rule constraints and schema follow); RENAME/DROP
    * guards track the CURRENT spec, so old-spec columns become
    * renameable once evolved away. `cols` empty = explicitly
    * unpartitioned. Partition-column allowlist matches the stager:
    * STRING / integral / BOOLEAN. */
  def setPartitionSpec(spark: SparkSession, table: String,
      cols: Seq[String]): Long = {
    require(cols.forall(c => c.nonEmpty && !c.contains(",")),
      "setPartitionSpec: partition columns must be non-empty and " +
        "comma-free")
    val cs = caseSensitiveAnalysis(spark)
    def same(a: String, b: String) =
      if (cs) a == b else a.equalsIgnoreCase(b)
    val v = transact(spark, table, "CommitLog.setPartitionSpec") { tx =>
      val cur = tx.existing
      val base = cur.schema.map(decodeSchema).getOrElse {
        if (cur.segments.isEmpty) throw new IllegalStateException(
          s"CommitLog.setPartitionSpec: $table has no recorded " +
            "schema and no segments — nothing to partition")
        readSegments(spark, cur.segments, None).schema
      }
      cols.foreach { c =>
        import org.apache.spark.sql.types._
        val f = base.fields.find(x => same(x.name, c)).getOrElse(
          throw new IllegalStateException(
            s"CommitLog.setPartitionSpec: no column '$c' at $table"))
        f.dataType match {
          case StringType | ByteType | ShortType | IntegerType |
               LongType | BooleanType => ()
          case other => throw new IllegalStateException(
            s"CommitLog.setPartitionSpec: '$c' is ${other.simpleString}" +
              " — partition columns must be STRING, integral or " +
              "BOOLEAN (the stager's allowlist)")
        }
      }
      val snap = Snapshot(cur.version + 1L, cur.segments, cur.version,
        "set_partition_spec", schema = cur.schema, dv = cur.dv,
        partitionBy = Some(cols.mkString(",")))
      Publish(snap, snap.version)
    }
    // the manifest field now governs forever; the marker is a
    // dead derivative cache — reconcile it best-effort (losing
    // this to a crash changes nothing: the field wins)
    try {
      deletePartitionMarker(spark, table)
      if (cols.nonEmpty) writePartitionMarker(spark, table, cols)
    } catch { case scala.util.control.NonFatal(_) => () }
    v
  }

  // ---- persistent CHECK constraints ------------------------------------

  /** Table-level CHECK constraints: name → SQL expression, enforced
    * on EVERY write path ([[writeSegment]] and the partitioned
    * stager) — the Delta constraint model, managed from SQL via
    * `ALTER TABLE … SET/UNSET TBLPROPERTIES
    * ('graft.constraint.<name>' = '<expr>')`. SQL-standard CHECK
    * semantics: a row violates only when the expression is FALSE —
    * NULL (unknown) passes (note: [[appendChecked]]'s per-call
    * constraints predate this and treat NULL as a violation; its
    * contract is spec-pinned and unchanged).
    *
    * Constraints are VERSIONED table metadata carried in every
    * manifest record (the `constraints` field, inherited at publish
    * like `partitionBy`/`mapping` — Delta carries constraints in its
    * log the same way): SET/UNSET are OCC commits (two simultaneous
    * statements serialize through the version race — no lost
    * update), RTAS resets them atomically IN the replace commit (a
    * crash can never strand the old definition's rules on the new
    * schema), and [[restore]] serves the target version's OWN set —
    * constraints time-travel with the data they governed.
    *
    * Gate-vs-SET serializability (both directions closed): the SET
    * side revalidates ALL existing rows per ITS retry, and the data
    * side re-gates whenever its retry observes a constraint set
    * different from the one it staged under
    * ([[regateOnConstraintChange]] in every append-family loop; the
    * DML rewrites re-stage through [[writeSegment]] per retry, which
    * re-gates inherently) — the lakehouse analog of Delta's
    * metadata-conflict check, spec-pinned with a deterministic
    * store-seam interleave. So whichever commit lands second, the
    * invariant holds over the union.
    *
    * Legacy fallback: tables written before this hardening kept the
    * rules in a mutable `_constraints.json` side file; when the
    * current manifest carries NO constraints field, that file is
    * still honored, and the next SET/UNSET absorbs it into the log
    * (then deletes it). */
  def constraints(spark: SparkSession,
      table: String): Map[String, String] =
    constraintsOf(spark, table, snapshot(spark, table))

  /** The effective constraint set of one resolved snapshot —
    * callers already holding it avoid a second manifest resolution. */
  private[sources] def constraintsOf(spark: SparkSession,
      table: String, snap: Option[Snapshot]): Map[String, String] =
    snap.flatMap(_.constraints) match {
      case Some(b64) => decodeConstraints(b64)
      case None => legacyConstraintsFile(spark, table)
    }

  /** base64 of the flat sorted name→expr JSON map — regex-safe
    * inside the manifest exactly like [[encodeSchema]]. The EMPTY
    * map encodes non-empty ("e30=" = "{}"), so "explicitly none"
    * (RTAS reset, last UNSET) is distinct from "no constraint
    * commit yet" (inherit at publish; legacy-file fallback at
    * read). */
  private[sources] def encodeConstraints(
      cons: Map[String, String]): String = {
    def esc(s: String) =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = cons.toSeq.sortBy(_._1)
      .map { case (n, e) => s""""${esc(n)}":"${esc(e)}"""" }
      .mkString("{", ",", "}")
    java.util.Base64.getEncoder.encodeToString(body.getBytes("UTF-8"))
  }

  private[sources] def decodeConstraints(
      b64: String): Map[String, String] = {
    val txt = new String(
      java.util.Base64.getDecoder.decode(b64), "UTF-8")
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(txt).map { m =>
        def un(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
        un(m.group(1)) -> un(m.group(2))
      }.toMap
  }

  private def legacyConstraintsFile(spark: SparkSession,
      table: String): Map[String, String] = {
    val f = fs(spark, table)
    val p = new org.apache.hadoop.fs.Path(s"$table/_constraints.json")
    if (!f.exists(p)) return Map.empty
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(txt).map { m =>
        def un(s: String) = s.replace("\\\"", "\"").replace("\\\\", "\\")
        un(m.group(1)) -> un(m.group(2))
      }.toMap
  }

  private def deleteLegacyConstraintsFile(spark: SparkSession,
      table: String): Unit =
    fs(spark, table).delete(
      new org.apache.hadoop.fs.Path(s"$table/_constraints.json"),
      false): Unit

  /** Publish a constraint-set change as a metadata-only OCC commit:
    * same segments/schema/dv as the base, new absolute constraint
    * value. The legacy side file (if any) is deleted AFTER the
    * publish wins — by then the manifest carries the absolute truth,
    * so a crash between the two just leaves an ignored stale file. */
  private def commitConstraints(spark: SparkSession, table: String,
      op: String)(
      next: (Snapshot, Map[String, String]) => Map[String, String])
      : Long = {
    val v = transact(spark, table, s"CommitLog.$op") { tx =>
      val cur = tx.existing
      val cons = next(cur, constraintsOf(spark, table, Some(cur)))
      val snap = Snapshot(cur.version + 1L, cur.segments, cur.version,
        op, schema = cur.schema, dv = cur.dv,
        constraints = Some(encodeConstraints(cons)))
      Publish(snap, snap.version)
    }
    deleteLegacyConstraintsFile(spark, table)
    v
  }

  /** Add (or replace) a named CHECK constraint, as an OCC commit
    * (`op = "set_constraint"`). Validated twice before it lands,
    * both loudly: the expression must analyze against the current
    * schema, and — Delta's rule — every EXISTING live row must
    * already satisfy it (otherwise readers could never trust the
    * invariant). The existing-data check re-runs on every retry, so
    * a concurrent append of violating rows cannot slip under the
    * constraint. Returns the committed version. */
  def setConstraint(spark: SparkSession, table: String,
      name: String, exprSql: String): Long = {
    require(name.nonEmpty && exprSql.nonEmpty,
      "setConstraint: empty name or expression")
    commitConstraints(spark, table, "set_constraint") {
      (cur, cons) =>
        val pred = expr(exprSql)
        if (cur.segments.nonEmpty || cur.schema.isDefined) {
          val live = readLive(spark, cur)
          // analysis errors (unknown column, non-boolean) surface here
          val bad =
            live.filter(coalesce(pred, lit(true)) === false).count()
          if (bad > 0L) throw new IllegalStateException(
            s"CommitLog.setConstraint: $bad existing row(s) of " +
              s"$table violate CHECK '$name' ($exprSql) — constraint " +
              "NOT added; clean the data first (the Delta rule: a " +
              "constraint must hold over existing data before it " +
              "can gate new writes)")
        }
        cons + (name -> exprSql)
    }
  }

  /** Remove a named CHECK constraint (`op = "drop_constraint"`);
    * unknown names refuse loudly (an UNSET that silently no-ops
    * would mask a typo'd name while the real constraint keeps
    * refusing writes). Returns the committed version. */
  def dropConstraint(spark: SparkSession, table: String,
      name: String): Long =
    commitConstraints(spark, table, "drop_constraint") {
      (_, cons) =>
        require(cons.contains(name),
          s"CommitLog.dropConstraint: no CHECK constraint '$name' " +
            s"at $table — have: " +
            cons.keys.toSeq.sorted.mkString(", "))
        cons - name
    }

  /** The first persistent-constraint violation over `df`, if any —
    * one columnar aggregate, nothing when the table has no
    * constraints. An evolved-away column a segment legally omits
    * evaluates as NULL (typed from the recorded schema), which under
    * SQL CHECK semantics passes unless the expression then resolves
    * FALSE (e.g. `x IS NOT NULL`). */
  private[sources] def constraintViolation(spark: SparkSession,
      table: String, df: DataFrame,
      snap: Option[Snapshot]): Option[String] = {
    val cons = constraintsOf(spark, table, snap)
    // generated-column validation rides the SAME single aggregate:
    // a provided value must equal its expression (null-safe — a
    // legitimately NULL source makes both sides NULL). Delta's rule;
    // zero extra scans over the constraint gate.
    val gens = generatedColumns(snap.flatMap(_.schema).map(decodeSchema))
      .filter(f => df.columns.exists(_.equalsIgnoreCase(f.name)))
    // declared NOT NULL rides the same aggregate too (Delta enforces
    // nullability write-side): a NULL landing under a non-nullable
    // recorded schema is SILENT CORRUPTION — Spark's optimizer
    // legally folds `x IS NULL` to false on a non-nullable column,
    // so the bad rows wouldn't even be findable afterwards
    val nonNull = nonNullableFields(snap)
      .filter(f => df.columns.exists(_.equalsIgnoreCase(f.name)))
    if (cons.isEmpty && gens.isEmpty && nonNull.isEmpty) return None
    val have = df.columns.map(_.toLowerCase).toSet
    val refs: Seq[String] = (cons.values.toSeq ++
      gens.map(_.metadata.getString(GeneratedKey))).flatMap(e =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(e).collect {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => u.name
        }).distinct
    val declared = snap.flatMap(_.schema)
      .map(decodeSchema)
    val padded = refs.filterNot(r => have(r.toLowerCase))
      .foldLeft(df)((d, c) => d.withColumn(c,
        lit(null).cast(declared.flatMap(s =>
          s.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType))
          .getOrElse(org.apache.spark.sql.types.NullType))))
    val aggs = cons.toSeq.sortBy(_._1).map { case (n, e) =>
      // SQL CHECK semantics: NULL (unknown) passes
      sum(when(coalesce(expr(e), lit(true)) === false, 1L)
        .otherwise(0L)).as(n)
    } ++ gens.sortBy(_.name).map { f =>
      sum(when(!(col(f.name) <=>
          expr(f.metadata.getString(GeneratedKey)).cast(f.dataType)),
        1L).otherwise(0L)).as(s"__gen_${f.name}")
    } ++ nonNull.sortBy(_.name).map { f =>
      sum(when(col(f.name).isNull, 1L).otherwise(0L))
        .as(s"__nul_${f.name}")
    }
    val row = padded.agg(aggs.head, aggs.tail: _*).collect()(0)
    cons.keys.toSeq.sorted.flatMap { n =>
      val bad = Option(row.getAs[java.lang.Long](n))
        .map(_.longValue).getOrElse(0L)
      if (bad > 0L) Some(s"CHECK constraint '$n' (${cons(n)}) " +
        s"violated by $bad row(s) — nothing committed at $table")
      else None
    }.headOption.orElse(gens.sortBy(_.name).flatMap { f =>
      val bad = Option(row.getAs[java.lang.Long](s"__gen_${f.name}"))
        .map(_.longValue).getOrElse(0L)
      if (bad > 0L) Some(s"generated column '${f.name}' " +
        s"(GENERATED ALWAYS AS ${f.metadata.getString(GeneratedKey)}) " +
        s"receives $bad mismatching provided value(s) — omit the " +
        s"column to have it computed, or provide matching values; " +
        s"nothing committed at $table")
      else None
    }.headOption).orElse(nonNull.sortBy(_.name).flatMap { f =>
      val bad = Option(row.getAs[java.lang.Long](s"__nul_${f.name}"))
        .map(_.longValue).getOrElse(0L)
      if (bad > 0L) Some(s"NOT NULL column '${f.name}' receives " +
        s"$bad NULL value(s) — nothing committed at $table")
      else None
    }.headOption)
  }

  /** Declared non-nullable fields of the recorded schema — the
    * write-side nullability contract. Identity columns are excluded:
    * their frames legitimately carry NULLs pre-allocation, and the
    * allocator fills every one. */
  private[sources] def nonNullableFields(
      snap: Option[Snapshot])
      : Seq[org.apache.spark.sql.types.StructField] =
    snap.flatMap(_.schema).map(decodeSchema).map(_.fields.toSeq
      .filter(f => !f.nullable &&
        !f.metadata.contains(IdentityStartKey))).getOrElse(Seq.empty)

  /** Enforce the table's persistent constraints over freshly staged
    * segment paths, deleting them before refusing. `snap` is the
    * caller's already-resolved snapshot (no extra manifest I/O on
    * the write hot path). */
  private[sources] def enforceConstraints(spark: SparkSession,
      table: String, stagedPaths: Seq[String],
      snap: Option[Snapshot]): Unit = {
    // constraint probe first: no constraints, no generated columns
    // AND no declared NOT NULL → no parquet footer reads (all three
    // probes are zero-I/O — field lookups on the resolved snapshot)
    if (stagedPaths.isEmpty ||
      (constraintsOf(spark, table, snap).isEmpty &&
        generatedColumns(snap.flatMap(_.schema)
          .map(decodeSchema)).isEmpty &&
        nonNullableFields(snap).isEmpty)) return
    // constraints are written against LOGICAL names — on a mapped
    // table the staged bytes carry physical names, so restore the
    // logical view before evaluating (identity tables read inferred,
    // exactly as before)
    val staged = snap.flatMap(_.schema)
      .map(decodeSchema).filterNot(isIdentityMapping) match {
      case Some(sch) =>
        fromPhysicalFrame(ParquetFooters.read(spark, stagedPaths), sch)
      case None => ParquetFooters.read(spark, stagedPaths)
    }
    constraintViolation(spark, table, staged, snap).foreach { msg =>
      val f = fs(spark, table)
      stagedPaths.foreach(p =>
        f.delete(new org.apache.hadoop.fs.Path(p), true): Unit)
      throw new IllegalStateException(s"CommitLog: $msg")
    }
  }

  private[sources] def manifestPath(table: String, v: Long) =
    f"${commitsDir(table)}/$v%020d.manifest"

  private[sources] def checkpointPath(table: String, v: Long) =
    f"${commitsDir(table)}/$v%020d.checkpoint"

  private[sources] def checkpointPartPath(table: String, v: Long,
      k: Int, n: Int) =
    f"${commitsDir(table)}/$v%020d.checkpoint.part-$k-of-$n"

  /** Segments per checkpoint part file. A checkpoint is O(segments)
    * bytes; past this threshold it shards into
    * `<v>.checkpoint.part-<k>-of-<n>` slices with the `<v>.checkpoint`
    * MARKER written LAST as the atomic visibility point (FORMAT.md
    * §2.4) — no single control file ever exceeds ~part-size entries,
    * retiring the one-file-O(table) bound at extreme segment counts.
    * Default 1M ≈ low-hundreds of MB per part at typical path
    * lengths; tests shrink it to exercise the sharding. */
  private[graft] def checkpointPartSegments(spark: SparkSession): Int = {
    val n = spark.conf
      .getOption("spark.graft.manifest.checkpointPartSegments")
      .map(_.toInt).getOrElse(1000000)
    require(n >= 1,
      "spark.graft.manifest.checkpointPartSegments must be >= 1")
    n
  }

  /** Write `snap`'s full-state checkpoint — single-file below the
    * part threshold, sharded parts + marker above it. Idempotent
    * (create-if-absent throughout); a crash before the MARKER leaves
    * only invisible part files (resolution just replays further, and
    * a later attempt re-creates idempotently). */
  private def writeCheckpointFiles(spark: SparkSession, table: String,
      snap: Snapshot): Unit = {
    val store = storeFor(spark, table)
    val per = checkpointPartSegments(spark)
    if (snap.segments.size <= per) {
      store.createIfAbsent(checkpointPath(table, snap.version),
        renderManifest(snap).getBytes("UTF-8")): Unit
    } else {
      val slices = snap.segments.grouped(per).toSeq
      val n = slices.size
      slices.zipWithIndex.foreach { case (sl, i) =>
        val body = s"""{"version":${snap.version},"part":${i + 1},""" +
          "\"segments\":[" + sl.map(escSeg).mkString(",") + "]}"
        store.createIfAbsent(
          checkpointPartPath(table, snap.version, i + 1, n),
          body.getBytes("UTF-8")): Unit
      }
      // marker LAST: fields are authoritative here, segment slices
      // concatenate from the parts in order. Deliberately NO
      // "segments" key — a parts-unaware reader fails loud instead
      // of serving an empty table.
      store.createIfAbsent(checkpointPath(table, snap.version),
        (renderFields(snap) + s""""checkpointParts":$n}""")
          .getBytes("UTF-8")): Unit
    }
  }

  /** Checkpoint cadence: every Nth version the publish winner also
    * writes the full self-contained state. Smaller = cheaper reads,
    * more O(segments) renders; 10 (Delta's default) keeps worst-case
    * resolution at 11 small files. */
  private[graft] def checkpointInterval(spark: SparkSession): Int = {
    val n = spark.conf.getOption("spark.graft.manifest.checkpointInterval")
      .map(_.toInt).getOrElse(10)
    require(n >= 1, "spark.graft.manifest.checkpointInterval must be >= 1")
    n
  }

  /** One parsed manifest file, BEFORE segment-list resolution:
    * `delta` is Some((adds, removes)) for a delta record (whose
    * `snap.segments` is an unreplayed placeholder — empty), None for
    * a self-contained one. */
  private[sources] final case class ManifestRecord(snap: Snapshot,
      delta: Option[(Seq[String], Seq[String])])

  private[sources] def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** All committed versions, ascending (empty → table absent). */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(commitsDir(table))
    val f = fs(spark, table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toLong).sorted
  }

  def currentVersion(spark: SparkSession, table: String): Option[Long] =
    versions(spark, table).lastOption

  private[sources] def readSmallFile(spark: SparkSession,
      path: String): Option[String] = {
    val f = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close())
    }
  }

  /** The raw (possibly delta) manifest record of one version. */
  private[sources] def readRecord(spark: SparkSession, table: String,
      v: Long): Option[ManifestRecord] =
    readSmallFile(spark, manifestPath(table, v))
      .map(parseManifest(v, _))

  /** The full-state checkpoint of one version, if written. A marker
    * carrying `checkpointParts` concatenates its part files' segment
    * slices in order; a declared-but-missing part is corruption
    * (the marker is written AFTER all parts) and raises loudly. */
  private[sources] def readCheckpoint(spark: SparkSession, table: String,
      v: Long): Option[Snapshot] =
    readSmallFile(spark, checkpointPath(table, v)).map { txt =>
      "\"checkpointParts\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt) match {
        case None =>
          val r = parseManifest(v, txt)
          require(r.delta.isEmpty,
            s"CommitLog: checkpoint v$v at $table is a delta record " +
              "— corrupt checkpoint")
          r.snap
        case Some(n) =>
          val marker = parseManifest(v, txt, allowNoSegments = true)
          val segs = (1 to n).flatMap { k =>
            val part = readSmallFile(spark,
              checkpointPartPath(table, v, k, n)).getOrElse(
              throw new IllegalStateException(
                s"CommitLog: checkpoint v$v of $table declares $n " +
                  s"part(s) but part $k is missing — corrupt " +
                  "multi-part checkpoint (the marker is written " +
                  "after every part)"))
            parseSegArray("segments", part).getOrElse(
              throw new IllegalStateException(
                s"CommitLog: checkpoint part $k of v$v at $table " +
                  "carries no segments array — corrupt part file"))
          }
          marker.snap.copy(segments = segs)
      }
    }

  /** Resolve one version to its full snapshot: nearest checkpoint /
    * self-contained manifest at or below `v`, plus replay of the
    * delta tail — at most checkpointInterval+1 small-file reads.
    * None when version `v` itself is gone (vacuumed); a HOLE further
    * down the replay chain is corruption (vacuum pins the retain
    * floor with a checkpoint before dropping) and raises loudly
    * rather than serving a wrong segment set. */
  private def resolve(spark: SparkSession, table: String,
      v: Long): Option[Snapshot] = {
    readCheckpoint(spark, table, v).orElse {
      readRecord(spark, table, v).map { top =>
        top.delta match {
          case None => top.snap
          case Some(_) =>
            var chain = List(top)
            var base: Snapshot = null
            var p = v - 1L
            while (base == null) {
              if (p < 1L) throw new IllegalStateException(
                s"CommitLog: delta chain of v$v at $table reaches " +
                  "below version 1 with no checkpoint — corrupt log")
              readCheckpoint(spark, table, p) match {
                case Some(s) => base = s
                case None => readRecord(spark, table, p) match {
                  case Some(r) if r.delta.isEmpty => base = r.snap
                  case Some(r) => chain ::= r; p -= 1L
                  case None => throw new IllegalStateException(
                    s"CommitLog: resolving v$v of $table needs " +
                      s"v$p, but neither its manifest nor a " +
                      "checkpoint survives — vacuum must pin the " +
                      "retain floor (corrupt or externally deleted " +
                      "log)")
                }
              }
            }
            var segs = base.segments
            chain.foreach { r =>
              val (adds, removes) = r.delta.get
              val rm = removes.toSet
              segs = segs.filterNot(rm) ++ adds
            }
            top.snap.copy(segments = segs)
        }
      }
    }
  }

  /** Load one version's snapshot (latest when `version` is None).
    * None when the table has no commits OR the requested version is
    * gone (vacuumed) — the caller sees "no such version", not a raw
    * IO error from the missing file. */
  def snapshot(spark: SparkSession, table: String,
      version: Option[Long] = None): Option[Snapshot] =
    version.orElse(currentVersion(spark, table))
      .flatMap(resolve(spark, table, _))

  /** Resolve the contiguous version range [fromV, toV] in ONE
    * forward pass: resolve(fromV) once, then one record read per
    * later version — the shape the streaming source's per-batch
    * range and [[changes]] need (full-history snapshotsAsc would
    * read the WHOLE log for a one-version micro-batch; independent
    * resolution would pay checkpointInterval reads per version).
    * Empty when fromV itself is unresolvable (vacuumed). */
  private[sources] def snapshotsRange(spark: SparkSession,
      table: String, fromV: Long, toV: Long): Seq[Snapshot] = {
    if (toV < fromV) return Seq.empty
    resolve(spark, table, fromV) match {
      case None => Seq.empty
      case Some(f0) =>
        val buf = scala.collection.mutable.ArrayBuffer(f0)
        var prev = f0
        var v = fromV + 1L
        while (v <= toV) {
          readRecord(spark, table, v) match {
            case Some(r) =>
              val s = r.delta match {
                case Some((adds, removes)) =>
                  val rm = removes.toSet
                  r.snap.copy(segments =
                    prev.segments.filterNot(rm) ++ adds)
                case None => r.snap
              }
              buf += s; prev = s
            case None => throw new IllegalStateException(
              s"CommitLog: version $v of $table vanished while " +
                s"resolving range [$fromV,$toV] (concurrent vacuum?)")
          }
          v += 1L
        }
        buf.toSeq
    }
  }

  /** All retained versions' snapshots, ascending, in ONE forward
    * pass: each delta record replays against the PREVIOUS resolved
    * snapshot, so a walk over V versions costs O(V) small-file reads
    * instead of O(V × interval) independent resolutions — the shape
    * history/changeFeed/time-travel walkers need. */
  private[graft] def snapshotsAsc(spark: SparkSession,
      table: String): Seq[Snapshot] = {
    var prev: Option[Snapshot] = None
    versions(spark, table).flatMap { v =>
      val s = prev match {
        case Some(p) if p.version == v - 1L =>
          readRecord(spark, table, v).map { r =>
            r.delta match {
              case Some((adds, removes)) =>
                val rm = removes.toSet
                r.snap.copy(segments =
                  p.segments.filterNot(rm) ++ adds)
              case None => r.snap
            }
          }
        case _ => resolve(spark, table, v)
      }
      if (s.isDefined) prev = s
      s
    }
  }

  /** Read the table at a version (default: latest). The returned plan
    * touches only that manifest's segments — writers committing
    * meanwhile cannot change what this DataFrame sees. */
  def read(spark: SparkSession, table: String,
      asOfVersion: Option[Long] = None): DataFrame =
    snapshot(spark, table, asOfVersion) match {
      case Some(s) if s.segments.nonEmpty =>
        // a recorded (possibly evolved) schema pins column set AND
        // order; segments predating an added column serve NULLs;
        // a deletion vector (if any) is subtracted
        readLive(spark, s)
      case Some(s) if s.schema.isDefined =>
        // a created-but-empty (or fully-deleted) table with a
        // recorded schema reads as an empty frame of that shape
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          decodeSchema(s.schema.get))
      case _ => throw new IllegalStateException(
        s"CommitLog.read: no committed version at $table" +
          asOfVersion.fold("")(v => s" (asOf=$v)"))
    }

  /** TIMESTAMP AS OF resolution (Delta's second time-travel knob):
    * the LATEST version whose commit wall-time is ≤ `tsMillis`.
    * Commit times are stamped at publish (one clock read inside
    * [[tryPublish]] — monotone per table because versions serialize
    * on the manifest create). A cutoff before the earliest retained
    * commit raises — resolving it to "nothing" would silently serve
    * an empty table for a typo'd date. Pre-timestamp manifests (older
    * format) are treated as unknown and skipped. */
  def snapshotAsOfTimestamp(spark: SparkSession, table: String,
      tsMillis: Long): Snapshot = {
    val snaps = snapshotsAsc(spark, table)
    val eligible = snaps.filter(_.ts.exists(_ <= tsMillis))
    eligible.lastOption.getOrElse(throw new IllegalStateException(
      s"CommitLog: no commit at or before timestamp $tsMillis at " +
        s"$table (earliest retained: " +
        s"${snaps.headOption.flatMap(_.ts).getOrElse("none")})"))
  }

  /** Read the table as of a wall-clock instant. */
  def readAsOfTimestamp(spark: SparkSession, table: String,
      tsMillis: Long): DataFrame =
    read(spark, table,
      Some(snapshotAsOfTimestamp(spark, table, tsMillis).version))

  /** `startingTimestamp` resolution (Delta's CDF rule, the MIRROR of
    * [[snapshotAsOfTimestamp]]): the EARLIEST retained version whose
    * commit wall-time is ≥ `tsMillis` — "give me every change since
    * this instant". None when the timestamp postdates every retained
    * commit (batch CDF raises on that — typo'd-date protection;
    * the streaming source starts past the current version instead,
    * serving only future commits — both Delta's behaviors). One
    * record read per version, early-exit. */
  def versionAtOrAfterTimestamp(spark: SparkSession, table: String,
      tsMillis: Long): Option[Long] =
    versions(spark, table).iterator
      .map(v => v -> readRecord(spark, table, v).flatMap(_.snap.ts))
      .collectFirst { case (v, Some(ts)) if ts >= tsMillis => v }

  /** Read a segment list under an optionally-pinned (possibly evolved)
    * schema: segments written before a column was added serve NULLs
    * for it, and column set/order is stable regardless of which file
    * the parquet reader would have sampled. Without a recorded schema
    * the inferred one comes from [[ParquetFooters]], which reads no
    * footer in a Spark job. */
  private[graft] def readSegments(spark: SparkSession,
      segments: Seq[String], schema: Option[String]): DataFrame =
    schema.map(decodeSchema) match {
      case Some(sch) if !isIdentityMapping(sch) =>
        // column mapping: parquet serves the PHYSICAL schema (the
        // names in the files, stable across renames); the projection
        // restores logical names — pruning pushes through it
        val phys = toPhysicalSchema(sch)
        spark.read.schema(phys).parquet(segments: _*)
          .select(sch.fields.map(f =>
            col(s"`${physicalName(f)}`").as(f.name, f.metadata)): _*)
      case Some(sch) => spark.read.schema(sch).parquet(segments: _*)
      case None => ParquetFooters.read(spark, segments)
    }

  /** The snapshot's LIVE content: its segments minus its deletion
    * vector (if any). Every content reader — [[read]], the DML
    * executors, compaction, the SQL/DSv2 bridge — goes through this,
    * so a DV'd row can never resurface on any surface. */
  private[graft] def readLive(spark: SparkSession, snap: Snapshot,
      only: Option[Seq[String]] = None): DataFrame =
    if (snap.dv.isEmpty)
      readSegments(spark, only.getOrElse(snap.segments), snap.schema)
    else taggedLive(spark, snap, only).drop(DvTags: _*)

  /** Tag a freshly-read segment frame with the (file, row-position)
    * pair the deletion vector is keyed on. Must be applied directly
    * on the parquet read (the `_metadata` column resolves only
    * there). */
  private def withDvPos(base: DataFrame): DataFrame = base
    .withColumn("__graft_dv_file", col("_metadata.file_path"))
    .withColumn("__graft_dv_pos", col("_metadata.row_index"))

  /** Subtract a deletion vector from a position-tagged frame — the
    * ONE implementation every surface (read, DML matchers, updates)
    * shares, so the row sets cannot diverge.
    *
    * 100 TB posture: file paths are dictionary-encoded to ints on
    * BOTH sides before the anti-join (the distinct file list is
    * bounded by the table's file count and collected once; an
    * unknown file maps to NULL, which matches nothing), so the
    * broadcast hash relation holds (int, long) pairs — ~20× smaller
    * than path strings. The scan side never shuffles in the
    * broadcast regime; caller filters push through the anti-join to
    * the parquet scan; OPTIMIZE materializes the subtraction away.
    *
    * The broadcast is HINTED (bypasses autoBroadcastJoinThreshold),
    * so it is capped by row count: past
    * `spark.graft.dv.broadcastRows` (default 1M ≈ tens of MB of
    * hash relation) the hint is dropped and the anti-join shuffles —
    * slower, but it cannot OOM the driver/executors the way a
    * forced hundreds-of-MB broadcast at the maxDvRows=10M bound
    * could. The DV row count comes from parquet footer stats and is
    * CACHED per directory: DV dirs are immutable (every DML commit
    * writes a fresh one), so the count is a constant of the path —
    * without the cache every read/scan/DML of a DV-bearing table
    * paid one extra driver job just to pick the join strategy. */
  private val dvCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Data bytes of published segments, memoized per-JVM — sound
    * because segments are IMMUTABLE once a manifest names them (only
    * `_`-prefixed sidecars may be attached later, and those are
    * excluded here). Feeds the scan bridges' size statistics so
    * Catalyst can pick a static broadcast for small DV'd / mapped
    * tables instead of always paying the shuffle and hoping AQE
    * converts it at runtime. */
  private val segBytesCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[sources] def segmentsSizeBytes(spark: SparkSession,
      segments: Seq[String]): Long =
    segments.map { seg =>
      segBytesCache.computeIfAbsent(seg, s => {
        val p = new org.apache.hadoop.fs.Path(s)
        val f = fs(spark, s)
        if (!f.exists(p)) 0L
        else f.listStatus(p).filter { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }.map(_.getLen).sum
      }).longValue
    }.sum

  /** Rows in the deletion-vector directory `dvDir`, from the memo. */
  private def dvRows(spark: SparkSession, dvDir: String): Long = {
    // bounded: a long-lived driver doing frequent vectored DML mints
    // a fresh immutable DV dir per commit — reset the memo past 4096
    // entries (it rebuilds from footer stats) rather than leak
    if (dvCountCache.size() > 4096) dvCountCache.clear()
    dvCountCache.computeIfAbsent(dvDir,
      d => ParquetFooters.read(spark, Seq(d)).count())
  }

  private def subtractDv(spark: SparkSession, tagged: DataFrame,
      dvDir: String): DataFrame = {
    val dvRaw = ParquetFooters.read(spark, Seq(dvDir))
    val fileIds = dvRaw.select("_dv_file").distinct()
      .collect().map(_.getString(0)).zipWithIndex.toMap
    val idOf = typedLit(fileIds)
    val dvIds = dvRaw.select(
      idOf(col("_dv_file")).as("_dv_fid"), col("_dv_pos"))
    val withFid = tagged.withColumn("__graft_dv_fid",
      idOf(col("__graft_dv_file")))
    val bcastCap = spark.conf.getOption("spark.graft.dv.broadcastRows")
      .map(_.toLong).getOrElse(1000000L)
    val dvSide =
      if (dvRows(spark, dvDir) <= bcastCap) broadcast(dvIds) else dvIds
    withFid.join(dvSide,
      withFid("__graft_dv_fid") === dvIds("_dv_fid") &&
        withFid("__graft_dv_pos") === dvIds("_dv_pos"),
      "left_anti")
      .drop("__graft_dv_fid")
  }

  /** Write `df` as a fresh immutable segment under the table; returns
    * the segment directory path. Never visible until a manifest names
    * it, so a crashed writer leaves only unreferenced garbage (removed
    * by [[vacuum]]), never a corrupt table. Gated against the table's
    * current snapshot. */
  private[graft] def writeSegment(spark: SparkSession, table: String,
      df: DataFrame): String =
    writeSegment(spark, table, df, snapshot(spark, table))

  /** [[writeSegment]] gated against `cur`, the snapshot a [[transact]]
    * attempt already holds (`tx.cur`) — no second resolve. */
  private[graft] def writeSegment(spark: SparkSession, table: String,
      df: DataFrame, cur: Option[Snapshot]): String =
    writeSegmentGated(spark, table, df, cur)._1

  /** [[writeSegment]] plus the CHECK-constraint set the gate ran
    * against — append-family OCC loops compare it to the re-read
    * snapshot's set on every retry ([[regateOnConstraintChange]]),
    * so a constraint committed by a concurrent SET between staging
    * and publish cannot be slipped under. */
  private[sources] def writeSegmentGated(spark: SparkSession,
      table: String, df: DataFrame, cur: Option[Snapshot])
      : (String, Map[String, String]) =
    gatedSegment(spark, table, df, cur, keepEmpty = true).get

  /** Stage a DML rewrite's rows as one gated segment of the attempt,
    * or nothing when `df` holds no rows. The row count rides the write
    * itself, so no emptiness probe runs first; an empty result's
    * directory is deleted, and no manifest names it. */
  private def stageRows(spark: SparkSession, tx: Tx, table: String,
      df: DataFrame): Seq[String] =
    tx.stage(gatedSegment(spark, table, df, tx.cur, keepEmpty = false)
      .map(_._1).toSeq)

  private def gatedSegment(spark: SparkSession, table: String,
      df: DataFrame, cur: Option[Snapshot], keepEmpty: Boolean)
      : Option[(String, Map[String, String])] = {
    // column mapping: file bytes store PHYSICAL names (identity → the
    // rename fold is a no-op); the one snapshot serves the mapping AND
    // the constraint gate below
    // identity columns allocate ONLY on [[appendIdentity]] (which
    // lands them in the frame before this point) — any other gated
    // path omitting one would silently serve NULL ids; refuse loud
    identityFields(cur.flatMap(_.schema).map(decodeSchema))
      .find(f => !df.columns.exists(_.equalsIgnoreCase(f.name)))
      .foreach { f =>
        throw new IllegalArgumentException(
          s"CommitLog: frame omits identity column '${f.name}' of " +
            s"$table — this write path does not allocate; use " +
            "CommitLog.append (INSERT), or provide values" +
            (if (f.metadata.getBoolean(IdentityExplicitKey)) ""
             else " (NULLs allocate on the append path)"))
      }
    // GENERATED ALWAYS AS: a frame omitting a generated column gets
    // it computed here (so every gated path — appends, DML rewrites,
    // evolve — lands it); provided values are validated by the gate.
    // Column DEFAULTs fill first (a generation expression may read a
    // defaulted source), then generation computes over the result.
    val withGen = computeGenerated(
      computeDefaults(df, cur.flatMap(_.schema).map(decodeSchema)),
      cur.flatMap(_.schema).map(decodeSchema))
    // declared NOT NULL: omitting the column entirely would serve
    // NULL for every new row — the same corruption the gate refuses
    // value-wise, caught here before any bytes stage (defaults and
    // generation above may have just filled it — that's fine)
    nonNullableFields(cur)
      .find(f => !withGen.columns.exists(_.equalsIgnoreCase(f.name)))
      .foreach { f =>
        throw new IllegalArgumentException(
          s"CommitLog: frame omits NOT NULL column '${f.name}' of " +
            s"$table — new rows would read NULL under a non-nullable " +
            "schema; provide the column")
      }
    val mapped = cur.flatMap(_.schema)
      .map(decodeSchema).filterNot(isIdentityMapping)
      .map(sch => toPhysicalFrame(withGen, sch)).getOrElse(withGen)
    val (seg, rows) = stageCounted(table, mapped)
    if (rows.contains(0L) && !keepEmpty) {
      fs(spark, table).delete(new org.apache.hadoop.fs.Path(seg), true)
      None
    } else {
      // persistent CHECK constraints gate EVERY segment before any
      // manifest can name it — one columnar scan of the new data only,
      // nothing when the table has no constraints (one field probe)
      enforceConstraints(spark, table, Seq(seg), cur)
      Some((seg, constraintsOf(spark, table, cur)))
    }
  }

  /** Close the gate-vs-SET race at the publish boundary: when the
    * effective constraint set at retry time DIFFERS from the set the
    * staged segments were gated against (a concurrent SET/UNSET won
    * an earlier version race), re-run the gate over exactly the
    * segments this commit adds — refusal deletes them and raises,
    * same atomicity as the staging gate. Constraint sets are decoded
    * from the already-resolved snapshot, so the no-change fast path
    * costs zero extra I/O. Returns the set now in force (the loop's
    * next yardstick). */
  private[sources] def regateOnConstraintChange(spark: SparkSession,
      table: String, newSegs: Seq[String],
      gated: Map[String, String], cur: Option[Snapshot])
      : Map[String, String] = {
    val now = constraintsOf(spark, table, cur)
    if (now != gated && newSegs.nonEmpty)
      enforceConstraints(spark, table, newSegs, cur)
    now
  }

  /** Stage `df` as a fresh immutable segment WITHOUT the constraint
    * gate — the CTAS/RTAS staging path, where the rules that govern
    * the data belong to the table definition being COMMITTED, not to
    * any pre-replace definition. Invisible until a manifest names
    * it, exactly like [[writeSegment]]'s output. */
  private[sources] def stageSegmentUnchecked(spark: SparkSession,
      table: String, df: DataFrame): String =
    stageCounted(table, df)._1

  /** [[stageSegmentUnchecked]] plus the segment's row count, observed
    * by the write (None when the write reported no metrics). */
  private def stageCounted(table: String,
      df: DataFrame): (String, Option[Long]) = {
    val seg = s"$table/data/${java.util.UUID.randomUUID().toString}"
    val n = observedWrite(df, seg, Seq(count(lit(1)).as("n"))).get("n")
      .collect { case x: Number => x.longValue }
    (seg, n)
  }

  /** Write `df` as parquet at `path` (a fresh path unless `mode` says
    * otherwise) and return `aggs` over the written rows, measured by an
    * [[org.apache.spark.sql.Observation]] riding the write itself: no
    * second job re-reads what the write job already saw. Observation
    * metrics are exact under task retries (CollectMetrics counts only
    * committed tasks). Columns in `drop` feed `aggs` only: they are
    * removed after the observation and never written. */
  private[graft] def observedWrite(df: DataFrame, path: String,
      aggs: Seq[org.apache.spark.sql.Column],
      mode: SaveMode = SaveMode.ErrorIfExists,
      drop: Seq[String] = Nil): Map[String, Any] = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, aggs.head, aggs.tail: _*).drop(drop: _*)
      .write.mode(mode).parquet(path)
    obs.get
  }

  /** Delete the LEGACY `_constraints.json` side file — a derivative
    * cache cleanup only: since constraints ride the manifest, the
    * atomic reset is the replace commit's own explicit-empty
    * `constraints` field, and this file (when present at all) is
    * ignored wherever that field exists. Crash-safe by construction:
    * losing this delete leaves a stale file no reader consults. */
  private[sources] def clearConstraints(spark: SparkSession,
      table: String): Unit = deleteLegacyConstraintsFile(spark, table)

  /** SPI for the atomic create-if-absent arbitration the WHOLE
    * protocol rests on: publish `content` at `dst` iff nothing exists
    * there, atomically and content-complete (a reader that can see
    * `dst` sees all of `content`). Returns true iff this caller won.
    * The default [[FsManifestStore]] covers POSIX (link(2)) and
    * HDFS-class (rename-no-overwrite) semantics; object stores plug
    * in their server-side conditional PUT via
    * [[CommitLog.registerManifestStore]]. */
  trait ManifestStore {
    def createIfAbsent(dst: String, content: Array[Byte]): Boolean
  }

  /** Adapter for S3-class stores: the store's own conditional PUT
    * (`If-None-Match: *` — server-side arbitration, exactly-one
    * winner under any concurrency) IS the primitive; no temp files
    * or renames are involved because the PUT itself is atomic and
    * content-complete. */
  final class ConditionalPutStore(
      putIfAbsent: (String, Array[Byte]) => Boolean)
      extends ManifestStore {
    override def createIfAbsent(dst: String,
        content: Array[Byte]): Boolean = putIfAbsent(dst, content)
  }

  /** Default: link(2) on local paths (atomic; EEXIST loses), atomic
    * rename-without-overwrite on HDFS-class filesystems. The fully
    * written temp file is linked/renamed, never a partial. */
  private final class FsManifestStore(
      f: org.apache.hadoop.fs.FileSystem) extends ManifestStore {
    override def createIfAbsent(dst: String,
        content: Array[Byte]): Boolean = {
      val dstP = new org.apache.hadoop.fs.Path(dst)
      val parent = dstP.getParent
      val tmp = new org.apache.hadoop.fs.Path(
        s"$parent/.tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(content) finally out.close()
      try {
        if (dstP.toUri.getScheme == null ||
            dstP.toUri.getScheme == "file") {
          val dstFile = java.nio.file.Paths.get(dstP.toUri.getPath)
          val tmpFile = java.nio.file.Paths.get(tmp.toUri.getPath)
          try { java.nio.file.Files.createLink(dstFile, tmpFile); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        } else {
          f.rename(tmp, dstP)
        }
      } finally f.delete(tmp, false): Unit
    }
  }

  private val storeRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, ManifestStore]()

  /** Route manifest publishes for tables under `pathPrefix` through
    * `store` (longest prefix wins). Registration is process-wide —
    * the same scope as Hadoop FileSystem bindings. */
  def registerManifestStore(pathPrefix: String,
      store: ManifestStore): Unit =
    storeRegistry.put(pathPrefix, store): Unit

  def unregisterManifestStore(pathPrefix: String): Unit =
    storeRegistry.remove(pathPrefix): Unit

  private def storeFor(spark: SparkSession, table: String)
      : ManifestStore = {
    import scala.jdk.CollectionConverters._
    // path-segment-boundary prefix match: a store registered for
    // /data/tbl must NOT capture /data/tbl_backup
    storeRegistry.asScala.toSeq
      .filter { case (prefix, _) =>
        table == prefix || table.startsWith(prefix.stripSuffix("/") + "/")
      }
      .sortBy(-_._1.length).headOption.map(_._2)
      .getOrElse(new FsManifestStore(fs(spark, table)))
  }

  /** Try to publish `snap` as version `snap.version`: atomic
    * create-if-absent of the manifest file through the table's
    * [[ManifestStore]]. Returns false when that version was taken by
    * a concurrent writer (caller rebases and retries); any other
    * failure propagates. */
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The manifest segment-count thresholds (header §"Known bound"):
    * warn past the soft one, refuse a GROWING commit past the hard
    * one. Count-reducing commits (compaction, CoW rewrites) must
    * always land — they are the way back under the bound. */
  private[graft] def segmentBounds(spark: SparkSession): (Int, Int) = (
    spark.conf.getOption("spark.graft.manifest.warnSegments")
      .map(_.toInt).getOrElse(10000),
    spark.conf.getOption("spark.graft.manifest.maxSegments")
      .map(_.toInt).getOrElse(10000000))

  private[graft] def tryPublish(spark: SparkSession, table: String,
      snap: Snapshot, base: Option[Snapshot] = None): Boolean = {
    val f = fs(spark, table)
    // Segment-count guard: commits are O(delta) bytes now, but the
    // CHECKPOINT render and every reader's planning remain
    // O(segments) — a table outrunning its OPTIMIZE cadence still
    // degrades economically. The soft threshold warns on every
    // growing commit past it; the hard bound (default 10M — a
    // backstop against runaway loops, not a working ceiling) refuses,
    // naming the verb that shrinks the set. Checked only for commits
    // that GROW the set: compaction/rewrites must always land, and
    // the base count is read from the snapshot the caller already
    // holds (no extra manifest I/O on the hot path).
    val nSegs = snap.segments.size
    val (warnSegs, maxSegs) = segmentBounds(spark)
    require(snap.segments.distinct.size == nSegs,
      s"CommitLog: commit op='${snap.op}' lists a duplicate segment " +
        s"at $table")
    if (nSegs > warnSegs || nSegs > maxSegs) {
      val baseCount = base.filter(_.version == snap.baseVersion)
        .orElse(snapshot(spark, table, Some(snap.baseVersion)))
        .map(_.segments.size).getOrElse(0)
      if (nSegs > baseCount) {
        if (nSegs > maxSegs) throw new IllegalStateException(
          s"CommitLog: commit op='${snap.op}' would list $nSegs " +
            s"segments (> spark.graft.manifest.maxSegments=$maxSegs) " +
            s"at $table — checkpoint bytes and reader planning " +
            "scale with segment count; run CommitLog.compact / CALL " +
            "<cat>.system.optimize_compact (or a clustered/bucketed " +
            "OPTIMIZE) to consolidate, then retry")
        log.warn(s"CommitLog: $table now lists $nSegs segments " +
          s"(> spark.graft.manifest.warnSegments=$warnSegs; hard " +
          s"bound $maxSegs) — schedule an OPTIMIZE/compact to keep " +
          "checkpoint size and reader planning tight")
      }
    }
    // DV-carry invariant (belt-and-braces for every current and
    // FUTURE commit path): a commit that keeps any of its base
    // version's segments while dropping the base's deletion vector
    // would resurrect deleted rows. Materializing ops (compact /
    // overwrite / merge) replace the whole segment set, so they pass;
    // RESTORE resurrects by definition and is exempt. Callers that
    // hold the base snapshot pass it (`base`) so the guard costs no
    // extra manifest read on the hot publish path.
    // fsck_repair is the second exemption: it drops a MISSING vector
    // by design (documented resurrect — nothing left to subtract)
    if (snap.dv.isEmpty && snap.op != "restore" &&
        snap.op != "fsck_repair")
      base.filter(_.version == snap.baseVersion)
        .orElse(snapshot(spark, table, Some(snap.baseVersion)))
        .foreach { b =>
          if (b.dv.isDefined &&
              snap.segments.exists(b.segments.toSet))
            throw new IllegalStateException(
              s"CommitLog: commit op='${snap.op}' at $table keeps " +
                s"segments of base v${b.version} but drops its " +
                "deletion vector — deleted rows would resurrect. Carry " +
                "dv forward (append/DML) or replace all segments " +
                "(compact/overwrite).")
        }
    f.mkdirs(new org.apache.hadoop.fs.Path(commitsDir(table)))
    val parent: Option[Snapshot] =
      if (snap.version <= 1L) None
      else base.filter(_.version == snap.version - 1L)
        .orElse(resolve(spark, table, snap.version - 1L))
    // Partition metadata, once recorded, rides EVERY later manifest
    // (absolute per record, inherited at publish): the current
    // snapshot always answers partitionColumns without a second
    // lookup, and REPLACE TABLE can change the spec by setting its
    // own value ("" = explicitly unpartitioned).
    val stamped = snap.copy(ts = Some(System.currentTimeMillis()),
      partitionBy = snap.partitionBy
        .orElse(parent.flatMap(_.partitionBy)),
      mapping = snap.mapping.orElse(parent.flatMap(_.mapping)),
      // CHECK constraints are versioned table metadata (Delta's
      // model): absolute per record, inherited at publish exactly
      // like the partition spec — constraint DDL commits its own
      // value, everything else carries the parent's forward
      constraints = snap.constraints
        .orElse(parent.flatMap(_.constraints)),
      // identity high-water marks: same inheritance rule — an
      // allocating append commits its own advanced value, everything
      // else carries the parent's forward
      identity = snap.identity.orElse(parent.flatMap(_.identity)))
    // reader-protocol stamp (FORMAT.md §2.4): recorded only when the
    // record needs more than the base protocol, so pre-feature tables
    // stay byte-identical to the pre-protocol era
    val stampedP = {
      val need = requiredProtocol(stamped)
      if (need > 1) stamped.copy(protocol = Some(need)) else stamped
    }
    // O(delta) commit bytes: render adds/removes relative to the
    // parent (version-1) whenever the parent resolves and forward
    // replay reproduces the EXACT segment list (order included — an
    // op that interleaves kept and new segments falls back to the
    // self-contained render rather than silently reordering). v1 and
    // parentless publishes stay self-contained.
    val body: String = parent match {
      case Some(p) =>
        val pset = p.segments.toSet
        val sset = stampedP.segments.toSet
        val adds = stampedP.segments.filterNot(pset)
        val removes = p.segments.filterNot(sset)
        val replayed = {
          val rm = removes.toSet
          p.segments.filterNot(rm) ++ adds
        }
        if (replayed == stampedP.segments)
          renderDelta(stampedP, adds, removes)
        else renderManifest(stampedP)
      case None => renderManifest(stampedP)
    }
    val won = storeFor(spark, table).createIfAbsent(
      manifestPath(table, stampedP.version), body.getBytes("UTF-8"))
    // Checkpoint cadence: the UNIQUE winner of an interval-multiple
    // version also writes the full state as <v>.checkpoint —
    // idempotent (create-if-absent) and best-effort: a crash here
    // only lengthens later replays until the next cadence hit.
    if (won && stampedP.version % checkpointInterval(spark) == 0L) {
      try writeCheckpointFiles(spark, table, stampedP)
      catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"CommitLog: checkpoint write at " +
            s"v${stampedP.version} of $table failed (resolution " +
            s"replays further until the next cadence): $e")
      }
    }
    won
  }

  /** Lost version races any OCC commit absorbs before giving up. */
  private[sources] val MaxCommitRetries = 20

  /** What one [[transact]] attempt decided: publish `snap` (returning
    * `result` if it wins the version race), or finish with no commit. */
  private[sources] sealed trait Attempt[+A]
  private[sources] final case class Publish[A](snap: Snapshot, result: A)
    extends Attempt[A]
  private[sources] final case class Done[A](result: A) extends Attempt[A]

  /** One OCC attempt: the snapshot it rebases on (`cur`, None = no
    * table yet) and what it owns — directories it staged (`stage`)
    * and frames it persisted (`pin`). */
  private[sources] final class Tx private[CommitLog] (op: String,
      table: String, val cur: Option[Snapshot], val attempt: Int) {
    private[CommitLog] val staged =
      scala.collection.mutable.ArrayBuffer.empty[String]
    private[CommitLog] val pins =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def existing: Snapshot = cur.getOrElse(throw new IllegalStateException(
      s"$op: nothing committed at $table"))
    def stage(path: String): String = { staged += path; path }
    def stage(paths: Seq[String]): Seq[String] = { staged ++= paths; paths }
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pins += p
      p
    }
  }

  /** THE optimistic-concurrency commit loop every retrying publish
    * runs: resolve the snapshot (attempt 0 may reuse `first`, one the
    * caller already holds), run `attempt`, publish what it returns,
    * and on a lost race rebase and retry, at most [[MaxCommitRetries]]
    * times. Pins are released after every attempt. Cleanup — nothing
    * unreferenced survives a writer that loses or gives up:
    *  - a lost race, or an exception from `attempt`, deletes that
    *    attempt's staged paths; the exception (a refusal) also deletes
    *    the stage-once `staged` paths;
    *  - a `Done` (no commit) or exhausting the retries deletes both;
    *  - an exception from the publish itself deletes NOTHING: the
    *    manifest may already be linked. */
  private[sources] def transact[A](spark: SparkSession, table: String,
      op: String, staged: Seq[String] = Nil,
      first: Option[Option[Snapshot]] = None)(
      attempt: Tx => Attempt[A]): A = {
    def drop(paths: Seq[String]): Unit = if (paths.nonEmpty) {
      val f = fs(spark, table)
      paths.foreach(p =>
        f.delete(new org.apache.hadoop.fs.Path(p), true): Unit)
    }
    @scala.annotation.tailrec
    def run(i: Int): A =
      if (i == MaxCommitRetries) {
        drop(staged)
        throw new java.io.IOException(
          s"$op: lost the version race $MaxCommitRetries times at $table")
      } else {
        val tx = new Tx(op, table,
          first.filter(_ => i == 0).getOrElse(snapshot(spark, table)), i)
        val outcome =
          try attempt(tx)
          catch {
            case scala.util.control.NonFatal(e) =>
              drop(tx.staged.toSeq ++ staged); throw e
          } finally tx.pins.foreach(_.unpersist(): Unit)
        outcome match {
          case Done(r) => drop(tx.staged.toSeq ++ staged); r
          case Publish(snap, r) =>
            if (tryPublish(spark, table, snap, tx.cur)) r
            else { drop(tx.staged.toSeq); run(i + 1) }
        }
      }
    run(0)
  }

  /** Force a full-state checkpoint at the CURRENT version — the
    * operational knob (and what vacuum uses to pin its retain floor
    * before dropping older manifests). Idempotent. Returns the
    * checkpointed version. */
  def checkpoint(spark: SparkSession, table: String): Long = {
    val snap = snapshot(spark, table).getOrElse(
      throw new IllegalStateException(
        s"CommitLog.checkpoint: nothing committed at $table"))
    writeCheckpointFiles(spark, table, snap)
    snap.version
  }

  /** Pin `v` with a checkpoint (resolving it first) — vacuum's
    * retain-floor guarantee. */
  private def ensureCheckpoint(spark: SparkSession, table: String,
      v: Long): Unit = {
    val snap = resolve(spark, table, v).getOrElse(
      throw new IllegalStateException(
        s"CommitLog.ensureCheckpoint: version $v of $table is not " +
          "resolvable"))
    writeCheckpointFiles(spark, table, snap)
  }

  /** Commit an APPEND: new segment joins the previous version's list.
    * Lost-update-free under concurrency: a loser of the version race
    * re-reads the winner's manifest, so its retry carries BOTH
    * writers' segments. Returns the committed version. */
  def append(spark: SparkSession, table: String, df: DataFrame): Long = {
    // identity tables take the allocating loop (stage-inside-retry:
    // a lost race reallocates against the winner's high-water mark);
    // everything else keeps the stage-once fast path
    val pre = snapshot(spark, table)
    val idFields = identityFields(pre.flatMap(_.schema).map(decodeSchema))
    if (idFields.nonEmpty)
      return appendIdentity(spark, table, df, idFields, "append", None).get
    val (seg, gated0) = writeSegmentGated(spark, table, df, pre)
    var gated = gated0
    // the first attempt reuses the identity-probe resolution (the
    // common uncontended append pays no extra manifest I/O for the
    // probe); retries re-resolve
    transact(spark, table, "CommitLog.append", staged = Seq(seg),
        first = Some(pre)) { tx =>
      val cur = tx.cur
      gated = regateOnConstraintChange(spark, table, Seq(seg), gated, cur)
      val v = cur.fold(1L)(_.version + 1L)
      Publish(Snapshot(v, cur.fold(Seq.empty[String])(_.segments) :+ seg,
        cur.fold(0L)(_.version), "append",
        schema = cur.flatMap(_.schema), dv = cur.flatMap(_.dv)), v)
    }
  }

  /** The identity-allocating append: values are minted against the
    * snapshot the publish races on, so the high-water mark advances
    * under the SAME OCC as the segment list — two concurrent
    * appenders can never allocate overlapping ids (the loser's
    * staged bytes are deleted and it reallocates; gaps are normal,
    * Delta's documented identity semantics). The input pins once and
    * its stats job runs once — only the cheap projection re-stages
    * on a retry. */
  private def appendIdentity(spark: SparkSession, table: String,
      df: DataFrame,
      idFields: Seq[org.apache.spark.sql.types.StructField],
      op: String, txn: Option[(String, Long)]): Option[Long] = {
    val pinned = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val stats = identityStats(pinned, idFields)
      transact(spark, table, "CommitLog.append") { tx =>
        // exactly-once streaming: re-check the batch watermark every
        // retry (a concurrent replica may have won with this batch)
        if (txn.exists { case (appId, batchId) =>
            lastTxn(spark, table, appId).exists(_ >= batchId) })
          Done(None)
        else {
          val cur = tx.cur
          // the identity column SET must be the one the stats were
          // computed for — a concurrent schema change mid-append is
          // a caller coordination bug, not something to paper over
          val nowFields = identityFields(
            cur.flatMap(_.schema).map(decodeSchema))
          require(nowFields.map(_.name) == idFields.map(_.name),
            s"CommitLog.append: identity columns of $table changed " +
              "concurrently — retry the append")
          val (dfId, marks) = applyIdentity(pinned, nowFields,
            decodeIdentity(cur.flatMap(_.identity)), stats)
          val seg = tx.stage(writeSegment(spark, table, dfId, cur))
          val v = cur.fold(1L)(_.version + 1L)
          Publish(Snapshot(v,
            cur.fold(Seq.empty[String])(_.segments) :+ seg,
            cur.fold(0L)(_.version), op,
            txnApp = txn.map(_._1), txnBatch = txn.map(_._2),
            schema = cur.flatMap(_.schema), dv = cur.flatMap(_.dv),
            identity = Some(encodeConstraints(
              marks.map { case (k, x) => k -> x.toString }))), Some(v))
        }
      }
    } finally pinned.unpersist(): Unit
  }

  // ---- schema evolution ------------------------------------------------

  /** base64 of StructType.json — regex-safe inside the flat manifest
    * format (the payload can contain no quotes or brackets). */
  private[graft] def encodeSchema(
      s: org.apache.spark.sql.types.StructType): String =
    java.util.Base64.getEncoder.encodeToString(s.json.getBytes("UTF-8"))

  private[graft] def decodeSchema(
      b64: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      new String(java.util.Base64.getDecoder.decode(b64), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** ADD-COLUMN evolution — the safe subset of Delta's mergeSchema:
    * a same-name field must keep its EXACT type (a silent widen or
    * narrow is a rewrite, not an evolution — refuse loudly, the
    * [[Catalog]] event-time precedent); new incoming fields append
    * after the current ones, forced nullable (every pre-evolution
    * segment serves NULL for them). Incoming MAY omit existing
    * columns — its segment serves NULL there, symmetrically.
    *
    * Name matching honors `spark.sql.caseSensitive` (via
    * `caseSensitive`, default false — Spark's analyzer default):
    * under the default, an incoming `O_TOTALPRICE` IS the existing
    * `o_totalprice`, never a second column — committing both would
    * make every later SELECT of the name fail ambiguous-reference,
    * effectively bricking the table (Delta rejects the duplicate
    * case-insensitively for the same reason). */
  private[graft] def evolveSchema(
      cur: org.apache.spark.sql.types.StructType,
      inc: org.apache.spark.sql.types.StructType,
      caseSensitive: Boolean = false)
      : org.apache.spark.sql.types.StructType = {
    def keyOf(n: String) = if (caseSensitive) n else n.toLowerCase
    val byName = cur.fields.map(f => keyOf(f.name) -> f).toMap
    inc.fields.foreach { f =>
      byName.get(keyOf(f.name)).foreach { c =>
        if (c.dataType != f.dataType) throw new IllegalStateException(
          s"CommitLog.appendEvolve: column '${f.name}' would change " +
            s"type ${c.dataType.simpleString} -> " +
            s"${f.dataType.simpleString}; type changes need an explicit " +
            "rewrite, not schema evolution")
      }
    }
    val added = inc.fields.filterNot(f => byName.contains(keyOf(f.name)))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(cur.fields ++ added)
  }

  /** The session's analyzer case sensitivity — evolution's name
    * matching must agree with how SELECT will later resolve the
    * columns, or DDL can commit a schema the analyzer cannot use. */
  private def caseSensitiveAnalysis(spark: SparkSession): Boolean =
    spark.sessionState.conf.caseSensitiveAnalysis

  /** APPEND with add-column schema evolution: the committed manifest
    * records the merged schema, so every reader (snapshot, time
    * travel, merge/DML rewrites, stats skipping) sees a stable,
    * pinned column set — old segments serve NULL for columns added
    * after them. First commit records the incoming schema as-is; a
    * type change refuses loudly ([[evolveSchema]]). The OCC loop
    * re-merges against the winner's schema on a lost race, so two
    * concurrent evolvers adding different columns both land (their
    * union), exactly like two appends' rows. */
  def appendEvolve(spark: SparkSession, table: String,
      df: DataFrame): Long = {
    val seg = writeSegment(spark, table, df)
    transact(spark, table, "CommitLog.appendEvolve",
        staged = Seq(seg)) { tx =>
      val cur = tx.cur
      val base = cur.map(s => s.schema.map(decodeSchema).getOrElse(
        readSegments(spark, s.segments, None).schema))
      // Mapping-active tables refuse NEW columns on this path: the
      // merged field would get physical = logical, so a column
      // DROPped earlier and re-added here would serve its old bytes
      // from pre-drop segments (resurrection), and the segment below
      // was written before any fresh physical name could be chosen.
      // ALTER TABLE ADD COLUMNS (which stamps col-<uuid>) + a plain
      // append is the sound two-step.
      base.filter(b =>
        cur.exists(_.mapping.isDefined) || !isIdentityMapping(b))
        .foreach { b =>
          val cs0 = caseSensitiveAnalysis(spark)
          val known = b.fieldNames
          val fresh = df.schema.fieldNames.filterNot(n =>
            known.exists(k => if (cs0) k == n else k.equalsIgnoreCase(n)))
          if (fresh.nonEmpty)
            throw new IllegalStateException(
              s"CommitLog.appendEvolve: table $table uses column " +
                s"mapping — new column(s) ${fresh.mkString(", ")} " +
                "need an explicit physical name; run ALTER TABLE … " +
                "ADD COLUMNS first, then append")
        }
      val merged = base.fold(df.schema)(b =>
        evolveSchema(b, df.schema, caseSensitiveAnalysis(spark)))
      val v = cur.fold(1L)(_.version + 1L)
      Publish(Snapshot(v, cur.fold(Seq.empty[String])(_.segments) :+ seg,
        cur.fold(0L)(_.version), "append",
        schema = Some(encodeSchema(merged)), dv = cur.flatMap(_.dv)), v)
    }
  }

  /** METADATA-ONLY add-column evolution — the `ALTER TABLE … ADD
    * COLUMNS` commit: a new version with the SAME segment set and the
    * schema extended by `added` (forced nullable — every existing
    * segment serves NULL for the new columns, exactly as a segment
    * predating an [[appendEvolve]]'d column does). Writes zero data
    * files; the manifest create IS the whole commit. Re-adding an
    * existing name refuses loudly even at the same type (DDL must not
    * silently no-op), as does a type change ([[evolveSchema]]). The
    * OCC loop re-merges against a race winner's schema, so a
    * concurrent evolver adding a different column and this one both
    * land (their union). */
  def evolveColumns(spark: SparkSession, table: String,
      added: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(added.nonEmpty, "CommitLog.evolveColumns: no columns to add")
    transact(spark, table, "CommitLog.evolveColumns") { tx =>
      val cur = tx.existing
      val base = cur.schema.map(decodeSchema).getOrElse(
        readSegments(spark, cur.segments, None).schema)
      // duplicate probe under the ANALYZER's name resolution
      // (spark.sql.caseSensitive, default insensitive): committing
      // o_totalprice + O_TOTALPRICE would make every later SELECT of
      // the name ambiguous — the table is effectively bricked. Match
      // how reads resolve, not raw string equality.
      val cs = caseSensitiveAnalysis(spark)
      added.foreach { f =>
        if (base.fieldNames.exists(n =>
            if (cs) n == f.name else n.equalsIgnoreCase(f.name)))
          throw new IllegalStateException(
            s"CommitLog.evolveColumns: column '${f.name}' already " +
              s"exists at $table — ADD COLUMNS cannot re-add a column")
      }
      // column mapping active → a (re-)added name gets a FRESH
      // physical name, so a column dropped earlier can never serve
      // its old bytes under the reused name. The UUID is minted
      // INSIDE the retry loop: a race loser re-stamps, so the
      // physical name is nondeterministic across retries — harmless
      // (only the WINNER's stamp is ever published; nothing outside
      // this attempt observed the loser's), just not stable.
      val mappingActive =
        cur.mapping.isDefined || !isIdentityMapping(base)
      val stampedAdds =
        if (!mappingActive) added
        else added.map(f => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(PhysicalKey,
              s"col-${java.util.UUID.randomUUID()}").build()))
      val merged = evolveSchema(base,
        org.apache.spark.sql.types.StructType(stampedAdds.toArray), cs)
      Publish(Snapshot(cur.version + 1L, cur.segments, cur.version,
        "evolve", schema = Some(encodeSchema(merged)), dv = cur.dv),
        cur.version + 1L)
    }
  }

  /** `ALTER TABLE … RENAME COLUMN` — a METADATA-ONLY commit under
    * column mapping: the field keeps its PHYSICAL name (pinned into
    * the field metadata on first rename), only the logical name
    * changes, so zero segments rewrite and every older version time
    * travels under its own names. Refusals, each naming the way out:
    * unknown column; target name already taken (analyzer-aware
    * case matching); a partition column (the partitioned layout is
    * name-coupled — repartition via OPTIMIZE into a new table); a
    * column a CHECK constraint references (drop the constraint
    * first, re-add under the new name); a table with no recorded
    * schema (nothing to rename against). */
  def renameColumn(spark: SparkSession, table: String, from: String,
      to: String): Long = {
    val cs = caseSensitiveAnalysis(spark)
    def same(a: String, b: String) =
      if (cs) a == b else a.equalsIgnoreCase(b)
    transact(spark, table, "CommitLog.renameColumn") { tx =>
      val cur = tx.existing
      // a plain-API table (no recorded schema yet) infers its current
      // schema from the segments and RECORDS it with this commit —
      // the appendEvolve precedent; an empty schemaless table has
      // nothing to rename against
      val base = cur.schema.map(decodeSchema).getOrElse {
        if (cur.segments.isEmpty) throw new IllegalStateException(
          s"CommitLog.renameColumn: $table has no recorded schema and " +
            "no segments — nothing to alter")
        readSegments(spark, cur.segments, None).schema
      }
      mappingDdlGuards(spark, table, "renameColumn", from, base)
      if (!base.fieldNames.exists(same(_, from)))
        throw new IllegalStateException(
          s"CommitLog.renameColumn: no column '$from' at $table")
      if (base.fieldNames.exists(same(_, to)))
        throw new IllegalStateException(
          s"CommitLog.renameColumn: column '$to' already exists at " +
            s"$table")
      val renamed = org.apache.spark.sql.types.StructType(
        base.fields.map { f =>
          if (!same(f.name, from)) f
          else f.copy(name = to, metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString(PhysicalKey, physicalName(f)).build())
        })
      Publish(Snapshot(cur.version + 1L, cur.segments, cur.version,
        "rename_column", schema = Some(encodeSchema(renamed)),
        dv = cur.dv, mapping = Some("name")), cur.version + 1L)
    }
  }

  /** `ALTER TABLE … DROP COLUMN` — a METADATA-ONLY commit under
    * column mapping: the field leaves the recorded schema, its bytes
    * stay in the old segments (readers never request them; vacuum of
    * pre-drop versions eventually reclaims), and the table enters
    * mapping mode so a later re-ADD of the same name maps to a fresh
    * physical column instead of resurrecting the dropped data. Same
    * refusal set as [[renameColumn]], plus dropping the last column. */
  def dropColumn(spark: SparkSession, table: String,
      name: String): Long = {
    val cs = caseSensitiveAnalysis(spark)
    def same(a: String, b: String) =
      if (cs) a == b else a.equalsIgnoreCase(b)
    transact(spark, table, "CommitLog.dropColumn") { tx =>
      val cur = tx.existing
      // a plain-API table (no recorded schema yet) infers its current
      // schema from the segments and RECORDS it with this commit —
      // the appendEvolve precedent; an empty schemaless table has
      // nothing to rename against
      val base = cur.schema.map(decodeSchema).getOrElse {
        if (cur.segments.isEmpty) throw new IllegalStateException(
          s"CommitLog.dropColumn: $table has no recorded schema and " +
            "no segments — nothing to alter")
        readSegments(spark, cur.segments, None).schema
      }
      mappingDdlGuards(spark, table, "dropColumn", name, base)
      if (!base.fieldNames.exists(same(_, name)))
        throw new IllegalStateException(
          s"CommitLog.dropColumn: no column '$name' at $table")
      if (base.fields.length == 1)
        throw new IllegalStateException(
          s"CommitLog.dropColumn: cannot drop the only column of " +
            s"$table — DROP TABLE instead")
      val remaining = org.apache.spark.sql.types.StructType(
        base.fields.filterNot(f => same(f.name, name)))
      Publish(Snapshot(cur.version + 1L, cur.segments, cur.version,
        "drop_column", schema = Some(encodeSchema(remaining)),
        dv = cur.dv, mapping = Some("name")), cur.version + 1L)
    }
  }

  /** The provably-safe METADATA-ONLY type promotions (Delta type
    * widening / Iceberg V2 type promotion): every value of `from`
    * is exactly representable in `to`, AND the parquet readers
    * up-convert the old file bytes at scan (Spark 4.x widening
    * promotions in both vectorized and parquet-mr paths), AND the
    * stats sidecar tag is invariant (integrals share "long", floats
    * share "double", decimals compare exactly) so recorded
    * min/max/bloom metadata stays valid. Deliberately EXCLUDED:
    * int→double (representable, but it flips the sidecar tag
    * long→double, invalidating recorded stats — rewrite instead)
    * and every narrowing. Decimal follows Delta's rule: scale may
    * grow only if the integer-digit capacity (precision − scale)
    * does not shrink. */
  private[sources] def isSafeWiden(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          d2.precision - d2.scale >= d1.precision - d1.scale &&
          (d2.precision > d1.precision || d2.scale > d1.scale)
      case _ => false
    }
  }

  /** `ALTER TABLE … ALTER COLUMN <name> TYPE <to>` — METADATA-ONLY
    * type widening for the [[isSafeWiden]] promotions: the commit
    * (`op = "widen_column"`) records the widened schema and touches
    * ZERO segments; readers pin the recorded schema and the parquet
    * scan up-converts old-file bytes (INT32 pages under a LONG
    * column, etc.), so mixed-age segment sets serve one uniform
    * type. Older versions time-travel under their own narrower
    * schema. Without this, a long-lived table whose key outgrows
    * INT faces a full rewrite. Unsafe changes refuse loudly, naming
    * the safe set. */
  def widenColumn(spark: SparkSession, table: String, name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    val cs = caseSensitiveAnalysis(spark)
    def same(a: String, b: String) =
      if (cs) a == b else a.equalsIgnoreCase(b)
    transact(spark, table, "CommitLog.widenColumn") { tx =>
      val cur = tx.existing
      val base = cur.schema.map(decodeSchema).getOrElse {
        if (cur.segments.isEmpty) throw new IllegalStateException(
          s"CommitLog.widenColumn: $table has no recorded schema " +
            "and no segments — nothing to alter")
        readSegments(spark, cur.segments, None).schema
      }
      val f = base.fields.find(x => same(x.name, name)).getOrElse(
        throw new IllegalStateException(
          s"CommitLog.widenColumn: no column '$name' at $table"))
      if (!isSafeWiden(f.dataType, to))
        throw new IllegalStateException(
          s"CommitLog.widenColumn: ${f.dataType.simpleString} → " +
            s"${to.simpleString} on '$name' is not a metadata-only " +
            "widening — safe: BYTE→SHORT→INT→LONG, FLOAT→DOUBLE, " +
            "DECIMAL(p,s)→DECIMAL(p',s') with p'−s' ≥ p−s and " +
            "s' ≥ s; anything else (narrowing, int→double, type " +
            "family change) is a rewrite — CTAS into a new table")
      val widened = org.apache.spark.sql.types.StructType(
        base.fields.map(x =>
          if (same(x.name, name)) x.copy(dataType = to) else x))
      Publish(Snapshot(cur.version + 1L, cur.segments, cur.version,
        "widen_column", schema = Some(encodeSchema(widened)),
        dv = cur.dv), cur.version + 1L)
    }
  }

  /** The rename/drop refusals shared by both verbs: partition
    * columns (layout is name-coupled) and constraint-referenced
    * columns (the gate would silently stop seeing them — the
    * [[restore]] stranding rationale). */
  private def mappingDdlGuards(spark: SparkSession, table: String,
      verb: String, column: String,
      base: org.apache.spark.sql.types.StructType): Unit = {
    partitionColumns(spark, table).foreach { pCols =>
      if (pCols.exists(_.equalsIgnoreCase(column)))
        throw new IllegalStateException(
          s"CommitLog.$verb: '$column' is a PARTITION column of " +
            s"$table — the partitioned directory layout is " +
            "name-coupled; rewrite into a new table (CTAS / " +
            "optimize) instead")
    }
    constraints(spark, table).foreach { case (n, e) =>
      val refs = org.apache.spark.sql.catalyst.parser
        .CatalystSqlParser.parseExpression(e).collect {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => u.name
        }
      if (refs.exists(_.equalsIgnoreCase(column)))
        throw new IllegalStateException(
          s"CommitLog.$verb: CHECK constraint '$n' ($e) references " +
            s"'$column' — drop the constraint first (UNSET " +
            "TBLPROPERTIES), then retry")
    }
    // generation expressions read source columns by name exactly
    // like constraints do — renaming or dropping a source would make
    // every later write's compute/validate fail analysis
    generatedColumns(Some(base)).foreach { gf =>
      val ex = gf.metadata.getString(GeneratedKey)
      val refs = org.apache.spark.sql.catalyst.parser
        .CatalystSqlParser.parseExpression(ex).collect {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => u.name
        }
      if (refs.exists(_.equalsIgnoreCase(column)) ||
          gf.name.equalsIgnoreCase(column))
        throw new IllegalStateException(
          s"CommitLog.$verb: generated column '${gf.name}' " +
            s"(GENERATED ALWAYS AS $ex) depends on '$column' — " +
            "generated columns and their sources are name-coupled; " +
            "rewrite into a new table (CTAS) instead")
    }
    // the identity high-water mark keys on the LOGICAL column name
    // ([[Snapshot.identity]]) — a rename would orphan the mark and
    // restart allocation from `start`, silently minting duplicates
    identityFields(Some(base)).foreach { f =>
      if (f.name.equalsIgnoreCase(column))
        throw new IllegalStateException(
          s"CommitLog.$verb: '${f.name}' is an IDENTITY column — its " +
            "high-water mark is name-keyed; rewrite into a new " +
            "table (CTAS) instead")
    }
  }

  /** Highest micro-batch id ever committed by `appId`, from the txn
    * stamps in the RETAINED manifests. Vacuum caveat (same as Delta's):
    * `retainVersions` must cover the longest possible replay window,
    * or a replayed batch older than the retained history would be
    * re-applied — keep retention ≥ the streaming checkpoint's
    * lookback (one batch, for Structured Streaming's re-run-the-last-
    * batch-on-restart model). */
  def lastTxn(spark: SparkSession, table: String,
      appId: String): Option[Long] = {
    // Bounded walk (per-batch cost must not grow with table version
    // count — the exactly-once upsert sink calls this every stamped
    // micro-batch and on each OCC retry): stamps per app are strictly
    // increasing over versions (every stamped commit path checks the
    // watermark first), so the NEWEST stamp wins — scan newest-first
    // and stop at the first stamp for this appId. A per-(table, appId)
    // cache remembers (scanned-through version, its commit timestamp,
    // stamp) so steady state reads only the versions committed since
    // the previous call. The timestamp pins the table INCARNATION: a
    // table deleted and recreated at the same path writes a different
    // ts at the cached floor version, so the stale entry (whose stamp
    // belongs to the dead table and could mask real batches) is
    // detected and dropped no matter how far the new history has
    // grown — at the cost of ONE extra record read per call (zero
    // when nothing was committed since, the common steady state).
    // Vacuum of the floor record reads as unvalidatable → full
    // rescan, conservative.
    val key = (table, appId)
    val vs = versions(spark, table)
    if (vs.isEmpty) { txnCache.remove(key); return None }
    val top = vs.last
    val topRec = readRecord(spark, table, top)
    val cached = Option(txnCache.get(key)).filter {
      case (fv, fts, _) =>
        fv <= top && {
          val rec = if (fv == top) topRec
            else readRecord(spark, table, fv)
          rec.exists(_.snap.ts == fts)
        }
    }
    if (cached.isEmpty) txnCache.remove(key): Unit
    val floor = cached.fold(Long.MinValue)(_._1)
    val found = vs.reverseIterator.takeWhile(_ > floor)
      .map { v =>
        val rec = if (v == top) topRec else readRecord(spark, table, v)
        rec.flatMap(r =>
          if (r.snap.txnApp.contains(appId)) r.snap.txnBatch else None)
      }
      .collectFirst { case Some(b) => b }
    val result = found.orElse(cached.flatMap(_._3))
    txnCache.put(key, (top, topRec.flatMap(_.snap.ts), result)): Unit
    result
  }

  /** [[lastTxn]]'s per-JVM (table, appId) → (scanned-through version,
    * its commit ts — the incarnation check — and stamp) memo. */
  private val txnCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, Option[Long], Option[Long])]()

  /** Metadata-only TXN MARKER: commit a version carrying the (appId,
    * batchId) stamp with the segment set — and every other state
    * field — unchanged. How a maintainer advances its exactly-once
    * watermark when a feed application wrote no rows (a delete-only
    * delta): an `appendTxn` of an empty frame would append a real
    * zero-row segment per cycle, inflating every later scan's file
    * list without bound. O(1) manifest bytes (the delta record is
    * empty adds/removes). Returns None when the watermark already
    * covers `batchId` (replay), the committed version otherwise. */
  def commitTxnMarker(spark: SparkSession, table: String,
      appId: String, batchId: Long): Option[Long] = {
    if (lastTxn(spark, table, appId).exists(_ >= batchId)) return None
    transact(spark, table, "CommitLog.commitTxnMarker") { tx =>
      val cur = tx.existing
      if (tx.attempt > 0 && lastTxn(spark, table, appId)
          .exists(_ >= batchId)) Done(None)
      else Publish(Snapshot(cur.version + 1L, cur.segments, cur.version,
        "txn_marker", txnApp = Some(appId), txnBatch = Some(batchId),
        schema = cur.schema, dv = cur.dv, bucket = cur.bucket),
        Some(cur.version + 1L))
    }
  }

  /** Exactly-once APPEND for an idempotent writer: commit `df` stamped
    * (appId, batchId) unless a commit with this app's batchId (or a
    * later one) already exists — the replay-after-crash path of a
    * streaming query re-running its last micro-batch. Returns the
    * committed version, or None when the batch was recognized as
    * already applied and skipped. The watermark is re-checked after
    * every lost version race, so an interleaved foreign writer never
    * confuses the dedup. */
  def appendTxn(spark: SparkSession, table: String, df: DataFrame,
      appId: String, batchId: Long): Option[Long] = {
    if (lastTxn(spark, table, appId).exists(_ >= batchId)) return None
    // identity tables allocate surrogate keys per micro-batch under
    // the same exactly-once stamps (the streaming-ingest use case)
    val preI = snapshot(spark, table)
    val idFields = identityFields(
      preI.flatMap(_.schema).map(decodeSchema))
    if (idFields.nonEmpty)
      return appendIdentity(spark, table, df, idFields,
        "streaming-append", Some((appId, batchId)))
    val (seg, gated0) = writeSegmentGated(spark, table, df, preI)
    var gated = gated0
    // first attempt reuses the identity-probe resolution (same
    // rationale as append: a stale base can never WIN the publish)
    transact(spark, table, "CommitLog.appendTxn", staged = Seq(seg),
        first = Some(preI)) { tx =>
      // a concurrent replica of the same query won the race with this
      // very batch: report skipped (Done drops our orphaned segment)
      if (lastTxn(spark, table, appId).exists(_ >= batchId)) Done(None)
      else {
        val cur = tx.cur
        gated = regateOnConstraintChange(spark, table, Seq(seg), gated, cur)
        val v = cur.fold(1L)(_.version + 1L)
        Publish(Snapshot(v, cur.fold(Seq.empty[String])(_.segments) :+ seg,
          cur.fold(0L)(_.version), "streaming-append",
          txnApp = Some(appId), txnBatch = Some(batchId),
          schema = cur.flatMap(_.schema), dv = cur.flatMap(_.dv)), Some(v))
      }
    }
  }

  /** Keyed MERGE (upsert-replace, the
    * [[graft.operators.IdempotentInsert.mergeIntoParquet]] semantics)
    * under optimistic concurrency: read a snapshot, merge `incoming`
    * against it, write the merged segment, try to commit the NEXT
    * version. If a concurrent writer committed first, the merge is
    * RECOMPUTED against the winner's snapshot — so neither writer's
    * rows are lost (the DB-sink analog: PG re-evaluates ON CONFLICT
    * against committed state, `SELECT.py:214-218`). Returns
    * (version, inserted, replaced) of the winning commit. */
  def merge(spark: SparkSession, table: String, incoming: DataFrame,
      keys: Seq[String]): (Long, Long, Long) = {
    val payloadCols = incoming.columns.filterNot(keys.contains).toSeq
    val incOne = if (payloadCols.isEmpty) incoming.dropDuplicates(keys)
      else graft.operators.Dedup.latestPerKey(incoming,
        partition = keys.map(col),
        order = Seq(struct(payloadCols.map(col): _*).desc))
    // a lost race recomputes the merge against the winner's state
    transact(spark, table, "CommitLog.merge") { tx =>
      val cur = tx.cur
      val (merged, exCount, replaced) = cur match {
        case None => (incOne, 0L, 0L)
        case Some(s) =>
          val ex = readLive(spark, s)
          SchemaAssert.require(incOne, ex.schema)
          val kept = ex.join(incOne.select(keys.map(col): _*), keys,
            "left_anti")
          val exCount = ex.count()
          val keptCount = kept.count()
          (kept.unionByName(incOne), exCount, exCount - keptCount)
      }
      val staged = tx.pin(merged)
      val ins = staged.count() - exCount
      val seg = tx.stage(writeSegment(spark, table, staged, cur))
      val v = cur.fold(1L)(_.version + 1L)
      Publish(Snapshot(v, Seq(seg), cur.fold(0L)(_.version), "merge",
        schema = cur.flatMap(_.schema)), (v, ins, replaced))
    }
  }


  // ---- the row-level rewrite core (overview at [[land]]) ----------------

  /** The (file, row-position) tag columns of [[taggedLive]]. */
  private val DvTags = Seq("__graft_dv_file", "__graft_dv_pos")

  /** The live rows of `snap`, or of its segments `only`, each tagged
    * with the (file, row-position) pair a deletion vector keys on
    * ([[DvTags]]). */
  private def taggedLive(spark: SparkSession, snap: Snapshot,
      only: Option[Seq[String]] = None): DataFrame = {
    val tagged = withDvPos(
      readSegments(spark, only.getOrElse(snap.segments), snap.schema))
    snap.dv.fold(tagged)(subtractDv(spark, tagged, _))
  }

  /** The uuid-named segment directories among `segments` that hold any
    * of the tagged `files`. */
  private def segmentsOf(segments: Seq[String],
      files: Seq[String]): Seq[String] =
    segments.filter { seg =>
      val uuid = seg.substring(seg.lastIndexOf('/') + 1)
      files.exists(_.contains(uuid))
    }

  /** A verb's SET clauses over the table's columns, checked once per
    * attempt before any scan or staging: unknown columns fail fast
    * naming them, and generated or ALWAYS-identity columns refuse
    * ([[refuseGeneratedSet]]). */
  private final class SetImage(spark: SparkSession, op: String,
      cur: Snapshot, sets: Seq[Map[String, org.apache.spark.sql.Column]]) {
    val schema: org.apache.spark.sql.types.StructType =
      readSegments(spark, cur.segments, cur.schema).schema
    val logical: Option[org.apache.spark.sql.types.StructType] =
      cur.schema.map(decodeSchema)
    private val unknown = sets.flatMap(_.keySet).toSet -- schema.fieldNames
    require(unknown.isEmpty,
      s"CommitLog.$op: SET names unknown column(s) " +
        s"${unknown.mkString(", ")} — table has " +
        schema.fieldNames.mkString(", "))
    refuseGeneratedSet(op, sets.flatMap(_.keys), logical)

    /** `df`'s table columns with `set` applied on the rows where `where`
      * holds (every row when None), each cast back to its declared type
      * so a widening expression cannot drift the schema. An updating
      * image recomputes generated columns over the POST-image (a SET
      * touching a generation source propagates, Delta's rule; the
      * identity on rows it leaves alone); an empty `set` passes rows
      * through byte-identical. */
    def apply(df: DataFrame, set: Map[String, org.apache.spark.sql.Column],
        where: Option[org.apache.spark.sql.Column] = None): DataFrame = {
      val sel = df.select(schema.fields.toSeq.map { f =>
        set.get(f.name) match {
          case Some(e) =>
            val v = e.cast(f.dataType)
            where.fold(v)(w => when(w, v).otherwise(col(f.name))).as(f.name)
          case None => col(f.name)
        }
      }: _*)
      if (set.nonEmpty) recomputeGenerated(sel, logical) else sel
    }
  }

  /** CDC records store PHYSICAL column names on a mapped table (the
    * time-invariant names, so one current mapping serves the whole
    * feed); identity mappings make this the identity function. */
  private def changePhysical(cur: Snapshot)(df: DataFrame): DataFrame =
    cur.schema.map(decodeSchema).filterNot(isIdentityMapping)
      .fold(df)(toPhysicalFrame(df, _))

  /** The CDC vocabulary every DML commit records under. */
  private val ChangeTypes =
    Seq("delete", "insert", "update_preimage", "update_postimage")

  /** Stage the attempt's CDC record under `_changes/` and return its
    * directory with the per-`_change_type` row counts, observed by the
    * write itself ([[observedWrite]]). Absent types read 0 (sum over an
    * empty frame observes NULL). */
  private def stageChanges(tx: Tx, table: String,
      changes: DataFrame): (String, Map[String, Long]) = {
    val dir = tx.stage(s"$table/_changes/${java.util.UUID.randomUUID()}")
    val got = observedWrite(changes.transform(changePhysical(tx.existing)),
      dir, ChangeTypes.map(t =>
        sum(when(col("_change_type") === t, 1L)).as(t)))
    (dir, ChangeTypes.map(t => t -> (got.get(t) match {
      case Some(n: java.lang.Number) => n.longValue
      case _ => 0L
    })).toMap)
  }

  /** An update's CDC rows: the `pre` and `post` images of the same rows
    * (Delta's CDC row pair). */
  private def imagePair(pre: DataFrame, post: DataFrame): DataFrame =
    pre.withColumn("_change_type", lit("update_preimage"))
      .unionByName(post.withColumn("_change_type", lit("update_postimage")))

  /** Where a row-level commit's rows land ([[land]]). */
  private sealed trait Landing

  /** Copy-on-write: `rows` (None: no rows) replace the `touched`
    * segments. `staged` segments, written by the verb before its
    * attempt, join them — not bucket-split, so they void a bucketed
    * layout. */
  private final case class Rewrite(touched: Seq[String],
      rows: Option[DataFrame], staged: Seq[String] = Nil) extends Landing

  /** Merge-on-read: the `n` tagged `matched` rows join the deletion
    * vector, and `post`, their updated copies if any, appends as one
    * segment. Past `maxDvRows` vector rows, copy-on-write of exactly
    * the segments the matched rows sit in. */
  private final case class Vectored(matched: DataFrame, n: Long,
      post: Option[DataFrame], maxDvRows: Long) extends Landing

  /** THE ROW-LEVEL REWRITE CORE every commit-log DML verb runs on:
    * [[delete]], [[overwriteWhere]], [[deleteVectored]] /
    * [[deleteVectoredKeys]], [[updateVectored]], [[update]] and
    * [[mergeIntoClauses]]. A verb keeps only its matcher (a predicate, a
    * key set, MERGE's clauses and probe, a replaceWhere slice) and its
    * inserts and identity marks; the core owns, once each:
    *  - the tagged live read ([[taggedLive]]): the segments minus the
    *    deletion vector, every row tagged with its (file, position);
    *  - touched files → segment directories ([[segmentsOf]]);
    *  - the SET image and its checks ([[SetImage]]);
    *  - the CDC record ([[stageChanges]]), whose observed per-type counts
    *    are the verb's matched counts and its no-op test;
    *  - the apply rule and the snapshot to publish (this method), decided
    *    after the CDC write. A vectored verb whose prior deletion-vector
    *    rows plus matched rows are at most `maxDvRows` records the
    *    matches in a new vector (merge-on-read, O(matched rows) written);
    *    every other commit rewrites exactly the touched segments
    *    (copy-on-write) on ONE path, which keeps a bucketed layout.
    * Nothing here nests a transaction: each verb is one [[transact]]
    * attempt.
    *
    * [[land]] lands an attempt's rows and returns the snapshot it
    * publishes: op `op` (`<op>_dv` on the vector path) with CDC record
    * `changes`. */
  private def land(spark: SparkSession, tx: Tx, table: String, op: String,
      changes: String, landing: Landing): Snapshot = {
    val cur = tx.existing
    landing match {
      case Vectored(matched, n, post, maxDvRows)
          if cur.dv.fold(0L)(dvRows(spark, _)) + n <= maxDvRows =>
        val added = post.toSeq.flatMap(stageRows(spark, tx, table, _))
        val pairs = matched.select(col(DvTags(0)).as("_dv_file"),
          col(DvTags(1)).as("_dv_pos"))
        val dvDir = tx.stage(s"$table/_dv/${java.util.UUID.randomUUID()}")
        // repartition, NOT coalesce: coalesce(1) would collapse the
        // upstream predicate scan into one task; the shuffle moves
        // only the matched positions (bounded by maxDvRows)
        cur.dv.fold(pairs)(d =>
          ParquetFooters.read(spark, Seq(d)).unionByName(pairs))
          .repartition(1)
          .write.mode(SaveMode.ErrorIfExists).parquet(dvDir)
        Snapshot(cur.version + 1L, cur.segments ++ added, cur.version,
          s"${op}_dv", changes = Some(changes), schema = cur.schema,
          dv = Some(dvDir))
      case Vectored(matched, _, post, _) =>
        // Past the bound the vector's merge-on-read economics are gone
        // (it is a relation every later scan subtracts): rewrite the
        // touched segments instead of refusing — same final state, same
        // CDC record. The matched rows' tags name the touched files
        // (collected once, bounded by the table's file count) and are
        // one anti-join away from the kept rows. The untouched segments
        // may still owe rows to the current vector, which is carried;
        // its entries for rewritten-away files match nothing.
        val touched = segmentsOf(cur.segments, matched.select(DvTags(0))
          .distinct().collect().map(_.getString(0)).toSeq)
        val kept = taggedLive(spark, cur, Some(touched))
          .join(matched.select(DvTags.map(col): _*), DvTags, "left_anti")
          .drop(DvTags: _*)
        land(spark, tx, table, op, changes,
          Rewrite(touched, Some(post.fold(kept)(kept.unionByName(_)))))
      case Rewrite(touched, rows, staged) =>
        // a bucketed layout (SPJ spec) survives the DML: the rows
        // re-land bucket-split (a SET on a bucket KEY re-hashes —
        // purity per segment is the invariant) and the commit carries
        // the updated spec
        val bucketed = rows.filter(_ => staged.isEmpty).flatMap(
          CommitLogStats.stageDmlBucketed(spark, table, cur, touched.toSet, _))
        // a segment set rewritten to no rows gets NO empty replacement
        // segment (a zero-row parquet dir has no footer to infer from)
        val added = bucketed.fold(
          rows.toSeq.flatMap(stageRows(spark, tx, table, _)))(b =>
          tx.stage(b._1)) ++ staged
        val live = cur.segments.filterNot(touched.toSet) ++ added
        Snapshot(cur.version + 1L, live, cur.version, op,
          changes = Some(changes),
          // a schema-less table left with no segment records the schema
          // it read, so [[read]] serves an empty frame of that shape
          schema = cur.schema.orElse(rows.filter(_ => live.isEmpty)
            .map(r => encodeSchema(r.schema))),
          dv = cur.dv, bucket = bucketed.map(_._2))
    }
  }

  /** The match flag column of [[flagged]] and [[touchedSegments]]. */
  private val Matched = "__graft_matched"

  /** Segment directories that contain at least one LIVE row matching
    * `matched`: ONE predicate-pushed scan of the whole table collecting
    * only the distinct FILE paths with a match (bounded: one row per
    * touched file — Delta's find-touched-files step, driver-held there
    * too). Untouched segments survive a DML commit byte-identical.
    * `among` restricts the probe to a sidecar-pruned candidate list
    * (replaceWhere's partition-bounded rewrite) — the untouched bulk is
    * then never even probed. Without it a LONE segment counts as
    * touched unprobed: the probe could not narrow its rewrite, and the
    * caller's counted CDC write tells whether a row matched. */
  private def touchedSegments(spark: SparkSession, cur: Snapshot,
      matched: org.apache.spark.sql.Column,
      among: Option[Seq[String]] = None): Seq[String] =
    among.getOrElse(cur.segments) match {
      case candidates if candidates.isEmpty ||
          (among.isEmpty && candidates.size == 1) => candidates
      case candidates =>
        // a deletion-vector-dead row matching the predicate must not
        // mark its segment touched: it would force a pointless rewrite
        // and a spurious zero-row commit. The predicate evaluates as a
        // PROJECTED boolean, not a filter condition: a subquery
        // predicate under NOT in filter position plans as a null-aware
        // anti join (BroadcastNestedLoopJoin — the 150k×15k `WHERE NOT
        // EXISTS` frame measured 34 s); in a projection it plans as a
        // hash ExistenceJoin
        segmentsOf(candidates, taggedLive(spark, cur, Some(candidates))
          .withColumn(Matched, matched).filter(col(Matched))
          .select(col(DvTags(0))).distinct()
          .collect().map(_.getString(0)).toSeq)
    }

  /** The `touched` segments' live rows with `matched` materialized ONCE
    * as the projected boolean [[Matched]]: the predicate verbs' CDC
    * record, kept rows and rewrite all filter it, in either polarity —
    * a negated subquery predicate (`WHERE id IN (SELECT …)` and the
    * correlated rewrites) nested under NOT plans as a null-aware anti
    * join Spark can only run as a BroadcastNestedLoopJoin, in a
    * projection as a hash ExistenceJoin. PINNED when expensive to
    * recompute (subquery predicates or SET values re-run their joins
    * per branch); plain predicates skip the pin — a pushed-down parquet
    * re-scan is cheaper than building the columnar cache (measured,
    * q163). */
  private def flagged(spark: SparkSession, tx: Tx, touched: Seq[String],
      matched: org.apache.spark.sql.Column): DataFrame = {
    val rows = readLive(spark, tx.existing, Some(touched))
      .withColumn(Matched, matched)
    if (expensiveToRecompute(rows)) tx.pin(rows) else rows
  }

  /** True when `df` reads rows the session already holds in memory — a
    * local relation or a checkpointed RDD, under deterministic
    * projections and filters — so re-reading it is as cheap as reading
    * a cache of it, and as stable. */
  private def inMemoryRows(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def leaf(p: LogicalPlan): Boolean = p match {
      case _: LocalRelation => true
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.isCheckpointed
      case Project(exprs, child) => exprs.forall(_.deterministic) && leaf(child)
      case Filter(cond, child) => cond.deterministic && leaf(child)
      case _ => false
    }
    leaf(df.queryExecution.optimizedPlan)
  }

  /** True when recomputing `df` involves more than a (pushdown-
    * friendly) scan+filter: a join anywhere in the plan, or a
    * subquery expression. Gates the update/delete rewrite-frame pin
    * (guide §5: cache only what is expensive to recompute) — for a
    * plain column-vs-literal predicate, re-scanning the touched
    * parquet twice beats building an in-memory columnar cache
    * (measured on q163: pinning unconditionally cost ~18%), while a
    * subquery predicate re-plans an existence join per branch and
    * pinning wins. */
  private def expensiveToRecompute(df: DataFrame): Boolean = {
    val p = df.queryExecution.optimizedPlan
    p.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case n => n.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
          .PlanExpression[_]]))
    }
  }

  /** Copy-on-write DELETE (SQL semantics: a NULL predicate KEEPS the
    * row — only `predicate = true` deletes): rewrite ONLY the segments
    * that contain matching rows, leave every other segment in place,
    * and commit the swap as one new version. The deleted rows are
    * recorded under `_changes/` (stamped `_change_type = 'delete'`)
    * and referenced from the manifest, so [[changeFeed]] can replay
    * the deletion — the public Delta CDC design; a rewrite's delta is
    * not derivable from segment diffs. OCC like [[merge]]: losing the
    * version race discards the staged segment + change record and
    * recomputes against the winner's state. Returns
    * (committedVersion, rowsDeleted); a predicate matching nothing is
    * a no-op that commits NO version (returns the current one).
    *
    * 100 TB posture: one pushed-down scan finds touched files; only
    * touched segments are read again and rewritten; the untouched
    * bulk of the table is never opened. */
  def delete(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column): (Long, Long) =
    transact(spark, table, "CommitLog.delete") { tx =>
      val cur = tx.existing
      val matched = coalesce(predicate, lit(false))
      val touched = touchedSegments(spark, cur, matched)
      if (touched.isEmpty) Done((cur.version, 0L)) else {
        // DV-applied read of the touched subset: an already-DV-deleted
        // row can neither re-report in CDC nor resurrect in the rewrite
        val rows = flagged(spark, tx, touched, matched)
        val (changes, n) = stageChanges(tx, table,
          rows.filter(col(Matched)).drop(Matched)
            .withColumn("_change_type", lit("delete")))
        if (n("delete") == 0L) Done((cur.version, 0L))
        else Publish(land(spark, tx, table, "delete", changes,
          Rewrite(touched, Some(rows.filter(!col(Matched)).drop(Matched)))),
          (cur.version + 1L, n("delete")))
      }
    }

  /** SELECTIVE OVERWRITE — Delta's `replaceWhere` / filtered INSERT
    * OVERWRITE: atomically replace EXACTLY the rows matching
    * `predicate` with `df`, as ONE `op = "replace_where"` commit.
    * The idiomatic lakehouse form of a date-fenced incremental reload
    * (the reference's pipelines delete a date slice then re-append it
    * — SELECT.py:56,97; done that way here it would be TWO commits
    * with a missing-slice window a crash can strand): re-running the
    * same slice reload is idempotent — same predicate, same
    * replacement rows, same final state.
    *
    * Rules (Delta's):
    *  - every INCOMING row must satisfy the predicate — a row outside
    *    the slice would silently widen the overwrite; refused before
    *    any manifest names the data;
    *  - only segments that can hold matching rows rewrite
    *    (copy-on-write; the candidate list is SIDECAR-PRUNED first,
    *    so on a partitioned/sliced layout the probe never even opens
    *    the untouched partitions);
    *  - the incoming rows take the FULL append gate (defaults,
    *    generated columns, CHECK constraints, NOT NULL, identity
    *    rules + mark auto-SYNC) and land partition-split on a
    *    PARTITIONED BY table (born prunable);
    *  - CDC: replaced rows record as 'delete', new rows as 'insert',
    *    in the commit's change directory — [[changeFeed]] and the
    *    streaming source replay it like any DML.
    *
    * Returns (version, rowsDeleted, rowsInserted); a no-op (predicate
    * matches nothing AND `df` is empty) commits NO version. A
    * bucketed (SPJ) layout LAPSES across a replaceWhere that writes
    * rows — unlike delete/update/merge, the replacement stages before
    * the OCC loop resolves the spec; re-run the bucketed OPTIMIZE
    * after a slice reload if the join layout matters. */
  def overwriteWhere(spark: SparkSession, table: String, df: DataFrame,
      predicate: org.apache.spark.sql.Column): (Long, Long, Long) = {
    val pre = snapshot(spark, table).getOrElse(
      throw new IllegalStateException(
        s"CommitLog.overwriteWhere: nothing committed at $table"))
    val logical = pre.schema.map(decodeSchema)
    // defaults + generated columns compute BEFORE the predicate
    // check: a slice predicate on a generated column (the common
    // PARTITIONED BY date-part shape) must see the computed values
    val pinned = computeGenerated(computeDefaults(df, logical), logical)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val matched = coalesce(predicate, lit(false))
      // Delta's replaceWhere rule: all-or-nothing on the slice
      val outside = pinned.filter(!matched).limit(1).collect()
      if (outside.nonEmpty) throw new IllegalArgumentException(
        s"CommitLog.overwriteWhere: incoming row(s) do not satisfy " +
          s"the predicate (e.g. ${outside(0)}) — a replaceWhere may " +
          "only write rows INSIDE the slice it replaces; widen the " +
          "predicate or filter the input")
      val nNew = pinned.count()
      val pCols = partitionColumns(spark, table).getOrElse(Seq.empty)
      // stage the replacement ONCE (content is snapshot-independent);
      // a lost race re-publishes the same staged bytes
      val (newSegs, gated0, idExtents) =
        if (nNew == 0L)
          (Seq.empty[String], constraintsOf(spark, table, Some(pre)),
            Seq.empty[(org.apache.spark.sql.types.StructField,
              Option[Long], Option[Long])])
        else if (pCols.nonEmpty)
          CommitLogStats.stagePartitionedGated(spark, table, pinned,
            pCols)
        else {
          gateStagedOmissions("overwriteWhere", table, pinned,
            Some(pre))
          val ext = stagedIdentityExtents("overwriteWhere", table,
            pinned, Some(pre))
          val (seg, g) = writeSegmentGated(spark, table, pinned, Some(pre))
          (Seq(seg), g, ext)
        }
      var gated = gated0
      transact(spark, table, "CommitLog.overwriteWhere",
          staged = newSegs) { tx =>
        val cur = tx.existing
        gated = regateOnConstraintChange(spark, table, newSegs, gated,
          Some(cur))
        // sidecar tier first: prune the candidate segment list by the
        // predicate's range/point conjuncts before any probe I/O —
        // the partition-bounded rewrite on partitioned/sliced layouts
        val candidates =
          if (cur.segments.isEmpty) Seq.empty[String]
          else {
            val probe = readSegments(spark, cur.segments, cur.schema)
            val conds = probe.filter(matched).queryExecution.analyzed
              .collect {
                case f: org.apache.spark.sql.catalyst.plans.logical
                  .Filter => f.condition
              }
            val names = conds.flatMap(_.collect {
              case a: org.apache.spark.sql.catalyst.expressions
                .AttributeReference => a.name
            }).distinct
            CommitLogSkipping.keptSegments(spark, cur.segments,
              conds.toIndexedSeq,
              CommitLogStats.skippingKeys(cur.schema, names))
          }
        val touched = touchedSegments(spark, cur, matched,
          Some(candidates))
        if (touched.isEmpty && newSegs.isEmpty)
          Done((cur.version, 0L, 0L))
        else {
          val touchedDf =
            if (touched.isEmpty) None
            else Some(readLive(spark, cur, Some(touched)))
          // CDC record: replaced rows as 'delete', new rows as 'insert'
          // — both projected onto the table's column set (an input
          // legally omitting a nullable column serves typed NULL)
          val outCols: Seq[org.apache.spark.sql.types.StructField] =
            logical.map(_.fields.toSeq).getOrElse(
              touchedDf.map(_.schema.fields.toSeq)
                .getOrElse(pinned.schema.fields.toSeq))
          def project(d: DataFrame): DataFrame =
            d.select(outCols.map(f =>
              (if (d.columns.exists(_.equalsIgnoreCase(f.name)))
                col(s"`${f.name}`").cast(f.dataType)
              else lit(null).cast(f.dataType)).as(f.name)): _*)
          val delRows = touchedDf.map(t => project(t.filter(matched))
              .withColumn("_change_type", lit("delete")))
          val insRows =
            if (nNew == 0L) None
            else Some(project(pinned)
              .withColumn("_change_type", lit("insert")))
          val (changes, n) = stageChanges(tx, table,
            (delRows ++ insRows).reduce(_.unionByName(_)))
          // copy-on-write: survivors of the touched segments re-land
          Publish(land(spark, tx, table, "replace_where", changes,
            Rewrite(touched, touchedDf.map(_.filter(!matched)), newSegs))
            .copy(identity = if (idExtents.isEmpty) None
              else Some(encodeIdentityMarks(syncMarks(
                decodeIdentity(cur.identity), idExtents)))),
            (cur.version + 1L, n("delete"), n("insert")))
        }
      }
    } finally pinned.unpersist(): Unit
  }

  /** MERGE-ON-READ delete (the public Delta/Iceberg deletion-vector
    * design): record the matching rows' (file, row-position) pairs in
    * a deletion-vector sidecar and commit the SAME segment list with
    * the grown DV — the commit writes O(deleted rows) and rewrites
    * ZERO segments, versus [[delete]]'s copy-on-write rewrite of
    * every touched segment. Readers subtract the DV (broadcast
    * anti-join, [[readLive]]); the next OPTIMIZE / compact
    * materializes the subtraction and clears the field.
    *
    * Same SQL semantics, CDC recording, OCC retry, and no-op
    * contract as [[delete]]; already-DV-deleted rows can neither
    * re-delete nor double-report in the change feed. The DV is a
    * read-side relation, so past `maxDvRows` total the commit
    * AUTO-FALLS-BACK to [[delete]]'s copy-on-write path over exactly
    * the touched segments — same final state, same CDC record, one
    * 'delete' commit, a bucketed layout kept — instead of refusing
    * (point-delete economics are gone there anyway; the caller should
    * not have to know to switch APIs). */
  def deleteVectored(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column,
      maxDvRows: Long = 10000000L): (Long, Long) =
    deleteVectoredBy(spark, table,
      _.filter(coalesce(predicate, lit(false))), maxDvRows)

  /** [[deleteVectored]] with a KEY-SET matcher: delete the rows whose
    * `keyCols` tuple appears in `keys` — the shape curation deletes
    * take (a computed loser set), executed as a semi-join so the key
    * set never collects to the driver (an `isin` predicate would).
    * Broadcast vs shuffle is AQE's choice. Duplicate keys in `keys`
    * are harmless (semi-join semantics); rows already in the vector
    * cannot re-match. */
  def deleteVectoredKeys(spark: SparkSession, table: String,
      keys: DataFrame, keyCols: Seq[String],
      maxDvRows: Long = 10000000L): (Long, Long) = {
    require(keyCols.nonEmpty, "CommitLog.deleteVectoredKeys: no keys")
    keyCols.foreach(k => require(keys.columns.contains(k),
      s"CommitLog.deleteVectoredKeys: key column '$k' absent from " +
        s"the key frame (${keys.columns.mkString(", ")})"))
    deleteVectoredBy(spark, table,
      _.join(keys.select(keyCols.map(col): _*), keyCols.toSeq,
        "left_semi"),
      maxDvRows)
  }

  private def deleteVectoredBy(spark: SparkSession, table: String,
      matcher: DataFrame => DataFrame,
      maxDvRows: Long): (Long, Long) =
    transact(spark, table, "CommitLog.deleteVectored") { tx =>
      val cur = tx.existing
      if (cur.segments.isEmpty) Done((cur.version, 0L)) else {
        val live = taggedLive(spark, cur)
        // one predicate-pushed scan, persisted so the CDC record and
        // the DV positions are written from the SAME row set (a
        // nondeterministic predicate cannot let them diverge); the
        // select restores the column order a USING join moves
        val matches = tx.pin(matcher(live)
          .select(live.columns.toSeq.map(col): _*))
        val (changes, n) = stageChanges(tx, table, matches
          .drop(DvTags: _*).withColumn("_change_type", lit("delete")))
        if (n("delete") == 0L) Done((cur.version, 0L))
        else Publish(land(spark, tx, table, "delete", changes,
          Vectored(matches, n("delete"), None, maxDvRows)),
          (cur.version + 1L, n("delete")))
      }
    }

  /** MERGE-ON-READ update: the matched rows' old positions join the
    * deletion vector and their UPDATED copies land as one appended
    * segment — a single `update_dv` commit writing O(matched rows),
    * versus [[update]]'s copy-on-write rewrite of every touched
    * segment (whose cost is the segment size, not the match count).
    * Same SET-clause semantics (cast back to declared types, unknown
    * columns fail fast), CDC pre/post recording, OCC retry, no-op
    * and `maxDvRows` contracts as the vectored delete — past the bound
    * it is ONE 'update' commit on the copy-on-write path; OPTIMIZE
    * materializes as usual. */
  def updateVectored(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      maxDvRows: Long = 10000000L): (Long, Long) = {
    require(set.nonEmpty, "CommitLog.updateVectored: empty SET clause")
    transact(spark, table, "CommitLog.updateVectored") { tx =>
      val cur = tx.existing
      if (cur.segments.isEmpty) Done((cur.version, 0L)) else {
        val image = new SetImage(spark, "updateVectored", cur, Seq(set))
        val matches = tx.pin(taggedLive(spark, cur)
          .filter(coalesce(predicate, lit(false))))
        val post = image(matches, set)
        val (changes, n) = stageChanges(tx, table,
          imagePair(matches.drop(DvTags: _*), post))
        if (n("update_preimage") == 0L) Done((cur.version, 0L))
        else Publish(land(spark, tx, table, "update", changes,
          Vectored(matches, n("update_preimage"), Some(post), maxDvRows)),
          (cur.version + 1L, n("update_preimage")))
      }
    }
  }

  /** Copy-on-write UPDATE: for rows matching `predicate`, replace each
    * column in `set` (cast back to the column's declared type, so a
    * widening expression cannot silently drift the schema); all other
    * rows and all untouched segments survive byte-identical. Records
    * BOTH images under `_changes/` (`update_preimage` /
    * `update_postimage` — Delta's CDC row pair) referenced from the
    * manifest for [[changeFeed]]. Same OCC + no-op + return contract
    * as [[delete]]; unknown `set` columns fail fast naming the column. */
  def update(spark: SparkSession, table: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): (Long, Long) = {
    require(set.nonEmpty, "CommitLog.update: empty SET clause")
    transact(spark, table, "CommitLog.update") { tx =>
      val cur = tx.existing
      val image = new SetImage(spark, "update", cur, Seq(set))
      val matched = coalesce(predicate, lit(false))
      val touched = touchedSegments(spark, cur, matched)
      if (touched.isEmpty) Done((cur.version, 0L)) else {
        val rows = flagged(spark, tx, touched, matched)
        val hit = rows.filter(col(Matched))
        val (changes, n) = stageChanges(tx, table,
          imagePair(hit.drop(Matched), image(hit, set)))
        if (n("update_preimage") == 0L) Done((cur.version, 0L))
        else Publish(land(spark, tx, table, "update", changes,
          Rewrite(touched, Some(image(rows, set, Some(col(Matched)))))),
          (cur.version + 1L, n("update_preimage")))
      }
    }
  }

  /** APPEND guarded by CHECK constraints (Delta's table constraints,
    * write-side enforced): every predicate must hold on EVERY incoming
    * row or the commit refuses atomically — the segment is written
    * first (cheap to validate from, and a refusal leaves only
    * unreferenced garbage for [[vacuum]]), validated with ONE
    * aggregate, and only then published. A NULL predicate result
    * counts as a violation (SQL CHECK accepts only TRUE — unknown is
    * not proof). Returns the committed version; raises with the first
    * violating constraint's name and its violation count. */
  def appendChecked(spark: SparkSession, table: String, df: DataFrame,
      constraints: Map[String, org.apache.spark.sql.Column]): Long = {
    require(constraints.nonEmpty, "appendChecked: no constraints — " +
      "use append")
    val seg = writeSegment(spark, table, df)
    val staged = spark.read.parquet(seg)
    val aggs = constraints.toSeq.sortBy(_._1).map { case (name, pred) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(name)
    }
    val row = staged.agg(aggs.head, aggs.tail: _*).collect()(0)
    constraints.keys.toSeq.sorted.foreach { name =>
      val bad = Option(row.getAs[java.lang.Long](name))
        .map(_.longValue).getOrElse(0L)
      if (bad > 0L) {
        fs(spark, table).delete(new org.apache.hadoop.fs.Path(seg), true)
        throw new IllegalStateException(
          s"CommitLog.appendChecked: constraint '$name' violated by " +
            s"$bad row(s) — nothing committed")
      }
    }
    transact(spark, table, "CommitLog.appendChecked",
        staged = Seq(seg)) { tx =>
      val cur = tx.cur
      val v = cur.fold(1L)(_.version + 1L)
      Publish(Snapshot(v, cur.fold(Seq.empty[String])(_.segments) :+ seg,
        cur.fold(0L)(_.version), "append",
        schema = cur.flatMap(_.schema), dv = cur.flatMap(_.dv)), v)
    }
  }

  /** SHALLOW CLONE (Delta/Iceberg snapshot sharing): a NEW table whose
    * version 1 references the SOURCE's segments at `asOfVersion`
    * (default: latest) — zero data copied, one manifest create.
    * Segments are immutable, so subsequent commits to either table
    * never affect the other; the clone's first rewrite (compact, DML)
    * naturally materializes its own segments. Caveat (Delta's too):
    * a VACUUM of the source can delete segments the clone still
    * references — retain source history across the clone's lifetime,
    * or compact the clone to self-owned segments first. */
  def cloneTable(spark: SparkSession, source: String, target: String,
      asOfVersion: Option[Long] = None,
      shallow: Boolean = true): Long = {
    val snap = snapshot(spark, source, asOfVersion).getOrElse(
      throw new IllegalStateException(
        s"CommitLog.cloneTable: no committed version at $source" +
          asOfVersion.fold("")(v => s" (asOf=$v)")))
    require(currentVersion(spark, target).isEmpty,
      s"CommitLog.cloneTable: target $target already exists")
    // deep mode (Delta's CLONE ... DEEP): segment dirs (with their
    // sidecars) byte-copy under the target on EXECUTORS and the DV
    // rewrites with remapped file paths — fully source-independent
    // afterwards; see [[CommitLogClone.deepCopy]] for the shape
    val (segs, dv) =
      if (shallow) (snap.segments, snap.dv)
      else CommitLogClone.deepCopy(spark, snap, target)
    // invariants are table metadata and the clone's content satisfies
    // them by construction — they ride the clone's v1 commit itself
    // (Delta clones carry properties); the clone can UNSET
    // independently afterwards. Sourced effective set: versioned
    // field when present, legacy side file otherwise. Partition spec
    // and column-mapping marker carry too (v1 has no parent for
    // tryPublish to inherit them from).
    val out = Snapshot(1L, segs, 0L,
      if (shallow) "clone" else "clone_deep",
      schema = snap.schema, dv = dv,
      partitionBy = snap.partitionBy
        .orElse(partitionColumns(spark, source).map(_.mkString(","))),
      mapping = snap.mapping,
      // identity high-water marks carry: allocation on the clone
      // continues where the source's mark stood (ids stay unique
      // within the clone's own lineage)
      identity = snap.identity,
      constraints = Some(encodeConstraints(
        constraintsOf(spark, source, Some(snap)))))
    if (!tryPublish(spark, target, out)) throw new IllegalStateException(
      s"CommitLog.cloneTable: target $target was created concurrently")
    1L
  }

  /** CONVERT an existing plain-parquet directory (or single file)
    * into a commit-log table ZERO-COPY — Delta's CONVERT TO DELTA,
    * adapted to external-segment references: the new table's v1
    * manifest names the source in place as ONE segment (the same
    * capability shallow CLONE exercises), so adoption costs one
    * schema inference plus one manifest create — never a rewrite, at
    * any source size. The source files are not moved or modified,
    * with one opt-in exception: a non-empty `statsCols` backfills a
    * `_stats.json` sidecar INSIDE a directory source so the converted
    * table is born prunable (additive — plain-parquet readers ignore
    * underscore files, the `_SUCCESS` convention).
    *
    * After conversion every lakehouse verb works: DML rewrites land
    * under the TABLE's root and drop the external reference; the
    * source is never a vacuum candidate (vacuum sweeps only the
    * table's own `data/`). Caveat, same as shallow clones: deleting
    * the source afterwards breaks versions that still reference it —
    * `fsck` flags them (`segment_missing`). Run
    * `CALL system.optimize_compact` to rewrite the data under the
    * table root and cut the tie.
    *
    * Hive-partitioned sources (`key=value/` subtrees) convert as-is:
    * the whole tree is the one referenced segment, and Spark's
    * partition discovery recovers the partition columns at every
    * read (they ride the inferred schema the manifest records). DML
    * granularity is then the whole tree until the first rewrite —
    * acceptable for adoption, OPTIMIZE re-segments. */
  def convertParquet(spark: SparkSession, source: String,
      table: String, statsCols: Seq[String] = Seq.empty): Long = {
    require(currentVersion(spark, table).isEmpty,
      s"CommitLog.convertParquet: $table already has commits")
    val norm = source.stripSuffix("/")
    // nesting guard on FULLY-QUALIFIED paths, not raw strings: a
    // scheme-qualified or non-normalized alias of the same location
    // (file:/x vs /x, doubled separators) would escape a raw prefix
    // check and the manifest tree and data tree would shadow each
    // other anyway
    def qualified(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(hp).toString.stripSuffix("/")
    }
    val (qs, qt) = (qualified(norm), qualified(table))
    require(!qs.startsWith(qt + "/") && qs != qt &&
      !qt.startsWith(qs + "/"),
      s"CommitLog.convertParquet: source $source and table $table " +
        "must not nest — the manifest tree and the data tree would " +
        "shadow each other")
    val schema = spark.read.parquet(norm).schema
    if (statsCols.nonEmpty) {
      val p = new org.apache.hadoop.fs.Path(norm)
      require(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).isDirectory,
        "CommitLog.convertParquet: the stats backfill writes a " +
          "sidecar INSIDE the source — directory sources only")
      CommitLogStats.writeSidecar(spark, norm, statsCols)
    }
    val snap = Snapshot(1L, Seq(norm), 0L, "convert",
      schema = Some(encodeSchema(schema)))
    if (!tryPublish(spark, table, snap, None))
      throw new IllegalStateException(
        s"CommitLog.convertParquet: $table was created concurrently")
    1L
  }

  /** ALTER COLUMN … SET/DROP DEFAULT — a METADATA-ONLY commit (op
    * `set_default`) updating the field's `CURRENT_DEFAULT`. Safe
    * where ADD COLUMN DEFAULT is not: defaults are write-time-only
    * here, so changing one never re-interprets existing rows — it
    * governs FUTURE omissions exclusively (Spark's own
    * CURRENT_DEFAULT vs EXISTS_DEFAULT split). The default must be a
    * constant expression (no column references — there is no row to
    * read at fill time) that casts to the column's type; both are
    * validated before the commit. Identity and generated columns
    * refuse (their omission semantics are allocation/computation,
    * not a default). */
  def setColumnDefault(spark: SparkSession, table: String,
      column: String, default: Option[String]): Long =
    transact(spark, table, "CommitLog.setColumnDefault") { tx =>
      val cur = tx.existing
      val base = cur.schema.map(decodeSchema).getOrElse(
        throw new IllegalStateException(
          s"CommitLog.setColumnDefault: $table has no recorded " +
            "schema — only catalog/evolved tables carry one"))
      val f = base.fields.find(_.name.equalsIgnoreCase(column))
        .getOrElse(throw new IllegalArgumentException(
          s"CommitLog.setColumnDefault: no column '$column' at " +
            s"$table — have ${base.fieldNames.mkString(", ")}"))
      require(!f.metadata.contains(IdentityStartKey),
        s"CommitLog.setColumnDefault: '$column' is an IDENTITY " +
          "column — omissions allocate, a default cannot apply")
      require(!f.metadata.contains(GeneratedKey),
        s"CommitLog.setColumnDefault: '$column' is GENERATED ALWAYS " +
          "AS — omissions compute, a default cannot apply")
      default.foreach { sql =>
        val refs = org.apache.spark.sql.catalyst.parser
          .CatalystSqlParser.parseExpression(sql).collect {
            case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => u.name
          }
        require(refs.isEmpty,
          s"CommitLog.setColumnDefault: default ($sql) references " +
            s"column(s) ${refs.mkString(", ")} — a default fills " +
            "ABSENT values, there is no row to read; constants only")
        // evaluate once so an unknown function or an uncastable
        // value fails the DDL, not the first INSERT
        spark.range(1).select(expr(sql).cast(f.dataType)).collect()
        : Unit
      }
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      default match {
        case Some(sql) => mb.putString("CURRENT_DEFAULT", sql): Unit
        case None => mb.remove("CURRENT_DEFAULT"): Unit
      }
      val updated = org.apache.spark.sql.types.StructType(
        base.fields.map(x =>
          if (x.name.equalsIgnoreCase(column))
            x.copy(metadata = mb.build())
          else x))
      Publish(Snapshot(cur.version + 1L, cur.segments,
        cur.version, "set_default",
        schema = Some(encodeSchema(updated)), dv = cur.dv),
        cur.version + 1L)
    }

  /** RESTORE (Delta RESTORE TABLE ... TO VERSION): roll the table
    * back to `toVersion`'s content as a NEW commit referencing that
    * version's segments — history is preserved (the bad commits stay
    * readable), nothing is rewritten, and the restore itself is one
    * manifest create under the usual OCC. The restored version's
    * schema rides along (restoring across an evolution restores the
    * old column set). Raises when `toVersion` is vacuumed. */
  def restore(spark: SparkSession, table: String,
      toVersion: Long): Long = {
    val target = snapshot(spark, table, Some(toVersion)).getOrElse(
      throw new IllegalStateException(
        s"CommitLog.restore: version $toVersion of $table is vacuumed " +
          "or never existed"))
    // Constraints are VERSIONED metadata: the restore commit serves
    // the TARGET version's own set below, so rules referencing
    // columns the target lacks simply roll back with the schema —
    // no stranding possible. The refusal survives ONLY for the
    // legacy side-file era (current chain carries no constraints
    // field): those rules are unversioned, so restoring across an
    // evolution they reference would strand the table exactly as
    // before.
    val curHasVersioned =
      snapshot(spark, table).exists(_.constraints.isDefined)
    val cons =
      if (curHasVersioned) Map.empty[String, String]
      else legacyConstraintsFile(spark, table)
    if (cons.nonEmpty) {
      val restoredCols = target.schema.map(decodeSchema)
        .map(_.fieldNames.map(_.toLowerCase).toSet)
      restoredCols.foreach { cols =>
        cons.foreach { case (n, e) =>
          val refs = org.apache.spark.sql.catalyst.parser
            .CatalystSqlParser.parseExpression(e).collect {
              case u: org.apache.spark.sql.catalyst.analysis
                  .UnresolvedAttribute => u.name
            }
          val gone = refs.filterNot(r => cols(r.toLowerCase))
          if (gone.nonEmpty) throw new IllegalStateException(
            s"CommitLog.restore: CHECK constraint '$n' ($e) " +
              s"references column(s) ${gone.mkString(", ")} absent " +
              s"from version $toVersion's schema — drop the " +
              "constraint first (dropConstraint / UNSET " +
              "TBLPROPERTIES), then restore")
        }
      }
    }
    transact(spark, table, "CommitLog.restore") { tx =>
      val cur = tx.existing
      if (cur.version == toVersion) Done(cur.version) else {
        // the target's own constraint set rides the restore commit
        // (explicit-empty when the target predates constraints), so
        // time travel governs rules exactly as it governs data; on a
        // pure-legacy table the field stays absent and the side file
        // keeps governing (the guard above already vetted it)
        val restoredCons: Option[String] =
          if (cur.constraints.isDefined)
            Some(target.constraints.getOrElse(
              encodeConstraints(Map.empty)))
          else None
        // the partition spec time-travels exactly like constraints:
        // a restore ACROSS a replace that changed the spec must serve
        // the target's own value, or the rolled-back layout (segments
        // partitioned the old way) would sit under the NEW spec —
        // later partitioned inserts would then mix layouts, or refuse
        // on a column the restored schema lacks. Same legacy guard:
        // when the ancestry never recorded the field, stay absent so
        // the `_partition.json` marker era keeps governing.
        val restoredPb: Option[String] =
          if (cur.partitionBy.isDefined)
            Some(target.partitionBy.getOrElse(""))
          else None
        Publish(Snapshot(cur.version + 1L, target.segments,
          cur.version, "restore", schema = target.schema,
          dv = target.dv, constraints = restoredCons,
          partitionBy = restoredPb), cur.version + 1L)
      }
    }
  }

  /** Reference a SOURCE column inside [[mergeInto]]'s matched-clause
    * expressions (SET values, delete/update conditions): the joined
    * row exposes target columns at their own names and source
    * non-key columns under this prefix. */
  def src(name: String): org.apache.spark.sql.Column =
    col(s"__src_$name")

  /** One WHEN clause of a [[mergeIntoClauses]] match side, tested in
    * LIST ORDER — the first satisfied clause fires (SQL/Delta
    * first-match-wins). `condition = None` is an unconditional
    * clause (always fires, shadowing everything after it). Matched-
    * side expressions may reference the source row via [[src]];
    * BY-SOURCE clauses see target columns only. */
  sealed trait MergeClause
  final case class MergeUpdate(
      set: Map[String, org.apache.spark.sql.Column],
      condition: Option[org.apache.spark.sql.Column] = None)
    extends MergeClause
  final case class MergeDelete(
      condition: Option[org.apache.spark.sql.Column] = None)
    extends MergeClause

  /** MERGE INTO under the same copy-on-write + OCC + CDC contract as
    * [[delete]]/[[update]] — the one-UPDATE/one-DELETE-per-side
    * convenience form of [[mergeIntoClauses]] (which takes ARBITRARY
    * ordered clause lists, Delta's full surface):
    *
    *  - WHEN MATCHED AND `whenMatchedDelete` THEN DELETE
    *  - WHEN MATCHED [AND `whenMatchedUpdateCondition`] THEN UPDATE
    *    SET `whenMatchedUpdate` (values may reference the source row
    *    via [[src]]; cast back to the column's declared type)
    *  - WHEN NOT MATCHED [AND `whenNotMatchedInsertCondition`] THEN
    *    INSERT (source projected onto the table schema by name —
    *    missing columns NULL, extra source columns ignored), if
    *    `whenNotMatchedInsert`
    *  - WHEN NOT MATCHED BY SOURCE AND `whenNotMatchedBySourceDelete`
    *    THEN DELETE / [AND `whenNotMatchedBySourceUpdateCondition`]
    *    THEN UPDATE SET `whenNotMatchedBySourceUpdate` — target rows
    *    with NO source match (the refresh-the-target-from-source
    *    shape: prune or flag rows the source no longer carries).
    *    Conditions and SET values see TARGET columns only (the
    *    source side of these rows is all-NULL by definition); DELETE
    *    tests before UPDATE, mirroring the matched clauses.
    *
    * Identity columns: inserts ALLOCATE like the append path (the
    * source may omit the column or write NULLs; GENERATED ALWAYS
    * refuses explicit values; BY DEFAULT passes values through), and
    * the commit advances the manifest high-water marks — both for
    * allocated/provided insert values and for BY DEFAULT ids written
    * by SET — so later appends can never re-mint a merged id.
    *
    * Clause order is Delta's: a matched row tests DELETE first, then
    * UPDATE, else survives unchanged. A source with DUPLICATE keys
    * refuses loudly (a matched target row's outcome would be
    * nondeterministic — the same error Delta raises). Only segments
    * containing matched keys are rewritten; inserts and rewritten
    * rows land in ONE new segment; every touched row is recorded
    * under `_changes/` (delete / update_preimage / update_postimage /
    * insert) so [[changeFeed]] replays the whole commit — unlike the
    * keyed [[merge]], whose full-rewrite delta is not derivable.
    * Returns (version, updated, deleted, inserted).
    *
    * 100 TB posture: one key-pushed scan finds touched files; the
    * untouched bulk is never opened; the source's keys ride a
    * semi/anti join (broadcast when small, shuffle otherwise — AQE's
    * choice), never a collect. NOT-MATCHED-BY-SOURCE widens the
    * touched set to files holding condition-satisfying unmatched
    * rows — with a selective condition that stays bounded; an
    * UNCONDITIONAL clause rewrites the full complement, which is the
    * semantics the user asked for (same cliff Delta documents). */
  def mergeInto(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String],
      whenMatchedUpdate: Map[String, org.apache.spark.sql.Column] =
        Map.empty,
      whenMatchedUpdateCondition: Option[org.apache.spark.sql.Column] =
        None,
      whenMatchedDelete: Option[org.apache.spark.sql.Column] = None,
      whenNotMatchedInsert: Boolean = true,
      whenNotMatchedInsertCondition: Option[org.apache.spark.sql.Column] =
        None,
      whenNotMatchedBySourceUpdate:
        Map[String, org.apache.spark.sql.Column] = Map.empty,
      whenNotMatchedBySourceUpdateCondition:
        Option[org.apache.spark.sql.Column] = None,
      whenNotMatchedBySourceDelete: Option[org.apache.spark.sql.Column] =
        None): (Long, Long, Long, Long) = {
    // the single-UPDATE/single-DELETE surface in clause-list form,
    // DELETE tested first (this method's documented order)
    def side(del: Option[org.apache.spark.sql.Column],
        upd: Map[String, org.apache.spark.sql.Column],
        updCond: Option[org.apache.spark.sql.Column]): Seq[MergeClause] =
      del.map(c => MergeDelete(Some(c))).toSeq ++
        (if (upd.nonEmpty) Seq(MergeUpdate(upd, updCond)) else Nil)
    mergeIntoClauses(spark, table, source, keys,
      matched = side(whenMatchedDelete, whenMatchedUpdate,
        whenMatchedUpdateCondition),
      notMatchedInsert = whenNotMatchedInsert,
      notMatchedInsertCondition = whenNotMatchedInsertCondition,
      notMatchedBySource = side(whenNotMatchedBySourceDelete,
        whenNotMatchedBySourceUpdate,
        whenNotMatchedBySourceUpdateCondition))
  }

  /** The N-CLAUSE MERGE executor behind [[mergeInto]] (Delta's full
    * surface): each match side takes an ORDERED clause list — any
    * number of conditional UPDATE/DELETE clauses, tested in list
    * order, FIRST satisfied clause fires (SQL/Delta first-match-wins;
    * an unconditional clause always fires, shadowing everything
    * after it). A NULL-evaluating condition means "clause not taken"
    * — the row falls through to the next clause. Everything else —
    * copy-on-write bounded to touched files, CDC vocabulary, OCC
    * retry, duplicate-source refusal, identity marks, bucket-layout
    * preservation — is the [[mergeInto]] contract verbatim. */
  def mergeIntoClauses(spark: SparkSession, table: String,
      source: DataFrame, keys: Seq[String],
      matched: Seq[MergeClause] = Nil,
      notMatchedInsert: Boolean = true,
      notMatchedInsertCondition: Option[org.apache.spark.sql.Column] =
        None,
      notMatchedBySource: Seq[MergeClause] = Nil,
      txn: Option[(String, Long)] = None): (Long, Long, Long, Long) = {
    require(keys.nonEmpty, "CommitLog.mergeInto: empty key list")
    // (appId, batchId) stamp → exactly-once under streaming crash
    // replay, the same [[lastTxn]] watermark contract as [[appendTxn]]
    // (an already-committed batch returns the current version with
    // zero counts, never re-applies)
    txn.foreach { case (a, b) =>
      if (lastTxn(spark, table, a).exists(_ >= b))
        return (currentVersion(spark, table).getOrElse(0L), 0L, 0L, 0L)
    }
    require(matched.nonEmpty || notMatchedInsert ||
      notMatchedBySource.nonEmpty,
      "CommitLog.mergeInto: no clauses — nothing to do")
    val nmbsActive = notMatchedBySource.nonEmpty
    def updateSets(cs: Seq[MergeClause]) =
      cs.collect { case MergeUpdate(set, _) => set }
    // MATERIALIZE the source once (Delta's merge does the same): the
    // body scans it up to three times per attempt — the touched-file
    // probe(s) with the duplicate-key guard, the CDC write and the
    // copy-on-write rewrite — and a merge source is delta-sized by
    // contract, so pinning it trades bounded cache for two full
    // recomputations (which for SQL merges re-run joins/aggregates).
    // Respect a caller's own pin: never persist or unpersist a frame
    // the caller already cached (it may keep using it after we return).
    // Rows already held in memory (a local relation, a checkpointed RDD)
    // re-read for free, and building their cache is one more Spark job.
    val srcPin = source.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE && !inMemoryRows(source)
    if (srcPin) source.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): Unit
    try {
    // the source's repeated keys, one row each — what the duplicate-key
    // guard refuses
    val dups = source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L)
      .select(struct(keys.map(col): _*).as("__dup"))
    def refuseDuplicate(dup: Option[org.apache.spark.sql.Row]): Unit =
      dup.foreach { d =>
        throw new IllegalStateException(
          "CommitLog.mergeInto: source has duplicate keys (e.g. " +
            keys.zipWithIndex.map { case (k, i) => s"$k=${d.get(i)}" }
              .mkString(", ") + ") — a matched row's outcome would be " +
            "nondeterministic; deduplicate the source first")
      }
    // the guard refuses before anything stages: a merge with matched
    // clauses answers it in its touched-file probe's collect (inside
    // the attempt, before the CDC staging); any other merge runs no
    // such probe, so it asks here
    if (matched.isEmpty)
      refuseDuplicate(dups.limit(1).collect().headOption.map(_.getStruct(0)))
    // frames pinned inside an attempt (the rewrite frame; identity
    // allocation pins its insert candidates) are released before the
    // next attempt — a lost OCC race reallocates against fresh marks
    transact(spark, table, "CommitLog.mergeInto") { tx =>
      val cur = tx.existing
      // a concurrent replica of the same streaming query may have won
      // the race with this very batch between attempts — re-check the
      // watermark on the fresh snapshot (nothing is staged yet this
      // attempt; a lost previous attempt already cleaned up)
      if (txn.exists { case (a, b) =>
          (cur.txnApp.contains(a) && cur.txnBatch.exists(_ >= b)) ||
            (tx.attempt > 0 && lastTxn(spark, table, a).exists(_ >= b)) })
        Done((cur.version, 0L, 0L, 0L))
      else {
        val allSets = updateSets(matched) ++ updateSets(notMatchedBySource)
        val image = new SetImage(spark, "mergeInto", cur, allSets)
        val (schema, logical) = (image.schema, image.logical)
        val unknownKeys = keys.toSet -- schema.fieldNames.toSet
        require(unknownKeys.isEmpty,
          s"CommitLog.mergeInto: key(s) ${unknownKeys.mkString(", ")} " +
            s"absent from table schema ${schema.fieldNames.mkString(", ")}")
        val nonKeySrc = source.columns.filterNot(keys.contains).toSeq
        val srcRenamed = source.select(keys.map(col) ++
          nonKeySrc.map(c => col(c).as(s"__src_$c")) :+
          lit(true).as("__src_matched"): _*)
        // touched segments: files holding at least one matched key
        // (DV-applied: a vector-deleted row cannot match or re-insert;
        // file identity from the `_metadata` tag — input_file_name()
        // refuses multi-source plans once the DV relation joins in)
        val all = readLive(spark, cur)
        val tagged = taggedLive(spark, cur)
        /** ONE collect answers the touched-file probe AND the
          * duplicate-key guard: `rows` (a `__file` per live target row,
          * plus the probe's flags) and the source's duplicate keys (as
          * `__file`-less rows) fold into one aggregation per file.
          * Refuses on a duplicate; otherwise returns the per-file rows
          * `keep` selects: `__file`, `__dup`, then `aggs`. */
        def probeFiles(rows: DataFrame,
            aggs: Seq[org.apache.spark.sql.Column],
            keep: org.apache.spark.sql.Column)
            : Array[org.apache.spark.sql.Row] = {
          val got = rows
            .withColumn("__dup", lit(null).cast(dups.schema("__dup").dataType))
            .unionByName(dups.withColumn("__file", lit(null).cast("string")),
              allowMissingColumns = true)
            .groupBy(col("__file"))
            .agg(first(col("__dup"), ignoreNulls = true).as("__dup"), aggs: _*)
            .filter(col("__file").isNull || keep)
            .collect()
          refuseDuplicate(got.find(_.isNullAt(0))
            .flatMap(r => Option(r.getStruct(1))))
          got.filterNot(_.isNullAt(0))
        }
        /** OR over a side's clause conditions (could ANY clause fire on
          * this row?) — the file-probe predicate. */
        def anyClauseHit(cs: Seq[MergeClause]): org.apache.spark.sql.Column =
          cs.map {
            case MergeUpdate(_, c) => coalesce(c.getOrElse(lit(true)),
              lit(false))
            case MergeDelete(c) => coalesce(c.getOrElse(lit(true)),
              lit(false))
          }.reduceOption(_ || _).getOrElse(lit(false))
        // only probe for matched files when a matched clause can FIRE —
        // an insert-only (or by-source-only) merge must not rewrite the
        // segments its matched keys merely sit in. When BOTH probes are
        // needed, ONE scan + key join serves them (guide §2.4: one
        // exchange serves two operations keyed the same way): per file,
        // "any live row matched" and "any unmatched row satisfies a
        // BY-SOURCE clause condition" fold in the same aggregation —
        // previously two separate full-scan+join jobs.
        val (matchedFiles, nmbsFiles) =
          if (matched.nonEmpty && nmbsActive) {
            val probed = probeFiles(tagged
              .join(srcRenamed.select(keys.map(col): _*)
                .withColumn("__probe_m", lit(true)), keys, "left_outer")
              .select(col("__graft_dv_file").as("__file"),
                coalesce(col("__probe_m"), lit(false)).as("__m"),
                anyClauseHit(notMatchedBySource).as("__h")),
              Seq(max(when(col("__m"), 1).otherwise(0)).as("__am"),
                max(when(!col("__m") && coalesce(col("__h"),
                  lit(false)), 1).otherwise(0)).as("__ah")),
              col("__am") === 1 || col("__ah") === 1)
            (probed.filter(_.getInt(2) == 1).map(_.getString(0)),
              probed.filter(_.getInt(3) == 1).map(_.getString(0)))
          } else {
            val mf =
              if (matched.isEmpty) Array.empty[String]
              else probeFiles(tagged
                .select((keys.map(col) :+
                  col("__graft_dv_file").as("__file")): _*)
                .join(srcRenamed.select(keys.map(col): _*), keys,
                  "left_semi")
                .select("__file"), Nil, lit(true))
                .map(_.getString(0))
            // NOT-MATCHED-BY-SOURCE widens the rewrite to files holding
            // at least one unmatched row that satisfies a BY-SOURCE
            // clause condition (target-column predicates — pushable to
            // the scan); files whose unmatched rows all fail every
            // condition are never opened for rewrite
            val nf =
              if (!nmbsActive) Array.empty[String]
              else tagged
                .join(srcRenamed.select(keys.map(col): _*), keys,
                  "left_anti")
                .filter(anyClauseHit(notMatchedBySource))
                .select(col("__graft_dv_file").as("__file"))
                .distinct().collect().map(_.getString(0))
            (mf, nf)
          }
        val touched = segmentsOf(cur.segments,
          (matchedFiles ++ nmbsFiles).distinct.toSeq)
        // empty touched list: an insert-only merge — keep a same-schema
        // empty frame (an empty parquet path list cannot infer one);
        // the join still runs so src() references stay resolvable
        val touchedDf =
          if (touched.isEmpty) all.filter(lit(false))
          else readLive(spark, cur, Some(touched))
        // PIN the rewrite frame (guide §5: cache only what is reused
        // and expensive): every CDC branch (deletes, each update
        // clause's pre+post image) and the rewrite (survivors, each
        // clause's post image) filters this same join — unpinned, each
        // branch re-scans the touched segments and re-runs the join
        // (and for SQL merges re-runs the source's own joins), 3+2·u
        // recomputations for u update clauses. Bounded by the
        // copy-on-write working set; released per attempt.
        val joined = tx.pin(touchedDf.join(srcRenamed, keys, "left_outer"))
        // plan-audit hook (guide §7.2): dump the rewrite frame's
        // physical plan — join strategy, exchanges, pushed filters —
        // without touching the UI. Off unless explicitly enabled.
        if (spark.conf.getOption("spark.graft.debug.explainRewrite")
            .contains("true"))
          System.err.println(s"[mergeInto rewrite plan] $table\n" +
            joined.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
        val isMatched = coalesce(col("__src_matched"), lit(false))
        /** Index of the FIRST satisfied clause on a side (-1 = none):
          * first-match-wins materialized as one nested CASE. */
        def fireIndex(active: org.apache.spark.sql.Column,
            cs: Seq[MergeClause]): org.apache.spark.sql.Column =
          cs.zipWithIndex.foldRight(lit(-1): org.apache.spark.sql.Column) {
            case ((cl, i), rest) =>
              val c = cl match {
                case MergeUpdate(_, cond) => cond.getOrElse(lit(true))
                case MergeDelete(cond) => cond.getOrElse(lit(true))
              }
              when(active && coalesce(c, lit(false)), lit(i))
                .otherwise(rest)
          }
        val mFire = fireIndex(isMatched, matched)
        val nFire = if (nmbsActive) fireIndex(!isMatched, notMatchedBySource)
          else lit(-1)
        def deleteIdx(cs: Seq[MergeClause]): Seq[Int] =
          cs.zipWithIndex.collect { case (MergeDelete(_), i) => i }
        def isIn(c: org.apache.spark.sql.Column, is: Seq[Int]) =
          if (is.isEmpty) lit(false) else c.isin(is.map(Int.box): _*)
        val delCond = isIn(mFire, deleteIdx(matched))
        val nmbsDelCond = isIn(nFire, deleteIdx(notMatchedBySource))
        // (clauseIndex, SET map) per update clause, each its own
        // projection — different clauses write different post-images
        def updates(cs: Seq[MergeClause]): Seq[(Int, Map[String,
            org.apache.spark.sql.Column])] =
          cs.zipWithIndex.collect { case (MergeUpdate(set, _), i) =>
            (i, set) }
        val mUpdates = updates(matched)
        val nUpdates = updates(notMatchedBySource)
        /** (pre, post) image pairs for every update clause on both
          * sides, each filtered to exactly the rows its clause won. */
        def updateImages: Seq[(DataFrame, DataFrame)] =
          mUpdates.map { case (i, set) =>
            (image(joined.filter(mFire === i), Map.empty),
              image(joined.filter(mFire === i), set))
          } ++ nUpdates.map { case (i, set) =>
            (image(joined.filter(nFire === i), Map.empty),
              image(joined.filter(nFire === i), set))
          }
        // inserts check NOT-MATCHED against the WHOLE table, not just
        // touched segments
        val idFs = identityFields(logical)
        var idMarks: Option[Map[String, Long]] = None
        val inserts =
          if (!notMatchedInsert) None
          else {
            // WHEN NOT MATCHED [AND cond]: the condition gates inserts
            // only (evaluated over source columns), never the matched
            // clauses — SQL MERGE semantics
            val anti0 = source
              .filter(notMatchedInsertCondition.getOrElse(lit(true)))
              .join(all.select(keys.map(col): _*), keys, "left_anti")
            // identity tables: MERGE inserts ALLOCATE exactly like the
            // append path (omission/NULLs allocate; GENERATED ALWAYS
            // refuses explicit values; BY DEFAULT passes values through
            // and auto-SYNCs the mark past their extent) — and the
            // committed snapshot carries the advanced high-water marks
            // under the merge's own OCC, so a subsequent append can
            // never re-mint an id this merge inserted
            val anti =
              if (idFs.isEmpty) anti0
              else {
                val pinned = tx.pin(anti0)
                val st = identityStats(pinned, idFs)
                val (withIds, marks) = applyIdentity(pinned, idFs,
                  decodeIdentity(cur.identity), st)
                idMarks = Some(marks)
                withIds
              }
            val projected0 = anti.select(schema.fieldNames.toSeq.map { f =>
              if (anti.columns.contains(f))
                col(f).cast(schema(f).dataType).as(f)
              else lit(null).cast(schema(f).dataType).as(f)
            }: _*)
            // a source OMITTING a generated column gets it COMPUTED
            // (not NULL-filled — NULL would refuse at the gate); a
            // source PROVIDING it passes through for the gate to
            // validate, the same contract as plain INSERT
            val omittedGens = generatedColumns(logical).map(_.name)
              .filterNot(g => anti.columns.exists(_.equalsIgnoreCase(g)))
              .toSet
            val projected =
              if (omittedGens.isEmpty) projected0
              else recomputeGenerated(projected0, logical,
                only = Some(omittedGens))
            // PIN the insert frame: its anti join re-scans the WHOLE
            // table's keys, and unpinned it would run twice (the CDC
            // write and the rewrite) — bounded by the source delta,
            // released per attempt
            Some(tx.pin(projected))
          }
        // every clause records under the SAME CDC vocabulary (delete /
        // update_pre+postimage) regardless of side or position — a
        // change-feed consumer sees one uniform merge commit, exactly
        // as Delta records it
        val deletedRows = image(joined.filter(delCond || nmbsDelCond),
            Map.empty)
          .withColumn("_change_type", lit("delete"))
        val insRows = inserts.map(_.withColumn("_change_type",
          lit("insert"))).getOrElse(deletedRows.filter(lit(false)))
        val (changes, byType) = stageChanges(tx, table,
          updateImages.foldLeft(deletedRows.unionByName(insRows)) {
            case (acc, (pre, post)) => acc.unionByName(imagePair(pre, post))
          })
        val nDel = byType("delete")
        val nUpd = byType("update_preimage")
        val nIns = byType("insert")
        // nothing touched and nothing inserted: no commit (the staged
        // change record is dropped with the attempt)
        if (touched.isEmpty && nIns == 0L) Done((cur.version, 0L, 0L, 0L))
        else {
          // rewritten touched rows (survivors: no clause fired →
          // byte-identical pass-through; update clauses → post-images) +
          // inserts → one segment
          val untouched = image(
            joined.filter(mFire === -1 && nFire === -1), Map.empty)
          val survivors = updateImages.foldLeft(untouched) {
            case (acc, (_, post)) => acc.unionByName(post)
          }
          // survivors, updates AND inserts re-land together (bucket-
          // split on a bucketed layout)
          val snap = land(spark, tx, table, "merge_into", changes,
            Rewrite(touched,
              Some(inserts.fold(survivors)(survivors.unionByName(_)))))
          // BY DEFAULT identity columns touched by SET (ALWAYS refuses at
          // refuseGeneratedSet): fold the post-image extent into the
          // marks — the same auto-SYNC the append path gives provided
          // values — so a later allocation cannot collide with an id an
          // update just wrote
          val updatedIdFs = idFs.filter(f =>
            allSets.flatMap(_.keys).exists(_.equalsIgnoreCase(f.name)))
          if (updatedIdFs.nonEmpty && touched.nonEmpty) {
            val aggs = updatedIdFs.flatMap(f => Seq(
              min(col(f.name)).cast("long").as(s"__mn_${f.name}"),
              max(col(f.name)).cast("long").as(s"__mx_${f.name}")))
            val postAll = updateImages.map(_._2)
              .reduceOption(_ unionByName _)
              .getOrElse(untouched.filter(lit(false)))
            val r = postAll
              .agg(aggs.head, aggs.tail: _*).collect()(0)
            val base = idMarks.getOrElse(decodeIdentity(cur.identity))
            idMarks = Some(updatedIdFs.foldLeft(base) { (m, f) =>
              val step = f.metadata.getLong(IdentityStepKey)
              val start = f.metadata.getLong(IdentityStartKey)
              val hwm = m.getOrElse(f.name, start - step)
              val ext = Option(r.getAs[java.lang.Long](
                if (step > 0L) s"__mx_${f.name}" else s"__mn_${f.name}"))
                .map(_.longValue)
              m + (f.name -> ext.fold(hwm)(e =>
                if (step > 0L) math.max(hwm, e) else math.min(hwm, e)))
            })
          }
          Publish(snap.copy(txnApp = txn.map(_._1),
            txnBatch = txn.map(_._2),
            identity = idMarks.map(m => encodeConstraints(
              m.map { case (k, x) => k -> x.toString }))),
            (cur.version + 1L, nUpd, nDel, nIns))
        }
      }
    }
    } finally {
      if (srcPin) source.unpersist(): Unit
    }
  }

  /** DESCRIBE HISTORY: one row per RETAINED version, ascending — the
    * operational audit surface (Delta's DESCRIBE HISTORY), derived
    * purely from manifests: (version, op, base_version, n_segments,
    * txn_app, txn_batch, has_changes, n_columns — NULL until a
    * schema-recording commit). Driver-side: manifests are tiny by
    * design; vacuumed versions simply don't appear. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    snapshotsAsc(spark, table)
      .map(s => (s.version, s.op, s.baseVersion, s.segments.size,
        s.txnApp, s.txnBatch, s.changes.isDefined,
        s.schema.map(b64 => decodeSchema(b64).fields.length), s.ts))
      .toDF("version", "op", "base_version", "n_segments", "txn_app",
        "txn_batch", "has_changes", "n_columns", "commit_ts")
  }

  /** `_commit_version` = `v` for every row, as a column whose generated
    * code does not contain `v`. `lit(v)` is inlined into the Java source
    * as a constant, so each version range compiled new classes for every
    * stage of the feed. Here `v` reaches the code as one reference object
    * (the closure), and a zero-argument UDF is not constant-folded back
    * into a literal, so feeds and micro-batches over different versions
    * share their compiled classes. Used by [[changeFeed]] and the
    * streaming source's change-feed batches. */
  private[sources] def commitVersion(v: Long): org.apache.spark.sql.Column =
    udf(() => v).asNonNullable().apply()

  /** The FULL change-data feed after `afterVersion`, one DataFrame:
    * table columns + `_change_type` ('insert' | 'delete' |
    * 'update_preimage' | 'update_postimage') + `_commit_version`.
    * Appends come from segment diffs (as [[changes]]); DML versions
    * come from their recorded change directories; `compact` is
    * content-preserving and transparently skipped; `merge` rewrites
    * row state without a change record, so it raises unless
    * `skipRewrites = true` (Delta's ignoreChanges caveat — updates
    * lost). Vacuumed history below the start raises, never silently
    * skips. */
  def changeFeed(spark: SparkSession, table: String, afterVersion: Long,
      skipRewrites: Boolean = false,
      toVersion: Option[Long] = None): DataFrame = {
    val vsAll = versions(spark, table).filter(_ > afterVersion)
    // an ending bound (Delta's endingVersion) makes the feed a
    // REPRODUCIBLE range — the same (start, end] forever, immune to
    // commits landing while the job runs. Degenerate or future
    // bounds refuse loudly (a bound past the current version is a
    // typo'd pin, not a wait — the streaming source waits).
    toVersion.foreach { tv =>
      require(tv > afterVersion,
        s"CommitLog.changeFeed: endingVersion $tv must be at or " +
          s"after startingVersion ${afterVersion + 1L}")
      val cur = vsAll.lastOption.getOrElse(afterVersion)
      if (tv > cur) throw new IllegalStateException(
        s"CommitLog.changeFeed: endingVersion $tv exceeds the " +
          s"current version $cur of $table — a bounded feed pins " +
          "committed history only")
    }
    val vs = toVersion.fold(vsAll)(tv => vsAll.filter(_ <= tv))
    val expected = (afterVersion + 1L) to vs.lastOption.getOrElse(afterVersion)
    if (vs != expected) throw new IllegalStateException(
      s"CommitLog.changeFeed: versions ${expected.toSet -- vs.toSet} of " +
        s"$table are vacuumed — cannot reconstruct the feed after " +
        s"$afterVersion; start from a full snapshot read instead")
    // one forward resolution pass over the served range and its
    // replay base — O(range) small-file reads, not the whole retained
    // history
    val fromV = math.max(1L, afterVersion)
    val byVersion = snapshotsRange(spark, table,
      fromV, vs.lastOption.getOrElse(0L))
      .map(s => s.version -> s).toMap
    // the base (afterVersion itself) must resolve too: a vacuum whose
    // retain floor is afterVersion+1 leaves the range intact but the
    // base gone, exactly as in [[changes]]
    if (vs.nonEmpty && !byVersion.contains(fromV))
      throw new IllegalStateException(
        s"CommitLog.changeFeed: version $fromV of $table (the feed's " +
          s"replay base after $afterVersion) is vacuumed — cannot " +
          "reconstruct the feed; start from a full snapshot read " +
          "instead")
    // Delta CDF's rule: the feed is served under the LATEST schema —
    // whenever one is recorded, NOT just when its mapping is
    // non-identity: after a DROP COLUMN the mapping can return to
    // identity while pre-drop files still hold the dropped bytes, and
    // an inferred read would leak that column back into the feed.
    // Pinning also maps physical file names (stable across renames,
    // so one mapping covers every version's files) to the latest
    // logical names; schema-less tables keep the inferred fast path.
    val latestSchema = vs.lastOption.flatMap(v => byVersion(v).schema)
      .map(decodeSchema)
    def readAdded(added: Seq[String]): DataFrame =
      readSegments(spark, added, latestSchema.map(encodeSchema))
    // change RECORDS project onto the latest column set too: columns
    // dropped since the record was written leave the feed, columns
    // added since serve typed NULLs (plus the record's feed stamps)
    def readChanges(dir: String): DataFrame = {
      val raw = ParquetFooters.read(spark, Seq(dir))
      latestSchema match {
        case Some(sch) =>
          val logical = fromPhysicalFrame(raw, sch)
          val dataCols = sch.fields.toSeq.map(f =>
            if (logical.columns.contains(f.name)) col(s"`${f.name}`")
            else lit(null).cast(f.dataType).as(f.name))
          logical.select(dataCols :+ col("_change_type"): _*)
        case None => raw
      }
    }
    val parts = vs.flatMap { v =>
      val snap = byVersion(v)
      snap.op match {
        // a CTAS v1 is an insert of its whole output, same as the
        // first append of a created table
        case "append" | "streaming-append" | "clone" | "clone_deep" |
            "convert" | "ctas" =>
          val prev = if (v == 1L) Set.empty[String]
            else byVersion(v - 1L).segments.toSet
          val added = snap.segments.filterNot(prev)
          if (added.isEmpty) None
          else Some(readAdded(added)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", commitVersion(v)))
        case "delete" | "delete_dv" | "update" | "update_dv" |
            "merge_into" | "replace_where" =>
          val dir = snap.changes.getOrElse(throw new IllegalStateException(
            s"CommitLog.changeFeed: version $v of $table is a " +
              s"'${snap.op}' with no recorded change directory"))
          Some(readChanges(dir)
            .withColumn("_commit_version", commitVersion(v)))
        case "compact" => None
        // the catalog's CREATE TABLE commit records a schema and zero
        // segments — no content change, same class as compact; an
        // 'evolve' (metadata-only ADD COLUMNS) likewise changes no rows
        case "create" | "evolve" | "rename_column" |
            "drop_column" | "widen_column" |
            "set_constraint" | "drop_constraint" |
            "set_partition_spec" | "set_default" =>
          None
        case _ if skipRewrites => None
        case op => throw new IllegalStateException(
          s"CommitLog.changeFeed: version $v of $table is a '$op' " +
            "rewrite with no change record — pass skipRewrites=true " +
            "to consume the derivable changes only (its updates lost)")
      }
    }
    // a range with no change-producing versions (create-only table,
    // or a start past the last content commit) is a VALID feed — the
    // empty one, served under the CDF schema (table columns under the
    // latest resolvable snapshot + the two feed columns). Raising
    // here would make every incremental consumer special-case its
    // own catch; Delta's batch CDF likewise returns empty.
    if (parts.isEmpty) {
      val latest = snapshot(spark, table).getOrElse(
        throw new IllegalStateException(
          s"CommitLog.changeFeed: nothing committed at $table"))
      val cols = latest.schema.map(decodeSchema).getOrElse(
        readSegments(spark, latest.segments, None).schema)
      val cdfSchema = org.apache.spark.sql.types.StructType(
        cols.fields :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType) :+
          org.apache.spark.sql.types.StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cdfSchema)
    }
    // a feed spanning an ADD-COLUMN evolution has pre-evolution
    // deltas with fewer columns — they serve NULL for the added ones,
    // exactly as the snapshot read does (Delta CDF's rule: the feed
    // is served under the latest schema)
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Segment-compaction commit ([[Formats.compact]] semantics): rewrite
    * the current version's content into ceil(rows/targetRowsPerFile)
    * files as ONE new segment. Readers of older versions still see the
    * old segments (immutable); a concurrent append/merge beats the
    * compaction harmlessly — the retry recompacts the new state. */
  def compact(spark: SparkSession, table: String,
      targetRowsPerFile: Long): Long = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be > 0")
    transact(spark, table, "CommitLog.compact") { tx =>
      val cur = tx.existing
      // DV-applied: compaction MATERIALIZES a deletion vector — the
      // rewritten segment holds live rows only and the new version
      // carries no dv field
      val df = readLive(spark, cur)
      // without a deletion vector every footer row is live, so the
      // footers give the count without a Spark job
      val n = (if (cur.dv.isEmpty) ParquetFooters.rowCount(spark,
        cur.segments) else None).getOrElse(df.count())
      val files = math.max(1L,
        (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
      val seg = tx.stage(writeSegment(spark, table, df.repartition(files),
        tx.cur))
      Publish(Snapshot(cur.version + 1L, Seq(seg), cur.version,
        "compact", schema = cur.schema), cur.version + 1L)
    }
  }

  /** Incremental change feed over the APPEND history: one
    * (version, delta DataFrame) per committed version after
    * `afterVersion`, where the delta is exactly the segments that
    * version added — O(delta) consumption of a growing table, the
    * read-side complement of [[append]]/[[appendTxn]] (Delta's CDF
    * for the append-only case, derived purely from manifests).
    *
    * Rewrite commits (merge / compact) do not decompose into added
    * files: `compact` is content-preserving, so it is always safe to
    * SKIP; `merge` changes row state, so by default it raises — a
    * consumer that only tracks inserts can opt in to skipping it
    * with `skipRewrites = true` (documented data loss for updates,
    * exactly Delta's `ignoreChanges` caveat). Vacuumed history below
    * `afterVersion + 1` also raises (the gap is detectable: missing
    * manifest), never silently skips. */
  def changes(spark: SparkSession, table: String, afterVersion: Long,
      skipRewrites: Boolean = false): Seq[(Long, DataFrame)] = {
    val vs = versions(spark, table).filter(_ > afterVersion)
    val expected = (afterVersion + 1L) to vs.lastOption.getOrElse(afterVersion)
    if (vs != expected) throw new IllegalStateException(
      s"CommitLog.changes: versions ${expected.toSet -- vs.toSet} of " +
        s"$table are vacuumed — cannot reconstruct the feed after " +
        s"$afterVersion; start from a full snapshot read instead")
    // one forward pass over the consumed range (O(range) reads)
    val fromV = math.max(1L, afterVersion)
    val byVersion = snapshotsRange(spark, table,
      fromV, vs.lastOption.getOrElse(0L))
      .map(s => s.version -> s).toMap
    // the range check above validates versions AFTER afterVersion;
    // the replay BASE (afterVersion itself) must also still resolve —
    // a vacuum whose retain floor is exactly afterVersion+1 leaves
    // the tail intact but the base gone, and byVersion lookups below
    // would otherwise throw a bare NoSuchElementException
    if (vs.nonEmpty && !byVersion.contains(fromV))
      throw new IllegalStateException(
        s"CommitLog.changes: version $fromV of $table (the feed's " +
          s"replay base after $afterVersion) is vacuumed — cannot " +
          "reconstruct the feed; start from a full snapshot read " +
          "instead")
    vs.flatMap { v =>
      val snap = byVersion(v)
      snap.op match {
        case "append" | "streaming-append" | "clone" | "clone_deep" |
            "convert" | "ctas" =>
          val prev = if (v == 1L) Set.empty[String]
            else byVersion(v - 1L).segments.toSet
          val added = snap.segments.filterNot(prev)
          if (added.isEmpty) None
          else Some(v -> readSegments(spark, added, snap.schema))
        case "compact" => None // content-preserving rewrite
        case "create" => None  // zero-segment schema-only commit
        case "evolve" | "rename_column" | "drop_column" |
            "widen_column" | "set_constraint" | "drop_constraint" |
            "set_partition_spec" | "set_default" =>
          None // metadata-only schema/constraint/spec commits
        case _ if skipRewrites => None
        case op => throw new IllegalStateException(
          s"CommitLog.changes: version $v of $table is a '$op' rewrite" +
            " — its delta is not derivable from segments; pass " +
            "skipRewrites=true to consume inserts only (updates lost)," +
            " or use changeFeed for the full recorded CDC view")
      }
    }
  }

  /** Checkpointed driver loop over [[changes]]: processes each new
    * append delta in version order, advancing a watermark file AFTER
    * the handler returns — at-least-once delivery (a crash between
    * handler and watermark re-delivers that version on restart), so
    * pair the handler with an idempotent sink ([[appendTxn]] or the
    * keyed first-writer-wins upsert) for end-to-end exactly-once.
    * Returns the number of versions processed this call. */
  def consumeChanges(spark: SparkSession, table: String,
      checkpointFile: String, skipRewrites: Boolean = false)(
      handler: (Long, DataFrame) => Unit): Int = {
    val f = fs(spark, checkpointFile)
    val cp = new org.apache.hadoop.fs.Path(checkpointFile)
    val last: Long =
      if (!f.exists(cp)) 0L
      else {
        val in = f.open(cp)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          .trim.toLong
        finally in.close()
      }
    var n = 0
    changes(spark, table, last, skipRewrites).foreach { case (v, df) =>
      handler(v, df)
      val out = f.create(cp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      n += 1
    }
    n
  }

  /** Delete segments referenced by NO manifest version >= the retained
    * floor, then the manifests below it. Run only when no reader can
    * hold a snapshot older than `retainVersions` — same contract as
    * Delta VACUUM's retention window. */
  /** What a vacuum at `retainVersions` WOULD remove, without
    * touching anything — the operational dry run (Delta's
    * `VACUUM ... DRY RUN`): (unreferenced segment dirs, dead change
    * dirs, dead deletion-vector dirs, manifest versions to drop).
    * Orphans from crashed writers appear here too (no manifest ever
    * references them). */
  def vacuumPlan(spark: SparkSession, table: String,
      retainVersions: Int = 2)
      : (Seq[String], Seq[String], Seq[String], Seq[Long]) = {
    val f = fs(spark, table)
    val vs = versions(spark, table)
    if (vs.isEmpty) return (Seq.empty, Seq.empty, Seq.empty, Seq.empty)
    val dropped = vs.dropRight(retainVersions)
    val keepFloor = vs.takeRight(retainVersions)
    def dead(sub: String, live: Set[String]): Seq[String] = {
      val dir = new org.apache.hadoop.fs.Path(s"$table/$sub")
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).toSeq.collect {
        case st if !live.contains(st.getPath.toUri.getPath) &&
            !live.exists(_.endsWith(st.getPath.getName)) =>
          st.getPath.toUri.getPath
      }
    }
    // LOUD on a keep-floor manifest that vanished between the listing
    // and this read (concurrent lower-retention vacuum, flaky store):
    // silently omitting it would classify the retained version's
    // segments as dead and DELETE them — abort instead
    val keepSnaps = keepFloor.map(v =>
      snapshot(spark, table, Some(v)).getOrElse(
        throw new IllegalStateException(
          s"CommitLog.vacuumPlan: manifest v$v of $table vanished " +
            "during planning (concurrent vacuum?) — aborting, " +
            "nothing deleted")))
    (dead("data", keepSnaps.flatMap(_.segments).toSet),
      dead("_changes", keepSnaps.flatMap(_.changes).toSet),
      dead("_dv", keepSnaps.flatMap(_.dv).toSet),
      dropped)
  }

  def vacuum(spark: SparkSession, table: String,
      retainVersions: Int = 2): Unit = {
    val f = fs(spark, table)
    // one plan, one sweep: segments (incl. crashed-writer orphans),
    // change records, deletion vectors, then the dropped manifests
    val (segs, changes, dvs, dropped) =
      vacuumPlan(spark, table, retainVersions)
    // Retention check (Delta's retentionDurationCheck analog):
    // vacuum trusts its caller that no reader holds a dropped
    // snapshot, so dangerously low retention refuses by default —
    // retaining fewer than 2 versions deletes the PREVIOUS version's
    // segments while a read planned just before this vacuum may
    // still be executing against them. Optionally,
    // spark.graft.vacuum.minAgeMillis adds the wall-clock form: any
    // to-be-dropped version committed within the window refuses (the
    // long-running-batch-reader guard). Both are overridable with
    // spark.graft.vacuum.retentionCheck=false, the explicit
    // "I know no reader is active" switch.
    val checkOn = spark.conf
      .getOption("spark.graft.vacuum.retentionCheck")
      .forall(_.toBoolean)
    if (checkOn && dropped.nonEmpty) {
      require(retainVersions >= 2,
        s"CommitLog.vacuum: retainVersions=$retainVersions would " +
          "drop the previous version while a reader planned against " +
          "it may still be running — retain >= 2, or set " +
          "spark.graft.vacuum.retentionCheck=false if provably no " +
          "reader is active")
      spark.conf.getOption("spark.graft.vacuum.minAgeMillis")
        .map(_.toLong).foreach { minAge =>
        val cutoff = System.currentTimeMillis() - minAge
        val young = dropped.flatMap(v =>
          readRecord(spark, table, v).flatMap(_.snap.ts)
            .filter(_ > cutoff).map(v -> _))
        if (young.nonEmpty) throw new IllegalStateException(
          s"CommitLog.vacuum: version(s) ${young.map(_._1).mkString(",")} " +
            s"of $table were committed within the last ${minAge}ms " +
            "(spark.graft.vacuum.minAgeMillis) — a long-running " +
            "reader may still hold them; raise retainVersions, wait, " +
            "or set spark.graft.vacuum.retentionCheck=false")
      }
    }
    // Pin the retain floor with a full-state checkpoint BEFORE
    // dropping anything: the floor version's (possibly delta) chain
    // is about to lose its tail, and every retained version above it
    // replays forward from this pin. Crash-safe ordering — a crash
    // after the pin but mid-sweep leaves extra files, never an
    // unresolvable version.
    if (dropped.nonEmpty)
      versions(spark, table).drop(dropped.size).headOption
        .foreach(floor => ensureCheckpoint(spark, table, floor))
    // the sweep itself runs on EXECUTORS past a small threshold: a
    // 100 TB table under aggressive retention can drop hundreds of
    // thousands of segment dirs, and a driver-side delete loop of
    // per-object round trips would take hours — the same distributed
    // shape Delta's vacuum uses. Below the threshold the driver loop
    // is cheaper than a job.
    val dead = segs ++ changes ++ dvs
    if (dead.size <= 64)
      dead.foreach(p =>
        f.delete(new org.apache.hadoop.fs.Path(p), true): Unit)
    else {
      val confB = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      spark.createDataset(dead)(
        org.apache.spark.sql.Encoders.STRING)
        .repartition(math.min(dead.size,
          spark.sparkContext.defaultParallelism).max(1))
        .foreachPartition { (it: Iterator[String]) =>
          val conf = confB.value.value
          it.foreach { p =>
            val hp = new org.apache.hadoop.fs.Path(p)
            hp.getFileSystem(conf).delete(hp, true): Unit
          }
        }
    }
    dropped.foreach { v =>
      f.delete(new org.apache.hadoop.fs.Path(manifestPath(table, v)),
        false): Unit
      f.delete(new org.apache.hadoop.fs.Path(checkpointPath(table, v)),
        false): Unit
    }
    // multi-part checkpoints of dropped versions: one listing of
    // _commits/, prefix-matched (part files are invisible without
    // their marker, so this is pure space reclamation)
    if (dropped.nonEmpty) {
      val cd = new org.apache.hadoop.fs.Path(commitsDir(table))
      if (f.exists(cd)) {
        val prefixes = dropped.map(v => f"$v%020d.checkpoint.part-")
        f.listStatus(cd).foreach { st =>
          val nm = st.getPath.getName
          if (prefixes.exists(nm.startsWith))
            f.delete(st.getPath, false): Unit
        }
      }
    }
  }

  /** One-row operational summary of the CURRENT version — Delta's
    * DESCRIBE DETAIL: version, op, segment/file/byte counts, schema
    * width, deletion-vector state, sidecar coverage (stats + bloom),
    * partition columns. Metadata listings only — except `dv_rows`,
    * which runs one small job over the vector parquet and counts the
    * LIVE entries (those referencing a current segment; entries for
    * rewritten-away files are stale and subtract nothing). */
  def detail(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val snap = snapshot(spark, table).getOrElse(
      throw new IllegalStateException(
        s"CommitLog.detail: nothing committed at $table"))
    val f = fs(spark, table)
    var files = 0L
    var bytes = 0L
    var withStats = 0
    var withBloom = 0
    snap.segments.foreach { seg =>
      val p = new org.apache.hadoop.fs.Path(seg)
      if (f.exists(p)) f.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          files += 1; bytes += st.getLen
        }
        if (n == "_stats.json") withStats += 1
        if (n.startsWith("_bloom_") && n.endsWith(".bin"))
          withBloom += 1
      }
    }
    val dvRows = snap.dv.map { d =>
      val uuids = snap.segments.map(s =>
        s.substring(s.lastIndexOf('/') + 1))
      spark.read.parquet(d)
        .filter(uuids.map(u => col("_dv_file").contains(u))
          .reduceOption(_ || _).getOrElse(lit(false)))
        .count()
    }.getOrElse(0L)
    // distance to the manifest segment bound (the commit-time guard
    // in tryPublish) — DESCRIBE DETAIL is where an operator sees the
    // cliff coming before a commit warns or refuses
    val (_, maxSegs) = segmentBounds(spark)
    Seq((snap.version, snap.op, snap.segments.size.toLong, files,
      bytes, snap.schema.map(b64 =>
        decodeSchema(b64).fields.length).getOrElse(-1),
      snap.dv.isDefined, dvRows, withStats.toLong, withBloom.toLong,
      partitionColumns(spark, table).getOrElse(Seq.empty)
        .mkString(","), maxSegs.toLong,
      maxSegs.toLong - snap.segments.size,
      constraints(spark, table).size.toLong,
      // bucket layout (SPJ): keys + count when the current record
      // carries a live spec — the operator's view of whether the
      // zero-shuffle join claim currently holds
      snap.bucket.flatMap(decodeBucketSpec)
        .map(_.keys.mkString(",")).getOrElse(""),
      snap.bucket.flatMap(decodeBucketSpec).map(_.n).getOrElse(0)))
      .toDF("version", "op", "n_segments", "n_data_files",
        "total_bytes", "n_columns", "has_deletion_vector", "dv_rows",
        "segments_with_stats", "bloom_sidecars", "partition_columns",
        "segment_bound", "segments_to_bound", "n_constraints",
        "bucket_keys", "n_buckets")
  }

  // manifest format: one JSON object, segments one-per-line for
  // human-readable diffs; hand-rolled (de)serialization to keep the
  // format transparent and dependency-free
  private def escSeg(p: String): String =
    "\"" + p.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The absolute (version-owned) fields every record carries,
    * whether self-contained or delta. */
  private def renderFields(s: Snapshot): String = {
    val txn = (s.txnApp, s.txnBatch) match {
      case (Some(a), Some(b)) =>
        s""""txnApp":"$a","txnBatch":$b,"""
      case _ => ""
    }
    val ch = s.changes.fold("")(c =>
      s""""changes":"${c.replace("\\", "\\\\").replace("\"", "\\\"")}",""")
    val dvf = s.dv.fold("")(d =>
      s""""dv":"${d.replace("\\", "\\\\").replace("\"", "\\\"")}",""")
    val sch = s.schema.fold("")(b64 => s""""schema":"$b64",""")
    val ts = s.ts.fold("")(t => s""""ts":$t,""")
    val pb = s.partitionBy.fold("")(p =>
      s""""partitionBy":"${p.replace("\\", "\\\\")
        .replace("\"", "\\\"")}",""")
    val mp = s.mapping.fold("")(m => s""""mapping":"$m",""")
    val cn = s.constraints.fold("")(c => s""""constraints":"$c",""")
    val idn = s.identity.fold("")(i => s""""identity":"$i",""")
    val pr = s.protocol.fold("")(p => s""""protocol":$p,""")
    val bk = s.bucket.fold("")(b => s""""bucket":"$b",""")
    s"""{"version":${s.version},"baseVersion":${s.baseVersion},""" +
      txn + ch + dvf + sch + ts + pb + mp + cn + idn + pr + bk +
      s""""op":"${s.op}","""
  }

  private def renderManifest(s: Snapshot): String =
    renderFields(s) + "\"segments\":[" +
      s.segments.map(escSeg).mkString(",") + "]}"

  /** A delta record: same absolute fields, segment list expressed as
    * adds/removes relative to version-1 — O(delta) bytes. */
  private def renderDelta(s: Snapshot, adds: Seq[String],
      removes: Seq[String]): String =
    renderFields(s) + "\"addSegments\":[" +
      adds.map(escSeg).mkString(",") + "],\"removeSegments\":[" +
      removes.map(escSeg).mkString(",") + "]}"

  /** Parse a `"name":[...]` segment-path array out of a control
    * file's text (shared by the manifest parser and the multi-part
    * checkpoint reader). */
  private def parseSegArray(name: String,
      txt: String): Option[Seq[String]] =
    ("\"" + name + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
      .findFirstMatchIn(txt).map(_.group(1)).map { segs =>
        if (segs.trim.isEmpty) Seq.empty[String]
        else segs.split(",").toSeq.map(_.trim.stripPrefix("\"")
          .stripSuffix("\"").replace("\\\"", "\"")
          .replace("\\\\", "\\"))
      }

  /** Parse either format: a self-contained record carries
    * `"segments"`, a delta record carries `"addSegments"` +
    * `"removeSegments"` instead (all other fields absolute).
    * `allowNoSegments` is the multi-part checkpoint MARKER case
    * (fields only; the caller concatenates part slices) — plain
    * manifests must carry one of the two shapes or fail loud. */
  private[sources] def parseManifest(version: Long, txt: String,
      allowNoSegments: Boolean = false): ManifestRecord = {
    def field(name: String): String = {
      val m = ("\"" + name + "\"\\s*:\\s*(\\d+|\"[^\"]*\")").r
      m.findFirstMatchIn(txt).map(_.group(1)).getOrElse(
        throw new IllegalStateException(
          s"CommitLog: manifest v$version missing field '$name'"))
    }
    def segArray(name: String): Option[Seq[String]] =
      parseSegArray(name, txt)
    val full = segArray("segments")
    val delta =
      if (full.isDefined || allowNoSegments) None
      else Some((
        segArray("addSegments").getOrElse(
          throw new IllegalStateException(
            s"CommitLog: manifest v$version has neither segments " +
              "nor addSegments")),
        segArray("removeSegments").getOrElse(Seq.empty)))
    val segList = full.getOrElse(Seq.empty)
    def optField(name: String): Option[String] = {
      val m = ("\"" + name + "\"\\s*:\\s*(\\d+|\"[^\"]*\")").r
      m.findFirstMatchIn(txt).map(_.group(1))
    }
    ManifestRecord(Snapshot(version, segList,
      field("baseVersion").toLong,
      field("op").stripPrefix("\"").stripSuffix("\""),
      txnApp = optField("txnApp")
        .map(_.stripPrefix("\"").stripSuffix("\"")),
      txnBatch = optField("txnBatch").map(_.toLong),
      changes = optField("changes")
        .map(_.stripPrefix("\"").stripSuffix("\"")
          .replace("\\\"", "\"").replace("\\\\", "\\")),
      schema = optField("schema")
        .map(_.stripPrefix("\"").stripSuffix("\"")),
      ts = optField("ts").map(_.toLong),
      dv = optField("dv")
        .map(_.stripPrefix("\"").stripSuffix("\"")
          .replace("\\\"", "\"").replace("\\\\", "\\")),
      partitionBy = optField("partitionBy")
        .map(_.stripPrefix("\"").stripSuffix("\"")
          .replace("\\\"", "\"").replace("\\\\", "\\")),
      mapping = optField("mapping")
        .map(_.stripPrefix("\"").stripSuffix("\"")),
      constraints = optField("constraints")
        .map(_.stripPrefix("\"").stripSuffix("\"")),
      identity = optField("identity")
        .map(_.stripPrefix("\"").stripSuffix("\"")),
      bucket = optField("bucket")
        .map(_.stripPrefix("\"").stripSuffix("\"")),
      protocol = {
        val p = optField("protocol").map(_.toInt)
        // the forward-compatibility guard, enforced AT PARSE so no
        // surface (read, DML, stream, fsck-driven repair) can act on
        // state it does not understand: a record written by a future
        // protocol may carry fields whose absence from this reader's
        // model CHANGES ROW CONTENT — refuse, never serve
        p.filter(_ > SupportedProtocol).foreach { need =>
          throw new IllegalStateException(
            s"CommitLog: manifest v$version requires reader " +
              s"protocol $need but this engine supports " +
              s"$SupportedProtocol — upgrade the reader; refusing " +
              "rather than silently mis-serving the table")
        }
        p
      }),
      delta)
  }
}
