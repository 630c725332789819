package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Segment-level data-skipping statistics for [[CommitLog]] tables —
  * the Iceberg manifest-stats layering (public design: Iceberg's
  * snapshot pointer names manifest files that carry per-data-file
  * column bounds; Delta keeps the same bounds inline in its log)
  * expressed over the repo's versioned-manifest protocol:
  *
  *  - a writer that opts in ([[appendWithStats]]) computes per-column
  *    min / max / null-count over the EXACT rows its segment landed
  *    and writes them as a `_stats.json` sidecar INSIDE the segment
  *    directory, BEFORE any manifest references the segment — the
  *    sidecar is as immutable and crash-safe as the data itself (a
  *    crashed writer leaves both unreferenced; `_`-prefixed files are
  *    invisible to Spark's parquet listing, like `_SUCCESS`);
  *  - a reader ([[readSkipping]]) pins ONE snapshot (current or
  *    time-travel), consults each named segment's sidecar, and hands
  *    Spark only the segments whose [min,max] can intersect the probe
  *    range — pruning at the SEGMENT LIST level, before any footer or
  *    file listing I/O, with the exact predicate still applied to the
  *    survivors so a stats gap can never change results;
  *  - [[compactClustered]] is the OPTIMIZE that makes the bounds
  *    tight: it rewrites the table as range-disjoint segments
  *    (split points from the distributed row-number tier, no
  *    single-reducer window) in ONE manifest commit, so a table whose
  *    ingest order scattered the probe column becomes skippable.
  *
  * 100 TB posture: stats cost one small aggregate per segment at
  * write time (amortized into the write) and one tiny sidecar read
  * per segment at plan time; at a million segments the sidecar sweep
  * replaces opening a million parquet footers. Skipping is always
  * CONSERVATIVE: a segment with no sidecar, a sidecar without the
  * probe column, or any unparseable entry is kept, and the full
  * predicate re-filters whatever is read — the no-false-negative law
  * (skipped scan ≡ full-scan filter) is pinned in CommitLogSpec.
  *
  * Comparison semantics: strings order by UTF-8 bytes (unsigned) —
  * Spark's UTF8String ordering and DuckDB's BINARY collation agree on
  * this; timestamps compare as epoch micros, dates as epoch days,
  * decimals exactly. A probe whose type disagrees with the recorded
  * stats type fails LOUDLY (the [[Catalog]] event-time hardening
  * precedent) rather than silently keeping everything.
  */
object CommitLogStats {

  /** Typed min/max/nulls for one column of one segment. `min`/`max`
    * are None when every value in the segment is NULL — such a
    * segment is safely PRUNED by any range probe (NULL never
    * satisfies a range predicate). */
  final case class ColStats(tag: String, min: Option[Any],
      max: Option[Any], nulls: Long)

  /** `physicalKeys`: sidecars written since the column-mapping key
    * hardening carry `"keys":"physical"` — every entry of `cols` is
    * keyed by the column's STABLE physical name (for identity tables
    * that IS the column name, so the marker is always truthful).
    * Legacy sidecars (no marker) are keyed by their write-time
    * LOGICAL names, which DDL can reuse for a different column —
    * readers must consult them only under the hazard-filtered alias
    * rules of [[skippingKeys]]. */
  final case class SegmentStats(rows: Long, cols: Map[String, ColStats],
      physicalKeys: Boolean = false)

  /** Sidecar lookup keys for ONE probe column: `physical` is the
    * recorded field's stable physical name (None when the probe
    * resolves to no recorded field); `legacy` is the hazard-filtered
    * alias list for marker-less sidecars. */
  final case class ProbeKeys(physical: Option[String],
      legacy: Seq[String])

  /** Which segments a probe kept vs pruned, for one pinned snapshot. */
  final case class SkipPlan(snapshot: CommitLog.Snapshot,
      kept: Seq[String], pruned: Seq[String])

  private def statsPath(segment: String) = s"$segment/_stats.json"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  // ---- typed encode / decode ------------------------------------------

  /** SQL equality treats -0.0 = 0.0 but Double.compare orders them —
    * left unnormalized, a segment whose max is -0.0 would be wrongly
    * pruned by a >= 0.0 probe (a false negative). Normalize at every
    * encode boundary. NaN needs no special case: Double.compare puts
    * it greatest and equal to itself, matching Spark's ordering. */
  private def normZero(d: Double): Double = if (d == 0.0) 0.0 else d

  /** Canonical comparable form + tag for a stats value pulled out of
    * the min/max aggregate row. */
  private def encode(dt: DataType, v: Any): (String, Any) = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      ("long", v.asInstanceOf[Number].longValue())
    case BooleanType =>
      // false<true ≡ 0<1 under Spark's Boolean ordering, so booleans
      // share the "long" tag (BOOLEAN partition columns are in
      // stagePartitioned's allowlist — without this case every INSERT
      // into a BOOLEAN-partitioned table threw at sidecar-write time)
      ("long", if (v.asInstanceOf[Boolean]) 1L else 0L)
    case FloatType | DoubleType =>
      ("double", normZero(v.asInstanceOf[Number].doubleValue()))
    case StringType => ("string", v.asInstanceOf[String])
    case DateType =>
      ("date", v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay)
    case TimestampType =>
      // floorDiv, not /: getTime truncates toward zero, so pre-1970
      // values would otherwise encode up to 1s too high while the
      // Instant/LocalDateTime probe encodings are floor-correct
      val t = v.asInstanceOf[java.sql.Timestamp]
      ("ts", Math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000L)
    case TimestampNTZType =>
      // NTZ micros under the UTC wall clock — same "ts" tag, so an
      // LTZ-or-NTZ probe compares against either encoding (the
      // session runs UTC; Catalog normalizes event time the same way)
      val t = v.asInstanceOf[java.time.LocalDateTime]
        .toInstant(java.time.ZoneOffset.UTC)
      ("ts", t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case _: DecimalType =>
      ("decimal", v.asInstanceOf[java.math.BigDecimal])
    case other => throw new IllegalArgumentException(
      s"CommitLogStats: unsupported stats column type $other")
  }

  /** Map a caller-supplied probe bound onto the same canonical form. */
  private def encodeProbe(v: Any): (String, Any) = v match {
    case b: Boolean => ("long", if (b) 1L else 0L)
    case n: Byte => ("long", n.toLong)
    case n: Short => ("long", n.toLong)
    case n: Int => ("long", n.toLong)
    case n: Long => ("long", n)
    case n: Float => ("double", normZero(n.toDouble))
    case n: Double => ("double", normZero(n))
    case s: String => ("string", s)
    case d: java.sql.Date => ("date", d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => ("date", d.toEpochDay)
    case t: java.sql.Timestamp =>
      ("ts", Math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000L)
    case t: java.time.Instant =>
      ("ts", t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      ("ts", i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case d: java.math.BigDecimal => ("decimal", d)
    case d: BigDecimal => ("decimal", d.bigDecimal)
    case other => throw new IllegalArgumentException(
      s"CommitLogStats: unsupported probe value $other " +
        s"(${other.getClass.getName})")
  }

  /** UTF-8 unsigned byte comparison — Spark UTF8String / DuckDB
    * BINARY collation order, NOT java.lang.String's UTF-16 order
    * (they differ above the BMP). */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private[sources] def cmp(tag: String, a: Any, b: Any): Int = tag match {
    case "long" | "date" | "ts" =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "double" => java.lang.Double.compare(
      a.asInstanceOf[Double], b.asInstanceOf[Double])
    case "string" =>
      utf8Compare(a.asInstanceOf[String], b.asInstanceOf[String])
    case "decimal" => a.asInstanceOf[java.math.BigDecimal]
      .compareTo(b.asInstanceOf[java.math.BigDecimal])
  }

  private def jsonValue(tag: String, v: Any): String = tag match {
    case "string" => "\"" + v.asInstanceOf[String]
      .replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r") + "\""
    case "decimal" => "\"" + v.toString + "\""
    case _ => v.toString
  }

  private def parseValue(tag: String, raw: String): Any = tag match {
    case "long" | "date" | "ts" => raw.toLong
    case "double" => raw.toDouble
    case "string" => unescape(raw.stripPrefix("\"").stripSuffix("\""))
    case "decimal" =>
      new java.math.BigDecimal(raw.stripPrefix("\"").stripSuffix("\""))
  }

  /** Single left-to-right unescape — each backslash escape is decoded
    * exactly once. Chained `.replace` calls would re-interpret the
    * OUTPUT of the `\\` pass (e.g. `C:\names` round-trips as
    * `C:\\names` in the sidecar; replace-based decoding would turn
    * the restored `\n` into a newline and corrupt the bound, which
    * can prune a segment that holds matching rows). */
  private def unescape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n'   => sb.append('\n')
          case 'r'   => sb.append('\r')
          case '"'   => sb.append('"')
          case '\\'  => sb.append('\\')
          case other => sb.append('\\').append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  // ---- sidecar write / read -------------------------------------------

  /** The min/max/nulls aggregate list a sidecar is computed from —
    * shared between the per-segment and the grouped (one-pass-for-
    * all-buckets) writers. */
  private def statsAggExprs(statsCols: Seq[String]) =
    statsCols.flatMap(c => Seq(
      min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"))) :+
      count(lit(1)).as("__rows")

  /** Render one sidecar's JSON from an aggregate row (the output of
    * [[statsAggExprs]], possibly with extra grouping columns).
    * Entries are keyed by `keyOf(column)` — every writer passes the
    * column's PHYSICAL name (identity on unmapped tables), and the
    * `"keys":"physical"` marker records that fact so readers can
    * trust the key unconditionally ([[SegmentStats.physicalKeys]]);
    * write-time LOGICAL keys (the legacy format) are reused by
    * rename/drop DDL and need alias hazard-filtering instead. */
  private def sidecarText(schema: StructType, statsCols: Seq[String],
      row: org.apache.spark.sql.Row,
      keyOf: String => String = identity): String = {
    val entries = statsCols.map { c =>
      val dt = schema(c).dataType
      val mn = row.getAs[Any](s"__min_$c")
      val mx = row.getAs[Any](s"__max_$c")
      val nulls = row.getAs[Long](s"__nulls_$c")
      val (tag, body) =
        if (mn == null) (encode(dt, defaultFor(dt))._1,
          s""""min":null,"max":null""")
        else {
          val (t1, emn) = encode(dt, mn)
          val (_, emx) = encode(dt, mx)
          (t1, s""""min":${jsonValue(t1, emn)},"max":${jsonValue(t1, emx)}""")
        }
      s""""${keyOf(c)}":{"t":"$tag",$body,"nulls":$nulls}"""
    }
    val rows = row.getAs[Long]("__rows")
    s"""{"rows":$rows,"keys":"physical",""" +
      s""""cols":{${entries.mkString(",")}}}"""
  }

  /** logical → physical key mapping from a table's CURRENT recorded
    * schema (identity for unmapped tables and for columns absent
    * from the record — synthetic stats columns keep their names). */
  private def physicalKeyFn(spark: SparkSession,
      table: String): String => String = {
    val recorded = CommitLog.snapshot(spark, table)
      .flatMap(_.schema).map(CommitLog.decodeSchema)
    (c: String) => recorded
      .flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
      .map(CommitLog.physicalName).getOrElse(c)
  }

  private def writeSidecarText(spark: SparkSession, segment: String,
      txt: String): Unit = {
    val f = fs(spark, segment)
    val p = new org.apache.hadoop.fs.Path(statsPath(segment))
    val out = f.create(p, false)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  private def requireStatsCols(schema: StructType,
      statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "statsCols must be non-empty")
    statsCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"CommitLogStats: stats column '$c' absent from segment schema " +
          schema.fieldNames.mkString("[", ", ", "]"))
    }
  }

  /** Compute and persist `_stats.json` for an already-written segment.
    * One aggregate job over the segment; the sidecar lands before the
    * caller publishes any manifest naming the segment. `keyOf` maps
    * the caller's LOGICAL stats columns to the PHYSICAL names the
    * file bytes (and the sidecar keys) carry — identity on unmapped
    * tables. */
  private[graft] def writeSidecar(spark: SparkSession, segment: String,
      statsCols: Seq[String],
      keyOf: String => String = identity): Unit = {
    val df = spark.read.parquet(segment)
    val physCols = statsCols.map(keyOf)
    requireStatsCols(df.schema, physCols)
    val aggs = statsAggExprs(physCols)
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    writeSidecarText(spark, segment, sidecarText(df.schema, physCols, row))
  }

  /** Land a bucketed relation as one segment PER BUCKET in a constant
    * number of Spark jobs, regardless of bucket count: ONE shuffled
    * partitioned write (`partitionBy(bucketCol)` after a repartition
    * on it, so each bucket lands as a single file run) plus ONE
    * grouped aggregate that computes every segment's sidecar stats in
    * the same pass. The per-bucket filter-and-write loop this
    * replaces re-scanned the relation once per bucket — at a 16-way
    * OPTIMIZE that is 32+ jobs instead of 2, and at 100 TB it is the
    * difference between one shuffle and N full passes. Buckets are
    * written into an invisible `.staging-` directory and renamed into
    * place (a metadata move on HDFS-class stores); a crashed staging
    * dir is unreferenced garbage the existing vacuum sweep removes.
    * Returns (bucket → segment), empty buckets absent. */
  private def writeBucketedSegments(spark: SparkSession, table: String,
      bucketed: DataFrame, bucketCol: String, dropCols: Seq[String],
      statsCols: Seq[String],
      orderWithin: Seq[Column] = Seq.empty): Seq[(Int, String)] = {
    val clean = bucketed.drop(dropCols.filterNot(_ == bucketCol): _*)
    val landedSchema = StructType(
      clean.schema.filterNot(_.name == bucketCol))
    requireStatsCols(landedSchema, statsCols)
    val f = fs(spark, table)
    val staging = s"$table/data/.staging-${java.util.UUID.randomUUID()}"
    try {
      // sort within partitions after the bucket shuffle so the row
      // groups INSIDE each segment stay range-tight on the layout
      // columns — segment-level disjointness alone would leave every
      // row group spanning its segment's whole range, wasting the
      // footer/page pruning the OPTIMIZE paid a global sort for
      val orderCols =
        if (orderWithin.nonEmpty) orderWithin
        else statsCols.filter(landedSchema.fieldNames.contains).map(col)
      // column mapping: the FILE bytes store physical names, same as
      // writeSegment / stagePartitioned (the rename projection passes
      // the synthetic bucket/rank columns through and preserves the
      // within-partition sort). Without this, an OPTIMIZE/compact of
      // a mapped table would land LOGICAL-named files the physical-
      // schema reader serves as silent NULLs.
      val mapSchema = CommitLog.snapshot(spark, table)
        .flatMap(_.schema).map(CommitLog.decodeSchema)
        .filterNot(CommitLog.isIdentityMapping)
      val sorted = clean.repartition(col(bucketCol))
        .sortWithinPartitions(col(bucketCol) +: orderCols: _*)
      mapSchema.fold(sorted)(CommitLog.toPhysicalFrame(sorted, _))
        .write.partitionBy(bucketCol).parquet(staging)
      val keyOf: String => String = c => mapSchema
        .flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
        .map(CommitLog.physicalName).getOrElse(c)
      val leaves = f.listStatus(new org.apache.hadoop.fs.Path(staging))
        .map(_.getPath).filter(_.getName.startsWith(s"$bucketCol="))
        .map { p =>
          val raw = p.getName.stripPrefix(s"$bucketCol=")
          val b = try raw.toInt catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"CommitLogStats: bucket/slice column '$bucketCol' " +
                  s"produced non-integer staging value '$raw' — NULL " +
                  "slice values are not supported; filter or coalesce " +
                  "them first")
          }
          b -> p
        }
        .toSeq.sortBy(_._1)
      val segs = leaves.map { case (b, src) =>
        val dst = s"$table/data/${java.util.UUID.randomUUID()}"
        if (!f.rename(src, new org.apache.hadoop.fs.Path(dst)))
          throw new java.io.IOException(
            s"CommitLogStats: failed to move staged bucket $src to $dst")
        b -> dst
      }
      val aggs = statsAggExprs(statsCols)
      val statRows = bucketed.groupBy(col(bucketCol))
        .agg(aggs.head, aggs.tail: _*).collect()
        .map(r => r.getAs[Int](bucketCol) -> r).toMap
      segs.foreach { case (b, seg) =>
        writeSidecarText(spark, seg,
          sidecarText(landedSchema, statsCols, statRows(b), keyOf))
      }
      segs
    } finally f.delete(new org.apache.hadoop.fs.Path(staging), true): Unit
  }

  /** A representative value per type so an all-NULL column still
    * records its tag (the probe type check stays loud). */
  private def defaultFor(dt: DataType): Any = dt match {
    case BooleanType => false
    case ByteType | ShortType | IntegerType | LongType => 0L
    case FloatType | DoubleType => 0.0
    case StringType => ""
    case DateType => java.sql.Date.valueOf("1970-01-01")
    case TimestampType => new java.sql.Timestamp(0L)
    case TimestampNTZType =>
      java.time.LocalDateTime.of(1970, 1, 1, 0, 0)
    case _: DecimalType => java.math.BigDecimal.ZERO
    case other => throw new IllegalArgumentException(
      s"CommitLogStats: unsupported stats column type $other")
  }

  // ---- bloom-filter sidecars ------------------------------------------

  private def bloomPath(segment: String, c: String) =
    s"$segment/_bloom_$c.bin"

  private def bloomEligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType =>
      true
    case _ => false
  }

  /** Build bloom-filter sidecars for `cols` on an already-written
    * segment — the POINT-LOOKUP complement of the min/max sidecar:
    * a hash-bucketed (or any unordered) layout leaves every segment's
    * [min,max] spanning the whole key range, so an equality probe on
    * a high-cardinality key prunes NOTHING from stats alone; a bloom
    * answers "definitely absent" per segment. Integral and string
    * columns only (the two shapes Spark's mergeable
    * `DataFrameStatFunctions.bloomFilter` sketch hashes
    * deterministically); loud refusal otherwise. `fpp` defaults tight
    * (1e-6): sidecar bytes are cheap next to segment data, and a
    * false positive costs a wasted segment scan at 100 TB. Written
    * via temp-file + rename so a crashed writer leaves no partial
    * sidecar (readers treat an absent bloom conservatively). */
  private[graft] def writeBloomSidecar(spark: SparkSession,
      segment: String, cols: Seq[String],
      fpp: Double = 0.000001): Unit = {
    require(cols.nonEmpty, "writeBloomSidecar: no columns")
    val df = spark.read.parquet(segment)
    cols.foreach { c =>
      require(df.schema.fieldNames.contains(c),
        s"CommitLogStats: bloom column '$c' absent from segment " +
          s"schema ${df.schema.fieldNames.mkString("[", ", ", "]")}")
      require(bloomEligible(df.schema(c).dataType),
        s"CommitLogStats: bloom column '$c' has type " +
          s"${df.schema(c).dataType} — only integral and string " +
          "columns hash deterministically into the sketch")
    }
    val n = math.max(1L, df.count())
    val f = fs(spark, segment)
    cols.foreach { c =>
      val bf = df.stat.bloomFilter(c, n, fpp)
      val tmp = new org.apache.hadoop.fs.Path(
        s"$segment/_bloom_tmp_${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try bf.writeTo(out) finally out.close()
      // rename-over-existing is false on HDFS-contract stores:
      // remove a stale destination first (segments are immutable, so
      // a rebuilt bloom is bit-identical anyway)
      val dst = new org.apache.hadoop.fs.Path(bloomPath(segment, c))
      if (f.exists(dst)) f.delete(dst, false): Unit
      if (!f.rename(tmp, dst)) {
        f.delete(tmp, false): Unit
        throw new java.io.IOException(
          s"CommitLogStats: bloom sidecar rename failed for " +
            s"'$c' at $segment")
      }
    }
  }

  /** Load a segment's bloom sidecar for one column; None when never
    * recorded — the skipping planner keeps the segment. */
  private[graft] def readBloom(spark: SparkSession, segment: String,
      c: String): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val f = fs(spark, segment)
    val p = new org.apache.hadoop.fs.Path(bloomPath(segment, c))
    if (!f.exists(p)) return None
    val in = f.open(p)
    try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
    finally in.close()
  }

  /** Backfill bloom sidecars on every CURRENT-snapshot segment that
    * lacks one for any of `cols`. A maintenance verb in the OPTIMIZE
    * class: one count + one sketch aggregate per missing segment
    * (sequential here; at cluster scale the per-segment jobs are
    * embarrassingly parallel). Segments stay immutable — a sidecar
    * is additive metadata, and readers without it keep the segment
    * conservatively. Returns the number of segments backfilled. */
  def attachBlooms(spark: SparkSession, table: String,
      cols: Seq[String], fpp: Double = 0.000001): Int = {
    val snap = CommitLog.snapshot(spark, table).getOrElse(
      throw new IllegalStateException(
        s"CommitLogStats.attachBlooms: no committed version at $table"))
    // bloom files are keyed by PHYSICAL name, same as the file bytes
    // they index (identity on unmapped tables)
    val keyOf = physicalKeyFn(spark, table)
    val physCols = cols.map(keyOf)
    // per segment, build ONLY the absent columns: a partial-overlap
    // backfill must not rescan for (or rename over) existing blooms
    val missing = snap.segments.flatMap { seg =>
      val f = fs(spark, seg)
      val absent = physCols.filter(c => !f.exists(
        new org.apache.hadoop.fs.Path(bloomPath(seg, c))))
      if (absent.isEmpty) None else Some(seg -> absent)
    }
    missing.foreach { case (seg, absent) =>
      writeBloomSidecar(spark, seg, absent, fpp)
    }
    missing.size
  }

  /** Per-JVM memo of sidecar row counts: sidecars land BEFORE any
    * manifest names their segment and segments are immutable, so a
    * positive hit can never go stale (absence is NOT cached — a
    * foreign writer's segment stays a fresh probe). */
  private val rowsCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Exact row count of a published segment set from sidecars ALONE —
    * None when any segment lacks one (the caller reports unknown
    * rather than a partial lie). One tiny sidecar read per segment on
    * first touch, then memoized: this is what lets the DSv2 scan
    * report CBO-grade row counts with zero data-file I/O and no
    * ANALYZE. */
  private[sources] def segmentsRowCount(spark: SparkSession,
      segments: Seq[String]): Option[Long] = {
    var total = 0L
    val it = segments.iterator
    while (it.hasNext) {
      val seg = it.next()
      val cached = rowsCache.get(seg)
      if (cached != null) total += cached.longValue
      else readSidecar(spark, seg) match {
        case Some(st) =>
          rowsCache.put(seg, st.rows): Unit
          total += st.rows
        case None => return None
      }
    }
    Some(total)
  }

  /** Load a segment's sidecar; None when the segment never recorded
    * one (a foreign or pre-stats writer) — the caller keeps it. */
  def readSidecar(spark: SparkSession, segment: String)
      : Option[SegmentStats] = {
    val f = fs(spark, segment)
    val p = new org.apache.hadoop.fs.Path(statsPath(segment))
    if (!f.exists(p)) return None
    val in = f.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val rows = "\"rows\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
      .map(_.group(1).toLong).getOrElse(0L)
    val entry = ("\"([^\"]+)\"\\s*:\\s*\\{\"t\":\"(\\w+)\"," +
      "\"min\":(null|\"(?:[^\"\\\\]|\\\\.)*\"|[-0-9.eE]+)," +
      "\"max\":(null|\"(?:[^\"\\\\]|\\\\.)*\"|[-0-9.eE]+)," +
      "\"nulls\":(\\d+)\\}").r
    val cols = entry.findAllMatchIn(txt).map { m =>
      val tag = m.group(2)
      val mn = if (m.group(3) == "null") None
        else Some(parseValue(tag, m.group(3)))
      val mx = if (m.group(4) == "null") None
        else Some(parseValue(tag, m.group(4)))
      m.group(1) -> ColStats(tag, mn, mx, m.group(5).toLong)
    }.toMap
    Some(SegmentStats(rows, cols,
      physicalKeys = txt.contains("\"keys\":\"physical\"")))
  }

  // ---- stats-carrying commits -----------------------------------------

  /** [[CommitLog.append]] with a stats sidecar on the new segment.
    * Identical OCC publish loop; the sidecar is in place before the
    * first manifest names the segment. */
  def appendWithStats(spark: SparkSession, table: String, df: DataFrame,
      statsCols: Seq[String]): Long = {
    val (seg, gated0) = CommitLog.writeSegmentGated(spark, table, df)
    var gated = gated0
    // the segment's file bytes carry physical names (writeSegment's
    // mapping fold); the sidecar keys must match them
    writeSidecar(spark, seg, statsCols, physicalKeyFn(spark, table))
    CommitLog.transact(spark, table, "CommitLogStats.appendWithStats",
        staged = Seq(seg)) { tx =>
      val cur = tx.cur
      gated = CommitLog.regateOnConstraintChange(spark, table,
        Seq(seg), gated, cur)
      val v = cur.fold(1L)(_.version + 1L)
      CommitLog.Publish(CommitLog.Snapshot(v,
        cur.fold(Seq.empty[String])(_.segments) :+ seg,
        cur.fold(0L)(_.version), "append",
        schema = cur.flatMap(_.schema), dv = cur.flatMap(_.dv)), v)
    }
  }

  /** SLICED APPEND: land a frame carrying a caller-computed integer
    * slice column as one segment PER SLICE in ONE append commit —
    * the constant-job-count way to build a skippable time-sliced
    * table (e.g. one segment per calendar year): one shuffled
    * partitioned write + one grouped stats pass regardless of slice
    * count, versus a write job + a stats job + a manifest commit PER
    * slice for an appendWithStats loop. The slice column is dropped
    * from the landed data; `statsCols` (typically the column the
    * slicing was derived from) get sidecars with per-slice bounds,
    * so [[planSkipping]] and the SQL read path prune exactly as for
    * the loop-built layout. */
  def appendSliced(spark: SparkSession, table: String, df: DataFrame,
      sliceCol: String, statsCols: Seq[String]): Long = {
    require(df.schema.fieldNames.contains(sliceCol),
      s"appendSliced: slice column '$sliceCol' absent from frame")
    require(df.schema(sliceCol).dataType == IntegerType,
      s"appendSliced: slice column '$sliceCol' must be INT (got " +
        s"${df.schema(sliceCol).dataType}) — cast the slice expression")
    // the sliced stager bypasses writeSegment, so generated columns
    // compute HERE and the persistent CHECK constraints gate HERE —
    // on the pinned input (minus the synthetic slice column, which
    // never lands), BEFORE any staged directory is renamed into
    // data/ (this path previously had NO gate: a constraint-bearing
    // table could take violating rows through the sliced ingest)
    val curSnap = CommitLog.snapshot(spark, table)
    val persisted = CommitLog.computeGenerated(
      CommitLog.computeDefaults(df,
        curSnap.flatMap(_.schema).map(CommitLog.decodeSchema)),
      curSnap.flatMap(_.schema).map(CommitLog.decodeSchema)).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var gated = CommitLog.constraintsOf(spark, table, curSnap)
    val (segs, idExtents) =
      try {
        // same omission/identity refusals as writeSegmentGated — this
        // stager bypasses it, and an omitted identity/NOT NULL column
        // (or a NULL in a non-allocating identity column) would land
        // silently and read back NULL (the slice column never lands,
        // so it is excluded from the probe)
        CommitLog.gateStagedOmissions("appendSliced", table,
          persisted.drop(sliceCol), curSnap)
        val ext = CommitLog.stagedIdentityExtents("appendSliced",
          table, persisted, curSnap)
        CommitLog.constraintViolation(spark, table,
          persisted.drop(sliceCol), curSnap).foreach(msg =>
            throw new IllegalStateException(s"CommitLog: $msg"))
        (writeBucketedSegments(spark, table, persisted, sliceCol,
          Seq.empty, statsCols).map(_._2), ext)
      } finally persisted.unpersist()
    CommitLog.transact(spark, table, "CommitLogStats.appendSliced",
        staged = segs) { tx =>
      val cur = tx.cur
      gated = CommitLog.regateOnConstraintChange(spark, table,
        segs, gated, cur)
      val v = cur.fold(1L)(_.version + 1L)
      CommitLog.Publish(CommitLog.Snapshot(v,
        cur.fold(Seq.empty[String])(_.segments) ++ segs,
        cur.fold(0L)(_.version), "append",
        schema = cur.flatMap(_.schema), dv = cur.flatMap(_.dv),
        // provided BY DEFAULT identity values auto-SYNC the marks
        // (re-folded per retry against the fresh snapshot — safe,
        // marks only advance)
        identity = if (idExtents.isEmpty) None
          else Some(CommitLog.encodeIdentityMarks(CommitLog.syncMarks(
            CommitLog.decodeIdentity(cur.flatMap(_.identity)),
            idExtents)))), v)
    }
  }

  /** PARTITIONED APPEND: land `df` as one segment PER DISTINCT
    * partition-column tuple, committed as ONE manifest version — the
    * layout knob Delta/Iceberg users reach for first, expressed
    * through the machinery the tier already has: each segment's
    * sidecar records min = max = its partition value, so the EXISTING
    * skipping planner (programmatic [[planSkipping]] AND the SQL/DSv2
    * read path) serves as partition pruning — an equality or range
    * probe on a partition column opens only the matching segments,
    * with no manifest-format change and no partition-value injection
    * at read time (the columns stay IN the data files; the
    * `partitionBy` staging write sees cloned `__p_` twins, so the
    * originals survive). DML write amplification is bounded the same
    * way: a delete/update/merge touching K partitions rewrites K
    * segments.
    *
    * One shuffled partitioned write + one grouped stats pass,
    * regardless of partition count ([[writeBucketedSegments]]'s
    * shape). Partition columns must be STRING / integral / BOOLEAN
    * and non-NULL — loud refusal otherwise (the restriction keeps
    * the staged directory name ↔ value mapping exact; Hive-style
    * partitioning without the __HIVE_DEFAULT_PARTITION__ null
    * ambiguity). Extra `statsCols` ride along for range skipping on
    * non-partition columns. */
  def appendPartitioned(spark: SparkSession, table: String,
      df: DataFrame, partitionCols: Seq[String],
      statsCols: Seq[String] = Seq.empty): Long = {
    val (segs, gated0, idExtents) = stagePartitionedGated(spark, table,
      df, partitionCols, statsCols)
    var gated = gated0
    CommitLog.transact(spark, table, "CommitLogStats.appendPartitioned",
        staged = segs) { tx =>
      val cur = tx.cur
      gated = CommitLog.regateOnConstraintChange(spark, table,
        segs, gated, cur)
      val v = cur.fold(1L)(_.version + 1L)
      CommitLog.Publish(CommitLog.Snapshot(v,
        cur.fold(Seq.empty[String])(_.segments) ++ segs,
        cur.fold(0L)(_.version), "append",
        schema = cur.flatMap(_.schema), dv = cur.flatMap(_.dv),
        identity = if (idExtents.isEmpty) None
          else Some(CommitLog.encodeIdentityMarks(CommitLog.syncMarks(
            CommitLog.decodeIdentity(cur.flatMap(_.identity)),
            idExtents)))), v)
    }
  }

  /** [[appendPartitioned]] with [[CommitLog.appendTxn]]'s
    * exactly-once idempotent-writer stamp — the partitioned
    * streaming-sink path: each micro-batch lands one segment per
    * partition tuple (born prunable, min=max sidecars) in ONE
    * txn-stamped version; a crash-replayed or concurrently-raced
    * batch is recognized by its (appId, batchId) and dropped with
    * its staged segments. Returns None when skipped. */
  def appendPartitionedTxn(spark: SparkSession, table: String,
      df: DataFrame, partitionCols: Seq[String], appId: String,
      batchId: Long, statsCols: Seq[String] = Seq.empty): Option[Long] = {
    if (CommitLog.lastTxn(spark, table, appId).exists(_ >= batchId))
      return None
    val (segs, gated0, idExtents) = stagePartitionedGated(spark, table,
      df, partitionCols, statsCols)
    var gated = gated0
    CommitLog.transact(spark, table, "CommitLogStats.appendPartitionedTxn",
        staged = segs) { tx =>
      // a concurrent replica of the same query won the race with this
      // very batch: report skipped (Done drops the orphaned segments)
      if (CommitLog.lastTxn(spark, table, appId).exists(_ >= batchId))
        CommitLog.Done(None)
      else {
        val cur = tx.cur
        gated = CommitLog.regateOnConstraintChange(spark, table,
          segs, gated, cur)
        val v = cur.fold(1L)(_.version + 1L)
        CommitLog.Publish(CommitLog.Snapshot(v,
          cur.fold(Seq.empty[String])(_.segments) ++ segs,
          cur.fold(0L)(_.version), "streaming-append",
          txnApp = Some(appId), txnBatch = Some(batchId),
          schema = cur.flatMap(_.schema), dv = cur.flatMap(_.dv),
          identity = if (idExtents.isEmpty) None
            else Some(CommitLog.encodeIdentityMarks(CommitLog.syncMarks(
              CommitLog.decodeIdentity(cur.flatMap(_.identity)),
              idExtents)))), Some(v))
      }
    }
  }

  /** [[appendPartitioned]]'s staging step alone: land `df` as one
    * sidecar'd segment per partition tuple and return the segment
    * list WITHOUT publishing — the caller commits them in its own
    * snapshot (the catalog's partitioned INSERT OVERWRITE publishes
    * an `overwrite` version over the same staged set). */
  private[sources] def stagePartitioned(spark: SparkSession,
      table: String, df: DataFrame, partitionCols: Seq[String],
      statsCols: Seq[String] = Seq.empty,
      enforce: Boolean = true): Seq[String] =
    stagePartitionedGated(spark, table, df, partitionCols, statsCols,
      enforce)._1

  /** [[stagePartitioned]] plus the constraint set the gate ran
    * against (empty for `enforce=false` CTAS/RTAS staging) — the
    * committing loop's re-gate yardstick — plus the provided
    * identity extents for the committing loop's mark auto-SYNC. */
  private[sources] def stagePartitionedGated(spark: SparkSession,
      table: String, df: DataFrame, partitionCols: Seq[String],
      statsCols: Seq[String] = Seq.empty,
      enforce: Boolean = true): (Seq[String], Map[String, String],
        Seq[(org.apache.spark.sql.types.StructField,
          Option[Long], Option[Long])]) = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    // GENERATED ALWAYS AS, before the partition-column checks: the
    // Delta-common pattern PARTITIONED BY a generated column works
    // with the frame omitting it (computed here); ONE resolution
    // serves generation, mapping and the gate. CTAS/RTAS staging
    // (enforce=false) writes the DECLARED schema — Spark computes.
    val curSnap0 =
      if (enforce) CommitLog.snapshot(spark, table) else None
    val df0 = CommitLog.computeGenerated(
      CommitLog.computeDefaults(df,
        curSnap0.flatMap(_.schema).map(CommitLog.decodeSchema)),
      curSnap0.flatMap(_.schema).map(CommitLog.decodeSchema))
    val schema = df0.schema
    partitionCols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"appendPartitioned: partition column '$c' absent from schema")
      schema(c).dataType match {
        case StringType | ByteType | ShortType | IntegerType |
             LongType | BooleanType => ()
        case other => throw new IllegalArgumentException(
          s"appendPartitioned: partition column '$c' has type $other " +
            "— only STRING / integral / BOOLEAN partition columns " +
            "are supported (keeps directory-name ↔ value mapping exact)")
      }
    }
    val sidecarCols = (partitionCols ++ statsCols).distinct
    requireStatsCols(schema, sidecarCols)
    val f = fs(spark, table)
    val staging = s"$table/data/.staging-${java.util.UUID.randomUUID()}"
    val pCols = partitionCols.map(c => s"__p_$c")
    // persist: the write pass and the stats pass MUST see the same
    // rows — a nondeterministic source (sampled / rand-derived /
    // shuffle-order-dependent) recomputed between the two actions
    // would give sidecar bounds that don't cover the landed rows,
    // and skipping would silently prune matching segments
    val pinned = df0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the entry resolution serves the constraint gate AND the
    // column-mapping decision below (None for CTAS/RTAS staging,
    // which must see neither the replaced table's rules nor its
    // mapping)
    val curSnap = curSnap0
    val (segs: Seq[String], idExtents) =
      try {
        // the partitioned stager bypasses writeSegment, so the
        // persistent CHECK constraints gate here — on the pinned
        // input, BEFORE any staged directory is renamed into data/
        // (skipped by CTAS/RTAS staging, whose rules belong to the
        // table definition being committed, not the replaced one).
        // Same for writeSegmentGated's omission/identity refusals:
        // an omitted identity/NOT NULL column (or a NULL in a
        // non-allocating identity column) would land silently and
        // read back NULL.
        val ext = if (enforce) {
          CommitLog.gateStagedOmissions("appendPartitioned", table,
            pinned, curSnap)
          CommitLog.stagedIdentityExtents("appendPartitioned", table,
            pinned, curSnap)
        } else Seq.empty
        if (enforce)
          CommitLog.constraintViolation(spark, table, pinned, curSnap)
            .foreach(msg =>
              throw new IllegalStateException(s"CommitLog: $msg"))
        // clone the partition columns so partitionBy's column
        // dropping leaves the originals in the data files; sort
        // within partitions on the stats columns so parquet row
        // groups inside each segment stay range-tight
        val staged = partitionCols.foldLeft(pinned)((d, c) =>
          d.withColumn(s"__p_$c", col(c)))
        // column mapping: the FILE bytes store physical names, same
        // as writeSegment's path (partition columns are rename-
        // refused, so the __p_ clones and directory names are
        // untouched; the projection preserves the within-partition
        // sort). Without this, a renamed column's data written
        // through the partitioned path would be invisible to the
        // physical-schema reader — silent NULLs. CTAS/RTAS staging
        // (enforce=false) must NOT apply the PRE-replace table's
        // mapping: the staged commit records the declared
        // identity-mapped schema, so files written under the old
        // physical names would serve silent NULLs after the replace
        // (stageSegmentUnchecked, the unpartitioned twin, already
        // skips it).
        val mapped = curSnap
          .flatMap(_.schema).map(CommitLog.decodeSchema)
          .filterNot(CommitLog.isIdentityMapping)
        val sorted = staged.repartition(partitionCols.map(col): _*)
          .sortWithinPartitions(sidecarCols.map(col): _*)
        mapped.fold(sorted)(CommitLog.toPhysicalFrame(sorted, _))
          .write.partitionBy(pCols: _*).parquet(staging)
        val aggs = statsAggExprs(sidecarCols) :+
          sum(when(partitionCols.map(col(_).isNull)
            .reduce(_ || _), 1L).otherwise(0L)).as("__p_nulls")
        val groups = pinned.groupBy(partitionCols.map(col): _*)
          .agg(aggs.head, aggs.tail: _*).collect()
        if (groups.exists(_.getAs[Long]("__p_nulls") > 0L) ||
            groups.exists(r => partitionCols.indices.exists(r.isNullAt)))
          throw new IllegalArgumentException(
            "appendPartitioned: NULL partition values are not " +
              "supported — filter or coalesce them first")
        // empty strings share NULL's staging directory name
        // (__HIVE_DEFAULT_PARTITION__), so the value ↔ path mapping
        // stops being exact — refuse BEFORE any rename, same as NULL
        if (groups.exists(r => partitionCols.indices.exists(i =>
            r.get(i) == "")))
          throw new IllegalArgumentException(
            "appendPartitioned: empty-string partition values are " +
              "not supported (they alias the NULL staging directory)" +
              " — filter or map them first")
        (groups.toSeq.map { row =>
          val leaf = partitionCols.map { c =>
            val v = row.getAs[Any](c)
            val s = v match {
              case str: String => org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.escapePathName(str)
              case other => other.toString
            }
            s"__p_$c=$s"
          }.mkString("/")
          val src = new org.apache.hadoop.fs.Path(s"$staging/$leaf")
          require(f.exists(src),
            s"appendPartitioned: staged partition dir $src missing — " +
              "value/path encoding mismatch (report the partition value)")
          val dst = s"$table/data/${java.util.UUID.randomUUID()}"
          if (!f.rename(src, new org.apache.hadoop.fs.Path(dst)))
            throw new java.io.IOException(
              s"appendPartitioned: failed to move $src to $dst")
          // sidecar keys match the file bytes: physical names (the
          // partition columns themselves are rename-refused, so
          // their keys are always their own names)
          val keyOf: String => String = c => mapped
            .flatMap(_.fields.find(_.name.equalsIgnoreCase(c)))
            .map(CommitLog.physicalName).getOrElse(c)
          writeSidecarText(spark, dst,
            sidecarText(schema, sidecarCols, row, keyOf))
          dst
        }, ext)
      } finally {
        pinned.unpersist()
        f.delete(new org.apache.hadoop.fs.Path(staging), true): Unit
      }
    (segs,
      if (enforce) CommitLog.constraintsOf(spark, table, curSnap)
      else Map.empty,
      idExtents)
  }

  /** OPTIMIZE for skippability: rewrite the CURRENT snapshot as
    * `nSegments` range-disjoint segments on `clusterCols` (split
    * points from a distributed row-number pass — no single-reducer
    * window), each with a stats sidecar, committed as ONE manifest
    * version (`op = "compact"`, so the change feed treats it as the
    * content-preserving rewrite it is). Turns an ingest-ordered table
    * whose every segment spans the full probe range into one where
    * [[readSkipping]] prunes all but the touched slices. Pass enough
    * `clusterCols` to make the ordering UNIQUE — boundary ties on a
    * non-unique prefix would let shuffle order move rows across
    * segment boundaries between runs. */
  /** OPTIMIZE-vs-DML concurrency row of the isolation contract
    * (raced in CommitLogSpec alongside the merge-vs-merge law): a
    * compact losing the version race to a concurrent vectored delete
    * REBASES PRESERVING THE DELETION — every OCC attempt re-resolves
    * the FRESH snapshot and reads it LIVE (`readLive` subtracts the
    * winner's deletion vector), so the rewritten segments materialize
    * the subtraction and the published compact (which carries no DV)
    * can never resurrect deleted rows. The mirrored ordering holds
    * too: a vectored delete losing to a compact rebases onto the
    * rewritten segment set inside its own OCC loop. */
  def compactClustered(spark: SparkSession, table: String,
      clusterCols: Seq[String], nSegments: Int,
      statsCols: Seq[String]): Long = {
    require(nSegments >= 1, "nSegments must be >= 1")
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    CommitLog.transact(spark, table,
        "CommitLogStats.compactClustered") { tx =>
      val cur = tx.existing
      val df = CommitLog.readLive(spark, cur)
      // rank + total in ONE pass (the offset fold already counts;
      // a separate count() re-read the whole ranked relation)
      val (ranked, total) = graft.operators.DistributedRank
        .globalRowNumberCounted(df, clusterCols.map(col), "__rn")
      val n = math.max(1L, total)
      // floor division — Spark's `/` on integral columns is DOUBLE
      // division; floor() is exact here ((rn-1)*nSegments ≪ 2^53)
      val bucketed = tx.pin(ranked.withColumn("__bucket",
        floor(((col("__rn") - 1L) * nSegments) / lit(n)).cast("int")))
      val segs = tx.stage(writeBucketedSegments(spark, table, bucketed,
        "__bucket", Seq("__rn"), statsCols,
        orderWithin = clusterCols.map(col)).map(_._2))
      CommitLog.Publish(CommitLog.Snapshot(cur.version + 1L, segs,
        cur.version, "compact", schema = cur.schema), cur.version + 1L)
    }
  }

  /** Stage `df` range-clustered on `clusterCols` and publish it as a
    * FRESH table's full content in ONE commit — the build-time form
    * of [[compactClustered]]. An index build previously appended one
    * segment and immediately rewrote it clustered: two full writes
    * plus a read-back of bytes the builder already held (guide §6 —
    * never re-read what you just wrote). Records the (txnApp,
    * txnBatch) exactly-once stamp when given. Refuses on an EXISTING
    * table: a content replace must go through overwriteWhere's
    * CDC/constraint path. */
  private[graft] def installClustered(spark: SparkSession,
      table: String, df: DataFrame, clusterCols: Seq[String],
      nSegments: Int, statsCols: Seq[String],
      txn: Option[(String, Long)] = None): Long = {
    require(nSegments >= 1, "nSegments must be >= 1")
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    def refuseExisting(): Nothing = throw new IllegalStateException(
      s"CommitLogStats.installClustered: $table already exists — " +
        "content replacement must record CDC (overwriteWhere + " +
        "compactClustered)")
    if (CommitLog.currentVersion(spark, table).isDefined) refuseExisting()
    val (ranked, total) = graft.operators.DistributedRank
      .globalRowNumberCounted(df, clusterCols.map(col), "__rn")
    val n = math.max(1L, total)
    val bucketed = ranked.withColumn("__bucket",
      floor(((col("__rn") - 1L) * nSegments) / lit(n))
        .cast("int")).persist()
    val segs =
      try writeBucketedSegments(spark, table, bucketed,
        "__bucket", Seq("__rn"), statsCols,
        orderWithin = clusterCols.map(col)).map(_._2)
      finally bucketed.unpersist(): Unit
    // the segments are the WHOLE table: a writer that created the
    // table while they staged wins, and they are dropped
    CommitLog.transact(spark, table, "CommitLogStats.installClustered",
        staged = segs) { tx =>
      if (tx.cur.isDefined) refuseExisting()
      CommitLog.Publish(CommitLog.Snapshot(1L, segs, 0L, "append",
        txnApp = txn.map(_._1), txnBatch = txn.map(_._2)), 1L)
    }
  }

  /** INCREMENTAL clustered OPTIMIZE — rewrite only the unsorted tail,
    * never the whole table (Delta's liquid-clustering economics: at
    * 100 TB a full [[compactClustered]] re-shuffles everything a
    * steady-state table has already sorted; nightly maintenance must
    * cost O(new data)).
    *
    * Scheme: from the snapshot's sidecar ranges on `clusterCols.head`,
    * pick a maximum set of pairwise-DISJOINT segments (classic
    * interval scheduling: sort by upper bound, greedy) — those are
    * KEPT byte-identical; everything else (overlapping segments, plus
    * any segment with no sidecar/column — unknowable range) is read
    * once and rewritten as range-disjoint segments of
    * ~`targetRowsPerSegment`. The kept chain is disjoint and the
    * rewritten output is disjoint, so after ONE pass every probe
    * point is covered by at most TWO segments — the `maxDepth = 2`
    * steady state, at which further calls are NO-OPS (version
    * unchanged, nothing rewritten) until new appends raise the
    * overlap depth again. A periodic full [[compactClustered]]
    * remains the deep-clean that restores depth 1.
    *
    * Deletion vectors: the rewritten subset is read LIVE (its dead
    * rows materialize away); kept segments still need the vector, so
    * the commit carries it. Returns
    * (committedVersion, segmentsRewritten, segmentsKept). */
  def compactClusteredIncremental(spark: SparkSession, table: String,
      clusterCols: Seq[String], targetRowsPerSegment: Long,
      statsCols: Seq[String], maxDepth: Int = 2): (Long, Int, Int) = {
    require(clusterCols.nonEmpty, "clusterCols must be non-empty")
    require(targetRowsPerSegment > 0, "targetRowsPerSegment must be > 0")
    require(maxDepth >= 2,
      "maxDepth must be >= 2 — depth 1 needs the full compactClustered")
    val rangeCol = clusterCols.head
    require(statsCols.contains(rangeCol),
      s"compactClusteredIncremental: statsCols must include the lead " +
        s"cluster column '$rangeCol' — without its sidecar every " +
        "rewritten segment is opaque to the NEXT call, which would " +
        "rewrite the whole table every run instead of converging")
    CommitLog.transact(spark, table,
        "CommitLogStats.compactClusteredIncremental") { tx =>
      val cur = tx.existing
      // sidecar ranges; a segment without a sidecar or the column has
      // an unknowable range → must rewrite. A segment whose range
      // column is ALL NULL is its own class: invisible to range
      // probes (IS NULL keeps it via the null count), and rewriting
      // it would make it opaque forever (its sidecar min/max stay
      // null) — leave such segments in place like the kept chain.
      // era-correct sidecar lookup (physical keys on mapped tables;
      // hazard-filtered legacy aliases otherwise) — raw logical-name
      // lookups would classify every renamed-column sidecar as
      // opaque (full rewrite) and could mis-range via a stale
      // reused-name key
      val rangeKeys = skippingKeys(cur.schema, Seq(rangeCol))(rangeCol)
      val sided = cur.segments.map(seg =>
        seg -> readSidecar(spark, seg))
      val allNull = sided.collect {
        case (seg, Some(st)) if lookupStats(st, rangeKeys).exists(cs =>
          cs.min.isEmpty && cs.nulls == st.rows && st.rows > 0) => seg
      }.toSet
      val ranged = sided.filterNot(s => allNull(s._1)).map {
        case (seg, side) =>
          val r = side.flatMap(lookupStats(_, rangeKeys))
            .flatMap(cs => (cs.min, cs.max) match {
              case (Some(mn), Some(mx)) => Some((cs.tag, mn, mx))
              case _ => None
            })
          seg -> r
      }
      val tags = ranged.flatMap(_._2).map(_._1).distinct
      require(tags.size <= 1,
        s"compactClusteredIncremental: segments disagree on " +
          s"'$rangeCol' stats type (${tags.mkString(", ")})")
      val opaque = ranged.collect { case (seg, None) => seg }
      val known = ranged.collect { case (seg, Some((t, mn, mx))) =>
        (seg, t, mn, mx) }
      val tag = tags.headOption.getOrElse("long")
      // steady-state check FIRST: max INTERIOR overlap depth over the
      // known ranges. At an equal coordinate, non-degenerate ends
      // count before starts (half-open sweep: adjacent segments
      // sharing one boundary VALUE — duplicate cluster keys
      // straddling a split — is not reducible by rewriting), but a
      // DEGENERATE [v,v] interval counts as covering v, so a stack of
      // same-single-value segments (daily one-date appends — the
      // canonical target workload) is depth k, not invisible.
      // Event order at a coordinate: nondeg-end, deg-start, deg-end,
      // nondeg-start. Depth <= maxDepth and nothing opaque → no-op;
      // one pass leaves (kept chain) ∪ (new disjoint output) =
      // interior depth <= 2, which is what makes calls converge.
      val maxD = {
        val events = known.flatMap { case (_, _, mn, mx) =>
          if (cmp(tag, mn, mx) == 0) Seq((mn, 1, 1), (mx, -1, 2))
          else Seq((mn, 1, 3), (mx, -1, 0))
        }
        val sorted = events.sortWith { (a, b) =>
          val c = cmp(tag, a._1, b._1)
          if (c != 0) c < 0 else a._3 < b._3
        }
        var d = 0; var m = 0
        sorted.foreach { e => d += e._2; m = math.max(m, d) }
        m
      }
      if (opaque.isEmpty && maxD <= maxDepth)
        CommitLog.Done((cur.version, 0, cur.segments.size))
      else {
        // interval scheduling: keep a maximum chain of segments with
        // disjoint INTERIORS — a boundary-value tie is allowed only for
        // a non-degenerate newcomer (matching the sweep): a [v,v]
        // segment repeating the chain's current max is a REDUCIBLE
        // stack member and must go to the rewrite set to be merged
        val chain = scala.collection.mutable.ArrayBuffer.empty[String]
        var lastMax: Option[Any] = None
        known.sortWith((a, b) => cmp(a._2, a._4, b._4) < 0).foreach {
          case (seg, _, mn, mx) =>
            val admit = lastMax.forall { lm =>
              val c = cmp(tag, mn, lm)
              c > 0 || (c == 0 && cmp(tag, mx, mn) > 0)
            }
            if (admit) { chain += seg; lastMax = Some(mx) }
        }
        val kept = chain.toSet ++ allNull
        val rewrite = cur.segments.filterNot(kept)
        if (rewrite.isEmpty)
          CommitLog.Done((cur.version, 0, cur.segments.size))
        else {
          val df = CommitLog.readLive(spark, cur, Some(rewrite))
          val (ranked, total) = graft.operators.DistributedRank
            .globalRowNumberCounted(df, clusterCols.map(col), "__rn")
          val n = math.max(1L, total)
          val nSegments = math.max(1L,
            (n + targetRowsPerSegment - 1) / targetRowsPerSegment).toInt
          val bucketed = tx.pin(ranked.withColumn("__bucket",
            floor(((col("__rn") - 1L) * nSegments) / lit(n)).cast("int")))
          val segs = tx.stage(writeBucketedSegments(spark, table, bucketed,
            "__bucket", Seq("__rn"), statsCols,
            orderWithin = clusterCols.map(col)).map(_._2))
          CommitLog.Publish(CommitLog.Snapshot(cur.version + 1L,
            cur.segments.filter(kept) ++ segs,
            cur.version, "compact", schema = cur.schema, dv = cur.dv),
            (cur.version + 1L, rewrite.size, kept.size))
        }
      }
    }
  }

  /** Z-ORDER OPTIMIZE: [[compactClustered]]'s 2-D sibling — segments
    * are range-disjoint in MORTON order (bit-interleave of xCol and
    * yCol, the same exact-integer `zOrder` the q123 layout tier
    * replays in SQL), so each segment's sidecar bounds BOTH
    * dimensions and a 2-D box probe ([[planSkippingAll]]) prunes
    * where any single-column sort would leave the other dimension
    * unconstrained. `tieBreak` columns must make the total order
    * unique (same contract as compactClustered). Both columns must be
    * non-negative integral < 2^31 for the interleave to be a
    * bijection — larger keys alias deterministically (documented at
    * the q123 tier). */
  def compactZOrder(spark: SparkSession, table: String,
      xCol: String, yCol: String, tieBreak: Seq[String],
      nSegments: Int, statsCols: Seq[String]): Long =
    compactZOrderN(spark, table, Seq(xCol, yCol), tieBreak,
      nSegments, statsCols)

  /** N-DIMENSIONAL [[compactZOrder]]: segments range-disjoint in the
    * N-way Morton order ([[graft.queries.Pipeline10.zOrderN]] — bit
    * i of dim d at output bit n*i+d, so the 2-D verb is exactly the
    * n=2 instance), each sidecar bounding ALL interleaved dimensions
    * at once: an N-D box probe ([[planSkippingAll]]) prunes where
    * any lower-dimensional sort leaves the remaining dims
    * unconstrained. `bits` = per-dimension bit budget (0 → the
    * largest that keeps the key a positive Long, 62/n: 31 at n=2,
    * 20 at n=3); keys ≥ 2^bits alias deterministically (locality
    * cost only — the exact predicate refilters). `tieBreak` must
    * make the total order unique, same contract as every clustered
    * OPTIMIZE. */
  def compactZOrderN(spark: SparkSession, table: String,
      zCols: Seq[String], tieBreak: Seq[String],
      nSegments: Int, statsCols: Seq[String], bits: Int = 0): Long = {
    require(nSegments >= 1, "nSegments must be >= 1")
    require(zCols.size >= 2,
      s"compactZOrderN: need >= 2 z-order columns, got ${zCols.size}")
    val b = if (bits > 0) bits else 62 / zCols.size
    CommitLog.transact(spark, table,
        "CommitLogStats.compactZOrder") { tx =>
      val cur = tx.existing
      val df = CommitLog.readLive(spark, cur)
        .withColumn("__z", graft.queries.Pipeline10.zOrderN(
          zCols.map(col), b))
      val (ranked, total) = graft.operators.DistributedRank
        .globalRowNumberCounted(df, col("__z") +: tieBreak.map(col),
          "__rn")
      val n = math.max(1L, total)
      val bucketed = tx.pin(ranked.withColumn("__bucket",
        floor(((col("__rn") - 1L) * nSegments) / lit(n)).cast("int")))
      val segs = tx.stage(writeBucketedSegments(spark, table, bucketed,
        "__bucket", Seq("__z", "__rn"), statsCols).map(_._2))
      CommitLog.Publish(CommitLog.Snapshot(cur.version + 1L, segs,
        cur.version, "compact", schema = cur.schema), cur.version + 1L)
    }
  }

  /** KEY-BUCKETED OPTIMIZE: rewrite the snapshot as `nBuckets`
    * hash-disjoint segments on `keys` (segment i holds exactly the
    * rows with pmod(hash(keys), n) = i) — the layout that bounds
    * copy-on-write WRITE AMPLIFICATION: a DML/merge touching K keys
    * rewrites at most the K buckets those keys hash into, never the
    * whole table (the Hive-bucketing idea applied to the commit-log
    * segment layout; Delta achieves the same with partitioning or
    * liquid clustering). Stats sidecars ride along so range probes
    * on OTHER columns keep their conservative skipping. ONE shuffled
    * partitioned write + one grouped stats pass for ALL buckets
    * ([[writeBucketedSegments]]), committed as a single
    * content-preserving manifest version. */
  /** Split `total` into `k` per-key grid counts, deterministic and
    * as balanced as possible (prime factors dealt greedily to the
    * smallest running product), ordered LARGEST FIRST so the pairing
    * with the canonically-ordered key list is reproducible across
    * independently-bucketed tables — two tables bucketed with the
    * same key set and total land on the SAME grid and their join
    * claims SPJ. */
  private[sources] def gridNs(total: Int, k: Int): Seq[Int] = {
    if (k == 1) return Seq(total)
    val factors = scala.collection.mutable.ArrayBuffer.empty[Int]
    var rest = total
    var p = 2
    while (p * p <= rest) {
      while (rest % p == 0) { factors += p; rest /= p }
      p += 1
    }
    if (rest > 1) factors += rest
    val ns = Array.fill(k)(1)
    factors.sorted.reverse.foreach { f =>
      val i = ns.zipWithIndex.minBy(_._1)._2
      ns(i) *= f
    }
    // fewer prime factors than keys → some dimension stays 1: that
    // key gets NO bucketing at all while the call looks like it
    // bucketed on every key (e.g. a prime total with 2 keys →
    // [p, 1]). Still a valid grid — the SPJ claim holds — but warn
    // loudly so the caller picks a composite total next time.
    if (ns.count(_ > 1) < k)
      System.err.println(
        s"WARN CommitLogStats.gridNs: nBuckets=$total factors into " +
          s"only ${ns.count(_ > 1)} non-trivial dimension(s) for $k " +
          s"keys (grid ${ns.sorted.reverse.mkString("x")}); key(s) " +
          "paired with a 1-dimension get no bucketing — choose a " +
          s"composite bucket count with >= $k prime factors")
    ns.sorted.reverse.toSeq
  }

  /** The composite grid bucket id, row-major over (keys, ns): each
    * key hashes INDEPENDENTLY (`pmod(hash(k_i), n_i)` — the same
    * per-key function [[graft.sources.GraftBucketFunction]] exposes
    * to Spark's SPJ machinery, which requires single-reference
    * partition transforms). A single key degenerates to the exact
    * pre-grid formula, so existing single-key layouts are
    * byte-identical. */
  private[sources] def gridBucketCol(keys: Seq[String],
      ns: Seq[Int]): Column =
    keys.zip(ns).foldLeft(lit(0)) { case (acc, (k, n)) =>
      acc * lit(n) + pmod(hash(col(k)), lit(n))
    }

  /** Upgrade a LEGACY pre-grid multi-key bucket layout (one COMPOSITE
    * hash over all keys, no per-key counts — the record shape older
    * writers produced) to the per-key grid form that claims
    * storage-partitioned joins. The legacy layout keeps its bounded
    * DML write amplification but can never claim SPJ: Spark's
    * KeyGroupedShuffleSpec requires single-reference partition
    * transforms, so a composite `bucket(n, k1, k2)` cannot line up
    * with the individual join keys — the join silently shuffles with
    * no upgrade path until this verb. Re-runs [[compactBucketed]]
    * with the RECORDED key set and total bucket count (one shuffled
    * partitioned write, same cost as the original layout build). A
    * layout that already claims — grid records, and single-key
    * records which are trivially one-dimensional grids — is a NO-OP
    * returning the current version: the maintenance advisor's
    * recommend → run → go-quiet loop depends on that. */
  def migrateToGrid(spark: SparkSession, table: String,
      statsCols: Option[Seq[String]] = None): Long = {
    val cur = CommitLog.snapshot(spark, table).getOrElse(
      throw new IllegalStateException(
        s"CommitLogStats.migrateToGrid: nothing committed at $table"))
    val bs = cur.bucket.flatMap(CommitLog.decodeBucketSpec).getOrElse(
      throw new IllegalStateException(
        s"CommitLogStats.migrateToGrid: $table has no bucket-layout " +
          "record — lay one down with optimize_bucket first"))
    if (bs.gridClaimable) return cur.version
    compactBucketed(spark, table, bs.keys, bs.n,
      statsCols.getOrElse(bs.keys))
  }

  def compactBucketed(spark: SparkSession, table: String,
      keys: Seq[String], nBuckets: Int, statsCols: Seq[String]): Long = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    require(keys.nonEmpty, "keys must be non-empty")
    // canonical layout order: two tables bucketed on the same key SET
    // (any call order) land on the same grid, so the SPJ claim's
    // positional expression compare lines up
    val ckeys = keys.sortBy(_.toLowerCase)
    val ns = gridNs(nBuckets, ckeys.size)
    CommitLog.transact(spark, table,
        "CommitLogStats.compactBucketed") { tx =>
      val cur = tx.existing
      val df = tx.pin(CommitLog.readLive(spark, cur)
        .withColumn("__bucket", gridBucketCol(ckeys, ns)))
      val bySeg = writeBucketedSegments(spark, table, df,
        "__bucket", Seq.empty, statsCols)
      val segs = tx.stage(bySeg.map(_._2))
      // record the layout in the manifest (keys, per-key ns, uuid →
      // bucket): the DSv2 scan reports KeyGroupedPartitioning (one
      // single-ref bucket transform per key) from it, so a join of
      // two same-(keys, grid) tables plans with ZERO shuffle
      // exchanges. The field is NOT inherited — any later commit
      // changes the segment set and the claim dies with it.
      CommitLog.Publish(CommitLog.Snapshot(cur.version + 1L, segs,
        cur.version, "compact", schema = cur.schema,
        bucket = Some(CommitLog.encodeBucketSpec(ckeys, ns, bySeg))),
        cur.version + 1L)
    }
  }

  /** Stage a DML rewrite PRESERVING the table's bucketed layout: when
    * the base snapshot carries a [[compactBucketed]] spec, the
    * rewritten rows land bucket-SPLIT — one segment per non-empty
    * bucket, each holding only rows whose `pmod(hash(keys), n)`
    * equals its bucket — and the returned spec keeps the
    * storage-partitioned-join claim alive THROUGH the DML instead of
    * lapsing until the next OPTIMIZE (the steady-state cost that
    * would otherwise cancel the layout's whole point). Segment
    * purity, not per-bucket uniqueness, is the invariant: several
    * segments may share a bucket (the scan groups files by bucket),
    * so repeated DML only grows the per-bucket file count — the
    * usual OPTIMIZE cadence consolidates. Sidecars ride on the spec
    * keys, keeping the CBO row counts live. The staged segments are
    * constraint-gated exactly like the plain path's writeSegment.
    *
    * Returns None when the base carries no usable spec (or the
    * rewrite frame lacks a key column) — the caller stages the plain
    * way and the claim lapses, as before. */
  private[sources] def stageDmlBucketed(spark: SparkSession,
      table: String, cur: CommitLog.Snapshot, removed: Set[String],
      rows: DataFrame): Option[(Seq[String], String)] = {
    def uuidOf(s: String) = s.substring(s.lastIndexOf('/') + 1)
    cur.bucket.flatMap(CommitLog.decodeBucketSpec).filter { bs =>
      val uuids = cur.segments.map(uuidOf).toSet
      uuids.forall(bs.byUuid.contains) &&
        bs.keys.forall(k =>
          rows.columns.exists(_.equalsIgnoreCase(k)))
    }.map { bs =>
      // persist: the write pass and the stats pass must see the same
      // rows (a nondeterministic SET expression must not let sidecar
      // bounds diverge from the landed bytes)
      // grid layouts re-derive the recorded per-key formula; a legacy
      // (pre-grid) multi-key record keeps its composite hash so the
      // preserved layout stays self-consistent
      val bucketExpr =
        if (bs.gridClaimable) gridBucketCol(bs.keys, bs.ns)
        else pmod(hash(bs.keys.map(col): _*), lit(bs.n))
      val bucketed = rows.withColumn("__bucket", bucketExpr)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val segsB = writeBucketedSegments(spark, table, bucketed,
          "__bucket", Seq.empty, bs.keys)
        // same gate parity as writeSegmentGated's path: a refusal
        // deletes the staged segments and raises before any publish
        CommitLog.enforceConstraints(spark, table, segsB.map(_._2),
          Some(cur))
        val entries = (bs.byUuid -- removed.map(uuidOf)) ++
          segsB.map { case (b, seg) => uuidOf(seg) -> b }
        (segsB.map(_._2),
          CommitLog.encodeBucketEntries(bs.keys,
            if (bs.gridClaimable) bs.ns else Seq(bs.n), entries))
      } finally bucketed.unpersist(): Unit
    }
  }

  // ---- metadata-only aggregates ---------------------------------------

  /** Answer COUNT(*) / MIN(col) / MAX(col) from sidecars ALONE — the
    * metadata-only query Delta serves from its log: at 100 TB a
    * COUNT(*) that opens zero data files is the difference between
    * milliseconds and a cluster-wide scan. Returns None when ANY
    * segment of the pinned snapshot lacks a sidecar or the column —
    * the caller falls back to the scan; a partial metadata answer
    * would be silently wrong, never do that. MIN/MAX are None for an
    * empty or all-NULL table (SQL semantics). Exactness holds because
    * sidecars are computed over the exact rows each segment landed
    * and segments are immutable. */
  def metadataAgg(spark: SparkSession, table: String, statsCol: String,
      asOfVersion: Option[Long] = None)
      : Option[(Long, Option[Any], Option[Any])] = {
    val snap = CommitLog.snapshot(spark, table, asOfVersion).getOrElse(
      throw new IllegalStateException(
        s"CommitLogStats.metadataAgg: no committed version at $table" +
          asOfVersion.fold("")(v => s" (asOf=$v)")))
    // a deletion vector subtracts rows the sidecars still count —
    // metadata answers would overcount; fall back to the scan until
    // OPTIMIZE materializes the vector
    if (snap.dv.isDefined) return None
    val sides = snap.segments.map(readSidecar(spark, _))
    if (sides.exists(_.isEmpty)) return None
    val stats = sides.flatten
    // era-correct key lookup (renamed columns resolve through their
    // physical name); ANY segment without a trusted key → fall back
    val keys = skippingKeys(snap.schema, Seq(statsCol))(statsCol)
    val looked = stats.map(lookupStats(_, keys))
    if (looked.exists(_.isEmpty)) return None
    val rows = stats.map(_.rows).sum
    val cols = looked.flatten
    val tags = cols.map(_.tag).distinct
    require(tags.size <= 1,
      s"CommitLogStats.metadataAgg: segments disagree on '$statsCol' " +
        s"type (${tags.mkString(", ")})")
    val mins = cols.flatMap(_.min)
    val maxs = cols.flatMap(_.max)
    val tag = tags.headOption.getOrElse("long")
    Some((rows,
      mins.reduceOption((a, b) => if (cmp(tag, a, b) <= 0) a else b),
      maxs.reduceOption((a, b) => if (cmp(tag, a, b) >= 0) a else b)))
  }

  // ---- skipping reads --------------------------------------------------

  /** Sidecar-lookup keys for a probe column list. Two sidecar eras,
    * two trust models:
    *
    *  - MARKER sidecars (`"keys":"physical"`, everything written
    *    since the key hardening): keyed by the column's STABLE
    *    physical name — `physical` matches exactly, no aliasing
    *    needed (physical names are never reused: a re-ADD mints a
    *    fresh `col-<uuid>`).
    *  - LEGACY sidecars (no marker): keyed by their WRITE-TIME
    *    logical names, which rename/drop DDL can REUSE for a
    *    different column — after `RENAME a TO b; RENAME c TO a` (or
    *    `DROP a; RENAME c TO a`), key 'a' in a pre-DDL sidecar
    *    describes the OLD column's data, and a probe on the new 'a'
    *    consulting it would prune against the wrong bounds —
    *    silently missing rows. The `legacy` list therefore keeps a
    *    name only when the current schema proves it unambiguous:
    *    the field's own name only when it EQUALS its physical name
    *    (a name renamed-into can always be a stale key), its
    *    physical name only when no OTHER field logically owns it,
    *    and both dropped when they collide with another field's
    *    name on either side. Collision → fewer aliases → less
    *    pruning, never wrong rows. */
  private[sources] def skippingKeys(snapSchema: Option[String],
      cols: Seq[String]): Map[String, ProbeKeys] = {
    val recorded = snapSchema.map(CommitLog.decodeSchema)
    cols.distinct.map { c =>
      recorded.flatMap(s =>
        s.fields.find(_.name.equalsIgnoreCase(c)).map(f => (s, f)))
        match {
        case None =>
          // no recorded field: schema-less table or synthetic probe
          // column — the probe's own name is the only key either era
          // could carry
          c -> ProbeKeys(None, Seq(c))
        case Some((s, f)) =>
          val phys = CommitLog.physicalName(f)
          val others = s.fields.filterNot(_ eq f)
          val otherLogical =
            others.map(_.name.toLowerCase).toSet
          val otherPhysical =
            others.map(CommitLog.physicalName(_).toLowerCase).toSet
          val hazard = otherLogical ++ otherPhysical
          val identity = phys.equalsIgnoreCase(f.name)
          val legacy =
            (if (identity)
              Seq(c, f.name).distinct.filterNot(n => hazard(n.toLowerCase))
            else Seq.empty) ++
            (if (!hazard(phys.toLowerCase)) Seq(phys) else Seq.empty)
          c -> ProbeKeys(Some(phys), legacy.distinct)
      }
    }.toMap
  }

  /** Look one probe's stats up in one sidecar under the era-correct
    * key set ([[skippingKeys]]). */
  private[sources] def lookupStats(stats: SegmentStats,
      keys: ProbeKeys): Option[ColStats] =
    if (stats.physicalKeys)
      keys.physical.fold(
        keys.legacy.flatMap(stats.cols.get).headOption)(stats.cols.get)
    else keys.legacy.flatMap(stats.cols.get).headOption

  /** Bloom-file lookup names. Bloom files carry no era marker of
    * their own, so the segment's STATS marker stands in: a segment
    * whose `_stats.json` says physical keys was written post-
    * hardening, and any bloom on it is too (blooms land with or
    * after the sidecar — [[attachBlooms]] backfills, never
    * predates) — the physical name is then trusted. Otherwise only
    * the hazard-filtered legacy set is safe. */
  private[sources] def bloomNames(keys: ProbeKeys,
      physicalEra: Boolean): Seq[String] =
    if (physicalEra) (keys.physical.toSeq ++ keys.legacy).distinct
    else keys.legacy

  /** Decide, for ONE pinned snapshot, which segments a closed probe
    * range [lo, hi] on `statsCol` can touch. Conservative on every
    * gap (no sidecar / column absent → kept); all-NULL column →
    * pruned; probe type vs recorded stats type mismatch → LOUD. */
  def planSkipping(spark: SparkSession, table: String, statsCol: String,
      lo: Any, hi: Any, asOfVersion: Option[Long] = None): SkipPlan =
    planSkippingAll(spark, table, Seq((statsCol, lo, hi)), asOfVersion)

  /** Multi-interval [[planSkipping]]: a segment survives only when
    * EVERY probe's interval may intersect it — the 2-D (or N-D) box
    * probe a [[compactZOrder]] layout makes effective, since morton
    * segments bound all interleaved dimensions at once. Same
    * conservative/gap/type contract per probe. */
  def planSkippingAll(spark: SparkSession, table: String,
      probes: Seq[(String, Any, Any)],
      asOfVersion: Option[Long] = None): SkipPlan = {
    require(probes.nonEmpty, "planSkippingAll: no probes")
    val snap = CommitLog.snapshot(spark, table, asOfVersion).getOrElse(
      throw new IllegalStateException(
        s"CommitLogStats.planSkipping: no committed version at $table" +
          asOfVersion.fold("")(v => s" (asOf=$v)")))
    val encoded = probes.map { case (c, lo, hi) =>
      val (loTag, loV) = encodeProbe(lo)
      val (hiTag, hiV) = encodeProbe(hi)
      require(loTag == hiTag,
        s"CommitLogStats: probe bounds disagree on type ($loTag vs $hiTag)")
      (c, loTag, loV, hiV)
    }
    // Column mapping: sidecar keys are era-dependent (physical for
    // marker sidecars, hazard-filtered write-time aliases for legacy
    // ones — [[skippingKeys]]); a rename never changes the VALUES,
    // so bounds under a trusted key describe the same data.
    // Identity tables: the key set is just the probe.
    val keysOf: Map[String, ProbeKeys] =
      skippingKeys(snap.schema, probes.map(_._1).distinct)
    val (kept, pruned) = snap.segments.partition { seg =>
      val sidecar = readSidecar(spark, seg)
      val statsOk = encoded.forall { case (statsCol, tag, loV, hiV) =>
        sidecar match {
          case None => true
          case Some(stats) =>
            lookupStats(stats, keysOf(statsCol)) match {
            case None => true
            case Some(cs) =>
              if (cs.tag != tag) throw new IllegalStateException(
                s"CommitLogStats: probe on '$statsCol' has type $tag " +
                  s"but segment $seg recorded ${cs.tag} stats — fix the " +
                  "probe value, not the comparison")
              (cs.min, cs.max) match {
                case (Some(mn), Some(mx)) =>
                  cmp(cs.tag, mx, loV) >= 0 && cmp(cs.tag, mn, hiV) <= 0
                case _ => false // all-NULL segment: no row can match
              }
          }
        }
      }
      // POINT probes (lo == hi) additionally consult the bloom
      // sidecar — the pruner for layouts where [min,max] spans the
      // whole key range (hash buckets); absent bloom → conservative
      statsOk && encoded.forall { case (statsCol, tag, loV, hiV) =>
        if (cmp(tag, loV, hiV) != 0) true
        else bloomNames(keysOf(statsCol),
            sidecar.exists(_.physicalKeys))
          .flatMap(readBloom(spark, seg, _)).headOption match {
          case None => true
          case Some(bf) => tag match {
            case "long" => bf.mightContainLong(loV.asInstanceOf[Long])
            case "string" =>
              bf.mightContainString(loV.asInstanceOf[String])
            case _ => true
          }
        }
      }
    }
    SkipPlan(snap, kept, pruned)
  }

  /** Box scan over a multi-column probe: read only the segments every
    * interval keeps, then apply ALL the exact predicates. */
  def readSkippingAll(spark: SparkSession, table: String,
      probes: Seq[(String, Any, Any)],
      asOfVersion: Option[Long] = None): DataFrame = {
    val plan = planSkippingAll(spark, table, probes, asOfVersion)
    val pred = probes.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    if (plan.kept.isEmpty)
      CommitLog.read(spark, table, asOfVersion).filter(lit(false))
    else
      CommitLog.readLive(spark, plan.snapshot, Some(plan.kept))
        .filter(pred)
  }

  /** Range scan with segment skipping: read only the segments
    * [[planSkipping]] kept, then apply the EXACT predicate — result
    * is identical to `CommitLog.read(..).filter(lo <= c <= hi)` by
    * the no-false-negative law (CommitLogSpec). */
  def readSkipping(spark: SparkSession, table: String, statsCol: String,
      lo: Any, hi: Any, asOfVersion: Option[Long] = None): DataFrame = {
    val plan = planSkipping(spark, table, statsCol, lo, hi, asOfVersion)
    val pred = col(statsCol) >= lit(lo) && col(statsCol) <= lit(hi)
    if (plan.kept.isEmpty)
      CommitLog.read(spark, table, asOfVersion).filter(lit(false))
    else
      CommitLog.readLive(spark, plan.snapshot, Some(plan.kept))
        .filter(pred)
  }
}
