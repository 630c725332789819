package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source catalog over the driver testdata (TESTDATA.md).
  *
  * Plays the role of the reference's source-table namespace (the SQL
  * Server tables named in `Select de Importação de Dados.py:50-55,91-96`):
  * N named pipelines share one catalog of named relations (SURVEY §0).
  *
  * Reads are plain `spark.read.parquet` so Catalyst's DSv2 pushdown
  * (PushedFilters / column pruning) applies — at 100 TB the scan is the
  * dominant cost and pruning at the source is the single biggest win.
  *
  * Schema inference reads parquet footers in a Spark job of its own, and
  * an ETL pass asks for the same few files many times, so each path's
  * schema is inferred once per file set (see [[readParquet]]).
  */
object Catalog {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table from a scale-factor directory.
    *
    * The driver's `events.ts` has changed parquet encoding across
    * testdata generations, so normalize BOTH shapes to TimestampType
    * (the type the event-time operators — sessionize, range join,
    * EWMA, streaming replay — are written against):
    *  - TIMESTAMP(NANOS): Spark can't hold nanos in TimestampType;
    *    sessions set `spark.sql.legacy.parquet.nanosAsLong=true`, so
    *    the column surfaces as LongType — convert via integer `div`
    *    (nanos since epoch exceed 2^53; a double route would corrupt).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces as
    *    TIMESTAMP_NTZ — cast to TimestampType, value-preserving under
    *    the fixed UTC session timezone.
    *
    * Any OTHER encoding of a declared event-time column fails fast here,
    * naming the column and type — the driver has regenerated testdata
    * with a new encoding twice already, and a silent pass-through (e.g.
    * an int32 day-number or a string ts) surfaces as a confusing
    * analysis error deep inside whichever operator touches it first. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    eventTimeColumns.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.LongType) =>
          d.withColumn(c, org.apache.spark.sql.functions
            .timestamp_micros(org.apache.spark.sql.functions.expr(s"$c div 1000")))
        case Some(org.apache.spark.sql.types.TimestampNTZType) =>
          d.withColumn(c, org.apache.spark.sql.functions.col(c).cast(
            org.apache.spark.sql.types.TimestampType))
        case Some(org.apache.spark.sql.types.TimestampType) => d
        case None => d // column absent (projected-away or older schema)
        case Some(other) => throw new IllegalStateException(
          s"Catalog.table($name): event-time column '$c' has unsupported " +
          s"parquet encoding $other — expected TIMESTAMP, TIMESTAMP_NTZ, " +
          "or nanos-as-LONG. New driver testdata encoding? Add a " +
          "normalization case in Catalog.eventTimeColumns handling.")
      }
    }
  }

  /** The schema inferred for a path, and what it was inferred from: every
    * leaf file's (path, length, modification time) and the session's
    * parquet-reading confs. */
  private final case class Inferred(files: Seq[(String, Long, Long)],
      confs: Map[String, String], schema: StructType)

  private val inferred = new ConcurrentHashMap[String, Inferred]()

  /** `spark.read.parquet(path)` without the footer-reading inference job
    * when the path's files and the parquet confs are those its cached
    * schema was inferred from. Every call lists the files through the
    * Hadoop FileSystem API, which launches no Spark job, so a changed,
    * added or removed file re-infers, and the returned relation lists
    * the files afresh as any read does. A missing or empty path reads uncached, so Spark raises
    * its usual error. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val files = leafFiles(spark, path)
    if (files.isEmpty) spark.read.parquet(path)
    else {
      val confs = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.")
      }
      val schema = Option(inferred.get(path))
        .filter(i => i.files == files && i.confs == confs)
        .map(_.schema)
        .getOrElse {
          val s = spark.read.parquet(path).schema
          inferred.put(path, Inferred(files, confs, s))
          s
        }
      spark.read.schema(schema).parquet(path)
    }
  }

  private def leafFiles(spark: SparkSession, path: String)
      : Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      out.result().sorted
    } catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Instant-semantics (event-time) columns normalized to TimestampType. */
  private val eventTimeColumns: Map[String, Seq[String]] =
    Map("events" -> Seq("ts"))

  /** Register every table as a temp view so `spark.sql` parity queries
    * (SURVEY §7.3 step 6) see the same names the DuckDB oracle uses. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { n =>
      table(spark, sfDir, n).createOrReplaceTempView(n)
    }
}
