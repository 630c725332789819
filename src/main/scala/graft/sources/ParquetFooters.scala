package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** What parquet footers tell about a path list, read on the driver
  * instead of in Spark jobs of their own: the schema
  * `spark.read.parquet(paths: _*)` infers, and the row count.
  *
  * Without `mergeSchema`, Spark 4.1 infers a path list's schema from ONE
  * footer: the first data file when every listed file is sorted by its
  * path string (`ParquetUtils.splitFiles`), read by a one-task job
  * (`ParquetFileFormat.mergeSchemasInParallel`), which a table that
  * records no schema would pay on every read of its segments and change
  * records. Here the same footer is read on the driver through the same
  * converter settings, and the result is memoized on that file's (path,
  * length, modification time) and the session's `spark.sql.parquet.*` /
  * `spark.sql.legacy.parquet.*` confs — sound because a segment or
  * `_changes/` directory is never rewritten once a manifest names it.
  *
  * Anything outside the flat layout those directories have — a
  * subdirectory, a parquet summary file, a path that is not a directory,
  * no data file, `spark.sql.parquet.mergeSchema` on, a footer that does
  * not read — answers None, and the caller falls back to Spark, so the
  * result and the errors there are Spark's. */
private[graft] object ParquetFooters {

  private final case class Key(file: String, length: Long, mtime: Long,
      confs: Map[String, String])

  private val memo = new ConcurrentHashMap[Key, StructType]()

  /** `spark.read.parquet(paths: _*)`, read under the resolved schema. */
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    schema(spark, paths).fold(spark.read.parquet(paths: _*))(s =>
      spark.read.schema(s).parquet(paths: _*))

  /** The schema a read of `paths` with Spark's inference has (every
    * field nullable, as a file source's relation makes it), or None
    * where the fallback applies. */
  def schema(spark: SparkSession,
      paths: Seq[String]): Option[StructType] = {
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.")
    }
    val first =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else dataFiles(spark, paths).flatMap(_.minByOption(_.getPath.toString))
    first.flatMap { f =>
      val key = Key(f.getPath.toString, f.getLen, f.getModificationTime,
        confs)
      Option(memo.get(key)).orElse(footerSchema(spark, f).map { s =>
        if (memo.size > 4096) memo.clear()
        memo.put(key, s)
        s
      })
    }
  }

  /** The rows in `paths`' data files: the sum of their footers' row
    * group counts, which is what a `count()` of the parquet read
    * aggregates. */
  def rowCount(spark: SparkSession, paths: Seq[String]): Option[Long] =
    dataFiles(spark, paths).flatMap { files =>
      val conf = spark.sessionState.newHadoopConf()
      try Some(files.map { f =>
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.NO_FILTER)
          .getBlocks.asScala.map(_.getRowCount).sum
      }.sum)
      catch { case scala.util.control.NonFatal(_) => None }
    }

  /** The files Spark's file index keeps for `paths`
    * (`HadoopFSUtils.shouldFilterOutPathName`). None when the layout is
    * not flat directories of data files. */
  private def dataFiles(spark: SparkSession,
      paths: Seq[String]): Option[Seq[FileStatus]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listed = paths.iterator.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      try {
        if (!fs.getFileStatus(path).isDirectory) None
        else Some(fs.listStatus(path).toSeq.filterNot { st =>
          val n = st.getPath.getName
          ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
            n.endsWith("._COPYING_")) &&
            !n.startsWith("_common_metadata") && !n.startsWith("_metadata")
        })
      } catch { case _: java.io.FileNotFoundException => None }
    }.toSeq
    if (listed.exists(_.isEmpty)) None
    else {
      val files = listed.flatten.flatten
      if (files.isEmpty || files.exists(st => st.isDirectory ||
          st.getPath.getName.startsWith("_"))) None
      else Some(files)
    }
  }

  /** `f`'s footer, read and converted as `mergeSchemasInParallel`'s
    * tasks read and convert it. */
  private def footerSchema(spark: SparkSession,
      f: FileStatus): Option[StructType] = {
    val sql = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        sql.parquetReaderRespectUnknownTypeAnnotation)
    try {
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      Some(nullable(ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, meta), converter)).asInstanceOf[StructType])
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `t` with every level nullable, as `DataSource.resolveRelation`
    * relaxes a file source's data schema. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), true)
    case other => other
  }
}
