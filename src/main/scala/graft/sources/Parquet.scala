package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The library's one parquet reader. A bare `spark.read.parquet(path)`
  * infers the schema with a one-task Spark job that reads a single
  * footer (Spark's schema-merge job) — 17–20 ms on a 4-vCPU host plus
  * the scheduling gap around it, paid by every table load, dimension
  * lookup and store read. This reader reads that footer on the driver instead and hands
  * the schema to `spark.read.schema(s)`, so building a DataFrame
  * submits no job.
  *
  * The footer is the one Spark's inference would pick: the first data
  * file, in path order, of the first path that holds one, under Spark's
  * file-index hidden-name rule (`_x` unless the name contains `=`,
  * `.x`, `x._COPYING_`), descending into `key=value` directories of a
  * partitioned tree. It is converted with Spark's own
  * `readSchemaFromFooter` and a converter built from the session conf
  * at read time, so the Spark row-metadata schema wins when present,
  * and `nanosAsLong`, int96, binaryAsString and NTZ inference behave as
  * under inference. Partition columns are still discovered and
  * appended by Spark.
  *
  * It falls back to a plain `spark.read.parquet` — Spark's own result
  * or error — when the first path is missing or a glob, when no data
  * file is found, when the footer cannot be read, and when schema
  * merging is switched on (`spark.sql.parquet.mergeSchema`, which reads
  * every footer). */
object Parquet {

  /** `spark.read.parquet(paths: _*)` without the schema job. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    load(spark, spark.read, paths)

  /** A partitioned-tree read: `paths` (default: the whole tree) under
    * `basePath`, whose `key=value` directories below `basePath` become
    * columns. */
  def readTree(spark: SparkSession, basePath: String, paths: String*): DataFrame =
    load(spark, spark.read.option("basePath", basePath),
      if (paths.isEmpty) Seq(basePath) else paths)

  private def load(spark: SparkSession, reader: DataFrameReader,
      paths: Seq[String]): DataFrame =
    footerSchema(spark, paths).fold(reader.parquet(paths: _*))(
      reader.schema(_).parquet(paths: _*))

  /** The data schema Spark's inference would give `paths` (partition
    * columns excluded, nullability as written), read from one footer
    * on the driver; None where [[read]] falls back. */
  private def footerSchema(
      spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else footer(spark, paths).flatMap { f =>
      try Some(ParquetFileFormat.readSchemaFromFooter(
        f, new ParquetToSparkSchemaConverter(conf)))
      catch { case NonFatal(_) => None }
    }
  }

  /** True when the footer [[read]] takes the schema from stores
    * `column` as INT64 TIMESTAMP(NANOS), the encoding Spark reads only
    * under `spark.sql.legacy.parquet.nanosAsLong`. */
  private[graft] def nanosTimestamp(spark: SparkSession, path: String, column: String): Boolean =
    footer(spark, Seq(path)).exists(_.getParquetMetadata.getFileMetaData.getSchema
      .getFields.asScala.exists { f =>
        f.getName == column && (f.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
      })

  /** The footer of the first visible data file of `paths`, in path
    * order; None for no paths, a glob, no data file or an unreadable
    * footer. */
  private def footer(spark: SparkSession, paths: Seq[String]): Option[Footer] =
    if (paths.isEmpty || paths.exists(_.exists(GlobChars))) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      paths.map(new Path(_)).sortBy(_.toString).iterator
        .flatMap { r =>
          val fs = r.getFileSystem(hadoopConf)
          firstDataFile(fs, fs.getFileStatus(r))
        }
        .nextOption()
        .map { file =>
          new Footer(file.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS))
        }
    } catch { case NonFatal(_) => None }

  /** Spark's glob metacharacters (`SparkHadoopUtil.isGlobPath`). */
  private val GlobChars = "{}[]*?\\".toSet

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The first visible data file at `s` or below it: children in name
    * order, descending into `key=value` directories only (a file in any
    * other subdirectory is not part of a parquet table). */
  private def firstDataFile(fs: FileSystem, s: FileStatus): Option[FileStatus] =
    if (!s.isDirectory) Some(s).filterNot(f => hidden(f.getPath.getName))
    else fs.listStatus(s.getPath).sortBy(_.getPath.getName).iterator
      .filter { c =>
        val name = c.getPath.getName
        !hidden(name) && (!c.isDirectory || name.contains("="))
      }
      .flatMap(firstDataFile(fs, _))
      .nextOption()
}
