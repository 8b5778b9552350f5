package graft.matview

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Job-free read-back of parquet directories the engine wrote itself.
  *
  * `spark.read.parquet(dir)` infers the schema with a Spark job: one task
  * that opens one footer. For a directory Spark just wrote that job
  * re-discovers what the writer stored in every footer under
  * [[SchemaKey]], so [[read]] reads that footer itself, in the calling
  * JVM, and hands its schema to `spark.read.schema(...)` — no job. The footer
  * is the one Spark's own inference opens (without mergeSchema): the
  * data file with the smallest path across all directories. The result
  * is the same relation; the reader makes every field nullable either
  * way.
  *
  * Anything that is not a flat directory of Spark-written data files
  * (partition subdirectories, summary files, a footer without the Spark
  * schema, no data file at all) falls back to `spark.read.parquet`.
  */
object Footers {

  /** Footer key under which Spark's parquet writer stores the row schema. */
  val SchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Parquet scan of `dirs`, equal to `spark.read.parquet(dirs: _*)`. */
  def read(spark: SparkSession, dirs: Seq[String]): DataFrame =
    schema(spark, dirs) match {
      case Some(s) => spark.read.schema(s).parquet(dirs: _*)
      case None => spark.read.parquet(dirs: _*)
    }

  /** The schema Spark would infer for `dirs`, read in this JVM; None
    * where [[read]] falls back. */
  def schema(spark: SparkSession, dirs: Seq[String]): Option[StructType] =
    dataFiles(spark, dirs).flatMap { files =>
      files.minByOption(_.getPath.toString).flatMap { first =>
        Option(footer(spark, first).getFileMetaData.getKeyValueMetaData
            .get(SchemaKey))
          .flatMap(json => Try(DataType.fromJson(json)).toOption)
          .collect { case s: StructType => s }
      }
    }

  /** Rows in `dirs`, summed from the footers' row-group counts; equal to
    * `spark.read.parquet(dirs: _*).count()`, which it runs only for the
    * layouts it does not list itself (see [[dataFiles]]). */
  def rowCount(spark: SparkSession, dirs: Seq[String]): Long =
    dataFiles(spark, dirs) match {
      case Some(files) if files.nonEmpty =>
        files.map(f => footer(spark, f).getBlocks.asScala
          .map(_.getRowCount).sum).sum
      case _ => spark.read.parquet(dirs: _*).count()
    }

  /** Data files of `dirs` by Spark's naming rule (no `_` or `.` prefix);
    * None when a path is missing or not a directory, or a directory holds
    * a subdirectory or a summary file — layouts whose inference (or
    * error) this helper leaves to Spark. */
  private def dataFiles(spark: SparkSession,
      dirs: Seq[String]): Option[Seq[FileStatus]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listed = dirs.map { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) None
      else {
        val entries = fs.listStatus(p).toSeq
        val names = entries.map(_.getPath.getName)
        if (entries.exists(_.isDirectory) ||
            names.exists(n => n == "_metadata" || n == "_common_metadata")) None
        else Some(entries.filterNot { e =>
          val n = e.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        })
      }
    }
    if (listed.isEmpty || listed.exists(_.isEmpty)) None
    else Some(listed.flatten.flatten)
  }

  /** Whether the parquet data at `path` (a file or a flat directory)
    * stores a TIMESTAMP(NANOS) column, read from the footer of its first
    * data file; None when there is no data file to read. */
  def hasNanosTimestamp(spark: SparkSession, path: String): Option[Boolean] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first =
      if (!fs.exists(p)) None
      else if (fs.getFileStatus(p).isFile) Some(fs.getFileStatus(p))
      else fs.listStatus(p).toSeq.filter { e =>
        // Spark's data-file naming rule, as in dataFiles
        val n = e.getPath.getName
        e.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.minByOption(_.getPath.toString)
    first.map(f => footer(spark, f).getFileMetaData.getSchema.getColumns
      .asScala.exists(_.getPrimitiveType.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }))
  }

  private def footer(spark: SparkSession, f: FileStatus): ParquetMetadata = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration))
    try reader.getFooter
    finally reader.close()
  }
}
