package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer => ParquetFooter, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Parquet table loading: the schema from one footer, read on the
  * driver, and TIMESTAMP(NANOS) repair.
  *
  * A table's schema comes from the footer of its first `.parquet` file
  * (a directory's files before its subdirectories, each by name, so a
  * directory of part files or a hive layout works the same). It is
  * converted the way Spark's own non-merging inference converts that
  * footer: `ParquetFileFormat.readSchemaFromFooter` (the Spark schema a
  * Spark writer stored in the footer, else the parquet schema) with the
  * session's `ParquetToSparkSchemaConverter`. The read
  * passes that schema to `spark.read.schema(...)`, so opening a table
  * starts no Spark job; file listing and hive partition discovery stay
  * with Spark's file index. The reference registers a table the same
  * way, from its footer (reference `src/storage/parquet.rs:47-60`).
  *
  * The driver's testdata is written with nanosecond-precision parquet
  * timestamps, which Spark's reader rejects ([PARQUET_TYPE_ILLEGAL]).
  * Here we read NANOS columns as raw longs
  * (`spark.sql.legacy.parquet.nanosAsLong`) and cast to TIMESTAMP_NTZ
  * (ns → µs is lossless for this data; session tz pinned UTC). Columns
  * are detected from the same footer's logical type annotations, not by
  * name, so any table shape works.
  */
object ParquetTables {

  /** What a table's first footer says: its Spark schema (NANOS columns
    * as raw longs) and the columns annotated TIMESTAMP(NANOS). */
  final case class Footer(schema: StructType, nanoColumns: Seq[String])

  /** Read the footer of the first parquet file under `path` (a file or
    * a directory) on the driver. */
  def footer(spark: SparkSession, path: String): Footer = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val file = firstParquetFile(new java.io.File(path)).getOrElse(
      throw new IllegalArgumentException(s"no .parquet file under $path"))
    val filePath = new Path(file.toURI)
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(filePath, spark.sparkContext.hadoopConfiguration))
    val meta = try reader.getFooter finally reader.close()
    val schema = ParquetFileFormat.readSchemaFromFooter(new ParquetFooter(filePath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    val nanos = meta.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if f.isPrimitive && isNanoTimestamp(f.getLogicalTypeAnnotation) => f.getName
    }.toSeq
    Footer(schema, nanos)
  }

  private def isNanoTimestamp(ann: LogicalTypeAnnotation): Boolean = ann match {
    case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
      t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
    case _ => false
  }

  /** The first data file, a directory's files before its
    * subdirectories and each by name, skipping the names
    * Spark's file index treats as hidden (`_…` and `.…`, except
    * `_`-prefixed partition directories such as `_c=1`). */
  private def firstParquetFile(f: java.io.File): Option[java.io.File] =
    if (f.isFile) Some(f)
    else {
      val visible = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter { x =>
          val n = x.getName
          !n.startsWith(".") && (!n.startsWith("_") || (x.isDirectory && n.contains("=")))
        }
        .sortBy(_.getName)
      visible.find(x => x.isFile && x.getName.endsWith(".parquet"))
        .orElse(visible.iterator.filter(_.isDirectory).flatMap(firstParquetFile).nextOption())
    }

  /** Read a parquet file/dir, converting NANOS columns to TIMESTAMP_NTZ. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val f = footer(spark, path)
    f.nanoColumns.foldLeft(spark.read.schema(f.schema).parquet(path)) { (df, c) =>
      df.withColumn(c, repairNanos(c))
    }
  }

  /** A NANOS column read as raw longs, as TIMESTAMP_NTZ. */
  def repairNanos(column: String): Column =
    expr(s"cast(timestamp_micros(`$column` div 1000) as timestamp_ntz)")
}
