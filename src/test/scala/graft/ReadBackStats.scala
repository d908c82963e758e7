package graft

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.IcebergLite
import graft.sources.IcebergLite.DataFile

/** Reference implementation of IcebergLite's per-file write metrics:
  * the two distributed aggregates that used to re-scan every freshly
  * written run directory — one for the manifest entries, one for the
  * NDV sketches. The write path now records both inside its write
  * tasks; specs compare it against this read-back over the same files. */
object ReadBackStats {

  /** Files under `data/<runDir>/`, read with the writer's own schema. */
  private def written(spark: SparkSession, tablePath: String, runDir: String,
      dataSchema: StructType): DataFrame =
    spark.read.schema(dataSchema).option("recursiveFileLookup", "true")
      .parquet(s"$tablePath/data/$runDir")

  /** `_metadata.file_path` is a URI: strip the scheme, percent-decode. */
  private def decodeFileUri(s: String): String =
    java.net.URLDecoder.decode(
      s.replaceFirst("^[a-z]+:/+", "/").replace("+", "%2B"),
      java.nio.charset.StandardCharsets.UTF_8)

  /** One manifest entry per non-empty file of the run directory:
    * count, `min/max(col).cast(string)` filtered through
    * `boundSound`, `_metadata.file_size`, `approx_count_distinct`.
    * `sequenceNumber` is the writer's unassigned −1. */
  def entries(spark: SparkSession, tablePath: String, runDir: String,
      dataSchema: StructType): Seq[DataFile] = {
    val dataCols = dataSchema.fieldNames.toSeq
    val aggs = count(lit(1)).as("__n") +: dataCols.flatMap(c =>
      Seq(min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"),
        approx_count_distinct(col(c)).as(s"__ndv_$c")))
    val rootAbs = Paths.get(s"$tablePath/data/$runDir").toAbsolutePath.normalize
    val tableAbs = Paths.get(tablePath).toAbsolutePath.normalize
    written(spark, tablePath, runDir, dataSchema)
      .groupBy(col("_metadata.file_path").as("__f"),
        col("_metadata.file_size").as("__sz"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        val abs = Paths.get(decodeFileUri(r.getAs[String]("__f")))
        val part = rootAbs.relativize(abs).iterator().asScala.map(_.toString)
          .filter(_.contains("=")).map { seg =>
            val Array(k, v) = seg.split("=", 2)
            IcebergLite.unescapeHive(k) -> IcebergLite.unescapeHive(v)
          }.toMap
        def sideOf(prefix: String) = dataCols.flatMap { c =>
          Option(r.getAs[Any](s"$prefix$c")).map(_.toString)
            .filter(IcebergLite.boundSound(dataSchema(c).dataType, _)).map(c -> _)
        }.toMap
        DataFile(
          filePath = tableAbs.relativize(abs).toString,
          fileFormat = "PARQUET", partition = part,
          recordCount = r.getAs[Long]("__n"),
          lowerBounds = sideOf("__min_"), upperBounds = sideOf("__max_"),
          sequenceNumber = -1L,
          fileSizeBytes = r.getAs[Long]("__sz"),
          ndv = dataCols.map(c => c -> r.getAs[Long](s"__ndv_$c")).toMap)
      }.sortBy(_.filePath)
  }

  /** The NDV sidecar rows for the run directory — (table-relative
    * file_path, column, `hll_sketch_agg` sketch) — as a DataFrame. */
  def sketches(spark: SparkSession, tablePath: String, runDir: String,
      dataSchema: StructType): DataFrame = {
    val dataCols = dataSchema.fieldNames.toSeq
    val tableAbs = Paths.get(tablePath).toAbsolutePath.normalize.toString + "/"
    val relPath = replace(url_decode(regexp_replace(regexp_replace(
      col("_metadata.file_path"), "^[a-z]+:/+", "/"), "\\+", "%2B")),
      lit(tableAbs), lit(""))
    val aggs = dataCols.map { c =>
      val in = dataSchema(c).dataType match {
        case IntegerType | LongType | StringType | BinaryType => col(c)
        case _ => col(c).cast("string")
      }
      hll_sketch_agg(in).as(s"__hll_$c")
    }
    val perFile = written(spark, tablePath, runDir, dataSchema)
      .groupBy(relPath.as("file_path")).agg(aggs.head, aggs.tail: _*)
    dataCols.map(c => perFile.select(col("file_path"),
        lit(c).as("column"), col(s"__hll_$c").as("sketch")))
      .reduce(_ unionByName _)
  }

  /** `column_stats`' estimate over sketch rows: per column, the union
    * of the `live` files' sketches and how many files contributed. An
    * HLL union's estimate depends on the order sketches arrive in, so
    * this one unions them in file-path order, in one task. */
  def columnStats(sketchRows: DataFrame, live: Seq[String]): Map[String, (Long, Long)] =
    sketchRows.filter(col("file_path").isin(live: _*))
      .coalesce(1).sortWithinPartitions("file_path")
      .groupBy(col("column"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true))).as("ndv"),
        count(lit(1)).as("file_count"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
}
