package graft.sources

import java.nio.file.Paths

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A scan's file list taken from IcebergLite metadata instead of a
  * directory listing: every file is its own [[PartitionDirectory]], so
  * whatever the metadata knows per file (partition tuple, file
  * identity, sequence number) reaches the rows as partition-column
  * constants that Spark's reader fills once per file, never per row.
  *
  * Spark's `FileSourceStrategy` drops partition-only conjuncts from the
  * filter it runs after the scan, so [[listFiles]] must apply them
  * itself: a predicate this index ignored would return wrong rows. */
private[sources] final class ManifestFileIndex(private val root: Path,
    private val dirs: Seq[PartitionDirectory],
    override val partitionSchema: StructType) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) dirs
    else {
      val names = partitionSchema.fieldNames
      val pred = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = names.indexOf(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      pred.initialize(0)
      dirs.filter(d => pred.eval(d.values))
    }

  override def inputFiles: Array[String] =
    dirs.flatMap(_.files.map(_.getPath.toString)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = dirs.map(_.files.map(_.getLen).sum).sum

  // two scans of the same files with the same constants are the same
  // relation, as with Spark's own file index: a plan that reads a file
  // set twice can then reuse one scan's exchange for the other
  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex =>
      root == m.root && partitionSchema == m.partitionSchema && dirs == m.dirs
    case _ => false
  }

  override def hashCode: Int = (root, partitionSchema, dirs.size).hashCode
}

private[sources] object ManifestFileIndex {

  /** One file to scan: its path relative to the table root and its
    * partition-column values, in `partitionSchema` order and in
    * Catalyst's internal form (`UTF8String`, boxed `Long`, null). */
  final case class ScanFile(path: String, values: Seq[Any])

  /** A parquet scan of exactly `files` under `tablePath`. `dataSchema`
    * None infers it from the files' footers (merged when `mergeSchema`).
    * Columns named in `partitionSchema` are never read from the files,
    * and, as with Spark's own file sources, data columns read nullable.
    *
    * Each file's length comes from one stat on the driver, not from the
    * manifest's `file_size_in_bytes`: Spark plans a file's splits from
    * the length it is given, and a length shorter than the file (a
    * foreign manifest may record anything) selects no row group, so the
    * file's rows would vanish without an error. */
  def scan(spark: SparkSession, tablePath: String, files: Seq[ScanFile],
      partitionSchema: StructType, dataSchema: Option[StructType],
      mergeSchema: Boolean = false): DataFrame = {
    val tableRoot = Paths.get(tablePath).toAbsolutePath.normalize
    val rootPath = new Path(tableRoot.toString)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = files.map { f =>
      val p = fs.makeQualified(new Path(tableRoot.resolve(f.path).normalize.toString))
      PartitionDirectory(InternalRow.fromSeq(f.values),
        Seq(FileStatusWithMetadata(fs.getFileStatus(p))))
    }
    val format = new ParquetFileFormat
    val data = dataSchema.orElse(format.inferSchema(spark,
      Map("mergeSchema" -> mergeSchema.toString), dirs.flatMap(_.files.map(_.fileStatus))))
      .getOrElse(throw new IllegalArgumentException(
        s"cannot infer a parquet schema for $tablePath: no data files"))
    val relation = HadoopFsRelation(
      new ManifestFileIndex(fs.makeQualified(rootPath), dirs, partitionSchema),
      partitionSchema,
      GraftColumnBridge.asNullable(StructType(data.filterNot(f => partitionSchema.fieldNames.contains(f.name)))),
      None, format, Map.empty)(spark)
    GraftColumnBridge.toDF(spark, LogicalRelation(relation))
  }
}
