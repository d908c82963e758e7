package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow, Literal, RowOrdering, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{HllSketchAgg, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

/** One-pass IcebergLite file writes: the parquet write tasks record each
  * file's manifest metrics while they write it, the way real Iceberg
  * writers do when they close a data file (and Delta's per-task stats
  * tracker does) — no query ever scans the fresh files again.
  *
  * Per file, the task keeps the row count, per-column min/max (Spark's
  * own ordering, so NaN sorts above +∞ and ties keep the first value,
  * exactly as `min`/`max` do), an HLL++ register set (the
  * `approx_count_distinct` aggregate itself) and an Apache DataSketches
  * HLL sketch (the `hll_sketch_agg` aggregate itself). At file close
  * it casts the bounds to strings, reads the file's size, and emits:
  *   - its manifest entry (a [[DataFile]]) through an accumulator —
  *     O(files) small records, which the driver needs anyway;
  *   - one sketch row per column into the task's part file of the NDV
  *     sidecar directory — sketches never pass through the driver.
  * Files that received no rows (Spark writes one for an empty input)
  * emit nothing, so they are never listed. */
object StatsParquet {
  import IcebergLite.DataFile

  /** Row layout of the NDV sidecar: one row per (data file, column). */
  private[sources] val sidecarSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("sketch", BinaryType, nullable = false)))

  /** What the tasks of one in-flight write need, keyed by its output
    * directory (the `path` option [[StatsParquetFormat.prepareWrite]]
    * receives). Lives only for the duration of [[write]]. */
  private[sources] final case class Tracked(files: CollectionAccumulator[DataFile],
      partitionDepth: Int, pathPrefix: String, sidecarDir: Option[String])

  private[sources] val inFlight = new ConcurrentHashMap[String, Tracked]()

  /** Write `df` as new files under `<tablePath>/data/<runDir>/` (hive
    * layout for `partitionColumns`, files rolled at `maxRecordsPerFile`
    * rows when > 0) and return one manifest entry per written file,
    * sorted by path. ONE pass: the write tasks themselves record each
    * file's TRUE record count, min/max column bounds (the
    * `cast(col AS string)` encoding filters compare against, unsound
    * string bounds dropped by [[IcebergLite.boundSound]]), approx NDV
    * and exact size — what real Iceberg writers report into manifests
    * when they close a file. Per-file (not per-partition-tuple) bounds
    * are what make file-level pruning selective when a partition holds
    * many files. Partition values are parsed from the hive path
    * segments (hive-unescaped).
    *
    * With `sidecar`, the same tasks write per-file MERGEABLE NDV
    * sketches (Apache DataSketches HLL, `hll_sketch_agg`'s own
    * aggregate) as a STATS SIDECAR — the Puffin analogue,
    * `metadata/stats-<runDir>.parquet`, one part file per task, one row
    * per (file, column). Per-file NDV longs cannot be merged into a
    * table-level count (overlapping value sets make the sum overcount
    * and the max undercount), but HLL sketches union EXACTLY, which is
    * why real Iceberg stores theta sketches in Puffin files.
    * [[IcebergLite.columnStatsMetadata]] unions exactly the LIVE files'
    * sketches, so compaction/delete simply orphan dead rows. Types
    * outside the sketch's domain (int/long/string/binary) sketch their
    * string cast. Returns the entries and the sidecar's table-relative
    * path (none when no file was written). */
  def write(df: DataFrame, tablePath: String, runDir: String,
      partitionColumns: Seq[String] = Nil, maxRecordsPerFile: Long = 0L,
      sidecar: Boolean = false): (Seq[DataFile], Seq[String]) = {
    val root = s"$tablePath/data/$runDir"
    val sidecarRel = s"metadata/stats-$runDir.parquet"
    val files = df.sparkSession.sparkContext.collectionAccumulator[DataFile]
    inFlight.put(root, Tracked(files, partitionColumns.size, s"data/$runDir/",
      if (sidecar) Some(s"$tablePath/$sidecarRel") else None))
    try {
      val w0 = df.write.mode("overwrite").format(classOf[StatsParquetFormat].getName)
      val w1 = if (maxRecordsPerFile > 0) w0.option("maxRecordsPerFile", maxRecordsPerFile) else w0
      (if (partitionColumns.nonEmpty) w1.partitionBy(partitionColumns: _*) else w1).save(root)
    } finally inFlight.remove(root)
    // Spark applies a result task's accumulator updates once per
    // partition, from its first successful attempt
    val written = files.value.asScala.toSeq.sortBy(_.filePath)
    (written, if (sidecar && written.nonEmpty) Seq(sidecarRel) else Nil)
  }

  /** Per-column running state for one file. */
  private final class ColumnTracker(ordinal: Int, dt: DataType, timeZone: String) {
    private val ref = BoundReference(ordinal, dt, nullable = true)
    private val ordering: Ordering[Any] =
      if (RowOrdering.isOrderable(dt)) TypeUtils.getInterpretedOrdering(dt) else null
    private var min: Any = null
    private var max: Any = null
    private val hllpp = HyperLogLogPlusPlus(ref, relativeSD = 0.05) // approx_count_distinct's default
    private val hllppBuf = {
      val b = new SpecificInternalRow(hllpp.aggBufferAttributes.map(_.dataType))
      hllpp.initialize(b)
      b
    }
    // types outside the sketch's domain sketch their string cast
    private val sketchAgg = new HllSketchAgg(dt match {
      case IntegerType | LongType | StringType | BinaryType => ref
      case _ => Cast(ref, StringType, Some(timeZone))
    })
    private var sketch = sketchAgg.createAggregationBuffer()

    def update(row: InternalRow): Unit = {
      if (ordering != null && !row.isNullAt(ordinal)) {
        val v = row.get(ordinal, dt)
        // strict compares: on a tie (-0.0 vs 0.0) the first value stays
        if (min == null || ordering.lt(v, min)) min = copy(v)
        if (max == null || ordering.gt(v, max)) max = copy(v)
      }
      hllpp.update(hllppBuf, row)
      sketch = sketchAgg.update(sketch, row)
    }

    private def copy(v: Any): Any = v match {
      case b: Array[Byte] => b.clone()
      case other => InternalRow.copyValue(other)
    }

    private def asString(v: Any): Option[String] =
      Option(v).map(x => Cast(Literal(x, dt), StringType, Some(timeZone)).eval().toString)

    def lower: Option[String] = asString(min)
    def upper: Option[String] = asString(max)
    def ndv: Long = hllpp.eval(hllppBuf).asInstanceOf[Long]
    def sketchBytes: Array[Byte] = sketchAgg.eval(sketch).asInstanceOf[Array[Byte]]
  }

  /** Spark's parquet writer factory with every file's writer tracked. */
  private[sources] final class TrackingFactory(parquet: OutputWriterFactory, tracked: Tracked)
      extends OutputWriterFactory {
    override def getFileExtension(context: TaskAttemptContext): String =
      parquet.getFileExtension(context)
    override def newInstance(path: String, dataSchema: StructType,
        context: TaskAttemptContext): OutputWriter =
      new TrackingWriter(parquet.newInstance(path, dataSchema, context),
        dataSchema, tracked, context)
  }

  /** Wraps Spark's parquet writer for one file and tracks its metrics. */
  private final class TrackingWriter(delegate: OutputWriter, dataSchema: StructType,
      tracked: Tracked, context: TaskAttemptContext) extends OutputWriter {
    private val timeZone = SQLConf.get.sessionLocalTimeZone
    private val columns = dataSchema.fields.zipWithIndex.map { case (f, i) =>
      new ColumnTracker(i, f.dataType, timeZone)
    }
    private var rows = 0L

    override def path(): String = delegate.path()

    override def write(row: InternalRow): Unit = {
      delegate.write(row)
      rows += 1
      var i = 0
      while (i < columns.length) { columns(i).update(row); i += 1 }
    }

    override def close(): Unit = {
      delegate.close()
      if (rows > 0) {
        val p = new Path(path())
        val size = p.getFileSystem(context.getConfiguration).getFileStatus(p).getLen
        // the task sees the committer's attempt path; the file's final
        // place under the output root is its partition dirs + name
        val segments = path().split('/').takeRight(tracked.partitionDepth + 1)
        val rel = tracked.pathPrefix + segments.mkString("/")
        val partition = segments.init.map { seg =>
          val Array(k, v) = seg.split("=", 2)
          IcebergLite.unescapeHive(k) -> IcebergLite.unescapeHive(v)
        }.toMap
        val fields = dataSchema.fields.zip(columns)
        def bounds(f: ColumnTracker => Option[String]) = fields.flatMap { case (c, t) =>
          f(t).filter(IcebergLite.boundSound(c.dataType, _)).map(c.name -> _)
        }.toMap
        tracked.files.add(DataFile(
          filePath = rel, fileFormat = "PARQUET", partition = partition,
          recordCount = rows,
          lowerBounds = bounds(_.lower), upperBounds = bounds(_.upper),
          sequenceNumber = -1L, // resolved to the commit's sequence at commit
          fileSizeBytes = size,
          ndv = fields.map { case (c, t) => c.name -> t.ndv }.toMap))
        tracked.sidecarDir.foreach { dir =>
          val out = TaskSidecar(dir, context)
          fields.foreach { case (c, t) =>
            out.write(new GenericInternalRow(Array[Any](UTF8String.fromString(rel),
              UTF8String.fromString(c.name), t.sketchBytes)))
          }
        }
      }
    }
  }

  /** The current task's part file in a sidecar directory: opened by the
    * task's first non-empty data file, closed when the task ends, and
    * deleted if the task fails. */
  private object TaskSidecar {
    private val open = new ConcurrentHashMap[Long, OutputWriter]()

    def apply(dir: String, context: TaskAttemptContext): OutputWriter = {
      val task = TaskContext.get()
      open.computeIfAbsent(task.taskAttemptId(), _ => {
        val conf = new Configuration(context.getConfiguration)
        ParquetWriteSupport.setSchema(sidecarSchema, conf)
        val writer = new ParquetOutputWriter(
          f"$dir/part-${task.partitionId()}%05d-${task.taskAttemptId()}.parquet",
          new TaskAttemptContextImpl(conf, context.getTaskAttemptID))
        task.addTaskCompletionListener[Unit] { ctx =>
          open.remove(ctx.taskAttemptId())
          writer.close()
          if (ctx.isFailed()) {
            val p = new Path(writer.path)
            p.getFileSystem(conf).delete(p, false)
          }
        }
        writer
      })
    }
  }
}

/** Spark's parquet format with [[StatsParquet]]'s per-file tracking
  * wrapped around its writer. Only [[StatsParquet.write]] names it. */
class StatsParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val root = options.getOrElse("path", "")
    val tracked = Option(StatsParquet.inFlight.get(root)).getOrElse(
      throw new IllegalStateException(s"no tracked IcebergLite write in flight for '$root'"))
    new StatsParquet.TrackingFactory(
      super.prepareWrite(sparkSession, job, options, dataSchema), tracked)
  }
}
