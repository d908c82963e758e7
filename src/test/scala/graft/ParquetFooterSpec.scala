package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{StructType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ParquetTables

/** Opening a table reads its schema from one parquet footer on the
  * driver: no Spark job starts, and the schema is the one Spark's own
  * inference gives, plus the TIMESTAMP(NANOS) → TIMESTAMP_NTZ repair. */
class ParquetFooterSpec extends AnyFunSuite {
  import TestSpark._

  /** Spark jobs `body` starts on this thread. A marker job in another
    * group runs after it; the listener bus delivers events in order, so
    * once the marker's start arrives every earlier start has too. */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    val tag = java.util.UUID.randomUUID.toString
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"body-$tag", "footer spec")
      val result = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"marker-$tag", "footer spec marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(s"marker-$tag") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(s"marker-$tag"), "the marker job's start never arrived")
      (result, groups.asScala.count(_ == s"body-$tag"))
    } finally sc.removeSparkListener(listener)
  }

  /** The columns a parquet file's schema annotates TIMESTAMP(NANOS). */
  private def nanoColumns(file: String): Seq[String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), new Configuration()))
    try r.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if String.valueOf(f.getLogicalTypeAnnotation).contains("NANOS") => f.getName
    }.toSeq
    finally r.close()
  }

  /** What `spark.read.parquet(path)` infers (NANOS read as raw longs),
    * with the `nanos` columns cast to TIMESTAMP_NTZ. */
  private def inferred(path: String, nanos: Seq[String]): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    nanos.foldLeft(spark.read.parquet(path)) { (df, c) =>
      df.withColumn(c, expr(s"cast(timestamp_micros(`$c` div 1000) as timestamp_ntz)"))
    }.schema
  }

  private def readWithoutJobs(path: String): DataFrame = {
    val (df, jobs) = jobsStartedBy(ParquetTables.read(spark, path))
    assert(jobs == 0, s"opening $path started $jobs Spark job(s)")
    df
  }

  /** id, a decimal, a timestamp_ntz, an array and a struct: a Spark
    * writer stores this schema in the footer's row metadata. */
  private def sparkTypes: DataFrame = spark.sql("""
    SELECT id, CAST(id * 1.5 AS DECIMAL(12, 3)) AS amount,
           make_timestamp_ntz(2024, 1, 1, 0, 0, CAST(id AS INT)) AS at,
           array(id, id + 1) AS xs, named_struct('a', id, 'b', CAST(id AS STRING)) AS s
    FROM range(10)""")

  private def sorted(df: DataFrame): Seq[String] =
    df.orderBy(col("id")).collect().map(_.toString).toSeq

  test("registerDir starts no Spark job and every view has the inferred schema") {
    val session = spark.newSession()
    val (_, jobs) = jobsStartedBy(Engine.registerDir(session, sf0001))
    assert(jobs == 0, s"registerDir started $jobs Spark job(s)")
    val tables = Engine.tableNames.filter(t => new java.io.File(s"$sf0001/$t.parquet").exists())
    assert(tables.size == Engine.tableNames.size)
    tables.foreach { t =>
      val p = s"$sf0001/$t.parquet"
      assert(session.table(t).schema == inferred(p, nanoColumns(p)), t)
    }
  }

  test("a TIMESTAMP(NANOS) column is read as TIMESTAMP_NTZ with its wall-clock value") {
    val dir = Files.createTempDirectory("footer_nanos")
    val file = dir.resolve("t.parquet").toString
    val schema = MessageTypeParser.parseMessageType("""message t {
      required int64 id;
      optional int64 ts (TIMESTAMP(NANOS,false));
      optional binary name (STRING);
    }""")
    val writer = ExampleParquetWriter.builder(new Path(file)).withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 3).foreach { i =>
      writer.write(rows.newGroup().append("id", i.toLong)
        .append("ts", 1704067200123456789L + i * 1000L).append("name", s"n$i"))
    } finally writer.close()
    assert(nanoColumns(file) == Seq("ts"))
    val df = readWithoutJobs(file)
    assert(df.schema == inferred(file, Seq("ts")))
    assert(df.schema("ts").dataType == TimestampNTZType)
    assert(df.orderBy("id").collect().map(_.getAs[java.time.LocalDateTime]("ts").toString).toSeq ==
      Seq("2024-01-01T00:00:00.123456", "2024-01-01T00:00:00.123457", "2024-01-01T00:00:00.123458"))
    Engine.deleteRecursively(dir)
  }

  test("a Spark-written file is read with the schema in its row metadata") {
    val dir = Files.createTempDirectory("footer_spark").resolve("t").toString
    sparkTypes.coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(part), new Configuration()))
    val keys = try r.getFileMetaData.getKeyValueMetaData.asScala.keySet finally r.close()
    assert(keys.contains("org.apache.spark.sql.parquet.row.metadata"))
    val df = readWithoutJobs(dir)
    assert(df.schema == inferred(dir, Nil))
    assert(sorted(df) == sorted(sparkTypes))
    Engine.deleteRecursively(java.nio.file.Paths.get(dir).getParent)
  }

  test("a directory of part files, flat or hive-partitioned, reads like Spark's inference") {
    val root = Files.createTempDirectory("footer_parts")
    val flat = root.resolve("flat").toString
    val hive = root.resolve("hive").toString
    sparkTypes.repartition(3).write.parquet(flat)
    sparkTypes.withColumn("k", col("id") % 2).write.partitionBy("k").parquet(hive)
    Seq(flat -> sparkTypes, hive -> sparkTypes.withColumn("k", col("id") % 2)).foreach {
      case (dir, expected) =>
        val df = readWithoutJobs(dir)
        assert(df.schema == inferred(dir, Nil), dir)
        assert(sorted(df) == sorted(expected), dir)
    }
    Engine.deleteRecursively(root)
  }
}
