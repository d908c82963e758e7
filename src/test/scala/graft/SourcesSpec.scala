package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IcebergLite
import graft.streaming.EventStream

/** IcebergLite (snapshot resolution, time travel, partition pruning)
  * against a generated table in the reference's JSON layout, plus the
  * Structured-Streaming smoke (file source → watermarked window agg →
  * memory sink). */
class SourcesSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val tableDir: String = {
    val root = Files.createTempDirectory("iceberg_lite").toString
    Files.createDirectories(Paths.get(s"$root/metadata"))
    Files.createDirectories(Paths.get(s"$root/data"))
    val s = spark
    import s.implicits._
    // snapshot 1: two files, partitions year=2023/2024; snapshot 2 adds year=2025
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/data/y2023")
    Seq((3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/data/y2024")
    Seq((4L, "d"), (5L, "e"), (6L, "f")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/data/y2025")
    def files(dir: String): String = {
      val fs = new java.io.File(s"$root/data/$dir").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      fs.map(f => s"data/$dir/${f.getName}").head
    }
    def dataFileJson(dir: String, year: String, n: Int): String =
      s"""{"data_file": {"file_path": "${files(dir)}", "file_format": "PARQUET",
          "partition": {"year": "$year"}, "record_count": $n, "file_size_in_bytes": 1}}"""
    def write(path: String, content: String): Unit =
      Files.writeString(Paths.get(s"$root/$path"), content)

    write("metadata/manifest-1.json",
      s"""{"entries": [${dataFileJson("y2023", "2023", 2)}, ${dataFileJson("y2024", "2024", 1)}]}""")
    write("metadata/manifest-2.json",
      s"""{"entries": [${dataFileJson("y2025", "2025", 3)}]}""")
    write("metadata/manifest-list-1.json",
      """[{"manifest_path": "metadata/manifest-1.json", "manifest_length": 1,
          "partition_spec_id": 0, "snapshot_id": 1, "sequence_number": 1}]""")
    write("metadata/manifest-list-2.json",
      """[{"manifest_path": "metadata/manifest-1.json", "manifest_length": 1,
          "partition_spec_id": 0, "snapshot_id": 1, "sequence_number": 1},
         {"manifest_path": "metadata/manifest-2.json", "manifest_length": 1,
          "partition_spec_id": 0, "snapshot_id": 2, "sequence_number": 2}]""")
    write("metadata/snap-1.snapshot.json",
      """{"snapshot_id": 1, "manifest_list": "metadata/manifest-list-1.json"}""")
    write("metadata/snap-2.snapshot.json",
      """{"snapshot_id": 2, "parent_snapshot_id": 1,
          "manifest_list": "metadata/manifest-list-2.json"}""")
    write("metadata/v0.metadata.json",
      """{"format_version": 2, "uuid": "test-uuid", "current_snapshot_id": 2}""")
    root
  }

  test("current snapshot reads all live files with partition columns") {
    val df = IcebergLite.read(spark, tableDir)
    assert(df.count() == 6)
    assert(df.columns.contains("year"))
    assert(df.filter(col("year") === "2025").count() == 3)
  }

  test("time travel to snapshot 1") {
    val df = IcebergLite.read(spark, tableDir, snapshotId = Some(1L))
    assert(df.count() == 3)
    assert(df.select(max(col("id"))).collect()(0).getLong(0) == 3L)
  }

  test("partition pruning: Eq / Gt / In filter files before any scan") {
    assert(IcebergLite.dataFiles(tableDir).size == 3)
    assert(IcebergLite.dataFiles(tableDir,
      filters = Seq(IcebergLite.Eq("year", "2024"))).size == 1)
    assert(IcebergLite.dataFiles(tableDir,
      filters = Seq(IcebergLite.Gt("year", "2023"))).size == 2)
    assert(IcebergLite.dataFiles(tableDir,
      filters = Seq(IcebergLite.In("year", Seq("2023", "2025")))).size == 2)
    val pruned = IcebergLite.read(spark, tableDir,
      filters = Seq(IcebergLite.Lt("year", "2025")))
    assert(pruned.count() == 3)
  }

  test("snapshots enumerates time-travel targets") {
    assert(IcebergLite.snapshots(tableDir) == Seq(1L, 2L))
  }

  // demo table (same generator as the committed data/iceberg_demo):
  // 2 snapshots, hive-style paths, per-file id/amount bounds
  private lazy val demoDir: String = {
    val root = Files.createTempDirectory("iceberg_demo_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    root
  }

  test("file-level min/max pruning skips files on column bounds") {
    // current snapshot: 4 files; region=EU → 2; plus id > 3 prunes the
    // EU file whose upper id bound is 3 (reference iceberg.rs:354-507)
    assert(IcebergLite.dataFiles(demoDir).size == 4)
    assert(IcebergLite.dataFiles(demoDir,
      filters = Seq(IcebergLite.Eq("region", "EU"))).size == 2)
    assert(IcebergLite.dataFiles(demoDir,
      filters = Seq(IcebergLite.Eq("region", "EU"), IcebergLite.Gt("id", "3"))).size == 1)
    // bounds prune on a double column too: amount < 40 keeps only eu-1
    assert(IcebergLite.dataFiles(demoDir,
      filters = Seq(IcebergLite.Lt("amount", "40"))).size == 1)
    // Eq inside a file's range keeps it; outside every range drops all
    assert(IcebergLite.dataFiles(demoDir,
      filters = Seq(IcebergLite.Eq("id", "8"))).size == 1)
    assert(IcebergLite.dataFiles(demoDir,
      filters = Seq(IcebergLite.Eq("id", "99"))).isEmpty)
  }

  test("append creates a new time-travelable snapshot with pruned bounds") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_append_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val before = IcebergLite.read(spark, root).count()

    val extra = Seq((100L, 500.5, "EU"), (101L, 600.25, "SA"))
      .toDF("id", "amount", "region")
    val newId = IcebergLite.append(spark, root, extra, partitionColumns = Seq("region"))

    // current snapshot sees old + new rows; the pre-append snapshot is untouched
    assert(IcebergLite.read(spark, root).count() == before + 2)
    assert(IcebergLite.read(spark, root, snapshotId = Some(2L)).count() == before)
    assert(IcebergLite.snapshots(root).contains(newId))
    // new partition value is queryable, and bounds prune appended files
    assert(IcebergLite.read(spark, root,
      filters = Seq(IcebergLite.Eq("region", "SA"))).count() == 1)
    val pruned = IcebergLite.dataFiles(root, filters = Seq(IcebergLite.Gt("id", "99")))
    assert(pruned.size == 2, s"id>99 must keep only the two appended files, got $pruned")
  }

  test("append is snapshot-isolated and atomic for concurrent readers") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_iso_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val before = IcebergLite.read(spark, root).count()

    // Reader pinned BEFORE the commit: read() resolves its file list
    // eagerly from the current snapshot, so this plan must keep seeing
    // exactly the pre-append rows no matter what commits later.
    val pinned = IcebergLite.read(spark, root)

    // Appender runs on another thread; the main thread hammers
    // current-snapshot reads the whole time. Atomic pointer swap =>
    // every read resolves cleanly to either the old or the new
    // snapshot — never a torn pointer, never a partial file list.
    @volatile var appendedId = -1L
    val appender = new Thread(() => {
      val extra = Seq((200L, 700.75, "EU"), (201L, 800.5, "AF")).toDF("id", "amount", "region")
      appendedId = IcebergLite.append(spark, root, extra, partitionColumns = Seq("region"))
    })
    appender.start()
    val observed = scala.collection.mutable.Set[Long]()
    while (appender.isAlive) observed += IcebergLite.read(spark, root).count()
    appender.join()
    observed += IcebergLite.read(spark, root).count()
    assert(observed.subsetOf(Set(before, before + 2)),
      s"concurrent reads saw a partial commit: $observed (expected only $before or ${before + 2})")
    assert(observed.contains(before + 2), "post-commit read must see the new snapshot")

    // the pinned reader is still on its snapshot; time travel agrees
    assert(pinned.count() == before)
    assert(appendedId > 0 && IcebergLite.snapshots(root).contains(appendedId))
    assert(IcebergLite.read(spark, root, snapshotId = Some(appendedId)).count() == before + 2)
  }

  test("delete rewrites only touched files and keeps prior snapshots intact") {
    val root = Files.createTempDirectory("iceberg_delete_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val before = IcebergLite.dataFiles(root).map(_.filePath).toSet

    // region='EU' AND id>10: sales-eu-1 (ids 1-3) is PROVEN untouched by
    // its id upper bound; sales-eu-2 (ids 10-12) is rewritten, id 10 kept
    val delId = IcebergLite.delete(spark, root,
      Seq(IcebergLite.Eq("region", "EU"), IcebergLite.Gt("id", "10")))

    val ids = IcebergLite.read(spark, root)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 10L), s"expected ids 1-10 after delete, got $ids")

    // copy-on-write granularity: untouched files carried forward
    // path-identical (never re-read, never rewritten); ONLY the one
    // matching file moved to a rewritten delete-snapshot path
    val after = IcebergLite.dataFiles(root).map(_.filePath).toSet
    val untouched = before - "data/region=EU/sales-eu-2.parquet"
    assert(untouched.subsetOf(after), "untouched files must keep their original paths")
    assert(!after.contains("data/region=EU/sales-eu-2.parquet"))
    assert((after -- untouched).forall(_.startsWith("data/delete-")),
      s"rewritten files must land under a data/delete- run dir, got ${after -- untouched}")

    // rewritten bounds prune: nothing with id>10 remains in any file
    assert(IcebergLite.dataFiles(root, filters = Seq(IcebergLite.Gt("id", "10"))).isEmpty)

    // prior snapshots still time-travel to the pre-delete data
    assert(IcebergLite.read(spark, root, snapshotId = Some(2L)).count() == 12)
    assert(IcebergLite.read(spark, root, snapshotId = Some(2L))
      .filter(col("id") > 10).count() == 2)
  }

  test("whole-partition delete drops files without any rewrite job") {
    val root = Files.createTempDirectory("iceberg_delete_part_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    IcebergLite.delete(spark, root, Seq(IcebergLite.Eq("region", "AP")))

    val after = IcebergLite.dataFiles(root).map(_.filePath)
    // every conjunct decided at the partition level => no rewritten
    // files at all, just the AP entry dropped from the new manifest
    assert(after.forall(!_.startsWith("data/delete-")),
      s"partition-scoped delete must not rewrite any file, got $after")
    assert(after.toSet ==
      Set("data/region=EU/sales-eu-1.parquet", "data/region=US/sales-us-1.parquet",
          "data/region=EU/sales-eu-2.parquet"))
    assert(IcebergLite.read(spark, root).filter(col("region") === "AP").count() == 0)
    assert(IcebergLite.read(spark, root).count() == 9)
  }

  test("dynamic overwrite replaces exactly the partitions present in the new data") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_overwrite_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val before = IcebergLite.dataFiles(root).map(_.filePath).toSet

    def replacement() = Seq((200L, 1.5, "US"), (201L, 2.25, "US"))
      .toDF("id", "amount", "region")
    val owId = IcebergLite.overwrite(spark, root, replacement(), Seq("region"))

    val got = IcebergLite.read(spark, root)
    assert(got.filter(col("region") === "US").select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(200L, 201L))
    assert(got.filter(col("region") =!= "US").count() == 9)

    // EU/AP carried forward path-identical; all US files replaced
    val after = IcebergLite.dataFiles(root).map(_.filePath).toSet
    val nonUs = before.filterNot(_.contains("region=US"))
    assert(nonUs.subsetOf(after))
    assert(!after.contains("data/region=US/sales-us-1.parquet"))
    assert((after -- nonUs).forall(_.startsWith("data/overwrite-")))

    // pre-overwrite snapshot still sees the original US rows
    assert(IcebergLite.read(spark, root, snapshotId = Some(2L))
      .filter(col("region") === "US").count() == 3)

    // the backfill primitive is idempotent: re-running the same
    // overwrite yields the same table (and still never touches EU/AP)
    IcebergLite.overwrite(spark, root, replacement(), Seq("region"))
    val again = IcebergLite.read(spark, root)
    assert(again.count() == 11)
    assert(nonUs.subsetOf(IcebergLite.dataFiles(root).map(_.filePath).toSet))
  }

  test("add-column schema evolution: union schema forward, old snapshots unchanged") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_evolve_spec").toString
    graft.sources.IcebergDemo.write(spark, root)

    val extra = Seq((300L, 3.5, "EU", "online"), (301L, 4.25, "US", "store"))
      .toDF("id", "amount", "region", "channel")
    val newId = IcebergLite.append(spark, root, extra, partitionColumns = Seq("region"))

    // current snapshot: union schema; pre-evolution rows NULL in the
    // new column, new rows carry their values
    val cur = IcebergLite.read(spark, root)
    assert(cur.columns.contains("channel"))
    assert(cur.filter(col("id") < 300 && col("channel").isNotNull).count() == 0)
    assert(cur.filter(col("channel") === "online").select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(300L))

    // evolution is snapshot-scoped: time travel to the pre-evolution
    // snapshot reads the OLD schema, not a null-padded new one
    assert(!IcebergLite.read(spark, root, snapshotId = Some(2L))
      .columns.contains("channel"))
    assert(IcebergLite.read(spark, root, snapshotId = Some(newId)).count() == 14)

    // the new column participates in file-level bounds pruning; files
    // that predate it have no bounds and are conservatively kept
    val pruned = IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Eq("channel", "online")))
    assert(pruned.exists(_.filePath.startsWith("data/append-")),
      "the post-evolution file carrying the value must survive pruning")
  }

  test("compaction merges small files per partition without changing a row") {
    val root = Files.createTempDirectory("iceberg_compact_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val before = IcebergLite.read(spark, root).collect().map(_.toString).sorted.toSeq
    assert(IcebergLite.dataFiles(root).size == 4) // EU has two small files

    val newId = IcebergLite.compact(spark, root)

    // one file per partition tuple now; every row identical
    val files = IcebergLite.dataFiles(root)
    assert(files.size == 3, s"expected 3 compacted files, got ${files.map(_.filePath)}")
    assert(files.map(_.partition("region")).sorted == Seq("AP", "EU", "US"))
    assert(files.forall(_.filePath.startsWith("data/compact-")))
    val after = IcebergLite.read(spark, root).collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction changed data")

    // bounds re-derived per partition: the EU file's id bounds now span
    // both original EU files, so id>10 pruning keeps exactly it
    val pruned = IcebergLite.dataFiles(root, filters = Seq(IcebergLite.Gt("id", "10")))
    assert(pruned.map(_.partition("region")) == Seq("EU"))

    // the pre-compaction snapshot still lists the original 4 files
    assert(IcebergLite.dataFiles(root, snapshotId = Some(2L)).size == 4)
  }

  test("streaming CDC upsert: stale late batches lose, replay and re-split are no-ops") {
    val root = Files.createTempDirectory("cdc_upsert_spec")
    val in = root.resolve("in").toString
    val table = root.resolve("t").toString
    val ckpt = root.resolve("ckpt").toString
    IcebergLite.createTable(table)
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def feed(rows: Seq[(Long, Long, java.sql.Timestamp, String, Double)]): Unit =
      rows.toDF("user_id", "event_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(in)
    def stream() = {
      val schema = spark.read.parquet(in).schema
      EventStream.upsertStream(
        spark.readStream.schema(schema).parquet(in), table, ckpt)
    }
    def state(): Map[Long, (Long, Double)] =
      IcebergLite.read(spark, table).collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("event_id"), r.getAs[Double]("value"))).toMap

    // batch A carries user 1's NEWEST record (seq 5) and user 2's seq 1
    feed(Seq((1L, 5L, ts("2024-01-01 10:00:00"), "click", 50.0),
      (2L, 1L, ts("2024-01-01 09:00:00"), "view", 10.0)))
    stream()
    assert(state() == Map(1L -> (5L, 50.0), 2L -> (1L, 10.0)))

    // batch B arrives LATER but carries a STALE record for user 1
    // (seq 3) plus a genuinely newer one for user 2 (seq 2)
    feed(Seq((1L, 3L, ts("2024-01-01 09:30:00"), "click", 30.0),
      (2L, 2L, ts("2024-01-01 09:45:00"), "purchase", 20.0)))
    stream()
    assert(state() == Map(1L -> (5L, 50.0), 2L -> (2L, 20.0)),
      "stale seq 3 must not clobber stored seq 5")

    // replay: same checkpoint, no new input — a no-op
    stream()
    assert(state() == Map(1L -> (5L, 50.0), 2L -> (2L, 20.0)))

    // re-run FROM SCRATCH (fresh checkpoint → both files in one batch)
    // into the same table: batch-boundary independence means the end
    // state is identical
    graft.Engine.deleteRecursively(java.nio.file.Paths.get(ckpt))
    stream()
    assert(state() == Map(1L -> (5L, 50.0), 2L -> (2L, 20.0)))
  }

  test("streaming CDC onto a branch: main frozen until publish; checkpoint restart continues the branch") {
    val root = Files.createTempDirectory("cdc_branch_spec")
    val in = root.resolve("in").toString
    val table = root.resolve("t").toString
    val ckpt = root.resolve("ckpt").toString
    IcebergLite.createTable(table)
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // a branch needs a snapshot to cut from: seed with a sentinel row
    IcebergLite.append(spark, table,
      Seq((-1L, -1L, ts("2024-01-01 00:00:00"), "seed", 0.0))
        .toDF("user_id", "event_id", "ts", "event_type", "value").coalesce(1))
    IcebergLite.createBranch(table, "ingest")
    val mainSnap = IcebergLite.currentSnapshotId(table).get
    def feed(rows: Seq[(Long, Long, java.sql.Timestamp, String, Double)]): Unit =
      rows.toDF("user_id", "event_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(in)
    def stream(): Unit = {
      val schema = spark.read.parquet(in).schema
      EventStream.upsertStream(
        spark.readStream.schema(schema).parquet(in), table, ckpt,
        toBranch = Some("ingest"))
    }
    def stateOf(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
      df.collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("event_id"), r.getAs[Double]("value"))).toMap

    feed(Seq((1L, 5L, ts("2024-01-01 10:00:00"), "click", 50.0),
      (2L, 1L, ts("2024-01-01 09:00:00"), "view", 10.0)))
    stream()
    // branch carries the merge; MAIN is frozen at the seed snapshot
    assert(IcebergLite.currentSnapshotId(table).contains(mainSnap))
    assert(stateOf(IcebergLite.read(spark, table)) == Map(-1L -> (-1L, 0.0)))
    assert(stateOf(IcebergLite.readRef(spark, table, "ingest")) ==
      Map(-1L -> (-1L, 0.0), 1L -> (5L, 50.0), 2L -> (1L, 10.0)))

    // RESTART from the same checkpoint: the next micro-batch continues
    // the branch head (stale seq 3 for user 1 must lose there too)
    feed(Seq((1L, 3L, ts("2024-01-01 09:30:00"), "click", 30.0),
      (2L, 2L, ts("2024-01-01 09:45:00"), "purchase", 20.0)))
    stream()
    assert(IcebergLite.currentSnapshotId(table).contains(mainSnap),
      "main must stay frozen across restarts")
    val branchState = Map(-1L -> (-1L, 0.0), 1L -> (5L, 50.0), 2L -> (2L, 20.0))
    assert(stateOf(IcebergLite.readRef(spark, table, "ingest")) == branchState)

    // write-audit-publish: one atomic flip makes the audited branch
    // state the main state
    IcebergLite.fastForwardMain(table, "ingest")
    assert(stateOf(IcebergLite.read(spark, table)) == branchState)
  }

  test("incremental read: appends only, replace skipped, refusals on overwrite/expiry") {
    val root = Files.createTempDirectory("iceberg_incr_spec").toString
    import spark.implicits._
    IcebergLite.createTable(root)
    def batch(rows: (Long, Double, String)*) =
      rows.toDF("id", "amount", "region")
    val s1 = IcebergLite.append(spark, root, batch((1L, 1.0, "EU")), Seq("region"))
    val s2 = IcebergLite.append(spark, root, batch((2L, 2.0, "US")), Seq("region"))
    IcebergLite.compact(spark, root) // replace: no logical change
    val s4 = IcebergLite.append(spark, root, batch((3L, 3.0, "EU")), Seq("region"))

    // rows added since s1 = batches 2 and 4; the compaction's rewrite
    // of row 1 into a fresh file must NOT resurface it
    assert(IcebergLite.incrementalRead(spark, root, fromSnapshotId = s1)
      .select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // from == to → empty
    assert(IcebergLite.incrementalRead(spark, root, fromSnapshotId = s4).isEmpty)

    // a delete snapshot in the range makes "added since" ill-posed
    IcebergLite.delete(spark, root, Seq(IcebergLite.Eq("region", "US")))
    val exDel = intercept[IllegalArgumentException] {
      IcebergLite.incrementalRead(spark, root, fromSnapshotId = s2)
    }
    assert(exDel.getMessage.contains("delete"))

    // expiring history must refuse, not silently under-report: fresh
    // append-only table so GC (not the delete above) is what breaks
    // the chain — after retainLast=1 only the final append survives
    // and the walk hits a missing intermediate snapshot
    val root2 = Files.createTempDirectory("iceberg_incr_gc_spec").toString
    IcebergLite.createTable(root2)
    val g1 = IcebergLite.append(spark, root2, batch((1L, 1.0, "EU")), Seq("region"))
    IcebergLite.append(spark, root2, batch((2L, 2.0, "US")), Seq("region"))
    IcebergLite.append(spark, root2, batch((3L, 3.0, "EU")), Seq("region"))
    IcebergLite.expireSnapshots(root2, retainLast = 1)
    val exGc = intercept[IllegalArgumentException] {
      IcebergLite.incrementalRead(spark, root2, fromSnapshotId = g1)
    }
    assert(exGc.getMessage.contains("expired"))
  }

  test("orphan-file removal deletes only unreferenced data files") {
    val root = Files.createTempDirectory("iceberg_orphan_spec").toString
    IcebergLite.createTable(root)
    import spark.implicits._
    IcebergLite.append(spark, root,
      Seq((1L, 1.0, "EU"), (2L, 2.0, "US")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"))
    IcebergLite.append(spark, root,
      Seq((3L, 3.0, "EU")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"))
    // plant the residue of a failed write: data files landed, commit
    // never flipped — no manifest references them
    val failed = Paths.get(s"$root/data/failed-job")
    Files.createDirectories(failed)
    Seq((99L, 9.9, "EU")).toDF("id", "amount", "region")
      .write.mode("overwrite").parquet(failed.toString)
    assert(Files.walk(failed).iterator().asScala.count(Files.isRegularFile(_)) > 0)

    // age guard first: nothing old enough, nothing deleted
    assert(IcebergLite.removeOrphanFiles(root).isEmpty)
    // audit pass: orphan DATA files (and only those) deleted — hidden
    // committer bookkeeping (_SUCCESS, .crc) is skipped like real
    // Iceberg's HiddenPathFilter
    val removed = IcebergLite.removeOrphanFiles(root, olderThanMs = 0L)
    assert(removed.nonEmpty && removed.forall(r =>
        r.startsWith("data/failed-job") && r.endsWith(".parquet")),
      s"removed: $removed")
    val survivors = Files.walk(failed).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    assert(survivors.forall(n => n.startsWith("_") || n.startsWith(".")),
      s"only hidden bookkeeping may survive in the failed dir: $survivors")
    // the table (current AND time travel) still reads exactly
    assert(IcebergLite.read(spark, root).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L))
    val first = IcebergLite.snapshots(root).min
    assert(IcebergLite.read(spark, root, snapshotId = Some(first))
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // idempotent: second pass finds nothing
    assert(IcebergLite.removeOrphanFiles(root, olderThanMs = 0L).isEmpty)
  }

  test("z-order cluster: min/max skipping prunes on BOTH clustered dimensions") {
    val root = Files.createTempDirectory("iceberg_zorder_spec").toString
    IcebergLite.createTable(root)
    import spark.implicits._
    // 4096 rows; amount is a decorrelated permutation of id (odd
    // multiplier mod 2^12 is a bijection), so after a lexicographic
    // (id, amount) sort every file still spans the full amount range
    val rows = (0 until 4096).map(i => (i.toLong, ((i * 2654435761L) % 4096).toDouble))
    IcebergLite.append(spark, root, rows.toDF("id", "amount"), partitionColumns = Nil)

    // lexicographic baseline: leading column prunes, trailing never does
    IcebergLite.cluster(spark, root, Seq("id", "amount"), targetFiles = 16)
    val lexAll = IcebergLite.dataFiles(root).size
    val lexId = IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Lt("id", "256"))).size
    val lexAmt = IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Lt("amount", "256"))).size
    assert(lexId <= 2, s"leading-column skip: kept $lexId of $lexAll")
    assert(lexAmt >= lexAll - 1,
      s"trailing column should NOT prune after a lexicographic sort ($lexAmt of $lexAll)")

    // z-order rewrite of the same table: both dimensions prune
    IcebergLite.cluster(spark, root, Seq("id", "amount"), targetFiles = 16, zorder = true)
    val all = IcebergLite.dataFiles(root).size
    val idKept = IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Lt("id", "256"))).size
    val amtKept = IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Lt("amount", "256"))).size
    assert(idKept <= all / 2, s"z-order id skip: kept $idKept of $all")
    assert(amtKept <= all / 2, s"z-order amount skip: kept $amtKept of $all")

    // the rewrite is a value identity
    val got = IcebergLite.read(spark, root).select("id").as[Long].collect().sorted.toSeq
    assert(got == (0L until 4096L), "z-order rewrite must not change values")

    // strings can't be min/max-scaled to codes: refuse, don't garble
    val root2 = Files.createTempDirectory("iceberg_zorder_str_spec").toString
    IcebergLite.createTable(root2)
    IcebergLite.append(spark, root2,
      Seq((1L, "a")).toDF("id", "s"), partitionColumns = Nil)
    val ex = intercept[IllegalArgumentException] {
      IcebergLite.cluster(spark, root2, Seq("id", "s"), targetFiles = 2, zorder = true)
    }
    assert(ex.getMessage.contains("numeric"))
  }

  test("merge-on-read delete: zero rewrite, reads anti-apply, rewrites materialize") {
    import spark.implicits._
    val root = Files.createTempDirectory("iceberg_mor_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val preSnap = IcebergLite.currentSnapshotId(root).get
    val filesBefore = IcebergLite.dataFiles(root).map(_.filePath).toSet

    // CoW twin for the equivalence oracle
    val cowRoot = Files.createTempDirectory("iceberg_mor_cow_twin").toString
    graft.sources.IcebergDemo.write(spark, cowRoot)
    val pred = Seq(IcebergLite.Eq("region", "EU"), IcebergLite.Gt("id", "10"))
    IcebergLite.delete(spark, cowRoot, pred)
    val cowRows = IcebergLite.read(spark, cowRoot)
      .select($"id", $"region", $"amount").orderBy($"id").collect().toSeq

    // the MoR delete is METADATA-ONLY: no file rewritten, none added
    IcebergLite.deleteMergeOnRead(spark, root, pred)
    val filesAfter = IcebergLite.dataFiles(root).map(_.filePath).toSet
    assert(filesAfter == filesBefore,
      "merge-on-read delete must not rewrite or add a single data file")
    assert(IcebergLite.rowDeletes(root).nonEmpty, "pending delete must be recorded")

    // reads anti-apply the pending delete: row-identical to the CoW twin
    assert(IcebergLite.read(spark, root)
      .select($"id", $"region", $"amount").orderBy($"id").collect().toSeq == cowRows,
      "merge-on-read and copy-on-write must produce identical reads")
    // time travel BEFORE the delete still sees every row
    assert(IcebergLite.read(spark, root, snapshotId = Some(preSnap)).count() ==
      IcebergLite.dataFiles(root, Some(preSnap)).map(_.recordCount).sum)

    // a row appended AFTER the delete matches the predicate but must
    // NOT be deleted (file-list scoping = sequence-number semantics)
    IcebergLite.append(spark, root,
      Seq((11L, 123.0, "EU")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"))
    assert(IcebergLite.read(spark, root).filter($"id" === 11L).count() == 1,
      "rows appended after a pending delete are out of its scope")

    // compaction MATERIALIZES: pending list clears, content unchanged
    val preCompact = IcebergLite.read(spark, root)
      .select($"id", $"region", $"amount").orderBy($"id", $"amount").collect().toSeq
    IcebergLite.compact(spark, root)
    assert(IcebergLite.rowDeletes(root).isEmpty,
      "compaction must clear the pending delete list")
    assert(IcebergLite.read(spark, root)
      .select($"id", $"region", $"amount").orderBy($"id", $"amount").collect().toSeq
      == preCompact, "materialization must not change a row")

    // wholesale partition-scoped MoR delete is pure metadata (no
    // pending entry needed — files drop from the manifest outright)
    IcebergLite.deleteMergeOnRead(spark, root, Seq(IcebergLite.Eq("region", "US")))
    assert(IcebergLite.rowDeletes(root).isEmpty,
      "a wholesale-covered delete needs no pending predicate")
    assert(IcebergLite.read(spark, root).filter($"region" === "US").count() == 0)

    // metadata stays parseable when delete values carry JSON-hostile
    // characters (quotes/backslashes must be escaped, or the snapshot
    // file bricks every later read)
    val qroot = Files.createTempDirectory("iceberg_mor_quote_spec").toString
    IcebergLite.createTable(qroot)
    IcebergLite.append(spark, qroot,
      Seq((1L, "O\"Brien \\ co"), (2L, "plain")).toDF("id", "v"),
      partitionColumns = Nil)
    IcebergLite.deleteMergeOnRead(spark, qroot,
      Seq(IcebergLite.Eq("v", "O\"Brien \\ co"), IcebergLite.Gt("id", "0")))
    assert(IcebergLite.read(spark, qroot).select($"v").as[String]
      .collect().toSeq == Seq("plain"),
      "quoted delete value must round-trip through snapshot JSON")
  }

  test("timestamp travel and refs: TIMESTAMP AS OF resolves, tags survive GC, branches move") {
    import spark.implicits._
    val root = Files.createTempDirectory("iceberg_refs_spec").toString
    IcebergLite.createTable(root)
    IcebergLite.append(spark, root,
      Seq((1L, 10.0, "EU"), (2L, 20.0, "US")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"))
    val snapA = IcebergLite.currentSnapshotId(root).get
    val tsA = IcebergLite.snapshotTimestampMs(root, snapA)
    assert(tsA > 0, "commits must record a timestamp")
    IcebergLite.append(spark, root,
      Seq((600L, 1.5, "EU")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"))
    val snapB = IcebergLite.currentSnapshotId(root).get
    val tsB = IcebergLite.snapshotTimestampMs(root, snapB)
    assert(tsB >= tsA, "timestamps monotone along the chain")

    // TIMESTAMP AS OF: exactly-at resolves to that snapshot; far
    // future resolves to current; before history resolves to None
    assert(IcebergLite.snapshotAsOf(root, tsA).contains(snapA))
    assert(IcebergLite.snapshotAsOf(root, tsB + 100000).contains(snapB))
    assert(IcebergLite.snapshotAsOf(root, 1L).isEmpty)

    // tag the pre-append state, then expire everything unreferenced:
    // the tag keeps its snapshot fully readable through GC
    IcebergLite.createTag(root, "train-v1", Some(snapA))
    val taggedRows = IcebergLite.read(spark, root, snapshotId = Some(snapA))
      .orderBy($"id").collect().toSeq
    IcebergLite.expireSnapshots(root, retainLast = 1)
    assert(IcebergLite.tags(root) == Map("train-v1" -> snapA))
    assert(IcebergLite.readRef(spark, root, "train-v1")
      .orderBy($"id").collect().toSeq == taggedRows,
      "tagged snapshot must read identically after GC")
    // tags are immutable; unknown refs refuse
    intercept[IllegalArgumentException] {
      IcebergLite.createTag(root, "train-v1", Some(snapB))
    }
    intercept[IllegalArgumentException] {
      IcebergLite.resolveRef(root, "nope")
    }

    // branch: head created at current, moves on advance
    IcebergLite.createBranch(root, "dev")
    assert(IcebergLite.resolveRef(root, "dev") == snapB)
    IcebergLite.append(spark, root,
      Seq((601L, 2.5, "US")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"))
    val snapC = IcebergLite.currentSnapshotId(root).get
    assert(IcebergLite.resolveRef(root, "dev") == snapB,
      "branch head must not move on a main commit")
    assert(IcebergLite.readRef(spark, root, "dev").count() + 1 ==
      IcebergLite.read(spark, root).count())
    IcebergLite.advanceBranch(root, "dev")
    assert(IcebergLite.resolveRef(root, "dev") == snapC)

    // dropping the tag releases its snapshot to the next GC
    IcebergLite.dropTag(root, "train-v1")
    IcebergLite.expireSnapshots(root, retainLast = 1)
    assert(!IcebergLite.snapshots(root).contains(snapA),
      "untagged snapshot must be reclaimable")
    // TIMESTAMP AS OF across the now-expired history answers None,
    // never an error (retained snapshots' parent pointers dangle)
    assert(IcebergLite.snapshotAsOf(root, tsA).isEmpty,
      "asOf older than retained history must resolve to None after GC")
  }

  test("optimistic concurrency: appends rebase, copy-on-write conflicts refuse, no lost updates") {
    import spark.implicits._

    // deterministic conflict path, driven through the commit seam: a
    // commit planned against a stale parent must THROW for
    // copy-on-write semantics (rebaseOnConflict = false) ...
    val root = Files.createTempDirectory("iceberg_occ_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val stale = IcebergLite.currentSnapshotId(root)
    IcebergLite.append(spark, root,
      Seq((500L, 1.0, "EU")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"))
    val advanced = IcebergLite.currentSnapshotId(root)
    assert(advanced != stale)
    intercept[IcebergLite.CommitConflictException] {
      IcebergLite.commitSnapshot(root, parentId = stale,
        entries = Nil, carriedManifests = Nil, operation = "delete")
    }

    // ... and REBASE for append semantics: the commit re-parents onto
    // the current snapshot and carries ITS manifests, so the rows the
    // competing writer committed survive
    val rowsBefore = IcebergLite.read(spark, root).count()
    val rebasedId = IcebergLite.commitSnapshot(root, parentId = stale,
      entries = Nil, carriedManifests = Nil, operation = "append",
      rebaseOnConflict = true)
    assert(rebasedId != 999L, "rebased commit must take a fresh id under the lock")
    assert(IcebergLite.parentSnapshotId(root, rebasedId) == advanced,
      "rebased commit must re-parent onto the snapshot that won the race")
    assert(IcebergLite.read(spark, root).count() == rowsBefore,
      "no rows lost through the rebase")

    // threaded stress: 4 writers x 3 appends each against one table —
    // every append must land (rebase hides the races), the snapshot
    // chain stays linear, and the final table holds every row
    val root2 = Files.createTempDirectory("iceberg_occ_stress").toString
    IcebergLite.createTable(root2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        try {
          (0 until 3).foreach { b =>
            IcebergLite.append(spark, root2,
              Seq((t * 100L + b, (t * 100 + b).toDouble, s"T$t"))
                .toDF("id", "amount", "region"),
              partitionColumns = Seq("region"))
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends must all succeed: ${errs.peek()}")
    assert(IcebergLite.read(spark, root2).count() == 12L,
      "all 12 concurrent appends must be readable — no lost update")
    // linear history: walking parents from current reaches all 12
    // commits then the root
    var cursor = IcebergLite.currentSnapshotId(root2)
    var walked = 0
    while (cursor.nonEmpty) {
      walked += 1
      cursor = IcebergLite.parentSnapshotId(root2, cursor.get)
    }
    assert(walked == 12, s"snapshot chain must be linear over all commits, walked $walked")
  }

  test("column rename: metadata-only, snapshot-scoped, composes, writes translate back") {
    import spark.implicits._
    val root = Files.createTempDirectory("iceberg_rename_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val filesBefore = IcebergLite.dataFiles(root).map(_.filePath).toSet
    val preRenameSnap = IcebergLite.currentSnapshotId(root).get

    // rename amount -> price: zero data I/O, all files carried verbatim
    IcebergLite.renameColumn(root, "amount", "price")
    assert(IcebergLite.dataFiles(root).map(_.filePath).toSet == filesBefore,
      "rename must not touch a single data file")
    val renamed = IcebergLite.read(spark, root)
    assert(renamed.columns.contains("price") && !renamed.columns.contains("amount"))
    // values identical under the new name
    val sumBefore = IcebergLite.read(spark, root, snapshotId = Some(preRenameSnap))
      .agg(sum($"amount")).head.getDouble(0)
    assert(renamed.agg(sum($"price")).head.getDouble(0) == sumBefore)
    // time travel BEFORE the rename sees the old name (per-snapshot schema)
    val old = IcebergLite.read(spark, root, snapshotId = Some(preRenameSnap))
    assert(old.columns.contains("amount") && !old.columns.contains("price"))

    // bounds pruning works under the LOGICAL name (translated to the
    // physical bounds key): amount < 40 kept exactly 1 file pre-rename
    assert(IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Lt("price", "40"))).size == 1)

    // a write AFTER the rename uses logical names and lands physically
    // under the original name, so mergeSchema stays coherent
    IcebergLite.append(spark, root,
      Seq((300L, 77.5, "EU")).toDF("id", "price", "region"),
      partitionColumns = Seq("region"))
    val afterAppend = IcebergLite.read(spark, root)
    assert(afterAppend.filter($"id" === 300L).select($"price")
      .head.getDouble(0) == 77.5)
    assert(afterAppend.columns.toSet == Set("id", "price", "region"))

    // merge keyed through the renamed column's table still works
    IcebergLite.merge(spark, root,
      Seq((300L, 99.0, "EU")).toDF("id", "price", "region"), Seq("id"))
    assert(IcebergLite.read(spark, root).filter($"id" === 300L)
      .select($"price").head.getDouble(0) == 99.0)

    // renames compose: price -> cost maps the ORIGINAL physical name
    IcebergLite.renameColumn(root, "price", "cost")
    val r2 = IcebergLite.read(spark, root)
    assert(r2.columns.contains("cost") && !r2.columns.contains("price"))
    assert(IcebergLite.renames(root) == Map("amount" -> "cost"))
    // renaming back to the physical name drops the mapping entirely
    IcebergLite.renameColumn(root, "cost", "amount")
    assert(IcebergLite.renames(root).isEmpty)
    assert(IcebergLite.read(spark, root).columns.contains("amount"))

    // name collision refuses
    val ex = intercept[IllegalArgumentException] {
      IcebergLite.renameColumn(root, "amount", "region2")
      IcebergLite.renameColumn(root, "id", "region2")
    }
    assert(ex.getMessage.contains("already in use"))

    // shadowing another live column's PHYSICAL name refuses too:
    // region2 is the logical name of physical `amount`, so `amount`
    // is not logically visible — but renaming id onto it would make
    // the write path translate two logical columns to one physical
    val ex2 = intercept[IllegalArgumentException] {
      IcebergLite.renameColumn(root, "id", "amount")
    }
    assert(ex2.getMessage.contains("physical"))
  }

  test("quantile-coded z-order: skewed numerics keep pruning, string keys cluster by rank") {
    // min/max scaling collapses a skewed column: with 90% of values in
    // [0,100) and a 1e9 tail, codes for the dense mass are all ~0, so
    // every file's bounds overlap every dense-range predicate. Rank
    // coding gives each equi-depth bucket ~1/256 of the rows, so files
    // separate where the data actually lives.
    import spark.implicits._
    val root = Files.createTempDirectory("iceberg_zorder_quant_spec").toString
    IcebergLite.createTable(root)
    // id 0..4095; v: dense [0,100) for 90% of rows (decorrelated from
    // id), huge sparse tail for the rest
    val rows = (0 until 4096).map { i =>
      val r = (i * 2654435761L) % 4096
      val v = if (r < 3686) (r % 100).toDouble + r / 4096.0 else 1e9 + r.toDouble * 1e6
      (i.toLong, v)
    }
    IcebergLite.append(spark, root, rows.toDF("id", "v"), partitionColumns = Nil)

    // min/max-coded baseline: dense-range predicate prunes ~nothing
    IcebergLite.cluster(spark, root, Seq("id", "v"), targetFiles = 16, zorder = true)
    val mmAll = IcebergLite.dataFiles(root).size
    val mmKept = IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Lt("v", "25"))).size
    assert(mmKept >= mmAll / 2,
      s"min/max coding should NOT separate the dense mass ($mmKept of $mmAll)")

    // quantile-coded rewrite: the same predicate prunes
    IcebergLite.cluster(spark, root, Seq("id", "v"), targetFiles = 16,
      zorder = true, quantileCoded = true)
    val qAll = IcebergLite.dataFiles(root).size
    val qKept = IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Lt("v", "25"))).size
    val qIdKept = IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Lt("id", "256"))).size
    assert(qKept <= qAll / 2, s"quantile coding must prune the dense range ($qKept of $qAll)")
    assert(qIdKept <= qAll / 2, s"quantile coding must keep id pruning ($qIdKept of $qAll)")
    // value identity across both rewrites
    assert(IcebergLite.read(spark, root).select("id").as[Long].collect().sorted.toSeq
      == (0L until 4096L), "quantile z-order must not change values")

    // string keys: rejected by min/max coding, clustered by rank coding
    val root2 = Files.createTempDirectory("iceberg_zorder_qstr_spec").toString
    IcebergLite.createTable(root2)
    val srows = (0 until 4096).map { i =>
      val r = (i * 2654435761L) % 4096
      (i.toLong, f"doc_${r}%05d")
    }
    IcebergLite.append(spark, root2, srows.toDF("id", "s"), partitionColumns = Nil)
    IcebergLite.cluster(spark, root2, Seq("id", "s"), targetFiles = 16,
      zorder = true, quantileCoded = true)
    val sAll = IcebergLite.dataFiles(root2).size
    val sKept = IcebergLite.dataFiles(root2,
      filters = Seq(IcebergLite.Lt("s", "doc_01024"))).size
    val sIdKept = IcebergLite.dataFiles(root2,
      filters = Seq(IcebergLite.Lt("id", "1024"))).size
    assert(sKept <= sAll / 2, s"string rank coding must prune ($sKept of $sAll)")
    assert(sIdKept <= sAll / 2, s"id must still prune alongside strings ($sIdKept of $sAll)")
  }

  test("partition-scoped z-order: no cross-partition file multiplication, per-partition pruning") {
    // VERDICT r6 item 7 (the builder's own SCALE.md caveat made code):
    // on a hive-partitioned table a GLOBAL z-range straddles every
    // partition dir, so each range task writes one file per dir it
    // touches — file count multiplies by the partition count. Scoped
    // mode keys the range shuffle on (partition cols, z) and scales
    // codes per partition, so each task holds one partition's
    // contiguous range.
    import spark.implicits._
    def mk(): String = {
      val root = Files.createTempDirectory("iceberg_zorder_part_spec").toString
      IcebergLite.createTable(root)
      // 3 partitions × 4096 rows; amount is a decorrelated permutation
      // of id within each partition (same construction as the
      // unpartitioned z-order test)
      val rows = for (r <- Seq("EU", "US", "AP"); i <- 0 until 4096)
        yield (i.toLong, ((i * 2654435761L) % 4096).toDouble, r)
      IcebergLite.append(spark, root, rows.toDF("id", "amount", "region"),
        partitionColumns = Seq("region"))
      root
    }

    // global z-order on the partitioned table: straddling multiplies files
    val g = mk()
    IcebergLite.cluster(spark, g, Seq("id", "amount"), targetFiles = 16, zorder = true)
    val globalFiles = IcebergLite.dataFiles(g).size
    assert(globalFiles > 16 + 3,
      s"global z-order should straddle partition dirs (got $globalFiles files)")

    // scoped: ≲ targetFiles per partition (+1 per boundary straddle)
    val root = mk()
    IcebergLite.cluster(spark, root, Seq("id", "amount"), targetFiles = 16,
      zorder = true, partitionScoped = true)
    val files = IcebergLite.dataFiles(root)
    assert(files.size <= 16 * 3 + 3,
      s"scoped z-order must not multiply files: got ${files.size}, cap ${16 * 3 + 3}")
    // every file belongs to exactly one partition dir
    assert(files.forall(_.partition.keySet == Set("region")))

    // the pruning grid proof, re-run PER PARTITION: inside each
    // partition both z dimensions must skip files
    for (r <- Seq("EU", "US", "AP")) {
      val all = IcebergLite.dataFiles(root,
        filters = Seq(IcebergLite.Eq("region", r))).size
      val idKept = IcebergLite.dataFiles(root,
        filters = Seq(IcebergLite.Eq("region", r), IcebergLite.Lt("id", "256"))).size
      val amtKept = IcebergLite.dataFiles(root,
        filters = Seq(IcebergLite.Eq("region", r), IcebergLite.Lt("amount", "256"))).size
      assert(idKept <= all / 2, s"[$r] z-order id skip: kept $idKept of $all")
      assert(amtKept <= all / 2, s"[$r] z-order amount skip: kept $amtKept of $all")
    }

    // value identity
    val got = IcebergLite.read(spark, root)
      .groupBy($"region").count().as[(String, Long)].collect().toMap
    assert(got == Map("EU" -> 4096L, "US" -> 4096L, "AP" -> 4096L),
      "scoped z-order rewrite must not change values")
  }

  test("merge rewrites only files a source key can touch; upserts exactly") {
    val root = Files.createTempDirectory("iceberg_merge_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val pathsBefore = IcebergLite.dataFiles(root).map(f => f.filePath -> f).toMap
    import spark.implicits._
    // update id=2 (hits only sales-eu-1, ids 1-3), insert id=13 (beyond
    // every file's bounds)
    val src = Seq((2L, "EU", 999.5), (13L, "AP", 7.25)).toDF("id", "region", "amount")
    val newId = IcebergLite.merge(spark, root, src, Seq("id"))

    val after = IcebergLite.dataFiles(root)
    // us-1 / ap-1 / eu-2 carried forward path-identical; eu-1 rewritten
    val carried = after.filter(f => pathsBefore.contains(f.filePath))
    assert(carried.map(_.filePath).sorted == Seq(
      "data/region=AP/sales-ap-1.parquet", "data/region=EU/sales-eu-2.parquet",
      "data/region=US/sales-us-1.parquet"), s"carried ${carried.map(_.filePath)}")
    assert(after.filterNot(f => pathsBefore.contains(f.filePath))
      .forall(_.filePath.startsWith("data/merge-")))

    val rows = IcebergLite.read(spark, root)
      .select(col("id"), col("region"), col("amount"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sorted.toSeq
    val expected = ((1L to 12L).map { i =>
      val base = Seq((1L, 10.5), (2L, 20.25), (3L, 30.75), (4L, 40.0), (5L, 55.5),
        (6L, 61.25), (7L, 70.75), (8L, 88.0), (9L, 99.5), (10L, 101.25),
        (11L, 115.0), (12L, 128.5)).toMap
      val region = if (i <= 3 || i >= 10) "EU" else if (i <= 6) "US" else "AP"
      (i, region, if (i == 2L) 999.5 else base(i))
    } :+ (13L, "AP", 7.25)).sorted
    assert(rows == expected)

    // pre-merge time travel unaffected
    assert(IcebergLite.read(spark, root, snapshotId = Some(2L)).count() == 12)
    // ambiguous source rejected
    val dup = Seq((1L, "EU", 0.0), (1L, "EU", 1.0)).toDF("id", "region", "amount")
    intercept[IllegalArgumentException] { IcebergLite.merge(spark, root, dup, Seq("id")) }
  }

  test("cluster rewrites into disjoint ranges; per-file bounds make pruning surgical") {
    val root = Files.createTempDirectory("iceberg_cluster_spec").toString
    IcebergLite.createTable(root)
    import spark.implicits._
    // 4 appends, each spanning the whole id range (ids interleaved mod
    // 4) — append records bounds per partition tuple (here: global), so
    // NO id predicate can skip any file before clustering
    (0 until 4).foreach { i =>
      IcebergLite.append(spark, root,
        (0 until 250).map(j => (j * 4L + i, s"v$i-$j")).toDF("id", "v").coalesce(1))
    }
    assert(IcebergLite.dataFiles(root).size == 4)
    assert(IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Gt("id", "900"))).size == 4,
      "interleaved appends must be unprunable")
    val before = IcebergLite.read(spark, root).collect().map(_.toString).sorted.toSeq

    IcebergLite.cluster(spark, root, Seq("id"), targetFiles = 4)

    val files = IcebergLite.dataFiles(root)
    assert(files.size == 4, s"got ${files.map(_.filePath)}")
    assert(files.map(_.recordCount).sum == 1000)
    val ranges = files
      .map(f => (f.lowerBounds("id").toLong, f.upperBounds("id").toLong)).sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"ranges overlap: $ranges")
    assert(IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Gt("id", "900"))).size == 1,
      "clustered bounds must prune to one file")
    val after = IcebergLite.read(spark, root).collect().map(_.toString).sorted.toSeq
    assert(after == before, "clustering changed data")
  }

  test("expireSnapshots reclaims exactly the files no retained snapshot references") {
    val root = Files.createTempDirectory("iceberg_expire_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val before = IcebergLite.read(spark, root).collect().map(_.toString).sorted.toSeq
    val compactId = IcebergLite.compact(spark, root) // snap 3: 3 new files
    val originals = Seq("data/region=EU/sales-eu-1.parquet",
      "data/region=US/sales-us-1.parquet", "data/region=AP/sales-ap-1.parquet",
      "data/region=EU/sales-eu-2.parquet")

    val (nSnaps, nFiles) = IcebergLite.expireSnapshots(root, retainLast = 1)
    assert((nSnaps, nFiles) == (2, 4), s"expired ($nSnaps snapshots, $nFiles files)")

    // the four pre-compaction files are physically gone; compacted live
    assert(originals.forall(p => !Files.exists(Paths.get(s"$root/$p"))))
    assert(IcebergLite.dataFiles(root).forall(f =>
      Files.exists(Paths.get(s"$root/${f.filePath}"))))
    // expired snapshot metadata gone, current chain intact
    assert(IcebergLite.snapshots(root) == Seq(compactId))
    assert(!Files.exists(Paths.get(s"$root/metadata/manifest-1.json")))
    val after = IcebergLite.read(spark, root).collect().map(_.toString).sorted.toSeq
    assert(after == before, "GC changed the current snapshot's data")

    // expiring again is a no-op
    assert(IcebergLite.expireSnapshots(root, retainLast = 1) == (0, 0))
  }

  test("expireSnapshots keeps files still referenced by a retained snapshot") {
    // the demo's snapshot 2 carries snapshot 1's manifest (and thus its
    // data files) forward — expiring snapshot 1 must delete NOTHING but
    // its own snapshot/manifest-list metadata
    val root = Files.createTempDirectory("iceberg_expire_shared").toString
    graft.sources.IcebergDemo.write(spark, root)
    val (nSnaps, nFiles) = IcebergLite.expireSnapshots(root, retainLast = 1)
    assert((nSnaps, nFiles) == (1, 0), "shared data files must survive")
    assert(Files.exists(Paths.get(s"$root/metadata/manifest-1.json")),
      "manifest-1 is still referenced by snapshot 2's manifest list")
    assert(!Files.exists(Paths.get(s"$root/metadata/snap-1.snapshot.json")))
    assert(IcebergLite.read(spark, root).count() == 12)
  }

  test("read is a single parquet scan regardless of partition count") {
    val df = IcebergLite.read(spark, demoDir)
    assert(df.count() == 12)
    assert(df.filter(col("region") === "EU").count() == 6)
    val plan = df.queryExecution.executedPlan.toString
    // one FileScan + the broadcast partition-map join — never a
    // union-per-partition (round-1 shape: plan size grew with partitions)
    assert("Scan parquet".r.findAllIn(plan).size == 1, s"expected 1 scan:\n$plan")
    assert(!plan.contains("Union"), s"no union-per-partition:\n$plan")
  }

  test("streaming: file source -> watermarked window agg -> memory sink") {
    val out = EventStream.runFileStream(spark, sf0001, "events_stream_test")
    assert(out.count() > 0)
    val cols = out.columns.toSet
    assert(cols == Set("window_start", "event_type", "n", "sum_value"))
    // Append mode holds back windows still inside the watermark horizon
    // (the final <=2h of event time stays open) — everything older is
    // emitted exactly once.
    val streamTotal = out.agg(sum(col("n"))).collect()(0).getLong(0)
    assert(streamTotal <= 1000L && streamTotal >= 990L, s"got $streamTotal")
  }

  test("streaming: watermarked stream-stream join matches the batch range join") {
    val events = EventStream.eventsStream(spark, sf0001)
    val q = EventStream.clickViewJoin(events)
      .writeStream.outputMode("append").format("memory")
      .queryName("ss_join_test").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ss_join_test")
    // batch oracle: same range-join semantics over the static table
    val ev = Engine.t(spark, sf0001, "events")
    val bc = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").cast("timestamp").as("c_ts"),
        col("event_id").as("click_id"))
    val bv = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").cast("timestamp").as("v_ts"),
        col("event_id").as("view_id"))
    val batch = bc.join(bv,
      col("c_user") === col("v_user") && col("v_ts") <= col("c_ts") &&
        col("v_ts") >= col("c_ts") - org.apache.spark.sql.functions.expr("INTERVAL 30 minutes"))
    assert(streamed.count() == batch.count())
    assert(streamed.count() > 0)
  }

  test("streaming: dedup within watermark via dropDuplicatesWithinWatermark") {
    val events = EventStream.eventsStream(spark, sf0001)
    // duplicate the stream by unioning it with itself: dedup must halve it
    val doubled = events.union(events)
    val q = EventStream.dedupStream(doubled)
      .writeStream.outputMode("append").format("memory")
      .queryName("events_dedup_test").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("events_dedup_test").count() == 1000L)
  }

  test("streaming: stream-static LSH ingest dedup matches the batch semi-join") {
    val s = spark
    val docsSchema = spark.read.parquet(s"$sf0001/documents.parquet").schema
    val corpus = Engine.t(spark, sf0001, "documents").filter(col("doc_id") < 400)
    val streamDocs = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf0001)
      .filter(col("doc_id") >= 400)
    val q = streaming.EventStream.ingestDedupStream(streamDocs, corpus)
      .writeStream.outputMode("append").format("memory")
      .queryName("ingest_dedup_test").start()
    q.processAllAvailable(); q.stop()
    val streamedIds = spark.table("ingest_dedup_test")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    // batch analogue of the same stateless filter
    val batchIds = streaming.EventStream.ingestDedupStream(
        Engine.t(spark, sf0001, "documents").filter(col("doc_id") >= 400), corpus)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(streamedIds == batchIds)
    // the planted near-dups of corpus docs must be among the hits
    val planted = operators.Dedup.incrementalLshPairs(
        Engine.t(spark, sf0001, "documents").filter(col("doc_id") >= 400), corpus,
        col("doc_id"), col("text"), n = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("new_id").distinct().collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty && planted.subsetOf(streamedIds))
  }

  test("streaming: kill + restart from checkpoint is exactly-once (windowed agg + native session windows)") {
    // The failure-recovery semantics a real deployment depends on:
    // feed HALF the input, stop the query, restart from the same
    // checkpoint, feed the rest — the final output must be
    // row-identical to an uninterrupted run (source offsets, the
    // watermark, and the agg/session state store all resume from the
    // checkpoint; the parquet sink's _spark_metadata commit log keeps
    // emitted windows exactly-once across the restart).
    val root = Files.createTempDirectory("graft_ckpt_test").toString
    val ev = Engine.t(spark, sf0001, "events")
    // split by TIME, not arbitrarily: everything before the cut arrives
    // in run 1, so windows/sessions the watermark finalizes in run 1
    // are complete (nothing in run 2 predates the cut, and the session
    // gap (30 min) is far below the watermark (2 h))
    val midMicros = ev
      .select(unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)).as("m"))
      .agg(((min(col("m")) + max(col("m"))) / 2).cast("long")).head.getLong(0)
    val inDir = s"$root/in"
    ev.filter(unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) <= midMicros)
      .write.parquet(inDir)

    def stream() = spark.readStream.schema(ev.schema).parquet(inDir)

    def runBoth(): Unit = {
      EventStream.runToParquet(EventStream.windowedCounts(stream()),
        s"$root/out_win", s"$root/ckpt_win")
      EventStream.runToParquet(EventStream.sessionWindowCounts(stream()),
        s"$root/out_sess", s"$root/ckpt_sess")
    }
    runBoth()
    val winAfterHalf = spark.read.parquet(s"$root/out_win").count()
    // the first run must have finalized (and committed) real output —
    // otherwise the restart proves nothing
    assert(winAfterHalf > 0, "no windows finalized before the kill")

    // "kill": the queries above are stopped; feed the rest and restart
    // from the same checkpoints
    ev.filter(unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) > midMicros)
      .write.mode("append").parquet(inDir)
    runBoth()

    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    // reference: the same transforms run uninterrupted over the full
    // input (this shape is itself oracle-checked by the stream_* rows)
    val winRef = EventStream.runToMemory(
      EventStream.windowedCounts(stream()), "ckpt_win_ref")
    val sessRef = EventStream.runToMemory(
      EventStream.sessionWindowCounts(stream()), "ckpt_sess_ref")

    val winGot = spark.read.parquet(s"$root/out_win")
    val sessGot = spark.read.parquet(s"$root/out_sess")
    assert(canon(winGot) == canon(winRef),
      "windowed agg diverged across kill-restart")
    assert(canon(sessGot) == canon(sessRef),
      "session windows diverged across kill-restart")
    // and the restart actually CONTRIBUTED rows (resumed, not replayed)
    assert(winGot.count() > winAfterHalf)
    assert(winGot.count() == winGot.distinct().count(),
      "restart re-emitted a committed window")
  }

  test("streaming: kill + restart recovers CUSTOM mapGroupsWithState state") {
    // r6 extension of the recovery proof: the windowed-agg/session-
    // window test above exercises Spark's BUILT-IN state stores; this
    // one proves the user-defined SessionState in EventStream.sessionize
    // survives a checkpoint restart — per-user counters must RESUME
    // (count first-half events fed before the kill), not restart at
    // zero, and the final states must match an uninterrupted run.
    val root = Files.createTempDirectory("graft_ckpt_mgws").toString
    val gapMs = 60 * 60 * 1000L
    val realEv = Engine.t(spark, sf0001, "events")
    val tsMicros = unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    val midMicros = realEv.select(tsMicros.as("m"))
      .agg(((min(col("m")) + max(col("m"))) / 2).cast("long")).head.getLong(0)
    // plant user 9999 with one session STRADDLING the cut (6 events at
    // 10-min spacing, 3 per side): the real sf0.001 users' median
    // inter-event gap (~7.7 h) exceeds the session gap, so without a
    // planted user no session reliably spans the cut and the carry-over
    // witness below would be vacuous
    val planted = spark.range(6).select(
      (col("id") + 9000000L).as("event_id"),
      timestamp_micros(lit(midMicros) + (col("id") - 2) * 600L * 1000000L)
        .cast(realEv.schema("ts").dataType).as("ts"),
      lit(9999L).as("user_id"), lit("planted").as("event_type"),
      lit(1.0).as("value"), lit("{}").as("props"))
    val ev = realEv.unionByName(planted)
    val inDir = s"$root/in"
    ev.filter(tsMicros <= midMicros).write.parquet(inDir)

    def stream() = spark.readStream.schema(ev.schema).parquet(inDir)
    def run(out: String, ckpt: String): Unit =
      EventStream.runSessionizeToParquet(stream(), gapMs, s"$root/$out", s"$root/$ckpt")

    run("out_split", "ckpt_split") // first half
    ev.filter(tsMicros > midMicros).write.mode("append").parquet(inDir)
    run("out_split", "ckpt_split") // kill + restart: same checkpoint, rest of input
    run("out_full", "ckpt_full")   // uninterrupted reference over the full input

    // compare final COUNTERS only: `closed` reports "a session closed
    // during this batch" — batch-relative by design, meaningless to
    // compare across different batch splits
    def states(out: String): Map[Long, Long] =
      EventStream.latestSessionStates(spark, s"$root/$out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val split = states("out_split")
    val full = states("out_full")
    assert(split == full, "custom session state diverged across kill-restart")

    // witness that state actually CARRIED OVER: at least one user's
    // final counter exceeds their post-cut event count (impossible if
    // the restart had begun from empty state)
    val secondHalfCounts = ev.filter(tsMicros > midMicros)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val carried = split.exists { case (u, n) =>
      n > secondHalfCounts.getOrElse(u, 0L) }
    assert(carried, "no user's counter resumed from checkpointed state")
  }

  test("streaming: kill + restart recovers STREAM-STREAM JOIN state") {
    // Completes the recovery matrix: windowed agg and session windows
    // cover the AGGREGATION state store, the mapGroupsWithState test
    // covers CUSTOM state — this one covers the two-sided JOIN state
    // (unmatched rows buffered on both sides awaiting the other
    // stream). A click/view pair is planted STRADDLING the cut: the
    // view arrives before the kill, its matching click only after, so
    // the match can only be emitted if the buffered view row survives
    // the checkpoint restart.
    val root = Files.createTempDirectory("graft_ckpt_join").toString
    val realEv = Engine.t(spark, sf0001, "events")
    val tsMicros = unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
    val midMicros = realEv.select(tsMicros.as("m"))
      .agg(((min(col("m")) + max(col("m"))) / 2).cast("long")).head.getLong(0)
    // planted pair: view 5 min before the cut, click 5 min after —
    // inside the 30-min join gap, far inside the 30-min watermark
    def plantedRow(id: Long, offsetMin: Long, typ: String) =
      spark.range(1).select(
        lit(id).as("event_id"),
        timestamp_micros(lit(midMicros) + offsetMin * 60L * 1000000L)
          .cast(realEv.schema("ts").dataType).as("ts"),
        lit(8888L).as("user_id"), lit(typ).as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
    val ev = realEv
      .unionByName(plantedRow(9000001L, -5L, "view"))
      .unionByName(plantedRow(9000002L, 5L, "click"))
    val inDir = s"$root/in"
    ev.filter(tsMicros <= midMicros).write.parquet(inDir)

    def stream() = spark.readStream.schema(ev.schema).parquet(inDir)
    def run(): Unit = EventStream.runToParquet(
      EventStream.clickViewJoin(stream()), s"$root/out", s"$root/ckpt")

    run() // first half
    val firstHalf = spark.read.parquet(s"$root/out")
    assert(firstHalf.count() > 0, "no pairs matched before the kill")
    assert(firstHalf.filter(col("click_id") === 9000002L).isEmpty,
      "the straddling click cannot have matched before its row arrived")

    ev.filter(tsMicros > midMicros).write.mode("append").parquet(inDir)
    run() // kill + restart: same checkpoint, rest of the input

    val got = spark.read.parquet(s"$root/out")
    val ref = EventStream.runToMemory(
      EventStream.clickViewJoin(stream()), "ckpt_join_ref")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(got) == canon(ref),
      "stream-stream join diverged across kill-restart")
    // the carry-over witness: the straddling pair IS in the final
    // output — impossible unless the pre-kill view row was restored
    // from the checkpointed join state
    assert(got.filter(col("click_id") === 9000002L && col("view_id") === 9000001L)
      .count() == 1, "buffered view row did not survive the restart")
    assert(got.count() == got.distinct().count(),
      "restart re-emitted a committed join result")
  }

  test("file identity survives hostile table paths: space, %-encodable chars, symlink") {
    val s = spark
    import s.implicits._
    // a table path input_file_name() must percent-encode (space) plus a
    // partition VALUE hive-escaping turns into a literal '%' in the dir
    // name — the r7 encoded-URI-vs-getCanonicalPath comparison failed
    // OPEN on both (deleted rows resurfaced, silently)
    val base = Files.createTempDirectory("iceberg hostile path")
    val root = base.toString
    IcebergLite.createTable(root)
    IcebergLite.append(spark, root,
      Seq((1L, 5.0, "a:b"), (2L, 50.0, "a:b"), (3L, 5.0, "plain")).toDF("id", "amount", "k"),
      partitionColumns = Seq("k"))
    // hive escaping writes k=a%3Ab: a literal '%' in the on-disk path
    assert(Files.walk(Paths.get(s"$root/data")).iterator().asScala
      .exists(_.getFileName.toString.contains("%")),
      "precondition: the partition dir must actually contain a literal %")
    // partition recovery through the hostile path
    assert(IcebergLite.read(spark, root).filter($"k" === "a:b").count() == 2)
    // merge-on-read delete with a RESIDUAL predicate: scoping joins on
    // file identity — a fail-open mismatch would leave all 3 rows
    IcebergLite.deleteMergeOnRead(spark, root,
      Seq(IcebergLite.Eq("k", "a:b"), IcebergLite.Gt("amount", "10")))
    assert(IcebergLite.rowDeletes(root).nonEmpty, "residual delete must be pending")
    assert(IcebergLite.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L), "MoR delete must apply through a space/%-bearing path")

    // a SYMLINKED table path: reads and delete scoping must agree on
    // file identity without canonicalization on either side
    val linkParent = Files.createTempDirectory("iceberg_symlink_parent")
    val link = linkParent.resolve("link")
    Files.createSymbolicLink(link, base)
    assert(IcebergLite.read(spark, link.toString).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L),
      "MoR delete must still apply when the table is opened via a symlink")
    IcebergLite.deleteMergeOnRead(spark, link.toString,
      Seq(IcebergLite.Eq("k", "plain"), IcebergLite.Gt("amount", "1")))
    assert(IcebergLite.read(spark, link.toString).select($"id").as[Long]
      .collect().toSeq == Seq(1L),
      "a delete issued through the symlink must scope correctly")
  }

  test("wholesale MoR delete prunes pending deletes of dropped files") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_mor_prune_spec").toString
    IcebergLite.createTable(root)
    IcebergLite.append(spark, root,
      Seq((1L, 5.0, "EU"), (2L, 50.0, "EU"), (3L, 5.0, "US")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"))
    // residual delete pending against EU's files only
    IcebergLite.deleteMergeOnRead(spark, root,
      Seq(IcebergLite.Eq("region", "EU"), IcebergLite.Gt("amount", "10")))
    assert(IcebergLite.rowDeletes(root).nonEmpty)
    // wholesale delete drops ALL of EU's files from the manifest: the
    // pending entry references only dropped files and must vanish, not
    // linger in every subsequent snapshot's JSON
    IcebergLite.deleteMergeOnRead(spark, root, Seq(IcebergLite.Eq("region", "EU")))
    assert(IcebergLite.rowDeletes(root).isEmpty,
      "pending deletes referencing only dropped files must be pruned")
    assert(IcebergLite.read(spark, root).select($"id").as[Long].collect().toSeq == Seq(3L))
  }

  test("commit lock: fencing detects a stolen lock, holds are re-entrant") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_fence_spec").toString
    IcebergLite.createTable(root)
    IcebergLite.append(spark, root, Seq((1L, "a")).toDF("id", "v"), partitionColumns = Nil)

    // normal path: the holder passes its own fence
    IcebergLite.withCommitLock(root) { IcebergLite.assertLockOwned(root) }

    // a lock broken as stale and re-issued to another writer: the
    // original holder's fence must throw BEFORE the pointer flip, not
    // overwrite the successor's commit last-writer-wins
    intercept[IcebergLite.CommitConflictException] {
      IcebergLite.withCommitLock(root) {
        Files.writeString(Paths.get(s"$root/metadata/.commit.lock"), "intruder-token")
        IcebergLite.assertLockOwned(root)
      }
    }
    // the stolen lock's content must survive this writer's release
    assert(Files.readString(Paths.get(s"$root/metadata/.commit.lock")) == "intruder-token")
    Files.delete(Paths.get(s"$root/metadata/.commit.lock"))

    // re-entrancy: a lock-holding op can call another lock-taking op
    // (expireSnapshots now locks — this must not deadlock)
    IcebergLite.createTag(root, "keep", None)
    val (expired, _) = IcebergLite.withCommitLock(root) {
      IcebergLite.expireSnapshots(root, retainLast = 1)
    }
    assert(expired == 0)
    // and the table still commits normally afterwards
    IcebergLite.append(spark, root, Seq((2L, "b")).toDF("id", "v"), partitionColumns = Nil)
    assert(IcebergLite.read(spark, root).count() == 2)
  }

  test("string quantile boundaries sort under the eval-time UTF8 comparator") {
    val s = spark
    import s.implicits._
    // U+FFFF vs U+10000 (surrogate pair): Java String (UTF-16 code
    // units) orders them one way, UTF8String (UTF-8 bytes) the other —
    // boundaries sorted the Java way read as UNSORTED at eval time
    val divergent = Seq("￿", new String(Character.toChars(0x10000)),
      "a", "b", "￾", new String(Character.toChars(0x10FFFF)))
    val df = (divergent ++ ('a' to 'z').map(_.toString)).toDF("v")
    val bs = IcebergLite.stringQuantileBoundaries(df, "v", nBuckets = 64)
    bs.sliding(2).foreach {
      case Seq(x, y) => assert(x.compareTo(y) < 0,
        s"boundaries must be strictly increasing under UTF8String order: $x !< $y")
      case _ =>
    }
  }

  test("streaming: stateful sessionization with mapGroupsWithState") {
    val s = spark
    import s.implicits._
    val events = Seq(
      EventStream.Event(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      EventStream.Event(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), "b"),
      EventStream.Event(1L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), "c"),
      EventStream.Event(2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "d")
    ).toDS()
    val updates = EventStream.sessionize(events, gapMs = 60 * 60 * 1000)
      .collect().map(u => u.userId -> u).toMap
    assert(updates(1L).nEvents == 1) // last session restarted after the 2h gap
    assert(updates(1L).closed)
    assert(updates(2L).nEvents == 1)
    assert(!updates(2L).closed)
  }

  test("v2 sequence numbers: commits stamp files, deletes scope by sequence, pending entries age out") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_seq_spec").toString
    IcebergLite.createTable(root)
    IcebergLite.append(spark, root,
      Seq((1L, 5.0, "EU"), (2L, 50.0, "EU")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region")) // commit 1
    IcebergLite.append(spark, root,
      Seq((3L, 5.0, "US")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region")) // commit 2
    val bySeq = IcebergLite.dataFiles(root).groupBy(_.sequenceNumber)
    assert(bySeq.keySet == Set(1L, 2L),
      s"each commit must stamp its own sequence on its files, got ${bySeq.keySet}")
    assert(bySeq(1L).forall(_.partition("region") == "EU") && bySeq(2L).forall(_.partition("region") == "US"))

    // residual MoR delete = commit 3: O(1) metadata — the manifest set
    // is carried VERBATIM (no file re-listing), and the pending entry
    // records the delete commit's sequence + the full predicate
    val manifestsBefore = Files.list(Paths.get(s"$root/metadata")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("manifest-")).toSet
    IcebergLite.deleteMergeOnRead(spark, root,
      Seq(IcebergLite.Eq("region", "EU"), IcebergLite.Gt("amount", "10")))
    val dels = IcebergLite.rowDeletes(root)
    assert(dels.map(_.sequenceNumber) == Seq(3L),
      s"pending delete must carry the delete commit's sequence, got $dels")
    assert(dels.head.filters.size == 2, "the FULL conjunct set is stored, not a residual")
    assert(IcebergLite.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L))

    // commit 4 appends a row matching the predicate: its file's
    // sequence (4) > the delete's (3), so the row survives purely by
    // sequence scoping — no path bookkeeping anywhere
    IcebergLite.append(spark, root,
      Seq((4L, 99.0, "EU")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"))
    assert(IcebergLite.dataFiles(root).map(_.sequenceNumber).max == 4L)
    assert(IcebergLite.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 4L), "a higher-sequence file is out of every pending delete's scope")
    assert(IcebergLite.rowDeletes(root).map(_.sequenceNumber) == Seq(3L),
      "appends carry pending deletes forward untouched")

    // a rewrite that touches the delete's files materializes it: the
    // rewritten files get the rewriting commit's sequence, and the
    // pending entry — now matchable only against higher-sequence files
    // — is pruned from the snapshot JSON
    IcebergLite.compact(spark, root)
    assert(IcebergLite.rowDeletes(root).isEmpty)
    assert(IcebergLite.dataFiles(root).forall(_.sequenceNumber == 5L),
      "a full rewrite re-stamps every file with the rewriting commit's sequence")
    assert(IcebergLite.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 3L, 4L), "materialization must not change a row")
    assert(manifestsBefore.subsetOf(
      Files.list(Paths.get(s"$root/metadata")).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("manifest-")).toSet),
      "the MoR delete must not have rewritten any prior manifest")
  }

  /** Metadata-only synthetic table: `nManifests` commits, each listing
    * `filesPer` entries over partition p = commit index mod 10 with
    * id bounds per entry — no parquet behind the paths, so the test
    * isolates PLANNING cost/results from data I/O. */
  private def syntheticManifestTable(nManifests: Int, filesPer: Int): String = {
    val root = Files.createTempDirectory("iceberg_planning_spec").toString
    IcebergLite.createTable(root)
    (1 to nManifests).foreach { i =>
      val entries = (0 until filesPer).map { j =>
        s"""{"data_file": {"file_path": "data/f-$i-$j.parquet", "file_format": "PARQUET",
           |  "partition": {"p": "${i % 10}"}, "record_count": 1, "sequence_number": $i,
           |  "lower_bounds": {"id": "${j * 10}"}, "upper_bounds": {"id": "${j * 10 + 9}"}}}""".stripMargin
      }
      IcebergLite.commitSnapshot(root, IcebergLite.currentSnapshotId(root),
        entries, carriedManifests = (1 until i).map(k => s"metadata/manifest-$k.json"))
    }
    root
  }

  test("distributed manifest planning: same files as the driver path, pruning runs as a Spark job") {
    val root = syntheticManifestTable(nManifests = 80, filesPer = 25)
    val filters = Seq(IcebergLite.Eq("p", "3"), IcebergLite.Gt("id", "178"))
    val driver = IcebergLite.dataFiles(root, filters = filters)
    // p=3 → 8 of 80 manifests; id upper bound > 178 → j=17..24, 8 of 25 entries each
    assert(driver.size == 8 * 8, s"driver pruning sanity, got ${driver.size}")

    spark.sparkContext.setJobGroup("graft-plan-spec", "distributed manifest planning")
    val dist = try IcebergLite.planFilesDistributed(spark, root, filters = filters)
    finally spark.sparkContext.clearJobGroup()
    assert(dist.toSet == driver.toSet,
      "distributed planning must return exactly the driver path's file set")
    // the pruning genuinely ran as a Spark job (status store updates
    // asynchronously — poll briefly)
    val deadline = System.currentTimeMillis() + 5000
    var ids = spark.sparkContext.statusTracker.getJobIdsForGroup("graft-plan-spec")
    while (ids.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      ids = spark.sparkContext.statusTracker.getJobIdsForGroup("graft-plan-spec")
    }
    assert(ids.nonEmpty, "planFilesDistributed must submit a Spark job")

    // read() routes through the distributed planner past the manifest
    // threshold: on a REAL table, lowering the threshold to 1 must
    // change nothing about the rows a read returns
    val demo = Files.createTempDirectory("iceberg_planning_route").toString
    graft.sources.IcebergDemo.write(spark, demo)
    val expected = IcebergLite.read(spark, demo).orderBy(col("id")).collect().toSeq
    spark.conf.set("graft.iceberg.planning.distributedThreshold", "1")
    try {
      assert(IcebergLite.read(spark, demo).orderBy(col("id")).collect().toSeq == expected,
        "distributed-planned read must be row-identical to driver-planned")
    } finally spark.conf.unset("graft.iceberg.planning.distributedThreshold")
  }

  test("files/partitions metadata tables plan DISTRIBUTED past the manifest threshold") {
    val root = syntheticManifestTable(nManifests = 80, filesPer = 25)
    // past the threshold (80 >= 64): the manifest walk is a Spark job,
    // not a driver-built LocalRelation
    val dist = IcebergLite.filesMetadata(spark, root)
    // the only LocalRelation allowed is the O(manifests) PATH list that
    // seeds the job — never the O(entries) file rows themselves
    assert(dist.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if l.output.length > 1 => l
    }.isEmpty, "big-metadata files table must not materialize entries on the driver")
    assert(dist.queryExecution.optimizedPlan.toString.contains("SerializeFromObject"),
      "entry parsing must run inside the plan (flatMap over manifests)")
    spark.sparkContext.setJobGroup("graft-meta-spec", "distributed files metadata")
    val distRows = try dist.collect().toSet
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 5000
    var ids = spark.sparkContext.statusTracker.getJobIdsForGroup("graft-meta-spec")
    while (ids.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      ids = spark.sparkContext.statusTracker.getJobIdsForGroup("graft-meta-spec")
    }
    assert(ids.nonEmpty, "filesMetadata must submit a Spark job past the threshold")
    // row-identical to the driver path (threshold raised out of reach)
    spark.conf.set("graft.iceberg.planning.distributedThreshold", "100000")
    val driverRows = try IcebergLite.filesMetadata(spark, root).collect().toSet
    finally spark.conf.unset("graft.iceberg.planning.distributedThreshold")
    assert(distRows == driverRows)
    assert(distRows.size == 80 * 25)
    // the partitions aggregation inherits the distributed scan
    val parts = IcebergLite.partitionsMetadata(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(parts.keySet == (0 to 9).map(i => s"p=$i").toSet)
    assert(parts("p=3") == 8L * 25)
  }

  test("branch writes: commits land on the branch, main is isolated, fast-forward publishes") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_branch_write_spec").toString
    IcebergLite.createTable(root)
    IcebergLite.append(spark, root,
      Seq((1L, 10.0, "EU"), (2L, 20.0, "US")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"))
    val mainSnap = IcebergLite.currentSnapshotId(root).get
    IcebergLite.createBranch(root, "audit")

    // append + precedence merge land on the BRANCH; main sees neither
    IcebergLite.append(spark, root,
      Seq((3L, 30.0, "EU")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"), toBranch = Some("audit"))
    IcebergLite.merge(spark, root,
      Seq((2L, 99.0, "US"), (4L, 40.0, "AP")).toDF("id", "amount", "region"),
      keyCols = Seq("id"), toBranch = Some("audit"))
    assert(IcebergLite.currentSnapshotId(root).get == mainSnap,
      "branch commits must not move the main pointer")
    assert(IcebergLite.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L), "main must not see branch work before fast-forward")
    val branchRows = IcebergLite.readRef(spark, root, "audit")
      .select($"id", $"amount").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(branchRows == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0)),
      s"branch must hold the append + the upsert, got $branchRows")
    // the branch merge planned against the BRANCH head: the appended
    // id=3 row (branch-only) survived the rewrite, and parentage is a
    // linear chain from the branch head back through mainSnap
    var cursor = Option(IcebergLite.branches(root)("audit"))
    val chain = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (cursor.nonEmpty) { chain += cursor.get; cursor = IcebergLite.parentSnapshotId(root, cursor.get) }
    assert(chain.contains(mainSnap), "branch history must root at the branch point")

    // publish: one atomic flip, main == branch head
    val published = IcebergLite.fastForwardMain(root, "audit")
    assert(IcebergLite.currentSnapshotId(root).contains(published))
    assert(IcebergLite.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L))

    // divergence refuses: advance main independently, branch again,
    // land a branch commit, then a second main commit → fast-forward
    // must throw instead of dropping main's commit
    IcebergLite.createBranch(root, "audit2")
    IcebergLite.append(spark, root,
      Seq((5L, 50.0, "EU")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region"), toBranch = Some("audit2"))
    IcebergLite.append(spark, root,
      Seq((6L, 60.0, "US")).toDF("id", "amount", "region"),
      partitionColumns = Seq("region")) // main moves: diverged
    intercept[IcebergLite.CommitConflictException] {
      IcebergLite.fastForwardMain(root, "audit2")
    }
    assert(IcebergLite.read(spark, root).filter($"id" === 6L).count() == 1,
      "a refused fast-forward must leave main intact")
  }

  test("position deletes: metadata-only, ordinal-exact through partition recovery, rewrites materialize") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_posdel_spec").toString
    graft.sources.IcebergDemo.write(spark, root)
    val filesBefore = IcebergLite.dataFiles(root).map(_.filePath).toSet
    // the demo's committed files have known row order:
    // sales-eu-1 = ids 1,2,3 · sales-us-1 = ids 4,5,6
    IcebergLite.deletePositions(spark, root, Map(
      "data/region=EU/sales-eu-1.parquet" -> Seq(0L, 2L),
      "data/region=US/sales-us-1.parquet" -> Seq(1L)))
    assert(IcebergLite.dataFiles(root).map(_.filePath).toSet == filesBefore,
      "a position delete must not rewrite or add a single data file")
    // the positions landed as a parquet DELETE FILE (real Iceberg's
    // position-delete file form), not as an ordinal list in metadata:
    // the pending entry names the key file under data/posdel-*, carries
    // the row count and the target-path range, and the snapshot JSON
    // holds NO "positions" array however many ordinals were deleted
    val pending0 = IcebergLite.posDeletes(root)
    assert(pending0.nonEmpty && pending0.forall(_.filePath.startsWith("data/posdel-")))
    assert(pending0.map(_.recordCount).sum == 3L)
    assert(pending0.forall(d =>
      d.targetLower.exists(_.startsWith("data/region=")) &&
        d.targetUpper.exists(_.startsWith("data/region="))))
    val snapJson = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/metadata/snap-${IcebergLite.currentSnapshotId(root).get}.snapshot.json"))
    assert(!snapJson.contains("\"positions\""),
      "snapshot metadata must carry no ordinal list — positions live in the delete file")
    val keyRows = spark.read.parquet(
      pending0.map(d => s"$root/${d.filePath}"): _*)
    assert(keyRows.columns.sorted.toSeq == Seq("file_path", "pos") && keyRows.count() == 3L)
    val ids = IcebergLite.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(2L, 4L, 6L, 7L, 8L, 9L, 10L, 11L, 12L),
      s"positions 0,2 of eu-1 (ids 1,3) and 1 of us-1 (id 5) must be dead, got $ids")

    // repeated delete on the same file adds a pending delete file; the
    // union'd anti-join composes them (and dedupes any overlap)
    IcebergLite.deletePositions(spark, root, Map(
      "data/region=EU/sales-eu-1.parquet" -> Seq(1L)))
    assert(IcebergLite.posDeletes(root).size > pending0.size)
    assert(IcebergLite.read(spark, root).filter($"region" === "EU" && $"id" <= 3).count() == 0)

    // unknown path fails CLOSED (a typo must not silently no-op)
    intercept[IllegalArgumentException] {
      IcebergLite.deletePositions(spark, root, Map("data/nope.parquet" -> Seq(0L)))
    }

    // equality + position deletes compose on one snapshot
    IcebergLite.deleteMergeOnRead(spark, root,
      Seq(IcebergLite.Eq("region", "AP"), IcebergLite.Gt("amount", "80")))
    assert(IcebergLite.read(spark, root).select($"id").as[Long].collect().sorted.toSeq
      == Seq(4L, 6L, 7L, 10L, 11L, 12L)) // AP ids 8,9 (88.0, 99.5) dead too; eu-1 fully dead

    // compact materializes BOTH forms and clears both pending lists
    val pre = IcebergLite.read(spark, root)
      .select($"id", $"region", $"amount").orderBy($"id").collect().toSeq
    IcebergLite.compact(spark, root)
    assert(IcebergLite.posDeletes(root).isEmpty && IcebergLite.rowDeletes(root).isEmpty)
    assert(IcebergLite.read(spark, root)
      .select($"id", $"region", $"amount").orderBy($"id").collect().toSeq == pre,
      "materialization must not change a row")

    // a position delete against a compacted (multi-row, partition-
    // recovered) file still hits the exact ordinal: delete position 0
    // of the EU file and verify exactly its first-ordinal row died
    val euFile = IcebergLite.dataFiles(root)
      .find(_.partition.get("region").contains("EU")).get.filePath
    val firstEu = spark.read.parquet(s"$root/$euFile")
      .limit(1).select($"id").as[Long].collect().head
    IcebergLite.deletePositions(spark, root, Map(euFile -> Seq(0L)))
    val after = IcebergLite.read(spark, root).select($"id").as[Long].collect().toSet
    assert(!after.contains(firstEu) && after.size == pre.size - 1)
  }

  test("cross-process commit lock: 3 real JVMs append concurrently, every commit lands on one linear chain") {
    // the r7 stress shared one JVM; this launches genuinely
    // independent processes (graft.sources.LockStressMain — the real
    // commitSnapshot path, metadata-only so no SparkSession) against
    // one table. All 3×8 commits must land and the parent chain must
    // cover every snapshot exactly once: a lost update (last-writer-
    // wins pointer clobber) would orphan a snapshot off the chain.
    val root = Files.createTempDirectory("iceberg_xproc_lock").toString
    IcebergLite.createTable(root)
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val perProc = 8
    val procs = (1 to 3).map { _ =>
      new ProcessBuilder(javaBin, "-cp", cp,
        "graft.sources.LockStressMain", root, perProc.toString)
        .redirectErrorStream(true).start()
    }
    val results = procs.map { p =>
      val finished = p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)
      val out = new String(p.getInputStream.readAllBytes())
      (finished, if (finished) p.exitValue() else -1, out)
    }
    results.foreach { case (finished, code, out) =>
      assert(finished && code == 0, s"stress JVM failed (exit $code):\n$out")
    }
    val snaps = IcebergLite.snapshots(root)
    assert(snaps.size == 3 * perProc,
      s"every commit must land: expected ${3 * perProc} snapshots, got ${snaps.size}")
    var cursor = IcebergLite.currentSnapshotId(root)
    val chain = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (cursor.nonEmpty) {
      chain += cursor.get
      cursor = IcebergLite.parentSnapshotId(root, cursor.get)
    }
    assert(chain.sorted.toSeq == snaps.sorted,
      "the snapshot chain must be linear and cover every commit (no lost updates)")
    assert(!java.nio.file.Files.exists(Paths.get(s"$root/metadata/.commit.lock")),
      "the lock must be released once all writers exit")
  }

  // ---- hidden partitioning (partition transforms) ----

  import graft.sources.IcebergTransforms
  import graft.sources.IcebergTransforms.{Bucket, Day, PartitionField, Truncate}
  import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

  private def freshSpecTable(spec: Seq[PartitionField]): String = {
    val root = Files.createTempDirectory("iceberg_hidden").toString
    IcebergLite.createTable(root, spec)
    root
  }

  test("hidden partitioning: bucket[4] point predicates prune to the literal's bucket") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("id", Bucket(4), LongType)))
    // three appends covering the SAME id range, so column bounds cannot
    // prune Eq(id, …) — any file-count drop is the transform's doing
    (0 until 3).foreach { i =>
      IcebergLite.append(s, root,
        (0L until 40L).map(id => (id, s"r$i-$id")).toDF("id", "v").coalesce(1))
    }
    val all = IcebergLite.dataFiles(root)
    assert(all.size == 12, s"3 appends x 4 buckets: ${all.size}")
    assert(all.forall(_.partition.keySet == Set("id_bucket4")))

    val expected = IcebergTransforms.evalValue(
      PartitionField("id", Bucket(4), LongType), "17").get
    val kept = IcebergLite.dataFiles(root, filters = Seq(IcebergLite.Eq("id", "17")))
    assert(kept.size == 3, s"one file per append in bucket $expected: ${kept.size}")
    assert(kept.forall(_.partition("id_bucket4") == expected))

    // row correctness through the pruned read
    val rows = IcebergLite.read(s, root, filters = Seq(IcebergLite.Eq("id", "17")))
      .filter(col("id") === 17L).select("v").as[String].collect().sorted
    assert(rows.toSeq == Seq("r0-17", "r1-17", "r2-17"))

    // the derived column is HIDDEN: reads surface only source columns
    assert(IcebergLite.read(s, root).columns.sorted.toSeq == Seq("id", "v"))
  }

  test("hidden partitioning: day transform prunes ranges via GtEq projection") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("ts", Day, TimestampType)))
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    val df = days.flatMap(d => Seq(s"$d 06:00:00", s"$d 18:00:00"))
      .zipWithIndex.map { case (t, i) => (java.sql.Timestamp.valueOf(t), i) }
      .toDF("ts", "n")
    IcebergLite.append(s, root, df)
    val all = IcebergLite.dataFiles(root)
    assert(all.map(_.partition("ts_day")).toSet == days.toSet)

    // Gt on a mid-day instant keeps that day's file (GtEq projection —
    // rows later the same day must survive) and every later day
    val kept = IcebergLite.dataFiles(root,
      filters = Seq(IcebergLite.Gt("ts", "2024-01-02 12:00:00")))
    assert(kept.map(_.partition("ts_day")).toSet == Set("2024-01-02", "2024-01-03"))

    val got = IcebergLite.read(s, root,
        filters = Seq(IcebergLite.Gt("ts", "2024-01-02 12:00:00")))
      .filter(col("ts") > lit("2024-01-02 12:00:00").cast("timestamp"))
      .select("n").as[Int].collect().sorted
    assert(got.toSeq == Seq(3, 4, 5))
  }

  test("hidden partitioning: truncate[2] on strings; compact re-derives and keeps pruning") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("code", Truncate(2), StringType)))
    IcebergLite.append(s, root,
      Seq("aa1", "aa2", "ab1", "ba7", "bb9").map(c => (c, c.length)).toDF("code", "n").coalesce(1))
    IcebergLite.append(s, root,
      Seq("aa3", "bb1").map(c => (c, c.length)).toDF("code", "n").coalesce(1))
    val kept = IcebergLite.dataFiles(root, filters = Seq(IcebergLite.Eq("code", "aa2")))
    assert(kept.nonEmpty && kept.forall(_.partition("code_trunc2") == "aa"))

    // compact reads rows WITHOUT the hidden column, re-derives it for
    // the rewrite, and the compacted layout still prunes
    IcebergLite.compact(s, root)
    val compacted = IcebergLite.dataFiles(root)
    assert(compacted.forall(_.filePath.contains("compact-")))
    val keptAfter = IcebergLite.dataFiles(root, filters = Seq(IcebergLite.Eq("code", "aa2")))
    assert(keptAfter.nonEmpty && keptAfter.forall(_.partition("code_trunc2") == "aa"))
    val rows = IcebergLite.read(s, root, filters = Seq(IcebergLite.Eq("code", "aa1")))
      .filter(col("code") === "aa1").count()
    assert(rows == 1L)
  }

  test("hidden partitioning: a user column colliding with a derived field name is verified, not trusted") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("id", Bucket(4), LongType)))
    // CORRECT pre-derived values (the hash-distribution pattern a
    // writer uses to pre-shuffle on the derived tuple) pass the probe
    val good = (0L until 8L).map(id => (id, s"v$id")).toDF("id", "v")
      .withColumn("id_bucket4", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("id")), lit(4)))
    IcebergLite.append(s, root, good)
    assert(IcebergLite.read(s, root).count() == 8L)
    // DIVERGENT values would be consumed as the partition value,
    // stripped from the files, and mis-prune reads — refused loudly
    val bad = (0L until 8L).map(id => (id, s"w$id")).toDF("id", "v")
      .withColumn("id_bucket4", lit(0))
    val e = intercept[IllegalArgumentException] {
      IcebergLite.append(s, root, bad)
    }
    assert(e.getMessage.contains("collides with the derived partition field"))
    // nothing committed by the refused write
    assert(IcebergLite.read(s, root).count() == 8L)
  }

  test("per-FILE bounds: a point filter prunes one of two files sharing a partition tuple") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_filebounds").toString
    IcebergLite.createTable(root)
    // TWO files in the SAME partition p=a with disjoint id ranges:
    // under the old per-partition-tuple bounds both files inherited
    // [1, 110] and Eq(id, 5) kept both; true per-file bounds keep one
    // RDD-level union of two single-partition RDDs keeps 2 partitions
    // (a DataFrame union of local relations is collapsed to one by the
    // optimizer) — one write TASK per range, so ONE append commits 2
    // files into p=a
    val twoTask = s.sparkContext.parallelize((1L to 10L).map(("a", _)), 1)
      .union(s.sparkContext.parallelize((101L to 110L).map(("a", _)), 1))
      .toDF("p", "id")
    IcebergLite.append(s, root, twoTask, partitionColumns = Seq("p"))
    val all = IcebergLite.dataFiles(root)
    assert(all.size == 2 && all.forall(_.partition == Map("p" -> "a")),
      s"expected 2 files in p=a: $all")
    // per-file bounds are TRUE bounds, not the partition tuple's
    assert(all.map(f => (f.lowerBounds("id"), f.upperBounds("id"))).toSet ==
      Set(("1", "10"), ("101", "110")))
    // record counts and sizes are exact per file
    assert(all.map(_.recordCount).sorted == Seq(10L, 10L))
    assert(all.forall(_.fileSizeBytes > 0))
    val kept = IcebergLite.dataFiles(root, filters = Seq(IcebergLite.Eq("id", "5")))
    assert(kept.size == 1 && kept.head.upperBounds("id") == "10",
      s"point filter must prune the [101,110] file: $kept")
    // ...and the read through the pruned plan stays row-correct
    assert(IcebergLite.read(s, root, filters = Seq(IcebergLite.Eq("id", "5")))
      .filter(col("id") === 5L).count() == 1L)
  }

  test("string columns with numeric-parsing values record no bounds (comparator soundness)") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_strbounds").toString
    IcebergLite.createTable(root)
    // '9' and '10': lexicographically '9' > '10', numerically 9 < 10 —
    // recording these as bounds under the numeric-first comparator
    // would let GtEq("code", "10") prune the file though '9' matches
    IcebergLite.append(s, root, Seq(("9", 1L), ("10", 2L)).toDF("code", "n").coalesce(1))
    val f = IcebergLite.dataFiles(root).head
    assert(!f.lowerBounds.contains("code") && !f.upperBounds.contains("code"),
      s"numeric-parsing string bounds must be omitted: $f")
    assert(f.lowerBounds("n") == "1" && f.upperBounds("n") == "2",
      "numeric columns keep their bounds")
    // the file survives the range filter and the read is correct
    val kept = IcebergLite.dataFiles(root, filters = Seq(IcebergLite.GtEq("code", "10")))
    assert(kept.size == 1)
    assert(IcebergLite.read(s, root).filter(col("code") >= "10").count() == 2L)
    // non-numeric string values still get (sound, lexicographic) bounds
    val root2 = Files.createTempDirectory("iceberg_strbounds2").toString
    IcebergLite.createTable(root2)
    IcebergLite.append(s, root2, Seq(("aa", 1L), ("zz", 2L)).toDF("code", "n").coalesce(1))
    val f2 = IcebergLite.dataFiles(root2).head
    assert(f2.lowerBounds("code") == "aa" && f2.upperBounds("code") == "zz")
  }

  test("equality-delete file: keys die, later appends of the same keys survive (sequence scoping)") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_eqdel").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root,
      (1L to 10L).map(id => (id, s"old$id")).toDF("id", "v").coalesce(1))
    // high-cardinality-shaped delete: keys land as a parquet file, the
    // snapshot carries one bounded entry, no data file is rewritten
    val before = IcebergLite.dataFiles(root).map(_.filePath).toSet
    IcebergLite.deleteEquality(s, root, Seq(3L, 5L, 7L).toDF("id"))
    assert(IcebergLite.dataFiles(root).map(_.filePath).toSet == before,
      "delete must not rewrite any data file")
    val dels = IcebergLite.eqDeletes(root)
    assert(dels.size == 1 && dels.head.keyCols == Seq("id") &&
      dels.head.recordCount == 3L && dels.head.filePath.startsWith("data/eqdel-"))
    assert(IcebergLite.read(s, root).select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 6L, 8L, 9L, 10L))
    // an append AFTER the delete re-inserts key 5: its file carries a
    // higher data-sequence, so the pending delete never touches it
    IcebergLite.append(s, root, Seq((5L, "new5")).toDF("id", "v").coalesce(1))
    val vs = IcebergLite.read(s, root).select("v").as[String].collect().sorted
    assert(vs.contains("new5") && !vs.contains("old5"),
      s"resurrected key must survive, original must stay dead: ${vs.toSeq}")
    // time travel BEFORE the delete still sees everything
    assert(IcebergLite.read(s, root, snapshotId = Some(1L)).count() == 10L)
  }

  test("equality-delete file: bounds prune the anti-join scope; compaction materializes") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_eqdel2").toString
    IcebergLite.createTable(root)
    // two files with disjoint id ranges (two write tasks)
    val twoTask = s.sparkContext.parallelize((1L to 10L).map(id => (id, s"a$id")), 1)
      .union(s.sparkContext.parallelize((101L to 110L).map(id => (id, s"b$id")), 1))
      .toDF("id", "v")
    IcebergLite.append(s, root, twoTask)
    // keys 101..103: the [1,10] file is bounds-disjoint from the key
    // range, so eqScopeMatches excludes it from the anti-join scope
    IcebergLite.deleteEquality(s, root, (101L to 103L).toDF("id"))
    assert(IcebergLite.read(s, root).count() == 17L)
    // compaction materializes the delete and clears the pending list
    IcebergLite.compact(s, root)
    assert(IcebergLite.eqDeletes(root).isEmpty, "compaction must clear pending eq deletes")
    assert(IcebergLite.read(s, root).count() == 17L)
    assert(IcebergLite.read(s, root).filter(col("id") === 102L).count() == 0L)
    // snapshot expiry keeps the ref'd key file only while its snapshots live
    val eqFile = IcebergLite.eqDeletes(root, snapshotId = Some(2L)).head.filePath
    assert(Files.exists(java.nio.file.Paths.get(s"$root/$eqFile")))
    IcebergLite.expireSnapshots(root, retainLast = 1)
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/$eqFile")),
      "expiry reclaims the key file with the snapshots that referenced it")
  }

  test("equality-delete file: multi-column keys and null keys never match") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_eqdel3").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root, Seq(
      (Some("eu"), 1L, "x"), (Some("eu"), 2L, "y"),
      (Some("us"), 1L, "z"), (None: Option[String], 1L, "n")
    ).toDF("region", "uid", "v").coalesce(1))
    // composite key (region, uid): exactly one row dies; the null-region
    // row survives even though uid matches (SQL equality semantics)
    IcebergLite.deleteEquality(s, root,
      Seq((Some("eu"), 1L), (None: Option[String], 1L)).toDF("region", "uid"))
    val vs = IcebergLite.read(s, root).select("v").as[String].collect().sorted
    assert(vs.toSeq == Seq("n", "y", "z"), s"got ${vs.toSeq}")
  }

  test("K pending eq-deletes collapse to ONE key join per signature; survivors match fold semantics") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_eqdel_union").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root,
      (1L to 20L).map(id => (id, s"old$id")).toDF("id", "v").coalesce(1))
    // a high-cadence CDC table between compactions: FOUR pending
    // same-signature delete files, with an append interleaved so
    // sequence scoping is load-bearing (key 2 is deleted, then
    // re-inserted — the union'd join must keep the re-insert while the
    // original stays dead, i.e. per-key max delete sequence vs the
    // row's file sequence, not a blanket key match)
    IcebergLite.deleteEquality(s, root, Seq(1L).toDF("id"))
    IcebergLite.deleteEquality(s, root, Seq(2L).toDF("id"))
    IcebergLite.append(s, root, Seq((2L, "re2")).toDF("id", "v").coalesce(1))
    IcebergLite.deleteEquality(s, root, Seq(3L, 4L).toDF("id"))
    IcebergLite.deleteEquality(s, root, Seq(18L).toDF("id"))
    assert(IcebergLite.eqDeletes(root).size == 4)
    val df = IcebergLite.read(s, root)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    // ONE key join for the whole signature (both sides' sequence
    // numbers are per-file scan constants, so no lookup join) — and the
    // count must stay FLAT as more deletes pile up (the r9 shape paid
    // one join per pending file)
    assert(joins.size == 1,
      s"4 pending deletes of one signature must cost 1 join total, got ${joins.size}")
    val vs = df.select("v").as[String].collect().sorted.toSeq
    assert(!vs.contains("old1") && !vs.contains("old2") && !vs.contains("old3") &&
      !vs.contains("old4") && !vs.contains("old18") && vs.contains("re2") &&
      vs.size == 16, s"got $vs")
    IcebergLite.deleteEquality(s, root, Seq(19L).toDF("id"))
    IcebergLite.deleteEquality(s, root, Seq(20L).toDF("id"))
    val joinsMore = IcebergLite.read(s, root).queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joinsMore.size == joins.size,
      s"6 pending deletes must cost the same joins as 4, got ${joinsMore.size}")
    // a second key signature pays its own (bounded) joins, not one per file
    IcebergLite.deleteEquality(s, root, Seq("old7").toDF("v"))
    IcebergLite.deleteEquality(s, root, Seq("old9").toDF("v"))
    val df2 = IcebergLite.read(s, root)
    val joins2 = df2.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins2.size == joins.size + 1,
      s"second signature adds exactly its key join, got ${joins2.size}")
    assert(df2.count() == 12L)
  }

  test("type widening: int files read as long after widenColumn; narrowing refuses") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, ShortType, StringType => StrType}
    val root = Files.createTempDirectory("iceberg_widen").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root, Seq((1, "a"), (2, "b")).toDF("x", "v").coalesce(1))
    assert(IcebergLite.read(s, root).schema("x").dataType == IntegerType)
    val preWiden = IcebergLite.currentSnapshotId(root).get
    // metadata-only promotion: zero data I/O, files untouched
    val filesBefore = IcebergLite.dataFiles(root).map(_.filePath).toSet
    IcebergLite.widenColumn(s, root, "x", LongType)
    assert(IcebergLite.dataFiles(root).map(_.filePath).toSet == filesBefore)
    // the narrow files decode as LONG under the widened schema
    val wide = IcebergLite.read(s, root)
    assert(wide.schema("x").dataType == LongType)
    assert(wide.select("x").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // a post-widening append writes long natively; the mixed
    // generations read unified (mergeSchema would refuse this file mix)
    IcebergLite.append(s, root, Seq((3000000000L, "c")).toDF("x", "v").coalesce(1))
    assert(IcebergLite.read(s, root).select("x").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3000000000L))
    // time travel BEFORE the widening still reads the narrow type
    assert(IcebergLite.read(s, root, snapshotId = Some(preWiden))
      .schema("x").dataType == IntegerType)
    // narrowing (and sideways moves) refuse
    intercept[IllegalArgumentException] {
      IcebergLite.widenColumn(s, root, "x", ShortType)
    }
    intercept[IllegalArgumentException] {
      IcebergLite.widenColumn(s, root, "x", DoubleType)
    }
    intercept[IllegalArgumentException] {
      IcebergLite.widenColumn(s, root, "v", LongType) // string never widens
    }
    // a rewrite migrates the narrow files to the wide physical type
    IcebergLite.compact(s, root)
    assert(IcebergLite.read(s, root).select("x").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3000000000L))
  }

  test("type widening: float->double; an incompatible append fails loudly at commit") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types.DoubleType
    val root = Files.createTempDirectory("iceberg_widen2").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root, Seq((1L, 1.5f), (2L, 2.25f)).toDF("id", "w").coalesce(1))
    IcebergLite.widenColumn(s, root, "w", DoubleType)
    assert(IcebergLite.read(s, root).schema("w").dataType == DoubleType)
    assert(IcebergLite.read(s, root).select("w").as[Double].collect().sorted.toSeq ==
      Seq(1.5, 2.25))
    // a STALE writer appending the old narrow type is reconciled (the
    // wide type wins); a genuinely incompatible type refuses
    IcebergLite.append(s, root, Seq((3L, 3.5f)).toDF("id", "w").coalesce(1))
    assert(IcebergLite.read(s, root).select("w").as[Double].collect().sorted.toSeq ==
      Seq(1.5, 2.25, 3.5))
    val e = intercept[IllegalArgumentException] {
      IcebergLite.append(s, root, Seq((4L, "oops")).toDF("id", "w").coalesce(1))
    }
    assert(e.getMessage.contains("incompatible"))
  }

  test("metadata columns power the position-delete workflow; manifest rewrite preserves everything") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_metacols").toString
    IcebergLite.createTable(root)
    // 3 appends → 3 manifests, 3 files
    (0 until 3).foreach { i =>
      IcebergLite.append(s, root,
        (0L until 5L).map(j => (i * 10L + j, s"v$i-$j")).toDF("id", "v").coalesce(1))
    }
    // PII-erasure workflow: locate rows by predicate, collect their
    // (_file, _pos), issue a position delete with zero data I/O
    val hits = IcebergLite.readWithMetadataColumns(s, root)
      .filter(col("v").isin("v0-2", "v2-4"))
      .select("_file", "_pos").collect()
      .groupBy(_.getAs[String]("_file"))
      .map { case (f, rs) => f -> rs.map(_.getAs[Long]("_pos")).toSeq }
    assert(hits.values.flatten.size == 2)
    val before = IcebergLite.dataFiles(root).map(_.filePath).toSet
    IcebergLite.deletePositions(s, root, hits)
    assert(IcebergLite.dataFiles(root).map(_.filePath).toSet == before)
    val vs = IcebergLite.read(s, root).select("v").as[String].collect().toSet
    assert(!vs.contains("v0-2") && !vs.contains("v2-4") && vs.size == 13)
    // surviving rows' metadata columns reflect live rows of original files
    assert(IcebergLite.readWithMetadataColumns(s, root).count() == 13L)

    // manifest rewrite: 3+ manifests consolidate to 1, file set / rows /
    // pending deletes / time travel all preserved, zero data I/O
    val rows0 = IcebergLite.read(s, root).collect().map(_.toString).sorted.toSeq
    val snapBefore = IcebergLite.currentSnapshotId(root).get
    IcebergLite.rewriteManifests(root, targetManifests = 1)
    assert(IcebergLite.dataFiles(root).map(_.filePath).toSet == before)
    assert(IcebergLite.posDeletes(root).nonEmpty, "pending deletes carry through the rewrite")
    assert(IcebergLite.read(s, root).collect().map(_.toString).sorted.toSeq == rows0)
    assert(IcebergLite.snapshotOperation(root,
      IcebergLite.currentSnapshotId(root).get) == "replace")
    // time travel to the pre-rewrite snapshot still resolves
    assert(IcebergLite.read(s, root, snapshotId = Some(snapBefore)).count() == 13L)
    // idempotent: already at the target → no new snapshot
    val cur = IcebergLite.currentSnapshotId(root).get
    assert(IcebergLite.rewriteManifests(root, targetManifests = 1) == cur)
  }

  test("write distribution modes: hash bounds files to one per partition tuple") {
    val s = spark
    import s.implicits._
    def writeScattered(root: String): Unit = {
      // 4 write tasks each touching BOTH tuples: `none` cuts up to
      // tasks x tuples files, `hash` exactly one per tuple
      IcebergLite.append(s, root,
        (0L until 40L).map(id => (id, (id % 2).toString, s"v$id"))
          .toDF("id", "p", "v").repartition(4, col("id")),
        partitionColumns = Seq("p"))
    }
    val rootNone = Files.createTempDirectory("iceberg_dist_none").toString
    IcebergLite.createTable(rootNone)
    writeScattered(rootNone)
    assert(IcebergLite.dataFiles(rootNone).size > 2,
      "scattered tasks under mode none must cut multiple files per tuple")

    val rootHash = Files.createTempDirectory("iceberg_dist_hash").toString
    IcebergLite.createTable(rootHash)
    IcebergLite.setWriteDistribution(rootHash, "hash")
    writeScattered(rootHash)
    val files = IcebergLite.dataFiles(rootHash)
    assert(files.size == 2, s"hash distribution: one file per tuple, got ${files.size}")
    assert(files.map(_.partition("p")).sorted == Seq("0", "1"))
    assert(IcebergLite.read(s, rootHash).count() == 40L)

    // range mode with a declared sort order: bounded files AND
    // globally contiguous id ranges within each tuple
    val rootRange = Files.createTempDirectory("iceberg_dist_range").toString
    IcebergLite.createTable(rootRange)
    IcebergLite.setWriteDistribution(rootRange, "range")
    IcebergLite.setSortOrder(rootRange, Seq("id"))
    writeScattered(rootRange)
    assert(IcebergLite.read(s, rootRange).count() == 40L)
    intercept[IllegalArgumentException] {
      IcebergLite.setWriteDistribution(rootRange, "zorder")
    }
  }

  test("readWhere: Column predicates drive metadata pruning; unsupported conjuncts stay row-level") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_readwhere").toString
    IcebergLite.createTable(root)
    // two partitions × disjoint id ranges per file (two write tasks)
    IcebergLite.append(s, root,
      s.sparkContext.parallelize((1L to 10L).map(i => (i, "a", s"x$i")), 1)
        .union(s.sparkContext.parallelize((11L to 20L).map(i => (i, "b", s"x$i")), 1))
        .toDF("id", "p", "v"),
      partitionColumns = Seq("p"))
    assert(IcebergLite.dataFiles(root).size == 2)
    // =, >, IN and a flipped literal all translate to metadata filters:
    // the scan must touch ONE file, and results stay exact
    val df = IcebergLite.readWhere(s, root,
      col("p") === "a" && col("id") > 3L && lit(9L) >= col("id") &&
        col("v").isin("x4", "x5", "x6", "nope") &&
        length(col("v")) === 2) // unsupported conjunct: row-level only
    assert(df.select($"id").as[Long].collect().sorted.toSeq == Seq(4L, 5L, 6L))
    val scanned = df.queryExecution.analyzed.collectLeaves()
      .flatMap(_.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.inputFiles.toSeq
            case _ => Nil
          }
      }).flatten.filter(_.contains("/data/"))
    assert(scanned.size == 1 && scanned.head.contains("p=a"),
      s"metadata pruning must reach the plan's file list: $scanned")
    // a predicate no filter can prune still answers exactly
    assert(IcebergLite.readWhere(s, root, length(col("v")) === 3).count() == 11L)
  }

  test("partition summaries: mixed and cross-kind string values never mis-prune a manifest") {
    val s = spark
    import s.implicits._
    // MIXED numeric/non-numeric partition values in one manifest: the
    // pairwise comparator is non-transitive over {"2","10","1x"}, so no
    // single min/max covers every entry — the column must be left
    // unsummarized and the manifest conservatively parsed. Before the
    // r10 guard, the fold-computed range could exclude the exact-match
    // entry (silent missing rows).
    val root = Files.createTempDirectory("iceberg_summary_mixed").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root,
      Seq((1L, "2"), (2L, "10"), (3L, "1x")).toDF("id", "p").coalesce(1),
      partitionColumns = Seq("p"))
    val snap = IcebergLite.currentSnapshotId(root).get
    assert(IcebergLite.manifestsMatching(root, snap,
      Seq(IcebergLite.Eq("p", "2"))).size == 1,
      "a mixed-value manifest must never be summary-pruned")
    assert(IcebergLite.read(s, root, filters = Seq(IcebergLite.Eq("p", "2")))
      .select($"id").as[Long].collect().toSeq == Seq(1L))

    // ALL-NUMERIC partition values with a NON-numeric filter value:
    // the compare runs under STRING order ("2" > "10x" > "10"), so the
    // numeric-order range alone would prune a manifest whose entry
    // matches — the string-order range must keep it.
    val root2 = Files.createTempDirectory("iceberg_summary_crosskind").toString
    IcebergLite.createTable(root2)
    IcebergLite.append(s, root2,
      Seq((1L, "2"), (2L, "10")).toDF("id", "p").coalesce(1),
      partitionColumns = Seq("p"))
    val snap2 = IcebergLite.currentSnapshotId(root2).get
    assert(IcebergLite.manifestsMatching(root2, snap2,
      Seq(IcebergLite.Gt("p", "10x"))).size == 1,
      "the string-order summary range must keep the manifest for a non-numeric filter value")
    assert(IcebergLite.read(s, root2, filters = Seq(IcebergLite.Gt("p", "10x")))
      .select($"id").as[Long].collect().toSeq == Seq(1L),
      "entry p=2 matches Gt('10x') under string order and must survive")
    // numeric filter values still prune numerically (2 < 5 < 10 keeps;
    // nothing above 10 exists)
    assert(IcebergLite.manifestsMatching(root2, snap2,
      Seq(IcebergLite.Gt("p", "10"))).isEmpty)
  }

  test("max-records-per-file bounds fat-partition files; bounds stay per-file exact") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_rowbound").toString
    IcebergLite.createTable(root)
    IcebergLite.setWriteDistribution(root, "hash")
    IcebergLite.setMaxRecordsPerFile(root, 30L)
    assert(IcebergLite.maxRecordsPerFile(root) == 30L)
    // one fat partition tuple: hash distribution puts all 100 rows on
    // ONE task; the row bound must still cut >= 4 files, each with its
    // own exact bounds and <= 30 rows
    IcebergLite.append(s, root,
      (0L until 100L).map(i => (i, "hot")).toDF("id", "p").repartition(4),
      partitionColumns = Seq("p"))
    val files = IcebergLite.dataFiles(root)
    assert(files.size >= 4 && files.forall(_.recordCount <= 30L),
      s"got ${files.map(_.recordCount)}")
    assert(files.map(_.recordCount).sum == 100L)
    // per-file bounds are disjoint-exact (each file knows its own ids)
    assert(files.map(f => (f.lowerBounds("id"), f.upperBounds("id"))).distinct.size
      == files.size)
    assert(IcebergLite.read(s, root).count() == 100L)
    // compaction honors the bound too (no giant consolidated file)
    IcebergLite.compact(s, root)
    val after = IcebergLite.dataFiles(root)
    assert(after.forall(_.recordCount <= 30L) &&
      after.map(_.recordCount).sum == 100L)
    // clearing restores single-file consolidation
    IcebergLite.setMaxRecordsPerFile(root, 0L)
    IcebergLite.compact(s, root)
    assert(IcebergLite.dataFiles(root).size == 1)
  }

  test("manifest-list partition summaries skip whole manifests; rewrite makes them selective") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_msummary").toString
    IcebergLite.createTable(root)
    // one manifest per append, disjoint identity partitions
    IcebergLite.append(s, root,
      Seq((1L, "a", "x1"), (2L, "a", "x2")).toDF("id", "p", "v").coalesce(1),
      partitionColumns = Seq("p"))
    IcebergLite.append(s, root,
      Seq((3L, "b", "y1")).toDF("id", "p", "v").coalesce(1),
      partitionColumns = Seq("p"))
    val snap = IcebergLite.currentSnapshotId(root).get
    val all = IcebergLite.manifestsMatching(root, snap, Nil)
    assert(all.size == 2)
    // a filter on the partition column skips the other append's
    // manifest entirely — it is never opened
    val onlyA = IcebergLite.manifestsMatching(root, snap,
      Seq(IcebergLite.Eq("p", "a")))
    assert(onlyA.size == 1, s"summary skip must drop the p=b manifest: $onlyA")
    // entry-level results are unchanged by the summary layer
    assert(IcebergLite.dataFiles(root, filters = Seq(IcebergLite.Eq("p", "a")))
      .map(_.partition("p")).forall(_ == "a"))
    assert(IcebergLite.read(s, root, filters = Seq(IcebergLite.Eq("p", "a")))
      .count() == 2L)

    // a REWRITTEN (clustered) manifest set gets computed summaries for
    // its fresh paths — filters keep skipping after consolidation
    val root2 = Files.createTempDirectory("iceberg_msummary2").toString
    IcebergLite.createTable(root2)
    (0 until 4).foreach { i =>
      IcebergLite.append(s, root2,
        (0 until 2).map(j => (i * 10L + j, (i % 2).toString, s"v$i$j"))
          .toDF("id", "p", "v").coalesce(1),
        partitionColumns = Seq("p"))
    }
    IcebergLite.rewriteManifests(root2, targetManifests = 2)
    val snap2 = IcebergLite.currentSnapshotId(root2).get
    assert(IcebergLite.manifestsMatching(root2, snap2, Nil).size == 2)
    // clustering by partition makes each target manifest single-valued
    // on p, so Eq(p) keeps exactly one of the two
    assert(IcebergLite.manifestsMatching(root2, snap2,
      Seq(IcebergLite.Eq("p", "1"))).size == 1)
    assert(IcebergLite.read(s, root2, filters = Seq(IcebergLite.Eq("p", "1")))
      .count() == 4L)

    // hidden partitioning: the summary skip composes with transform
    // projection — a source-column filter prunes manifests it never
    // named a partition field of
    import graft.sources.IcebergTransforms.{Day, PartitionField}
    val root3 = freshSpecTable(Seq(PartitionField("ts", Day,
      org.apache.spark.sql.types.TimestampType)))
    def tsDf(d: String) = Seq((java.sql.Timestamp.valueOf(s"$d 10:00:00"), d))
      .toDF("ts", "tag").coalesce(1)
    IcebergLite.append(s, root3, tsDf("2024-01-01"))
    IcebergLite.append(s, root3, tsDf("2024-03-01"))
    val snap3 = IcebergLite.currentSnapshotId(root3).get
    assert(IcebergLite.manifestsMatching(root3, snap3,
      Seq(IcebergLite.Gt("ts", "2024-02-01 00:00:00"))).size == 1)
  }

  test("distributed manifest rewrite: one Spark job, identical file set, sequences and summaries preserved") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_rw_dist").toString
    IcebergLite.createTable(root)
    // 8 single-file appends across 4 partitions + a pending MoR delete:
    // everything a rewrite must carry
    (0 until 8).foreach { i =>
      IcebergLite.append(s, root,
        Seq((i.toLong, (i % 4).toString, s"v$i")).toDF("id", "p", "v").coalesce(1),
        partitionColumns = Seq("p"))
    }
    IcebergLite.deleteMergeOnRead(s, root,
      Seq(IcebergLite.Eq("p", "1"), IcebergLite.Gt("id", "4")))
    val before = IcebergLite.dataFiles(root)
    val seqBefore = before.map(f => f.filePath -> f.sequenceNumber).toMap
    val rows0 = IcebergLite.read(s, root).collect().map(_.toString).sorted.toSeq
    // force the distributed path at this tiny manifest count
    s.conf.set("graft.iceberg.planning.distributedThreshold", "4")
    try {
      IcebergLite.rewriteManifests(s, root, targetManifests = 2)
      val snap = IcebergLite.currentSnapshotId(root).get
      assert(IcebergLite.snapshotOperation(root, snap) == "replace")
      val after = IcebergLite.dataFiles(root)
      assert(after.map(_.filePath).toSet == before.map(_.filePath).toSet)
      assert(after.forall(f => f.sequenceNumber == seqBefore(f.filePath)),
        "entry sequence numbers must survive the rewrite verbatim")
      val manifests = IcebergLite.manifestsMatching(root, snap, Nil)
      assert(manifests.size <= 2 &&
        manifests.forall(_.contains("manifest-rw-")),
        s"consolidated to executor-written manifests, got $manifests")
      // summaries were computed WHERE the manifests were written and
      // must still skip: entries cluster by partition, so an Eq(p)
      // filter drops at least one target manifest
      assert(IcebergLite.manifestsMatching(root, snap,
        Seq(IcebergLite.Eq("p", "0"))).size < manifests.size)
      assert(IcebergLite.read(s, root).collect().map(_.toString).sorted.toSeq == rows0,
        "rows (incl. the still-pending MoR delete) must be unchanged")
      assert(IcebergLite.rowDeletes(root).nonEmpty,
        "pending predicate delete carries through")
    } finally s.conf.unset("graft.iceberg.planning.distributedThreshold")
  }

  test("per-ref retention: an audit branch keeps its ancestor chain through aggressive expiry") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_ref_retention").toString
    IcebergLite.createTable(root)
    def add(i: Long): Long = IcebergLite.append(s, root,
      Seq((i, s"v$i")).toDF("id", "v").coalesce(1))
    add(1); add(2)
    val branchBase = add(3) // snapshots 1,2,3 are the branch's chain
    IcebergLite.createBranch(root, "audit", Some(branchBase))
    IcebergLite.setRefRetention(root, "audit", minSnapshotsToKeep = Some(3))
    assert(IcebergLite.refRetentions(root)("audit").minSnapshotsToKeep.contains(3))
    add(4); add(5); add(6)
    // aggressive main expiry: retainLast=1 would keep only snapshot 6
    // and the branch HEAD — the policy must keep the head's 3-deep
    // ancestor chain (3,2,1) so branch time travel stays whole
    IcebergLite.expireSnapshots(root, retainLast = 1)
    val left = IcebergLite.snapshots(root).toSet
    assert(Set(1L, 2L, 3L, 6L).subsetOf(left), s"got $left")
    assert(!left.contains(4L) && !left.contains(5L),
      "main-only history must still expire")
    assert(IcebergLite.readRef(s, root, "audit").count() == 3L)
    assert(IcebergLite.read(s, root, snapshotId = Some(2L)).count() == 2L)
    // dropping the ref sheds the policy; the next expiry reclaims
    IcebergLite.dropBranch(root, "audit")
    assert(!IcebergLite.refRetentions(root).contains("audit"))
    IcebergLite.expireSnapshots(root, retainLast = 1)
    assert(IcebergLite.snapshots(root) == Seq(6L))
  }

  test("catalog: databases, name resolution, schema lookup, rename, external-table purge refusal") {
    val s = spark
    import s.implicits._
    import graft.sources.Catalog
    val root = Files.createTempDirectory("graft_catalog").toString
    Catalog.init(root)
    Catalog.init(root) // idempotent
    Catalog.createDatabase(root, "analytics")
    Catalog.createDatabase(root, "raw")
    assert(Catalog.listDatabases(root) == Seq("analytics", "raw"))
    intercept[IllegalArgumentException] { Catalog.createDatabase(root, "raw") }
    val t1 = Catalog.createTable(root, "analytics", "events")
    Catalog.createTable(root, "analytics", "users")
    assert(Catalog.listTables(root, "analytics") == Seq("events", "users"))
    intercept[IllegalArgumentException] {
      Catalog.createTable(root, "analytics", "events")
    }
    // the resolved path is an ordinary IcebergLite root: every table
    // op (here append + schema tracking + read-by-name) just works
    IcebergLite.append(s, t1, Seq((1L, "click")).toDF("id", "kind").coalesce(1))
    assert(Catalog.tablePath(root, "analytics", "events") == t1)
    assert(Catalog.tableSchema(root, "analytics", "events").get.fieldNames.toSeq
      == Seq("id", "kind"))
    assert(Catalog.readTable(s, root, "analytics", "events").count() == 1L)
    // schema lookup follows column renames (the get_table contract)
    IcebergLite.renameColumn(t1, "kind", "event_type")
    assert(Catalog.tableSchema(root, "analytics", "events").get.fieldNames.toSeq
      == Seq("id", "event_type"))
    // rename moves the NAME only; the root is identity
    Catalog.renameTable(root, "analytics", "events", "events_v2")
    assert(Catalog.tablePath(root, "analytics", "events_v2") == t1)
    intercept[IllegalArgumentException] {
      Catalog.tablePath(root, "analytics", "events")
    }
    // external table: adopted, never purged
    val ext = Files.createTempDirectory("graft_catalog_ext").toString + "/t"
    IcebergLite.createTable(ext)
    Catalog.createTable(root, "raw", "adopted", location = Some(ext))
    intercept[IllegalArgumentException] {
      Catalog.dropTable(root, "raw", "adopted", purge = true)
    }
    Catalog.dropTable(root, "raw", "adopted")
    assert(Files.exists(java.nio.file.Paths.get(s"$ext/metadata")),
      "dropping an external table must leave its data")
    // managed purge removes the tree
    Catalog.dropTable(root, "analytics", "users", purge = true)
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/analytics/users")))
    assert(Catalog.listTables(root, "analytics") == Seq("events_v2"))
  }

  test("changelog consumer: checkpointed micro-batches, at-least-once replay on crash") {
    val s = spark
    import s.implicits._
    import graft.streaming.EventStream
    val root = Files.createTempDirectory("iceberg_cdc_out").toString
    val ckpt = Files.createTempDirectory("iceberg_cdc_out_ckpt").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root, Seq((1L, "a")).toDF("id", "v").coalesce(1))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    def collectBatch(df: org.apache.spark.sql.DataFrame): Unit =
      got ++= df.select($"id", $"v", $"_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // first tick initializes AT current — a latest-offset subscription
    assert(EventStream.changelogTick(s, root, ckpt)(collectBatch).isEmpty)
    assert(got.isEmpty)
    // two commits → one catch-up batch covering both
    IcebergLite.append(s, root, Seq((2L, "b")).toDF("id", "v").coalesce(1))
    IcebergLite.deleteEquality(s, root, Seq(1L).toDF("id"))
    assert(EventStream.changelogTick(s, root, ckpt)(collectBatch).contains((1L, 3L)))
    assert(got.toSet == Set((2L, "b", "insert"), (1L, "a", "delete")), s"got $got")
    // caught up → no batch
    assert(EventStream.changelogTick(s, root, ckpt)(collectBatch).isEmpty)
    // crash MID-HANDLER: the offset must not advance; the next tick
    // re-delivers the same batch (at-least-once)
    IcebergLite.append(s, root, Seq((3L, "c")).toDF("id", "v").coalesce(1))
    intercept[RuntimeException] {
      EventStream.changelogTick(s, root, ckpt) { _ =>
        throw new RuntimeException("handler crash")
      }
    }
    got.clear()
    assert(EventStream.changelogTick(s, root, ckpt)(collectBatch).contains((3L, 4L)))
    assert(got.toSeq == Seq((3L, "c", "insert")))
    // startFromSnapshot seeds a fresh consumer from table history
    val ckpt2 = Files.createTempDirectory("iceberg_cdc_out_ckpt2").toString
    got.clear()
    EventStream.changelogTick(s, root, ckpt2,
      startFromSnapshot = Some(1L))(collectBatch)
    assert(got.toSet == Set((2L, "b", "insert"), (1L, "a", "delete"),
      (3L, "c", "insert")), s"got $got")
  }

  test("rollback and cherry-pick: metadata-only history surgery") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_rollback").toString
    IcebergLite.createTable(root)
    def add(i: Long): Long = IcebergLite.append(s, root,
      Seq((i, s"v$i")).toDF("id", "v").coalesce(1))
    add(1); add(2); add(3)
    // rollback: pointer swap only — nothing deleted
    IcebergLite.rollbackTo(root, 2L)
    assert(IcebergLite.currentSnapshotId(root).contains(2L))
    assert(IcebergLite.read(s, root).count() == 2L)
    // the abandoned successor stays time-travelable until expiry
    assert(IcebergLite.read(s, root, snapshotId = Some(3L)).count() == 3L)
    // a non-ancestor (the abandoned head) refuses
    intercept[IllegalArgumentException] { IcebergLite.rollbackTo(root, 3L) }
    // new commits chain off the restored head with a fresh id
    val s4 = add(4)
    assert(s4 == 4L && IcebergLite.parentSnapshotId(root, s4).contains(2L))
    assert(IcebergLite.read(s, root).select($"id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 4L))

    // cherry-pick: ONE audited branch append lands on main without
    // fast-forwarding the branch
    IcebergLite.createBranch(root, "audit")
    val s5 = IcebergLite.append(s, root, Seq((50L, "picked")).toDF("id", "v").coalesce(1),
      toBranch = Some("audit"))
    assert(IcebergLite.read(s, root).count() == 3L, "branch write must not touch main")
    IcebergLite.cherryPick(root, s5)
    assert(IcebergLite.read(s, root).filter($"v" === "picked").count() == 1L)
    // double-pick refuses (files already live on main)
    intercept[IllegalArgumentException] { IcebergLite.cherryPick(root, s5) }
    // non-append snapshots refuse
    val sDel = IcebergLite.deleteMergeOnRead(s, root, Seq(IcebergLite.Eq("v", "v4")))
    intercept[IllegalArgumentException] { IcebergLite.cherryPick(root, sDel) }
    // sequence semantics: a cherry-picked row is NEW as of the pick —
    // an eq-delete pending from BEFORE the pick must not kill it
    val root2 = Files.createTempDirectory("iceberg_cherry_seq").toString
    IcebergLite.createTable(root2)
    IcebergLite.append(s, root2, Seq((10L, "old")).toDF("id", "v").coalesce(1))
    IcebergLite.createBranch(root2, "b")
    val picked = IcebergLite.append(s, root2,
      Seq((10L, "resurrected")).toDF("id", "v").coalesce(1), toBranch = Some("b"))
    IcebergLite.deleteEquality(s, root2, Seq(10L).toDF("id"))
    IcebergLite.cherryPick(root2, picked)
    val vs = IcebergLite.read(s, root2).select($"v").as[String].collect().toSeq
    assert(vs == Seq("resurrected"),
      s"pending delete must kill the old row, never the picked one: $vs")
  }

  test("changelog read: every commit kind emits its row-level changes; compaction is invisible") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_changelog").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)) // s1
    IcebergLite.append(s, root, Seq((3L, "c")).toDF("id", "v").coalesce(1))            // s2
    IcebergLite.merge(s, root, Seq((2L, "B2"), (4L, "d")).toDF("id", "v"),
      keyCols = Seq("id"))                                                             // s3: update+insert
    IcebergLite.deleteMergeOnRead(s, root, Seq(IcebergLite.Eq("v", "c")))              // s4: MoR predicate
    IcebergLite.deleteEquality(s, root, Seq(1L).toDF("id"))                            // s5: MoR eq-file
    IcebergLite.compact(s, root)                                                       // s6: invisible
    IcebergLite.append(s, root, Seq((5L, "e")).toDF("id", "v").coalesce(1))            // s7
    val log = IcebergLite.changelogRead(s, root, fromSnapshotId = 1L)
      .select($"id", $"v", $"_change_type", $"_commit_snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(log == Set(
      (3L, "c", "insert", 2L),
      (2L, "b", "delete", 3L), (2L, "B2", "insert", 3L), (4L, "d", "insert", 3L),
      (3L, "c", "delete", 4L),
      (1L, "a", "delete", 5L),
      (5L, "e", "insert", 7L)), s"got $log")
    // subrange: only the commits inside (s4, s7]
    val sub = IcebergLite.changelogRead(s, root, fromSnapshotId = 4L)
      .select($"_commit_snapshot_id").as[Long].collect().toSet
    assert(sub == Set(5L, 7L))
    // position-delete commits emit their newly-dead rows too
    IcebergLite.append(s, root, Seq((6L, "f"), (7L, "g")).toDF("id", "v").coalesce(1)) // s8
    val newFile = IcebergLite.dataFiles(root)
      .find(f => f.lowerBounds.get("id").contains("6")).get.filePath
    IcebergLite.deletePositions(s, root, Map(newFile -> Seq(0L)))                      // s9
    val tail = IcebergLite.changelogRead(s, root, fromSnapshotId = 7L)
      .select($"id", $"v", $"_change_type", $"_commit_snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(tail == Set(
      (6L, "f", "insert", 8L), (7L, "g", "insert", 8L),
      (6L, "f", "delete", 9L)), s"got $tail")

    // net state check: replaying the changelog over the from-snapshot
    // reproduces the to-snapshot (inserts minus deletes)
    val fullLog = IcebergLite.changelogRead(s, root, fromSnapshotId = 1L)
      .select($"id", $"v", $"_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val replayed = IcebergLite.read(s, root, snapshotId = Some(1L))
      .select($"id", $"v").collect().map(r => (r.getLong(0), r.getString(1))).toSet ++
      fullLog.filter(_._3 == "insert").map(t => (t._1, t._2)) --
      fullLog.filter(_._3 == "delete").map(t => (t._1, t._2))
    val now = IcebergLite.read(s, root).select($"id", $"v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(replayed == now, s"$replayed vs $now")
  }

  test("DataFrame-native position delete: distributed pairs feed, fail-closed validation") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_posdel_df").toString
    IcebergLite.createTable(root)
    (0 until 3).foreach { i =>
      IcebergLite.append(s, root,
        (0L until 5L).map(j => (i * 10L + j, s"w$i-$j")).toDF("id", "v").coalesce(1))
    }
    // the CDC shape: a predicate scan's (_file,_pos) output IS the
    // delete feed — renamed, never collected to the driver
    val pairs = IcebergLite.readWithMetadataColumns(s, root)
      .filter(col("v").isin("w0-1", "w2-3"))
      .select(col("_file").as("file_path"), col("_pos").as("pos"))
    IcebergLite.deletePositions(s, root, pairs)
    val vs = IcebergLite.read(s, root).select("v").as[String].collect().toSet
    assert(!vs.contains("w0-1") && !vs.contains("w2-3") && vs.size == 13)
    assert(IcebergLite.posDeletes(root).nonEmpty)
    // fail-closed: a dead path refuses the whole delete
    intercept[IllegalArgumentException] {
      IcebergLite.deletePositions(s, root,
        Seq(("data/nope.parquet", 0L)).toDF("file_path", "pos"))
    }
    // fail-closed: an out-of-range ordinal refuses too
    val liveFile = IcebergLite.dataFiles(root).head.filePath
    intercept[IllegalArgumentException] {
      IcebergLite.deletePositions(s, root,
        Seq((liveFile, 99L)).toDF("file_path", "pos"))
    }
  }

  test("nested struct evolution: add-field and widen inside a struct across file generations") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{lit, struct}
    import org.apache.spark.sql.types.{LongType, StringType => StrType, StructType}
    val root = Files.createTempDirectory("iceberg_struct_evo").toString
    IcebergLite.createTable(root)
    // generation 1: s = struct<a:int>
    IcebergLite.append(s, root, Seq(1L, 2L).toDF("id")
      .withColumn("s", struct((col("id") * 10).cast("int").as("a"))).coalesce(1))
    // generation 2: a widened to long IN-STRUCT, b added IN-STRUCT
    IcebergLite.append(s, root, Seq(3L).toDF("id")
      .withColumn("s", struct(lit(30000000000L).as("a"), lit("x").as("b")))
      .coalesce(1))
    val df = IcebergLite.read(s, root)
    val st = df.schema("s").dataType.asInstanceOf[StructType]
    assert(st("a").dataType == LongType && st("b").dataType == StrType,
      s"snapshot schema must merge nested fields, got ${st.catalogString}")
    val rows = df.selectExpr("id", "s.a", "s.b").orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2))))
    assert(rows.toSeq == Seq((1L, 10L, None), (2L, 20L, None),
      (3L, 30000000000L, Some("x"))),
      s"gen-1 int a must decode as long, gen-1 b must null-fill: ${rows.toSeq}")
    // time travel BEFORE the evolution sees the narrow nested schema
    val old = IcebergLite.read(s, root, snapshotId = Some(1L))
    assert(old.schema("s").dataType.asInstanceOf[StructType]("a").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // incompatible nested change still refuses loudly
    intercept[IllegalArgumentException] {
      IcebergLite.append(s, root, Seq(4L).toDF("id")
        .withColumn("s", struct(lit("nope").as("a"))).coalesce(1))
    }
  }

  test("NDV stats: per-file approx counts in manifests; column_stats unions live-file sketches") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_ndv").toString
    IcebergLite.createTable(root)
    // two files with OVERLAPPING id sets: true distinct = 150, so a
    // per-file-count sum (200) overcounts and a max (100) undercounts —
    // only the sketch union can land near truth
    IcebergLite.append(s, root,
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    IcebergLite.append(s, root,
      (51L to 150L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val files = IcebergLite.dataFiles(root)
    assert(files.size == 2)
    assert(files.forall(f => f.ndv.get("id").exists(n => n >= 90 && n <= 110)),
      s"per-file approx NDV must ride the manifest entry: ${files.map(_.ndv)}")
    val sidecars = IcebergLite.statsFiles(root)
    assert(sidecars.size == 2 && sidecars.forall(_.startsWith("metadata/stats-")))
    val cs = IcebergLite.columnStatsMetadata(s, root).collect()
      .map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("ndv"), r.getAs[Long]("file_count"))).toMap
    val (idNdv, idFiles) = cs("id")
    assert(idFiles == 2L && idNdv >= 140 && idNdv <= 160,
      s"union'd sketch estimate must land near the true 150 distinct, got $idNdv")
    // a write task re-run after its first attempt closed its sidecar
    // part file leaves a second part with the same (file, column) rows;
    // column_stats must count each file once
    val part = Files.list(java.nio.file.Paths.get(s"$root/${sidecars.head}")).iterator()
      .asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, part.resolveSibling("part-99999-99999.parquet"))
    val csDup = IcebergLite.columnStatsMetadata(s, root).collect()
      .map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("ndv"), r.getAs[Long]("file_count"))).toMap
    assert(csDup == cs, s"a leftover sidecar part must not change column_stats: $csDup vs $cs")

    // compaction resets the sidecar list to its own; the estimate
    // covers the same rows from the single consolidated file
    IcebergLite.compact(s, root)
    assert(IcebergLite.statsFiles(root).size == 1)
    val cs2 = IcebergLite.columnStatsMetadata(s, root).collect()
      .map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("ndv"), r.getAs[Long]("file_count"))).toMap
    assert(cs2("id")._2 == 1L && cs2("id")._1 >= 140 && cs2("id")._1 <= 160)

    // renamed columns surface logical in column_stats
    IcebergLite.renameColumn(root, "id", "uid")
    assert(IcebergLite.columnStatsMetadata(s, root).collect()
      .map(_.getAs[String]("column")).toSet == Set("uid", "v"))

    // expiry reclaims sidecars with the snapshots that referenced them
    val oldSidecar = sidecars.head
    assert(Files.exists(java.nio.file.Paths.get(s"$root/$oldSidecar")))
    IcebergLite.expireSnapshots(root, retainLast = 1)
    assert(!Files.exists(java.nio.file.Paths.get(s"$root/$oldSidecar")),
      "expired snapshots' stats sidecars must be reclaimed")
    assert(IcebergLite.columnStatsMetadata(s, root).count() == 2L,
      "the live sidecar survives expiry")
  }

  test("createTable with a spec refuses a mismatch against an existing table") {
    val s = spark
    import s.implicits._
    val specA = Seq(PartitionField("id", Bucket(4), LongType))
    val root = freshSpecTable(specA)
    // idempotent same-spec re-create is fine
    IcebergLite.createTable(root, specA)
    // a DIFFERENT spec must not be silently dropped
    val e = intercept[IllegalArgumentException] {
      IcebergLite.createTable(root, Seq(PartitionField("id", Bucket(8), LongType)))
    }
    assert(e.getMessage.contains("different partition spec"))
    // attaching a spec retroactively to a snapshotted spec-less table refuses
    val plain = Files.createTempDirectory("iceberg_plain").toString
    IcebergLite.createTable(plain)
    IcebergLite.append(s, plain, Seq((1L, "a")).toDF("id", "v"))
    val e2 = intercept[IllegalArgumentException] {
      IcebergLite.createTable(plain, specA)
    }
    assert(e2.getMessage.contains("retroactively"))
  }

  test("truncate-on-string skips range projection for numeric-parsing literals") {
    val field = PartitionField("code", Truncate(2), StringType)
    // '10' parses as a number: under the numeric-first manifest
    // comparator a projected GtEq could prune a partition holding '9'
    // (9 < 10 numerically, '9' >= '10' lexicographically) — projection
    // must be skipped
    assert(IcebergTransforms.projectFilters(Seq(field),
      Seq(IcebergLite.GtEq("code", "10"))).isEmpty)
    assert(IcebergTransforms.projectFilters(Seq(field),
      Seq(IcebergLite.Lt("code", "42xyz"))).isEmpty)
    // non-numeric prefixes compare lexicographically on both sides — safe
    assert(IcebergTransforms.projectFilters(Seq(field),
      Seq(IcebergLite.GtEq("code", "ba7"))) == Seq(IcebergLite.GtEq("code_trunc2", "ba")))
    // point predicates use exact string equality on the partition value — always safe
    assert(IcebergTransforms.projectFilters(Seq(field),
      Seq(IcebergLite.Eq("code", "10x"))) == Seq(IcebergLite.Eq("code_trunc2", "10")))
  }

  test("hidden partitioning: dynamic overwrite replaces exactly the hidden tuples in the new data") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("ts", Day, TimestampType)))
    val mk = (d: String, v: String) => (java.sql.Timestamp.valueOf(s"$d 12:00:00"), v)
    IcebergLite.append(s, root,
      Seq(mk("2024-01-01", "old1"), mk("2024-01-02", "old2")).toDF("ts", "v"))
    // backfill covers only Jan 2 — Jan 1 must be carried verbatim
    val before = IcebergLite.dataFiles(root)
      .filter(_.partition("ts_day") == "2024-01-01").map(_.filePath).toSet
    IcebergLite.overwrite(s, root,
      Seq(mk("2024-01-02", "new2a"), mk("2024-01-02", "new2b")).toDF("ts", "v"),
      partitionColumns = Nil)
    val after = IcebergLite.dataFiles(root)
    assert(after.filter(_.partition("ts_day") == "2024-01-01").map(_.filePath).toSet == before,
      "untouched day carried path-identical")
    val vs = IcebergLite.read(s, root).select("v").as[String].collect().sorted
    assert(vs.toSeq == Seq("new2a", "new2b", "old1"))
  }

  test("hidden partitioning: delete prunes its rewrite scope by transform; source renames refuse") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("id", Bucket(4), LongType)))
    IcebergLite.append(s, root,
      (0L until 40L).map(id => (id, s"v$id")).toDF("id", "v").coalesce(1))
    val before = IcebergLite.dataFiles(root)
    assert(before.size == 4)
    val bucketOf17 = IcebergTransforms.evalValue(
      PartitionField("id", Bucket(4), LongType), "17").get
    IcebergLite.delete(s, root, Seq(IcebergLite.Eq("id", "17")))
    val after = IcebergLite.dataFiles(root)
    // only the bucket holding 17 was rewritten; the other 3 files are
    // path-identical (the transform scoped the copy-on-write)
    val untouchedBefore = before.filterNot(_.partition("id_bucket4") == bucketOf17)
      .map(_.filePath).toSet
    val untouchedAfter = after.filterNot(_.partition("id_bucket4") == bucketOf17)
      .map(_.filePath).toSet
    assert(untouchedBefore == untouchedAfter && untouchedBefore.size == 3)
    assert(after.filterNot(untouchedAfter contains _.filePath)
      .forall(f => f.partition("id_bucket4") == bucketOf17 && f.filePath.contains("delete-")))
    assert(IcebergLite.read(s, root).filter(col("id") === 17L).count() == 0L)
    assert(IcebergLite.read(s, root).count() == 39L)

    intercept[IllegalArgumentException] {
      IcebergLite.renameColumn(root, "id", "ident")
    }
  }

  test("spec rewrites survive non-alphabetical field declarations and evolved-table CoW deletes") {
    val s = spark
    import s.implicits._
    // declaration order uid, code — but "code_trunc1" < "uid_bucket2"
    // alphabetically, so any path comparing sorted names against
    // declaration order breaks here
    val root = freshSpecTable(Seq(
      PartitionField("uid", Bucket(2), LongType),
      PartitionField("code", Truncate(1), StringType)))
    IcebergLite.append(s, root,
      (0L until 20L).map(i => (i, s"${('a' + (i % 3).toInt).toChar}x", i))
        .toDF("uid", "code", "n").coalesce(1))
    IcebergLite.compact(s, root)
    assert(IcebergLite.read(s, root).count() == 20L)
    IcebergLite.merge(s, root,
      Seq((3L, "ax", 300L)).toDF("uid", "code", "n"), keyCols = Seq("uid", "code"))
    assert(IcebergLite.read(s, root).filter(col("n") === 300L).count() == 1L)

    // CoW delete with a residual rewrite on an EVOLVED table: the
    // touched set spans old-layout files whose manifest keys no longer
    // match the current spec
    val root2 = freshSpecTable(Seq(PartitionField("id", Bucket(4), LongType)))
    IcebergLite.append(s, root2,
      (0L until 40L).map(id => (id, s"v$id")).toDF("id", "v").coalesce(1))
    IcebergLite.evolveSpec(root2, Seq(PartitionField("id", Bucket(8), LongType)))
    IcebergLite.append(s, root2,
      (0L until 40L).map(id => (id, s"w$id")).toDF("id", "v").coalesce(1))
    IcebergLite.delete(s, root2, Seq(IcebergLite.Eq("id", "17")))
    assert(IcebergLite.read(s, root2).filter(col("id") === 17L).count() == 0L)
    assert(IcebergLite.read(s, root2).count() == 78L)
  }

  test("size-aware compaction rewrites only small files; big files carry path-identical") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Nil)
    // one BIG file (wide payload), then three small appends
    IcebergLite.append(s, root,
      (0L until 2000L).map(i => (i, "x" * 200)).toDF("id", "v").coalesce(1))
    (0 until 3).foreach { b =>
      IcebergLite.append(s, root,
        Seq((10000L + b, s"s$b")).toDF("id", "v").coalesce(1))
    }
    val before = IcebergLite.dataFiles(root)
    assert(before.size == 4)
    assert(before.forall(_.fileSizeBytes > 0), "sizes recorded from the write")
    val big = before.maxBy(_.fileSizeBytes)
    val threshold = big.fileSizeBytes // strictly-below comparison keeps the big file
    val snap = IcebergLite.compactSmallFiles(s, root, threshold)
    val after = IcebergLite.dataFiles(root)
    assert(after.size == 2, s"big + 1 consolidated: ${after.size}")
    assert(after.exists(_.filePath == big.filePath), "big file carried verbatim")
    assert(after.exists(_.filePath.contains("compact-")))
    assert(IcebergLite.read(s, root).count() == 2003L)
    assert(IcebergLite.read(s, root).filter(col("id") >= 10000L).count() == 3L)

    // nothing left to do: idempotent no-op (returns the current snapshot)
    assert(IcebergLite.compactSmallFiles(s, root, threshold) == snap)

    // a partitioned shape: small files consolidate PER TUPLE
    val root2 = freshSpecTable(Seq(PartitionField("code", Truncate(1), StringType)))
    (0 until 3).foreach { b =>
      IcebergLite.append(s, root2,
        Seq((s"a$b", b), (s"b$b", b)).toDF("code", "n").coalesce(1))
    }
    assert(IcebergLite.dataFiles(root2).size == 6)
    IcebergLite.compactSmallFiles(s, root2, 1L << 20)
    val files2 = IcebergLite.dataFiles(root2)
    assert(files2.size == 2, "one consolidated file per partition tuple")
    assert(IcebergLite.read(s, root2).count() == 6L)
  }

  test("age-guarded snapshot expiry keeps young snapshots the count policy would drop") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Nil)
    (0 until 3).foreach { i =>
      IcebergLite.append(s, root, Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    }
    val snaps = IcebergLite.snapshots(root).sorted
    assert(snaps.size == 3)
    // every snapshot in this test is "young" (written just now): with a
    // cutoff in the past, retainLast=1 must expire NOTHING
    val cutoff = IcebergLite.snapshotTimestampMs(root, snaps.head) - 1
    assert(IcebergLite.expireSnapshots(root, retainLast = 1,
      olderThanTsMs = Some(cutoff)) == (0, 0))
    assert(IcebergLite.snapshots(root).size == 3)
    // a cutoff in the future releases the age guard: count policy rules
    val (nSnap, _) = IcebergLite.expireSnapshots(root, retainLast = 1,
      olderThanTsMs = Some(System.currentTimeMillis() + 3600_000L))
    assert(nSnap == 2)
    assert(IcebergLite.read(s, root).count() == 3L)
  }

  test("incremental changelog read works on a hidden-partitioned table") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("id", Bucket(4), LongType)))
    val s1 = IcebergLite.append(s, root,
      (0L until 10L).map(id => (id, s"a$id")).toDF("id", "v").coalesce(1))
    val s2 = IcebergLite.append(s, root,
      (10L until 20L).map(id => (id, s"b$id")).toDF("id", "v").coalesce(1))
    val delta = IcebergLite.incrementalRead(s, root,
      fromSnapshotId = s1, toSnapshotId = Some(s2))
    // only the second append's rows, hidden columns never surface
    assert(delta.columns.sorted.toSeq == Seq("id", "v"))
    assert(delta.count() == 10L)
    assert(delta.agg(org.apache.spark.sql.functions.min(col("id"))).head.getLong(0) == 10L)
  }

  test("CDC tombstones: merge deletes flagged keys; ordered precedence decides per key") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("id", Bucket(4), LongType)))
    IcebergLite.append(s, root,
      (0L until 20L).map(id => (id, 0L, s"v$id")).toDF("id", "seq", "v").coalesce(1))

    // unconditional: delete 3, update 5, insert 100
    IcebergLite.merge(s, root,
      Seq((3L, 1L, null.asInstanceOf[String], true),
        (5L, 1L, "upd5", false),
        (100L, 1L, "new", false)).toDF("id", "seq", "v", "op_del"),
      keyCols = Seq("id"), whenMatched = IcebergLite.WhenMatched.UpdateAll(tombstone = Some("op_del")))
    val read1 = IcebergLite.read(s, root)
    assert(read1.count() == 20L) // 20 - 1 deleted + 1 inserted
    assert(read1.filter(col("id") === 3L).count() == 0L)
    assert(read1.filter(col("id") === 5L).select("v").as[String].head() == "upd5")
    assert(read1.columns.sorted.toSeq == Seq("id", "seq", "v"), "flag never lands")

    // ordered: newer update beats older delete; newer delete beats
    // older update (both pairs in ONE batch would be dup keys, so two
    // batches, each mixing a delete and an update of different keys)
    IcebergLite.merge(s, root,
      Seq((5L, 9L, null.asInstanceOf[String], true), // delete 5 at seq 9
        (7L, 9L, "upd7", false)).toDF("id", "seq", "v", "op_del"),
      keyCols = Seq("id"), whenMatched = IcebergLite.WhenMatched.UpdateAll(Some("seq"), Some("op_del")))
    // stale delete (seq 0 < stored seq 9) must NOT remove key 7
    IcebergLite.merge(s, root,
      Seq((7L, 0L, null.asInstanceOf[String], true)).toDF("id", "seq", "v", "op_del"),
      keyCols = Seq("id"), whenMatched = IcebergLite.WhenMatched.UpdateAll(Some("seq"), Some("op_del")))
    val read2 = IcebergLite.read(s, root)
    assert(read2.filter(col("id") === 5L).count() == 0L, "newer delete wins")
    assert(read2.filter(col("id") === 7L).select("v").as[String].head() == "upd7",
      "stale delete cannot remove a newer row")
  }

  // one data file holding two null-key rows and a key held twice; the
  // merge sources below name key 1 (and 2) and a new key 9 only
  private def mergeTarget(root: String): Unit = {
    val s = spark
    import s.implicits._
    IcebergLite.append(s, root, Seq[(Option[Long], Long, String)](
      (Some(1L), 1L, "a"), (None, 1L, "b"), (None, 2L, "c"), (Some(2L), 1L, "d"),
      (Some(3L), 1L, "x"), (Some(3L), 1L, "y")).toDF("k", "seq", "v").coalesce(1))
    assert(IcebergLite.dataFiles(root).size == 1)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("k", "seq", "v").collect()
      .map(r => s"[${r.get(0)},${r.get(1)},${r.get(2)}]").sorted.toSeq

  test("precedence merge keeps every target row the source never names") {
    val s = spark
    import s.implicits._
    val untouched = Seq("[3,1,x]", "[3,1,y]", "[null,1,b]", "[null,2,c]")
    val ordered = freshSpecTable(Nil)
    mergeTarget(ordered)
    IcebergLite.merge(s, ordered, Seq((1L, 5L, "z"), (9L, 1L, "new")).toDF("k", "seq", "v"),
      Seq("k"), whenMatched = IcebergLite.WhenMatched.UpdateAll(precedence = Some("seq")))
    assert(rowsOf(IcebergLite.read(s, ordered)) ==
      (Seq("[1,5,z]", "[2,1,d]", "[9,1,new]") ++ untouched).sorted)

    // with tombstones: key 2's delete wins (seq 3 > 1) and is not inserted
    val withTombstones = freshSpecTable(Nil)
    mergeTarget(withTombstones)
    IcebergLite.merge(s, withTombstones,
      Seq((1L, 5L, "z", false), (2L, 3L, null.asInstanceOf[String], true),
        (9L, 1L, "new", false)).toDF("k", "seq", "v", "del"),
      Seq("k"), whenMatched = IcebergLite.WhenMatched.UpdateAll(Some("seq"), Some("del")))
    assert(rowsOf(IcebergLite.read(s, withTombstones)) ==
      (Seq("[1,5,z]", "[9,1,new]") ++ untouched).sorted)

    // the same statement in SQL
    val catalogRoot = Files.createTempDirectory("merge_defect_sql").toString
    s.conf.set("spark.sql.catalog.mdef", classOf[graft.plans.GraftCatalogPlugin].getName)
    s.conf.set("spark.sql.catalog.mdef.root", catalogRoot)
    s.sql("CREATE NAMESPACE mdef.db")
    s.sql("CREATE TABLE mdef.db.t (k BIGINT, seq BIGINT, v STRING)")
    mergeTarget(graft.sources.Catalog.tablePath(catalogRoot, "db", "t"))
    Seq((1L, 5L, "z"), (9L, 1L, "new")).toDF("k", "seq", "v")
      .createOrReplaceTempView("mdef_src")
    s.sql("""
      MERGE INTO mdef.db.t AS t USING mdef_src AS s
      ON t.k = s.k
      WHEN MATCHED AND s.seq >= t.seq THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(rowsOf(s.sql("SELECT * FROM mdef.db.t")) ==
      (Seq("[1,5,z]", "[2,1,d]", "[9,1,new]") ++ untouched).sorted)
  }

  test("precedence merge: the target wins only with a non-null, greater value") {
    val s = spark
    import s.implicits._
    // keys: 1 target greater, 2 target null, 3 tie, 4 source null, 5 both null
    val target = Seq[(Long, Option[Long], String)]((1L, Some(5L), "t1"), (2L, None, "t2"),
      (3L, Some(5L), "t3"), (4L, Some(5L), "t4"), (5L, None, "t5"))
    val source = Seq[(Long, Option[Long], String)]((1L, Some(4L), "s1"), (2L, Some(1L), "s2"),
      (3L, Some(5L), "s3"), (4L, None, "s4"), (5L, None, "s5"))
    val upsert = freshSpecTable(Nil)
    IcebergLite.append(s, upsert, target.toDF("k", "seq", "v").coalesce(1))
    IcebergLite.merge(s, upsert, source.toDF("k", "seq", "v"), Seq("k"),
      whenMatched = IcebergLite.WhenMatched.UpdateAll(precedence = Some("seq")))
    assert(rowsOf(IcebergLite.read(s, upsert)) ==
      Seq("[1,5,t1]", "[2,1,s2]", "[3,5,s3]", "[4,5,t4]", "[5,null,s5]"))
    // a tombstone deletes only where the source wins
    val deletes = freshSpecTable(Nil)
    IcebergLite.append(s, deletes, target.toDF("k", "seq", "v").coalesce(1))
    IcebergLite.merge(s, deletes,
      source.toDF("k", "seq", "v").withColumn("del", lit(true)), Seq("k"),
      whenMatched = IcebergLite.WhenMatched.UpdateAll(Some("seq"), Some("del")))
    assert(rowsOf(IcebergLite.read(s, deletes)) == Seq("[1,5,t1]", "[4,5,t4]"))
  }

  test("merge matches a key held by two target rows once per target row") {
    val s = spark
    import s.implicits._
    val target = Seq((1L, 1L, "a"), (1L, 1L, "b"), (2L, 1L, "c")).toDF("k", "seq", "v")
    val replace = freshSpecTable(Nil)
    IcebergLite.append(s, replace, target.coalesce(1))
    IcebergLite.merge(s, replace, Seq((1L, 2L, "z")).toDF("k", "seq", "v"), Seq("k"))
    assert(rowsOf(IcebergLite.read(s, replace)) == Seq("[1,2,z]", "[1,2,z]", "[2,1,c]"))
    val assign = freshSpecTable(Nil)
    IcebergLite.append(s, assign, target.coalesce(1))
    IcebergLite.merge(s, assign, Seq((1L, 2L, "z")).toDF("k", "seq", "v"), Seq("k"),
      whenMatched = IcebergLite.WhenMatched.Update(
        Seq("v" -> concat(col("v"), col("__graft_s_v")))),
      whenNotMatched = IcebergLite.WhenNotMatched.Skip)
    assert(rowsOf(IcebergLite.read(s, assign)) == Seq("[1,1,az]", "[1,1,bz]", "[2,1,c]"))
  }

  test("streaming CDC upsert honors delete records end-to-end") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Nil)
    IcebergLite.append(s, root,
      (0L until 10L).map(id => (id, 0L, s"v$id", false)).toDF("id", "seq", "v", "deleted")
        .drop("deleted").coalesce(1))
    val stage = Files.createTempDirectory("graft_cdc_del_stage").toString
    val ckpt = Files.createTempDirectory("graft_cdc_del_ckpt").toString
    // one changelog file: update key 1 (seq 2), delete key 2 (seq 2),
    // and for key 3 a delete at seq 2 FOLLOWED by an update at seq 3 —
    // the window picks the update, so key 3 survives with the new value
    Seq((1L, 2L, "u1", false), (2L, 2L, null.asInstanceOf[String], true),
      (3L, 2L, null.asInstanceOf[String], true), (3L, 3L, "u3", false))
      .toDF("id", "seq", "v", "deleted")
      .coalesce(1).write.mode("append").parquet(stage)
    val changelog = s.readStream
      .schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    EventStream.upsertStream(changelog, root, ckpt,
      keyCol = "id", seqCol = "seq", carryCols = Seq("v"),
      tombstoneCol = Some("deleted"))
    val got = IcebergLite.read(s, root)
    assert(got.count() == 9L)
    assert(got.filter(col("id") === 2L).count() == 0L, "delete record applied")
    assert(got.filter(col("id") === 1L).select("v").as[String].head() == "u1")
    assert(got.filter(col("id") === 3L).select("v").as[String].head() == "u3",
      "within-batch: later update outranks the delete")
  }

  test("commit ids re-derive under the lock: a stale planned id cannot overwrite another head") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Nil)
    val snapA = IcebergLite.append(s, root, Seq((1L, "a")).toDF("id", "v"))
    IcebergLite.createBranch(root, "audit", Some(snapA))
    // a main commit lands and takes the next id...
    val mainId = IcebergLite.append(s, root, Seq((2L, "b")).toDF("id", "v"))
    // ...while a branch writer had already PLANNED the same id outside
    // the lock (its branch head is untouched, so no rebase triggers)
    val got = IcebergLite.commitSnapshot(root, Some(snapA),
      entries = Nil,
      carriedManifests = IcebergLite.parentManifests(root, Some(snapA)),
      toBranch = Some("audit"))
    assert(got != mainId, "the stale planned id must be re-derived under the lock")
    // main's committed snapshot survives intact
    assert(IcebergLite.read(s, root).count() == 2L)
    assert(IcebergLite.snapshotOperation(root, mainId) == "append")
    assert(IcebergLite.branches(root)("audit") == got)
    assert(IcebergLite.readRef(s, root, "audit").count() == 1L)
  }

  test("write sort order: every written file is internally sorted; rewrites keep it") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("code", Truncate(1), StringType)))
    IcebergLite.setSortOrder(root, Seq("id"))
    // adversarial input order: descending, split over 2 tasks
    val df = (0L until 200L).reverse.map(i => (i, s"${if (i % 2 == 0) "a" else "b"}x"))
      .toDF("id", "code").repartition(2)
    IcebergLite.append(s, root, df)
    def assertFilesSorted(): Unit =
      IcebergLite.dataFiles(root).foreach { f =>
        val ids = s.read.parquet(s"$root/${f.filePath}")
          .select("id").collect().map(_.getLong(0)).toSeq
        assert(ids == ids.sorted, s"${f.filePath} not sorted")
        assert(ids.nonEmpty)
      }
    assertFilesSorted()
    // a rewrite (compact) routes through the same funnel and stays sorted
    IcebergLite.compact(s, root)
    assertFilesSorted()
    assert(IcebergLite.read(s, root).count() == 200L)
    // and a merge too
    IcebergLite.merge(s, root,
      Seq((500L, "ax"), (501L, "bx")).toDF("id", "code"), keyCols = Seq("id"))
    assertFilesSorted()
    assert(IcebergLite.read(s, root).count() == 202L)
  }

  test("spec evolution: both layouts prune under their own version; compact migrates to latest") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("id", Bucket(4), LongType)))
    IcebergLite.append(s, root,
      (0L until 40L).map(id => (id, s"a$id")).toDF("id", "v").coalesce(1))
    val newId = IcebergLite.evolveSpec(root,
      Seq(PartitionField("id", Bucket(8), LongType)))
    assert(newId == 1)
    // the SAME id range again — column bounds cannot tell the two
    // appends apart, so any pruning asymmetry is per-version projection
    IcebergLite.append(s, root,
      (0L until 40L).map(id => (id, s"b$id")).toDF("id", "v").coalesce(1))
    val all = IcebergLite.dataFiles(root)
    assert(all.size == 12, s"4 old buckets + 8 new: ${all.size}")

    // a point predicate prunes each file under ITS OWN spec version:
    // exactly 1 of 4 old files and 1 of 8 new files survive
    val kept = IcebergLite.dataFiles(root, filters = Seq(IcebergLite.Eq("id", "17")))
    assert(kept.size == 2, s"${kept.map(_.partition)}")
    assert(kept.exists(_.partition.contains("id_bucket4")) &&
      kept.exists(_.partition.contains("id_bucket8")))

    // rows stay exact through the mixed layout
    val got = IcebergLite.read(s, root, filters = Seq(IcebergLite.Eq("id", "17")))
      .filter(col("id") === 17L)
      .select("v").as[String].collect().toSet
    assert(got == Set("a17", "b17"))

    // merge on the evolved table: only the two buckets key 17 hashes
    // into (one per version) may rewrite
    val before = IcebergLite.dataFiles(root).map(_.filePath).toSet
    IcebergLite.merge(s, root, Seq((17L, "upd")).toDF("id", "v"), keyCols = Seq("id"))
    val carried = IcebergLite.dataFiles(root).map(_.filePath).toSet
    assert((before -- carried).size <= 2, "at most one file per spec version rewritten")

    // compact migrates EVERYTHING to the latest spec's layout
    IcebergLite.compact(s, root)
    val compacted = IcebergLite.dataFiles(root)
    assert(compacted.forall(_.partition.keySet == Set("id_bucket8")))
    // 80 rows: the merge matched each of the two id=17 rows (one per
    // append) and replaced it with the source row
    assert(IcebergLite.read(s, root).count() == 80L)
    assert(IcebergLite.read(s, root).filter(col("id") === 17L)
      .select("v").as[String].collect().toSeq == Seq("upd", "upd"))
    // and post-compact pruning uses the new layout exclusively
    val keptAfter = IcebergLite.dataFiles(root, filters = Seq(IcebergLite.Eq("id", "17")))
    assert(keptAfter.size == 1 && keptAfter.head.partition.contains("id_bucket8"))

    // evolving a field to different semantics under the same name is
    // structurally impossible (names embed parameters) — and the
    // explicit guard refuses a verbatim re-declaration drift
    intercept[IllegalArgumentException] {
      IcebergLite.evolveSpec(root,
        Seq(PartitionField("id", Bucket(8), org.apache.spark.sql.types.IntegerType)))
    }
  }

  test("hidden partitioning: merge rewrites only the buckets its keys hash into") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("id", Bucket(4), LongType)))
    IcebergLite.append(s, root,
      (0L until 40L).map(id => (id, s"v$id")).toDF("id", "v").coalesce(1))
    val before = IcebergLite.dataFiles(root)
    assert(before.size == 4)
    // upsert touches keys 17 (update) and 1017 (insert) — at most the
    // two buckets they hash into may be rewritten
    val touchedBuckets = Seq("17", "1017").map(v => IcebergTransforms.evalValue(
      PartitionField("id", Bucket(4), LongType), v).get).toSet
    IcebergLite.merge(s, root,
      Seq((17L, "updated"), (1017L, "inserted")).toDF("id", "v"), keyCols = Seq("id"))
    val after = IcebergLite.dataFiles(root)
    val untouched = before.filterNot(f => touchedBuckets(f.partition("id_bucket4")))
      .map(_.filePath).toSet
    assert(untouched.subsetOf(after.map(_.filePath).toSet),
      "files outside the keys' buckets must be carried path-identical")
    assert(untouched.size >= 2)
    val got = IcebergLite.read(s, root)
      .filter(col("id").isin(17L, 1017L)).orderBy(col("id"))
      .select("v").as[String].collect().toSeq
    assert(got == Seq("updated", "inserted"))
    assert(IcebergLite.read(s, root).count() == 41L)
  }

  test("streaming CDC upsert into a bucket spec table rewrites only the touched buckets") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("id", Bucket(4), LongType)))
    IcebergLite.append(s, root,
      (0L until 40L).map(id => (id, 0L, s"v$id")).toDF("id", "seq", "v").coalesce(1))
    val before = IcebergLite.dataFiles(root)
    assert(before.size == 4)
    // three update keys that all hash into ONE bucket
    val bucketOf = (id: Long) => IcebergTransforms.evalValue(
      PartitionField("id", Bucket(4), LongType), id.toString).get
    val target = bucketOf(0L)
    val keys = (0L until 40L).filter(bucketOf(_) == target).take(3)
    assert(keys.size == 3)

    val stage = Files.createTempDirectory("graft_cdc_spec_stage").toString
    val ckpt = Files.createTempDirectory("graft_cdc_spec_ckpt").toString
    keys.map(k => (k, 1L, s"upd$k")).toDF("id", "seq", "v")
      .coalesce(1).write.mode("append").parquet(stage)
    val changelog = s.readStream
      .schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    EventStream.upsertStream(changelog, root, ckpt,
      keyCol = "id", seqCol = "seq", carryCols = Seq("v"))

    val after = IcebergLite.dataFiles(root)
    val untouched = before.filterNot(_.partition("id_bucket4") == target)
      .map(_.filePath).toSet
    assert(untouched.subsetOf(after.map(_.filePath).toSet),
      "the micro-batch merge must carry every other bucket path-identical")
    assert(untouched.size == 3)
    val got = IcebergLite.read(s, root)
      .filter(col("id").isin(keys: _*)).select("v").as[String].collect().toSet
    assert(got == keys.map(k => s"upd$k").toSet)
    assert(IcebergLite.read(s, root).count() == 40L)
  }

  test("streaming CDC with equality-delete routing: tombstones land as delete files, upserts merge") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_cdc_eqdel").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root,
      (0L until 10L).map(id => (id, 0L, s"v$id", false)).toDF("id", "seq", "v", "op_del")
        .drop("op_del").coalesce(1))
    val stage = Files.createTempDirectory("graft_cdc_eqdel_stage").toString
    val ckpt = Files.createTempDirectory("graft_cdc_eqdel_ckpt").toString
    // batch 1: pure tombstones (the high-cardinality CDC shape) —
    // routed to an equality-delete FILE, zero data rewrite
    Seq((2L, 1L, null: String, true), (5L, 1L, null: String, true))
      .toDF("id", "seq", "v", "op_del")
      .coalesce(1).write.mode("append").parquet(stage)
    val changelog1 = s.readStream
      .schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val filesBefore = IcebergLite.dataFiles(root).map(_.filePath).toSet
    EventStream.upsertStream(changelog1, root, ckpt,
      keyCol = "id", seqCol = "seq", carryCols = Seq("v"),
      tombstoneCol = Some("op_del"), eqDeleteTombstones = true)
    assert(IcebergLite.dataFiles(root).map(_.filePath).toSet == filesBefore,
      "a tombstone-only batch must not rewrite any data file")
    assert(IcebergLite.eqDeletes(root).size == 1)
    assert(IcebergLite.read(s, root).select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 3L, 4L, 6L, 7L, 8L, 9L))
    // batch 2: an update + a re-insert of deleted key 5 — merge path;
    // the rewrite materializes the pending delete for the touched file
    Seq((7L, 2L, "upd7", false), (5L, 2L, "back5", false))
      .toDF("id", "seq", "v", "op_del")
      .coalesce(1).write.mode("append").parquet(stage)
    val changelog2 = s.readStream
      .schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    EventStream.upsertStream(changelog2, root, ckpt,
      keyCol = "id", seqCol = "seq", carryCols = Seq("v"),
      tombstoneCol = Some("op_del"), eqDeleteTombstones = true)
    val vs = IcebergLite.read(s, root).orderBy(col("id"))
      .select("v").as[String].collect().toSeq
    assert(vs == Seq("v0", "v1", "v3", "v4", "back5", "v6", "upd7", "v8", "v9"), vs)
    assert(IcebergLite.eqDeletes(root).isEmpty,
      "the merge rewrite materialized the pending delete for the only data file")
  }

  test("metadata tables: footer-true record counts; files/partitions surfaces agree with the data") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("code", Truncate(1), StringType)))
    IcebergLite.append(s, root,
      Seq("a1", "a2", "a3", "b1", "b2").map(c => (c, 1)).toDF("code", "n").coalesce(1))
    IcebergLite.append(s, root,
      Seq("a4", "b3").map(c => (c, 1)).toDF("code", "n").coalesce(1))
    val files = IcebergLite.filesMetadata(s, root).collect()
    assert(files.length == 4) // 2 appends x 2 prefixes
    // record counts come from parquet footers, not a -1 sentinel
    val byPart = files.groupBy(_.getAs[String]("part"))
      .view.mapValues(_.map(_.getAs[Long]("record_count")).sum).toMap
    assert(byPart == Map("code_trunc1=a" -> 4L, "code_trunc1=b" -> 3L))
    assert(files.forall(_.getAs[Long]("sequence_number") > 0L))
    assert(files.forall(_.getAs[Long]("file_size_bytes") > 0L))

    val parts = IcebergLite.partitionsMetadata(s, root)
      .orderBy(col("part")).collect()
      .map(r => (r.getAs[String]("part"), r.getAs[Long]("file_count"),
        r.getAs[Long]("record_count"))).toSeq
    assert(parts == Seq(("code_trunc1=a", 2L, 4L), ("code_trunc1=b", 2L, 3L)))

    // time travel: snapshot 1's inventory excludes the second append
    val snap1 = IcebergLite.snapshots(root).min
    assert(IcebergLite.filesMetadata(s, root, Some(snap1)).count() == 2L)
  }

  test("hidden partitioning: projection soundness — pruned read equals full read under the row filter") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(
      PartitionField("id", Bucket(4), LongType),
      PartitionField("code", Truncate(1), StringType)))
    val df = (0L until 60L).map(i => (i, s"${('a' + (i % 5).toInt).toChar}x$i")).toDF("id", "code")
    IcebergLite.append(s, root, df)
    IcebergLite.append(s, root, df.withColumn("id", col("id") + 60L))
    val grids = Seq(
      Seq(IcebergLite.Eq("id", "33")),
      Seq(IcebergLite.In("id", Seq("5", "61", "119"))),
      Seq(IcebergLite.Eq("code", "cx12")),
      Seq(IcebergLite.Eq("id", "7"), IcebergLite.Eq("code", "cx7")),
      Seq(IcebergLite.Gt("id", "100")))
    grids.foreach { fs =>
      val full = IcebergLite.read(s, root)
      val pruned = IcebergLite.read(s, root, filters = fs)
      // apply the same row predicate to both; sets must be identical
      def rows(d: org.apache.spark.sql.DataFrame) = {
        val pred = fs.map {
          case IcebergLite.Eq(c, v) => col(c) === lit(v).cast(d.schema(c).dataType)
          case IcebergLite.Gt(c, v) => col(c) > lit(v).cast(d.schema(c).dataType)
          case IcebergLite.In(c, vs) =>
            vs.map(v => col(c) === lit(v).cast(d.schema(c).dataType)).reduce(_ || _)
          case other => throw new IllegalArgumentException(other.toString)
        }.reduce(_ && _)
        d.filter(pred).select("id", "code").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      }
      assert(rows(pruned) == rows(full), s"soundness violated for $fs")
    }
  }
  test("r10 review regressions: full-prune readWhere, addColumns collisions, atomic SET, truncate stats") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft_review_fix").resolve("t").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root, Seq((1L, "a"), (2L, "b")).toDF("id", "p"),
      partitionColumns = Seq("p"))

    // a predicate that prunes EVERY file answers zero rows, not an
    // unresolved-column crash
    val none = IcebergLite.readWhere(s, root, col("p") === "zzz")
    assert(none.collect().isEmpty)
    assert(none.columns.contains("id"))

    // addColumns refuses names colliding with a renamed column's
    // PHYSICAL name and with a legacy partition column
    IcebergLite.renameColumn(root, "id", "ident")
    val phys = intercept[IllegalArgumentException](
      IcebergLite.addColumns(s, root, org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType)))))
    assert(phys.getMessage.contains("collides"))
    val legacy = intercept[IllegalArgumentException](
      IcebergLite.addColumns(s, root, org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.IntegerType)))))
    assert(legacy.getMessage.contains("collides"))

    // SET with one bad value applies NOTHING
    intercept[IllegalArgumentException](IcebergLite.setProperties(root, Map(
      "write.sort-order" -> "ident", "write.max-records-per-file" -> "abc")))
    assert(IcebergLite.sortOrder(root).isEmpty)
    assert(IcebergLite.maxRecordsPerFile(root) == 0L)
    // out-of-Long-range digits are rejected at VALIDATION (not as a
    // mid-apply overflow), so the sort order still applies nothing
    intercept[IllegalArgumentException](IcebergLite.setProperties(root, Map(
      "write.sort-order" -> "ident",
      "write.max-records-per-file" -> "99999999999999999999999999")))
    assert(IcebergLite.sortOrder(root).isEmpty)
    // a whitespace-padded value parses: validation and apply share
    // one trim+parse
    IcebergLite.setProperties(root, Map("write.max-records-per-file" -> " 7 "))
    assert(IcebergLite.maxRecordsPerFile(root) == 7L)
    IcebergLite.setProperties(root, Map("write.max-records-per-file" -> "0"))

    // truncate drops the stats sidecars with the rows
    IcebergLite.truncate(root)
    assert(IcebergLite.columnStatsMetadata(s, root).collect().isEmpty)
  }

  test("manifest-list totals: sizing a table is one list read, carried forward across commits") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_totals_spec").toString
    IcebergLite.createTable(root, Nil)
    // an initialized EMPTY table is certainty of emptiness, not unknown
    assert(IcebergLite.snapshotTotals(root) == Some((0L, 0L)))
    IcebergLite.append(s, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    IcebergLite.append(s, root, Seq((4L, "d"), (5L, "e")).toDF("id", "v").coalesce(1))
    // totals agree with a full manifest walk — but come from the list
    val walked = IcebergLite.dataFiles(root)
    val Some((rows, bytes)) = IcebergLite.snapshotTotals(root)
    assert(rows == 5L && rows == walked.map(_.recordCount).sum)
    assert(bytes > 0L && bytes == walked.map(_.fileSizeBytes).sum)
    // the first snapshot's totals stand independently (time travel)
    val snap1 = IcebergLite.snapshots(root).min
    assert(IcebergLite.snapshotTotals(root, Some(snap1)).exists(_._1 == 3L))
    // a rewrite (fresh manifests, parsed where written) keeps totals
    IcebergLite.compact(s, root)
    assert(IcebergLite.snapshotTotals(root).exists(_._1 == 5L))
    // a LEGACY list (written before totals tracking) answers None —
    // callers fall back to the walk, never to a wrong zero
    val id = IcebergLite.currentSnapshotId(root).get
    val listPath = java.nio.file.Paths.get(s"$root/metadata/manifest-list-$id.json")
    Files.writeString(listPath, Files.readString(listPath)
      .replaceAll(""", "total_records": \d+, "total_bytes": \d+""", ""))
    assert(IcebergLite.snapshotTotals(root).isEmpty)
    // and the NEXT commit re-derives fresh totals rather than
    // propagating the unknown forever: the new manifest is parsed
    // once anyway; only carried legacy entries stay unknown
    IcebergLite.append(s, root, Seq((6L, "f")).toDF("id", "v").coalesce(1))
    assert(IcebergLite.snapshotTotals(root).isEmpty,
      "carried legacy entries stay honest-unknown")
  }


  /** One row per value class the write-path stats must get right: NaN,
    * ±∞, −0.0 vs 0.0 (`z`: min and max are a tie, the first value
    * seen wins), DECIMAL(18,6), dates before 1970, TIMESTAMP_NTZ,
    * booleans, binary (empty, high-bit bytes), empty / non-ASCII /
    * numeric-looking strings, an all-null column, and partition
    * values that need hive escaping. */
  private def statsFixture(n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val doubles = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, null, 2.5)
    val strings = Seq("", "é", "日本語", "zeta", null, "Ärger", "10", "abc")
    val parts = Seq("a/b", "x=y", "with space", "100%", "plain", "c:d")
    val rows = (0 until n).map { i =>
      Row(i, i * 1000003L - 5000000L, doubles(i % 7),
        if ((i / 6) % 2 == 0) 0.0 else -0.0,
        if (i % 5 == 0) null else java.math.BigDecimal.valueOf(i * 7919L - 40000L, 6),
        java.sql.Date.valueOf(java.time.LocalDate.of(1900 + i * 37 % 200, 1 + i % 12, 1 + i % 28)),
        java.time.LocalDateTime.of(2000 + i % 30, 1 + i % 12, 1 + i % 28,
          i % 24, i % 60, i * 7 % 60, i % 1000 * 1000),
        if (i % 4 == 3) null else i % 3 == 0,
        Array.tabulate[Byte](i % 4)(k => (i * 31 + k * 97).toByte),
        strings(i % 8), null, parts(i % 6))
    }
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("z", DoubleType),
      StructField("dec", DecimalType(18, 6)), StructField("dt", DateType),
      StructField("ts", TimestampNTZType), StructField("b", BooleanType),
      StructField("bin", BinaryType), StructField("s", StringType),
      StructField("n", IntegerType), StructField("p", StringType)))
    spark.createDataFrame(rows.asJava, schema)
  }

  test("one-pass write stats equal the read-back reference, field by field") {
    import graft.sources.IcebergTransforms.{Bucket, PartitionField}
    import org.apache.spark.sql.types.LongType
    val s = spark
    def runDirOf(path: String) = path.split('/')(1)
    def fileSchema(root: String, runDir: String) =
      s.read.option("recursiveFileLookup", "true").parquet(s"$root/data/$runDir").schema
    def reference(root: String, runDirs: Seq[String]) = runDirs.distinct
      .flatMap(rd => ReadBackStats.entries(s, root, rd, fileSchema(root, rd)))
      .map(f => f.filePath -> f).toMap
    def assertEntriesMatch(root: String): Unit = {
      val got = IcebergLite.dataFiles(root)
      val want = reference(root, got.map(f => runDirOf(f.filePath)))
      assert(got.map(_.filePath).toSet == want.keySet)
      got.foreach { g =>
        val w = want(g.filePath)
        Seq(("partition", g.partition, w.partition),
          ("recordCount", g.recordCount, w.recordCount),
          ("lowerBounds", g.lowerBounds, w.lowerBounds),
          ("upperBounds", g.upperBounds, w.upperBounds),
          ("fileSizeBytes", g.fileSizeBytes, w.fileSizeBytes),
          ("ndv", g.ndv, w.ndv)).foreach { case (field, a, b) =>
          assert(a == b, s"$field of ${g.filePath}: write path $a, read-back $b")
        }
      }
    }
    def assertSketchesMatch(root: String): Unit = {
      val live = IcebergLite.dataFiles(root).map(_.filePath)
      val ref = live.map(runDirOf).distinct
        .map(rd => ReadBackStats.sketches(s, root, rd, fileSchema(root, rd)))
        .reduce(_ unionByName _)
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Array[Byte]](2).toSeq).toMap
      val sidecar = s.read.parquet(IcebergLite.statsFiles(root).map(p => s"$root/$p"): _*)
        .select("file_path", "column", "sketch")
      assert(keyed(sidecar) == keyed(ref), "sidecar sketches must be byte-identical")
      val want = ReadBackStats.columnStats(ref, live)
      assert(ReadBackStats.columnStats(sidecar, live) == want)
      // column_stats unions in sidecar-file order, which can move an
      // HLL estimate within its error (lgK 12: ~1.6% per sigma)
      IcebergLite.columnStatsMetadata(s, root).collect().foreach { r =>
        val (ndv, fileCount) = want(r.getString(0))
        assert(r.getLong(2) == fileCount && math.abs(r.getLong(1) - ndv) <= 0.05 * ndv,
          s"column_stats ${r.getString(0)}: ${(r.getLong(1), r.getLong(2))}, reference ${(ndv, fileCount)}")
      }
    }

    // identity partitions needing hive escaping; then rolled files; then
    // a declared sort order (the same rows land in a different order)
    val root = Files.createTempDirectory("iceberg_write_stats").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root, statsFixture(600), Seq("p"))
    IcebergLite.setMaxRecordsPerFile(root, 7L)
    IcebergLite.append(s, root, statsFixture(90).coalesce(1), Seq("p"))
    IcebergLite.setMaxRecordsPerFile(root, 0L)
    IcebergLite.setSortOrder(root, Seq("d"))
    IcebergLite.append(s, root, statsFixture(120), Seq("p"))
    val files = IcebergLite.dataFiles(root)
    assert(files.map(_.partition("p")).toSet ==
      Set("a/b", "x=y", "with space", "100%", "plain", "c:d"))
    assert(files.count(_.recordCount == 7L) >= 6, "the 7-row bound must roll files")
    assertEntriesMatch(root)
    assertSketchesMatch(root)

    // a hidden-partition spec; 1,500 rows per bucket push the sketches
    // past their small-count modes
    val hidden = Files.createTempDirectory("iceberg_write_stats_hidden").toString
    IcebergLite.createTable(hidden, Seq(PartitionField("l", Bucket(4), LongType)))
    IcebergLite.append(s, hidden, statsFixture(6000))
    assertEntriesMatch(hidden)
    assertSketchesMatch(hidden)

    // position- and equality-delete key files record the same bounds
    // and counts the read-back finds in them
    IcebergLite.deletePositions(s, root, Map(
      files(0).filePath -> Seq(0L, 1L), files(3).filePath -> Seq(0L)))
    val pos = IcebergLite.posDeletes(root)
    val posRef = reference(root, pos.map(d => runDirOf(d.filePath)))
    assert(pos.map(_.filePath).toSet == posRef.keySet)
    pos.foreach { d =>
      val w = posRef(d.filePath)
      assert((d.recordCount, d.targetLower, d.targetUpper) ==
        (w.recordCount, w.lowerBounds.get("file_path"), w.upperBounds.get("file_path")))
    }
    IcebergLite.deleteEquality(s, root,
      statsFixture(60).filter(col("i") % 3 === 0).select("s", "d", "dec", "dt"))
    val eq = IcebergLite.eqDeletes(root)
    val eqRef = reference(root, eq.map(d => runDirOf(d.filePath)))
    assert(eq.nonEmpty && eq.map(_.filePath).toSet == eqRef.keySet)
    eq.foreach { d =>
      val w = eqRef(d.filePath)
      assert((d.recordCount, d.lowerBounds, d.upperBounds) ==
        (w.recordCount, w.lowerBounds, w.upperBounds))
    }
  }

  test("an all-pruned read still has the table's columns") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_all_pruned").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("v"))
    val pruned = IcebergLite.read(s, root, filters = Seq(IcebergLite.Eq("v", "zzz")))
    assert(pruned.columns.toSet == Set("id", "v"))
    assert(pruned.filter($"id" > 0).select("v").count() == 0L)
    val where = IcebergLite.readWhere(s, root, $"id" > 100L)
    assert(where.columns.toSet == Set("id", "v") && where.count() == 0L)
  }

  test("an all-pruned metadata-column read keeps the legacy partition columns") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_meta_pruned").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root, Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "v", "p"),
      partitionColumns = Seq("p"))
    val full = IcebergLite.readWithMetadataColumns(s, root)
    val pruned = IcebergLite.readWithMetadataColumns(s, root,
      filters = Seq(IcebergLite.Eq("p", "absent")))
    assert(full.count() == 2L && pruned.count() == 0L)
    assert(pruned.columns.toSeq == full.columns.toSeq)
    assert(pruned.columns.toSeq == Seq("id", "v", "p", "_pos", "_file"))
  }

  // The manifest file index: each test reads back exactly the rows it
  // wrote, whatever filters, layouts and schema changes sit between.

  private def rowSet(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("manifest index: partition-only filters, Hive-escaped values and a missing partition value") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_index_parts").toString
    IcebergLite.createTable(root)
    val regions = Seq("a/b", "x=y", "with space", "100%", "plain")
    IcebergLite.append(s, root, regions.zipWithIndex.flatMap { case (r, i) =>
      (0 until 3).map(j => (i * 10L + j, r))
    }.toDF("id", "region"), Seq("region"))
    // a second layout: its files carry a kind value and no region value
    IcebergLite.append(s, root, Seq((100L, "k1"), (101L, "k2")).toDF("id", "kind"), Seq("kind"))
    val t = IcebergLite.read(s, root)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().sorted.toSeq
    assert(rowSet(t.select("id", "region", "kind")) == rowSet(
      (regions.zipWithIndex.flatMap { case (r, i) =>
        (0 until 3).map(j => (i * 10L + j, Option(r), Option.empty[String]))
      } ++ Seq((100L, None, Some("k1")), (101L, None, Some("k2"))))
        .toDF("id", "region", "kind")))
    // every escaped value round-trips and selects its own files
    regions.zipWithIndex.foreach { case (r, i) =>
      assert(ids(t.filter(col("region") === r)) == (0 until 3).map(i * 10L + _), r)
    }
    assert(ids(t.filter(col("region").isin("x=y", "100%"))) == Seq(10L, 11L, 12L, 30L, 31L, 32L))
    assert(ids(t.filter(col("region").isNull)) == Seq(100L, 101L))
    assert(ids(t.filter(col("kind") === "k2" || col("region") === "a/b")) == Seq(0L, 1L, 2L, 101L))
    assert(ids(IcebergLite.readWhere(s, root, col("region") === "with space")) == Seq(20L, 21L, 22L))
    t.createOrReplaceTempView("iceberg_index_parts")
    assert(ids(s.sql("SELECT id FROM iceberg_index_parts WHERE region > 'w'")) ==
      Seq(10L, 11L, 12L, 20L, 21L, 22L))
    assert(ids(s.sql("SELECT id FROM iceberg_index_parts WHERE kind IS NOT NULL AND region IS NULL")) ==
      Seq(100L, 101L))
    assert(ids(s.sql("SELECT id FROM iceberg_index_parts WHERE region = '100%' AND id > 30")) ==
      Seq(31L, 32L))
  }

  test("manifest index: a spec table with identity and bucket[4] fields") {
    val s = spark
    import s.implicits._
    val root = freshSpecTable(Seq(PartitionField("region", IcebergTransforms.Identity, StringType),
      PartitionField("id", Bucket(4), LongType)))
    val rows = (0L until 40L).map(id => (id, s"v$id", if (id % 3 == 0) "x=y" else "a/b"))
    IcebergLite.append(s, root, rows.toDF("id", "v", "region").coalesce(1))
    val t = IcebergLite.read(s, root)
    assert(t.columns.sorted.toSeq == Seq("id", "region", "v"))
    assert(rowSet(t.select("id", "v", "region")) == rowSet(rows.toDF("id", "v", "region")))
    assert(rowSet(t.filter(col("region") === "x=y").select("id", "v", "region")) ==
      rowSet(rows.filter(_._3 == "x=y").toDF("id", "v", "region")))
    assert(t.filter(col("id") === 17L).select("v").as[String].collect().toSeq == Seq("v17"))
  }

  test("manifest index: renamed and widened columns, and a pre-tracking table through mergeSchema") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_index_evolve").toString
    IcebergLite.createTable(root)
    IcebergLite.append(s, root, Seq((1, "a", "p1"), (2, "b", "p2")).toDF("n", "v", "part"), Seq("part"))
    IcebergLite.renameColumn(root, "v", "w")
    IcebergLite.widenColumn(s, root, "n", LongType)
    IcebergLite.append(s, root, Seq((3L, "c", "p1")).toDF("n", "w", "part"), Seq("part"))
    val t = IcebergLite.read(s, root)
    assert(t.schema("n").dataType == LongType)
    assert(rowSet(t.select("n", "w", "part")) ==
      rowSet(Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p1")).toDF("n", "w", "part")))
    assert(rowSet(t.filter(col("part") === "p1").select("n", "w")) ==
      rowSet(Seq((1L, "a"), (3L, "c")).toDF("n", "w")))
    // the generated reference-layout table records no schema: its data
    // columns come from the files' merged footers
    assert(IcebergLite.tableSchema(tableDir).isEmpty)
    val legacy = IcebergLite.read(s, tableDir)
    assert(rowSet(legacy.filter(col("year") >= "2024").select("id", "v", "year")) ==
      rowSet(Seq((3L, "c", "2024"), (4L, "d", "2025"), (5L, "e", "2025"), (6L, "f", "2025"))
        .toDF("id", "v", "year")))
  }

  test("manifest index: _file/_pos name live rows and feed a DataFrame position delete") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("iceberg_index_meta").toString
    IcebergLite.createTable(root)
    val rows = (0L until 12L).map(i => (i, s"v$i", if (i % 2 == 0) "with space" else "100%"))
    IcebergLite.append(s, root, rows.toDF("id", "v", "region").coalesce(1), Seq("region"))
    val meta = IcebergLite.readWithMetadataColumns(s, root)
    val live = IcebergLite.dataFiles(root).map(_.filePath).toSet
    val located = meta.select("_file", "_pos", "id").as[(String, Long, Long)].collect()
    assert(located.map(_._1).toSet == live)
    // within each file the ordinals are 0..n-1 in write order
    located.groupBy(_._1).values.foreach { fs =>
      assert(fs.sortBy(_._3).map(_._2).toSeq == fs.indices.map(_.toLong))
    }
    IcebergLite.deletePositions(s, root, meta.filter(col("id").isin(3L, 4L, 11L))
      .select(col("_file").as("file_path"), col("_pos").as("pos")))
    assert(IcebergLite.read(s, root).select("id").as[Long].collect().sorted.toSeq ==
      (0L until 12L).filterNot(Set(3L, 4L, 11L)))
    assert(IcebergLite.readWithMetadataColumns(s, root).filter(col("region") === "100%")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 5L, 7L, 9L))
  }

}
