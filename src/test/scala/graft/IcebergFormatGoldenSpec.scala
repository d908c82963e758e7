package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IcebergLite
import graft.sources.IcebergTransforms.{Bucket, PartitionField}

/** Pins IcebergLite's ON-DISK FORMAT: every commit kind runs once on
  * two small tables (one spec-less with caller-named partition
  * columns, one with a bucket spec), and every metadata file they
  * leave is compared, in normalized form, against
  * `src/test/resources/graft/iceberg-golden.txt`. Normalization masks
  * only what differs between two runs of the same script: commit
  * timestamps, run tags (`<pid>-<8 hex>`), parquet part-file names and
  * byte sizes. A refactor that changes any other byte of any snapshot,
  * manifest, manifest list, pointer or refs file fails here.
  *
  * On a mismatch the actual rendering is written to
  * `target/iceberg-golden.actual.txt`; when a format change is
  * intended, review its diff and copy it over the resource. */
class IcebergFormatGoldenSpec extends AnyFunSuite {
  import TestSpark._

  private val golden = "/graft/iceberg-golden.txt"

  /** The normalized text of every JSON file under `metadata/`, one
    * `== <name>` block per file, sorted by normalized name. */
  private def render(label: String, root: String): String = {
    val meta = Paths.get(s"$root/metadata")
    val files = Files.list(meta).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".json"))
    files.map(p => (mask(p.getFileName.toString), mask(Files.readString(p))))
      .sortBy(_._1)
      .map { case (n, body) => s"== $label/$n\n$body\n" }
      .mkString
  }

  private def mask(s: String): String = s
    .replaceAll("\"timestamp_ms\": \\d+", "\"timestamp_ms\": <ts>")
    .replaceAll("\\d+-[0-9a-f]{8}", "<tag>")
    .replaceAll("part-[^\"/]*\\.parquet", "part-<n>.parquet")
    .replaceAll("\"file_size_in_bytes\": -?\\d+", "\"file_size_in_bytes\": <bytes>")
    .replaceAll("\"total_bytes\": -?\\d+", "\"total_bytes\": <bytes>")

  private def script(): String = {
    val s = spark
    import s.implicits._
    def frame(rows: (Long, String, Int, Long, String)*) =
      rows.toDF("id", "v", "n", "ts", "p").coalesce(1)

    // ---- table A: spec-less, caller-named partition column `p` ----
    val a = Files.createTempDirectory("iceberg_golden_a").toString
    IcebergLite.createTable(a)
    val p = Seq("p")
    IcebergLite.append(s, a, frame((1L, "a1", 1, 10L, "a"), (2L, "a2", 2, 20L, "a"),
      (3L, "b3", 3, 30L, "b"), (4L, "b4", 4, 40L, "b"), (5L, "c5", 5, 50L, "c")), p)
    IcebergLite.append(s, a, frame((6L, "a6", 6, 60L, "a"), (7L, "b7", 7, 70L, "b"),
      (8L, "c8", 8, 80L, "c")), p)
    // merge-on-read: a residual predicate, then a wholesale partition drop
    IcebergLite.deleteMergeOnRead(s, a, Seq(IcebergLite.Eq("id", "2")))
    IcebergLite.deleteMergeOnRead(s, a, Seq(IcebergLite.Eq("p", "c")))
    // the first append's p=a file (paths carry random run tags, so
    // pick by sequence number, never by path order)
    val firstA = IcebergLite.dataFiles(a).filter(_.partition.get("p").contains("a"))
      .minBy(_.sequenceNumber).filePath
    IcebergLite.deletePositions(s, a, Map(firstA -> Seq(0L)))
    IcebergLite.deleteEquality(s, a, Seq(7L).toDF("id"))
    // a second residual predicate on top of every pending delete form
    IcebergLite.deleteMergeOnRead(s, a, Seq(IcebergLite.Eq("id", "6")))
    IcebergLite.delete(s, a, Seq(IcebergLite.Eq("id", "3")))
    IcebergLite.updateWhere(s, a, col("id") === 4L,
      Seq("v" -> org.apache.spark.sql.functions.lit("upd")))
    IcebergLite.merge(s, a, frame((1L, "m1", 11, 11L, "a"), (9L, "m9", 9, 90L, "b")),
      Seq("id"))
    IcebergLite.merge(s, a, frame((1L, "stale", 1, 5L, "a"), (6L, "new6", 6, 61L, "a")),
      Seq("id"), whenMatched = IcebergLite.WhenMatched.UpdateAll(precedence = Some("ts")))
    IcebergLite.merge(s, a,
      Seq((9L, "x", 9, 91L, "b", true), (10L, "t10", 10, 100L, "b", false))
        .toDF("id", "v", "n", "ts", "p", "del").coalesce(1),
      Seq("id"), whenMatched = IcebergLite.WhenMatched.UpdateAll(tombstone = Some("del")))
    IcebergLite.createBranch(a, "audit")
    IcebergLite.merge(s, a, frame((11L, "br", 11, 110L, "a")), Seq("id"),
      toBranch = Some("audit"))
    IcebergLite.append(s, a, frame((12L, "a12", 12, 120L, "a")), p)
    IcebergLite.compactSmallFiles(s, a, Long.MaxValue)
    IcebergLite.overwrite(s, a, frame((20L, "ow", 20, 200L, "b")), p)
    IcebergLite.cluster(s, a, Seq("id"), 2)
    IcebergLite.append(s, a, frame((13L, "a13", 13, 130L, "a")), p)
    IcebergLite.compact(s, a)
    IcebergLite.renameColumn(a, "v", "w")
    IcebergLite.widenColumn(s, a, "n", LongType)
    IcebergLite.append(s, a, frame((14L, "a14", 14, 140L, "c")), p)
    IcebergLite.append(s, a, frame((15L, "a15", 15, 150L, "d")), p)
    // the distributed (Spark-job) manifest rewrite, forced; it orders
    // entries by (partition, path), so every partition holds one file
    // here — paths carry random run tags
    s.conf.set("graft.iceberg.planning.distributedThreshold", "1")
    try IcebergLite.rewriteManifests(s, a, 2)
    finally s.conf.unset("graft.iceberg.planning.distributedThreshold")
    // the driver-side rewrite, after the appends: two manifests left
    IcebergLite.rewriteManifests(a, 1)
    IcebergLite.truncate(a)

    // ---- table B: hidden partitioning (bucket spec on `id`) ----
    val b = Files.createTempDirectory("iceberg_golden_b").toString
    IcebergLite.createTable(b, Seq(PartitionField("id", Bucket(2), LongType)))
    IcebergLite.append(s, b, frame((1L, "a1", 1, 10L, "a"), (2L, "a2", 2, 20L, "a"),
      (3L, "b3", 3, 30L, "b"), (4L, "b4", 4, 40L, "b")))
    IcebergLite.append(s, b, frame((5L, "c5", 5, 50L, "c"), (6L, "c6", 6, 60L, "c")))
    IcebergLite.deleteMergeOnRead(s, b, Seq(IcebergLite.Eq("v", "a2")))
    IcebergLite.merge(s, b, frame((3L, "e3", 3, 31L, "b"), (7L, "e7", 7, 70L, "d")),
      Seq("id"),
      whenMatched = IcebergLite.WhenMatched.Update(Seq("v" -> col("__graft_s_v"))))
    IcebergLite.updateWhere(s, b, col("id") === 4L,
      Seq("n" -> org.apache.spark.sql.functions.lit(40).cast(IntegerType)))
    IcebergLite.delete(s, b, Seq(IcebergLite.Eq("id", "5")))
    IcebergLite.compactSmallFiles(s, b, Long.MaxValue)
    IcebergLite.compact(s, b)

    render("a", a) + render("b", b)
  }

  test("every commit kind writes the pinned metadata format") {
    val actual = script()
    val in = getClass.getResourceAsStream(golden)
    assert(in != null, s"missing test resource $golden")
    val expected = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    if (actual != expected) {
      val out = Paths.get("target/iceberg-golden.actual.txt")
      Files.createDirectories(out.getParent)
      Files.writeString(out, actual)
      val (e, g) = (expected.linesIterator.toSeq, actual.linesIterator.toSeq)
      val at = e.zipAll(g, "<eof>", "<eof>").indexWhere { case (x, y) => x != y }
      fail(s"metadata format differs from $golden at line ${at + 1}:\n" +
        s"  expected: ${e.lift(at).getOrElse("<eof>")}\n" +
        s"  actual:   ${g.lift(at).getOrElse("<eof>")}\n" +
        s"full rendering written to ${out.toAbsolutePath}")
    }
  }
}
