package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Minimal Iceberg-style table reader, mirroring the *actual* behavior
  * of the reference's `IcebergScanExec` (`/root/reference/src/physical/
  * operators/iceberg.rs:111-630`) — which reads a JSON-simplified
  * layout, not the full Iceberg spec (no Avro manifests, no deletes,
  * no schema evolution):
  *
  *   table/metadata/v0.metadata.json        {format_version, uuid, current_snapshot_id}
  *   table/metadata/snap-<id>.snapshot.json {snapshot_id, parent_snapshot_id, manifest_list}
  *   <manifest_list>                        [{manifest_path, ...}, ...]
  *   <manifest>                             {"entries": [{"data_file": {file_path,
  *                                            file_format, partition, record_count, ...}}]}
  *
  * Capabilities mirrored: current-snapshot resolution, time travel via
  * an explicit snapshot id (`iceberg.rs:148`), partition-value pruning
  * (`PartitionFilter.matches`, `iceberg.rs:540-560`), then streaming the
  * surviving parquet files — here by handing the pruned file list to
  * Spark's vectorized parquet reader, which adds its own row-group
  * pruning/pushdown on top (the reference does that part manually).
  *
  * For real Iceberg tables one would use iceberg-spark-runtime (jar not
  * present in this environment — SURVEY §7.6).
  */
object IcebergLite {

  /** `sequenceNumber` is the Iceberg v2 data-sequence number: the
    * commit ordinal of the snapshot that ADDED this file. Carried
    * forward verbatim by every later commit that keeps the file, it is
    * what scopes merge-on-read deletes ("a delete applies to files
    * with sequence ≤ its own"). −1 is the writer-side sentinel for
    * "assigned at commit" (see [[commitSnapshot]]). */
  final case class DataFile(
      filePath: String,
      fileFormat: String,
      partition: Map[String, String],
      recordCount: Long,
      lowerBounds: Map[String, String] = Map.empty,
      upperBounds: Map[String, String] = Map.empty,
      sequenceNumber: Long = 0L,
      fileSizeBytes: Long = -1L,
      ndv: Map[String, Long] = Map.empty)

  /** Numeric-first value compare (long, then double, then string) —
    * bounds and partition values are string-typed in the manifest, like
    * the reference's (iceberg.rs:354-507). */
  private def cmp(a: String, b: String): Int =
    (a.toLongOption, b.toLongOption) match {
      case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
      case _ => (a.toDoubleOption, b.toDoubleOption) match {
        case (Some(x), Some(y)) => java.lang.Double.compare(x, y)
        case _ => a.compareTo(b)
      }
    }

  /** File-skipping predicates. Each consults the partition tuple first
    * (exact); for non-partition columns it falls back to the file's
    * column min/max bounds (reference prunes on both,
    * iceberg.rs:354-507). Files without bounds for the column are
    * conservatively kept. */
  sealed trait PartitionFilter {
    def column: String
    def matches(f: DataFile): Boolean =
      f.partition.get(column) match {
        case Some(pv) => matchesValue(pv)
        case None => matchesBounds(f.lowerBounds.get(column), f.upperBounds.get(column))
      }
    protected def matchesValue(v: String): Boolean
    protected def matchesBounds(lower: Option[String], upper: Option[String]): Boolean
  }
  final case class Eq(column: String, value: String) extends PartitionFilter {
    protected def matchesValue(v: String): Boolean = v == value
    protected def matchesBounds(lower: Option[String], upper: Option[String]): Boolean =
      lower.forall(cmp(_, value) <= 0) && upper.forall(cmp(_, value) >= 0)
  }
  final case class Gt(column: String, value: String) extends PartitionFilter {
    protected def matchesValue(v: String): Boolean = cmp(v, value) > 0
    protected def matchesBounds(lower: Option[String], upper: Option[String]): Boolean =
      upper.forall(cmp(_, value) > 0)
  }
  final case class Lt(column: String, value: String) extends PartitionFilter {
    protected def matchesValue(v: String): Boolean = cmp(v, value) < 0
    protected def matchesBounds(lower: Option[String], upper: Option[String]): Boolean =
      lower.forall(cmp(_, value) < 0)
  }
  final case class In(column: String, values: Seq[String]) extends PartitionFilter {
    protected def matchesValue(v: String): Boolean = values.contains(v)
    protected def matchesBounds(lower: Option[String], upper: Option[String]): Boolean =
      values.exists(v => lower.forall(cmp(_, v) <= 0) && upper.forall(cmp(_, v) >= 0))
  }
  final case class GtEq(column: String, value: String) extends PartitionFilter {
    protected def matchesValue(v: String): Boolean = cmp(v, value) >= 0
    protected def matchesBounds(lower: Option[String], upper: Option[String]): Boolean =
      upper.forall(cmp(_, value) >= 0)
  }
  final case class LtEq(column: String, value: String) extends PartitionFilter {
    protected def matchesValue(v: String): Boolean = cmp(v, value) <= 0
    protected def matchesBounds(lower: Option[String], upper: Option[String]): Boolean =
      lower.forall(cmp(_, value) <= 0)
  }

  private implicit val formats: Formats = DefaultFormats

  private def readJson(path: String): JValue =
    JsonMethods.parse(Files.readString(Paths.get(path)))

  /** Metadata files readers may open WITHOUT the commit lock are never
    * written in place: tmp + ATOMIC_MOVE, the same discipline as the
    * v0.metadata.json pointer flip — no reader can observe a torn or
    * truncated JSON. */
  /** `beforeMove` runs between the tmp write and the move — commit
    * points pass their lock-ownership fence here so it sits as close
    * to the visible flip as possible. */
  private[graft] def atomicWrite(path: java.nio.file.Path, content: String,
      beforeMove: => Unit = ()): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    beforeMove
    Files.move(tmp, path,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Current snapshot id from table metadata (None = empty table). */
  def currentSnapshotId(tablePath: String): Option[Long] =
    (readJson(s"$tablePath/metadata/v0.metadata.json") \ "current_snapshot_id")
      .toOption.collect { case JInt(n) => n.toLong }

  /** All snapshot ids present in the metadata dir (time-travel targets). */
  def snapshots(tablePath: String): Seq[Long] = {
    val dir = new java.io.File(s"$tablePath/metadata")
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .map(_.getName)
      .collect { case n if n.startsWith("snap-") && n.endsWith(".snapshot.json") =>
        n.stripPrefix("snap-").stripSuffix(".snapshot.json").toLong
      }.sorted
  }

  /** Parse one manifest file's data-file entries. */
  private def manifestFiles(tablePath: String, manifestPath: String): Seq[DataFile] =
    (readJson(s"$tablePath/$manifestPath") \ "entries") match {
      case JArray(entries) =>
        entries.flatMap { e =>
          (e \ "data_file").toOption.map { df =>
            DataFile(
              filePath = (df \ "file_path").extract[String],
              fileFormat = (df \ "file_format").extractOrElse[String]("PARQUET"),
              partition = (df \ "partition").extractOrElse[Map[String, String]](Map.empty),
              // -1 = UNKNOWN (pre-footer-count metadata): distinct from a
              // known-0-row file so fail-closed checks can tell them apart
              recordCount = (df \ "record_count").extractOrElse[Long](-1L),
              lowerBounds = (df \ "lower_bounds").extractOrElse[Map[String, String]](Map.empty),
              upperBounds = (df \ "upper_bounds").extractOrElse[Map[String, String]](Map.empty),
              sequenceNumber = (df \ "sequence_number").extractOrElse[Long](0L),
              fileSizeBytes = (df \ "file_size_in_bytes").extractOrElse[Long](-1L),
              ndv = (df \ "ndv").extractOrElse[Map[String, Long]](Map.empty))
          }
        }
      case _ => Nil
    }

  /** The entries snapshot `id` wrote into its own manifest: for an
    * append, the files it added. A commit that added none wrote no
    * manifest, which reads as empty. */
  private def addedFiles(tablePath: String, id: Long): Seq[DataFile] = {
    val own = s"metadata/manifest-$id.json"
    if (Files.exists(Paths.get(s"$tablePath/$own"))) manifestFiles(tablePath, own) else Nil
  }

  /** Live data files of a snapshot, after partition pruning. Filter
    * columns are LOGICAL names (post-rename); manifests store physical
    * names, so filters are translated before matching. The returned
    * DataFile entries keep physical keys — they round-trip verbatim
    * into copy-on-write commits via `entryJson`. */
  def dataFiles(tablePath: String, snapshotId: Option[Long] = None,
      filters: Seq[PartitionFilter] = Nil): Seq[DataFile] =
    snapshotAt(tablePath, snapshotId) match {
      case None => Nil
      case Some(snap) =>
        dataFilesFrom(tablePath, snap, parseManifestList(tablePath, snap), filters)
    }

  private def dataFilesFrom(tablePath: String, snap: Snapshot, manifests: Seq[ManifestRef],
      filters: Seq[PartitionFilter]): Seq[DataFile] = {
    val physFilters = physicalFilters(tablePath, snap, filters)
    // manifest-level skip FIRST: a summarized manifest whose partition
    // ranges reject the filters is never opened or parsed
    val surviving = manifests.filter(manifestMayMatch(_, physFilters))
    val files = surviving.flatMap(m => manifestFiles(tablePath, m.path))
    files.filter(f => physFilters.forall(_.matches(f)))
  }

  /** Augment source-column predicates with their hidden-partitioning
    * projections (no-op for tables without a transform spec; idempotent
    * — projecting a projected list adds nothing new). This is how a
    * filter on `ts` prunes `ts_day=...` partitions the user never
    * named. */
  private def withProjectedFilters(tablePath: String,
      filters: Seq[PartitionFilter]): Seq[PartitionFilter] = {
    if (filters.isEmpty) return filters
    // project through EVERY spec version: each projected conjunct names
    // its own version's field, so it prunes exactly the files written
    // under that version and is conservatively true for all others
    val fields = partitionSpecs(tablePath).flatten.distinct
    if (fields.isEmpty) filters
    else (filters ++ IcebergTransforms.projectFilters(fields, filters)).distinct
  }

  /** One partition column's summary range in a manifest list, under
    * BOTH total orders a filter compare can take: `lower`/`upper` are
    * the entries' min/max under the manifest comparator [[cmp]]
    * (numeric when the column's values all parse), `lowerS`/`upperS`
    * under plain string order. Two ranges because [[cmp]] is only a
    * total order on values of ONE kind: a filter VALUE that parses
    * numerically compares numerically against all-numeric partition
    * values, but a NON-numeric filter value string-compares against
    * those same values ({"2","10"} vs Gt("10x"): "2" matches
    * string-wise while the numeric max "10" does not) — so the
    * summary must cover the entries under whichever order the filter
    * value will trigger. For all-non-numeric value sets the two
    * ranges coincide. */
  private final case class ColSummary(lower: String, upper: String,
      lowerS: String, upperS: String)

  /** One manifest as listed by a manifest list: its path plus the
    * optional PARTITION SUMMARY — per partition column, the [min,max]
    * range of the partition values of every entry inside (real
    * Iceberg's `manifest_file.partitions` field). `None` = no summary
    * recorded (legacy list): the manifest must be parsed. */
  /** One manifest-list entry. `totalRecords`/`totalBytes` are the
    * manifest's entry sums (real Iceberg's added_rows_count family);
    * -1 = unknown (legacy list, or a manifest holding files with
    * unknown per-file counts). Known totals make table statistics an
    * O(manifest-list) read — no manifest is parsed to SIZE a table. */
  private final case class ManifestRef(path: String,
      summaries: Option[Map[String, ColSummary]],
      totalRecords: Long = -1L, totalBytes: Long = -1L)

  private def parseManifestList(tablePath: String, snap: Snapshot): Seq[ManifestRef] =
    snap.manifestList.map(ml => readJson(s"$tablePath/$ml")) match {
      case Some(JArray(ms)) => ms.map { m =>
        val sums = (m \ "partition_summaries") match {
          case JObject(fields) => Some(fields.map { case (c, v) =>
            val lo = (v \ "lower").extract[String]
            val hi = (v \ "upper").extract[String]
            c -> ColSummary(lo, hi,
              (v \ "lower_s").extractOrElse[String](lo),
              (v \ "upper_s").extractOrElse[String](hi))
          }.toMap)
          case _ => None
        }
        ManifestRef((m \ "manifest_path").extract[String], sums,
          (m \ "total_records").extractOrElse[Long](-1L),
          (m \ "total_bytes").extractOrElse[Long](-1L))
      }
      case _ => Nil
    }

  /** Logical `filters` projected through the hidden-partitioning specs
    * and translated to `snap`'s physical column names — what every
    * manifest- and entry-level match runs against. */
  private def physicalFilters(tablePath: String, snap: Snapshot,
      filters: Seq[PartitionFilter]): Seq[PartitionFilter] = {
    val projected = withProjectedFilters(tablePath, filters)
    if (snap.renames.isEmpty) projected
    else projected.map(physicalFilter(snap.renames, _))
  }

  /** (rows, bytes) of a snapshot from manifest-LIST totals alone —
    * `None` when any entry predates totals tracking or sums files
    * with unknown counts (callers fall back to a manifest walk, or to
    * a conservative default). One small JSON read at any table size:
    * the stats question a CBO asks before every join must never cost
    * an O(manifests) driver parse. An empty list (no committed
    * snapshot) is Some((0, 0)) — certainty of emptiness. */
  def snapshotTotals(tablePath: String,
      snapshotId: Option[Long] = None): Option[(Long, Long)] =
    snapshotAt(tablePath, snapshotId) match {
      case None => Some((0L, 0L))
      case Some(snap) =>
        val refs = parseManifestList(tablePath, snap)
        if (refs.exists(r => r.totalRecords < 0 || r.totalBytes < 0)) None
        else Some((refs.map(_.totalRecords).sum, refs.map(_.totalBytes).sum))
    }

  /** The partition summary of a manifest's entries: per partition
    * column, the [min,max] of the entries' partition values under
    * BOTH orders a later filter compare can take (see [[ColSummary]]).
    * A column is summarized ONLY when every entry carries it (a range
    * over a subset would wrongly prune entries lacking the column —
    * mixed-spec manifests) AND its values are uniformly
    * numeric-parsing or uniformly not: over a MIXED set ({"2","10",
    * "1x"}) the pairwise comparator [[cmp]] is not transitive, no
    * single min/max covers every entry under every filter value, and
    * a summary could prune a manifest holding an exact match — such
    * columns are omitted (the manifest is conservatively parsed), the
    * same guard [[boundSound]] applies to file column bounds. Within
    * a uniform set every (entry, filter-value) compare runs under ONE
    * total order — numeric when both sides parse, string otherwise —
    * and the matching range is recorded for each.
    * Empty entries → empty summary (always parsed, and empty). */
  private def partitionSummary(files: Seq[DataFile]): Map[String, ColSummary] = {
    val ord: Ordering[String] = (a, b) => cmp(a, b)
    def numericish(v: String) = v.toLongOption.nonEmpty || v.toDoubleOption.nonEmpty
    files.flatMap(_.partition.keys).distinct.flatMap { c =>
      val vs = files.flatMap(_.partition.get(c))
      val nNum = vs.count(numericish)
      if (vs.size != files.size || vs.isEmpty) None
      else if (nNum != 0 && nNum != vs.size) None // mixed: no sound total order
      else Some(c -> ColSummary(vs.min(ord), vs.max(ord), vs.min, vs.max))
    }.toMap
  }

  /** The serialized JSON body of a partition summary — the shape
    * `parseManifestList` reads back. The string-order range is
    * written only when it differs (all-numeric value sets); parse
    * defaults lower_s/upper_s to lower/upper, so the common case
    * stays two fields. */
  private def summaryBody(m: Map[String, ColSummary]): String =
    m.toSeq.sortBy(_._1).map { case (c, cs) =>
      val extra =
        if (cs.lowerS == cs.lower && cs.upperS == cs.upper) ""
        else s""", "lower_s": ${jstr(cs.lowerS)}, "upper_s": ${jstr(cs.upperS)}"""
      s"${jstr(c)}: {\"lower\": ${jstr(cs.lower)}, \"upper\": ${jstr(cs.upper)}$extra}"
    }.mkString("{", ", ", "}")

  /** Whether a manifest can hold ANY matching entry, judged from its
    * partition summary alone — the skip that makes planning on a
    * consolidated table O(matching manifests), not O(total entries):
    * the summary ranges become synthetic column bounds and the SAME
    * `PartitionFilter.matches` decides (columns without a summary are
    * conservatively in-range; a missing summary parses the manifest).
    * Sound because the summary covers every entry's partition values,
    * and `matchesBounds` over a covering range keeps any filter some
    * entry could match. */
  private def manifestMayMatch(m: ManifestRef,
      physFilters: Seq[PartitionFilter]): Boolean = m.summaries match {
    case None => true
    case Some(s) =>
      // TWO synthetic bound files, one per recorded order (see
      // [[ColSummary]]): a filter whose value compares numerically
      // is covered by the cmp-order range, one whose value string-
      // compares by the string-order range — `matchesBounds`' own
      // [[cmp]] picks the right comparison per (bound, value) pair,
      // so "matches either synth" keeps every manifest some entry
      // could match, under either comparison the filter can take.
      // Each filter passes independently: a single matching entry
      // satisfies all filters, hence each filter on at least one
      // synth.
      def synth(lo: ColSummary => String, hi: ColSummary => String) =
        DataFile(filePath = m.path, fileFormat = "PARQUET",
          partition = Map.empty, recordCount = -1L,
          lowerBounds = s.map { case (c, cs) => c -> lo(cs) },
          upperBounds = s.map { case (c, cs) => c -> hi(cs) })
      val (synthCmp, synthStr) =
        (synth(_.lower, _.upper), synth(_.lowerS, _.upperS))
      physFilters.forall(f => f.matches(synthCmp) || f.matches(synthStr))
  }

  /** Manifests of snapshot `id` surviving summary pruning under
    * `filters` (logical names; rename + transform projection applied
    * exactly as entry-level pruning does). Exposed for tests. */
  private[graft] def manifestsMatching(tablePath: String, id: Long,
      filters: Seq[PartitionFilter]): Seq[String] = {
    val snap = snapshot(tablePath, id)
    val physFilters = physicalFilters(tablePath, snap, filters)
    parseManifestList(tablePath, snap)
      .filter(manifestMayMatch(_, physFilters)).map(_.path)
  }

  /** DISTRIBUTED manifest planning — real Iceberg's
    * `planFiles(distributed)`: the manifest list is still one small
    * driver read, but the per-entry work (parse each manifest, apply
    * partition/bounds pruning) fans out over executors as one Spark
    * job, and ONLY THE MATCHED entries come back to the driver. On a
    * ~10⁶-file table the driver-side [[dataFiles]] loop is the
    * planning bottleneck (it parses and filters every entry in one
    * thread and materializes the full file list); here driver memory
    * and collect size are O(matched), and wall time is
    * O(files / parallelism). Pruning evaluates the exact same
    * [[PartitionFilter.matches]] code the driver path runs — zero
    * semantic divergence (the numeric-first `cmp` included), which a
    * Catalyst re-encoding of the bounds comparison could not
    * guarantee. Executors read manifests from the same shared storage
    * that holds the data files (here the local FS; on a cluster,
    * DFS/object store — the identical contract real Iceberg relies
    * on). Results are sorted by path so planning is deterministic
    * regardless of task scheduling. */
  def planFilesDistributed(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None,
      filters: Seq[PartitionFilter] = Nil): Seq[DataFile] =
    snapshotAt(tablePath, snapshotId) match {
      case None => Nil
      case Some(snap) => planFilesDistributedFrom(spark, tablePath, snap,
        parseManifestList(tablePath, snap), filters)
    }

  private def planFilesDistributedFrom(spark: SparkSession, tablePath: String,
      snap: Snapshot, manifests: Seq[ManifestRef],
      filters: Seq[PartitionFilter]): Seq[DataFile] = {
    if (manifests.isEmpty) return Nil
    val physFilters = physicalFilters(tablePath, snap, filters)
    // manifest-level summary skip happens on the DRIVER (the summaries
    // live in the one small manifest-list read); only surviving
    // manifests fan out to executors for entry-level pruning
    val surviving = manifests.filter(manifestMayMatch(_, physFilters)).map(_.path)
    if (surviving.isEmpty) return Nil
    // locals only in the task closure: a String and a Seq of
    // serializable filter case classes
    val tp = tablePath
    implicit val enc: org.apache.spark.sql.Encoder[DataFile] =
      org.apache.spark.sql.Encoders.product[DataFile]
    spark.createDataset(surviving)(org.apache.spark.sql.Encoders.STRING)
      .repartition(math.min(surviving.size,
        math.max(1, spark.sparkContext.defaultParallelism)))
      .flatMap(m => manifestFiles(tp, m)
        .filter(f => physFilters.forall(_.matches(f))))
      .collect().toSeq.sortBy(_.filePath)
  }

  /** The manifest count from which planning and metadata maintenance
    * run as a Spark job instead of in the driver (session conf, default
    * 64 — metadata this small plans faster in-process than a job
    * round-trip). */
  private def distributedThreshold(spark: SparkSession): Int =
    spark.conf.getOption("graft.iceberg.planning.distributedThreshold")
      .map(_.toInt).getOrElse(64)

  /** Planning entry point used by [[read]]: driver-side pruning below
    * [[distributedThreshold]] manifests, the distributed path at or
    * above it. Both paths return the identical file set. */
  def planFiles(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None,
      filters: Seq[PartitionFilter] = Nil): Seq[DataFile] =
    snapshotAt(tablePath, snapshotId) match {
      case None => Nil
      case Some(snap) =>
        // manifest list resolved ONCE and handed to whichever planner
        // wins the threshold — no metadata file is read twice per plan
        val manifests = parseManifestList(tablePath, snap)
        if (manifests.size < distributedThreshold(spark))
          dataFilesFrom(tablePath, snap, manifests, filters)
        else planFilesDistributedFrom(spark, tablePath, snap, manifests, filters)
    }

  /** A pending merge-on-read row delete — Iceberg v2 sequence-number
    * semantics: rows matching ALL `filters` are dead in every data
    * file whose data-sequence number is ≤ `sequenceNumber` (the
    * delete commit's own ordinal). Files appended after the delete
    * carry a greater sequence and are never affected; files rewritten
    * after it (compact/merge/CoW delete) get the rewriting commit's
    * sequence, so a materialized delete stops applying to them
    * automatically. The delete's metadata is O(filters) — NOT
    * O(touched files), which is what keeps a predicate delete on a
    * 100 TB / 10⁶-file table a constant-size snapshot entry (the r7
    * shape stored the touched-file path list). Filters are the FULL
    * original conjunct set in PHYSICAL column names: partition
    * conjuncts included, so the predicate self-scopes to the right
    * partitions without any path bookkeeping. `sequenceNumber` −1 is
    * the writer-side "assigned at commit" sentinel. */
  final case class RowDelete(sequenceNumber: Long, filters: Seq[PartitionFilter])

  /** A pending merge-on-read POSITION-DELETE FILE — Iceberg v2's
    * second delete form, in real Iceberg's shape: `filePath` is a
    * PARQUET FILE of (file_path, pos) rows under `data/` naming the
    * dead ordinals (0-based row index within each named data file).
    * Where an equality delete says "rows LIKE THIS are gone"
    * (predicate, sequence-scoped), a position delete says "THESE
    * PHYSICAL ROWS are gone" — the shape a CDC sink or a PII-erasure
    * job emits after locating offending rows, with zero data I/O at
    * delete time. Scoping is by NAMED file path (no sequence number:
    * a rewrite that drops/rewrites a target file materializes its
    * positions with it), and `targetLower`/`targetUpper` — the key
    * file's own min/max on its `file_path` column, recorded by the
    * write tasks exactly as for data files — prune the read-side
    * anti-join to reads that actually touch a named file. Snapshot
    * metadata is O(1) per delete file however many positions it
    * carries (a 10⁵-row erasure batch is one bounded entry, not a
    * 10⁵-long ordinal list in JSON); readers anti-join on
    * (file_path, pos). */
  final case class PosDelete(filePath: String, recordCount: Long = -1L,
      targetLower: Option[String] = None, targetUpper: Option[String] = None)

  /** A pending merge-on-read EQUALITY-DELETE FILE — Iceberg v2's third
    * delete form, the one built for HIGH-CARDINALITY CDC deletes: the
    * tombstone keys land as a PARQUET FILE under `data/` (written
    * distributed, never through driver memory), and the snapshot
    * records only this bounded entry — file path, key columns,
    * sequence number, and the key file's own min/max bounds. A
    * predicate delete ([[RowDelete]]) can't carry 10⁶ individual keys
    * without exploding snapshot JSON, and copy-on-write merge rewrites
    * every touched data file per batch; this form is O(1) snapshot
    * metadata + O(keys) cheap columnar data, zero data-file rewrite at
    * delete time. Readers anti-join the key file onto data files with
    * data-sequence ≤ the delete's (same v2 scoping as [[RowDelete]] —
    * rows appended after the delete survive even under the same key);
    * the key-file BOUNDS prune the anti-join to data files whose own
    * bounds overlap the key range, so untouched files pay nothing.
    * Any rewrite that touches a file materializes the delete for it;
    * compaction clears the pending list entirely. */
  final case class EqDelete(filePath: String, keyCols: Seq[String],
      sequenceNumber: Long, recordCount: Long,
      lowerBounds: Map[String, String] = Map.empty,
      upperBounds: Map[String, String] = Map.empty)

  /** JSON string escape for every value interpolated into metadata
    * files: a quote/backslash/control char in a delete value, bound,
    * partition value, column or ref name must never write unparseable
    * table metadata (which would brick every subsequent read). */
  private def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def filterJson(f: PartitionFilter): String = f match {
    case Eq(c, v) => s"""{"column": ${jstr(c)}, "op": "eq", "value": ${jstr(v)}}"""
    case Gt(c, v) => s"""{"column": ${jstr(c)}, "op": "gt", "value": ${jstr(v)}}"""
    case Lt(c, v) => s"""{"column": ${jstr(c)}, "op": "lt", "value": ${jstr(v)}}"""
    case GtEq(c, v) => s"""{"column": ${jstr(c)}, "op": "ge", "value": ${jstr(v)}}"""
    case LtEq(c, v) => s"""{"column": ${jstr(c)}, "op": "le", "value": ${jstr(v)}}"""
    case In(c, vs) =>
      s"""{"column": ${jstr(c)}, "op": "in", "values": [${vs.map(jstr).mkString(", ")}]}"""
  }

  private def parseFilter(j: JValue): PartitionFilter = {
    val c = (j \ "column").extract[String]
    (j \ "op").extract[String] match {
      case "eq" => Eq(c, (j \ "value").extract[String])
      case "gt" => Gt(c, (j \ "value").extract[String])
      case "lt" => Lt(c, (j \ "value").extract[String])
      case "ge" => GtEq(c, (j \ "value").extract[String])
      case "le" => LtEq(c, (j \ "value").extract[String])
      case "in" => In(c, (j \ "values").extract[Seq[String]])
    }
  }

  /** A snapshot's three pending merge-on-read delete forms. */
  private[graft] final case class PendingDeletes(rows: Seq[RowDelete] = Nil,
      pos: Seq[PosDelete] = Nil, eq: Seq[EqDelete] = Nil) {

    /** The deletes some `kept` file can still be subject to — what a
      * rewrite commit carries. A row or equality delete stays while a
      * kept file has sequence ≤ the delete's and lies in its scope;
      * rewritten files got the rewriting commit's (higher) sequence, so
      * materialized deletes age out of scope on their own. A position
      * delete stays while its target range covers a kept path (its
      * targets dropped or rewritten under new paths = materialized);
      * range coverage is conservative — one straddling kept files it
      * never named stays pending harmlessly (the anti-join has no key
      * for them) until compaction clears it, real Iceberg's exact
      * behavior for delete-file bounds. The key FILES stay on disk
      * until snapshot expiry reclaims them. */
    def prunedTo(tablePath: String, kept: Seq[DataFile]): PendingDeletes = {
      val keptPaths = kept.map(_.filePath)
      PendingDeletes(
        rows.filter(d => kept.exists(f =>
          f.sequenceNumber <= d.sequenceNumber && d.filters.forall(_.matches(f)))),
        pos.filter(posDelMayTarget(_, keptPaths)),
        eq.filter(d => kept.exists(eqScopeMatches(tablePath, d, _))))
    }
  }

  /** One parsed `snap-<id>.snapshot.json` — every field any reader or
    * commit takes from it. Fields a snapshot lacks (the demo
    * generator's, or one written before the field was tracked) read
    * as: operation `append`, sequence number and timestamp 0, no
    * parent, no schema, and empty renames, deletes and sidecars. */
  private final case class Snapshot(manifestList: Option[String],
      parent: Option[Long], sequenceNumber: Long, operation: String,
      timestampMs: Long, renames: Map[String, String],
      schema: Option[org.apache.spark.sql.types.StructType],
      deletes: PendingDeletes, statsFiles: Seq[String])

  /** Parse snapshot `id` — the one reader of the snapshot document. */
  private def snapshot(tablePath: String, id: Long): Snapshot = {
    val j = readJson(s"$tablePath/metadata/snap-$id.snapshot.json")
    def long(field: String) = (j \ field).toOption.collect { case JInt(n) => n.toLong }
    def str(v: JValue) = v.toOption.collect { case JString(x) => x }
    def arr(v: JValue) = v match {
      case JArray(xs) => xs
      case _ => Nil
    }
    val rows = arr(j \ "row_deletes").map(d => RowDelete(
      (d \ "sequence_number").extractOrElse[Long](0L),
      arr(d \ "filters").map(parseFilter)))
    val pos = arr(j \ "position_deletes").map(d => PosDelete(
      (d \ "file").extract[String],
      (d \ "record_count").extractOrElse[Long](-1L),
      str(d \ "target_lower"), str(d \ "target_upper")))
    val eq = arr(j \ "equality_deletes").map(d => EqDelete(
      (d \ "file").extract[String],
      (d \ "key_columns").extract[Seq[String]],
      (d \ "sequence_number").extractOrElse[Long](0L),
      (d \ "record_count").extractOrElse[Long](-1L),
      (d \ "lower_bounds").extractOrElse[Map[String, String]](Map.empty),
      (d \ "upper_bounds").extractOrElse[Map[String, String]](Map.empty)))
    val schema = j \ "schema" match {
      case JArray(fs) => Some(org.apache.spark.sql.types.StructType(fs.map { f =>
        org.apache.spark.sql.types.StructField(
          (f \ "name").extract[String],
          parseFieldType((f \ "type").extract[String]),
          (f \ "nullable").extractOrElse[Boolean](true))
      }))
      case _ => None
    }
    Snapshot(str(j \ "manifest_list"), long("parent_snapshot_id"),
      long("sequence_number").getOrElse(0L), str(j \ "operation").getOrElse("append"),
      long("timestamp_ms").getOrElse(0L),
      (j \ "column_renames").extractOrElse[Map[String, String]](Map.empty),
      schema, PendingDeletes(rows, pos, eq), arr(j \ "stats_files").collect { case JString(f) => f })
  }

  /** Snapshot `snapshotId`, else the current one (None = empty table). */
  private def snapshotAt(tablePath: String, snapshotId: Option[Long]): Option[Snapshot] =
    snapshotId.orElse(currentSnapshotId(tablePath)).map(snapshot(tablePath, _))

  private def pendingDeletes(tablePath: String, snapshotId: Option[Long]): PendingDeletes =
    snapshotAt(tablePath, snapshotId).fold(PendingDeletes())(_.deletes)

  /** Pending merge-on-read deletes as of a snapshot (empty when none
    * or all have been materialized by a rewrite). */
  def rowDeletes(tablePath: String, snapshotId: Option[Long] = None): Seq[RowDelete] =
    snapshotAt(tablePath, snapshotId).map(_.deletes.rows).getOrElse(Nil)

  /** Pending merge-on-read equality-delete files as of a snapshot. */
  def eqDeletes(tablePath: String, snapshotId: Option[Long] = None): Seq[EqDelete] =
    snapshotAt(tablePath, snapshotId).map(_.deletes.eq).getOrElse(Nil)

  /** Pending merge-on-read position-delete files as of a snapshot. */
  def posDeletes(tablePath: String, snapshotId: Option[Long] = None): Seq[PosDelete] =
    snapshotAt(tablePath, snapshotId).map(_.deletes.pos).getOrElse(Nil)

  // ---- per-snapshot DATA SCHEMA (type-widening evolution) -----------
  //
  // Each data commit records the table's cumulative DATA-column schema
  // (physical names, catalogString types) in its snapshot JSON — the
  // name-keyed analogue of real Iceberg's per-snapshot schema ids.
  // Reads use the SNAPSHOT's schema as the explicit parquet read
  // schema, which is what makes TYPE WIDENING work: Spark 4's
  // vectorized reader decodes an int32 file column as LONG (float as
  // DOUBLE, decimal at higher precision) when the requested schema
  // says so, while `mergeSchema` refuses to merge conflicting file
  // schemas outright. Snapshots written before schema tracking (or by
  // the demo generator) have no schema field and keep the legacy
  // mergeSchema read unchanged.

  /** Allowed widening promotions (real Iceberg's type-promotion set,
    * minus date→timestamp): the integral chain, float→double, and
    * decimal precision increase at the SAME scale. */
  private[graft] def isWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Int = dt match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3
      case LongType => 4; case _ => -1
    }
    (from, to) match {
      case (f, t) if rank(f) > 0 && rank(t) > 0 => rank(t) > rank(f)
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        f.scale == t.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Union-merge a write's data schema into the parent snapshot's:
    * matching columns must be type-equal or widen (either direction —
    * a stale writer appending the NARROW type is fine, the wide type
    * wins); columns only ever accumulate. STRUCT columns merge
    * RECURSIVELY — real Iceberg's nested evolution: fields added
    * inside a struct accumulate (older files null-fill them under the
    * requested read schema) and nested leaf types widen by the same
    * promotion rules as top-level columns. A genuinely incompatible
    * type (string vs int, struct vs scalar) fails the commit loudly
    * instead of writing a file no schema can read back. */
  private def mergeWiden(parent: org.apache.spark.sql.types.StructType,
      add: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val widened = parent.fields.map { f =>
      add.fields.find(_.name == f.name) match {
        case Some(g) => (f.dataType, g.dataType) match {
          case (fs: StructType, gs: StructType) =>
            f.copy(dataType = mergeWiden(fs, gs),
              nullable = f.nullable || g.nullable)
          case (fd, gd) if gd == fd =>
            f.copy(nullable = f.nullable || g.nullable)
          case (fd, gd) if isWidening(gd, fd) =>
            // narrow writer: the wide type stays, but the write's
            // nullability must still merge — a stale writer appending
            // nulls into a non-nullable column otherwise leaves the
            // recorded schema claiming non-null
            f.copy(nullable = f.nullable || g.nullable)
          case (fd, gd) if isWidening(fd, gd) =>
            f.copy(dataType = gd, nullable = f.nullable || g.nullable)
          case (fd, gd) => throw new IllegalArgumentException(
            s"column ${f.name}: ${gd.catalogString} is incompatible with the " +
              s"table's ${fd.catalogString} (only widening promotions evolve types)")
        }
        case None => f.copy(nullable = true) // this write omits the column
      }
    }
    val extra = add.fields.filterNot(g => parent.fieldNames.contains(g.name))
      .map(_.copy(nullable = true)) // older files lack it → null-fill
    StructType(widened ++ extra)
  }

  private def schemaJson(s: org.apache.spark.sql.types.StructType): String =
    s.fields.map(f =>
      s"""{"name": ${jstr(f.name)}, "type": ${jstr(f.dataType.catalogString)}, "nullable": ${f.nullable}}""")
      .mkString("[", ", ", "]")

  /** `DataType.fromDDL("timestamp")` resolves through the session's
    * `spark.sql.timestampType`; the two timestamp types parse pinned
    * instead (same discipline as IcebergTransforms.parseType). */
  private def parseFieldType(ddl: String): org.apache.spark.sql.types.DataType = ddl match {
    case "timestamp" => org.apache.spark.sql.types.TimestampType
    case "timestamp_ntz" => org.apache.spark.sql.types.TimestampNTZType
    case other => org.apache.spark.sql.types.DataType.fromDDL(other)
  }

  /** The merged footer schema of a pre-tracking snapshot's live files —
    * the bootstrap for the first schema-changing commit (`op` names it
    * in the refusal when there are no files). */
  private def liveFooterSchema(spark: SparkSession, tablePath: String,
      parentId: Option[Long], op: String): org.apache.spark.sql.types.StructType = {
    val live = dataFiles(tablePath, parentId)
    require(live.nonEmpty, s"$op on a table with no data files")
    ManifestFileIndex.scan(spark, tablePath,
      live.map(f => ManifestFileIndex.ScanFile(f.filePath, Nil)),
      new org.apache.spark.sql.types.StructType(), None, mergeSchema = true).schema
  }

  /** The DATA-column schema recorded by a snapshot (physical names;
    * None for pre-tracking snapshots → readers fall back to
    * mergeSchema). */
  def tableSchema(tablePath: String,
      snapshotId: Option[Long] = None): Option[org.apache.spark.sql.types.StructType] =
    snapshotAt(tablePath, snapshotId).flatMap(_.schema)

  /** TYPE-WIDENING schema evolution as a NEW SNAPSHOT — metadata-only,
    * zero data I/O (real Iceberg's third evolution form after rename
    * and add-column): promote a column to a wider type (int→long,
    * float→double, decimal precision up). Existing files keep their
    * narrow physical encoding; every subsequent read — current, time
    * travel at-or-after this commit, rewrites — requests the wide type
    * and Spark's vectorized reader widens per file; files appended
    * after the widening write the wide type natively. Narrowing (or
    * any non-promotion) refuses. Time travel BEFORE this commit still
    * reads the narrow type — the schema is per-snapshot, like renames.
    * On a pre-tracking table the current schema is bootstrapped from
    * the live files' merged footers first. Column name arrives
    * logical. Returns the new snapshot id. */
  def widenColumn(spark: SparkSession, tablePath: String, column: String,
      newType: org.apache.spark.sql.types.DataType): Long = withCommitLock(tablePath) {
    val parentId = currentSnapshotId(tablePath)
    require(parentId.nonEmpty, "widen on an empty table (no snapshot)")
    val rmap = renames(tablePath, parentId)
    val phys = physicalName(rmap, column)
    // a partition-spec SOURCE column's type is pinned: bucket hashes
    // int and long differently, so widening would silently re-bucket
    val specNames = partitionSpecs(tablePath).flatten
      .flatMap(f => Seq(f.source, f.name)).toSet
    require(!specNames.contains(phys),
      s"cannot widen $column: partition-spec source/field types are fixed")
    val cur = tableSchema(tablePath, parentId).getOrElse {
      // bootstrap from the live files' merged footers (no conflict can
      // exist yet — this is the first widening)
      liveFooterSchema(spark, tablePath, parentId, "widen")
    }
    require(cur.fieldNames.contains(phys), s"column $column does not exist")
    val from = cur(phys).dataType
    require(isWidening(from, newType),
      s"${from.catalogString} -> ${newType.catalogString} is not a widening " +
        "promotion (int->long, float->double, decimal precision up)")
    val widened = org.apache.spark.sql.types.StructType(cur.fields.map(f =>
      if (f.name == phys) f.copy(dataType = newType) else f))
    commitSnapshot(tablePath, parentId, entries = Nil,
      carriedManifests = parentManifests(tablePath, parentId),
      operation = "replace", schemaSet = widened)
  }

  /** ADD COLUMNS as a metadata-only commit (the other half of the
    * append-driven schema union): the snapshot schema gains the new
    * nullable fields, every existing file null-fills them at read —
    * no data I/O at any table size. Names are checked against the
    * LOGICAL view so a column cannot shadow a renamed one. */
  def addColumns(spark: SparkSession, tablePath: String,
      cols: org.apache.spark.sql.types.StructType): Long = withCommitLock(tablePath) {
    val parentId = currentSnapshotId(tablePath)
    require(parentId.nonEmpty, "add columns on an empty table: declare them " +
      "at CREATE TABLE or in the first insert instead")
    require(cols.nonEmpty, "no columns to add")
    val rmap = renames(tablePath, parentId)
    val cur = tableSchema(tablePath, parentId).getOrElse(
      liveFooterSchema(spark, tablePath, parentId, "add columns"))
    // collision set: the FULL logical shape (data + spec + legacy
    // partition columns) AND the physical names — a new column named
    // after a renamed column's physical name would commit a duplicate
    // physical field and brick every read (renameColumn guards the
    // mirror case), and one named after a legacy partition column
    // would silently alias recovered partition values
    val taken = logicalShape(tablePath, parentId).fieldNames.toSet ++
      partitionSpec(tablePath).map(_.name) ++ cur.fieldNames
    cols.fieldNames.foreach(n =>
      require(!taken.contains(n),
        s"column $n collides with an existing logical, physical, or partition name"))
    commitSnapshot(tablePath, parentId, entries = Nil,
      carriedManifests = parentManifests(tablePath, parentId),
      operation = "replace",
      schemaSet = org.apache.spark.sql.types.StructType(
        cur.fields ++ cols.fields.map(_.copy(nullable = true))))
  }

  /** Apply `f` to the struct at `path` (Nil = the root), rebuilding
    * the parent chain — the shared walk under nested add/widen. */
  private def withNestedStruct(s: org.apache.spark.sql.types.StructType,
      path: List[String])(
      f: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    path match {
      case Nil => f(s)
      case name :: rest =>
        val idx = s.fieldNames.indexOf(name)
        require(idx >= 0, s"struct field $name does not exist")
        s.fields(idx).dataType match {
          case inner: org.apache.spark.sql.types.StructType =>
            org.apache.spark.sql.types.StructType(s.fields.updated(idx,
              s.fields(idx).copy(dataType = withNestedStruct(inner, rest)(f))))
          case other => throw new IllegalArgumentException(
            s"$name is ${other.catalogString}, not a struct")
        }
    }

  /** PURE nested-field transforms (no commit) — shared by the SQL
    * layer's declared-schema rewrite and the snapshot commits below. */
  private[graft] def addFieldToStruct(s: org.apache.spark.sql.types.StructType,
      path: Seq[String],
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType =
    withNestedStruct(s, path.init.toList) { inner =>
      require(!inner.fieldNames.contains(path.last),
        s"column ${path.mkString(".")} already exists")
      org.apache.spark.sql.types.StructType(inner.fields :+
        org.apache.spark.sql.types.StructField(path.last, dt, nullable = true))
    }

  private[graft] def widenFieldInStruct(s: org.apache.spark.sql.types.StructType,
      path: Seq[String], t: org.apache.spark.sql.types.DataType,
      checkWidening: Boolean = true): org.apache.spark.sql.types.StructType =
    withNestedStruct(s, path.init.toList) { inner =>
      val idx = inner.fieldNames.indexOf(path.last)
      require(idx >= 0, s"column ${path.mkString(".")} does not exist")
      val from = inner.fields(idx).dataType
      require(!checkWidening || isWidening(from, t),
        s"${from.catalogString} -> ${t.catalogString} is not a widening " +
          "promotion (int->long, float->double, decimal precision up)")
      org.apache.spark.sql.types.StructType(inner.fields.updated(idx,
        inner.fields(idx).copy(dataType = t)))
    }

  /** ADD FIELDS — the path-aware superset of [[addColumns]], ONE
    * metadata-only commit for any mix of top-level columns and nested
    * struct fields (`s.x INT`): the snapshot schema gains the nullable
    * fields, existing files null-fill them at read — the same
    * per-snapshot nested evolution append-driven schema union already
    * gives writes, now reachable as explicit DDL. Paths arrive
    * logical; only the TOP-level segment can be renamed (renames are
    * top-level), so only it translates. */
  def addFields(spark: SparkSession, tablePath: String,
      adds: Seq[(Seq[String], org.apache.spark.sql.types.DataType)]): Long =
    withCommitLock(tablePath) {
      val parentId = currentSnapshotId(tablePath)
      require(parentId.nonEmpty, "add columns on an empty table: declare them " +
        "at CREATE TABLE or in the first insert instead")
      require(adds.nonEmpty, "no columns to add")
      val rmap = renames(tablePath, parentId)
      val cur = tableSchema(tablePath, parentId).getOrElse(
        liveFooterSchema(spark, tablePath, parentId, "add columns"))
      val taken = scala.collection.mutable.Set.empty[String] ++
        logicalShape(tablePath, parentId).fieldNames ++
        partitionSpec(tablePath).map(_.name) ++ cur.fieldNames
      var next = cur
      adds.foreach { case (p0, dt) =>
        if (p0.length == 1) {
          require(!taken.contains(p0.head),
            s"column ${p0.head} collides with an existing logical, physical, or partition name")
          taken += p0.head
          next = org.apache.spark.sql.types.StructType(next.fields :+
            org.apache.spark.sql.types.StructField(p0.head, dt, nullable = true))
        } else next = addFieldToStruct(next,
          physicalName(rmap, p0.head) +: p0.tail, dt)
      }
      commitSnapshot(tablePath, parentId, entries = Nil,
        carriedManifests = parentManifests(tablePath, parentId),
        operation = "replace", schemaSet = next)
    }

  /** WIDEN FIELDS — the path-aware superset of [[widenColumn]], ONE
    * metadata-only commit for several promotions incl. nested leaves
    * (`s.x` int→long): existing files keep their narrow encoding and
    * widen per file at read, like the top-level form. Partition-spec
    * pinning applies to top-level sources only (spec sources are
    * top-level by construction). */
  def widenFields(spark: SparkSession, tablePath: String,
      widens: Seq[(Seq[String], org.apache.spark.sql.types.DataType)]): Long =
    withCommitLock(tablePath) {
      val parentId = currentSnapshotId(tablePath)
      require(parentId.nonEmpty, "widen on an empty table (no snapshot)")
      require(widens.nonEmpty, "no columns to widen")
      val rmap = renames(tablePath, parentId)
      val specNames = partitionSpecs(tablePath).flatten
        .flatMap(f => Seq(f.source, f.name)).toSet
      val cur = tableSchema(tablePath, parentId).getOrElse(
        liveFooterSchema(spark, tablePath, parentId, "widen"))
      var next = cur
      widens.foreach { case (p0, t) =>
        val p = physicalName(rmap, p0.head) +: p0.tail
        if (p.length == 1)
          require(!specNames.contains(p.head),
            s"cannot widen ${p0.mkString(".")}: partition-spec source/field types are fixed")
        next = widenFieldInStruct(next, p, t)
      }
      commitSnapshot(tablePath, parentId, entries = Nil,
        carriedManifests = parentManifests(tablePath, parentId),
        operation = "replace", schemaSet = next)
    }

  /** Cumulative physical→logical column-name mapping as of a snapshot
    * (empty when the table has never been renamed). Stored whole in
    * each snapshot's JSON, so resolution is O(1) — no chain walk. */
  def renames(tablePath: String, snapshotId: Option[Long] = None): Map[String, String] =
    snapshotAt(tablePath, snapshotId).map(_.renames).getOrElse(Map.empty)

  /** The physical (as-written-in-parquet) name behind a logical name. */
  private def physicalName(rmap: Map[String, String], logical: String): String =
    rmap.collectFirst { case (p, l) if l == logical => p }.getOrElse(logical)

  private def physicalFilter(rmap: Map[String, String],
      f: PartitionFilter): PartitionFilter = f match {
    case Eq(c, v) => Eq(physicalName(rmap, c), v)
    case Gt(c, v) => Gt(physicalName(rmap, c), v)
    case Lt(c, v) => Lt(physicalName(rmap, c), v)
    case GtEq(c, v) => GtEq(physicalName(rmap, c), v)
    case LtEq(c, v) => LtEq(physicalName(rmap, c), v)
    case In(c, vs) => In(physicalName(rmap, c), vs)
  }

  /** Serialize a (possibly carried-forward) data file back to its
    * manifest-entry JSON — bounds and partition tuple preserved, so a
    * copy-on-write commit re-lists untouched files verbatim. */
  private def entryJson(f: DataFile): String = {
    def jmap(m: Map[String, String]) =
      m.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ", ", "}")
    val ndvField =
      if (f.ndv.isEmpty) ""
      else ",\n  \"ndv\": " + f.ndv.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")
    s"""{"data_file": {"file_path": ${jstr(f.filePath)}, "file_format": ${jstr(f.fileFormat)},
       |  "partition": ${jmap(f.partition)}, "record_count": ${f.recordCount},
       |  "sequence_number": ${f.sequenceNumber}, "file_size_in_bytes": ${f.fileSizeBytes},
       |  "lower_bounds": ${jmap(f.lowerBounds)}, "upper_bounds": ${jmap(f.upperBounds)}$ndvField}}""".stripMargin
  }

  /** Hive partition-path unescape: `partitionBy` writes dir segments
    * through Spark's escapePathName (':' → `%3A` etc.), while the
    * manifest — like df values, filters, and the bounds map — carries
    * the LOGICAL value. Parsing a written path without unescaping
    * would key partition recovery and bounds lookups on the escaped
    * form: recovery surfaces `a%3Ab` and the per-partition bounds
    * lookup silently misses (files lose their pruning bounds). */
  private[graft] def unescapeHive(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Whether a recorded bound for a column of type `dt` is SOUND under
    * the manifest's numeric-first comparator ([[cmp]]). For a STRING
    * column whose min/max happen to parse as numbers, the comparator
    * goes numeric while Spark's row predicate orders lexicographically
    * ('9' > '10' as strings, 9 < 10 as numbers) — a range filter could
    * then prune a file holding a matching row. Such bounds are OMITTED
    * (a file without bounds for a column is conservatively kept).
    * Every other type's string-cast ordering agrees with the
    * comparator: numerics compare numerically, dates/timestamps render
    * fixed-width non-numeric strings, booleans order
    * 'false' < 'true' both ways. */
  private[graft] def boundSound(dt: org.apache.spark.sql.types.DataType, v: String): Boolean =
    dt match {
      case org.apache.spark.sql.types.StringType =>
        v.toLongOption.isEmpty && v.toDoubleOption.isEmpty
      case _ => true
    }

  /** Stats sidecars referenced by a snapshot (carried forward by every
    * commit; full rewrites reset the list to their own sidecar). */
  def statsFiles(tablePath: String, snapshotId: Option[Long] = None): Seq[String] =
    snapshotAt(tablePath, snapshotId).map(_.statsFiles).getOrElse(Nil)

  /** Write `df`'s rows as new data files under `data/<runDir>/` (hive
    * layout when `partitionColumns` is set — written in parallel, one
    * file per task, NOT coalesced) and return one manifest-entry JSON
    * per written parquet file, with TRUE per-file column bounds, record
    * counts and sizes recorded by the write tasks themselves
    * ([[StatsParquet.write]]) — no read-back, zero driver-side per-file work.
    * Returns the entry JSONs, the written DATA schema (for the commit's
    * per-snapshot schema union) and the NDV sidecar path. */
  private def writeDataFiles(spark: SparkSession, tablePath: String, df0: DataFrame,
      partitionColumns0: Seq[String], runDir: String,
      trustedPreDerived: Boolean = false): Written = {
    import org.apache.spark.sql.functions.col
    // files are ALWAYS written under physical names, so a table's data
    // files share one schema across renames and mergeSchema reads stay
    // coherent; a df arriving with logical (renamed) columns is
    // translated back (no-op for never-renamed tables or dfs already
    // in physical names — the rename map only matches logical names)
    val rmap = renames(tablePath)
    val dfR = if (rmap.isEmpty) df0 else df0.withColumnsRenamed(rmap.map(_.swap))
    // a hidden-partitioning spec overrides the caller's identity
    // columns: derived values are computed here (the ONE write funnel
    // every op routes through) and land only in the hive path
    val spec = partitionSpec(tablePath)
    val df = if (spec.isEmpty) dfR
      else withSpecColumns(spec, dfR, trustedPreDerived)
    // a spec table ALWAYS derives its own partition columns: internal
    // rewrite paths pass manifest-derived or sorted name lists (which
    // on an evolved table may name old-spec fields), and all of them
    // are simply superseded by the current spec here
    val partitionColumns =
      if (spec.isEmpty) partitionColumns0.map(physicalName(rmap, _))
      else spec.map(_.name)
    // declared write DISTRIBUTION: shuffle rows across write tasks so
    // the partitionBy below cuts a bounded file count (hash: one task
    // per tuple; range: contiguous (tuple, sort-key) ranges); `none`
    // writes the arriving partitioning shuffle-free
    val order = sortOrder(tablePath)
    val dfD = writeDistribution(tablePath) match {
      case "hash" if partitionColumns.nonEmpty =>
        df.repartition(partitionColumns.map(col): _*)
      case "range" if partitionColumns.nonEmpty =>
        df.repartitionByRange((partitionColumns ++ order).map(col): _*)
      case _ => df
    }
    // declared write order: a LOCAL sort per task (partition dirs
    // first so each task's rows land contiguously per file, then the
    // order columns) — tight parquet row-group stats, zero added shuffle
    val dfW =
      if (order.isEmpty) dfD
      else {
        val missing = order.filterNot(df.columns.contains)
        require(missing.isEmpty, s"sort-order columns absent from write: $missing")
        dfD.sortWithinPartitions((partitionColumns ++ order).map(col): _*)
      }
    // declared per-file row bound: Spark's writer rolls files at the
    // bound natively — a fat tuple under hash distribution stays one
    // TASK but cuts several bounded files, each with its own stats
    val (files, sidecars) = StatsParquet.write(dfW, tablePath, runDir, partitionColumns,
      maxRecordsPerFile(tablePath), sidecar = true)
    // the data files carry exactly the non-partition columns — hive
    // layout strips the partition ones
    val dataSchema = org.apache.spark.sql.types.StructType(
      dfW.schema.fields.filterNot(f => partitionColumns.contains(f.name)))
    (files.map(entryJson), dataSchema, sidecars)
  }

  /** Thrown when a commit finds the table advanced past the snapshot
    * it was planned against and the operation cannot rebase (real
    * Iceberg's `CommitFailedException` validation semantics). */
  final class CommitConflictException(msg: String)
    extends IllegalStateException(msg)

  /** Cross-process commit mutex: `metadata/.commit.lock` created
    * atomically (`Files.createFile` is O_EXCL on POSIX — this is a
    * LOCAL-FS lock; an object-store deployment would use a catalog
    * CAS instead, which is exactly what real Iceberg's REST/Hive
    * catalogs provide). A lock older than `staleMs` is presumed
    * abandoned by a crashed writer and broken. */
  /** Per-thread (tablePath → lock token) of commit locks currently
    * held — makes `withCommitLock` reentrant (an op that takes the
    * lock can call another lock-taking op without deadlocking) and
    * lets the commit point FENCE: re-verify ownership right before the
    * pointer flip, so a writer whose lock was broken as stale during a
    * long pause (GC/NFS stall past `staleMs`) aborts instead of
    * overwriting a successor's commit last-writer-wins. */
  private val heldLocks = new ThreadLocal[Map[String, String]] {
    override def initialValue(): Map[String, String] = Map.empty
  }

  /** Throw unless this thread's lock on `tablePath` is still the one
    * on disk. Called immediately before the commit-pointer flip; the
    * unfenced window shrinks from the whole commit body to the
    * microseconds between this read and the ATOMIC_MOVE. */
  private[graft] def assertLockOwned(tablePath: String): Unit = {
    val token = heldLocks.get.getOrElse(tablePath,
      throw new IllegalStateException(s"commit without holding the lock on $tablePath"))
    val owned = try Files.readString(
      Paths.get(s"$tablePath/metadata/.commit.lock")) == token
    catch { case _: java.io.IOException => false }
    if (!owned) throw new CommitConflictException(
      s"commit lock on $tablePath was broken as stale and re-issued while " +
        "this writer was paused; aborting before the pointer flip (fencing)")
  }

  private[graft] def withCommitLock[A](tablePath: String, staleMs: Long = 60000L)(body: => A): A = {
    if (heldLocks.get.contains(tablePath)) return body // re-entrant hold
    val lock = Paths.get(s"$tablePath/metadata/.commit.lock")
    val token = runTag()
    var acquired = false
    while (!acquired) {
      try {
        Files.createFile(lock)
        Files.writeString(lock, token)
        acquired = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          val age = try System.currentTimeMillis() -
            Files.getLastModifiedTime(lock).toMillis
          catch { case _: java.nio.file.NoSuchFileException => -1L }
          if (age > staleMs) {
            // break the stale lock by ATOMIC RENAME, never by a bare
            // delete: with delete, a waiter paused between its age
            // check and its delete could remove a lock a first breaker
            // had just re-acquired, admitting two writers. Exactly one
            // mover wins the rename; losers see an IOException and
            // re-loop. The stolen file's age is RE-CHECKED after the
            // move (mtime survives a rename): if this breaker raced a
            // fresh re-acquisition and stole a LIVE lock, it is moved
            // straight back — and the token-checked release below
            // means even the rare-squared restore failure can only
            // orphan a lock file (broken by age later), never delete
            // another writer's.
            val broken = Paths.get(
              s"$tablePath/metadata/.commit.lock.broken.${runTag()}")
            try {
              Files.move(lock, broken, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              val stolenAge = System.currentTimeMillis() -
                Files.getLastModifiedTime(broken).toMillis
              if (stolenAge > staleMs) Files.deleteIfExists(broken)
              else try Files.move(broken, lock, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              catch { case _: java.io.IOException => Files.deleteIfExists(broken) }
            } catch { case _: java.io.IOException => /* another breaker won */ }
          }
          else Thread.sleep(5)
      }
    }
    heldLocks.set(heldLocks.get + (tablePath -> token))
    try body finally {
      heldLocks.set(heldLocks.get - tablePath)
      // release only a lock this writer still owns: if the lock was
      // stolen and re-issued to someone else, its content is their
      // token and it must survive this release
      val owned = try Files.readString(lock) == token
      catch { case _: java.io.IOException => false }
      if (owned) Files.deleteIfExists(lock)
    }
  }

  /** Write the new manifest + manifest list + snapshot JSON, then flip
    * the current-snapshot pointer. The pointer flip is the COMMIT
    * POINT: everything else used fresh snapshot-suffixed names, so the
    * only file a concurrent reader can race on is the pointer — write
    * it to a temp name and atomically move it into place, so a reader
    * always parses either the old or the new pointer, never a torn
    * half-written JSON (real Iceberg's metadata swap has the same
    * contract).
    *
    * Commits are OPTIMISTICALLY CONCURRENT: the metadata writes run
    * under a commit lock, and the pointer is re-read inside it. If
    * the table advanced past `parentId` (another writer committed
    * since this op planned), an APPEND rebases — its new files
    * conflict with nothing, so the commit is re-parented onto the
    * current snapshot with the current snapshot's manifests carried
    * instead (real Iceberg's fast-append retry). Any copy-on-write
    * commit (delete/overwrite/merge/compact/cluster/rename) planned
    * its kept-file list against the stale snapshot and CANNOT safely
    * rebase — it throws [[CommitConflictException]], and the caller
    * re-runs against the new current snapshot.
    *
    * `carriedManifests` lets append keep the parent's manifests as-is;
    * copy-on-write commits (delete/overwrite) pass none and re-list
    * surviving files in the new manifest instead.
    *
    * `toBranch` redirects the COMMIT TARGET: the parent is validated
    * against (and conflict-rebased onto) the named branch's head
    * instead of the main pointer, and the commit point moves the
    * BRANCH REF — `refs.json` swapped atomically under the same lock
    * and fence — while `v0.metadata.json` stays untouched, so main
    * readers never see branch work until [[fastForwardMain]]. Same
    * optimistic-concurrency rules: a racing branch append rebases, a
    * stale copy-on-write branch commit throws. This is the
    * write-audit-publish pattern: land commits on a branch, validate,
    * then fast-forward main to publish them all at once.
    *
    * What a commit does not set it carries from the (possibly rebased)
    * parent: renames, pending deletes (`deletes` = None), schema and
    * stats sidecars — all taken from ONE parse of the parent's
    * snapshot document. */
  private[graft] def commitSnapshot(tablePath: String, parentId: Option[Long],
      entries: Seq[String], carriedManifests: Seq[String],
      operation: String = "append",
      columnRenames: Map[String, String] = null,
      rebaseOnConflict: Boolean = false,
      deletes: Option[PendingDeletes] = None,
      toBranch: Option[String] = None,
      schemaUnion: org.apache.spark.sql.types.StructType = null,
      schemaSet: org.apache.spark.sql.types.StructType = null,
      knownSummaryJson: Map[String, String] = Map.empty,
      knownTotals: Map[String, (Long, Long)] = Map.empty,
      addStatsFiles: Seq[String] = Nil,
      statsFilesSet: Seq[String] = null): Long = withCommitLock(tablePath) {
    val cur = toBranch match {
      case Some(name) => Some(resolveBranchHead(tablePath, name))
      case None => currentSnapshotId(tablePath)
    }
    val conflicted = cur != parentId
    if (conflicted && !rebaseOnConflict)
      throw new CommitConflictException(
        s"concurrent commit: $operation planned against parent $parentId " +
          s"but the table is now at $cur; re-run against the current snapshot")
    // the snapshot id is derived HERE, under the lock — never by the
    // caller: an id planned outside the lock can collide with a racing
    // commit to ANOTHER head (main vs a branch, or two branches) that
    // lands the same id without moving THIS commit's head, silently
    // overwriting that committed snapshot's metadata (lost update).
    // snapshots() enumerates every committed snapshot file regardless
    // of which ref points at it, so max+1 here is collision-free
    // across all heads. Data-DIRECTORY names are opaque run tags for
    // the same reason — a dir name must never claim a snapshot id.
    val id = (snapshots(tablePath) :+ 0L).max + 1
    val parent = if (conflicted) cur else parentId
    val parentSnap = parent.map(snapshot(tablePath, _))
    val parentRefs = parentSnap.map(parseManifestList(tablePath, _)).getOrElse(Nil)
    val carried = if (conflicted) parentRefs.map(_.path) else carriedManifests
    // every commit must carry the (possibly rebased) parent's rename
    // mapping forward (or the successor snapshot would silently revert
    // renamed columns); callers pass an explicit map only when
    // CHANGING it
    val rmap = Option(columnRenames).orElse(parentSnap.map(_.renames)).getOrElse(Map.empty)
    // like renames, pending merge-on-read deletes are carried forward
    // by every commit unless the op explicitly changes them (a rewrite
    // materializes deletes and passes a pruned/empty list)
    val pending = deletes.orElse(parentSnap.map(_.deletes)).getOrElse(PendingDeletes())
    // the commit's SEQUENCE NUMBER: snapshot ids are assigned
    // max+1 under the commit lock, so the id doubles as the monotone
    // commit ordinal — still written out as an explicit
    // `sequence_number` everywhere (snapshot, data files, row deletes)
    // so the v2 contract lives in the metadata, not in an id
    // convention. Writer-side −1 sentinels ("this commit") resolve
    // here, AFTER any rebase has picked the final id.
    val seq = id
    val dels = pending.rows.map(d =>
      if (d.sequenceNumber < 0) d.copy(sequenceNumber = seq) else d)
    val pdels = pending.pos
    val eqdels = pending.eq.map(d =>
      if (d.sequenceNumber < 0) d.copy(sequenceNumber = seq) else d)
    // per-snapshot DATA schema: a data commit UNION-merges its write
    // schema into the parent's (add-column + stale-narrow-writer
    // reconciliation); `schemaSet` overrides outright (widenColumn);
    // metadata-only commits carry the parent's forward. A parent
    // without tracking stays legacy unless this commit starts it
    // (first snapshot, or an explicit set).
    val parentSchema = parentSnap.flatMap(_.schema)
    val schema: Option[org.apache.spark.sql.types.StructType] =
      (Option(schemaSet), Option(schemaUnion), parentSchema) match {
        case (Some(set), _, _) => Some(set)
        case (None, Some(u), Some(ps)) => Some(mergeWiden(ps, u))
        case (None, Some(u), None) if parent.isEmpty => Some(u)
        case (None, _, ps) => ps
      }
    val seqEntries = entries.map(
      _.replace("\"sequence_number\": -1,", s""""sequence_number": $seq,"""))
    // a commit that adds no entries (a metadata-only commit, or one that
    // re-lists nothing) writes no manifest of its own: an empty one
    // could prune nothing, yet every read would open it
    val writeOwnManifest = seqEntries.nonEmpty
    if (writeOwnManifest)
      Files.writeString(Paths.get(s"$tablePath/metadata/manifest-$id.json"),
        seqEntries.mkString("{\"entries\": [", ",\n", "]}"))
    val allManifests =
      if (writeOwnManifest) carried :+ s"metadata/manifest-$id.json" else carried
    // PARTITION SUMMARIES per manifest (real Iceberg's
    // `manifest_file.partitions`): carried manifests keep the parent
    // list's summaries verbatim (a parent entry WITHOUT one stays
    // legacy — never re-parsed on the append path); a carried path the
    // parent does not list (rewriteManifests' fresh consolidations) and
    // the commit's own new manifest are parsed once — O(their entries),
    // the same cost class as writing them
    val parentRef = parentRefs.map(r => r.path -> r).toMap
    // per list entry: totals (rows, bytes — real Iceberg's
    // added_rows_count family) and the partition summary, from ONE
    // source each in priority order: a caller that computed them
    // WHERE THE MANIFEST WAS WRITTEN (the distributed rewrite) hands
    // exact values in — the commit must not re-parse 10⁶ entries on
    // the driver to re-derive them; a parent entry carries verbatim
    // (a legacy unknown stays unknown — never re-parsed on the append
    // path); anything else (the commit's own manifest, adopted paths)
    // is parsed ONCE feeding both fields, and dropped. Totals with
    // any unknown per-file count poison to -1 — a wrong small total
    // is worse than an honest unknown.
    def listExtras(path: String): String = {
      def derived(fs: Seq[DataFile]): (Long, Long) =
        if (fs.exists(f => f.recordCount < 0 || f.fileSizeBytes < 0)) (-1L, -1L)
        else (fs.map(_.recordCount).sum, fs.map(_.fileSizeBytes).sum)
      val ((rows, bytes), summaryJson) =
        (knownSummaryJson.get(path), parentRef.get(path)) match {
          case (Some(body), parentRef) =>
            // a caller-provided summary without matching totals still
            // falls back to the parent carry (or a parse) — a summary
            // hand-off must not silently degrade the snapshot to
            // unknown-size
            (knownTotals.getOrElse(path,
              parentRef.map(r => (r.totalRecords, r.totalBytes))
                .getOrElse(derived(manifestFiles(tablePath, path)))),
              Some(body))
          case (None, Some(ref)) =>
            ((ref.totalRecords, ref.totalBytes), ref.summaries.map(summaryBody))
          case (None, None) =>
            val fs = manifestFiles(tablePath, path)
            (derived(fs), Some(summaryBody(partitionSummary(fs))))
        }
      val tf = if (rows < 0 || bytes < 0) "" // unknown: absent, parses as -1
        else s""", "total_records": $rows, "total_bytes": $bytes"""
      tf + summaryJson.map(b => s""",\n  "partition_summaries": $b""").getOrElse("")
    }
    Files.writeString(Paths.get(s"$tablePath/metadata/manifest-list-$id.json"),
      allManifests.zipWithIndex.map { case (m, i) =>
        s"""{"manifest_path": "$m", "manifest_length": 1, "partition_spec_id": 0,
           |  "snapshot_id": $id, "sequence_number": ${i + 1}${listExtras(m)}}""".stripMargin
      }.mkString("[", ",\n", "]"))
    val renamesJson =
      if (rmap.isEmpty) ""
      else rmap.map { case (p, l) => s"${jstr(p)}: ${jstr(l)}" }
        .mkString(",\n \"column_renames\": {", ", ", "}")
    val deletesJson =
      if (dels.isEmpty) ""
      else dels.map { d =>
        s"""{"sequence_number": ${d.sequenceNumber},
           |   "filters": [${d.filters.map(filterJson).mkString(", ")}]}""".stripMargin
      }.mkString(",\n \"row_deletes\": [", ",\n  ", "]")
    val posDeletesJson =
      if (pdels.isEmpty) ""
      else pdels.map { d =>
        val bounds = (d.targetLower.map(v => s""", "target_lower": ${jstr(v)}""") ++
          d.targetUpper.map(v => s""", "target_upper": ${jstr(v)}""")).mkString
        s"""{"file": ${jstr(d.filePath)}, "record_count": ${d.recordCount}$bounds}"""
      }.mkString(",\n \"position_deletes\": [", ",\n  ", "]")
    val eqDeletesJson =
      if (eqdels.isEmpty) ""
      else eqdels.map { d =>
        def jm(m: Map[String, String]) =
          m.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ", ", "}")
        s"""{"file": ${jstr(d.filePath)}, "key_columns": [${d.keyCols.map(jstr).mkString(", ")}],
           |   "sequence_number": ${d.sequenceNumber}, "record_count": ${d.recordCount},
           |   "lower_bounds": ${jm(d.lowerBounds)}, "upper_bounds": ${jm(d.upperBounds)}}""".stripMargin
      }.mkString(",\n \"equality_deletes\": [", ",\n  ", "]")
    val schemaJsonField = schema.map(s => s""",\n "schema": ${schemaJson(s)}""").getOrElse("")
    // NDV-sketch sidecars carry forward like renames/deletes; a full
    // rewrite RESETS the list to its own sidecar (statsFilesSet) so it
    // stays bounded by live writes instead of accreting forever
    val stats = Option(statsFilesSet).getOrElse(
      (parentSnap.map(_.statsFiles).getOrElse(Nil) ++ addStatsFiles).distinct)
    val statsJsonField =
      if (stats.isEmpty) ""
      else s""",\n "stats_files": [${stats.map(jstr).mkString(", ")}]"""
    Files.writeString(Paths.get(s"$tablePath/metadata/snap-$id.snapshot.json"),
      s"""{"snapshot_id": $id, "sequence_number": $seq${parent.map(p => s""", "parent_snapshot_id": $p""").getOrElse("")},
         | "operation": "$operation"$renamesJson$deletesJson$posDeletesJson$eqDeletesJson$schemaJsonField$statsJsonField,
         | "timestamp_ms": ${System.currentTimeMillis()},
         | "manifest_list": "metadata/manifest-list-$id.json"}""".stripMargin)
    toBranch match {
      case Some(name) =>
        // the commit point is the branch-ref swap, not the pointer
        val (t, b) = readRefs(tablePath)
        assertLockOwned(tablePath) // fence: never move a ref on a stolen lock
        writeRefs(tablePath, t, b + (name -> id))
      case None =>
        atomicWrite(Paths.get(s"$tablePath/metadata/v0.metadata.json"),
          s"""{"format_version": 2, "uuid": "graft-iceberg", "current_snapshot_id": $id}""",
          // fence: never flip the pointer on a stolen lock
          beforeMove = assertLockOwned(tablePath))
    }
    // a committed write must evict any TVF fit cached over this table:
    // catalog-resolved plans pin the snapshot (the key changes anyway),
    // but plan shapes that don't carry it would otherwise serve a
    // stale fit after the write (VERDICT r15 #6)
    graft.plans.LlmTableFunctions.invalidateFitsForPath(tablePath)
    id
  }

  /** Manifest paths listed by `parentId`'s manifest list (empty for an
    * empty table). */
  private[graft] def parentManifests(tablePath: String, parentId: Option[Long]): Seq[String] =
    parentId.map(id => parseManifestList(tablePath, snapshot(tablePath, id)).map(_.path))
      .getOrElse(Nil)

  /** Initialize an EMPTY table (a current-snapshot pointer with no
    * snapshot) so the first `append` has a commit target. Idempotent;
    * never touches an existing pointer. */
  def createTable(tablePath: String): Unit = {
    Files.createDirectories(Paths.get(s"$tablePath/metadata"))
    val p = Paths.get(s"$tablePath/metadata/v0.metadata.json")
    if (!Files.exists(p))
      Files.writeString(p,
        """{"format_version": 2, "uuid": "graft-iceberg", "current_snapshot_id": null}""")
  }

  /** Initialize an EMPTY table with a HIDDEN-PARTITIONING spec (see
    * [[IcebergTransforms]]): every write derives the spec's partition
    * values, every read prunes from source-column predicates projected
    * through the transforms. The layout can change later with
    * [[evolveSpec]] — files keep the spec version they were written
    * under and reads project through every version. */
  def createTable(tablePath: String,
      spec: Seq[IcebergTransforms.PartitionField]): Unit = {
    createTable(tablePath)
    if (spec.nonEmpty) {
      require(spec.map(_.name).distinct.size == spec.size,
        "partition-spec field names collide")
      val p = Paths.get(s"$tablePath/metadata/partition-spec.json")
      if (!Files.exists(p)) {
        // attaching a spec to a table that already committed data would
        // change write semantics mid-history — evolution is evolveSpec's
        // job, and it requires an existing spec lineage
        require(currentSnapshotId(tablePath).isEmpty,
          s"table $tablePath already has snapshots and no partition spec; " +
            "a spec cannot be attached retroactively")
        atomicWrite(p, IcebergTransforms.specJson(spec))
      } else {
        // idempotent re-create must mean the SAME layout: silently
        // dropping a different requested spec would leave the caller
        // believing a layout is active that never governs writes or
        // filter projection
        val current = partitionSpec(tablePath)
        require(current == spec,
          s"table $tablePath already exists with a different partition spec " +
            s"(current: ${current.map(f => s"${f.transform.tag}(${f.source})").mkString(", ")}; " +
            s"requested: ${spec.map(f => s"${f.transform.tag}(${f.source})").mkString(", ")}); " +
            "use evolveSpec to change the layout")
      }
    }
  }

  /** Every partition-spec VERSION of the table, oldest first (real
    * Iceberg's `partition-specs` list). Empty for tables partitioned by
    * the legacy identity-columns argument, or unpartitioned. */
  def partitionSpecs(tablePath: String): Seq[Seq[IcebergTransforms.PartitionField]] = {
    val p = Paths.get(s"$tablePath/metadata/partition-spec.json")
    if (!Files.exists(p)) Nil
    else IcebergTransforms.parseSpecs(readJson(p.toString))
  }

  /** The CURRENT spec — what writes derive under. */
  def partitionSpec(tablePath: String): Seq[IcebergTransforms.PartitionField] =
    partitionSpecs(tablePath).lastOption.getOrElse(Nil)

  /** PARTITION-SPEC EVOLUTION: append a new spec version (metadata-only,
    * zero data I/O — real Iceberg's `updateSpec`). Existing files keep
    * their old layout and stay individually prunable (reads project
    * source predicates through EVERY version; a projected conjunct on a
    * field a file does not carry is conservatively true for it); new
    * writes derive under the new spec; any rewrite (compact/cluster/
    * merge/delete) migrates the rows it touches to the new layout.
    * Field names embed transform parameters (`id_bucket4` vs
    * `id_bucket8`), so versions can never alias one name to different
    * semantics — the collision check enforces it for belt and braces.
    * Returns the new spec id. */
  def evolveSpec(tablePath: String,
      newSpec: Seq[IcebergTransforms.PartitionField]): Int = withCommitLock(tablePath) {
    require(newSpec.nonEmpty, "evolveSpec needs a non-empty spec")
    require(newSpec.map(_.name).distinct.size == newSpec.size,
      "partition-spec field names collide")
    val prior = partitionSpecs(tablePath)
    require(prior.nonEmpty,
      "evolveSpec on a table without a partition spec; create it with a spec first")
    for (v <- prior; f <- v; g <- newSpec if g.name == f.name)
      require(g == f,
        s"field ${g.name} would change meaning across spec versions")
    val versions = prior :+ newSpec
    atomicWrite(Paths.get(s"$tablePath/metadata/partition-spec.json"),
      IcebergTransforms.specsJson(versions))
    versions.size - 1
  }

  /** Declare the table's WRITE SORT ORDER (real Iceberg's
    * `write.sort-order` / `SORTED BY`): every subsequent write —
    * append, compact, merge, delete-rewrite, overwrite — sorts rows by
    * these columns WITHIN each write task before the files are cut, so
    * parquet row-group min/max stats are tight and a selective scan
    * skips row groups inside files the manifest could not prune. A
    * local sort only: no shuffle is added to any write (the Iceberg
    * contract — `SORTED BY` is not `DISTRIBUTED BY`). Columns are
    * stored under physical names; metadata-only, applies from the next
    * write. */
  def setSortOrder(tablePath: String, cols: Seq[String]): Unit = withCommitLock(tablePath) {
    require(cols.nonEmpty, "sort order needs at least one column")
    val rmap = renames(tablePath)
    val phys = cols.map(physicalName(rmap, _))
    atomicWrite(Paths.get(s"$tablePath/metadata/sort-order.json"),
      phys.map(jstr).mkString("""{"order": [""", ", ", "]}"))
  }

  /** Declare the table's WRITE DISTRIBUTION MODE (real Iceberg's
    * `write.distribution-mode`): how rows are shuffled across write
    * tasks before files are cut on a partitioned write.
    *  - `none` (default): write the arriving partitioning — zero
    *    shuffle, but a write whose tasks all touch every partition
    *    tuple cuts tasks × tuples files;
    *  - `hash`: repartition on the partition columns — ONE task per
    *    tuple, so one file per tuple (the streaming-ingest setting
    *    that keeps small-file debt from accruing);
    *  - `range`: range-repartition on (partition columns, sort
    *    order) — hash's file-count bound plus globally contiguous
    *    sort ranges for tight parquet stats.
    * Metadata-only; applies from the next write. */
  def setWriteDistribution(tablePath: String, mode: String): Unit = withCommitLock(tablePath) {
    require(Set("none", "hash", "range").contains(mode),
      s"unknown write distribution mode: $mode (none|hash|range)")
    atomicWrite(Paths.get(s"$tablePath/metadata/write-distribution.json"),
      s"""{"mode": ${jstr(mode)}}""")
  }

  /** The table's write distribution mode (`none` when unset). */
  def writeDistribution(tablePath: String): String = {
    val p = Paths.get(s"$tablePath/metadata/write-distribution.json")
    if (!Files.exists(p)) "none"
    else (readJson(p.toString) \ "mode").extractOrElse[String]("none")
  }

  /** Declare the table's per-file ROW BOUND (real Iceberg's
    * `write.target-file-size-bytes`, expressed in rows — the exact
    * knob Spark's writer enforces natively via `maxRecordsPerFile`):
    * a fat partition tuple lands on one write task under `hash`
    * distribution, and without a bound that task cuts ONE arbitrarily
    * large file — unsplittable by row-group pruning granularity,
    * unbalanced for later compaction. Metadata-only; every write path
    * (append, compact, merge, overwrite, cluster) honors it from the
    * next write. 0 clears the bound. */
  def setMaxRecordsPerFile(tablePath: String, n: Long): Unit =
    withCommitLock(tablePath) {
      require(n >= 0, "row bound must be >= 0 (0 clears)")
      atomicWrite(Paths.get(s"$tablePath/metadata/write-max-records.json"),
        s"""{"max_records_per_file": $n}""")
    }

  /** The table's per-file row bound (0 = unbounded). */
  def maxRecordsPerFile(tablePath: String): Long = {
    val p = Paths.get(s"$tablePath/metadata/write-max-records.json")
    if (!Files.exists(p)) 0L
    else (readJson(p.toString) \ "max_records_per_file").extractOrElse[Long](0L)
  }

  /** Arbitrary TABLE PROPERTIES (real Iceberg's tblproperties map) in
    * one `metadata/properties.json` document. Keys the engine acts on
    * delegate to their typed stores so a SET actually changes write
    * behavior: `write.max-records-per-file` (row bound),
    * `write.distribution-mode` (none|hash|range), `write.sort-order`
    * (comma-separated columns). Everything else is an opaque
    * annotation round-tripped for SHOW TBLPROPERTIES. */
  private val typedPropSet: Map[String, (String, String) => Unit] = Map(
    "write.max-records-per-file" -> ((p, v) => setMaxRecordsPerFile(p, v.toLong)),
    "write.distribution-mode" -> ((p, v) => setWriteDistribution(p, v)),
    "write.sort-order" -> ((p, v) =>
      setSortOrder(p, v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)))

  private def genericPropsFile(tablePath: String) =
    Paths.get(s"$tablePath/metadata/properties.json")

  private def genericProperties(tablePath: String): Map[String, String] = {
    val p = genericPropsFile(tablePath)
    if (!Files.exists(p)) Map.empty
    else readJson(p.toString) match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  private def writeGenericProperties(tablePath: String,
      props: Map[String, String]): Unit =
    atomicWrite(genericPropsFile(tablePath),
      props.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }
        .mkString("{", ", ", "}"))

  def setProperties(tablePath: String, props: Map[String, String]): Unit = {
    val (typed0, generic) = props.partition(kv => typedPropSet.contains(kv._1))
    // validate EVERY typed value before applying ANY — a SET statement
    // must not half-apply when its third property fails to parse. The
    // validated (parsed/normalized) value is what the apply loop uses,
    // so validation and apply can never disagree on one input
    val typed = typed0.map {
      case ("write.max-records-per-file", v) =>
        val n = v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"write.max-records-per-file must be a non-negative integer, got '$v'"))
        require(n >= 0L,
          s"write.max-records-per-file must be a non-negative integer, got '$v'")
        "write.max-records-per-file" -> n.toString
      case ("write.distribution-mode", v) =>
        require(Set("none", "hash", "range").contains(v),
          s"unknown write distribution mode: $v (none|hash|range)")
        "write.distribution-mode" -> v
      case ("write.sort-order", v) =>
        require(v.split(",").exists(_.trim.nonEmpty),
          "write.sort-order needs at least one column")
        "write.sort-order" -> v
      case kv => kv
    }
    typed.foreach { case (k, v) => typedPropSet(k)(tablePath, v) }
    if (generic.nonEmpty) withCommitLock(tablePath) {
      writeGenericProperties(tablePath, genericProperties(tablePath) ++ generic)
    }
  }

  def unsetProperties(tablePath: String, keys: Seq[String]): Unit = {
    keys.foreach {
      case "write.max-records-per-file" => setMaxRecordsPerFile(tablePath, 0L)
      case "write.distribution-mode" => setWriteDistribution(tablePath, "none")
      case "write.sort-order" => withCommitLock(tablePath) {
        Files.deleteIfExists(Paths.get(s"$tablePath/metadata/sort-order.json")); ()
      }
      case _ => ()
    }
    val generic = keys.filterNot(typedPropSet.contains)
    if (generic.nonEmpty) withCommitLock(tablePath) {
      writeGenericProperties(tablePath, genericProperties(tablePath) -- generic)
    }
  }

  /** Effective property map: annotations + every typed knob currently
    * set away from its default. */
  def tableProperties(tablePath: String): Map[String, String] = {
    val typed = Seq(
      "write.max-records-per-file" ->
        Some(maxRecordsPerFile(tablePath)).filter(_ != 0L).map(_.toString),
      "write.distribution-mode" ->
        Some(writeDistribution(tablePath)).filter(_ != "none"),
      "write.sort-order" ->
        Some(sortOrder(tablePath)).filter(_.nonEmpty).map(_.mkString(",")))
      .collect { case (k, Some(v)) => k -> v }
    genericProperties(tablePath) ++ typed
  }

  /** The table's write sort order (physical names; empty when unset). */
  def sortOrder(tablePath: String): Seq[String] = {
    val p = Paths.get(s"$tablePath/metadata/sort-order.json")
    if (!Files.exists(p)) Nil
    else (readJson(p.toString) \ "order") match {
      case org.json4s.JArray(cs) => cs.collect { case org.json4s.JString(c) => c }
      case _ => Nil
    }
  }

  /** A caller-supplied partition layout on a spec table is a contract
    * mistake — refuse loudly rather than silently superseding the
    * caller's intent (internal rewrite paths derive through the spec
    * funnel). */
  private def requireNoCallerLayout(tablePath: String, cols: Seq[String],
      specOpt: Option[Seq[IcebergTransforms.PartitionField]] = None): Unit =
    require(cols.isEmpty || specOpt.getOrElse(partitionSpec(tablePath)).isEmpty,
      "a spec-partitioned table derives its own partition columns; pass none")

  /** Ensure every transform-derived partition column exists on `df`,
    * derived by the spec's own Catalyst expression (codegen'd per-row
    * work — scales with the write, no shuffle); declared source types
    * are enforced loudly — a drifted type would silently re-hash every
    * bucket.
    *
    * A column already present under a derived field's name is a
    * reserved-name collision on a USER-facing write: it would be
    * consumed verbatim as the partition value, stripped from the data
    * files by `partitionBy`, and hidden from reads — silent loss of
    * that column, plus unsound pruning wherever its values diverge
    * from the transform. `trustedPreDerived = false` (every external
    * write) therefore VERIFIES the pre-existing values row-for-row
    * against the transform's own expression (one null-safe-inequality
    * `limit(1)` probe — only paid when a collision actually exists,
    * e.g. a caller pre-deriving to hash-distribute the write) and
    * rejects on the first divergent row. Internal rewrite paths that
    * derived the column through this very method pass
    * `trustedPreDerived = true` and skip the probe. */
  private def withSpecColumns(spec: Seq[IcebergTransforms.PartitionField],
      df: DataFrame, trustedPreDerived: Boolean = true): DataFrame =
    spec.filter(_.transform != IcebergTransforms.Identity).foldLeft(df) { (d, f) =>
      val actual = d.schema(f.source).dataType
      require(actual == f.sourceType,
        s"partition source ${f.source} is ${actual.catalogString}; " +
          s"the spec declares ${f.sourceType.catalogString}")
      lazy val derived = org.apache.spark.sql.GraftColumnBridge.toCol(
        f.transform.expr(
          org.apache.spark.sql.GraftColumnBridge.toExpr(d(f.source)), f.sourceType))
      if (!d.columns.contains(f.name)) d.withColumn(f.name, derived)
      else {
        if (!trustedPreDerived) {
          val divergent = d.filter(!(d(f.name) <=> derived)).limit(1).count()
          require(divergent == 0L,
            s"column ${f.name} collides with the derived partition field " +
              s"${f.transform.tag}(${f.source}) and its values diverge from the " +
              "transform; drop or rename the column (pre-deriving it is allowed " +
              "only when the values match the transform exactly)")
        }
        d
      }
    }

  /** Append `df` as a NEW SNAPSHOT (exceeds the reference, whose
    * Iceberg surface is read-only): data files land under
    * an opaque `data/append-<runTag>/` run dir (dir names never claim
    * snapshot ids — the id is assigned under the commit lock), a new
    * manifest lists them, the parent's
    * manifests are carried forward, and the snapshot chain grows by
    * one — prior snapshots stay time-travelable. Returns the new
    * snapshot id. */
  def append(spark: SparkSession, tablePath: String, df: DataFrame,
      partitionColumns: Seq[String] = Nil,
      toBranch: Option[String] = None): Long = {
    requireNoCallerLayout(tablePath, partitionColumns)
    val parentId = toBranch match {
      case Some(name) => Some(resolveBranchHead(tablePath, name))
      case None => currentSnapshotId(tablePath)
    }
    val (entries, wSchema, statsAdds) = writeDataFiles(spark, tablePath, df, partitionColumns,
      s"append-${runTag()}")
    // an append's files conflict with nothing: on a concurrent commit
    // it rebases onto the new current snapshot / branch head
    // (fast-append retry)
    commitSnapshot(tablePath, parentId, entries,
      carriedManifests = parentManifests(tablePath, parentId),
      rebaseOnConflict = true, toBranch = toBranch, schemaUnion = wSchema,
      addStatsFiles = statsAdds)
  }

  private def resolveBranchHead(tablePath: String, name: String): Long = {
    val b = branches(tablePath)
    require(b.contains(name), s"branch $name does not exist")
    b(name)
  }

  /** Process-unique data-directory suffix so CONCURRENT writers can
    * never land files in each other's run dir (dir names are opaque —
    * manifests reference explicit file paths). A conflicted
    * copy-on-write writer's already-written dir becomes unreferenced
    * residue that `removeOrphanFiles` reclaims on audit cadence. */
  private def runTag(): String =
    ProcessHandle.current().pid().toString + "-" +
      java.util.UUID.randomUUID().toString.take(8)

  /** Read a snapshot of the table as a DataFrame: metadata-pruned file
    * list → ONE `spark.read.parquet` over all surviving files (plan size
    * O(1) in the partition count — the round-1 union-per-partition shape
    * choked the driver at 10k+ partitions). The scan's file index is
    * the manifest itself ([[ManifestFileIndex]]): each file's partition
    * tuple reaches its rows as constants, so partition predicates stay
    * usable in SQL (and prune files again at the scan) while the data
    * files themselves never need the columns. Spark's pushdown/row-group
    * pruning apply on top. */
  def read(spark: SparkSession, tablePath: String, snapshotId: Option[Long] = None,
      filters: Seq[PartitionFilter] = Nil): DataFrame = {
    val files = planFiles(spark, tablePath, snapshotId, filters)
    if (files.isEmpty) {
      // every file pruned (or none yet): zero rows, still with the
      // snapshot's columns, so callers can select/filter on them — a
      // table that never recorded a schema has no shape to give
      if (tableSchema(tablePath, snapshotId).isEmpty) spark.emptyDataFrame
      else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        logicalShape(tablePath, snapshotId))
    } else {
      // pending merge-on-read deletes anti-apply first (physical
      // names), then the SNAPSHOT's logical column names surface: a
      // renamed column reads under its name as of that snapshot (time
      // travel before the rename sees the old name), while the parquet
      // files keep their original physical schema — real Iceberg's
      // field-id indirection, done as a name map in this JSON layout
      val rmap = renames(tablePath, snapshotId)
      val base = readWithDeletes(spark, tablePath, files, snapshotId)
      if (rmap.isEmpty) base else base.withColumnsRenamed(rmap)
    }
  }

  /** Read with a Column PREDICATE driving metadata pruning — the
    * SQL-user bridge to [[planFiles]]: a plain
    * `read(...).filter(cond)` prunes only at parquet row-group level
    * (the file list was already planned unfiltered), while the
    * [[PartitionFilter]] API asks callers to hand-build conjuncts.
    * Here the condition's expression tree is walked and every
    * SUPPORTED top-level conjunct (=, <, >, <=, >=, IN over one
    * column and literals — the same set the reference's pruner
    * handles) becomes a metadata filter for partition/manifest/file-
    * bounds skipping; everything else (ORs, functions, UDF-ish
    * conjuncts) is conservatively ignored for pruning. The FULL
    * condition is then applied row-level, so the translation can only
    * skip work, never change results. Literals render through a
    * Catalyst string cast — the identical encoding manifest bounds
    * were written with, so a date/timestamp/decimal literal compares
    * exactly. */
  def readWhere(spark: SparkSession, tablePath: String,
      condition: org.apache.spark.sql.Column,
      snapshotId: Option[Long] = None): DataFrame = {
    val base = read(spark, tablePath, snapshotId,
      resolvedMetaFilters(spark, tablePath, condition, snapshotId))
    if (base.columns.isEmpty) base else base.filter(condition)
  }

  /** The snapshot's LOGICAL read shape: data schema (renames applied)
    * + identity spec columns + legacy partition columns — what a SQL
    * user sees, whether or not any data file carries the columns. */
  private[graft] def logicalShape(tablePath: String,
      snapshotId: Option[Long],
      preListedFiles: Option[Seq[DataFile]] = None): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StringType, StructType}
    val rmap = renames(tablePath, snapshotId)
    val dataCols = tableSchema(tablePath, snapshotId)
      .getOrElse(new StructType()).fields
      .map(f => f.copy(name = rmap.getOrElse(f.name, f.name)))
    val identCols = partitionSpec(tablePath)
      .filter(_.transform == IcebergTransforms.Identity).map(_.name)
      .filterNot(n => dataCols.exists(_.name == n))
      .map(n => org.apache.spark.sql.types.StructField(n, StringType))
    // legacy partition columns exist only on adopted hive-layout
    // tables, which are spec-LESS: a spec-managed table never needs
    // the manifest walk, keeping the shape question O(metadata-doc)
    // for the modern path (SQL analysis and write alignment both ask)
    val legacyPartCols = (if (partitionSpec(tablePath).nonEmpty) Nil
        else preListedFiles.getOrElse(dataFiles(tablePath, snapshotId)))
      .flatMap(_.partition.keys).distinct
      .map(p => rmap.getOrElse(p, p))
      .filterNot(n => dataCols.exists(_.name == n) || identCols.exists(_.name == n))
      .map(n => org.apache.spark.sql.types.StructField(n, StringType))
    StructType(dataCols ++ identCols ++ legacyPartCols)
  }

  /** Resolve a Column predicate against the snapshot's logical shape
    * and translate its supported conjuncts to metadata filters. The
    * condition is RESOLVED against an empty probe frame: Spark 4
    * Columns wrap lazy ColumnNodes, and resolution is also what types
    * the literals, so date/decimal comparisons render through the
    * exact bounds encoding. Pre-tracking tables skip translation (no
    * schema to resolve against) — pruning is best-effort, the
    * caller's row-level filter is the semantics. */
  private[graft] def resolvedMetaFilters(spark: SparkSession, tablePath: String,
      condition: org.apache.spark.sql.Column,
      snapshotId: Option[Long],
      preListedFiles: Option[Seq[DataFile]] = None): Seq[PartitionFilter] =
    resolvedConditionExpr(spark, tablePath, condition, snapshotId, preListedFiles)
      .map(filtersFromExpression).getOrElse(Nil)

  /** The condition RESOLVED (attributes bound, literals typed) against
    * the snapshot's logical shape; None when the table predates schema
    * tracking or the condition references columns the shape lacks. */
  private[graft] def resolvedConditionExpr(spark: SparkSession, tablePath: String,
      condition: org.apache.spark.sql.Column, snapshotId: Option[Long],
      preListedFiles: Option[Seq[DataFile]] = None)
      : Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val shape = logicalShape(tablePath, snapshotId, preListedFiles)
    if (shape.isEmpty) None
    else try {
      val probe = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), shape)
        .filter(condition)
      probe.queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    } catch {
      // a column the metadata-derived probe shape lacks (legacy
      // bounds-less tables): see above — best-effort only
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }

  private[graft] def filtersFromExpression(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[PartitionFilter] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    // catalyst's In is renamed away so the unqualified In below is
    // THIS object's PartitionFilter
    import org.apache.spark.sql.catalyst.expressions.{In => CatalystIn, _}
    def nameOf(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute => Some(u.name)
      case _ => None
    }
    // the string form BOUNDS carry: a typed literal cast to string by
    // Catalyst itself (dates render "2024-01-01", not day ordinals)
    // rendered under the SESSION timezone — the same clock bounds are
    // written with (the write tasks' string cast) and rowPredicate
    // re-parses with, so timestamp literals compare consistently in
    // any session (this repo pins UTC; external sessions may not)
    def litOf(x: Expression): Option[String] = x match {
      case l: Literal if l.value != null =>
        Option(Cast(l, org.apache.spark.sql.types.StringType,
          Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
          .eval(null)).map(_.toString)
      case _ => None
    }
    def cmpFilter(l: Expression, r: Expression,
        straight: (String, String) => PartitionFilter,
        flipped: (String, String) => PartitionFilter): Seq[PartitionFilter] =
      (nameOf(l), litOf(r), nameOf(r), litOf(l)) match {
        case (Some(c), Some(v), _, _) => Seq(straight(c, v))
        case (_, _, Some(c), Some(v)) => Seq(flipped(c, v))
        case _ => Nil
      }
    e match {
      case And(l, r) => filtersFromExpression(l) ++ filtersFromExpression(r)
      case EqualTo(l, r) => cmpFilter(l, r, Eq.apply, Eq.apply)
      case GreaterThan(l, r) => cmpFilter(l, r, Gt.apply, Lt.apply)
      case LessThan(l, r) => cmpFilter(l, r, Lt.apply, Gt.apply)
      case GreaterThanOrEqual(l, r) => cmpFilter(l, r, GtEq.apply, LtEq.apply)
      case LessThanOrEqual(l, r) => cmpFilter(l, r, LtEq.apply, GtEq.apply)
      case CatalystIn(v, list) if nameOf(v).nonEmpty &&
          list.nonEmpty && list.forall(x => litOf(x).nonEmpty) =>
        Seq(In(nameOf(v).get, list.flatMap(litOf)))
      case _ => Nil // unsupported conjunct: row-level only, never prunes
    }
  }

  /** STRICT variant of [[filtersFromExpression]]: Some(filters) only
    * when the WHOLE expression is exactly represented — None the
    * moment any node falls outside the supported conjunct set. The
    * lossy form is sound for PRUNING (skipping less is safe); a
    * row-mutating caller (SQL `DELETE FROM`) must instead refuse the
    * translation entirely when it is partial, or it would mutate MORE
    * rows than the predicate names. */
  private[graft] def filtersFromExpressionExact(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Seq[PartitionFilter]] =
    e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        for { a <- filtersFromExpressionExact(l); b <- filtersFromExpressionExact(r) }
          yield a ++ b
      case _ => Some(filtersFromExpression(e)).filter(_.nonEmpty)
    }

  /** Read a snapshot WITH Iceberg's metadata columns: every surviving
    * row carries `_file` (table-relative data-file path) and `_pos`
    * (0-based ordinal within that file, from the scan's stable
    * `_metadata.row_index`) — real Iceberg's `_file`/`_pos` virtual
    * columns. This is the producer side of [[deletePositions]]: locate
    * offending rows by predicate, collect their (_file, _pos), issue a
    * position delete with zero data I/O — the PII-erasure workflow.
    * Pending merge-on-read deletes anti-apply exactly as in [[read]],
    * so the ordinals reported are live-row ordinals of the ORIGINAL
    * files (a row's `_pos` stays valid as a delete target until a
    * rewrite replaces its file). */
  def readWithMetadataColumns(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None,
      filters: Seq[PartitionFilter] = Nil): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val files = planFiles(spark, tablePath, snapshotId, filters)
    if (files.isEmpty)
      // zero files (empty table or fully-pruned filter) still returns
      // the documented shape: the snapshot's logical columns (identity
      // and legacy partition columns as the strings a non-empty read
      // recovers) plus `_pos`/`_file`, so selecting them yields zero
      // rows instead of AnalysisException
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        logicalShape(tablePath, snapshotId).add("_pos", LongType).add("_file", StringType))
    else {
      val rmap = renames(tablePath, snapshotId)
      val base = readWithDeletes(spark, tablePath, files, snapshotId, metadataColumns = true)
      if (rmap.isEmpty) base else base.withColumnsRenamed(rmap)
    }
  }

  /** MANIFEST REWRITE — real Iceberg's `rewrite_manifests` maintenance
    * op, the metadata twin of small-file compaction: the live file set
    * is re-listed into `targetManifests` fresh manifests (entries
    * verbatim — partition tuples, bounds, record counts and SEQUENCE
    * NUMBERS all carried, so merge-on-read delete scoping is
    * unchanged) and committed as a `replace` snapshot with zero data
    * I/O. A streaming ingest leaves one manifest per commit; the
    * planning crossover (SCALE.md) prices what that costs — at 10⁴
    * stale manifests, driver planning pays ~1 ms each — and this op
    * retires it. Incremental reads skip the rewrite (no logical
    * change), pending deletes carry forward, prior snapshots keep
    * their old manifest lists. Returns the new snapshot id (current
    * when the table is empty or already at the target). */
  def rewriteManifests(tablePath: String, targetManifests: Int = 1): Long = {
    require(targetManifests >= 1, "need at least one target manifest")
    val parentId = currentSnapshotId(tablePath)
    if (parentManifests(tablePath, parentId).size <= targetManifests)
      return parentId.getOrElse(0L)
    // CLUSTER entries by partition tuple before grouping: each target
    // manifest then covers a narrow partition range, which is what
    // makes the manifest-list partition summaries selective — a
    // filtered plan skips whole manifests without parsing them
    val files = dataFiles(tablePath).sortBy(f =>
      f.partition.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"))
    val groups =
      if (files.isEmpty) Seq(Seq.empty[DataFile])
      else {
        val per = math.max(1, math.ceil(files.size.toDouble / targetManifests).toInt)
        files.grouped(per).toSeq
      }
    // all but the last group are pre-written under fresh opaque names
    // and passed as carried manifests; the last group rides the
    // commit's own manifest. Entries re-list verbatim (entryJson
    // preserves assigned sequence numbers — only -1 sentinels are
    // rewritten at commit, and none exist here).
    val carried = groups.dropRight(1).zipWithIndex.map { case (g, i) =>
      val rel = s"metadata/manifest-rw-${runTag()}-$i.json"
      atomicWrite(Paths.get(s"$tablePath/$rel"),
        g.map(entryJson).mkString("{\"entries\": [", ",\n", "]}"))
      rel
    }
    commitSnapshot(tablePath, parentId, entries = groups.last.map(entryJson),
      carriedManifests = carried, operation = "replace")
  }

  /** DISTRIBUTED manifest rewrite — the maintenance twin of
    * [[planFilesDistributed]], for when the metadata itself is big:
    * the driver-side [[rewriteManifests]] re-lists every entry in one
    * thread (parse 10⁶ entry JSONs, sort, re-serialize — measured
    * 37–47 s at 10⁶ entries, SCALE.md), while here the per-entry work
    * runs as ONE Spark job: manifests parse in parallel, entries
    * range-shuffle on their partition-tuple key (the same clustering
    * key the driver path sorts by, so target manifests cover narrow
    * partition ranges and the list-level summaries stay selective),
    * and each output task writes its manifest — WITH its partition
    * summary, computed where the entries are — directly to shared
    * storage. The driver touches only O(target) (path, summary)
    * pairs; the commit re-parses nothing. Below the planning
    * threshold the driver path is simply faster (no job round-trip)
    * and runs instead; both paths preserve entry sequence numbers
    * verbatim. */
  def rewriteManifests(spark: SparkSession, tablePath: String,
      targetManifests: Int): Long = {
    require(targetManifests >= 1, "need at least one target manifest")
    val parentId = currentSnapshotId(tablePath)
    val current = parentManifests(tablePath, parentId)
    if (current.size <= targetManifests) return parentId.getOrElse(0L)
    if (current.size < distributedThreshold(spark))
      return rewriteManifests(tablePath, targetManifests)
    val tp = tablePath
    val tag = runTag()
    import org.apache.spark.sql.functions.col
    implicit val pairEnc: org.apache.spark.sql.Encoder[(String, DataFile)] =
      org.apache.spark.sql.Encoders.product[(String, DataFile)]
    val keyed = spark.createDataset(current)(org.apache.spark.sql.Encoders.STRING)
      .repartition(math.min(current.size,
        math.max(1, spark.sparkContext.defaultParallelism)))
      .flatMap(m => manifestFiles(tp, m).map(f =>
        (f.partition.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
          .mkString("/") + "\u0000" + f.filePath, f)))
    val written = keyed
      .repartitionByRange(targetManifests, col("_1"))
      .sortWithinPartitions(col("_1"))
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val files = it.map(_._2).toSeq
          val rel = s"metadata/manifest-rw-$tag-$pid.json"
          atomicWrite(Paths.get(s"$tp/$rel"),
            files.map(entryJson).mkString("{\"entries\": [", ",\n", "]}"))
          // totals computed where the entries are, like the summary —
          // the commit must not re-parse this manifest to size it
          val (tr, tb) =
            if (files.exists(f => f.recordCount < 0 || f.fileSizeBytes < 0))
              (-1L, -1L)
            else (files.map(_.recordCount).sum, files.map(_.fileSizeBytes).sum)
          Iterator.single((rel, summaryBody(partitionSummary(files)), tr, tb))
        }
      }(org.apache.spark.sql.Encoders.product[(String, String, Long, Long)])
      .collect().sortBy { case (rel, _, _, _) =>
        rel.substring(rel.lastIndexOf('-') + 1).stripSuffix(".json").toInt
      }
    commitSnapshot(tablePath, parentId, entries = Nil,
      carriedManifests = written.map(_._1).toSeq, operation = "replace",
      knownSummaryJson = written.map(w => w._1 -> w._2).toMap,
      knownTotals = written.map(w => w._1 -> (w._3, w._4)).toMap)
  }

  /** The operation that produced a snapshot (`append` / `delete` /
    * `overwrite` / `replace`). Tables written before the field existed
    * were append-built, so a missing field reads as `append`. */
  def snapshotOperation(tablePath: String, snapshotId: Long): String =
    snapshot(tablePath, snapshotId).operation

  /** Parent snapshot id (None for the chain root). */
  def parentSnapshotId(tablePath: String, snapshotId: Long): Option[Long] =
    snapshot(tablePath, snapshotId).parent

  /** Commit sequence number of a snapshot (0 for pre-sequence
    * metadata). */
  def snapshotSequenceNumber(tablePath: String, snapshotId: Long): Long =
    snapshot(tablePath, snapshotId).sequenceNumber

  /** Table HISTORY as a DataFrame — the observability surface real
    * Iceberg exposes as its `snapshots`/`history` metadata tables and
    * Delta as DESCRIBE HISTORY: one row per retained snapshot with
    * (snapshot_id, sequence_number, parent_id, operation,
    * timestamp_ms, n_files, n_pending_deletes). Metadata-only — file
    * counts come from manifests, never a data scan. Each snapshot JSON
    * is parsed ONCE (all its fields and pending-delete counts come
    * from that one parse) and manifest entry counts are memoised
    * across snapshots — consecutive snapshots share most of their
    * manifests (appends carry the parent's forward), so the work is
    * O(distinct manifests + snapshots), not O(snapshots × files). */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    val manifestCounts = scala.collection.mutable.Map.empty[String, Long]
    def filesIn(m: String): Long =
      manifestCounts.getOrElseUpdate(m, manifestFiles(tablePath, m).size.toLong)
    snapshots(tablePath).foreach { id =>
      val snap = snapshot(tablePath, id)
      val d = snap.deletes
      rows.add(org.apache.spark.sql.Row(
        id, snap.sequenceNumber,
        snap.parent.map(java.lang.Long.valueOf).orNull,
        snap.operation, snap.timestampMs,
        parseManifestList(tablePath, snap).map(r => filesIn(r.path)).sum,
        (d.rows.size + d.pos.size + d.eq.size).toLong))
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(rows, StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("sequence_number", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("operation", StringType, nullable = false),
      StructField("timestamp_ms", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_pending_deletes", LongType, nullable = false))))
  }

  /** `refs` METADATA TABLE — real Iceberg's `db.table.refs`: one row
    * per named ref (tags + branches) plus the implicit `main` branch,
    * with the snapshot it pins. The operator view of "what is
    * reproducible right now": every row here is GC-immune until the
    * ref is dropped. */
  def refsMetadata(spark: SparkSession, tablePath: String): DataFrame = {
    val (tags, branches) = readRefs(tablePath)
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    currentSnapshotId(tablePath).foreach(id =>
      rows.add(org.apache.spark.sql.Row("main", "branch", id)))
    branches.toSeq.sortBy(_._1).foreach { case (n, id) =>
      rows.add(org.apache.spark.sql.Row(n, "branch", id)) }
    tags.toSeq.sortBy(_._1).foreach { case (n, id) =>
      rows.add(org.apache.spark.sql.Row(n, "tag", id)) }
    import org.apache.spark.sql.types._
    spark.createDataFrame(rows, StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false))))
  }

  /** `files` METADATA TABLE — real Iceberg's `db.table.files` /
    * Delta's `DESCRIBE DETAIL` file inventory: one row per live data
    * file of a snapshot with its canonical partition tuple
    * (`k=v/k=v`, key-sorted), manifest record count and data-sequence
    * number. Metadata-only (manifests, never a data scan), bounded by
    * the snapshot's file count; at planning scale the same rows are
    * what [[planFilesDistributed]] fans out over executors. */
  def filesMetadata(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("file_format", StringType, nullable = false),
      StructField("part", StringType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("sequence_number", LongType, nullable = false),
      StructField("file_size_bytes", LongType, nullable = false)))
    def rowOf(f: DataFile) = (
      f.filePath, f.fileFormat,
      f.partition.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/"),
      f.recordCount, f.sequenceNumber, f.fileSizeBytes)
    val snap = snapshotAt(tablePath, snapshotId)
    val refs = snap.map(parseManifestList(tablePath, _)).getOrElse(Nil)
    val manifests = refs.map(_.path)
    if (manifests.size >= distributedThreshold(spark)) {
      // big metadata: parse manifests as ONE Spark job (the same
      // fan-out planFilesDistributed uses) — SHOW PARTITIONS / the
      // files and partitions tables on a 10⁵-manifest table must not
      // re-list every entry in a driver thread
      val tp = tablePath
      spark.createDataset(manifests)(org.apache.spark.sql.Encoders.STRING)
        .repartition(math.min(manifests.size,
          math.max(1, spark.sparkContext.defaultParallelism)))
        .flatMap(m => manifestFiles(tp, m).map(rowOf))(
          org.apache.spark.sql.Encoders.product[(String, String, String, Long, Long, Long)])
        .toDF(schema.fieldNames.toSeq: _*)
    } else {
      val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
      snap.foreach(sn => dataFilesFrom(tablePath, sn, refs, Nil).foreach(f =>
        rows.add(org.apache.spark.sql.Row.fromTuple(rowOf(f)))))
      spark.createDataFrame(rows, schema)
    }
  }

  /** `partitions` METADATA TABLE — per-partition file and record
    * totals (real Iceberg's `db.table.partitions`): the first thing a
    * 100 TB operator looks at for skew/small-file health before
    * scheduling a compaction. Derived from [[filesMetadata]] with a
    * Spark aggregation — stays a plan, composable with SQL. */
  def partitionsMetadata(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    filesMetadata(spark, tablePath, snapshotId)
      .groupBy("part")
      .agg(count(lit(1)).as("file_count"), sum("record_count").as("record_count"),
        sum("file_size_bytes").as("size_bytes"))
  }

  /** `delete_files` METADATA TABLE — real Iceberg's
    * `db.table.delete_files`, widened to every pending merge-on-read
    * delete form: one row per pending delete as of a snapshot, with
    * its kind (`equality_predicate` — a RowDelete's O(filters)
    * predicate; `position` — ordinals of one named file;
    * `equality_file` — a parquet key file), the sequence number that
    * scopes it, its record count (predicate rows read −1: a predicate
    * has no key cardinality), and a deterministic human-readable
    * detail (filter columns / target file / key columns). The
    * operator view of read-side delete debt: when this table grows,
    * schedule a compaction. Metadata-only, bounded by the pending
    * delete count. */
  def deleteFilesMetadata(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    rowDeletes(tablePath, snapshotId).foreach { d =>
      rows.add(org.apache.spark.sql.Row("equality_predicate", d.sequenceNumber,
        -1L, d.filters.map(_.column).mkString(",")))
    }
    posDeletes(tablePath, snapshotId).foreach { d =>
      // position deletes are path-scoped, not sequence-scoped (the
      // target file is NAMED): sequence reads 0. Detail reports the
      // TARGET path range (the delete file's own path carries an
      // opaque run tag and would be nondeterministic)
      val detail = (d.targetLower, d.targetUpper) match {
        case (Some(a), Some(b)) if a == b => a
        case (a, b) => s"${a.getOrElse("")}..${b.getOrElse("")}"
      }
      rows.add(org.apache.spark.sql.Row("position", 0L, d.recordCount, detail))
    }
    eqDeletes(tablePath, snapshotId).foreach { d =>
      rows.add(org.apache.spark.sql.Row("equality_file", d.sequenceNumber,
        d.recordCount, s"keys:${d.keyCols.mkString(",")}"))
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(rows, StructType(Seq(
      StructField("content", StringType, nullable = false),
      StructField("sequence_number", LongType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("detail", StringType, nullable = false))))
  }

  /** `manifests` METADATA TABLE — real Iceberg's `db.table.manifests`:
    * one row per manifest in the snapshot's manifest list with its
    * entry count, row count, and the RECORDED partition summary (the
    * planner's manifest-skip input, rendered `col:[lo,hi]`; null for
    * pre-summary legacy lists). The summary column is what an operator
    * reads to judge whether `rewriteManifests` clustering would make
    * filtered plans cheaper — wide overlapping ranges mean manifests
    * stopped being selective. */
  def manifestsMetadata(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    snapshotAt(tablePath, snapshotId).foreach { snap =>
      parseManifestList(tablePath, snap).foreach { m =>
        val fs = manifestFiles(tablePath, m.path)
        val summary = m.summaries.map(s => s.toSeq.sortBy(_._1)
          .map { case (c, cs) => s"$c:[${cs.lower},${cs.upper}]" }.mkString(";"))
        rows.add(org.apache.spark.sql.Row(m.path, fs.size.toLong,
          fs.map(_.recordCount).sum, summary.orNull))
      }
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("n_entries", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("partition_summary", StringType, nullable = true))))
  }

  /** `column_stats` METADATA TABLE — the read side of the Puffin-
    * analogue NDV sidecars ([[StatsParquet.write]]): one row per data
    * column with the table-level distinct-count estimate, computed by
    * UNIONING exactly the LIVE files' HLL sketches (`hll_union_agg` →
    * `hll_sketch_estimate`) — sketch union is the only correct merge
    * (per-file counts overlap), and filtering to live paths is what
    * keeps compacted/deleted files out of the estimate while their
    * sidecars await expiry. `file_count` says how many live files
    * contributed (a file written before sketches existed is simply
    * absent — the estimate covers `file_count` of the live files).
    * A file's rows can appear twice (a write task re-run after its
    * first attempt already closed its sidecar part file), so the count
    * is of distinct files; the union is unchanged by a repeated sketch.
    * Driver cost: O(stats paths); the sketch scan,
    * semi-join and union run distributed, and the scan takes the
    * sidecar's fixed schema instead of inferring it with a job. Column
    * names surface logical. */
  def columnStatsMetadata(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, countDistinct, hll_sketch_estimate, hll_union_agg, lit}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val shape = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("ndv", LongType, nullable = true),
      StructField("file_count", LongType, nullable = false)))
    val stats = statsFiles(tablePath, snapshotId)
    if (stats.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), shape)
    val live = dataFiles(tablePath, snapshotId).map(_.filePath)
    val liveRows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    live.foreach(p => liveRows.add(org.apache.spark.sql.Row(p)))
    val liveDf = spark.createDataFrame(liveRows,
      StructType(Seq(StructField("file_path", StringType, nullable = false))))
    val rmap = renames(tablePath, snapshotId)
    val sdf = spark.read.schema(StatsParquet.sidecarSchema)
      .parquet(stats.map(s => s"$tablePath/$s"): _*)
      .join(broadcast(liveDf), Seq("file_path"), "left_semi")
    val agged = sdf.groupBy(col("column"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true))).as("ndv"),
        countDistinct(col("file_path")).as("file_count"))
    if (rmap.isEmpty) agged
    else {
      // surface LOGICAL column names (sketches are keyed physical)
      val mapped = rmap.foldLeft(col("column")) { case (c, (phys, logical)) =>
        org.apache.spark.sql.functions.when(c === lit(phys), lit(logical)).otherwise(c)
      }
      agged.withColumn("column", mapped)
    }
  }

  /** ROLLBACK — real Iceberg's `rollback_to_snapshot`: move the
    * current-table pointer back to an ANCESTOR snapshot, metadata-only
    * (one pointer swap; nothing is deleted — the abandoned successor
    * commits stay time-travelable until snapshot expiry reclaims
    * them). The ancestry requirement is real Iceberg's: rolling "back"
    * to an unrelated snapshot would silently splice histories.
    * Subsequent commits chain off the restored head; snapshot ids stay
    * collision-free because they are assigned max+1 over EVERY
    * committed snapshot file, abandoned ones included. */
  def rollbackTo(tablePath: String, snapshotId: Long): Long =
    withCommitLock(tablePath) {
      val cur = currentSnapshotId(tablePath).getOrElse(
        throw new IllegalArgumentException("empty table has no snapshots"))
      val ancestors = Iterator.iterate(Option(cur))(
          _.flatMap(parentSnapshotId(tablePath, _)))
        .takeWhile(_.nonEmpty).map(_.get).toSeq
      require(ancestors.contains(snapshotId),
        s"snapshot $snapshotId is not an ancestor of the current $cur")
      atomicWrite(Paths.get(s"$tablePath/metadata/v0.metadata.json"),
        s"""{"format_version": 2, "uuid": "graft-iceberg", "current_snapshot_id": $snapshotId}""",
        beforeMove = assertLockOwned(tablePath))
      snapshotId
    }

  /** CHERRY-PICK — real Iceberg's `cherrypick_snapshot`: re-apply an
    * APPEND snapshot's added files onto the CURRENT head as a fresh
    * commit — the write-audit-publish move for picking ONE audited
    * batch off a branch without fast-forwarding the whole branch.
    * Metadata-only: the picked snapshot's data files are referenced,
    * never copied, and they re-enter under the NEW commit's sequence
    * number (the rows are new as of now, so merge-on-read deletes
    * pending on main never touch them — the same semantics a fresh
    * append would get). Only append snapshots cherry-pick (real
    * Iceberg's restriction: a delete/overwrite depends on the state
    * it was computed against). */
  def cherryPick(tablePath: String, snapshotId: Long): Long = {
    val op = snapshotOperation(tablePath, snapshotId)
    require(op == "append", s"only append snapshots cherry-pick (got '$op')")
    val parentId = currentSnapshotId(tablePath)
    val picked = addedFiles(tablePath, snapshotId)
    require(picked.nonEmpty, s"snapshot $snapshotId added no files")
    val livePaths = dataFiles(tablePath, parentId).map(_.filePath).toSet
    val dup = picked.map(_.filePath).filter(livePaths)
    require(dup.isEmpty,
      s"cherry-pick would double-commit files already live: ${dup.take(3).mkString(", ")}")
    commitSnapshot(tablePath, parentId,
      entries = picked.map(f => entryJson(f.copy(sequenceNumber = -1L))),
      carriedManifests = parentManifests(tablePath, parentId))
  }

  /** Commit wall-clock of a snapshot (ms epoch; 0 for snapshots
    * written before timestamps existed — they read as "older than any
    * requested time", the conservative direction). */
  def snapshotTimestampMs(tablePath: String, snapshotId: Long): Long =
    snapshot(tablePath, snapshotId).timestampMs

  /** TIMESTAMP AS OF resolution: the latest ancestor of the current
    * snapshot committed at or before `tsMillis` (None when the table
    * has no snapshot that old) — pair with `read(snapshotId = ...)`
    * for Iceberg's `TIMESTAMP AS OF` / Delta's `timestampAsOf`. Walks
    * the parent chain, so a concurrently-committed snapshot newer
    * than `tsMillis` is correctly skipped over. */
  def snapshotAsOf(tablePath: String, tsMillis: Long): Option[Long] = {
    // an expired (GC'd) ancestor ends the walk as "no snapshot that
    // old": parent pointers of retained snapshots legitimately dangle
    // after expireSnapshots, and a missing file means the history past
    // it is gone, not an error
    def exists(id: Long): Boolean =
      Files.exists(Paths.get(s"$tablePath/metadata/snap-$id.snapshot.json"))
    var cursor = currentSnapshotId(tablePath).filter(exists)
    while (cursor.nonEmpty && snapshotTimestampMs(tablePath, cursor.get) > tsMillis)
      cursor = parentSnapshotId(tablePath, cursor.get).filter(exists)
    cursor
  }

  // ---- Named refs: TAGS (immutable) and BRANCHES (movable) ----------
  //
  // Real Iceberg's refs, minimally: a name → snapshot-id map in
  // metadata/refs.json, mutated under the commit lock and swapped
  // atomically. The load-bearing integration is GC RETENTION:
  // expireSnapshots never reclaims a snapshot a ref points at, so a
  // tag pinned on the exact table state a training run consumed stays
  // time-travelable for as long as the tag lives — the reproducibility
  // contract a 100 TB corpus needs from its lakehouse.

  private def readRefs(tablePath: String): (Map[String, Long], Map[String, Long]) = {
    val p = Paths.get(s"$tablePath/metadata/refs.json")
    if (!Files.exists(p)) return (Map.empty, Map.empty)
    val j = readJson(p.toString)
    def m(field: String): Map[String, Long] =
      (j \ field).extractOrElse[Map[String, Long]](Map.empty)
    (m("tags"), m("branches"))
  }

  private def writeRefs(tablePath: String,
      tags: Map[String, Long], branches: Map[String, Long],
      retention0: Map[String, RefRetention] = null): Unit = {
    def jm(m: Map[String, Long]) =
      m.map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")
    // retention policies are carried forward by every ref write unless
    // the caller changes them, and a dropped ref sheds its policy
    val retention = Option(retention0).getOrElse(refRetentions(tablePath))
      .filter { case (n, _) => tags.contains(n) || branches.contains(n) }
    val rj =
      if (retention.isEmpty) ""
      else retention.toSeq.sortBy(_._1).map { case (n, r) =>
        val fields = (r.maxSnapshotAgeMs.map(v => s""""max_snapshot_age_ms": $v""") ++
          r.minSnapshotsToKeep.map(v => s""""min_snapshots_to_keep": $v""")).mkString(", ")
        s"${jstr(n)}: {$fields}"
      }.mkString(""", "retention": {""", ", ", "}")
    atomicWrite(Paths.get(s"$tablePath/metadata/refs.json"),
      s"""{"tags": ${jm(tags)}, "branches": ${jm(branches)}$rj}""")
  }

  /** Per-ref snapshot-retention policy (real Iceberg's
    * `max-snapshot-age-ms` / `min-snapshots-to-keep` ref properties):
    * with a policy set, [[expireSnapshots]] protects not just the
    * ref's HEAD but its ancestor chain — the newest
    * `minSnapshotsToKeep` ancestors, plus every ancestor younger than
    * `maxSnapshotAgeMs` — so a long-lived audit branch keeps its own
    * history through main's aggressive expiry. */
  final case class RefRetention(maxSnapshotAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None)

  def refRetentions(tablePath: String): Map[String, RefRetention] = {
    val p = Paths.get(s"$tablePath/metadata/refs.json")
    if (!Files.exists(p)) return Map.empty
    (readJson(p.toString) \ "retention") match {
      case JObject(fields) => fields.map { case (name, v) =>
        name -> RefRetention(
          (v \ "max_snapshot_age_ms").toOption.collect { case JInt(n) => n.toLong },
          (v \ "min_snapshots_to_keep").toOption.collect { case JInt(n) => n.toInt })
      }.toMap
      case _ => Map.empty
    }
  }

  /** Attach (or replace) the retention policy of an existing tag or
    * branch. Policies ride refs.json, survive every ref write, and
    * vanish with the ref. */
  def setRefRetention(tablePath: String, refName: String,
      maxSnapshotAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None): Unit = withCommitLock(tablePath) {
    val (t, b) = readRefs(tablePath)
    require(t.contains(refName) || b.contains(refName),
      s"ref $refName does not exist")
    writeRefs(tablePath, t, b, refRetentions(tablePath) +
      (refName -> RefRetention(maxSnapshotAgeMs, minSnapshotsToKeep)))
  }

  def tags(tablePath: String): Map[String, Long] = readRefs(tablePath)._1
  def branches(tablePath: String): Map[String, Long] = readRefs(tablePath)._2

  /** Pin `name` to a snapshot (default: current). Tags are immutable —
    * re-tagging an existing name refuses. */
  def createTag(tablePath: String, name: String,
      snapshotId: Option[Long] = None): Long = withCommitLock(tablePath) {
    val id = snapshotId.orElse(currentSnapshotId(tablePath)).getOrElse(
      throw new IllegalArgumentException("cannot tag an empty table"))
    require(snapshots(tablePath).contains(id), s"snapshot $id does not exist")
    require(name != "main", "'main' is the reserved implicit branch")
    val (t, b) = readRefs(tablePath)
    require(!t.contains(name) && !b.contains(name), s"ref $name already exists")
    writeRefs(tablePath, t + (name -> id), b)
    id
  }

  def dropTag(tablePath: String, name: String): Unit = withCommitLock(tablePath) {
    val (t, b) = readRefs(tablePath)
    writeRefs(tablePath, t - name, b)
  }

  /** Create a movable branch head at a snapshot (default: current). */
  def createBranch(tablePath: String, name: String,
      snapshotId: Option[Long] = None): Long = withCommitLock(tablePath) {
    val id = snapshotId.orElse(currentSnapshotId(tablePath)).getOrElse(
      throw new IllegalArgumentException("cannot branch an empty table"))
    require(snapshots(tablePath).contains(id), s"snapshot $id does not exist")
    val (t, b) = readRefs(tablePath)
    require(!t.contains(name) && !b.contains(name), s"ref $name already exists")
    writeRefs(tablePath, t, b + (name -> id))
    id
  }

  /** Move an existing branch head (default target: current snapshot). */
  def advanceBranch(tablePath: String, name: String,
      snapshotId: Option[Long] = None): Long = withCommitLock(tablePath) {
    val (t, b) = readRefs(tablePath)
    require(b.contains(name), s"branch $name does not exist")
    val id = snapshotId.orElse(currentSnapshotId(tablePath)).get
    require(snapshots(tablePath).contains(id), s"snapshot $id does not exist")
    writeRefs(tablePath, t, b + (name -> id))
    id
  }

  def dropBranch(tablePath: String, name: String): Unit = withCommitLock(tablePath) {
    val (t, b) = readRefs(tablePath)
    writeRefs(tablePath, t, b - name)
  }

  /** FAST-FORWARD main to a branch head — the publish step of
    * write-audit-publish: commits landed on the branch (via
    * `append(toBranch)` / `merge(toBranch)`) become visible to main
    * readers in ONE atomic pointer flip. Requires main's current
    * snapshot to be an ANCESTOR of the branch head (or the table
    * empty): a main that advanced independently since the branch was
    * cut has diverged, and fast-forwarding would silently drop its
    * commits — that case throws [[CommitConflictException]] and the
    * caller re-lands the branch work on the new main (real Iceberg's
    * `fast_forward` procedure refuses the same way). An expired
    * intermediate snapshot also refuses: the ancestry proof is gone.
    * Runs under the commit lock so the ancestry check and the flip
    * are atomic against concurrent commits. Returns the published
    * snapshot id. */
  def fastForwardMain(tablePath: String, branch: String): Long =
    withCommitLock(tablePath) {
      val head = resolveBranchHead(tablePath, branch)
      val main = currentSnapshotId(tablePath)
      val chain = scala.collection.mutable.Set.empty[Long]
      var cursor: Option[Long] = Some(head)
      while (cursor.nonEmpty && Files.exists(
          Paths.get(s"$tablePath/metadata/snap-${cursor.get}.snapshot.json"))) {
        chain += cursor.get
        cursor = parentSnapshotId(tablePath, cursor.get)
      }
      if (!main.forall(chain.contains))
        throw new CommitConflictException(
          s"cannot fast-forward: main is at $main, which is not an ancestor " +
            s"of branch $branch's head $head (divergent or expired history); " +
            "re-land the branch commits on the current main")
      atomicWrite(Paths.get(s"$tablePath/metadata/v0.metadata.json"),
        s"""{"format_version": 2, "uuid": "graft-iceberg", "current_snapshot_id": $head}""",
        beforeMove = assertLockOwned(tablePath))
      head
    }

  /** Resolve a tag or branch name to its snapshot id. */
  def resolveRef(tablePath: String, name: String): Long = {
    val (t, b) = readRefs(tablePath)
    t.get(name).orElse(b.get(name)).getOrElse(
      throw new IllegalArgumentException(s"unknown ref $name"))
  }

  /** Read the table at a named ref (`VERSION AS OF 'tag'`). */
  def readRef(spark: SparkSession, tablePath: String, name: String,
      filters: Seq[PartitionFilter] = Nil): DataFrame =
    read(spark, tablePath, Some(resolveRef(tablePath, name)), filters)

  /** INCREMENTAL READ (changelog): the rows ADDED strictly after
    * `fromSnapshotId`, up to and including `toSnapshotId` (default:
    * current) — the batch half of a CDC pipeline, mirroring real
    * Iceberg's incremental scan (spark option `start-snapshot-id`)
    * over `/root/reference/src/iceberg/iceberg.rs`'s snapshot model,
    * which is read-only and has no changelog at all (➕).
    *
    * Semantics follow real Iceberg's appends-only contract: walking
    * the parent chain (`to` … exclusive `from`), an `append` snapshot
    * contributes exactly the entries of ITS OWN manifest — O(added
    * files) metadata work per snapshot, never a full-snapshot file-set
    * diff, which is what keeps a long-history 100 TB table's
    * incremental planning cheap; a `replace` snapshot (compaction /
    * cluster rewrite) changes no logical rows and is SKIPPED; a
    * `delete`/`overwrite` snapshot makes "rows added since" ill-posed,
    * so the read REFUSES, exactly like Iceberg's "cannot support
    * incremental scan through overwrite" error. Expired (GC'd)
    * intermediate snapshots also refuse — the history is gone. */
  def incrementalRead(spark: SparkSession, tablePath: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    val to = toSnapshotId.orElse(currentSnapshotId(tablePath)).getOrElse(
      throw new IllegalArgumentException("empty table has no snapshots"))
    val added = scala.collection.mutable.ArrayBuffer.empty[DataFile]
    var cursor = to
    while (cursor != fromSnapshotId) {
      if (!Files.exists(Paths.get(s"$tablePath/metadata/snap-$cursor.snapshot.json")))
        throw new IllegalArgumentException(
          s"snapshot $cursor in the incremental range was expired")
      snapshotOperation(tablePath, cursor) match {
        case "append" => added ++= addedFiles(tablePath, cursor)
        case "replace" => // compaction/cluster: no logical row change
        case op => throw new IllegalArgumentException(
          s"cannot read incrementally through a '$op' snapshot ($cursor)")
      }
      cursor = parentSnapshotId(tablePath, cursor).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $fromSnapshotId is not an ancestor of $to"))
    }
    if (added.isEmpty) spark.emptyDataFrame
    else {
      val rmap = renames(tablePath, Some(to))
      val base = readFileSet(spark, tablePath, added.toSeq, snapshotId = Some(to))
        .drop(FileCol, SeqCol)
      if (rmap.isEmpty) base else base.withColumnsRenamed(rmap)
    }
  }

  /** ROW-LEVEL CHANGELOG between two snapshots — real Iceberg's
    * `create_changelog_view` / Delta's Change Data Feed: one row per
    * changed row per commit in `(from, to]`, tagged `_change_type`
    * (`insert` / `delete`; an update surfaces as its delete+insert
    * pair) and `_commit_snapshot_id`. Where [[incrementalRead]]
    * refuses anything but appends, this walks EVERY commit kind:
    *
    *  - append → added files' rows as inserts;
    *  - copy-on-write delete / overwrite / merge → the commit's FILE
    *    DIFF, with `exceptAll` cancelling rewritten-but-unchanged
    *    rows (a merge UPDATE emits exactly its delete+insert pair);
    *  - merge-on-read delete (predicate, equality-file, position) →
    *    no file change; the commit's NEW pending entries scope which
    *    carried files could lose rows, and the before/after read diff
    *    over exactly those files yields the newly-dead rows;
    *  - replace (compaction, cluster, rewriteManifests, widen,
    *    rename) → no logical row change, skipped.
    *
    * Cost is bounded by each commit's TOUCHED data (file diff + the
    * new-delete scope), never a full-table compare — the property
    * that makes a changelog usable on a 100 TB table where commits
    * touch megabytes. Rows surface under `to`'s logical names;
    * within-range schema widening is reconciled by casting the
    * before-side to the after-side's (wider) schema, added columns
    * null-fill. MapType columns are not supported (`exceptAll`
    * cannot compare them). */
  def changelogRead(spark: SparkSession, tablePath: String,
      fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val to = toSnapshotId.orElse(currentSnapshotId(tablePath)).getOrElse(
      throw new IllegalArgumentException("empty table has no snapshots"))
    // ancestor walk to → from (exclusive), then chronological order
    val chain = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cursor = to
    while (cursor != fromSnapshotId) {
      if (!Files.exists(Paths.get(s"$tablePath/metadata/snap-$cursor.snapshot.json")))
        throw new IllegalArgumentException(
          s"snapshot $cursor in the changelog range was expired")
      chain += cursor
      cursor = parentSnapshotId(tablePath, cursor).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $fromSnapshotId is not an ancestor of $to"))
    }
    def align(df: DataFrame, target: org.apache.spark.sql.types.StructType): DataFrame =
      df.select(target.fields.map(f =>
        (if (df.columns.contains(f.name)) col(f.name) else lit(null))
          .cast(f.dataType).as(f.name)).toSeq: _*)
    val parts = chain.reverse.toSeq.flatMap { c =>
      val snap = snapshot(tablePath, c)
      val p = snap.parent
      if (snap.operation == "replace") None
      else {
        val parentFiles = p.map(pp => dataFiles(tablePath, Some(pp))).getOrElse(Nil)
        val curFiles = dataFiles(tablePath, Some(c))
        val parentPaths = parentFiles.map(_.filePath).toSet
        val curPaths = curFiles.map(_.filePath).toSet
        val removed = parentFiles.filterNot(f => curPaths.contains(f.filePath))
        val added = curFiles.filterNot(f => parentPaths.contains(f.filePath))
        // carried files a NEW pending delete of this commit could
        // touch — the merge-on-read delta (entries carried from the
        // parent are value-identical and cancel out)
        val old = p.fold(PendingDeletes())(snapshot(tablePath, _).deletes)
        val newRow = snap.deletes.rows.filterNot(old.rows.toSet)
        val newEq = snap.deletes.eq.filterNot(old.eq.toSet)
        val newPos = snap.deletes.pos.filterNot(old.pos.toSet)
        val carried = curFiles.filter(f => parentPaths.contains(f.filePath))
        val morTouched = carried.filter { f =>
          newRow.exists(d => f.sequenceNumber <= d.sequenceNumber &&
            withProjectedFilters(tablePath, d.filters).forall(_.matches(f))) ||
            newEq.exists(eqScopeMatches(tablePath, _, f)) ||
            newPos.exists(posDelMayTarget(_, Seq(f.filePath)))
        }
        val beforeFiles = removed ++ morTouched
        val afterFiles = added ++ morTouched
        if (beforeFiles.isEmpty && afterFiles.isEmpty) None
        else {
          val before =
            if (beforeFiles.isEmpty) None
            else Some(readWithDeletes(spark, tablePath, beforeFiles, p))
          val after =
            if (afterFiles.isEmpty) None
            else Some(readWithDeletes(spark, tablePath, afterFiles, Some(c)))
          val target = after.getOrElse(before.get).schema
          val (b, a) = (before.map(align(_, target)), after.map(align(_, target)))
          def tag(df: DataFrame, kind: String) = df
            .withColumn("_change_type", lit(kind))
            .withColumn("_commit_snapshot_id", lit(c))
          val dels = (b, a) match {
            case (Some(bf), Some(af)) => Some(tag(bf.exceptAll(af), "delete"))
            case (Some(bf), None) => Some(tag(bf, "delete"))
            case _ => None
          }
          val ins = (b, a) match {
            case (Some(bf), Some(af)) => Some(tag(af.exceptAll(bf), "insert"))
            case (None, Some(af)) => Some(tag(af, "insert"))
            case _ => None
          }
          Some((dels ++ ins).reduce(_ unionByName (_, allowMissingColumns = true)))
        }
      }
    }
    val out = parts.reduceOption(_ unionByName (_, allowMissingColumns = true))
      .getOrElse(spark.emptyDataFrame)
    val rmap = renames(tablePath, Some(to))
    if (rmap.isEmpty) out else out.withColumnsRenamed(rmap)
  }

  /** The per-file constants of an IcebergLite scan (see
    * [[readFileSet]]): the file's table-relative path as the manifest
    * lists it, and its data sequence number. */
  private val FileCol = "__graft_file"
  private val SeqCol = "__graft_seq"
  /** The within-file row ordinal, captured at the scan when a position
    * delete or `_pos` needs it. */
  private val PosCol = "__graft_pos"

  /** Scan an explicit manifest file list through [[ManifestFileIndex]]:
    * the data columns, then the identity and legacy partition columns
    * (strings as the manifest records them; null where a file has no
    * value for one), then the per-file constants [[FileCol]] and
    * [[SeqCol]] every delete applier keys on. Spark fills partition
    * columns once per file, so no row pays for them; callers drop the
    * two constants. */
  private def readFileSet(spark: SparkSession, tablePath: String,
      files: Seq[DataFile], snapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String.fromString
    // transform-derived partition fields are HIDDEN: the source column
    // lives in the data files, so only identity partition values (which
    // hive layout strips from the files) surface as columns.
    // Union over every spec version — old-layout files hide too.
    val hiddenFields = partitionSpecs(tablePath).flatten
      .filter(_.transform != IcebergTransforms.Identity).map(_.name).toSet
    val partCols = files.flatMap(_.partition.keys).distinct
      .filterNot(hiddenFields).sorted
    val partitionSchema = StructType(partCols.map(StructField(_, StringType)) ++ Seq(
      StructField(FileCol, StringType, nullable = false),
      StructField(SeqCol, LongType, nullable = false)))
    val scanFiles = files.map(f => ManifestFileIndex.ScanFile(f.filePath,
      partCols.map(c => fromString(f.partition.getOrElse(c, null))) ++
        Seq(fromString(f.filePath), f.sequenceNumber)))
    // Schema resolution, by NAME (the reference's JSON layout carries
    // no Iceberg field ids): a schema-tracking snapshot reads with its
    // OWN recorded schema as the explicit parquet schema — files that
    // predate a column null-fill it, and files written before a TYPE
    // WIDENING decode their narrow physical type as the wide requested
    // one (Spark 4 vectorized-reader promotion; `mergeSchema` would
    // refuse that file mix outright). A time-travel read uses that
    // snapshot's schema, so history sees history's columns and types.
    // Pre-tracking snapshots keep the legacy mergeSchema union —
    // footer merging is metadata-only and Spark distributes it.
    val schema = tableSchema(tablePath, snapshotId)
    ManifestFileIndex.scan(spark, tablePath, scanFiles, partitionSchema, schema,
      mergeSchema = schema.isEmpty)
  }

  /** Apply pending merge-on-read deletes to a physical-name DataFrame
    * being read from `files`: each delete kills rows matching its
    * filters inside exactly the files whose data-sequence number is ≤
    * the delete's — Iceberg v2 sequence scoping. Rows appended after
    * the delete live in higher-sequence files and are never affected;
    * a file the delete's filters provably cannot touch (partition
    * value / bounds mismatch) is pruned from the scope entirely, so
    * the per-row work is a codegen'd predicate over only the files
    * that need it. The file check tests the scan's [[FileCol]]
    * constant against the in-scope manifest paths — the same strings,
    * so the scoping cannot silently miss a file — and is left out when
    * every read file is in scope. */
  private def applyRowDeletes(df: DataFrame, tablePath: String,
      files: Seq[DataFile], dels: Seq[RowDelete]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    // file scoping projects through the hidden-partitioning spec (a
    // delete on a bucketed key touches one bucket's files); the ROW
    // predicate below stays on the original filters — projected
    // conjuncts name partition fields that are not data columns
    val scoped = dels.map { d =>
      val scopeFilters = withProjectedFilters(tablePath, d.filters)
      d -> files.filter(f =>
        f.sequenceNumber <= d.sequenceNumber && scopeFilters.forall(_.matches(f)))
    }.filter(_._2.nonEmpty)
    scoped.foldLeft(df) { case (d, (del, inScope)) =>
      val pred = coalesce(del.filters.map(rowPredicate(d, _)).reduce(_ && _), lit(false))
      d.filter(not(
        if (inScope.size == files.size) pred
        else col(FileCol).isin(inScope.map(_.filePath): _*) && pred))
    }
  }

  /** Whether a position-delete file could name any of `paths`: its
    * recorded [targetLower, targetUpper] range on the key file's
    * `file_path` column must cover some path. Plain string order —
    * paths are never numeric-parsing strings, so this is the exact
    * order the write tasks min/max'd under; missing bounds are
    * conservatively in-range. */
  private def posDelMayTarget(d: PosDelete, paths: Seq[String]): Boolean =
    paths.exists(p => d.targetLower.forall(_.compareTo(p) <= 0) &&
      d.targetUpper.forall(_.compareTo(p) >= 0))

  /** Anti-apply pending POSITION-DELETE files: every pending key file
    * whose target range covers a read file is read (columnar,
    * distributed), the key sets union into ONE (file_path, pos)
    * anti-join against the rows' ([[FileCol]], [[PosCol]]) identity —
    * both sides carry the manifest's table-relative path — however
    * many delete files are pending, reads pay one join (the same
    * single-join collapse [[applyEqDeletes]] applies). Rows of files no
    * delete names have no join key and pass through; duplicate
    * positions across delete files are harmless (anti-join semantics,
    * no row multiplication). */
  private def applyPosDeletes(df: DataFrame, tablePath: String,
      files: Seq[DataFile], dels: Seq[PosDelete]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val readPaths = files.map(_.filePath)
    val relevant = dels.filter(posDelMayTarget(_, readPaths))
    if (relevant.isEmpty) return df
    // one scan over every relevant delete file (they share the
    // (file_path, pos) schema) — never a per-file union
    val keys = ManifestFileIndex.scan(df.sparkSession, tablePath,
        relevant.map(d => ManifestFileIndex.ScanFile(d.filePath, Nil)),
        new org.apache.spark.sql.types.StructType(), Some(posPairSchema))
      .select(col("file_path").as("__graft_pd_file"), col("pos").as("__graft_pd_pos"))
    df.join(keys,
        df(FileCol) === keys("__graft_pd_file") && df(PosCol) === keys("__graft_pd_pos"),
        "left_anti")
  }

  /** Read `files` with ALL pending merge-on-read delete forms
    * (predicate, equality-file, then position) anti-applied — the one
    * call every reader and every materializing rewrite goes through.
    * The within-file ordinal is captured at the scan only when some
    * pending position delete actually targets a read file, or when
    * `metadataColumns` asks for the `_pos`/`_file` columns (physical
    * names). */
  private def readWithDeletes(spark: SparkSession, tablePath: String,
      files: Seq[DataFile], snapshotId: Option[Long],
      metadataColumns: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dels = pendingDeletes(tablePath, snapshotId)
    val readPaths = files.map(_.filePath)
    val needPos = metadataColumns || dels.pos.exists(posDelMayTarget(_, readPaths))
    val scan = readFileSet(spark, tablePath, files, snapshotId)
    // the file-source `_metadata` hidden column resolves only directly
    // over the scan — not above a delete join — so the ordinal is
    // materialized here (`_metadata.row_index` is the true 0-based
    // ordinal, stable under split reads)
    val base0 = if (needPos) scan.withColumn(PosCol, col("_metadata.row_index")) else scan
    val base =
      if (!metadataColumns) base0
      else base0.withColumn("_pos", col(PosCol)).withColumn("_file", col(FileCol))
    applyPosDeletes(
      applyEqDeletes(
        applyRowDeletes(base, tablePath, files, dels.rows),
        tablePath, files, dels.eq),
      tablePath, files, dels.pos)
      .drop(FileCol, SeqCol, PosCol)
  }

  /** Merge-on-read POSITION delete as a NEW SNAPSHOT — zero data-file
    * I/O: the (file_path, pos) pairs land as a PARQUET DELETE FILE
    * under `data/posdel-<tag>/` (real Iceberg's position-delete file
    * form), the parent's manifests are carried verbatim, and the
    * snapshot records one bounded entry per written delete file —
    * path, row count, and the min/max of the named target paths,
    * recorded by the write tasks as data writes are. A 10⁵-position
    * erasure batch costs O(1) snapshot JSON, not a 10⁵-long ordinal
    * list in metadata. `deletes` keys are table-relative file paths
    * as listed by [[dataFiles]]; every key must be a live file
    * (fail-closed — a typo'd path must not silently delete nothing).
    * Ordinals are 0-based positions within the parquet file. Reads,
    * time travel and refs anti-apply pending position deletes exactly
    * like equality deletes; any rewrite that touches a target file
    * materializes its positions. Repeated deletes add pending files;
    * the union'd read-side anti-join dedupes overlaps. */
  def deletePositions(spark: SparkSession, tablePath: String,
      deletes: Map[String, Seq[Long]]): Long = {
    require(deletes.nonEmpty && deletes.forall(_._2.nonEmpty),
      "position delete needs at least one (file, positions) entry")
    val parentId = currentSnapshotId(tablePath)
    val live = dataFiles(tablePath)
    val livePaths = live.map(_.filePath).toSet
    val unknown = deletes.keys.filterNot(livePaths)
    require(unknown.isEmpty,
      s"position delete references files not live in the current snapshot: ${unknown.mkString(", ")}")
    // fail CLOSED on ordinals too: a position past the file's
    // footer-true record count would "succeed" while deleting nothing —
    // the same silent no-op the path check above exists to prevent.
    // record count -1 means UNKNOWN (pre-footer-count metadata) and
    // skips the check; a KNOWN count — including a genuine 0-row file —
    // fails closed on any out-of-range ordinal.
    val counts = live.map(f => f.filePath -> f.recordCount).toMap
    deletes.foreach { case (f, ps) =>
      require(ps.forall(_ >= 0), s"negative position ordinal for $f")
      val rc = counts(f)
      require(rc < 0 || ps.forall(_ < rc),
        s"position ${ps.max} out of range for $f ($rc rows)")
    }
    val pairs = deletes.toSeq.sortBy(_._1)
      .flatMap { case (f, ps) => ps.distinct.sorted.map(p => (f, p)) }
    val rows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    pairs.foreach { case (f, p) => rows.add(org.apache.spark.sql.Row(f, p)) }
    commitPosDeleteFiles(tablePath, parentId,
      spark.createDataFrame(rows, posPairSchema))
  }

  private val posPairSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** DataFrame-native position delete for CDC-SCALE feeds: `pairs`
    * carries (file_path, pos) rows — typically the renamed output of a
    * [[readWithMetadataColumns]] predicate scan — and never passes
    * through driver memory: validation is one bounded distributed
    * probe, the delete-file write is distributed, and the commit
    * records the same bounded entries as the Map form. Fail-closed
    * like the Map form: a pair naming a non-live path, a negative
    * ordinal, or an ordinal at-or-past its file's known record count
    * refuses the whole delete. */
  def deletePositions(spark: SparkSession, tablePath: String,
      pairs: DataFrame): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(pairs.columns.sorted.toSeq == Seq("file_path", "pos"),
      s"position-delete pairs need exactly (file_path, pos), got ${pairs.columns.toSeq}")
    val parentId = currentSnapshotId(tablePath)
    val live = dataFiles(tablePath)
    val liveRows: java.util.List[org.apache.spark.sql.Row] = new java.util.ArrayList()
    live.foreach(f => liveRows.add(org.apache.spark.sql.Row(f.filePath, f.recordCount)))
    val liveDf = spark.createDataFrame(liveRows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("__graft_rc",
        org.apache.spark.sql.types.LongType, nullable = false))))
    val bad = pairs.join(broadcast(liveDf), Seq("file_path"), "left_outer")
      .filter(col("__graft_rc").isNull || col("pos") < 0 ||
        (col("__graft_rc") >= 0 && col("pos") >= col("__graft_rc")))
      .limit(1).collect()
    require(bad.isEmpty,
      s"position delete refers to a non-live file or out-of-range ordinal: ${bad.headOption}")
    commitPosDeleteFiles(tablePath, parentId,
      pairs.select(col("file_path"), col("pos").cast("long").as("pos")))
  }

  private def commitPosDeleteFiles(tablePath: String, parentId: Option[Long],
      pairs: DataFrame): Long = {
    val runDir = s"posdel-${runTag()}"
    val (written, _) = StatsParquet.write(pairs.distinct(), tablePath, runDir)
    if (written.isEmpty) {
      // zero matched positions: no delete files, no snapshot — mirror
      // deleteEquality's guard, and don't leave an empty run dir behind
      val dir = java.nio.file.Paths.get(s"$tablePath/data/$runDir")
      if (Files.exists(dir))
        Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists(_))
      return parentId.getOrElse(0L)
    }
    val newDels = written.map(f => PosDelete(f.filePath, f.recordCount,
      f.lowerBounds.get("file_path"), f.upperBounds.get("file_path")))
    val dels = pendingDeletes(tablePath, parentId)
    commitSnapshot(tablePath, parentId, entries = Nil,
      carriedManifests = parentManifests(tablePath, parentId),
      operation = "delete", deletes = Some(dels.copy(pos = dels.pos ++ newDels)))
  }

  /** Merge-on-read EQUALITY-DELETE FILE as a NEW SNAPSHOT — the
    * high-cardinality CDC delete form (see [[EqDelete]]): every column
    * of `keys` is a key column; rows of the table matching ANY key
    * tuple (SQL equality — null keys never match) are dead in every
    * data file whose data-sequence is ≤ this commit's. The keys are
    * written DISTRIBUTED as parquet under `data/eqdel-<tag>/` (they
    * never pass through the driver), with true per-file bounds the
    * write tasks record as data writes do — those bounds prune the
    * read-side anti-join to data files whose own bounds overlap the
    * key range. Zero data-file I/O at delete time; the parent's
    * manifests are carried verbatim. Key column names arrive LOGICAL
    * and are stored physical. Returns the new snapshot id (the
    * current one when `keys` is empty). */
  def deleteEquality(spark: SparkSession, tablePath: String,
      keys: DataFrame): Long = {
    require(keys.columns.nonEmpty, "equality delete needs at least one key column")
    val rmap = renames(tablePath)
    val keysP = if (rmap.isEmpty) keys else keys.withColumnsRenamed(rmap.map(_.swap))
    val parentId = currentSnapshotId(tablePath)
    val runDir = s"eqdel-${runTag()}"
    // distinct: each key file must be duplicate-free or the read-side
    // outer join would multiply surviving rows
    val (written, _) = StatsParquet.write(keysP.distinct(), tablePath, runDir)
    if (written.isEmpty) return parentId.getOrElse(0L)
    val newDels = written.map(f => EqDelete(f.filePath, keysP.columns.toSeq,
      -1L, f.recordCount, f.lowerBounds, f.upperBounds))
    val dels = pendingDeletes(tablePath, parentId)
    commitSnapshot(tablePath, parentId, entries = Nil,
      carriedManifests = parentManifests(tablePath, parentId),
      operation = "delete", deletes = Some(dels.copy(eq = dels.eq ++ newDels)))
  }

  /** Whether an equality delete can still affect data file `f`:
    * sequence-scoped (v2 contract), then bounds-pruned through the
    * SAME filter machinery reads use — the key file's recorded
    * [min,max] per key column becomes a GtEq/LtEq conjunct pair, which
    * `PartitionFilter.matches` evaluates against the data file's
    * bounds or exact identity-partition value, and
    * `withProjectedFilters` projects through hidden-partitioning
    * transforms (a key range on `ts` prunes `ts_day` partitions the
    * delete never named). Missing bounds on either side are
    * conservatively in-range. */
  private def eqScopeFilters(tablePath: String, d: EqDelete): Seq[PartitionFilter] =
    withProjectedFilters(tablePath, d.keyCols.flatMap(c =>
      d.lowerBounds.get(c).map(GtEq(c, _)).toSeq ++
        d.upperBounds.get(c).map(LtEq(c, _)).toSeq))

  private def eqScopeMatches(tablePath: String, d: EqDelete, f: DataFile): Boolean =
    f.sequenceNumber <= d.sequenceNumber &&
      eqScopeFilters(tablePath, d).forall(_.matches(f))

  /** Anti-apply pending equality-delete FILES: the key files are read
    * (columnar, distributed), UNIONED per key-column signature, and
    * each signature pays exactly ONE outer join however many delete
    * files are pending — a CDC table committing every few minutes
    * between hourly compactions carries dozens of pending files, and
    * a join per file would chain dozens of shuffles onto every read.
    * Each key row carries its delete's sequence number as a per-file
    * constant of the key scan (max-reduced per key tuple: any delete
    * at-or-after a row's data sequence kills it, so the max tag
    * decides), and the row side carries its file's data sequence as
    * the scan's [[SeqCol]] constant — no per-row lookup on either
    * side. The kill condition `data_seq ≤ key_seq` IS the v2 contract;
    * the per-delete bounds scope remains what prunes deletes that can
    * touch nothing (a file whose bounds exclude every key never has a
    * matching key tuple, so dropping the per-file scope check from
    * the row predicate changes no survivor). The join is a plain
    * Spark join — broadcast for small key sets, shuffled for 10⁶-key
    * CDC batches, both correct at scale. */
  private def applyEqDeletes(df: DataFrame, tablePath: String,
      files: Seq[DataFile], dels: Seq[EqDelete]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, not}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val scoped = dels.filter(d => files.exists(eqScopeMatches(tablePath, d, _)))
    val keySeq = "__graft_key_seq"
    val bySignature = scoped.groupBy(_.keyCols).toSeq.sortBy(_._1.mkString(","))
    bySignature.foldLeft(df) { case (acc, (keyCols, group)) =>
      // ONE scan for the signature's key files — a union of per-file
      // reads would grow the plan (and codegen) linearly with
      // pending-file count, which a parallel-writer CDC delete makes
      // large (each deleteEquality cuts one key file per write task)
      val keysRaw = ManifestFileIndex.scan(df.sparkSession, tablePath,
          group.map(d => ManifestFileIndex.ScanFile(d.filePath, Seq(d.sequenceNumber))),
          StructType(Seq(StructField(keySeq, LongType, nullable = false))), None)
        .select(keyCols.map(col) :+ col(keySeq): _*)
      // one commit's files are duplicate-free (its write is distinct);
      // keys across commits can repeat → re-distinct keeping the max
      // sequence
      val keys =
        if (group.map(_.sequenceNumber).distinct.size == 1) keysRaw
        else keysRaw.groupBy(keyCols.map(col): _*).agg(max(col(keySeq)).as(keySeq))
      acc.join(keys, keyCols, "left_outer")
        .filter(not(coalesce(col(SeqCol) <= col(keySeq), lit(false))))
        .drop(keySeq)
    }
  }

  /** Merge-on-read row DELETE as a NEW SNAPSHOT — Iceberg v2's delete
    * path, the latency/read-overhead counterpoint to the copy-on-write
    * [[delete]]: ZERO data I/O at delete time. Files the filters cover
    * WHOLESALE are dropped from the manifest (metadata-only, exactly
    * like the CoW fast path); a partial cover records ONE
    * sequence-numbered predicate in the snapshot's `row_deletes` and
    * carries the parent's manifests verbatim — O(1) metadata however
    * many files the predicate spans. Readers anti-apply pending
    * deletes to files with sequence ≤ the delete's (`read`, time
    * travel, refs all honor them); any rewrite that touches a file
    * (compact / cluster / merge / CoW delete) MATERIALIZES the deletes
    * for that file, and the rewritten file's higher sequence takes it
    * out of scope automatically. At 100 TB this is the difference between a delete
    * that finishes in milliseconds regardless of table size and one
    * that rewrites every touched file inline — with the cost moved to
    * reads until the next maintenance compaction, real Iceberg's
    * exact trade. */
  def deleteMergeOnRead(spark: SparkSession, tablePath: String,
      filters: Seq[PartitionFilter]): Long = {
    require(filters.nonEmpty, "delete with no filters would truncate the table; be explicit")
    val rmap = renames(tablePath)
    val filtersP =
      if (rmap.isEmpty) filters else filters.map(physicalFilter(rmap, _))
    val parentId = currentSnapshotId(tablePath)
    val (touched, kept) = dataFiles(tablePath).partition(f => filtersP.forall(_.matches(f)))
    // an empty residual means every touched file dies WHOLESALE: the
    // files drop from the manifest outright (pure metadata drop, no
    // pending predicate needed)
    if (residualFilters(filtersP, touched).isEmpty)
      commitRewrite(tablePath, parentId, kept, nothingWritten, "delete")
    else {
      // residual predicate: ZERO manifest change — the parent's
      // manifests are carried verbatim (no file list rewrite at all;
      // the r7 shape re-listed every live file) and the snapshot
      // records one RowDelete with the FULL conjunct set, scoped at
      // read time to files with sequence ≤ this commit's. On a 10⁶-
      // file table this commit writes O(1) metadata. The parent's
      // pending deletes carry unpruned: no file left the table, and
      // every commit that drops files prunes them to what it keeps.
      val dels = pendingDeletes(tablePath, parentId)
      commitSnapshot(tablePath, parentId, entries = Nil,
        carriedManifests = parentManifests(tablePath, parentId),
        operation = "delete",
        deletes = Some(dels.copy(rows = dels.rows :+ RowDelete(-1L, filtersP))))
    }
  }

  /** The conjuncts of a delete left to evaluate per row over the
    * `touched` files: a conjunct on a partition column EVERY touched
    * file carries exactly (not the conservative bounds fallback) is
    * decided file-level and holds for all their rows. Empty = the
    * touched files die wholesale (always, when none is touched). */
  private def residualFilters(filters: Seq[PartitionFilter],
      touched: Seq[DataFile]): Seq[PartitionFilter] =
    filters.filterNot(f => touched.forall(_.partition.contains(f.column)))

  /** The partition columns a rewrite writes under: a spec table's
    * CURRENT spec fields (old-spec files migrate to it — Iceberg's
    * rewrite-to-latest-spec behavior), else the rewritten files' own
    * manifest partition keys. */
  private def rewritePartCols(spec: Seq[IcebergTransforms.PartitionField],
      files: Seq[DataFile]): Seq[String] =
    if (spec.nonEmpty) spec.map(_.name).sorted
    else files.flatMap(_.partition.keys).distinct.sorted

  /** What a rewrite wrote — [[writeDataFiles]]' manifest entries, data
    * schema (null: nothing written) and NDV sidecars. */
  private type Written = (Seq[String], org.apache.spark.sql.types.StructType, Seq[String])
  private val nothingWritten: Written = (Nil, null, Nil)

  /** The one commit every copy-on-write rewrite ends in: the `kept`
    * files of snapshot `parentId` re-listed verbatim plus the
    * rewrite's new entries, the parent's pending deletes pruned to the
    * kept files (the rewritten ones materialized them), the write
    * schema union-merged. The NDV sidecar list gains this write's,
    * except after a FULL rewrite (`resetStats`: compact, cluster,
    * truncate): every live file is fresh, so the list resets to this
    * write's and old sidecars die with old snapshots. */
  private def commitRewrite(tablePath: String, parentId: Option[Long],
      kept: Seq[DataFile], written: Written, operation: String,
      resetStats: Boolean = false, toBranch: Option[String] = None): Long = {
    val (entries, schema, stats) = written
    commitSnapshot(tablePath, parentId, kept.map(entryJson) ++ entries,
      carriedManifests = Nil, operation = operation,
      deletes = Some(pendingDeletes(tablePath, parentId).prunedTo(tablePath, kept)),
      toBranch = toBranch, schemaUnion = schema,
      addStatsFiles = if (resetStats) Nil else stats,
      statsFilesSet = if (resetStats) stats else null)
  }

  /** Row-level Column for one filter over a DATA column — the literal
    * is cast to the column's native type so the comparison matches the
    * bounds semantics (bounds are min/max string-casts of the same
    * typed data). Partition-column conjuncts are never built this way:
    * their truth is uniform per file and is decided exactly at the
    * file level by `PartitionFilter.matches`. */
  private def rowPredicate(df: DataFrame, f: PartitionFilter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    val dt = df.schema(f.column).dataType
    def l(v: String) = lit(v).cast(dt)
    f match {
      case Eq(c, v) => col(c) === l(v)
      case Gt(c, v) => col(c) > l(v)
      case Lt(c, v) => col(c) < l(v)
      case GtEq(c, v) => col(c) >= l(v)
      case LtEq(c, v) => col(c) <= l(v)
      case In(c, vs) => vs.map(v => col(c) === l(v)).reduce(_ || _)
    }
  }

  /** Copy-on-write row-level DELETE (rows matching ALL `filters` are
    * removed) as a NEW SNAPSHOT. The pruning that powers reads powers
    * the write too: files the filters prove untouched are carried
    * forward VERBATIM (same path, never re-read or rewritten — at
    * 100 TB a delete scoped to one partition/day rewrites only that
    * slice); only files that might hold matching rows are read,
    * row-filtered, and rewritten under `data/delete-<snapId>/`. The
    * new manifest re-lists surviving originals + rewritten files; prior
    * snapshots keep their old manifest lists, so time travel still sees
    * the pre-delete data. Returns the new snapshot id. */
  def delete(spark: SparkSession, tablePath: String,
      filters: Seq[PartitionFilter]): Long = {
    // filters arrive with logical names; files/manifests are physical
    val rmap = renames(tablePath)
    deleteImpl(spark, tablePath,
      if (rmap.isEmpty) filters else filters.map(physicalFilter(rmap, _)))
  }

  private def deleteImpl(spark: SparkSession, tablePath: String,
      filters0: Seq[PartitionFilter]): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    require(filters0.nonEmpty, "delete with no filters would truncate the table; be explicit")
    // hidden-partitioning projection scopes the rewrite the same way it
    // scopes reads: a point delete on a bucket-partitioned key rewrites
    // only that bucket's files (bounds alone often straddle the literal)
    val filters = withProjectedFilters(tablePath, filters0)
    val parentId = currentSnapshotId(tablePath)
    val live = dataFiles(tablePath)
    // a file needs rewriting only if every conjunct can match it
    val (touched, kept) = live.partition(f => filters.forall(_.matches(f)))
    // the residual takes the ORIGINAL conjuncts: projected ones name
    // partition fields that are not data columns, and on a
    // spec-evolved table not even every touched file carries them
    val residual = residualFilters(filters0, touched)
    val written =
      if (residual.isEmpty) nothingWritten // none touched, or deleted wholesale
      else {
        // pending MoR deletes on the touched files materialize here
        val df = readWithDeletes(spark, tablePath, touched, parentId)
        val survivors = df.filter(not(coalesce(
          residual.map(rowPredicate(df, _)).reduce(_ && _), lit(false))))
        writeDataFiles(spark, tablePath, survivors,
          rewritePartCols(partitionSpec(tablePath), touched), s"delete-${runTag()}")
      }
    commitRewrite(tablePath, parentId, kept, written, "delete")
  }

  /** Copy-on-write row-level UPDATE as ONE NEW SNAPSHOT (SQL `UPDATE
    * ... SET ... WHERE ...`): rows matching `condition` get the
    * `assignments` applied (each value cast to the column's type);
    * every other row — including non-matching rows in touched files —
    * is carried byte-for-byte. The condition's supported conjuncts
    * scope the rewrite exactly as they scope reads
    * ([[resolvedMetaFilters]] → partition/manifest/bounds matching,
    * hidden-partition projection included), so an update keyed to one
    * partition/day rewrites only that slice and every other file is
    * carried VERBATIM in the manifest — at 100 TB the difference
    * between a surgical rewrite and a full-table pass. Pruning is a
    * conservative superset (a translated conjunct is one of the
    * condition's own conjuncts, so every row the condition matches
    * lives in a touched file); correctness comes from the row-level
    * `when(condition, ...)` applied inside the rewrite. Updating a
    * partition-driving column is allowed — rows MOVE: hidden-spec
    * fields are re-derived from the updated sources (stale recovered
    * values dropped first), legacy partition columns re-bucket by
    * their new value through the shared write path. Pending
    * merge-on-read deletes on touched files materialize (they are
    * read through [[readWithDeletes]]); prior snapshots stay
    * time-travelable. Returns the new snapshot id (parent id when no
    * file could match). */
  def updateWhere(spark: SparkSession, tablePath: String,
      condition: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    import org.apache.spark.sql.functions.{col, when}
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    require(assignments.map(_._1).distinct.size == assignments.size,
      "duplicate assignment targets")
    val parentId = currentSnapshotId(tablePath)
    val rmap = renames(tablePath) // physical -> logical
    // ONE manifest pass: the probe's legacy-partition-key harvest and
    // the touch partition both read this listing
    val live = dataFiles(tablePath)
    val metaFilters = withProjectedFilters(tablePath,
      resolvedMetaFilters(spark, tablePath, condition, None, Some(live))
        .map(physicalFilter(rmap, _)))
    val (touched, kept) = live.partition(f => metaFilters.forall(_.matches(f)))
    if (touched.isEmpty) return parentId.getOrElse(0L)
    val spec = partitionSpec(tablePath)
    val dfPhys = readWithDeletes(spark, tablePath, touched, parentId)
    val df = if (rmap.isEmpty) dfPhys else dfPhys.withColumnsRenamed(rmap)
    val missing = assignments.map(_._1).filterNot(df.columns.contains)
    require(missing.isEmpty, s"UPDATE targets unknown columns: ${missing.mkString(", ")}")
    val assigned = assignments.toMap
    val updated = df.select(df.columns.toSeq.map { c =>
      assigned.get(c) match {
        case Some(v) =>
          when(condition, v.cast(df.schema(df.schema.fieldIndex(c)).dataType))
            .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
    val backPhys =
      if (rmap.isEmpty) updated else updated.withColumnsRenamed(rmap.map(_.swap))
    // derived (non-identity) spec fields recovered at read are stale
    // the moment their source column changed: drop and re-derive
    val derivedNames = spec.filter(_.transform != IcebergTransforms.Identity).map(_.name)
    val rederived = withSpecColumns(spec, backPhys.drop(derivedNames: _*))
    commitRewrite(tablePath, parentId, kept,
      writeDataFiles(spark, tablePath, rederived, rewritePartCols(spec, touched),
        s"update-${runTag()}", trustedPreDerived = true), "overwrite")
  }

  /** TRUNCATE as a NEW SNAPSHOT: zero entries, schema carried, prior
    * snapshots (and any branch/tag pinning them) stay time-travelable
    * until GC — a metadata-only commit however large the table. */
  def truncate(tablePath: String): Long = {
    // no rows -> no column stats: carrying the parent's sidecars
    // would report NDVs for deleted data
    commitRewrite(tablePath, currentSnapshotId(tablePath), Nil, nothingWritten,
      "delete", resetStats = true)
  }

  /** Small-file COMPACTION as a NEW SNAPSHOT: every live row is
    * rewritten into one file per partition tuple (the bin-packing
    * maintenance op a 100 TB table needs after many small appends —
    * manifest length and open-file count stay sane). Data is
    * row-identical by construction (same rows, per-partition bounds
    * re-derived by the shared write path); prior snapshots still
    * reference the original small files, so time travel is unaffected
    * until a separate GC expires them. At real scale, compact a
    * partition-predicate-pruned file subset per maintenance run rather
    * than the whole table, and split fat partitions over several tasks
    * — the same `readFileSet`/`writeDataFiles` machinery applies to
    * any file subset. */
  def compact(spark: SparkSession, tablePath: String): Long = {
    import org.apache.spark.sql.functions.col
    val parentId = currentSnapshotId(tablePath)
    val live = dataFiles(tablePath)
    if (live.isEmpty) return parentId.getOrElse(0L)
    val spec = partitionSpec(tablePath)
    val partCols = rewritePartCols(spec, live)
    // a full rewrite MATERIALIZES every pending merge-on-read delete
    // (equality AND position): read with deletes applied; nothing is
    // kept, so the commit clears the pending lists. Spec tables
    // re-derive their hidden partition columns so the repartition keys
    // resolve.
    val base = withSpecColumns(spec,
      readWithDeletes(spark, tablePath, live, parentId))
    val df =
      if (partCols.nonEmpty) base.repartition(partCols.map(col): _*)
      else base.coalesce(1)
    commitRewrite(tablePath, parentId, Nil,
      writeDataFiles(spark, tablePath, df, partCols, s"compact-${runTag()}",
        trustedPreDerived = true), "replace", resetStats = true)
  }

  /** SIZE-AWARE compaction (real Iceberg's `rewriteDataFiles` /
    * Delta's `OPTIMIZE` bin-packing contract): only files SMALLER than
    * `smallBytes` are rewritten — one consolidated file per partition
    * tuple that has small files — and every adequately-sized file is
    * carried forward VERBATIM, path-identical and never read. This is
    * the maintenance shape a 100 TB table needs: a streaming ingest
    * leaves thousands of KB-sized files beside TB of well-formed ones,
    * and [[compact]]'s full rewrite would re-shuffle the entire table
    * to fix a metadata problem. Partition tuples with fewer than 2
    * small files are skipped outright (rewriting one small file buys
    * nothing). Pending MoR deletes materialize ONLY for the rewritten
    * files — carried files keep their pending entries, exactly like
    * every other partial rewrite. Returns the new snapshot id (or the
    * current one when nothing qualifies). */
  def compactSmallFiles(spark: SparkSession, tablePath: String,
      smallBytes: Long): Long = {
    import org.apache.spark.sql.functions.col
    require(smallBytes > 0, "compactSmallFiles needs a positive size threshold")
    val parentId = currentSnapshotId(tablePath)
    val live = dataFiles(tablePath)
    if (live.isEmpty) return parentId.getOrElse(0L)
    // unknown sizes (-1, pre-size metadata) count as small: the
    // conservative direction is consolidating them, never skipping
    val small = live.filter(f => f.fileSizeBytes < smallBytes)
    val byTuple = small.groupBy(_.partition)
    val touched = byTuple.filter(_._2.size >= 2).values.flatten.toSeq
    if (touched.isEmpty) return parentId.getOrElse(0L)
    val touchedSet = touched.toSet
    val kept = live.filterNot(touchedSet)
    val spec = partitionSpec(tablePath)
    val partCols = rewritePartCols(spec, touched)
    val base = withSpecColumns(spec,
      readWithDeletes(spark, tablePath, touched, parentId))
    val df =
      if (partCols.nonEmpty) base.repartition(partCols.map(col): _*)
      else base.coalesce(1)
    commitRewrite(tablePath, parentId, kept,
      writeDataFiles(spark, tablePath, df, partCols, s"compact-${runTag()}",
        trustedPreDerived = true), "replace")
  }

  /** What a [[merge]] does with a target row whose key the source names
    * (SQL `WHEN MATCHED`). `deleteBySource` adds `WHEN NOT MATCHED BY
    * SOURCE THEN DELETE`: target rows whose key the source does not
    * name are dropped, so every live file is rewritten. */
  sealed trait WhenMatched { def deleteBySource: Boolean = false }
  object WhenMatched {
    /** `UPDATE SET *`: the source row replaces the target row.
      * `precedence` orders it (`WHEN MATCHED AND s.p >= t.p`): the
      * target row stays when its value is non-null and the source's is
      * null or smaller — nulls lose, ties go to the source.
      * `tombstone` names a boolean source column marking CDC delete
      * records (`WHEN MATCHED AND s.flag THEN DELETE`): a flagged row
      * deletes its match (under `precedence`, only when it wins) and is
      * never inserted; the flag never lands in the table. */
    final case class UpdateAll(precedence: Option[String] = None,
        tombstone: Option[String] = None) extends WhenMatched
    /** `UPDATE SET col = expr`: each assigned column takes its value,
      * which sees target columns bare and source columns as
      * `__graft_s_<name>`; unassigned columns keep the target's. */
    final case class Update(assigns: Seq[(String, org.apache.spark.sql.Column)],
        override val deleteBySource: Boolean = false) extends WhenMatched
    /** `THEN DELETE`: the target row is dropped. */
    case object Delete extends WhenMatched
    /** No `WHEN MATCHED` clause: the target row stays as it is. Without
      * `deleteBySource` the merge rewrites no live file. */
    final case class Keep(override val deleteBySource: Boolean = false)
      extends WhenMatched
  }

  /** What a [[merge]] does with a source row whose key no target row
    * has (SQL `WHEN NOT MATCHED`). */
  sealed trait WhenNotMatched
  object WhenNotMatched {
    /** `INSERT *`: the source row lands as it is. */
    case object InsertAll extends WhenNotMatched
    /** `INSERT (cols) VALUES (exprs)`: each value sees source columns
      * as `__graft_s_<name>`; unassigned columns are null. */
    final case class Insert(assigns: Seq[(String, org.apache.spark.sql.Column)])
      extends WhenNotMatched
    /** No `WHEN NOT MATCHED` clause: the source row is dropped. */
    case object Skip extends WhenNotMatched
  }

  /** Copy-on-write MERGE as a NEW SNAPSHOT (SQL `MERGE INTO`, the shape
    * of Spark's own copy-on-write rewrite). A target file is touched
    * only if some source key falls within its per-column bounds /
    * partition value (hidden-partition projection included); every
    * other file is carried forward VERBATIM (path-identical, never
    * read). Source keys are collected for exact per-file pruning when
    * ≤ `maxKeyPrune` distinct keys (the usual upsert-batch case), else
    * pruning falls back to the source's per-column [min,max] range.
    * The touched rows (read with pending MoR deletes applied, which the
    * rewrite materializes) are joined to the source on the keys — a
    * full outer join when there is an insert arm, a left outer join
    * otherwise — and one per-row projection decides each row:
    *
    * | row class | what happens |
    * |---|---|
    * | target only (null keys included: SQL equality never matches them) | carried unchanged; dropped under `deleteBySource` |
    * | source only | `whenNotMatched`: inserted (`InsertAll`, `Insert`) or dropped (`Skip`); a tombstone is never inserted |
    * | matched | `whenMatched`, per target row: replaced (`UpdateAll`), assigned (`Update`), dropped (`Delete`) or kept (`Keep`) |
    *
    * A key held by two live target rows matches each of them, so
    * `UpdateAll` leaves one source copy per target row (SQL MERGE
    * semantics; before this evaluator a plain upsert collapsed the key
    * to one row). `Keep` without `deleteBySource` (insert-only MERGE)
    * reads the touched files for their keys only and carries every
    * live file; `deleteBySource` reads and rewrites every live file.
    * Output columns are the table's recorded schema plus its identity /
    * legacy partition columns, each cast to the table's type; a table
    * without a recorded schema takes them from the touched read, or
    * from the source when nothing is touched. A source with duplicate
    * keys is rejected (the merge would be ambiguous — real Iceberg
    * MERGE errors the same way). Source, key, precedence and
    * assignment names arrive logical. A branch merge plans against the
    * BRANCH head's snapshot and commits by moving the branch ref.
    * Prior snapshots stay time-travelable. Across batches a tombstone
    * leaves no marker, so a stale upsert REPLAYED in a later batch
    * re-inserts its key — the same contract as SQL MERGE. */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
      keyCols: Seq[String], maxKeyPrune: Int = 10000,
      toBranch: Option[String] = None,
      whenMatched: WhenMatched = WhenMatched.UpdateAll(),
      whenNotMatched: WhenNotMatched = WhenNotMatched.InsertAll): Long = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.GraftColumnBridge.{toCol, toExpr}
    val parentId = toBranch match {
      case Some(name) => Some(resolveBranchHead(tablePath, name))
      case None => currentSnapshotId(tablePath)
    }
    // translate every logical name once; mergeImpl runs physical-native
    val rmap = renames(tablePath, parentId)
    def phys(assigns: Seq[(String, org.apache.spark.sql.Column)]) =
      assigns.map { case (c, v) =>
        physicalName(rmap, c) -> toCol(toExpr(v).transform {
          case a: UnresolvedAttribute =>
            val n = a.nameParts.last
            UnresolvedAttribute.quoted(
              if (n.startsWith(SrcPrefix))
                SrcPrefix + physicalName(rmap, n.stripPrefix(SrcPrefix))
              else physicalName(rmap, n))
        })
      }
    mergeImpl(spark, tablePath,
      if (rmap.isEmpty) source else source.withColumnsRenamed(rmap.map(_.swap)),
      keyCols.map(physicalName(rmap, _)), maxKeyPrune, parentId, toBranch,
      whenMatched match {
        case m: WhenMatched.UpdateAll => m.copy(precedence = m.precedence.map(physicalName(rmap, _)))
        case m: WhenMatched.Update => m.copy(assigns = phys(m.assigns))
        case m => m
      },
      whenNotMatched match {
        case WhenNotMatched.Insert(assigns) => WhenNotMatched.Insert(phys(assigns))
        case n => n
      })
  }

  /** How merge assignment values name source columns. */
  private val SrcPrefix = "__graft_s_"

  private def mergeImpl(spark: SparkSession, tablePath: String, source: DataFrame,
      keyCols: Seq[String], maxKeyPrune: Int, parentId: Option[Long],
      toBranch: Option[String], whenMatched: WhenMatched,
      whenNotMatched: WhenNotMatched): Long = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, min, when}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(!source.columns.exists(_.startsWith("__graft_")),
      "source columns may not start with the reserved __graft_ prefix")
    val (precedence, tombstone) = whenMatched match {
      case WhenMatched.UpdateAll(p, t) => (p, t)
      case _ => (None, None)
    }
    tombstone.foreach { t =>
      require(source.columns.contains(t), s"tombstone column $t absent from source")
      require(!keyCols.contains(t), "the tombstone flag cannot be a key column")
    }
    val live = dataFiles(tablePath, parentId)
    val spec = partitionSpec(tablePath)
    val partCols = rewritePartCols(spec, live)
    // an aggregate with no limit: its generated classes are the same on
    // every call, so a warm merge finds them in the codegen cache
    val dupKeys = source.groupBy(keyCols.map(col): _*).count()
      .filter(col("count") > 1).count()
    require(dupKeys == 0, s"merge source has duplicate keys on ${keyCols.mkString(",")}")
    // file-level pruning against the source's key set (string-cast, the
    // same encoding the manifest bounds use), expressed as the SAME
    // PartitionFilter machinery reads use — so hidden-partitioning
    // projection applies: a CDC upsert into a bucket-partitioned table
    // rewrites only the buckets its keys hash into, and a range
    // fallback on a day-partitioned table only that date range.
    // Projection folds once per key through EVERY spec version (an
    // old-layout file prunes under its own version's field, and a
    // conjunct on a field a file lacks is conservatively true).
    val specFields = partitionSpecs(tablePath).flatten.distinct
    def projected(fs: Seq[PartitionFilter]): Seq[PartitionFilter] =
      if (specFields.isEmpty) fs
      else fs ++ IcebergTransforms.projectFilters(specFields, fs)
    val keyRows = source
      .select(keyCols.map(c => col(c).cast("string").as(c)): _*)
      .distinct().limit(maxKeyPrune + 1).collect()
    val touched =
      if (keyRows.length <= maxKeyPrune) {
        val keyFilterSets: Seq[Seq[PartitionFilter]] = keyRows.toSeq.map(r =>
          projected(keyCols.indices.map(i => Eq(keyCols(i), r.getString(i)))))
        live.filter(f => keyFilterSets.exists(_.forall(_.matches(f))))
      } else {
        val aggs = keyCols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"__lo_$c"),
          max(col(c)).cast("string").as(s"__hi_$c")))
        val r = source.agg(aggs.head, aggs.tail: _*).collect()(0)
        val rangeFilters = projected(keyCols.flatMap(c => Seq(
          GtEq(c, r.getAs[String](s"__lo_$c")),
          LtEq(c, r.getAs[String](s"__hi_$c")))))
        live.filter(f => rangeFilters.forall(_.matches(f)))
      }
    // which live files the merge reads, and whether it rewrites them:
    // a by-source delete may drop a row of any file; an insert-only
    // merge reads the touched files for their keys and carries them
    val bySource = whenMatched.deleteBySource
    val rewrites = whenMatched != WhenMatched.Keep()
    val read = if (bySource) live else touched
    if ((read.isEmpty || !rewrites) && whenNotMatched == WhenNotMatched.Skip)
      return parentId.getOrElse(0L) // nothing can change
    val readDf =
      if (read.isEmpty) None else Some(readWithDeletes(spark, tablePath, read, parentId))
    val recorded = tableSchema(tablePath, parentId)
    val outSchema = recorded match {
      case Some(base) =>
        // identity / legacy partition columns live in the file paths,
        // not the recorded data schema
        val partStrings =
          if (spec.isEmpty) partCols
          else spec.filter(_.transform == IcebergTransforms.Identity).map(_.name).sorted
        StructType(base.fields ++ partStrings.filterNot(base.fieldNames.contains)
          .map(StructField(_, StringType)))
      case None => readDf.map(_.schema).getOrElse(
        StructType(source.schema.filterNot(f => tombstone.contains(f.name))))
    }
    val outCols = outSchema.fieldNames.toSeq
    require(!outCols.exists(_.startsWith("__graft_")),
      "table columns may not start with the reserved __graft_ prefix")
    tombstone.foreach(t => require(!outCols.contains(t),
      s"tombstone column $t collides with a table column"))
    precedence.foreach(p => require(outCols.contains(p) && source.columns.contains(p),
      s"precedence column $p must be a table column the source carries"))
    val assigned = (whenMatched, whenNotMatched) match {
      case (m: WhenMatched.Update, WhenNotMatched.Insert(i)) => m.assigns ++ i
      case (m: WhenMatched.Update, _) => m.assigns
      case (_, WhenNotMatched.Insert(i)) => i
      case _ => Nil
    }
    require(assigned.isEmpty || recorded.nonEmpty,
      "expr-merge needs a target with a recorded schema")
    val badAssign = assigned.map(_._1).filterNot(outCols.contains)
    require(badAssign.isEmpty,
      s"SET/INSERT targets not in the table schema: ${badAssign.mkString(", ")}")
    val star = whenMatched.isInstanceOf[WhenMatched.UpdateAll] ||
      whenNotMatched == WhenNotMatched.InsertAll
    val missing = if (star) outCols.filterNot(source.columns.contains) else Nil
    require(missing.isEmpty, s"INSERT * needs the source to carry every target " +
      s"column; missing: ${missing.mkString(", ")}")

    // the join: target rows (keys only when nothing is rewritten; an
    // empty frame when nothing is read) against the key-prefixed source
    val target0 = readDf.getOrElse(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema))
    val target = (if (rewrites) target0 else target0.select(keyCols.map(col): _*))
      .withColumn("__graft_t", lit(true))
    val src = source.select(source.columns.toSeq.map(c => col(c).as(SrcPrefix + c)) :+
      lit(true).as("__graft_s"): _*)
    val joined = target.join(src,
      keyCols.map(k => col(k) === col(SrcPrefix + k)).reduce(_ && _),
      if (whenNotMatched == WhenNotMatched.Skip) "left_outer" else "full_outer")

    // the per-row projection: which rows stay, and each column's value
    // (cast to the table's type wherever it may differ)
    def typed(c: String, v: Column): Column = v.cast(outSchema(c).dataType)
    def t(c: String): Column =
      if (target.columns.contains(c)) col(c) else typed(c, lit(null))
    def s(c: String): Column =
      if (outCols.contains(c)) typed(c, col(SrcPrefix + c)) else col(SrcPrefix + c)
    val tombstoned = tombstone.fold(lit(false))(f => coalesce(s(f).cast("boolean"), lit(false)))
    val sourceWins = precedence.fold(lit(true))(p =>
      !(t(p).isNotNull && (s(p).isNull || t(p) > s(p))))
    val (matchedKeep, matchedValue): (Column, String => Column) = whenMatched match {
      case _: WhenMatched.UpdateAll =>
        (!(sourceWins && tombstoned), c => when(sourceWins, s(c)).otherwise(t(c)))
      case WhenMatched.Update(assigns, _) =>
        (lit(true), c => assigns.toMap.get(c).fold(t(c))(typed(c, _)))
      case WhenMatched.Delete => (lit(false), t)
      case _: WhenMatched.Keep => (lit(rewrites), t)
    }
    val (insertKeep, insertValue): (Column, String => Column) = whenNotMatched match {
      case WhenNotMatched.InsertAll => (!tombstoned, s)
      case WhenNotMatched.Insert(assigns) =>
        (!tombstoned, c => typed(c, assigns.toMap.getOrElse(c, lit(null))))
      case WhenNotMatched.Skip => (lit(false), t)
    }
    val targetOnly = col("__graft_s").isNull
    val sourceOnly = col("__graft_t").isNull
    val rows = joined
      .filter(when(sourceOnly, insertKeep)
        .when(targetOnly, lit(rewrites && !bySource)).otherwise(matchedKeep))
      .select(outSchema.fields.toSeq.map(f =>
        when(sourceOnly, insertValue(f.name)).when(targetOnly, t(f.name))
          .otherwise(matchedValue(f.name)).as(f.name)): _*)
    // the join shuffles rows by key: on a partitioned table, regroup
    // them by partition tuple (AQE sizes the tasks) so the write cuts
    // one file per tuple, not one per task and tuple
    val derived = withSpecColumns(spec, rows, trustedPreDerived = false)
    val grouped =
      if (partCols.isEmpty) derived else derived.hint("rebalance", partCols.map(col): _*)
    commitRewrite(tablePath, parentId,
      if (bySource) Nil else if (rewrites) live.filterNot(touched.toSet) else live,
      writeDataFiles(spark, tablePath, grouped, partCols, s"merge-${runTag()}",
        trustedPreDerived = true),
      "overwrite", toBranch = toBranch)
  }

  /** Snapshot EXPIRY — the GC that completes the copy-on-write family:
    * every snapshot except the most recent `retainLast` (the current
    * snapshot is always retained) is dropped, and every manifest,
    * manifest list, and DATA FILE that no retained snapshot references
    * is physically deleted. Compact/delete/overwrite keep old files
    * alive for time travel; this is where the space is actually
    * reclaimed once the retention window passes. Driver work is
    * metadata-only and the delete set comes from MANIFESTS, never a
    * directory walk of `data/` — at 100 TB, listing the data tree is
    * the operation you cannot afford (orphan-file scavenging is a
    * separate audit job in real Iceberg too). A retained snapshot
    * whose parent was expired keeps its dangling parent id, exactly
    * like real Iceberg: lineage is historical, reads never consult it.
    * Single-writer assumed, like commits. Returns
    * (expired snapshot count, deleted data file count). */
  def expireSnapshots(tablePath: String, retainLast: Int = 1,
      olderThanTsMs: Option[Long] = None): (Int, Int) = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    // the whole retention computation + deletion runs under the commit
    // lock: createTag/createBranch validate-then-write refs under it,
    // so an unlocked expire could read refs.json an instant before a
    // concurrent tag lands, then delete the snapshot that tag had just
    // validated — a dangling ref whose readRef throws. Lock-ordering
    // with commits also means no snapshot can be appended mid-expiry.
    withCommitLock(tablePath) {
      val all = snapshots(tablePath)
      // ref'd snapshots are GC-immune: a tag/branch head stays
      // time-travelable (its manifest list re-lists every file it needs,
      // so retaining the snapshot retains its data) until the ref is
      // dropped — real Iceberg's ref-retention contract
      val (refTags, refBranches) = readRefs(tablePath)
      // `olderThanTsMs` adds real Iceberg's expire_snapshots(older_than)
      // age guard ON TOP of retainLast: a snapshot committed AT or
      // AFTER this absolute epoch timestamp stays even when the
      // count-based policy would drop it (both policies retain;
      // neither can force an expiry the other forbids). NOTE the
      // deliberate name difference from removeOrphanFiles'
      // olderThanMs, which is a RELATIVE age — the suffix marks this
      // one as a timestamp so the two cannot be confused silently.
      val youngEnough = olderThanTsMs match {
        case None => Set.empty[Long]
        case Some(cutoff) =>
          all.filter(snapshotTimestampMs(tablePath, _) >= cutoff).toSet
      }
      // a ref WITH a retention policy ([[setRefRetention]]) protects
      // its ancestor CHAIN, not just its head: the newest
      // min_snapshots_to_keep ancestors plus every ancestor younger
      // than max_snapshot_age_ms — real Iceberg's per-ref retention,
      // which is what lets an audit branch keep history main expires
      val retentions = refRetentions(tablePath)
      val now = System.currentTimeMillis()
      def ancestorChain(head: Long): Seq[Long] =
        Iterator.iterate(Option(head))(_.flatMap(parentSnapshotId(tablePath, _)))
          .takeWhile(_.nonEmpty).map(_.get).toSeq
      val refProtected = (refTags.toSeq ++ refBranches.toSeq).flatMap {
        case (name, head) => retentions.get(name) match {
          case None => Seq(head)
          case Some(r) =>
            val chain = ancestorChain(head)
            chain.take(math.max(1, r.minSnapshotsToKeep.getOrElse(1))) ++
              r.maxSnapshotAgeMs.map(age => chain.filter(
                snapshotTimestampMs(tablePath, _) >= now - age)).getOrElse(Nil)
        }
      }
      val retained = (all.takeRight(retainLast) ++ currentSnapshotId(tablePath) ++
        refProtected ++ youngEnough).distinct.toSet
      val expired = all.filterNot(retained)
      if (expired.isEmpty) (0, 0)
      else {
        def manifestsOf(id: Long): Seq[String] = parentManifests(tablePath, Some(id))
        // delete KEY FILES join the data retention set, or a retained
        // snapshot's pending deletes would silently fail open after GC
        val keepManifests = retained.flatMap(manifestsOf)
        val keepData = retained.flatMap(referencedFiles(tablePath, _))
        val dropData = expired.flatMap(referencedFiles(tablePath, _)).distinct
          .filterNot(keepData)
        val dropManifests = expired.flatMap(manifestsOf).distinct.filterNot(keepManifests)
        // NDV-sketch sidecars (parquet DIRECTORIES under metadata/)
        // referenced only by expired snapshots go too
        def statsOf(id: Long): Seq[String] = statsFiles(tablePath, Some(id))
        val keepStats = retained.flatMap(statsOf)
        val dropStats = expired.flatMap(statsOf).distinct.filterNot(keepStats)
        def rm(rel: String): Unit = Files.deleteIfExists(Paths.get(s"$tablePath/$rel"))
        def rmTree(rel: String): Unit = {
          val p = Paths.get(s"$tablePath/$rel")
          if (Files.exists(p))
            Files.walk(p).iterator().asScala.toSeq.reverse
              .foreach(Files.deleteIfExists(_))
        }
        dropData.foreach(rm)
        dropManifests.foreach(rm)
        dropStats.foreach(rmTree)
        expired.foreach { id =>
          rm(s"metadata/manifest-list-$id.json")
          rm(s"metadata/snap-$id.snapshot.json")
        }
        (expired.size, dropData.size)
      }
    }
  }

  /** Every file under `data/` snapshot `id` references: its live data
    * files plus its pending equality- and position-delete KEY FILES
    * (listed in the snapshot document, not in manifests). */
  private def referencedFiles(tablePath: String, id: Long): Seq[String] = {
    val d = snapshot(tablePath, id).deletes
    dataFiles(tablePath, Some(id)).map(_.filePath) ++
      d.eq.map(_.filePath) ++ d.pos.map(_.filePath)
  }

  /** Metadata-only column RENAME as a NEW SNAPSHOT — the second
    * schema-evolution form after add-column (which is append-driven
    * via mergeSchema). Real Iceberg renames through field-id
    * indirection: data files never change, the schema maps ids to
    * current names. This JSON layout has no field ids, so the same
    * contract is kept with a cumulative physical→logical NAME MAP
    * stored in each snapshot: data files (and manifest bounds /
    * partition keys) always keep the ORIGINAL physical name — writes
    * after a rename translate back before touching parquet — and
    * `read` surfaces each snapshot's own logical names, so time
    * travel before the rename sees the old name, exactly like real
    * Iceberg's per-snapshot schema. Renames compose (a→b then b→c
    * maps the physical a→c; renaming back to the physical name drops
    * the entry) and every subsequent commit carries the map forward.
    * Zero data I/O: one empty-manifest snapshot commit. */
  def renameColumn(tablePath: String, oldName: String, newName: String): Long = {
    val parentId = currentSnapshotId(tablePath)
    require(parentId.nonEmpty, "rename on an empty table (no snapshot)")
    // hidden-partitioning specs bind source columns by PHYSICAL name
    // (real Iceberg binds by field id, which survives renames; this
    // JSON layout pins the name instead and refuses the rename)
    val specNames = partitionSpecs(tablePath).flatten
      .flatMap(f => Seq(f.source, f.name)).toSet
    require(!specNames.contains(oldName) && !specNames.contains(newName),
      s"cannot rename $oldName -> $newName: partition-spec source/field names are fixed")
    val parentMap = renames(tablePath, parentId)
    // the current logical column set, recovered from metadata alone:
    // manifest bounds + partition keys name every column data files
    // carry, UNIONED with the tracked snapshot schema (physical names)
    // — bounds alone miss all-NULL columns (no stats recorded), which
    // both made them un-renameable and let another column be renamed
    // ONTO their name
    val schemaCols = tableSchema(tablePath, parentId)
      .map(_.fieldNames.toSet).getOrElse(Set.empty)
    val physCols = dataFiles(tablePath).flatMap(f =>
      f.lowerBounds.keys ++ f.upperBounds.keys ++ f.partition.keys).toSet ++
      schemaCols
    val logicalNow = physCols.map(p => parentMap.getOrElse(p, p)) ++ parentMap.values
    // collision checks are CASE-INSENSITIVE: readers resolve names
    // case-insensitively, so two columns differing only in case are
    // ambiguous to every query. Re-casing the renamed column itself
    // (old/new differ only in case) is the one legal overlap.
    require(!logicalNow.exists(n =>
        n.equalsIgnoreCase(newName) && !n.equalsIgnoreCase(oldName)),
      s"column name $newName is already in use")
    require(logicalNow.contains(oldName) || physCols.isEmpty,
      s"column $oldName does not exist")
    val phys = physicalName(parentMap, oldName)
    // newName must also avoid every OTHER column's PHYSICAL name: the
    // logical→physical write-path translation would otherwise rename a
    // physically-read column onto a live one (duplicate columns in
    // every subsequent rewrite). Renaming a column back to its own
    // physical name (phys == newName) is the one legal overlap.
    require(!(physCols - phys).exists(_.equalsIgnoreCase(newName)),
      s"column name $newName shadows another column's physical name")
    val newMap =
      if (phys == newName) parentMap - phys
      else (parentMap - phys) + (phys -> newName)
    commitSnapshot(tablePath, parentId, entries = Nil,
      carriedManifests = parentManifests(tablePath, parentId),
      operation = "replace", columnRenames = newMap)
  }

  /** ORPHAN-FILE removal — the separate audit job `expireSnapshots`'s
    * docstring defers to: physically deletes files under `data/` that
    * NO snapshot (current or historical) references. Orphans are the
    * residue of failed writes — a job wrote its data files but died
    * before the snapshot commit flipped the metadata pointer, so no
    * manifest ever points at them and neither reads nor expiry (which
    * works from manifests alone) will ever reclaim them. Unlike every
    * other op here, this one necessarily LISTS the data tree — that is
    * the definition of finding orphans, and real Iceberg's
    * `remove_orphan_files` pays the same listing (distributed over
    * executors at scale; here a local walk, same contract). It runs on
    * an audit cadence, never on the commit path. `olderThanMs` guards
    * files an IN-FLIGHT write has landed but not yet committed — the
    * race real Iceberg mitigates with its 3-day default retention;
    * 0 (the test setting) means "everything unreferenced". Hidden
    * paths (any `_`- or `.`-prefixed segment: committer markers like
    * `_SUCCESS`, `.crc` sidecars) are skipped, the same
    * HiddenPathFilter real Iceberg's orphan scan applies — they are
    * write bookkeeping, not data, and no manifest will ever reference
    * them. Returns the table-relative paths it deleted. */
  def removeOrphanFiles(tablePath: String, olderThanMs: Long = 3L * 24 * 3600 * 1000)
      : Seq[String] = {
    val referenced: Set[String] =
      snapshots(tablePath).flatMap(referencedFiles(tablePath, _)).toSet
    val dataRoot = Paths.get(s"$tablePath/data")
    if (!Files.exists(dataRoot)) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    val tableRoot = Paths.get(tablePath)
    def hidden(rel: String): Boolean =
      rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith("."))
    val orphans = Files.walk(dataRoot).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => tableRoot.relativize(p).toString)
      .filterNot(referenced)
      .filterNot(hidden)
      .filter(rel => Files.getLastModifiedTime(
        tableRoot.resolve(rel)).toMillis <= cutoff)
      .toSeq.sorted
    orphans.foreach(rel => Files.deleteIfExists(tableRoot.resolve(rel)))
    orphans
  }

  /** Sort-based CLUSTER rewrite as a NEW SNAPSHOT — the data-skipping
    * maintenance op: live rows are range-repartitioned on `sortCols`
    * into ~`targetFiles` files (sorted within each), and per-FILE
    * column bounds are recorded by the rewrite's own write tasks.
    * That last step is the point:
    * `append`/`compact` record bounds per partition tuple
    * (conservative-correct but wide), so a predicate on a scattered
    * column keeps every file; after clustering, file ranges on
    * `sortCols` are disjoint and min/max skipping becomes surgical —
    * at 100 TB this is the difference between scanning a partition
    * and scanning one file of it.
    *
    * Lexicographic sort (the default) makes skipping surgical on the
    * LEADING column only. `zorder = true` instead range-partitions on
    * a Morton code ([[graft.functions.expressions.ZOrderCode]]:
    * each column min/max-scaled to 16 bits, bits interleaved
    * MSB-first), so every file covers a roughly square region of the
    * multi-column key space and min/max skipping works on ALL the
    * clustered columns — a predicate selecting 1/w of ONE dimension
    * touches O(files/w^(1/k)) files instead of all of them
    * (SourcesSpec measures both dimensions pruning on the same
    * table, and the lexicographic trailing-column failure it fixes).
    * Z-order columns must be numeric/date/timestamp — rank-coding
    * strings needs a quantile pass; use lexicographic clustering for
    * string keys. The min/max scaling pass collects 2 doubles per
    * column; skewed value distributions waste code range (quantile
    * coding would fix that) but per-file BOUNDS are recorded from
    * the actual values, so skipping stays exact either way.
    *
    * The bounds, counts and NDV sketches come out of the rewrite's
    * own write pass — no second scan of the rewritten slice. Prior
    * snapshots stay time-travelable.
    *
    * `partitionScoped = true` clusters each hive partition's files
    * INDEPENDENTLY: the range shuffle keys on (partition columns,
    * sort key), so each output task holds one partition's contiguous
    * key range and the `partitionBy` write emits ~one file per task
    * instead of one file per (task × partition dir) — without it a
    * global z-range straddles every hive dir and the file count
    * multiplies by the partition count (the r6 SCALE.md caveat). For
    * z-order the min/max scaling is also computed PER PARTITION
    * TUPLE (one grouped agg, broadcast-joined back), so each
    * partition uses its full 16-bit code range — a day-partitioned
    * table whose ids grow monotonically would otherwise spend most
    * of the global code range on other days. `targetFiles` becomes
    * per-partition; total output files ≲ targetFiles × partitions
    * (+1 per range-boundary straddle).
    *
    * `quantileCoded = true` switches the z codes from min/max linear
    * scaling to RANK coding ([[graft.functions.expressions
    * .QuantileBucket]]): each column's code is its bucket among ~256
    * equi-depth quantile boundaries (approx-percentile for numerics;
    * a bounded distributed sample for strings, the RangePartitioner
    * sketch). This closes min/max coding's two gaps: a skewed column
    * (web-corpus doc lengths, power-law ids) no longer collapses 99%
    * of rows into a few codes — every bucket holds ~1/256 of the rows
    * so file bounds stay tight where the data actually is — and
    * STRING keys z-order by rank instead of being rejected. Boundary
    * computation is one agg / one bounded sample per column; codes
    * stay a per-row projection. */
  def cluster(spark: SparkSession, tablePath: String, sortCols: Seq[String],
      targetFiles: Int, zorder: Boolean = false,
      partitionScoped: Boolean = false,
      quantileCoded: Boolean = false): Long =
    // sort keys arrive logical; the rewrite reads/writes physical files
    clusterImpl(spark, tablePath,
      sortCols.map(physicalName(renames(tablePath), _)),
      targetFiles, zorder, partitionScoped, quantileCoded)

  /** Equi-depth boundary array for a STRING z-order column: a bounded
    * distributed sample (takeSample is a reservoir over executors — the
    * same sketch RangePartitioner draws), thinned to ≤`nBuckets`
    * boundaries. The sort happens AFTER converting to UTF8String, with
    * the eval-time comparator: `QuantileBucket` binary-searches via
    * `UTF8String.compareTo` (UTF-8 byte order), and Java String's
    * UTF-16 code-unit order diverges from it for supplementary
    * characters — a boundary array sorted the Java way reads as
    * UNSORTED at eval, yielding non-monotonic bucket codes and dead
    * z-order pruning (row values unaffected, clustering silently
    * degraded). */
  private[graft] def stringQuantileBoundaries(base: DataFrame, c: String,
      nBuckets: Int): IndexedSeq[org.apache.spark.unsafe.types.UTF8String] = {
    import org.apache.spark.sql.functions.col
    val sampled = base.select(col(c)).na.drop()
      .rdd.map(_.getString(0))
      .takeSample(withReplacement = false, num = nBuckets * 64, seed = 42L)
      .distinct
      .map(org.apache.spark.unsafe.types.UTF8String.fromString)
      .sortWith(_.compareTo(_) < 0)
    val step = math.max(1, sampled.length / nBuckets)
    val bs = sampled.indices.by(step).map(sampled(_)).toIndexedSeq
    if (bs.nonEmpty) bs
    else IndexedSeq(org.apache.spark.unsafe.types.UTF8String.fromString(""))
  }

  private def clusterImpl(spark: SparkSession, tablePath: String, sortCols: Seq[String],
      targetFiles: Int, zorder: Boolean,
      partitionScoped: Boolean,
      quantileCoded: Boolean): Long = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, floor, lit, max, min, when}
    require(sortCols.nonEmpty && targetFiles >= 1, "cluster needs sort columns and a file target")
    val parentId = currentSnapshotId(tablePath)
    val live = dataFiles(tablePath)
    if (live.isEmpty) return parentId.getOrElse(0L)
    val clusterSpec = partitionSpec(tablePath)
    val partCols = rewritePartCols(clusterSpec, live)
    val runDir = s"cluster-${runTag()}"
    // full rewrite: pending MoR deletes materialize (cleared at commit);
    // spec tables re-derive hidden partition columns for the scoped keys
    val base = withSpecColumns(clusterSpec,
      readWithDeletes(spark, tablePath, live, parentId))
    // scoped mode only changes anything on a partitioned table
    val scoped = partitionScoped && partCols.nonEmpty
    val nTuples = if (scoped) live.map(_.partition).distinct.size else 1
    val numParts = targetFiles * nTuples
    val keyPrefix = if (scoped) partCols.map(col) else Nil
    val df =
      if (!zorder) {
        val keys = keyPrefix ++ sortCols.map(col)
        base.repartitionByRange(numParts, keys: _*)
          .sortWithinPartitions(keys: _*)
      } else if (quantileCoded) {
        // rank coding: ~256 equi-depth boundaries per column, then the
        // per-row code is a binary-searched bucket index. Numerics use
        // one approx-percentile agg; strings use a bounded distributed
        // sample (takeSample is a reservoir over executors — the same
        // sketch RangePartitioner draws), sorted, thinned to ≤255
        // boundaries. Boundaries are computed over the whole rewrite
        // slice even under partitionScoped — scoping's file-count
        // guarantee comes from the (part, z) shuffle keys, not from
        // code scaling, and global equi-depth codes stay balanced
        // within any subset of rows.
        val nBuckets = 256
        import org.apache.spark.sql.GraftColumnBridge.{toCol, toExpr}
        // the bucket index is stretched to the FULL [0, 65535] code
        // range before interleaving: with the raw 0..~255 bucket as
        // the code, a column with few distinct boundaries has its
        // high Morton bits constant, the other dimension dominates
        // every interleave level, and file bounds never separate on
        // it — the exact failure the quantile mode exists to fix
        def scaled(bucket: org.apache.spark.sql.Column, nB: Int) =
          (bucket * lit(65535) / lit(math.max(1, nB))).cast("int")
        // ONE combined agg computes every numeric column's boundaries
        // in a single pass over the rewrite slice (per-column actions
        // would re-read it k times); string columns each need their
        // own bounded sample job (there is rarely more than one)
        val pcts = (1 until nBuckets).map(i => i.toDouble / nBuckets)
        val numericCols = sortCols.filter(c =>
          base.schema(c).dataType != org.apache.spark.sql.types.StringType)
        val numericBounds: Map[String, IndexedSeq[Double]] =
          if (numericCols.isEmpty) Map.empty
          else {
            val aggs2 = numericCols.map(c =>
              org.apache.spark.sql.functions.percentile_approx(
                col(c).cast("double"),
                org.apache.spark.sql.functions.lit(pcts.toArray),
                org.apache.spark.sql.functions.lit(10000)).as(s"__q_$c"))
            val row = base.agg(aggs2.head, aggs2.tail: _*).collect()(0)
            numericCols.map { c =>
              val bs = Option(row.getSeq[Double](row.fieldIndex(s"__q_$c")))
                .getOrElse(Seq(0.0)).distinct.sorted.toIndexedSeq
              c -> (if (bs.nonEmpty) bs else IndexedSeq(0.0))
            }.toMap
          }
        val codes = sortCols.map { c =>
          base.schema(c).dataType match {
            case org.apache.spark.sql.types.StringType =>
              val bsOr = stringQuantileBoundaries(base, c, nBuckets)
              scaled(toCol(graft.functions.expressions.QuantileBucket(
                toExpr(col(c)), bsOr)), bsOr.length)
            case _ =>
              val bs = numericBounds(c)
              scaled(toCol(graft.functions.expressions.QuantileBucket(
                toExpr(col(c).cast("double")), bs)), bs.length)
          }
        }
        val keys = keyPrefix :+ col("__z")
        base.withColumn("__z", toCol(
            graft.functions.expressions.ZOrderCode(codes.map(toExpr))))
          .repartitionByRange(numParts, keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop("__z")
      } else {
        sortCols.foreach { c =>
          val dt = base.schema(c).dataType
          require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
            dt.isInstanceOf[org.apache.spark.sql.types.DateType] ||
            dt.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
            dt.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType],
            s"zorder column $c must be numeric/date/timestamp, got $dt")
        }
        // bounded agg for the 16-bit scaling: 2 doubles per z-column —
        // global (one row) or per partition tuple (one row per tuple,
        // broadcast-joined back so codes use each partition's range)
        val aggs = sortCols.flatMap(c => Seq(
          min(col(c).cast("double")).as(s"__lo_$c"),
          max(col(c).cast("double")).as(s"__hi_$c")))
        val withBounds =
          if (scoped)
            base.join(
              broadcast(base.groupBy(partCols.map(col): _*).agg(aggs.head, aggs.tail: _*)),
              partCols)
          else
            base.crossJoin(broadcast(base.agg(aggs.head, aggs.tail: _*)))
        val codes = sortCols.map { c =>
          val lo = coalesce(col(s"__lo_$c"), lit(0.0))
          val hi = coalesce(col(s"__hi_$c"), lit(1.0))
          val span = when(hi > lo, hi - lo).otherwise(lit(1.0))
          floor((coalesce(col(c).cast("double"), lo) - lo) / span * lit(65535.0))
            .cast("int")
        }
        import org.apache.spark.sql.GraftColumnBridge.{toCol, toExpr}
        val boundCols = sortCols.flatMap(c => Seq(s"__lo_$c", s"__hi_$c"))
        val keys = keyPrefix :+ col("__z")
        withBounds.withColumn("__z", toCol(
            graft.functions.expressions.ZOrderCode(codes.map(toExpr))))
          .drop(boundCols: _*)
          .repartitionByRange(numParts, keys: _*)
          .sortWithinPartitions(keys: _*)
          .drop("__z")
      }
    // TRUE per-file bounds/counts/sizes from the write tasks — after
    // clustering, file ranges on sortCols are disjoint so min/max
    // skipping becomes surgical
    val (files, statsAdds) = StatsParquet.write(df, tablePath, runDir, partCols,
      maxRecordsPerFile(tablePath), sidecar = true)
    val dataSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields.filterNot(f => partCols.contains(f.name)))
    // full rewrite: nothing kept, pending deletes materialized above
    commitRewrite(tablePath, parentId, Nil, (files.map(entryJson), dataSchema, statsAdds),
      "replace", resetStats = true)
  }

  /** Dynamic-partition OVERWRITE as a NEW SNAPSHOT: partitions present
    * in `df` are replaced wholesale by `df`'s rows; all other
    * partitions are carried forward verbatim (path-identical, never
    * rewritten). This is the idempotent-backfill primitive a daily
    * pipeline needs — re-running a day's job replaces exactly that
    * day's files. Prior snapshots stay time-travelable. */
  def overwrite(spark: SparkSession, tablePath: String, df: DataFrame,
      partitionColumns: Seq[String]): Long = {
    // logical → physical: the replaced-tuple set compares against
    // manifest partition keys, which are physical
    val rmap = renames(tablePath)
    overwriteImpl(spark, tablePath,
      if (rmap.isEmpty) df else df.withColumnsRenamed(rmap.map(_.swap)),
      partitionColumns.map(physicalName(rmap, _)))
  }

  private def overwriteImpl(spark: SparkSession, tablePath: String, df0: DataFrame,
      partitionColumns0: Seq[String]): Long = {
    // on a spec table the replaced tuples are the HIDDEN ones present
    // in the new data (dynamic overwrite of e.g. the days the backfill
    // covers, without the caller ever naming ts_day)
    val spec = partitionSpec(tablePath)
    requireNoCallerLayout(tablePath, partitionColumns0, Some(spec))
    // USER df: a reserved-name collision is verified, not trusted
    val df = if (spec.isEmpty) df0
      else withSpecColumns(spec, df0, trustedPreDerived = false)
    val partitionColumns =
      if (spec.isEmpty) partitionColumns0 else spec.map(_.name)
    require(partitionColumns.nonEmpty,
      "dynamic overwrite needs partition columns; use delete+append for full rewrites")
    val parentId = currentSnapshotId(tablePath)
    // partition tuples present in df — bounded collect (one row per
    // partition, same cardinality writeDataFiles' bounds pass collects)
    val replaced: Set[Map[String, String]] = df
      .select(partitionColumns.map(org.apache.spark.sql.functions.col): _*)
      .distinct().collect()
      .map(r => partitionColumns.map(c => c -> String.valueOf(r.getAs[Any](c))).toMap)
      .toSet
    val kept = dataFiles(tablePath).filterNot(f =>
      replaced.contains(partitionColumns.map(c => c -> f.partition.getOrElse(c, "null")).toMap))
    commitRewrite(tablePath, parentId, kept,
      writeDataFiles(spark, tablePath, df, partitionColumns, s"overwrite-${runTag()}",
        trustedPreDerived = true), "overwrite")
  }
}
