package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.IcebergLite
import perfbench.Layers.median

/** Watches the lakehouse table root during a traced pass: which data
  * files each committing op added, and what the filesystem holds at the
  * end. Sizes come from the filesystem, not from the table's metadata. */
final class LakeWatch(root: String, enabled: Boolean) {
  private val commits = Set("lake_delete", "lake_merge", "lake_compact")
  private var known = Map.empty[Path, Long]
  private var rewriteBytes = 0L

  private def files(sub: String): Map[Path, Long] = {
    val dir = Paths.get(root, sub)
    if (!Files.exists(dir)) Map.empty else {
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p -> Files.size(p)).toMap
      finally walk.close()
    }
  }

  def after(span: OpSpan): Unit = if (enabled) {
    val now = files("data").filter(_._1.toString.endsWith(".parquet"))
    if (commits(span.name)) rewriteBytes += now.keySet.diff(known.keySet).toSeq.map(now).sum
    known = now
  }

  private val mb = 1024.0 * 1024.0

  /** The `lake.*` figures of one pass; zero when no table was written. */
  def stats(runs: Seq[OpRun], baseBytes: Long): Map[String, Double] =
    if (!enabled) LakeWatch.names.map(_ -> 0.0).toMap else {
      val committing = runs.filter(r => r.span.name.startsWith("lake_append") ||
        commits(r.span.name))
      val commitDriver = committing.flatMap(_.trace).map(t =>
        (t.span.execute.len - Iv.covered(t.jobs.map(_.iv), t.span.execute)) / 1e3)
      val data = files("data").filter(_._1.toString.endsWith(".parquet"))
      val all = files("")
      val live = IcebergLite.dataFiles(root).size
      Map(
        "lake.commits" -> committing.size.toDouble,
        "lake.commit_p50_s" -> median(commitDriver),
        "lake.data_files_written" -> data.size.toDouble,
        "lake.metadata_files_written" -> files("metadata").size.toDouble,
        "lake.bytes_written_mb" -> all.values.sum / mb,
        "lake.rewrite_mb" -> rewriteBytes / mb,
        "lake.live_files" -> live.toDouble,
        "lake.storage_amp" -> all.values.sum.toDouble / baseBytes)
    }
}

object LakeWatch {
  val names: Seq[String] = Seq("lake.commits", "lake.commit_p50_s", "lake.data_files_written",
    "lake.metadata_files_written", "lake.bytes_written_mb", "lake.rewrite_mb",
    "lake.live_files", "lake.storage_amp")
}

/** Per-layer aggregates of one traced pass, and its span records. */
object Layers {
  private val mb = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The smallest of `xs` that is a number; NaN when there is none. */
  def least(xs: Seq[Double]): Double = xs.filterNot(_.isNaN).minOption.getOrElse(Double.NaN)

  /** Self time of each layer on one op's blocking path, in seconds:
    * build and execute (the benchmark's two calls) minus the Catalyst
    * phases and jobs inside them, each job minus its stages, each stage
    * minus its tasks; `tasks` is the time at least one task ran and
    * `idle` the rest of the op's wall. */
  def ofOp(t: OpTrace): Map[String, Double] = {
    val s = t.span
    val catalyst = t.phases.map(_._2)
    val jobs = t.jobs.map(_.iv)
    val tasks = t.tasks.map(_.iv)
    val busy = Iv.covered(tasks, s.op)
    Map(
      "wall" -> s.op.len,
      "build" -> (s.build.len - Iv.covered(catalyst ++ jobs, s.build)),
      "catalyst" -> catalyst.map(_.len).sum,
      "driver" -> (s.execute.len - Iv.covered(catalyst ++ jobs, s.execute)),
      "job" -> t.jobs.map(j => j.iv.len -
        Iv.covered(t.stages.filter(_.jobId == j.id).map(_.iv), j.iv)).sum,
      "stage" -> t.stages.map(st => st.iv.len -
        Iv.covered(t.tasks.filter(_.stageId == st.id).map(_.iv), st.iv)).sum,
      "tasks" -> busy,
      "idle" -> (s.op.len - busy),
      "longest_task" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.len).max),
      "covered" -> Iv.covered(Seq(s.build) ++ catalyst ++ t.execs.map(_.iv) ++ jobs, s.op)
    ).map { case (k, v) => k -> v / 1e3 }
  }

  /** Share of an op's wall that a recorded span covers: the build call
    * (timed by the benchmark around `Q.run` or the input slice), the
    * Catalyst phases, and the SQL executions and jobs the listener saw
    * under the op's job group. What is left is execute time no listener
    * accounts for: for an op executed into the noop sink, time lost to
    * the trace; for an IcebergLite commit, also the commit's own driver
    * work outside any Spark query. None for ops that start no Spark
    * query (`lake_create` writes metadata only). */
  def coverage(t: OpTrace): Option[Double] =
    if (t.execs.isEmpty && t.jobs.isEmpty) None
    else Some(ofOp(t)("covered") / math.max(1e-9, t.span.op.len / 1e3))

  def of(runs: Seq[OpRun], cores: Int): Map[String, Double] = {
    val ts = runs.flatMap(_.trace)
    val tasks = ts.flatMap(_.tasks)
    val queries = ts.flatMap(_.queries)
    val ops = ts.map(ofOp)
    val wall = ops.map(_("wall")).sum
    def total(k: String) = ops.map(_(k)).sum
    def phase(n: String) = ts.flatMap(_.phases).filter(_._1 == n).map(_._2.len).sum / 1e3
    Map(
      "build_s" -> ts.map(_.span.build.len).sum / 1e3,
      "catalyst.parse_s" -> phase("parse"),
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "exec.jobs" -> ts.map(_.jobs.size).sum.toDouble,
      "exec.stages" -> ts.map(_.stages.size).sum.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.idle_s" -> total("idle"),
      "exec.task_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.core_util" -> tasks.map(_.runMs).sum / 1e3 / math.max(1e-9, wall * cores),
      "exec.max_task_share" -> total("longest_task") / math.max(1e-9, wall),
      "codegen.fallback_nodes" -> queries.map(_.fallbackNodes).sum.toDouble,
      "codegen.fallback_exprs" -> queries.map(_.fallbackExprs).sum.toDouble,
      "shuffle.write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> tasks.map(_.shuffleRead).sum / mb,
      "spill.mem_mb" -> tasks.map(_.spillMem).sum / mb,
      "spill.disk_mb" -> tasks.map(_.spillDisk).sum / mb,
      "mem.peak_task_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / mb),
      "scan.files_read" -> queries.map(_.filesRead).sum.toDouble,
      "scan.input_mb" -> tasks.map(_.inputBytes).sum / mb,
      "scan.rows_read" -> tasks.map(_.inputRecords).sum.toDouble,
      "self.build_s" -> total("build"),
      "self.execute_s" -> total("driver"),
      "self.job_s" -> total("job"),
      "self.stage_s" -> total("stage"),
      "trace.coverage" -> least(ts.filter(_.span.sink).flatMap(coverage)),
      "trace.commit_coverage" -> least(ts.filterNot(_.span.sink).flatMap(coverage)))
  }

  /** Span records of one op: op → build/execute → Catalyst phases, SQL
    * executions and jobs → stages → tasks, all keyed by the op's id. */
  def spans(r: OpRun): Seq[Seq[(String, Any)]] = {
    val s = r.span
    def rec(kind: String, parent: String, iv: Iv, extra: (String, Any)*) =
      Seq("op_id" -> s.id, "op" -> s.name, "span" -> kind, "parent" -> parent,
        "start_ms" -> iv.start, "end_ms" -> iv.end) ++ extra
    def owner(iv: Iv) = if (iv.start < s.build.end) "build" else "execute"
    val t = r.trace
    Seq(rec("op", "", s.op), rec("build", "op", s.build), rec("execute", "op", s.execute)) ++
      t.toSeq.flatMap(_.phases).map { case (n, iv) => rec(s"catalyst.$n", owner(iv), iv) } ++
      t.toSeq.flatMap(_.execs).map(x => rec("sql", owner(x.iv), x.iv, "execution_id" -> x.id)) ++
      t.toSeq.flatMap(_.jobs).map(j => rec("job", owner(j.iv), j.iv, "job_id" -> j.id)) ++
      t.toSeq.flatMap(_.stages).map(st => rec("stage", s"job:${st.jobId}", st.iv,
        "stage_id" -> st.id)) ++
      t.toSeq.flatMap(_.tasks).map(tk => rec("task", s"stage:${tk.stageId}", tk.iv,
        "run_ms" -> tk.runMs, "cpu_ms" -> tk.cpuNs / 1e6))
  }
}
