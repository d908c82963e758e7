package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval in epoch milliseconds. */
final case class Iv(start: Double, end: Double) {
  def len: Double = math.max(0.0, end - start)
}

object Iv {
  /** Length of the union of `ivs` clipped to `within`. */
  def covered(ivs: Iterable[Iv], within: Iv): Double = {
    val clipped = ivs.map(i => Iv(math.max(i.start, within.start), math.min(i.end, within.end)))
      .filter(_.len > 0).toSeq.sortBy(_.start)
    var total, curS, curE = 0.0
    var open = false
    clipped.foreach { i =>
      if (open && i.start <= curE) curE = math.max(curE, i.end)
      else { if (open) total += curE - curS; curS = i.start; curE = i.end; open = true }
    }
    if (open) total += curE - curS
    total
  }
}

/** One operation as the benchmark saw it: the whole call, the call that
  * built its input (`Q.run`, an IcebergLite read plan, a source slice)
  * and the call that executed it (the noop sink when `sink`, else an
  * IcebergLite commit). `phases` holds the Catalyst phases of the built
  * frame itself, read from its `QueryPlanningTracker`. */
final case class OpSpan(id: String, name: String, op: Iv, build: Iv, execute: Iv,
    phases: Seq[(String, Iv)], sink: Boolean)

final case class Job(id: Int, group: String, iv: Iv)
/** A SQL execution (one executed query or command) and its job group. */
final case class Exec(id: Long, group: String, iv: Iv)
final case class Stage(id: Int, jobId: Int, iv: Iv)
final case class Task(stageId: Int, iv: Iv, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spillMem: Long, spillDisk: Long,
    peakMem: Long, inputBytes: Long, inputRecords: Long)
final case class Query(phases: Seq[(String, Iv)], fallbackNodes: Int,
    fallbackExprs: Int, filesRead: Long)

/** Everything recorded for one op, by job group and by time. */
final case class OpTrace(span: OpSpan, execs: Seq[Exec], jobs: Seq[Job], stages: Seq[Stage],
    tasks: Seq[Task], queries: Seq[Query]) {
  def phases: Seq[(String, Iv)] = span.phases ++ queries.flatMap(_.phases)
}

/** Collects SQL executions, jobs, stages and tasks per job group (one
  * group per op) through `SparkListener`, and Catalyst phases plus executed-plan
  * counts per query through `QueryExecutionListener`. Records stay in
  * memory until the run ends. Nothing here runs inside the engine: it
  * only listens to Spark's public event stream. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val execStart = mutable.Map.empty[Long, (String, Long)]
  private val execs = mutable.ArrayBuffer.empty[Exec]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val queries = mutable.ArrayBuffer.empty[Query]

  def clear(): Unit = synchronized {
    execStart.clear(); execs.clear(); jobStart.clear(); jobs.clear(); stageJob.clear(); stages.clear(); tasks.clear(); queries.clear()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStart(s.executionId) = (s.jobGroupId.getOrElse(""), s.time)
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      execStart.remove(end.executionId).foreach { case (g, t0) =>
        execs += Exec(end.executionId, g, Iv(t0.toDouble, end.time.toDouble))
      }
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobStart(e.jobId) = (group, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      jobs += Job(e.jobId, g, Iv(t0.toDouble, e.time.toDouble))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime; j <- stageJob.get(i.stageId))
      stages += Stage(i.stageId, j, Iv(s.toDouble, c.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId,
      Iv(e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble),
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled, m.diskBytesSpilled, m.peakExecutionMemory,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val q = Tracer.query(qe)
    synchronized { queries += q }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** SQL executions and jobs of the pass that carry no op's job group:
    * work the per-op figures would miss. */
  def unattributed(opIds: Set[String]): Int = synchronized {
    execs.count(x => !opIds(x.group)) + jobs.count(j => !opIds(j.group))
  }

  def opTrace(span: OpSpan): OpTrace = synchronized {
    val xs = execs.filter(_.group == span.id).toSeq
    val js = jobs.filter(_.group == span.id).toSeq
    val jobIds = js.map(_.id).toSet
    val ss = stages.filter(s => jobIds(s.jobId)).toSeq
    val stageIds = ss.map(_.id).toSet
    val ts = tasks.filter(t => stageIds(t.stageId)).toSeq
    val qs = queries.filter(q => q.phases.headOption.exists { case (_, iv) =>
      iv.start >= span.op.start - 1 && iv.start <= span.op.end }).toSeq
    OpTrace(span, xs, js, ss, ts, qs)
  }
}

object Tracer {
  val phaseNames: Seq[(String, String)] = Seq(
    "parsing" -> "parse", "analysis" -> "analysis",
    "optimization" -> "optimization", "planning" -> "planning")

  def phases(tracker: org.apache.spark.sql.catalyst.QueryPlanningTracker): Seq[(String, Iv)] =
    phaseNames.flatMap { case (k, short) =>
      tracker.phases.get(k).map(p => short -> Iv(p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }.sortBy(_._2.start)

  /** Catalyst phases plus the executed plan's codegen and scan counts.
    * A fallback node is an operator that ran outside any whole-stage
    * codegen region, not counting the plumbing every plan has
    * (exchanges, query stages, adaptive wrappers, codegen boundaries,
    * subquery holders, write commands). */
  def query(qe: QueryExecution): Query = {
    var nodes, exprs = 0
    var files = 0L
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def plumbing(p: SparkPlan): Boolean = p match {
      case _: InputAdapter | _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec |
          _: BaseSubqueryExec | _: ReusedSubqueryExec | _: V2CommandExec |
          _: DataWritingCommandExec | _: ExecutedCommandExec | _: CommandResultExec => true
      case _ => false
    }
    def visit(p: SparkPlan, inCodegen: Boolean): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan, inCodegen)
      case s: QueryStageExec => visit(s.plan, false)
      case w: WholeStageCodegenExec => visit(w.child, true)
      case other =>
        if (!inCodegen && !plumbing(other)) nodes += 1
        exprs += other.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
        other match {
          case s: DataSourceScanExec =>
            files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case _ =>
        }
        val childInCodegen = inCodegen && !other.isInstanceOf[InputAdapter]
        other.children.foreach(visit(_, childInCodegen))
        other.subqueries.foreach(visit(_, false))
    }
    visit(qe.executedPlan, false)
    Query(phases(qe.tracker), nodes, exprs, files)
  }
}
