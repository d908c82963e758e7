package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task-level byte counters summed since a [[TaskMetrics]] listener was
  * attached, plus Spark's JVM-wide count of generated classes compiled;
  * the difference of two settled readings is one window's total. */
final case class TaskTotals(shuffleRead: Long, shuffleWrite: Long,
    spillMem: Long, spillDisk: Long, compiles: Long) {
  def -(o: TaskTotals): TaskTotals = TaskTotals(shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spillMem - o.spillMem, spillDisk - o.spillDisk,
    compiles - o.compiles)
  /** (name, count) pairs, in the order Bench's detail fields print them. */
  def fields: Seq[(String, Long)] = Seq("shuffleRead" -> shuffleRead,
    "shuffleWrite" -> shuffleWrite, "spillMem" -> spillMem, "spillDisk" -> spillDisk,
    "compiles" -> compiles)
}

/** The task-metrics listener behind `Bench` and `ScaleSweep`: shuffle
  * and spill bytes, the peak per-task execution memory, and per-stage
  * task durations for the straggler ratio — the engine-metrics surface
  * the reference exposes per query (`src/execution/context.rs:33-53`).
  *
  * `compiles` is Spark's own counter of Janino compiles
  * (`CodegenMetrics.METRIC_COMPILATION_TIME`), driver and executor
  * side. It is JVM-wide, so it is read at each job and SQL event the
  * listener receives: a detached listener stops counting like its
  * other totals, and since a query's compiles all happen before its
  * execution-end event, a settled window holds all of them. A warm
  * query that compiles anything is recompiling classes the cache has
  * dropped (see `Engine.session`).
  *
  * Listener delivery is asynchronous: a `TaskEnd` can arrive after the
  * action that ran the task has returned. Read totals only through
  * [[settled]], never straight after an action, or late events are
  * charged to the next window.
  */
final class TaskMetrics extends SparkListener {
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spillMem = new AtomicLong
  private val spillDisk = new AtomicLong
  // max per-task peakExecutionMemory since the last resetPeak(). The
  // per-TASK peak is the number that predicts executor OOM at scale
  // (executor heap / task slots); a sum over tasks would overstate it
  // by the task count. Reset per timed window, not delta'd.
  private val peakTask = new AtomicLong
  private val compiles = new AtomicLong(compileCount)
  /** stageId -> task durations (ms). */
  private val durations = new ConcurrentHashMap[Int, java.util.List[Long]]()

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      durations
        .computeIfAbsent(t.stageId, _ => java.util.Collections.synchronizedList(
          new java.util.ArrayList[Long]()))
        .add(t.taskInfo.duration)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillMem.addAndGet(m.memoryBytesSpilled)
      spillDisk.addAndGet(m.diskBytesSpilled)
      peakTask.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = compiles.set(compileCount)

  // SQL execution start/end arrive here
  override def onOtherEvent(e: SparkListenerEvent): Unit = compiles.set(compileCount)

  private def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def snapshot(): TaskTotals = TaskTotals(
    shuffleRead.get, shuffleWrite.get, spillMem.get, spillDisk.get, compiles.get)

  /** Totals once the listener has gone quiet: three consecutive
    * identical reads 50 ms apart (at most ~1.5 s of waiting). Call it
    * outside any timed window. */
  def settled(): TaskTotals = {
    var prev = snapshot()
    var stable = 0
    var tries = 0
    while (tries < 30) {
      Thread.sleep(50)
      val cur = snapshot()
      if (cur == prev) { stable += 1; if (stable >= 2) return cur }
      else stable = 0
      prev = cur
      tries += 1
    }
    prev
  }

  def peakTaskMem: Long = peakTask.get
  def resetPeak(): Unit = peakTask.set(0)

  /** Worst max/median task-duration ratio over stages that do real
    * work (median >= 200 ms, >= 8 tasks). Trivial stages — a 1 ms
    * median with one 300 ms task — would otherwise report absurd
    * ratios that say nothing about 100 TB skew. Also returns the
    * single longest task anywhere in seconds (the straggler that
    * matters in absolute terms). */
  def worstStraggler(): (Double, Double) = {
    val all = durations.asScala.values.map(_.asScala.toSeq.sorted).toSeq
    val maxTaskSec = if (all.isEmpty) 0.0 else all.map(_.last).max / 1000.0
    val ratios = all.flatMap { ds =>
      val med = if (ds.isEmpty) 0L else ds(ds.size / 2)
      if (ds.size < 8 || med < 200) None
      else Some(ds.last.toDouble / med)
    }
    (if (ratios.isEmpty) 0.0 else ratios.max, maxTaskSec)
  }
}

object TaskMetrics {
  /** Runs `f` with a fresh listener attached to `spark`, removing it
    * afterwards so callers sharing one session never stack listeners. */
  def during[A](spark: SparkSession)(f: TaskMetrics => A): A = {
    val m = new TaskMetrics
    spark.sparkContext.addSparkListener(m)
    try f(m) finally spark.sparkContext.removeSparkListener(m)
  }
}
