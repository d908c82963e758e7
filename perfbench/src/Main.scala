package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Engine, SparkEntry}
import perfbench.Layers.median

/** The benchmark's JVM side: sets the engine up several times, runs one
  * cold pass, one untimed verification pass and then warm passes of a
  * workload's ops for a fixed window, one client issuing ops
  * sequentially (closed loop), and writes `result.json` (plus
  * `spans.jsonl` when traced) under `--out`. Timed passes execute into
  * the noop sink; the verification pass delivers every result op's
  * output as parquet under `--out/results/` for the oracle check that
  * `run.py` makes.
  *
  * Usage: perfbench.Main --workload W --data DIR --plan FILE --out DIR
  *          --seconds N --trace 0|1 --cores N [--inject-failure]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val bench = new Bench(a("--workload"), a("--data"), Plan.load(a("--plan")), a("--out"),
      a("--cores").toInt, args.contains("--inject-failure"))
    try bench.run(a("--seconds").toDouble, a("--trace") == "1")
    finally bench.stop()
  }
}

/** Wall clock in epoch milliseconds with nanosecond steps, so op spans
  * line up with the listener's epoch-millisecond event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Failure(pass: String, op: String, error: String)

/** One executed op of a pass: its spans and, when traced, its events. */
final case class OpRun(span: OpSpan, trace: Option[OpTrace]) {
  def wall: Double = span.op.len / 1e3
}

final class Bench(workload: String, dataDir: String, plan: Plan, outDir: String,
    cores: Int, injectFailure: Boolean) {
  /** Set-ups per run (setup_s is their median) and the fewest warm
    * passes; the window (`--seconds`) decides how many more run. The
    * verification pass between the cold and the warm passes lets the
    * JIT catch up first, which the pass after the cold one still needs
    * (it runs ~15% slow). */
  private val setups = 3
  private val minWarmPasses = 1
  private var spark: SparkSession = _
  private val tracer = new Tracer
  private val failures = mutable.ArrayBuffer.empty[Failure]
  private val attempted = mutable.LinkedHashSet.empty[String]
  private val traced = mutable.ArrayBuffer.empty[Seq[OpRun]]
  private val lakeStats = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var unattributed = 0
  private var passNo = 0

  def stop(): Unit = if (spark != null) spark.stop()

  /** Engine.session + registerDir + one warm scan of every table, from
    * a stopped engine. Returns (total, session, register) seconds. */
  private def setup(): (Double, Double, Double) = {
    stop()
    val t0 = System.nanoTime()
    spark = Engine.session(cores.toString)
    val t1 = System.nanoTime()
    Engine.registerDir(spark, dataDir)
    val t2 = System.nanoTime()
    Engine.tableNames.filter(t => Files.exists(Paths.get(s"$dataDir/$t.parquet")))
      .foreach(t => Op.noop(spark.table(t)))
    val t3 = System.nanoTime()
    ((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  private def lakeRoot(pass: Int) = s"$outDir/lake/pass-$pass"

  private def passOps(pass: Int): Seq[Op] =
    Workloads.ops(workload, spark, dataDir, plan, lakeRoot(pass)) ++
      (if (injectFailure) Seq(Workloads.injectedFailure(spark)) else Nil)

  /** Runs every op of one pass in order. Failed ops are recorded by
    * name and error class and left out of the returned runs. With
    * `dump`, result ops write their output for the oracle instead of
    * executing into the noop sink; such a pass is never timed. */
  private def pass(label: String, trace: Boolean, dump: Boolean = false): Seq[OpRun] = {
    passNo += 1
    val pass = passNo
    val sc = spark.sparkContext
    if (trace) {
      tracer.clear()
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val lake = new LakeWatch(lakeRoot(pass), trace && workload == "lakehouse")
    val ops = passOps(pass).zipWithIndex.map { case (op, i) => (op, s"$label-$pass-$i-${op.name}") }
    val spans = ops.flatMap { case (op, id) =>
      attempted += op.name
      sc.setJobGroup(id, op.name, interruptOnCancel = false)
      val t0 = Clock.ms()
      try {
        val df = op.build()
        val t1 = Clock.ms()
        val phases = if (trace) Tracer.phases(df.queryExecution.tracker) else Nil
        if (dump && op.result) writeResult(op.name, df) else op.execute(df)
        val t2 = Clock.ms()
        val span = OpSpan(id, op.name, Iv(t0, t2), Iv(t0, t1), Iv(t1, t2), phases, op.result)
        lake.after(span)
        Some(span)
      } catch {
        case NonFatal(e) =>
          failures += Failure(label, op.name, e.getClass.getName)
          System.err.println(s"[perfbench] $workload/${op.name} failed in $label pass: " +
            s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          None
      } finally sc.clearJobGroup()
    }
    val runs = if (!trace) spans.map(OpRun(_, None)) else {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
      unattributed += tracer.unattributed(ops.map(_._2).toSet)
      spans.map(s => OpRun(s, Some(tracer.opTrace(s))))
    }
    if (trace) {
      traced += runs
      lakeStats += lake.stats(runs, ordersBytes)
    }
    Engine.deleteRecursively(Paths.get(lakeRoot(pass)))
    runs
  }

  private def ordersBytes: Long = Files.size(Paths.get(s"$dataDir/orders.parquet"))

  private def writeResult(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/results/$name")

  private def wall(runs: Seq[OpRun]): Double = runs.map(_.wall).sum

  def run(seconds: Double, trace: Boolean): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val t0 = System.nanoTime()
    val stages = mutable.ArrayBuffer.empty[(String, Double)]
    def mark(name: String): Unit = stages += name -> ((System.nanoTime() - t0) / 1e9)
    val setupRuns = (1 to setups).map(_ => setup())
    mark("setups")
    val cold = wall(pass("cold", trace = false))
    mark("cold")
    pass("verify", trace = false, dump = true)
    mark("verify")
    val warm = mutable.ArrayBuffer.empty[Seq[OpRun]]
    val plain = mutable.ArrayBuffer.empty[Double]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    // traced runs alternate untraced and traced passes in ABBA order, so
    // the JIT still warming up favours neither side of the overhead ratio
    var i = 0
    while (elapsed < seconds || i < (if (trace) 2 else minWarmPasses)) {
      if (!trace) warm += pass("warm", trace = false)
      else if (i % 2 == 0) { plain += wall(pass("warm", trace = false)); pass("traced", trace = true) }
      else { pass("traced", trace = true); plain += wall(pass("warm", trace = false)) }
      i += 1
    }

    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> median(setupRuns.map(_._1)),
        "cold_wall_s" -> cold,
        "wall_s" -> median(warm.map(wall).toSeq),
        "op_p50_s" -> median(warm.flatten.map(_.wall).toSeq))
      else {
        val perPass = traced.zip(lakeStats).map { case (runs, lake) => Layers.of(runs, cores) ++ lake }
        val keys = perPass.head.keys.toSeq.sorted
        Seq("engine.session_s" -> median(setupRuns.map(_._2)),
          "engine.register_s" -> median(setupRuns.map(_._3))) ++
          keys.map(k => k -> (if (k.endsWith("coverage")) Layers.least(perPass.map(_(k)).toSeq)
            else median(perPass.map(_(k)).toSeq))) ++ Seq(
          "trace.overhead" -> median(traced.map(wall).toSeq) / median(plain.toSeq),
          "trace.unattributed" -> unattributed.toDouble)
      }
    mark("warm")
    if (trace) writeSpans()
    writeResultJson(metrics, cold, warm.toSeq, plain.toSeq, stages.toSeq)
  }

  private def writeSpans(): Unit = {
    val lines = traced.flatten.flatMap(r => Layers.spans(r)).map(Json.obj)
    Files.write(Paths.get(s"$outDir/spans.jsonl"), lines.asJava)
  }

  private def writeResultJson(metrics: Seq[(String, Double)], cold: Double,
      warm: Seq[Seq[OpRun]], plainWalls: Seq[Double], stages: Seq[(String, Double)]): Unit = {
    val opWalls = warm.flatten.groupBy(_.span.name).toSeq.sortBy(_._1)
      .map { case (n, rs) => n -> rs.map(_.wall) }
    val opLayers = traced.flatten.flatMap(r => r.trace.map(r.span.name -> Layers.ofOp(_)))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (n, ms) =>
        n -> Json.Raw(Json.obj(ms.head._2.keys.toSeq.sorted.map(k =>
          k -> ms.map(_._2(k)).sum / ms.size)))
      }
    val distinctFailed = failures.map(_.op).distinct
    val oracle = SparkEntry.oracleSql
    val json = Json.obj(Seq(
      "workload" -> workload,
      "cores" -> cores,
      "attempted" -> attempted.size,
      "failed" -> distinctFailed.size,
      "failures" -> failures.map(f => Json.obj(Seq("pass" -> f.pass, "op" -> f.op,
        "error" -> f.error))).map(Json.Raw(_)),
      "metrics" -> Json.Raw(Json.obj(metrics)),
      "stages_end_s" -> Json.Raw(Json.obj(stages)),
      "cold_pass_wall" -> cold,
      "warm_pass_walls" -> warm.map(wall),
      "untraced_pass_walls" -> plainWalls,
      "op_p50_samples" -> warm.flatten.size,
      "warm_op_walls" -> Json.Raw(Json.obj(opWalls)),
      "traced_op_layers_s" -> Json.Raw(Json.obj(opLayers)),
      "oracle_sql" -> Json.Raw(Json.obj(attempted.toSeq.flatMap(n => oracle.get(n).map(n -> _))))
    ))
    Files.writeString(Paths.get(s"$outDir/result.json"), json)
  }
}
