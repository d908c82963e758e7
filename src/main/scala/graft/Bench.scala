package graft

import java.nio.file.Files

import scala.util.control.NonFatal

/** Per-round benchmark main (driver contract): runs the headline TPC-H
  * suite on SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{"q1":s,...},"sf":...}`.
  *
  * Method: register + warm the file scans once (JVM/JIT/page-cache, as
  * a long-lived cluster would be), then time each query end-to-end into
  * a `noop` sink (forces full evaluation of every column without paying
  * result collection), **min of N=3 runs** (round-2 lesson: a same-code
  * A/B showed ±2 s machine-state drift across a morning, so best-of-2
  * wasn't enough to compare rounds; see docs/BENCH_NOTES.md).
  *
  * Beyond wall time, the detail file carries a per-query object
  * `{wall, shuffleRead, shuffleWrite, spillMem, spillDisk, compiles,
  * peakMem}` (bytes, and generated classes compiled in the timed run),
  * collected by the [[TaskMetrics]] listener — the engine-metrics
  * surface the reference exposes per query (`src/execution/context.rs:
  * 33-53`: execute time, peak memory, spill counters). Shuffle/spill
  * bytes are the numbers that predict 100 TB behavior: a query whose
  * wall time is fine but whose shuffle bytes equal its input size is
  * the one that falls over at scale. A query that fails in the warm or
  * the timed pass is named on stderr and in the detail file's
  * `failures` list (`{query, phase, error class}`); the pointer line
  * counts the failed queries as `failed`.
  *
  * Baseline comparison: BASELINE.md's 66.7 s suite total at SF=0.1
  * (5.3 s excluding Q21).
  */
object Bench {

  /** One failed query run: its catalog name, the phase it failed in
    * (`warm` or `timed`) and the error's class. */
  final case class Failure(query: String, phase: String, error: String) {
    def json: String = s"""{"query":"$query","phase":"$phase","error":"$error"}"""
  }

  /** Run `body` for `query`; a non-fatal error is reported on stderr,
    * named, and returned instead of thrown. */
  private def attempt[T](query: String, phase: String)(body: => T): Either[Failure, T] =
    try Right(body)
    catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] $query failed in the $phase pass: " +
          s"${e.getClass.getName}: ${e.getMessage}")
        Left(Failure(query, phase, e.getClass.getName))
    }

  /** The per-query loop: one untimed `warm` pass over `names`, then
    * `runs` timed runs of each, keeping the sample `best` picks. A query
    * that fails in either pass is named in the failures instead of
    * stopping the suite; one that fails its timed runs has no sample. */
  private[graft] def runSuite[T](names: Seq[String], runs: Int)(
      warm: String => Unit, timed: String => T)(best: Seq[T] => T)
      : (Seq[(String, Option[T])], Seq[Failure]) = {
    val warmFailures = names.flatMap(n => attempt(n, "warm")(warm(n)).left.toOption)
    val timedRuns = names.map(n => n -> attempt(n, "timed")(best((1 to runs).map(_ => timed(n)))))
    (timedRuns.map { case (n, r) => n -> r.toOption },
      warmFailures ++ timedRuns.flatMap(_._2.left.toOption))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Validated: a non-numeric or <=0 value must not silently produce an
    // empty sample set (minBy on empty would be swallowed as -1.0 rows).
    val runs = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_RUNS").flatMap(_.toIntOption).getOrElse(3))
    val spark = Engine.session()
    val listener = new TaskMetrics
    spark.sparkContext.addSparkListener(listener)
    Engine.registerDir(spark, sfDir)
    Engine.tableNames.foreach { t =>
      try spark.table(t).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => }
    }

    // One timed run ->
    // (wall sec, shuffle/spill byte deltas, peakTaskMem).
    def timeOnce(name: String): (Double, TaskTotals, Long) = {
      val fn = SparkEntry.queries(name)
      val before = listener.settled()
      listener.resetPeak()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val after = listener.settled()
      (wall, after - before, listener.peakTaskMem)
    }

    // Untimed warm pass over the whole suite first: pays each query's
    // whole-stage-codegen compile + first-touch page cache outside the
    // timed window, so even run 1 of N is warm (min-of-N then only has
    // scheduler/GC noise left to reject). The compiles stay paid only
    // because `Engine.session` sizes the generated-class cache above
    // the suite's 307 classes: at Spark's default of 100 every timed
    // run recompiled its query. Each query's `compiles` in the detail
    // file reads 0 while that holds.
    // A failing query is named on stderr and in the detail file, and
    // its wall reads -1.0 in the contract line.
    val (timed, failures) = runSuite((1 to 22).map(i => f"tpch_q$i%02d"), runs)(
      warm = name => SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save(),
      timed = timeOnce)(_.minBy(_._1))
    val results = timed.map { case (name, best) => s"q${name.stripPrefix("tpch_q").toInt}" -> best }

    // Detailed engine-metrics map: since r18 it goes to a FILE with a
    // compact pointer line on stdout (VERDICT r17 item 6: the ~2.3 KB
    // inline bench_detail line crowded the driver's 2000-char stdout
    // tail and could push the contract line out of the capture window —
    // r16's PERF table came back empty). Same fields, same numbers;
    // only the transport changed. The compact contract line still
    // prints LAST, wall seconds rounded to 4 decimals (r03 lesson).
    def r4(d: Double): Double = math.round(d * 1e4) / 1e4
    val ms = results.map { case (k, v) =>
      val fields = v match {
        case Some((wall, bytes, peak)) =>
          ((s""""wall":${r4(wall)}""" +: bytes.fields.map { case (n, b) => s""""$n":$b""" })
            :+ s""""peakMem":$peak""").mkString(",")
        case None => """"wall":-1.0"""
      }
      "\"" + k + "\":{" + fields + "}"
    }.mkString("{", ",", "}")
    val failed = failures.map(_.query).distinct.size
    val detailLine = s"""{"bench_detail":$ms,"failures":${failures.map(_.json).mkString("[", ",", "]")},""" +
      s""""runs":$runs,"sf":"$sfDir"}"""
    val dtag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "")
    try {
      // createTempFile: an unpredictable name, created owner-only — a
      // fixed /tmp path could be pre-planted by another local user
      val detailPath = Files.createTempFile(s"graft_bench_detail_${dtag}_", ".json")
      Files.writeString(detailPath, detailLine)
      println(s"""{"bench_detail_file":"$detailPath","sf":"$sfDir","failed":$failed}""")
    } catch { case NonFatal(_) => println(detailLine) }

    // Second bench surface: the reference's own 156-query golden suite
    // (it benchmarks the same set), end-to-end into the noop sink over
    // the padded views. One untimed warm pass (codegen compile), one
    // timed pass. The warm pass's compiles carry over to the timed pass
    // only while the 156 queries' classes fit the generated-class cache
    // `Engine.session` sizes; at Spark's default of 100 entries the
    // timed pass recompiled every query. Skipped silently when no
    // reference checkout is mounted. Emitted BEFORE the contract line,
    // which must stay last.
    // SKIP_GOLDEN: scaled anchors (sf>=10 replica dirs) time only the
    // TPC-H suite — the golden pass would triple the window for a
    // number BENCH_NOTES tracks separately.
    if (queries.RefManifest.available &&
        !sys.env.contains("SPARK_GRAFT_BENCH_SKIP_GOLDEN")) {
      try {
        queries.RefManifest.padViews(spark)
        val golden = queries.RefManifest.loadAll()
        def runAll(): Int = golden.count { case (_, sql) =>
          try { spark.sql(sql).write.format("noop").mode("overwrite").save(); true }
          catch { case NonFatal(_) => false }
        }
        runAll() // warm
        // timed pass records PER-QUERY walls: the r14 lesson is that
        // the suite TOTAL swings 25.7–34.5 s across machine windows on
        // identical code, so a regression inside the total is
        // invisible — per-query walls localize it (the same reason
        // Bench reports per-query TPC-H walls).
        val g0 = System.nanoTime()
        var ok = 0
        val perQ = golden.map { case (name, sql) =>
          val q0 = System.nanoTime()
          val good =
            try { spark.sql(sql).write.format("noop").mode("overwrite").save(); true }
            catch { case NonFatal(_) => false }
          if (good) ok += 1
          name -> (if (good) r4((System.nanoTime() - q0) / 1e9) else -1.0)
        }
        val gWall = (System.nanoTime() - g0) / 1e9
        // slowest-first detail line (diagnostics; full map would be
        // ~4 KB and risk crowding the driver's capture window), then
        // the compact golden total
        val slow = perQ.sortBy(-_._2).take(20)
          .map { case (n, w) => s""""$n":$w""" }.mkString("{", ",", "}")
        println(s"""{"golden_detail_top20":$slow,"sf":"$sfDir"}""")
        // the FULL per-query map goes to a file (it is ~4 KB — too big
        // for the driver's stdout tail window, which must keep the
        // contract line); a fresh temp file per run, so two concurrent
        // bench runs never clobber each other's detail file
        val full = perQ.map { case (n, w) => s""""$n":$w""" }
          .mkString("{", ",", "}")
        val perqPath = Files.createTempFile(s"graft_golden_perq_${dtag}_", ".json")
        Files.writeString(perqPath,
          s"""{"golden_per_query":$full,"totalSec":${r4(gWall)},"sf":"$sfDir"}""")
        println(s"""{"metric":"golden_suite","value":${r4(gWall)},"unit":"sec","queries":${golden.size},"succeeded":$ok,"perq_file":"$perqPath","sf":"$sfDir"}""")
        queries.RefManifest.restoreViews(spark, sfDir)
      } catch { case NonFatal(_) => }
    }
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(w => r4(w._1)).getOrElse(-1.0)
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, Some((w, _, _))) => w }.sum
    val contract =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$qs,"runs":$runs,"sf":"$sfDir"}"""
    println(contract)
    // belt-and-braces copy on stderr (VERDICT r17 item 6): a stdout
    // consumer that mangles or truncates its tail can still recover
    // the contract line from the log stream. stdout stays canonical.
    System.err.println(contract)
    spark.stop()
  }
}
