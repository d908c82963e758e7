package graft

import java.nio.file.Files

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
  * Beyond wall time, the line carries a per-query `metrics` object
  * `{wall, shuffleRead, shuffleWrite, spillMem, spillDisk}` (bytes),
  * collected by the [[TaskMetrics]] listener — the engine-metrics
  * surface the reference exposes per query (`src/execution/context.rs:
  * 33-53`: execute time, peak memory, spill counters). Shuffle/spill
  * bytes are the numbers that predict 100 TB behavior: a query whose
  * wall time is fine but whose shuffle bytes equal its input size is
  * the one that falls over at scale.
  *
  * Baseline comparison: BASELINE.md's 66.7 s suite total at SF=0.1
  * (5.3 s excluding Q21).
  */
object Bench {

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
      catch { case _: Throwable => }
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
    // scheduler/GC noise left to reject).
    (1 to 22).foreach { i =>
      val name = f"tpch_q$i%02d"
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }

    val results = (1 to 22).map { i =>
      val name = f"tpch_q$i%02d"
      val key = s"q$i"
      try {
        val samples = (1 to runs).map(_ => timeOnce(name))
        val best = samples.minBy(_._1)
        key -> Some(best)
      } catch { case _: Throwable => key -> None }
    }

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
    val detailLine = s"""{"bench_detail":$ms,"runs":$runs,"sf":"$sfDir"}"""
    val dtag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "")
    try {
      // createTempFile: an unpredictable name, created owner-only — a
      // fixed /tmp path could be pre-planted by another local user
      val detailPath = Files.createTempFile(s"graft_bench_detail_${dtag}_", ".json")
      Files.writeString(detailPath, detailLine)
      println(s"""{"bench_detail_file":"$detailPath","sf":"$sfDir"}""")
    } catch { case _: Throwable => println(detailLine) }

    // Second bench surface: the reference's own 156-query golden suite
    // (it benchmarks the same set), end-to-end into the noop sink over
    // the padded views. One untimed warm pass (codegen compile), one
    // timed pass. Skipped silently when no reference checkout is
    // mounted. Emitted BEFORE the contract line, which must stay last.
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
          catch { case _: Throwable => false }
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
            catch { case _: Throwable => false }
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
      } catch { case _: Throwable => }
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
