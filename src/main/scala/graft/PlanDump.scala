package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Emits the `explain("formatted")` before/after evidence for every
  * query the r17/r18 spill-elimination campaign reshaped
  * (`TpchQueries.reshaped`): `<outDir>/<query>_before.txt` (the stock
  * shape, which is the row's declared oracle SQL in
  * `SparkEntry.oracleSql`) and `<outDir>/<query>_after.txt` (the
  * shipped declared query, straight out of `SparkEntry.queries`). Plans are
  * captured at plan time (AQE `isFinalPlan=false`) on the sf dir given —
  * shape claims (join strategy, Exchange count, PushedFilters) are
  * scale-independent EXCEPT join strategy choices, which follow size
  * estimates: the committed evidence is captured on /tmp/graft_sf10
  * (fact-side joins keep their at-scale SMJ/SHJ shapes there; at sf0.1
  * the same subtrees broadcast). The defaults below match the capture
  * recipe of the committed plans/r18 artifacts — running the command
  * verbatim reproduces them rather than overwriting them with
  * different-shaped sf0.1 plans (ADVICE r17).
  *
  *   scripts/run_main.sh graft.PlanDump /tmp/graft_sf10 plans/r18
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf10")
    val outDir = args.lift(1).getOrElse("plans/r18")
    val spark = Engine.session()
    Engine.registerDir(spark, sfDir)
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")

    def write(name: String, suffix: String, planText: String): Unit = {
      val p = Paths.get(outDir, s"${name}_$suffix.txt")
      val header =
        s"""-- $name ($suffix) — captured by graft.PlanDump on $sfDir
           |-- Engine.session defaults: AQE on, autoBroadcastJoinThreshold=64MB,
           |-- runtime bloom-filter join on; plan-time capture (isFinalPlan=false).
           |-- Join strategies follow the SIZE ESTIMATES of this sf dir: fact-side
           |-- sort-merge/shuffled-hash shapes appear at sf>=10; at sf0.1 the same
           |-- subtrees broadcast. sf100 runtime metrics: docs/BENCH_NOTES.md r17/r18.
           |""".stripMargin
      Files.writeString(p, header + planText)
      println(s"[plandump] wrote $p")
    }

    val reshaped = queries.TpchQueries.reshaped
    reshaped.foreach { name =>
      write(name, "before",
        spark.sql(SparkEntry.oracleSql(name)).queryExecution.explainString(mode))
      write(name, "after",
        SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(mode))
    }
    // The untouched TPC-H queries, captured as `_current` — the
    // evidence behind OPTIMIZATION_r17.md's "examined, left alone"
    // rows (join strategies, PushedFilters, Exchange counts).
    (1 to 22).map(i => f"tpch_q$i%02d").filterNot(reshaped.contains).foreach { name =>
      write(name, "current",
        SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(mode))
    }
    spark.stop()
  }
}
