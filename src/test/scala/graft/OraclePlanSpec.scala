package graft

import scala.util.Try

import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** A catalog row that plans like its oracle runs its oracle: every
  * TPC-H, operator, function and Trino row whose oracle Spark can
  * analyze is either a `Q.sql` row (its run executes the oracle text)
  * or a declared reshape, and every declared reshape's optimized plan
  * really differs from its oracle's (`LogicalPlan.sameResult`, or its
  * join hints). A DSL or hand-copied body can then neither shadow an
  * oracle it agrees with nor drift from one it disagrees with
  * unannounced.
  *
  * The declarations are each catalog's `reshaped`, name -> why
  * (`TpchQueries.reshaped` is also what `ScaleSweep ab` and `PlanDump`
  * read). */
class OraclePlanSpec extends AnyFunSuite {
  import TestSpark._

  /** Rows whose oracle is DuckDB-only SQL (Spark cannot parse or
    * analyze it), so their run is the only Spark spelling there is. */
  private val duckdbOnly: Set[String] = Set(
    "join_asof", "agg_listagg", "agg_skew_kurt", "agg_percentile", "unnest_lateral",
    "func_dt_extract", "func_dt_format", "func_regex", "func_json", "func_hash",
    "func_bitwise", "func_array1", "func_array2", "func_struct", "func_map",
    "trino_cosine", "trino_datetime", "trino_strings", "trino_encoding",
    "trino_custom_fns", "trino_statistical_fns", "trino_stats_closed_form",
    "trino_approx_pctl_sketch", "trino_hash_duration")

  private val catalogs: Seq[QueryCatalog] =
    Seq(TpchQueries, OperatorQueries, FunctionQueries, TrinoQueries)

  private lazy val rows: Seq[Q] = catalogs.flatMap(_.defs)

  private val reshapes: Set[String] = catalogs.flatMap(_.reshaped.keys).toSet

  /** name -> (run's optimized plan, oracle's), for rows Spark can plan
    * both sides of. */
  private lazy val plans: Map[String, (LogicalPlan, LogicalPlan)] = {
    Engine.registerDir(spark, sf0001)
    rows.flatMap { q =>
      q.oracleSql.flatMap(text => Try(spark.sql(text).queryExecution.optimizedPlan).toOption)
        .map(oracle => q.name -> (q.run(spark, sf0001).queryExecution.optimizedPlan, oracle))
    }.toMap
  }

  /** The join hints of a plan, subqueries included. `sameResult`
    * compares canonicalized plans, which drop `Join.hint`, so a
    * `broadcast()` or SQL BROADCAST hint the oracle lacks is compared
    * here: once a dimension passes the broadcast threshold, such a hint
    * decides whether the fact side shuffles. */
  private def joinHints(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries { case j: Join if j.hint != JoinHint.NONE => j.hint.toString }.sorted

  private def samePlan(name: String): Boolean = {
    val (run, oracle) = plans(name)
    run.sameResult(oracle) && joinHints(run) == joinHints(oracle)
  }

  test("the rows whose oracle Spark cannot analyze are the DuckDB-dialect set") {
    assert(rows.map(_.name).filterNot(plans.contains).toSet == duckdbOnly)
  }

  test("every declaration names a row whose oracle Spark analyzes") {
    assert(reshapes.filterNot(plans.contains).isEmpty)
  }

  test("every row whose oracle Spark analyzes is a Q.sql row or a declared reshape") {
    val undeclared = rows
      .filter(q => plans.contains(q.name) && !reshapes(q.name) && !q.runsOracle)
      .map(q => if (samePlan(q.name)) s"${q.name} (plans like its oracle: make it Q.sql)"
        else s"${q.name} (plans differently: declare why, or make it Q.sql)")
    assert(undeclared.isEmpty, s"undeclared: ${undeclared.mkString(", ")}")
  }

  test("every declared reshape plans differently from its oracle") {
    val same = reshapes.toSeq.sorted.filter(plans.contains).filter(samePlan)
    assert(same.isEmpty, s"no longer differs from its oracle: ${same.mkString(", ")}")
  }
}
