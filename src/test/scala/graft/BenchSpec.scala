package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-query loop: a failing query is named, not swallowed, and
  * the rest of the suite still runs. The golden pass says in one short
  * line why it did not run, or how it failed. */
class BenchSpec extends AnyFunSuite {

  test("an injected failing query is named with its phase and error class") {
    def boom(name: String): Unit =
      if (name == "tpch_q02") throw new IllegalStateException("injected failure")
    val (results, failures) = Bench.runSuite(Seq("tpch_q01", "tpch_q02", "tpch_q03"), runs = 2)(
      warm = boom, timed = name => { boom(name); name.length.toDouble })(_.min)
    assert(results == Seq("tpch_q01" -> Some(8.0), "tpch_q02" -> None, "tpch_q03" -> Some(8.0)))
    assert(failures == Seq(
      Bench.Failure("tpch_q02", "warm", "java.lang.IllegalStateException"),
      Bench.Failure("tpch_q02", "timed", "java.lang.IllegalStateException")))
    assert(failures.head.json ==
      """{"query":"tpch_q02","phase":"warm","error":"java.lang.IllegalStateException"}""")
  }

  test("a query that fails only while warming keeps its timed sample") {
    var warmed = false
    val (results, failures) = Bench.runSuite(Seq("q"), runs = 3)(
      warm = _ => { warmed = true; throw new ArithmeticException("cold") },
      timed = _ => 1.5)(_.min)
    assert(warmed && results == Seq("q" -> Some(1.5)))
    assert(failures.map(f => (f.query, f.phase)) == Seq(("q", "warm")))
  }

  test("the golden pass prints one not_run line when no reference is mounted") {
    val line = Bench.goldenPass(referenceMounted = false, skip = false)(
      fail("the golden pass ran without a reference"))
    assert(line == Some(
      s"""{"golden_suite":"not_run","reason":"no reference manifest at ${queries.RefManifest.path}"}"""))
    assert(line.forall(_.length <= 2000))
    assert(Bench.goldenPass(referenceMounted = true, skip = true)(
      fail("the golden pass ran while skipped")) ==
      Some("""{"golden_suite":"not_run","reason":"SPARK_GRAFT_BENCH_SKIP_GOLDEN is set"}"""))
  }

  test("a failing golden pass prints its error class; one that runs prints nothing more") {
    assert(Bench.goldenPass(referenceMounted = true, skip = false)(
      throw new IllegalStateException("injected")) ==
      Some("""{"golden_suite":"failed","error":"java.lang.IllegalStateException"}"""))
    var ran = false
    assert(Bench.goldenPass(referenceMounted = true, skip = false) { ran = true }.isEmpty && ran)
  }
}
