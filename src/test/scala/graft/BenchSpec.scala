package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-query loop: a failing query is named, not swallowed, and
  * the rest of the suite still runs. */
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
}
