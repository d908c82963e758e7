package graft

import org.scalatest.funsuite.AnyFunSuite

/** The task-metrics listener shared by Bench and ScaleSweep: deltas are
  * read only once the listener has gone quiet, so a late `TaskEnd` is
  * never charged to the next window. */
class TaskMetricsSpec extends AnyFunSuite {
  import TestSpark._

  test("a shuffling query gives a positive settled shuffle-write delta that stays put") {
    TaskMetrics.during(spark) { m =>
      val before = m.settled()
      SparkEntry.queries("tpch_q13")(spark, sf0001)
        .write.format("noop").mode("overwrite").save()
      val first = m.settled()
      val second = m.settled()
      assert((first - before).shuffleWrite > 0, s"$before -> $first")
      assert(second == first)
    }
  }

  test("a query that generates a new class counts its compiles in its window") {
    TaskMetrics.during(spark) { m =>
      val before = m.settled()
      // a literal no earlier query used, so no cached class fits it
      spark.range(10).selectExpr(s"id * ${System.nanoTime} AS x")
        .write.format("noop").mode("overwrite").save()
      assert((m.settled() - before).compiles > 0)
    }
  }

  test("during detaches its listener, so later jobs leave its totals alone") {
    val m = TaskMetrics.during(spark)(identity)
    val detached = m.settled()
    SparkEntry.queries("tpch_q13")(spark, sf0001)
      .write.format("noop").mode("overwrite").save()
    assert(m.settled() == detached)
  }
}
