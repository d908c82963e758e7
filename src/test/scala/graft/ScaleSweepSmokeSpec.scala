package graft

import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

/** Every ScaleSweep mode at toy size (≤ 10k docs, sf0.001) on the shared
  * test session, through the same mode table `main` dispatches on. A
  * mode broken by a refactor fails here in seconds instead of minutes
  * into a 10⁶-doc anchor run; the self-checking fields each sweep
  * prints (recall, witnesses, row invariants) are asserted too. */
class ScaleSweepSmokeSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val table = ScaleSweep.modes(Map(
    "SPARK_GRAFT_SF_DIR" -> sf0001, "SPARK_GRAFT_TPCH_SRC" -> sf0001))

  /** Runs one mode and returns the JSON lines it printed. */
  private def run(mode: String, args: String*): Seq[String] = {
    val buf = new ByteArrayOutputStream
    Console.withOut(buf)(table(mode)(spark, args))
    buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).toSeq
  }

  private def field(line: String, key: String): String = {
    val m = ("\"" + key + "\":(\"[^\"]*\"|[^,}]*)").r.findFirstMatchIn(line)
    assert(m.isDefined, s"no $key in $line")
    m.get.group(1)
  }

  /** mode -> (toy arguments, fields that must read as given). */
  private val toy: Seq[(String, Seq[String], Map[String, String])] = Seq(
    ("dedup", Seq("4000"), Map("incrementalPairs" -> "40")),
    ("spans", Seq("4000"), Map("dupDocs" -> "400", "exactShapeDocs" -> "400")),
    ("simhash", Seq("4000"), Map("exactRecall" -> "true")),
    ("contam", Seq("4000"), Map("plantedFound" -> "100", "keptDocs" -> "3900")),
    ("ann", Seq("2000"), Map("queries" -> "20")),
    ("ann-clustered", Seq("2000"), Map("nCells" -> "64")),
    ("pq", Seq("2000"), Map("queries" -> "20")),
    ("semdedup", Seq("4000"), Map("oneVerdictPerVector" -> "true",
      "witnessViolations" -> "0")),
    ("semdedup2", Seq("4000"), Map("oneVerdictPerVector" -> "true",
      "witnessViolations" -> "0")),
    ("rel_ab", Seq("4000"), Map("cellMismatches" -> "0")),
    ("semdedup2rel", Seq("2000"), Map("oneVerdictPerVector" -> "true",
      "witnessViolations" -> "0", "planJoinShape" -> "true")),
    ("lshauto", Seq("4000"), Map("docs" -> "4000")),
    ("iceberg", Seq("6400"), Map("rowsMatch" -> "true", "cdcOrderedOk" -> "true",
      "morZeroRewrite" -> "true", "partitionDeleteRewroteFiles" -> "false")),
    ("plan", Seq("1000"), Map("plansAgree" -> "true")),
    ("metafiles", Seq("1000"), Map("rows" -> "1000")),
    ("stats", Seq("1000"), Map("rows" -> "1000000")),
    ("writemeta", Seq("4000"), Map("files" -> "2000", "pointFilterKept" -> "1")),
    ("eqdel", Seq("4000"), Map("filesRewrittenEq" -> "0", "survivors" -> "3600")),
    ("eqdelk", Seq("4000"), Map.empty),
    ("hidden", Seq("1000"), Map("rows" -> "1000")),
    // at toy size the 32 seed files are themselves under the 32 KB
    // small-file threshold, so they compact along with the stragglers
    ("optimize", Seq("4000"), Map("filesAfter" -> "32", "rows" -> "14000")),
    ("lakehouse", Nil, Map("sf" -> "\"sf0.001\"")),
    ("update", Nil, Map("sf" -> "\"sf0.001\"")),
    ("sqldml", Nil, Map("sf" -> "\"sf0.001\"")),
    ("stream", Seq("1"), Map("witnesses" -> "true")),
    ("tpchgen", Seq("2"), Map("replicas" -> "2")),
    ("codegen", Seq("1", "tpch_q06"), Map("rows" -> "1", "failed" -> "[]")))

  test("the toy list covers every mode but ab") {
    assert(toy.map(_._1).toSet == table.keySet - "ab")
  }

  toy.foreach { case (mode, args, expect) =>
    test(s"$mode runs at toy size") {
      try {
        val lines = run(mode, args: _*)
        assert(lines.size == 1, lines)
        expect.foreach { case (k, v) => assert(field(lines.head, k) == v, lines.head) }
      } finally if (mode == "tpchgen") {
        // tpchgen writes to its fixed, documented output dir
        Engine.deleteRecursively(java.nio.file.Paths.get("/tmp/graft_sf0r2"))
      }
    }
  }

  test("ab tpch_q13 tpch_q21: interleaved arms, equal stock and shipped digests") {
    val lines = run("ab", "tpch_q13", "tpch_q21")
    val arms = lines.map(l =>
      (field(l, "query"), field(l, "round"), field(l, "arm"), field(l, "order")))
    // ABBA: stock runs first in round 1, shipped first in round 2
    assert(arms == (for (round <- 1 to 2; q <- Seq("tpch_q13", "tpch_q21");
        (arm, order) <- (if (round == 1) Seq("stock", "shipped") else Seq("shipped", "stock"))
          .zip(Seq("1", "2"))) yield (s""""$q"""", round.toString, s""""$arm"""", order)))
    lines.grouped(2).foreach { case Seq(a, b) =>
      assert(field(a, "resultDigest") == field(b, "resultDigest"))
      assert(field(a, "rows").toLong > 0)
    }
    // the unprinted warm-up round compiled every arm: both printed rounds are warm
    lines.foreach(l => assert(field(l, "compiles") == "0", l))
  }

  test("an unknown mode exits non-zero and lists the valid modes") {
    val java = ProcessHandle.current.info.command.get
    val p = new ProcessBuilder(java, "-Xmx128m",
        "-cp", System.getProperty("java.class.path"), "graft.ScaleSweep", "q11AB")
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 2, out)
    assert(out.contains("unknown mode 'q11AB'"), out)
    assert(table.keys.forall(out.contains), out)
  }
}
