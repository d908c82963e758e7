package graft

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Engine.session` sizes Spark's generated-class cache to the catalog's
  * working set, so a warm pass over the 22 TPC-H rows compiles nothing.
  * At Spark's default of 100 entries the rows' ~310 classes evict each
  * other in a cycle and every pass recompiles all of them.
  *
  * The cache is JVM-global and sized once, by whichever session
  * generates code first — in the shared test JVM that may be a plain
  * session — so the check runs `ScaleSweep codegen` in a fresh JVM.
  *
  * It reads sf0.01, not sf0.001: at sf0.001 q17's join is empty, AQE's
  * empty-relation pruning makes its codegen stage ids depend on stage
  * timing, and the generated code embeds those ids, so q17 has two
  * plans whose last 6 classes differ; each compiles when first met. */
class CodegenCacheSpec extends AnyFunSuite {

  test("a second pass over the 22 TPC-H rows compiles no class") {
    val java = ProcessHandle.current.info.command.get
    // this JVM's flags (the JDK 17 --add-opens Spark needs), a small heap
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx")).toSeq
    val rows = (1 to 22).map(i => f"tpch_q$i%02d")
    val pb = new ProcessBuilder((Seq(java) ++ flags ++ Seq("-Xmx1g",
        "-cp", System.getProperty("java.class.path"), "graft.ScaleSweep", "codegen", "2") ++
        rows).asJava).redirectErrorStream(true)
    pb.environment.put("SPARK_GRAFT_SF_DIR",
      Paths.get(TestSpark.sf0001).resolveSibling("sf0.01").toString)
    pb.environment.put("SPARK_GRAFT_CPUS", "4")
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out)
    val line = out.linesIterator.find(_.startsWith("""{"sweep":"codegen"""")).getOrElse(fail(out))
    assert(line.contains(""""rows":22,"""), line)
    assert(line.contains(""""failed":[],"""), line)
    val compiles = """"compiles":\[(\d+),(\d+)\]""".r.findFirstMatchIn(line)
      .map(m => (m.group(1).toLong, m.group(2).toLong)).getOrElse(fail(line))
    assert(compiles._1 > 0 && compiles._2 == 0, line)
  }
}
