package graft

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Join, LeafNode, LogicalPlan, RebalancePartitions, SHUFFLE_HASH}
import org.scalatest.exceptions.TestFailedException
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the optimizations SURVEY §4 maps from the
  * reference must actually appear in the physical plans — filter
  * pushdown to parquet, column pruning, broadcast joins for small dims,
  * top-k fusion, partial aggregation. Guards future rounds against
  * silently losing a pushdown. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  // execute first: AQE only reveals the final plan (incl. codegen
  // spans) after the job runs; long PushedFilters lists are truncated in
  // toString, so assertions use prefixes
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q6: date + numeric filters pushed to the parquet scan") {
    val p = plan("tpch_q06")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipda"))
  }

  test("scan_projection: only selected columns read") {
    val p = plan("scan_projection")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"))
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,495000.0)]"))
  }

  test("q5: small dimensions join via broadcast, no shuffle for them") {
    val p = plan("tpch_q05")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("topk fuses into TakeOrderedAndProject") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q1: aggregation is partial (map-side) then final") {
    val p = plan("tpch_q01")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_"))
  }

  test("q1 stays inside whole-stage codegen") {
    // codegen stages print as *(n) markers in the compact plan string
    val p = plan("tpch_q01")
    assert(p.contains("*(1)") && p.contains("*(2)"))
  }

  test("SQL join of a small graft table broadcasts with no hint") {
    // the spliced read must carry real size statistics so the planner
    // picks the broadcast side from METADATA, not hints
    val root = java.nio.file.Files.createTempDirectory("graft_planstat").toString
    graft.sources.Catalog.init(root)
    spark.conf.set("spark.sql.catalog.pstat",
      classOf[graft.plans.GraftCatalogPlugin].getName)
    spark.conf.set("spark.sql.catalog.pstat.root", root)
    spark.sql("CREATE NAMESPACE pstat.db")
    spark.sql("CREATE TABLE pstat.db.dim (k BIGINT, name STRING)")
    spark.sql("INSERT INTO pstat.db.dim VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("CREATE TABLE pstat.db.fact (k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO pstat.db.fact SELECT id % 3 + 1, id FROM range(20000)")
    val df = spark.sql("""
      SELECT d.name, sum(f.v) AS total
      FROM pstat.db.fact f JOIN pstat.db.dim d ON f.k = d.k
      GROUP BY d.name""")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dim must broadcast, not shuffle")
    // the lazy marker itself carries MANIFEST-derived statistics
    // (sizes + row counts) — pre-splice stats consumers see the true
    // table size, not the assume-huge leaf default
    val markerStats = df.queryExecution.analyzed.collect {
      case g: graft.plans.GraftRelation => g.stats
    }
    assert(markerStats.size == 2)
    assert(markerStats.exists(_.rowCount.contains(BigInt(20000))), markerStats)
    assert(markerStats.exists(_.rowCount.contains(BigInt(3))), markerStats)
    assert(markerStats.forall(_.sizeInBytes > 0))
  }

  test("semi/anti shapes plan as semi/anti joins, not cross products") {
    assert(plan("join_semi").contains("LeftSemi"))
    assert(plan("join_anti").contains("LeftAnti"))
    assert(!plan("tpch_q21").contains("CartesianProduct"))
  }

  test("exact dedup is a single hash aggregate (one shuffle)") {
    val p = plan("dedup_exact")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin")) // no join at all
  }

  test("minhash LSH dedup never forms a cartesian product") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("span dedup: equi-joins on the gram index, no cartesian, partial agg") {
    val p = plan("dedup_spans")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // duplicate-gram detection must be a partial (map-side) aggregate
    assert(p.contains("HashAggregate"))
  }

  test("inverted-index df guard: partial count before the exchange, no posting-list window") {
    // VERDICT r5 item 4: the hot-shingle guard must be a groupBy-count
    // + join (map-side partial_count aggregates a hot shingle's posting
    // list BEFORE the shuffle) — not a Window.partitionBy(shingle),
    // which buffers the full posting list in one task first.
    import org.apache.spark.sql.functions.col
    val real = Engine.t(spark, sf0001, "documents")
    val pairs = operators.Dedup.jaccardPairs(real, col("doc_id"), col("text"),
      n = 3, threshold = 0.5, maxBucket = 100)
    pairs.collect()
    val p = pairs.queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), s"df guard must partial-aggregate:\n$p")
    assert(!p.contains("Window"), s"df guard must not window over postings:\n$p")
  }

  test("dedup clusters: cluster_size is partial count + join, no mega-cluster window") {
    // VERDICT r6 item 4 (the last posting-buffering window in the dedup
    // family): cluster_size must be groupBy-count + join so a
    // mega-cluster (millions of boilerplate near-dups — the common case
    // in web corpora) never buffers all its rows in one window task.
    import org.apache.spark.sql.functions.col
    val real = Engine.t(spark, sf0001, "documents")
    val cl = operators.Dedup.clusters(real, col("doc_id"), col("text"),
      n = 3, threshold = 0.5)
    cl.collect()
    val p = cl.queryExecution.executedPlan.toString
    assert(p.contains("partial_count"), s"cluster_size must partial-aggregate:\n$p")
    assert(!p.contains("Window"), s"cluster_size must not window over clusters:\n$p")
  }

  test("bm25: no token explode, one-row stats broadcast, top-k fused") {
    import org.apache.spark.sql.functions.col
    val docs = Engine.t(spark, sf0001, "documents")
    val ranked = operators.TextAnalysis.bm25(docs, col("doc_id"), col("text"),
      queryTerms = Seq("spark", "vector"), k = 5)
    ranked.collect()
    val p = ranked.queryExecution.executedPlan.toString
    assert(!p.contains("Generate"), s"bm25 must not explode tokens:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"stats row must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"ranking must fuse top-k:\n$p")
  }

  test("LSH band and SimHash chunk bucket guards: partial count, no posting window") {
    // r6 extension of the dfGuard fix: the OTHER two hot-bucket guards
    // (incremental-LSH corpus bands, SimHash pigeonhole chunks) carry
    // the same skew hazard and must use the same groupBy-count + join
    // shape — map-side partial_count, never Window.partitionBy(bucket).
    import org.apache.spark.sql.functions.col
    val real = Engine.t(spark, sf0001, "documents")
    val bands = operators.Dedup.guardedCorpusBands(real, col("doc_id"), col("text"),
      n = 3, bands = 4, rowsPerBand = 2, maxBucket = 100)
    bands.collect()
    val bp = bands.queryExecution.executedPlan.toString
    assert(bp.contains("partial_count"), s"band guard must partial-aggregate:\n$bp")
    assert(!bp.contains("Window"), s"band guard must not window over buckets:\n$bp")

    val sim = operators.Dedup.simhashPairs(real, col("doc_id"), col("text"),
      maxHamming = 3, chunks = 8, maxBucket = 100)
    sim.collect()
    val sp = sim.queryExecution.executedPlan.toString
    assert(sp.contains("partial_count"), s"chunk guard must partial-aggregate:\n$sp")
    assert(!sp.contains("Window"), s"chunk guard must not window over buckets:\n$sp")
  }

  test("IVF cell assignment is map-side: zero exchanges on the corpus") {
    // VERDICT r1 item 3: the old plan window-shuffled the corpus×cells
    // cross product. Now assignment is a pure projection over a centroid
    // array literal — the assigned corpus must plan as scan→project with
    // no Exchange at all.
    import org.apache.spark.sql.functions.col
    val emb = Engine.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val assigned = operators.Similarity.ivfAssign(emb, "vec_id", "embedding", nCells = 8)
    assigned.collect()
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"corpus assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), s"corpus assignment must not join:\n$p")
  }

  test("PQ encode/decode is map-side: zero exchanges, zero joins on the corpus") {
    // Same discipline as IVF assignment: the codebook travels as a
    // literal inside the projection, so encoding 100 TB of vectors is
    // a narrow scan→project — no shuffle, no join, no window.
    import org.apache.spark.sql.functions.col
    val emb = Engine.t(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val books = operators.Similarity.pqFit(emb, "vec_id", "embedding",
      m = 8, ksub = 16, iters = 0)
    val coded = emb.select(col("vec_id"),
      operators.Similarity.pqDecode(
        operators.Similarity.pqEncode(col("embedding"), books), books).as("dq"))
    coded.collect()
    val p = coded.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"PQ encode/decode must not shuffle:\n$p")
    assert(!p.contains("Join"), s"PQ encode/decode must not join:\n$p")
  }

  test("PQ top-k broadcasts queries and candidates; corpus side never sort-merges") {
    val emb = Engine.t(spark, sf0001, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .toDF("query_id", "qv")
    val df = operators.Similarity.pqTopK(emb, q, "vec_id", "embedding",
      "query_id", "qv", k = 3, m = 8, ksub = 16, iters = 1, oversample = 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("IVF top-k broadcasts the probe side; corpus side never sort-merges") {
    val emb = Engine.t(spark, sf0001, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .toDF("query_id", "qv")
    val df = operators.Similarity.ivfTopK(emb, q, "vec_id", "embedding",
      "query_id", "qv", k = 3, nCells = 8, nProbe = 2)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("IcebergLite reads take partition values and file identity from the manifest index") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergLite
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_plan_iceberg").toString
    IcebergLite.createTable(root)
    (0 until 2).foreach { a =>
      IcebergLite.append(s, root, (0L until 20L).map(i =>
        (a * 100L + i, i % 4, if (i % 2 == 0) "even" else "odd")).toDF("id", "k", "part"), Seq("part"))
    }
    // no expression anywhere in the plan works a file's identity out of
    // its path, row by row
    def pathDecoding(df: DataFrame): Seq[String] = {
      val qe = df.queryExecution
      (Seq(qe.analyzed, qe.optimizedPlan).flatMap(_.collect { case n => n.expressions })
        ++ qe.sparkPlan.collect { case n => n.expressions }).flatten
        .flatMap(_.collect { case e => e.getClass.getSimpleName })
        .filter(Set("InputFileName", "UrlDecode", "RegExpReplace"))
    }
    def joins(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size +
        df.queryExecution.sparkPlan.collect { case j: BaseJoinExec => j }.size

    val clean = IcebergLite.read(s, root)
    assert(pathDecoding(clean).isEmpty, pathDecoding(clean))
    assert(joins(clean) == 0, clean.queryExecution.sparkPlan)
    val even = clean.filter(col("part") === "even")
    val scans = even.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1 &&
      scans.head.partitionFilters.exists(_.references.map(_.name).toSet == Set("part")),
      even.queryExecution.sparkPlan)
    assert(even.count() == 20L)

    // one pending delete of each kind: predicate, equality file, positions
    val (file0, pos0) = IcebergLite.readWithMetadataColumns(s, root)
      .filter(col("id") === 0L).select("_file", "_pos").as[(String, Long)].head()
    IcebergLite.deleteMergeOnRead(s, root, Seq(IcebergLite.Eq("k", "1")))
    IcebergLite.deleteEquality(s, root, Seq(2L, 102L).toDF("id"))
    IcebergLite.deletePositions(s, root, Map(file0 -> Seq(pos0)))
    assert(IcebergLite.rowDeletes(root).size == 1 &&
      IcebergLite.eqDeletes(root).size == 1 && IcebergLite.posDeletes(root).size == 1)
    val withDeletes = IcebergLite.read(s, root)
    assert(pathDecoding(withDeletes).isEmpty, pathDecoding(withDeletes))
    // 40 rows − the 10 with k = 1 − ids 2 and 102 − id 0
    assert(withDeletes.select("id").as[Long].collect().sorted.toSeq ==
      (0 until 2).flatMap(a => (0L until 20L).filter(i => i % 4 != 1).map(a * 100L + _))
        .filterNot(Set(0L, 2L, 102L)))
    val meta = IcebergLite.readWithMetadataColumns(s, root)
    assert(pathDecoding(meta).isEmpty, pathDecoding(meta))
    assert(meta.count() == 27L)
  }

  // Plan contracts for the spill-removing TPC-H reshapes: sf100 spill
  // cannot be re-run here, so each pins, on the optimized logical plan
  // (which broadcasting at toy size cannot hide), the shape that
  // removed it. Each contract must fail on the stock oracle SQL, or it
  // pins nothing; the test checks that too and reports why it fails.

  /** Leaves scanning the table whose rows carry column `key`. */
  private def scans(p: LogicalPlan, key: String): Int =
    p.collectWithSubqueries { case l: LeafNode if l.output.exists(_.name == key) => l }.size

  private def groupedOn(a: Aggregate): Seq[String] =
    a.groupingExpressions.collect { case r: AttributeReference => r.name }

  private def rebalancedOn(p: LogicalPlan, keys: String*): Boolean = p.exists {
    case r: RebalancePartitions =>
      r.partitionExpressions.collect { case a: AttributeReference => a.name } == keys
    case _ => false
  }

  private def contract(name: String)(holds: LogicalPlan => Unit): Unit = {
    Engine.registerDir(spark, sf0001)
    holds(SparkEntry.queries(name)(spark, sf0001).queryExecution.optimizedPlan)
    val stock = spark.sql(SparkEntry.oracleSql(name)).queryExecution.optimizedPlan
    val e = intercept[TestFailedException](holds(stock))
    info(s"fails on the stock oracle: ${e.getMessage}")
  }

  test("q04 plan contract: a per-order lineitem aggregate replaces the semi join") {
    contract("tpch_q04") { p =>
      val semiJoin = p.exists { case j: Join => j.joinType == LeftSemi; case _ => false }
      assert(!semiJoin, "the plan has a LeftSemi join")
      val perOrder = p.exists {
        case a: Aggregate => groupedOn(a) == Seq("l_orderkey") && scans(a, "l_orderkey") > 0
        case _ => false
      }
      assert(perOrder, "no lineitem aggregate is keyed on l_orderkey")
    }
  }

  test("q13 plan contract: orders are aggregated below the customer join") {
    contract("tpch_q13") { p =>
      val belowJoin = p.exists {
        case j: Join =>
          Seq(j.left -> j.right, j.right -> j.left).exists { case (o, c) =>
            scans(c, "c_custkey") > 0 &&
              o.exists { case a: Aggregate => scans(a, "o_orderkey") > 0; case _ => false }
          }
        case _ => false
      }
      assert(belowJoin, "no orders aggregate sits below the customer join")
    }
  }

  test("q21 plan contract: one lineitem scan, no Expand") {
    contract("tpch_q21") { p =>
      val expand = p.exists(_.isInstanceOf[Expand])
      assert(!expand, "the plan has an Expand")
      val lineitemScans = scans(p, "l_orderkey")
      assert(lineitemScans == 1, "lineitem is scanned more than once")
    }
  }

  test("q16 plan contract: the DISTINCT key is rebalanced and part builds a shuffled hash") {
    contract("tpch_q16") { p =>
      assert(rebalancedOn(p, "p_brand", "p_type", "p_size", "l_suppkey"),
        "no RebalancePartitions on (p_brand, p_type, p_size, l_suppkey)")
      val hashedPart = p.exists {
        case j: Join =>
          Seq(j.left -> j.hint.leftHint, j.right -> j.hint.rightHint).exists { case (side, h) =>
            scans(side, "p_partkey") > 0 && h.exists(_.strategy.contains(SHUFFLE_HASH))
          }
        case _ => false
      }
      assert(hashedPart, "the part join has no SHUFFLE_HASH hint on part")
    }
  }

  test("q18 plan contract: lineitem is rebalanced on l_orderkey under the HAVING aggregate") {
    contract("tpch_q18") { p =>
      val colocated = p.collectWithSubqueries {
        case a: Aggregate if groupedOn(a) == Seq("l_orderkey") => rebalancedOn(a, "l_orderkey")
      }.contains(true)
      assert(colocated, "no l_orderkey aggregate sits over a RebalancePartitions(l_orderkey)")
    }
  }
}
