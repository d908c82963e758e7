package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** The LSH-union band auto-sizer (VERDICT r15 #4): [[Similarity
  * .autoLshBands]] derives (lshBits, lshBands) from a bounded
  * deterministic sample of the corpus's own signatures, applying the
  * r15 sizing law (band width widens with corpus² × similarity-tail
  * mass) without asking the caller to know it. These specs pin the
  * estimator's determinism (sample order-, partition- and
  * parallelism-independent; core pure function repeatable) and the
  * law's direction (same corpus statistics + bigger corpus ⇒ never
  * narrower bands). The 20M/40M anchor calibration lives in SCALE.md;
  * re-run it with `scripts/run_main.sh graft.ScaleSweep lshauto <nDocs>`. */
class LshAutoSpec extends AnyFunSuite {
  import TestSpark._

  /** Synthetic signature sample with a controlled background: `m`
    * sigs in `clusters` groups; cluster-mates share all but ~`flip`
    * random bits (high bit agreement — the clustered-corpus regime
    * the 20M/40M anchors measure). Deterministic via seeded Random. */
  private def clusteredSigs(m: Int, clusters: Int, flip: Int,
      seed: Long): Array[Long] = {
    val rnd = new scala.util.Random(seed)
    val bases = Array.fill(clusters)(rnd.nextLong())
    Array.tabulate(m) { i =>
      var s = bases(i % clusters)
      (0 until flip).foreach(_ => s ^= 1L << rnd.nextInt(64))
      s
    }
  }

  test("chooseLshBands is a pure function: identical inputs give identical choices") {
    val sigs = clusteredSigs(512, 20, 6, seed = 7L)
    val picks = (0 until 3).map(_ => Similarity.chooseLshBands(sigs, 20000000L))
    assert(picks.distinct.size == 1, picks.toString)
    // and the per-config estimates are bit-identical too
    val est = (0 until 3).map(_ => Similarity.lshBandEstimates(sigs, 20000000L))
    assert(est.distinct.size == 1)
  }

  test("the sizing law's direction: bigger corpus, same statistics => never narrower bands") {
    val sigs = clusteredSigs(512, 20, 6, seed = 7L)
    val ns = Seq(1000L, 100000L, 1000000L, 20000000L, 40000000L, 1000000000L)
    val bands = ns.map(n => Similarity.chooseLshBands(sigs, n)._2)
    assert(bands.zip(bands.tail).forall { case (a, b) => b <= a },
      s"bands must be non-increasing in corpus size: ${ns.zip(bands)}")
    // a tiny corpus keeps the narrow high-recall default; a clustered
    // billion-doc corpus is forced wide
    assert(bands.head == 16, s"tiny corpus should keep 16 bands: $bands")
    assert(bands.last == 1, s"clustered 1B-doc corpus must go 1x64: $bands")
  }

  test("estimates scale with corpus pair count (the corpus-squared law)") {
    val sigs = clusteredSigs(512, 20, 6, seed = 7L)
    val e1 = Similarity.lshBandEstimates(sigs, 20000000L).toMap
    val e2 = Similarity.lshBandEstimates(sigs, 40000000L).toMap
    // doubling the corpus ~quadruples every config's volume
    Seq(16, 8, 4, 2, 1).filter(b => e1(b) > 0).foreach { b =>
      val ratio = e2(b) / e1(b)
      assert(math.abs(ratio - 4.0) < 0.01, s"bands=$b ratio=$ratio")
    }
  }

  test("autoLshBands is partition- and order-independent on real data") {
    val emb = Engine.t(spark, sf0001, "embeddings")
    val a = Similarity.autoLshBands(emb, "vec_id", "embedding")
    val b = Similarity.autoLshBands(emb.repartition(17), "vec_id", "embedding")
    val c = Similarity.autoLshBands(
      emb.orderBy(col("vec_id").desc), "vec_id", "embedding")
    assert(a == b && b == c, s"$a / $b / $c")
    // the sf0.001 corpus is tiny: the narrow default must win, so the
    // auto path cannot disturb small-corpus behavior
    assert(a == (64, 16), a.toString)
  }

  test("one-pass sampler == two-pass sampler: same sample, exact count (ADVICE r16)") {
    val emb = Engine.t(spark, sf0001, "embeddings")
    val twoPass = Similarity.lshSampleSigs(emb, "vec_id", "embedding", 42L, 64)
    Seq(emb, emb.repartition(17),
        emb.orderBy(col("vec_id").desc)).foreach { df =>
      val (sigs, n) =
        Similarity.lshSampleSigsAndCount(df, "vec_id", "embedding", 42L, 64)
      assert(n == emb.count(), s"count $n")
      assert(sigs.toSeq == twoPass.toSeq,
        "the fused sample must equal the orderBy-limit sample")
    }
    // sampleSize > corpus: whole corpus sampled, count still exact
    val small = emb.limit(10)
    val (allSigs, n10) =
      Similarity.lshSampleSigsAndCount(small, "vec_id", "embedding", 42L, 64)
    assert(n10 == 10 && allSigs.length == 10)
  }

  test("the auto path runs ONE Spark job: no separate count() action (ADVICE r16)") {
    val emb = Engine.t(spark, sf0001, "embeddings")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Similarity.autoLshBands(emb, "vec_id", "embedding")
      // listener delivery is async; give the bus a moment to drain
      val deadline = System.nanoTime() + 5000000000L
      while (jobs.get == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(250)
      assert(jobs.get == 1,
        s"autoLshBands must fuse sample + count into one action, ran ${jobs.get} jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("lshBands = 0 sentinel: auto-sized union == explicit default at small scale") {
    val emb = Engine.t(spark, sf0001, "embeddings")
    val auto = Similarity.semanticDedupTwoLevel(emb, "vec_id", "embedding",
        nSuper = 3, nSubPerCell = 3, iters = 2, threshold = 0.35,
        lshUnion = true, lshBands = 0)
      .orderBy(col("vec_id")).collect()
    val explicit = Similarity.semanticDedupTwoLevel(emb, "vec_id", "embedding",
        nSuper = 3, nSubPerCell = 3, iters = 2, threshold = 0.35,
        lshUnion = true)
      .orderBy(col("vec_id")).collect()
    assert(auto.toSeq == explicit.toSeq)
    assert(auto.nonEmpty)
  }

  test("invalid explicit bits/bands are refused loudly (ADVICE r15)") {
    val emb = Engine.t(spark, sf0001, "embeddings")
    def run(bits: Int, bands: Int) =
      Similarity.semanticDedupTwoLevel(emb, "vec_id", "embedding",
        nSuper = 3, nSubPerCell = 3, iters = 2, threshold = 0.35,
        lshUnion = true, lshBits = bits, lshBands = bands).collect()
    // bands > bits: width 0 / mask 0 would silently disable the dial
    val e1 = intercept[IllegalArgumentException](run(4, 16))
    assert(e1.getMessage.contains("bands"), e1.getMessage)
    // non-divisible: top bits silently ignored
    val e2 = intercept[IllegalArgumentException](run(64, 3))
    assert(e2.getMessage.contains("divid"), e2.getMessage)
    // bits > 64
    val e3 = intercept[IllegalArgumentException](run(128, 2))
    assert(e3.getMessage.contains("64"), e3.getMessage)
  }
}
