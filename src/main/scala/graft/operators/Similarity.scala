package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{toCol, toExpr}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.expressions.{CentroidIdAt, CosineSimilarity,
  FlatCentroids, HyperplaneLsh, NearestCentroid, NearestCentroidId,
  NearestCentroids, NearestInPacked, PqAdcDot, PqEncode,
  TwoLevelFlatIndex, TwoLevelNearestCell}

/** A fitted FLAT centroid index broadcast ONCE and reusable across any
  * number of assign/dedup/top-k calls — the fit-once-serve-many handle.
  * The plain `kmeansAssign(nCells, iters)`-style entry points are
  * self-contained (fit + one internal broadcast per call) but cannot
  * destroy that broadcast — the returned relation is lazy, so each call
  * parks one index copy on the executors until the ContextCleaner GCs
  * it. A long session assigning many batches should fit ONE handle
  * ([[Similarity.fitIndex]] / [[Similarity.indexOf]]), pass it to every
  * batch, and [[destroy]] it when no query built on it will run again.
  */
final class CentroidIndexHandle private[operators] (
    private[operators] val bc: org.apache.spark.broadcast.Broadcast[FlatCentroids]) {
  /** Driver-side views of the fitted index (the broadcast's local
    * value — no copy): `cellIds(i)`/`cellVecs(i)` is centroid i. */
  def cellIds: Seq[Long] = bc.value.ids.toSeq
  def cellVecs: Seq[Seq[Double]] = {
    val v = bc.value
    (0 until v.n).map(c => v.flat.slice(c * v.dim, (c + 1) * v.dim).toSeq)
  }
  def nCells: Int = bc.value.n
  def dim: Int = bc.value.dim
  /** The SparkContext broadcast id — lets a caller (or spec) correlate
    * the handle with executor storage. */
  def broadcastId: Long = bc.id
  /** Release the executor + driver blocks NOW. Any not-yet-executed
    * query built on this handle will fail afterwards — destroy only
    * once every consumer has run. */
  def destroy(): Unit = bc.destroy()
}

/** Two-level (IMI-style) twin of [[CentroidIndexHandle]] — one
  * broadcast of the composite index, explicit [[destroy]]. */
final class TwoLevelIndexHandle private[operators] (
    private[operators] val bc: org.apache.spark.broadcast.Broadcast[TwoLevelFlatIndex]) {
  def nSuper: Int = bc.value.nSuper
  def stride: Long = bc.value.stride
  def dim: Int = bc.value.dim
  def broadcastId: Long = bc.id
  def destroy(): Unit = bc.destroy()
}

/** Similarity search over an embedding column (array<float>).
  *
  * Two paths, per the pipeline mandate:
  *  - `bruteForceTopK` — exact baseline. The query side is broadcast
  *    (small by construction); the corpus streams through a map-side
  *    cosine kernel + per-query top-k. At 100 TB the corpus never
  *    shuffles: broadcast-join → window rank is one stage.
  *  - `lshTopK` / `cosinePairs(lsh=true)` — hyperplane-LSH bucketing:
  *    candidates only where signature bands collide, exact cosine
  *    re-ranks. Recall tunable via (bits, bands).
  */
object Similarity {

  /** Ceiling on centroid/codebook fit sizes: the fit collects this
    * many vectors to the driver and ships them to executors as a
    * BROADCAST of flat primitive arrays (MaxFitCells×dim doubles —
    * deserialized once per executor, not per task; see
    * [[graft.functions.expressions.NearestCentroid]]). Covers
    * SemDeDup's ~100k-cell discipline at moderate dims; shard the
    * corpus and fit per shard (or cluster hierarchically) beyond it. */
  val MaxFitCells: Int = 131072

  /** Ceiling on the PER-ROUND Lloyd mean-collect, in scalar elements
    * (cells × dim): [[MaxFitCells]] bounds the cell count but the
    * per-round centroid collect grows with dimension too — 131k cells
    * × 768 dims would put ~100M doubles on the driver. 2^24 elements
    * ≈ 128 MB boxed, comfortably inside any driver. Beyond it, fit on
    * a sample with fewer cells, shard the corpus and fit per shard, or
    * reduce dimension before clustering. */
  val MaxFitElements: Long = 1L << 24

  private def requireFitElements(nCells: Long, dim: Int, what: String): Unit =
    require(nCells * dim <= MaxFitElements,
      s"$what collects nCells*dim = $nCells*$dim doubles per Lloyd " +
        s"round (limit $MaxFitElements): fit on a sample with fewer " +
        "cells, shard the corpus and fit per shard, or reduce the " +
        "embedding dimension before clustering")

  def cosine(a: Column, b: Column): Column = toCol(CosineSimilarity(toExpr(a), toExpr(b)))

  /** Signature column: 64-bit hyperplane LSH fingerprint. */
  def lshSignature(vec: Column, bits: Int = 64, seed: Long = 42L): Column =
    toCol(HyperplaneLsh(toExpr(vec), bits, seed))

  /** Exact top-k cosine neighbors for each query vector. `queries` must
    * be broadcast-small; excludes self-matches on id equality. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val joined = corpus.join(broadcast(queries), col(corpusId) =!= col(queryId))
      .withColumn("cos_sim", cosine(col(queryVec), col(corpusVec)))
    val w = Window.partitionBy(col(queryId))
      .orderBy(col("cos_sim").desc, col(corpusId))
    joined
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId).as("query_id"), col("rank"),
        col(corpusId).as("neighbor_id"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** ANN top-k via banded hyperplane signatures: a candidate must share
    * at least one of `bands` signature chunks with the query, then exact
    * cosine ranks candidates. Misses are possible (that's the A in ANN);
    * recall rises with bands. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int, bits: Int = 64, bands: Int = 16, seed: Long = 42L): DataFrame = {
    val width = bits / bands
    def banded(df: DataFrame, idCol: String, vecCol: String, prefix: String): DataFrame = {
      val sig = lshSignature(col(vecCol), bits, seed)
      val chunks = (0 until bands).map(c =>
        shiftrightunsigned(col(s"${prefix}_sig"), c * width).bitwiseAND(lit((1L << width) - 1)))
      df.select(col(idCol).as(s"${prefix}_id"), col(vecCol).as(s"${prefix}_vec"),
          sig.as(s"${prefix}_sig"))
        .select(col(s"${prefix}_id"), col(s"${prefix}_vec"), posexplode(array(chunks: _*)))
        .withColumnsRenamed(Map("pos" -> "chunk", "col" -> s"${prefix}_chunk_val"))
    }
    val cb = banded(corpus, corpusId, corpusVec, "c")
    val qb = banded(queries, queryId, queryVec, "q")
    val cands = cb.join(qb,
        cb("chunk") === qb("chunk") && col("c_chunk_val") === col("q_chunk_val") &&
          col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), col("q_vec"), col("c_vec"))
      .distinct()
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("c_id"))
    cands
      .withColumn("cos_sim", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id").as("query_id"), col("rank"),
        col("c_id").as("neighbor_id"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** ANN top-k via an IVF (inverted-file) index: deterministic centroid
    * sample → every corpus vector assigned to its nearest centroid by a
    * PURE MAP-SIDE EXPRESSION (argmax over a centroid array literal —
    * no join, no window, zero shuffle of the corpus) → each query
    * probes only its `nProbe` nearest cells. Coarser than LSH banding
    * but gives the classic tunable recall/cost dial (`nCells`,
    * `nProbe`); at 100 TB the assignment is a narrow projection and
    * queries touch ~nProbe/nCells of the corpus.
    *
    * Centroids are the corpus vectors with the `nCells` smallest ids —
    * deterministic, no iterative clustering (a k-means refinement would
    * drop in unchanged). They are collected once at plan time — a
    * BOUNDED nCells-row collect, the standard fit-then-broadcast shape
    * (same as attaching a trained k-means model) — and shipped to every
    * executor inside the plan as a literal.
    */
  /** Bounded centroid fit: the corpus vectors with the `nCells`
    * smallest ids, collected at plan time (nCells rows — never the
    * corpus). Returns (cellIds, cellVecs) ordered by id. */
  def fitCentroids(corpus: DataFrame, corpusId: String, corpusVec: String,
      nCells: Int): (Seq[Long], Seq[Seq[Double]]) = {
    // driver-memory contract: a careless caller must not be able to
    // turn the fit into a corpus-sized collect — see [[MaxFitCells]]
    require(nCells >= 1 && nCells <= MaxFitCells,
      s"nCells must be in [1, $MaxFitCells] (got $nCells): the centroid " +
        "fit collects nCells vectors to the driver and broadcasts them " +
        "inside the plan; partition the corpus and fit per shard instead")
    // the elements guard (cells × dim) needs the dimension, which the
    // schema doesn't carry for arrays — one single-row probe job BEFORE
    // the nCells-vector collect, so an iters=0 fit (ivfAssign/ivfTopK
    // default) is bounded exactly like the Lloyd path. The probe skips
    // NULL vectors: a NULL in row 1 must not read as dim=0 and bypass
    // the MaxFitElements bound the real rows are subject to.
    val probe = corpus
      .select(size(col(corpusVec)).as("d"))
      .where(col(corpusVec).isNotNull).take(1)
    requireFitElements(nCells,
      probe.headOption.map(_.getInt(0)).getOrElse(0), "fitCentroids")
    val cent = corpus
      .select(col(corpusId).cast("long").as("cell_id"),
        col(corpusVec).cast("array<double>").as("cell_vec"))
      .orderBy(col("cell_id")).limit(nCells).collect()
    (cent.map(_.getLong(0)).toSeq, cent.map(_.getSeq[Double](1)).toSeq)
  }

  /** Lloyd (k-means) refinement of the centroid set: each iteration is
    * one map-side assignment pass (the same zero-shuffle argmax
    * expression the final assignment uses) + a tiny (cell, dim) partial
    * aggregate + a bounded collect of nCells GROUPED mean vectors
    * ([[collectCellMeans]] — nCells rows, guarded by [[MaxFitElements]]
    * on nCells×dim total scalars). Cells that lose all
    * members keep their previous centroid. The plan shape per
    * iteration is scan → project → two-phase agg — nothing quadratic,
    * nothing resident on the driver beyond the centroids themselves.
    *
    * Caching: the ASSIGNED frame cannot be reused across iterations —
    * the centroid literal is part of each round's projection, so round
    * i+1's plan is different by construction; what IS loop-invariant is
    * the pruned (id, vec) input, so that projection is persisted for
    * the duration of the fit (iters scans of parquet become one scan +
    * iters memory/disk reads) and unpersisted before returning. At
    * 100 TB, fit on a bounded sample of the corpus instead (standard
    * IVF practice; the centroids are estimates either way) — the
    * persist then caches the sample, not the corpus. */
  def kmeansCentroids(corpus: DataFrame, corpusId: String, corpusVec: String,
      nCells: Int, iters: Int): (Seq[Long], Seq[Seq[Double]]) = {
    if (iters == 0) return fitCentroids(corpus, corpusId, corpusVec, nCells)
    val train = corpus.select(col(corpusId), col(corpusVec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seed from the persisted pruned frame so the seeding action is
      // the scan that populates the cache (one storage scan total)
      var (ids, vecs) = fitCentroids(train, corpusId, corpusVec, nCells)
      // conservative (requested nCells, not the possibly-smaller seeded
      // count): fires BEFORE any Lloyd round is paid for
      requireFitElements(nCells,
        vecs.headOption.map(_.size).getOrElse(0), "kmeansCentroids")
      (1 to iters).foreach { _ =>
        val bc = broadcastFlat(train.sparkSession, vecs, ids)
        val assigned = ivfAssignWithBc(train, corpusId, corpusVec, bc)
        // means quantized to 9 decimals: a distributed avg sums partials
        // in partition order, so the raw double wobbles in the last ulp
        // run-to-run; snapping to a decimal grid makes the fitted index
        // REPRODUCIBLE (same data → bit-identical centroids regardless
        // of parallelism) and lets an external re-derivation (the DuckDB
        // oracle) land on the same centroids. 1e-9 is ~6 orders below
        // any observed assignment margin, so clustering is unaffected.
        val byCell = collectCellMeans(assigned, "cell_id", corpusVec)
        // this round's index is consumed (the collect above was its
        // only action) — free executor/driver blocks now instead of
        // leaving iters stale broadcasts to the ContextCleaner
        bc.destroy()
        vecs = ids.zipWithIndex.map { case (id, i) =>
          byCell.getOrElse(id, vecs(i)) // empty cell: keep prev centroid
        }
      }
      (ids, vecs)
    } finally train.unpersist(false)
  }

  /** One Lloyd round's per-cell means, collected GROUPED — one row per
    * cell carrying the whole mean vector (array<double>) — instead of
    * one (cell, pos, m) row per scalar: same bytes on the driver, but
    * nCells rows instead of nCells×dim, so the cost is array storage
    * rather than per-row object overhead. Means round to 1e-9 (the
    * reproducibility contract documented at the call sites). */
  private def collectCellMeans(assigned: DataFrame, cellCol: String,
      vecCol: String): Map[Long, Seq[Double]] = {
    import org.apache.spark.sql.functions.{avg, collect_list, posexplode, sort_array}
    assigned
      .select(col(cellCol), posexplode(col(vecCol).cast("array<double>")))
      .groupBy(col(cellCol), col("pos"))
      .agg(round(avg(col("col")), 9).as("m"))
      .groupBy(col(cellCol))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("mv"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
      .toMap
  }

  /** Nearest-centroid assignment as a PURE PROJECTION — argmax over the
    * broadcast centroid literal; zero joins, zero shuffles of the
    * corpus (PlanSpec asserts no Exchange in this plan). */
  def ivfAssign(corpus: DataFrame, corpusId: String, corpusVec: String,
      nCells: Int): DataFrame = {
    val (ids, vecs) = fitCentroids(corpus, corpusId, corpusVec, nCells)
    ivfAssignWith(corpus, corpusId, corpusVec, ids, vecs)
  }

  /** How many index broadcasts this JVM has built — the observable the
    * fit-once-serve-many specs count (N handle-reusing assigns must
    * build exactly one; the self-contained entry points build one per
    * call by construction). */
  private[graft] val indexBroadcastBuilds =
    new java.util.concurrent.atomic.AtomicLong

  /** Flatten a centroid set into the broadcast form: one primitive
    * Array[Double] (8 bytes/element — vs ~40 boxed in a plan literal),
    * deserialized once per executor instead of once per task. `ids`
    * ride in the same broadcast (positional 0..n-1 when omitted) so
    * cell ids never ship as a plan literal either. */
  private def broadcastFlat(spark: SparkSession, vecs: Seq[Seq[Double]],
      ids: Seq[Long] = Nil) = {
    require(vecs.nonEmpty,
      "cannot build a centroid index from zero centroids (empty fit — " +
        "is the corpus empty, or the prefitted centroid set?)")
    val dim = vecs.head.size
    val flat = flattenChecked(vecs, dim,
      c => s"centroid ${if (ids.isEmpty) c.toString else s"id=${ids(c)}"}")
    val idArr =
      if (ids.isEmpty) Array.tabulate(vecs.size)(_.toLong) else ids.toArray
    indexBroadcastBuilds.incrementAndGet()
    spark.sparkContext.broadcast(FlatCentroids(dim, flat, idArr))
  }

  /** Flatten `vecs` (all expected `dim`-long) row-major into one
    * primitive array, REJECTING null or wrong-length vectors with a
    * message naming the offender: the flat kernel indexes `c*dim + i`
    * blindly, so a NULL/short vector that the plan-literal form would
    * have degraded to a NULL sim would here read out of bounds (or NPE)
    * mid-fit. A NULL embedding among the fit's seed rows is corrupt
    * input either way — fail it loudly at fit time, not per-task. */
  private def flattenChecked(vecs: Seq[Seq[Double]], dim: Int,
      name: Int => String): Array[Double] = {
    val flat = new Array[Double](vecs.size * dim)
    vecs.zipWithIndex.foreach { case (v, c) =>
      require(v != null && v.size == dim,
        s"${name(c)} is ${if (v == null) "NULL" else s"${v.size}-dimensional"} " +
          s"but the index dimension is $dim: drop or repair NULL/ragged " +
          "embeddings before fitting (e.g. filter(col(vec).isNotNull))")
      var i = 0; while (i < dim) { flat(c * dim + i) = v(i); i += 1 }
    }
    flat
  }

  private def broadcastTwoLevel(spark: SparkSession,
      index: (Seq[Seq[Double]], Seq[Seq[Seq[Double]]])) = {
    val (superVecs, subVecs) = index
    require(superVecs.nonEmpty,
      "cannot build a two-level index from zero super-centroids " +
        "(empty fit — is the corpus empty, or the prefitted index?)")
    val dim = superVecs.head.size
    val superFlat = flattenChecked(superVecs, dim, c => s"super-centroid $c")
    // kmeansTwoLevel guarantees >= 1 sub-centroid per super cell; a
    // caller-built index must too — an empty list would silently
    // resolve to sub 0 (a cell that does not exist) instead of failing
    require(subVecs.forall(_.nonEmpty),
      "every super cell needs at least one sub-centroid (use the super " +
        "centroid itself for empty cells, as kmeansTwoLevel does)")
    val counts = subVecs.map(_.size).toArray
    val offsets = counts.scanLeft(0)(_ + _).dropRight(1)
    val subFlat = flattenChecked(subVecs.flatten, dim,
      c => s"sub-centroid $c (flat order)")
    indexBroadcastBuilds.incrementAndGet()
    spark.sparkContext.broadcast(TwoLevelFlatIndex(
      dim, subStride(subVecs), superFlat, superVecs.size,
      subFlat, offsets, counts))
  }

  private[graft] def ivfAssignWith(corpus: DataFrame, corpusId: String, corpusVec: String,
      cellIds: Seq[Long], cellVecs: Seq[Seq[Double]]): DataFrame =
    ivfAssignWithBc(corpus, corpusId, corpusVec,
      broadcastFlat(corpus.sparkSession, cellVecs, cellIds))

  private def ivfAssignWithBc(corpus: DataFrame, corpusId: String,
      corpusVec: String,
      bc: org.apache.spark.broadcast.Broadcast[FlatCentroids]): DataFrame =
    corpus.select(col(corpusId), col(corpusVec),
      toCol(NearestCentroidId(toExpr(col(corpusVec)), bc)).as("cell_id"))

  // ─────────────── fit-once-serve-many index handles ────────────────
  // The self-contained entry points below (kmeansAssign(nCells, iters),
  // semanticDedup(...), ivfTopK(...)) each build ONE internal index
  // broadcast they can never destroy — the relation they return is
  // lazy, so the broadcast must outlive the call. One batch, one
  // broadcast: fine. A long-lived session serving MANY batches against
  // the same fitted index should instead fit a handle once and pass it
  // everywhere — one broadcast total, destroyed explicitly when done.

  /** Fit a flat k-means index once and broadcast it: `iters = 0` is the
    * deterministic lowest-id seed fit, `iters > 0` Lloyd-refines it.
    * Serve any number of [[kmeansAssign]] / [[semanticDedup]] /
    * [[ivfTopK]] batches from the same handle, then `destroy()` it. */
  def fitIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      nCells: Int, iters: Int = 0): CentroidIndexHandle =
    indexOf(corpus.sparkSession,
      kmeansCentroids(corpus, corpusId, corpusVec, nCells, iters))

  /** Wrap an already-fitted centroid set (e.g. loaded from a previous
    * session's materialized fit) as a broadcast index handle. */
  def indexOf(spark: SparkSession,
      centroids: (Seq[Long], Seq[Seq[Double]])): CentroidIndexHandle = {
    val (ids, vecs) = centroids
    require(ids.size == vecs.size,
      s"cell ids (${ids.size}) and centroid vectors (${vecs.size}) must align")
    new CentroidIndexHandle(broadcastFlat(spark, vecs, ids))
  }

  /** Nearest-centroid assignment against a prefitted handle — the
    * zero-shuffle projection, ZERO new broadcasts (reuses the
    * handle's). */
  def kmeansAssign(corpus: DataFrame, corpusId: String, corpusVec: String,
      index: CentroidIndexHandle): DataFrame =
    ivfAssignWithBc(corpus, corpusId, corpusVec, index.bc)

  /** [[semanticDedup]] against a prefitted handle: assignment reuses
    * the handle's broadcast; only the cell-confined pair scan runs. */
  def semanticDedup(corpus: DataFrame, corpusId: String, corpusVec: String,
      threshold: Double, index: CentroidIndexHandle): DataFrame =
    dedupWithinCells(ivfAssignWithBc(corpus, corpusId, corpusVec, index.bc),
      corpusId, corpusVec, threshold)

  /** [[ivfTopK]] against a prefitted handle — serve many query batches
    * from one fit + one broadcast. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int, nProbe: Int, index: CentroidIndexHandle): DataFrame =
    ivfTopKWithBc(corpus, queries, corpusId, corpusVec, queryId, queryVec,
      k, nProbe, index.bc)

  def ivfTopK(corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 0,
      centroids: Option[(Seq[Long], Seq[Seq[Double]])] = None): DataFrame = {
    // `centroids` = a precomputed index (production shape: fit once —
    // kmeansCentroids — then serve many query batches without re-fitting)
    val (cellIds, cellVecs) = centroids.getOrElse {
      if (kmeansIters > 0) kmeansCentroids(corpus, corpusId, corpusVec, nCells, kmeansIters)
      else fitCentroids(corpus, corpusId, corpusVec, nCells)
    }
    // ONE broadcast of the index, shared by the corpus assignment and
    // the query-side probe (at the fit ceiling the matrix is ~128 MB —
    // shipping it twice would double executor storage for nothing)
    ivfTopKWithBc(corpus, queries, corpusId, corpusVec, queryId, queryVec,
      k, nProbe, broadcastFlat(corpus.sparkSession, cellVecs, cellIds))
  }

  private def ivfTopKWithBc(corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int, nProbe: Int,
      bc: org.apache.spark.broadcast.Broadcast[FlatCentroids]): DataFrame = {
    import org.apache.spark.sql.functions.explode
    val assigned = ivfAssignWithBc(corpus, corpusId, corpusVec, bc)

    // each query probes its nProbe nearest cells — also pure map-side
    val probes = queries.select(col(queryId), col(queryVec),
        explode(toCol(NearestCentroids(toExpr(col(queryVec)), bc,
          nProbe))).as("pidx"))
      .select(col(queryId), col(queryVec),
        toCol(CentroidIdAt(toExpr(col("pidx")), bc)).as("cell_id"))

    // probes (queries × nProbe, broadcast-small) join the assigned
    // corpus on cell_id: the corpus side stays un-shuffled; only the
    // surviving candidates shuffle into the per-query top-k window.
    val wRank = Window.partitionBy(col(queryId)).orderBy(col("cos_sim").desc, col(corpusId))
    assigned.join(broadcast(probes), Seq("cell_id"))
      .filter(col(corpusId) =!= col(queryId))
      .withColumn("cos_sim", cosine(col(queryVec), col(corpusVec)))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col(queryId).as("query_id"), col("rank"),
        col(corpusId).as("neighbor_id"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Scalar quantization (SQ8) — the memory/IO dial for ANN at 100 TB:
    * each dimension is affinely mapped to 0..255 so the stored corpus
    * shrinks 4× (float32 → int8) and the first-pass scan reads a
    * quarter of the bytes. Bounds are per-dimension global min/max —
    * one posexplode aggregate over the corpus, collected bounded
    * (dim rows, never the corpus) and shipped as a literal, the same
    * fit-then-broadcast shape as the IVF centroids. */
  def sq8Bounds(corpus: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    val stats = corpus
      .select(posexplode(col(vecCol).cast("array<double>")))
      .groupBy(col("pos")).agg(min(col("col")).as("lo"), max(col("col")).as("hi"))
      .orderBy(col("pos")).collect()
    (stats.map(_.getDouble(1)).toSeq, stats.map(_.getDouble(2)).toSeq)
  }

  /** Quantize a vector column to array<int> in 0..255 — pure map-side
    * projection against the bounds literal. Constant dimensions map
    * to 0 (span guard). */
  def sq8Quantize(vec: Column, los: Seq[Double], his: Seq[Double]): Column =
    transform(vec.cast("array<double>"), (x, i) => {
      val lo = element_at(typedlit(los), i + 1)
      val hi = element_at(typedlit(his), i + 1)
      when(hi === lo, lit(0))
        .otherwise(round((x - lo) * 255.0 / (hi - lo), 0).cast("int"))
    })

  /** Reconstruct the approximate vector from its quantized form —
    * also a pure projection. */
  def sq8Dequantize(q: Column, los: Seq[Double], his: Seq[Double]): Column =
    transform(q, (v, i) => {
      val lo = element_at(typedlit(los), i + 1)
      val hi = element_at(typedlit(his), i + 1)
      lo + v.cast("double") * (hi - lo) / 255.0
    })

  /** ANN top-k over the QUANTIZED corpus: the approximate first pass
    * scores every (query, corpus) pair against the 4×-smaller SQ8
    * representation and keeps `k * oversample` candidates per query;
    * only those candidates' full-precision vectors are then fetched
    * (broadcast of the tiny candidate set — the corpus never
    * shuffles) and exactly re-ranked. At `oversample` high enough to
    * cover the corpus this reduces to exact brute force (the
    * `ann_sq8_full` oracle row); at practical oversample it trades
    * recall for a first pass that reads a quarter of the bytes. */
  def sq8TopK(corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int, oversample: Int = 4): DataFrame = {
    val (los, his) = sq8Bounds(corpus, corpusVec)
    // at scale this projection is the materialized int8 table the scan reads
    val quant = corpus.select(col(corpusId).as("c_id"),
      sq8Dequantize(sq8Quantize(col(corpusVec), los, his), los, his).as("c_dq"))
    val m = k * oversample
    val wApprox = Window.partitionBy(col(queryId)).orderBy(col("approx_sim").desc, col("c_id"))
    val cands = quant.join(broadcast(queries), col("c_id") =!= col(queryId))
      .withColumn("approx_sim", cosine(col(queryVec), col("c_dq")))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= m)
      .select(col(queryId), col(queryVec), col("c_id"))
    val wExact = Window.partitionBy(col(queryId)).orderBy(col("cos_sim").desc, col(corpusId))
    corpus.join(broadcast(cands), col(corpusId) === col("c_id"))
      .withColumn("cos_sim", cosine(col(queryVec), col(corpusVec)))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col(queryId).as("query_id"), col("rank"),
        col(corpusId).as("neighbor_id"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  // ───────────────────────── Product quantization (PQ) ──────────────────────
  // The OTHER compression dial for 100 TB ANN (complementing SQ8's
  // uniform per-dimension affine map): the vector is split into `m`
  // subspaces and each sub-vector replaced by the id of its nearest
  // codeword from a per-subspace k-means codebook — m bytes per vector
  // at ksub<=256 (64-dim float32 → 8 bytes at m=8: a 32× shrink, vs
  // SQ8's 4×). Jégou et al., "Product Quantization for Nearest
  // Neighbor Search" (TPAMI 2011). Everything below follows the IVF
  // discipline: fit = bounded collects, encode/decode = pure map-side
  // projections against the codebook literal, no UDFs.

  /** Fit the PQ codebook: deterministic init (each subspace seeds from
    * the slices of the `ksub` lowest-id vectors) + `iters` Lloyd
    * rounds run over ALL subspaces at once — one zero-shuffle
    * assignment projection + one (sub, code, pos) partial aggregate
    * per round, collected bounded (m·ksub·dsub rows, never the
    * corpus). Codewords that lose all members keep their previous
    * value. At 100 TB, fit on a bounded sample (the codebook is an
    * estimate either way), exactly like the IVF centroids. */
  def pqFit(corpus: DataFrame, corpusId: String, vecCol: String,
      m: Int, ksub: Int, iters: Int = 1): Seq[Seq[Seq[Double]]] = {
    // driver-memory contract: seeds collect ksub full vectors and each
    // Lloyd round collects m·ksub·dsub partial means — bounded only
    // while ksub stays small (256 codes = 1-byte codes is the PQ norm;
    // 65536 is already the 2-byte extreme)
    require(ksub >= 1 && ksub <= 65536,
      s"ksub must be in [1, 65536] (got $ksub): the codebook fit " +
        "collects ksub seed vectors and m*ksub*dsub means to the driver")
    val dim = corpus.select(size(col(vecCol))).head.getInt(0)
    require(dim % m == 0, s"dim $dim must be divisible by m=$m subspaces")
    val dsub = dim / m
    val seed = corpus
      .select(col(corpusId).cast("long").as("i"), col(vecCol).cast("array<double>").as("v"))
      .orderBy(col("i")).limit(ksub).collect().map(_.getSeq[Double](1))
    var books: Seq[Seq[Seq[Double]]] =
      (0 until m).map(s => seed.map(v => v.slice(s * dsub, (s + 1) * dsub).toSeq).toSeq)
    if (iters == 0) return books
    // loop-invariant corpus projection, persisted for the fit (same
    // pattern as kmeansCentroids). Each Lloyd round: ONE native encode
    // per vector (PqEncode) + a position explode feeding the partial
    // aggregate — not a per-(sub,sv)-row interpreted argmin.
    val vs = corpus.select(col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      (1 to iters).foreach { _ =>
        val means = vs
          .select(pqEncode(col("v"), books).as("codes"), posexplode(col("v")))
          .select(floor(col("pos") / dsub).cast("int").as("sub"),
            col("pos"), col("codes"), col("col"))
          .groupBy(col("sub"),
            element_at(col("codes"), col("sub") + 1).as("code"),
            (col("pos") % dsub).as("pos"))
          .agg(avg(col("col")).as("mu"))
          .collect()
        val byKey = means.map(r =>
          (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
        books = (0 until m).map { s =>
          (0 until ksub).map { w =>
            val cw = (0 until dsub).map(p => byKey.get((s, w + 1, p)))
            if (cw.forall(_.isDefined)) cw.map(_.get) else books(s)(w)
          }
        }
      }
      books
    } finally vs.unpersist(false)
  }

  /** Encode a vector as its `m` (1-based) codeword ids — a pure
    * projection against the codebook, run as a native primitive-loop
    * expression ([[graft.functions.expressions.PqEncode]]; the HOF
    * form it replaces cost 94 s/1M vectors in the r6 sweep). */
  def pqEncode(vec: Column, books: Seq[Seq[Seq[Double]]]): Column =
    toCol(PqEncode(toExpr(vec), books.map(_.map(_.toArray).toArray).toArray))

  /** Reconstruct the approximate vector from its codes — also a pure
    * projection (codeword concatenation). */
  def pqDecode(codes: Column, books: Seq[Seq[Seq[Double]]]): Column =
    flatten(transform(codes, (c, s) =>
      element_at(element_at(typedlit(books), s + 1), c)))

  /** Per-codeword squared L2 norms, driver-side (m × ksub doubles). */
  private def bookNorms2(books: Seq[Seq[Seq[Double]]]): Seq[Seq[Double]] =
    books.map(_.map(w => w.map(x => x * x).sum))

  /** Encode the corpus ONCE as the PQ index — the amortized build step
    * a production deployment runs when the index is created, not per
    * query batch: `(c_id, c_codes, c_dqn2)` where `c_dqn2` is the
    * reconstruction's squared norm (a codeword-norm table lookup, so
    * the probe never rebuilds the decoded vector). At 100 TB this is
    * the table the approximate pass scans: m bytes/vector + one
    * double, 32× smaller than the float32 corpus. */
  def pqIndex(corpus: DataFrame, corpusId: String, vecCol: String,
      books: Seq[Seq[Seq[Double]]]): DataFrame =
    corpus.select(col(corpusId).as("c_id"), pqEncode(col(vecCol), books).as("c_codes"))
      .withColumn("c_dqn2",
        toCol(PqAdcDot(toExpr(col("c_codes")),
          toExpr(typedlit(bookNorms2(books).flatten)))))

  /** ANN top-k over the PQ-coded corpus — the same two-pass shape as
    * [[sq8TopK]], scored ADC-style (asymmetric distance computation,
    * Jégou et al. §III): each query precomputes a m×ksub lookup table
    * of query-subvector·codeword dot products (512 muls per QUERY, on
    * the broadcast side), and the approximate score of a corpus row is
    * then m table lookups — cos(q, decode(codes)) =
    * Σ_s lut[s][code_s] / (‖q‖·‖dq‖) — never a per-row decode +
    * full-width cosine (the r6 sweep measured that naive form 10×
    * slower than brute force; ADC is what makes the compressed scan
    * actually cheaper than the thing it approximates). The top
    * `k·oversample` candidates per query fetch their full-precision
    * vectors (broadcast — the corpus never shuffles) for the exact
    * re-rank. Oversample covering the corpus reduces to exact brute
    * force (the `ann_pq_full` oracle row). Pass `index` (from
    * [[pqIndex]]) to amortize the encode across query batches. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 1, oversample: Int = 4,
      codebook: Option[Seq[Seq[Seq[Double]]]] = None,
      index: Option[DataFrame] = None): DataFrame = {
    val books = codebook.getOrElse(pqFit(corpus, corpusId, corpusVec, m, ksub, iters))
    val quant = index.getOrElse(pqIndex(corpus, corpusId, corpusVec, books))
    val dsub = books.head.head.size
    val qarr = col(queryVec).cast("array<double>")
    // flat m·ksub LUT (row-major), built once per QUERY row on the
    // broadcast side — ~m·ksub·dsub muls per query, irrelevant next to
    // the corpus scan
    val lut = flatten(transform(sequence(lit(0), lit(books.size - 1)), s =>
      transform(element_at(typedlit(books), s + 1), w =>
        aggregate(zip_with(slice(qarr, s * dsub + lit(1), lit(dsub)), w,
          (x, y) => x * y), lit(0.0), (acc, v) => acc + v))))
    val q2 = queries
      .withColumn("__q_lut", lut)
      .withColumn("__q_n2",
        aggregate(transform(qarr, x => x * x), lit(0.0), (acc, v) => acc + v))
    val over = k * oversample
    val wApprox = Window.partitionBy(col(queryId)).orderBy(col("approx_sim").desc, col("c_id"))
    val denom = sqrt(col("__q_n2") * col("c_dqn2"))
    val adcDot = toCol(PqAdcDot(toExpr(col("c_codes")), toExpr(col("__q_lut"))))
    // project down to (query, candidate, score) BEFORE the rank so the
    // per-query LUT and vector never ride through the window buffers;
    // the full query vector re-attaches to the ~k·oversample survivors
    // via a second broadcast of the raw queries
    val cands = quant.join(broadcast(q2), col("c_id") =!= col(queryId))
      .select(col(queryId),
        when(denom === 0.0, lit(0.0)).otherwise(adcDot / denom).as("approx_sim"),
        col("c_id"))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= over)
      .join(broadcast(queries), Seq(queryId))
      .select(col(queryId), col(queryVec), col("c_id"))
    val wExact = Window.partitionBy(col(queryId)).orderBy(col("cos_sim").desc, col(corpusId))
    corpus.join(broadcast(cands), col(corpusId) === col("c_id"))
      .withColumn("cos_sim", cosine(col(queryVec), col(corpusVec)))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col(queryId).as("query_id"), col("rank"),
        col(corpusId).as("neighbor_id"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** All corpus pairs with cosine >= threshold (embedding near-dup).
    * lsh=false: exact all-pairs (self-join, for oracle-checkable truth
    * at test scale). lsh=true: banded-signature candidates only — the
    * 100 TB path. */
  def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, lsh: Boolean = false,
      bits: Int = 64, bands: Int = 16, seed: Long = 42L): DataFrame = {
    val base =
      if (!lsh) {
        val a = df.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"))
        val b = df.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"))
        a.join(b, col("a_id") < col("b_id"))
      } else {
        val width = bits / bands
        val sigd = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
          .withColumn("sig", lshSignature(col("vec"), bits, seed))
        val chunks = (0 until bands).map(c =>
          shiftrightunsigned(col("sig"), c * width).bitwiseAND(lit((1L << width) - 1)))
        val banded = sigd.select(col("id"), col("vec"), posexplode(array(chunks: _*)))
        banded.select(col("pos"), col("col"), col("id").as("a_id"), col("vec").as("a_vec"))
          .join(banded.select(col("pos"), col("col"), col("id").as("b_id"), col("vec").as("b_vec")),
            Seq("pos", "col"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("a_vec"), col("b_id"), col("b_vec"))
          .distinct()
      }
    base
      .withColumn("cos_sim", cosine(col("a_vec"), col("b_vec")))
      .filter(col("cos_sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** K-means cluster assignment as a first-class operator: Lloyd-refined
    * centroids ([[kmeansCentroids]] — bounded fit collects, quantized
    * means) followed by the zero-shuffle argmax projection. Output is
    * `(idCol, vecCol, cell_id)`; the fit is reproducible, so the same
    * data yields the same clustering at any parallelism. */
  def kmeansAssign(corpus: DataFrame, corpusId: String, corpusVec: String,
      nCells: Int, iters: Int,
      centroids: Option[(Seq[Long], Seq[Seq[Double]])] = None): DataFrame = {
    val (ids, vecs) = centroids.getOrElse(
      kmeansCentroids(corpus, corpusId, corpusVec, nCells, iters))
    ivfAssignWith(corpus, corpusId, corpusVec, ids, vecs)
  }

  /** Two-level (IMI-style) k-means index — the remedy for the flat
    * assignment's O(docs·nCells) cost law (SCALE.md r13 anchor):
    * `nSuper` Lloyd-refined super-centroids partition the corpus, then
    * every super-cell gets up to `nSubPerCell` sub-centroids, seeded
    * from its lowest-id members and refined with `iters` Lloyd rounds
    * run over ALL sub-cells at once (one zero-shuffle two-argmax
    * projection + one bounded partial aggregate per round). Assignment
    * cost per row is O(nSuper + nSubPerCell) cosines instead of
    * O(nSuper·nSubPerCell) — √nCells shape when both dials are √nCells.
    * All collects are index-sized (≤ nSuper·nSubPerCell vectors —
    * guarded by [[MaxFitCells]] like the flat fit); means quantized to
    * 1e-9 like [[kmeansCentroids]], so the fit is reproducible at any
    * parallelism. Returns (superVecs, subVecs) where subVecs(s) are
    * super-cell s's sub-centroids (possibly fewer than nSubPerCell for
    * small cells). */
  def kmeansTwoLevel(corpus: DataFrame, corpusId: String, corpusVec: String,
      nSuper: Int, nSubPerCell: Int, iters: Int):
      (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    require(nSuper >= 1 && nSubPerCell >= 1 &&
        nSuper.toLong * nSubPerCell <= MaxFitCells,
      s"nSuper*nSubPerCell must be in [1, $MaxFitCells] " +
        s"(got $nSuper*$nSubPerCell): the two-level fit collects one " +
        "vector per sub-cell; shard the corpus beyond that")
    import org.apache.spark.sql.functions.row_number
    val train = corpus.select(col(corpusId), col(corpusVec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (_, superVecs) =
        kmeansCentroids(train, corpusId, corpusVec, nSuper, iters)
      // the sub-refinement rounds collect means for ALL sub-cells at
      // once — bound that collect by total cells × dim like the flat fit
      requireFitElements(nSuper.toLong * nSubPerCell,
        superVecs.headOption.map(_.size).getOrElse(0), "kmeansTwoLevel")
      val seedBc = broadcastFlat(train.sparkSession, superVecs)
      val superIdx = toCol(NearestCentroid(toExpr(col(corpusVec)),
        seedBc)).as("__s")
      // sub seeds: each super cell's lowest-id members (bounded collect)
      val w = Window.partitionBy(col("__s")).orderBy(col(corpusId))
      val seedRows = train.select(col(corpusId), col(corpusVec), superIdx)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= nSubPerCell)
        .select(col("__s"), col("__rn"),
          col(corpusVec).cast("array<double>").as("__v"))
        .collect()
      seedBc.destroy() // consumed by the seed collect above
      // a super cell that owns zero vectors at seed time still gets ONE
      // sub-centroid (its super centroid): a later batch assigned
      // against the prefitted index could land there, and an empty sub
      // list is refused by the index broadcast (fail-fast)
      var subVecs: Seq[Seq[Seq[Double]]] = (0 until nSuper).map { s =>
        val seeds = seedRows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
          .map(_.getSeq[Double](2).toSeq).toSeq
        if (seeds.nonEmpty) seeds else Seq(superVecs(s))
      }
      val nSubMax = subStride(subVecs)
      (1 to iters).foreach { _ =>
        // one two-argmax projection assigns (super, sub); the global
        // sub key feeds the same bounded mean aggregate the flat fit
        // uses. Ragged sub arrays are fine: the fused argmax scores
        // whatever the row's super cell actually has. The index ships
        // as a broadcast of flat primitive arrays, NOT a plan literal —
        // see [[graft.functions.expressions.TwoLevelNearestCell]].
        val bc = broadcastTwoLevel(train.sparkSession, (superVecs, subVecs))
        val assigned = train.select(
          toCol(TwoLevelNearestCell(toExpr(col(corpusVec)), bc)).as("__cell"),
          col(corpusVec))
        val byCell = collectCellMeans(assigned, "__cell", corpusVec)
        bc.destroy() // this round's index is consumed by the collect
        subVecs = subVecs.zipWithIndex.map { case (cells, si) =>
          cells.zipWithIndex.map { case (prev, bi) =>
            // emptied sub-cell keeps its centroid
            byCell.getOrElse(si.toLong * nSubMax + bi, prev)
          }
        }
      }
      (superVecs, subVecs)
    } finally train.unpersist(false)
  }

  /** The composite-cell-id stride shared by the two-level fit and
    * [[twoLevelAssign]]: the max actual sub-cell count of the index
    * (sub lists can be ragged — small super cells seed fewer than
    * nSubPerCell sub-centroids). A pure function of the index, so any
    * two assignments against the same fitted index agree on cell ids. */
  private def subStride(subVecs: Seq[Seq[Seq[Double]]]): Long =
    subVecs.map(_.size).max.max(1).toLong

  /** Two-level assignment: two map-side argmaxes, zero shuffles of the
    * corpus. `cell_id` = superIdx·stride + subIdx (a composite long —
    * the join key for cell-confined work), where stride =
    * [[subStride]] of the fitted index — the SAME stride the fit's
    * Lloyd rounds key on, NOT the nSubPerCell the fit was asked for. */
  def twoLevelAssign(corpus: DataFrame, corpusId: String, corpusVec: String,
      index: (Seq[Seq[Double]], Seq[Seq[Seq[Double]]])): DataFrame =
    corpus.select(col(corpusId), col(corpusVec),
      toCol(TwoLevelNearestCell(toExpr(col(corpusVec)),
        broadcastTwoLevel(corpus.sparkSession, index))).as("cell_id"))

  /** Fit a two-level index once and broadcast it — the two-level twin
    * of [[fitIndex]]; serve many [[twoLevelAssign]] /
    * [[semanticDedupTwoLevel]] batches, then `destroy()`. */
  def fitTwoLevelIndex(corpus: DataFrame, corpusId: String, corpusVec: String,
      nSuper: Int, nSubPerCell: Int, iters: Int): TwoLevelIndexHandle =
    twoLevelIndexOf(corpus.sparkSession,
      kmeansTwoLevel(corpus, corpusId, corpusVec, nSuper, nSubPerCell, iters))

  /** Wrap an already-fitted two-level index as a broadcast handle. */
  def twoLevelIndexOf(spark: SparkSession,
      index: (Seq[Seq[Double]], Seq[Seq[Seq[Double]]])): TwoLevelIndexHandle =
    new TwoLevelIndexHandle(broadcastTwoLevel(spark, index))

  /** Two-level assignment against a prefitted handle — ZERO new
    * broadcasts (reuses the handle's; the tuple-index overload above
    * must build one per call because its return value is lazy). */
  def twoLevelAssign(corpus: DataFrame, corpusId: String, corpusVec: String,
      index: TwoLevelIndexHandle): DataFrame =
    corpus.select(col(corpusId), col(corpusVec),
      toCol(TwoLevelNearestCell(toExpr(col(corpusVec)), index.bc))
        .as("cell_id"))

  /** [[semanticDedupTwoLevel]] against a prefitted handle. */
  def semanticDedupTwoLevel(corpus: DataFrame, corpusId: String,
      corpusVec: String, threshold: Double, index: TwoLevelIndexHandle,
      lshUnion: Boolean): DataFrame =
    semanticDedupTwoLevel(corpus, corpusId, corpusVec, threshold, index,
      lshUnion, 64, 16, 42L)

  /** Handle variant with the union's banding dials exposed — at scale
    * size the band WIDTH to the corpus's background similarity (the
    * 20M anchor uses 2×32-bit bands; see [[lshWitnesses]]'s note), not
    * the small-corpus 16×4-bit default the 6-arg overload keeps. */
  def semanticDedupTwoLevel(corpus: DataFrame, corpusId: String,
      corpusVec: String, threshold: Double, index: TwoLevelIndexHandle,
      lshUnion: Boolean, lshBits: Int, lshBands: Int,
      lshSeed: Long): DataFrame =
    dedupMaybeUnion(twoLevelAssign(corpus, corpusId, corpusVec, index),
      corpusId, corpusVec, threshold, lshUnion, lshBits, lshBands, lshSeed)

  /** [[semanticDedup]] over the two-level index: same output contract
    * ((id, vec) → cell_id, dup_of), but assignment is
    * O(nSuper + nSubPerCell) per row — the shape that holds the
    * SemDeDup discipline (cells ∝ corpus) linear at 100 TB.
    *
    * `lshUnion = true` is the recall-recovery dial for FINE grids
    * (SCALE.md r14: 50k cells cost ~0.4% recall to cell-boundary
    * straddle): near-dup pairs that k-means split across cells are
    * recovered by a SECOND candidate source — banded hyperplane-LSH
    * collisions over the same corpus — and a vector's `dup_of` is the
    * smallest witness from EITHER source. Both sources are
    * candidate-confined (cell-mates / band-mates), so nothing
    * quadratic appears; the union costs one extra banding pass +
    * band-join, each shuffle-bounded by collision counts.
    *
    * `lshBands = 0` sizes the banding AUTOMATICALLY from the corpus
    * ([[autoLshBands]]): band width must widen as corpus² × the
    * similarity tail grows (the r15 law — 2×32 at 20M docs, 1×64 at
    * 40M), and the sampler derives that choice at fit time instead of
    * asking the caller to know it. */
  def semanticDedupTwoLevel(corpus: DataFrame, corpusId: String, corpusVec: String,
      nSuper: Int, nSubPerCell: Int, iters: Int, threshold: Double,
      index: Option[(Seq[Seq[Double]], Seq[Seq[Seq[Double]]])] = None,
      lshUnion: Boolean = false,
      lshBits: Int = 64, lshBands: Int = 16, lshSeed: Long = 42L,
      lshBucketCap: Int = LshBucketCap): DataFrame = {
    val idx = index.getOrElse(
      kmeansTwoLevel(corpus, corpusId, corpusVec, nSuper, nSubPerCell, iters))
    dedupMaybeUnion(twoLevelAssign(corpus, corpusId, corpusVec, idx),
      corpusId, corpusVec, threshold, lshUnion, lshBits, lshBands, lshSeed,
      lshBucketCap)
  }

  private def dedupMaybeUnion(assigned: DataFrame, corpusId: String,
      corpusVec: String, threshold: Double, lshUnion: Boolean,
      bits: Int = 64, bands: Int = 16, seed: Long = 42L,
      bucketCap: Int = LshBucketCap): DataFrame = {
    val base = dedupWithinCells(assigned, corpusId, corpusVec, threshold)
    if (!lshUnion) base
    else {
      // lshBands = 0 is the AUTO sentinel: size the banding from the
      // corpus's own background bit agreement ([[autoLshBands]] — one
      // bounded sample action at plan time, same cost class as the fit)
      val (aBits, aBands) =
        if (bands == 0) autoLshBands(assigned, corpusId, corpusVec, seed = seed)
        else (bits, bands)
      // dup_of = min(cell witness, LSH witness). MIN absorbs the
      // overlap between the two candidate sources, so no distinct —
      // each source independently reduces to its own min witness and
      // `least` (null-skipping) merges them.
      val wit = lshWitnesses(assigned, corpusId, corpusVec, threshold,
        aBits, aBands, seed, bucketCap)
      base.join(wit, Seq(corpusId), "left")
        .select(col(corpusId), col("cell_id"),
          least(col("dup_of"), col("__lsh_dup_of")).as("dup_of"))
    }
  }

  // ───── Relation-indexed two-level path: cells ∝ corpus, no index ─────
  // ───── through the driver (the beyond-MaxFitCells scale story)   ─────

  /** Distributed two-level k-means fit — the beyond-[[MaxFitCells]]
    * path. Same algorithm, seeding, 1e-9 mean quantization and
    * empty-cell rules as [[kmeansTwoLevel]] (the two fits are
    * bit-identical on the same corpus — RelIndexSpec), but the
    * sub-centroid set lives in a RELATION from seed to return: sub
    * seeds come from a window rank (never collected), each Lloyd
    * round's assignment is a shuffle join against the per-super packed
    * sub-centroids ([[NearestInPacked]]) and its means a distributed
    * two-phase aggregate — so `nSuper × nSubPerCell` is bounded by
    * CLUSTER memory, not by the driver collect that gives
    * [[MaxFitCells]] its value. Only the √cells super-centroids ever
    * pass through the driver (they broadcast like any map-join side).
    *
    * Returns the index in the `graft_kmeans_fit2` relation contract —
    * `(super_id INT, sub_id INT, centroid ARRAY<DOUBLE>)`, one
    * `sub_id = -1` row per super carrying the super centroid — backed
    * by a persisted frame (write it to a table for fit-once-serve-many
    * use; `spark.catalog.clearCache()` releases the fit's storage).
    * Feed it to [[twoLevelAssignRel]] / [[semanticDedupTwoLevelRel]].
    *
    * At 100 TB: fit cost per Lloyd round is one corpus-linear shuffle
    * on `super_id` (the join) + one (cells×dim)-bounded aggregate —
    * both scale out with executors; nothing is resident on the driver
    * beyond the supers. Fit on a bounded sample for speed (standard
    * IVF practice), then assign the full corpus. */
  def kmeansTwoLevelRel(corpus: DataFrame, corpusId: String,
      corpusVec: String, nSuper: Int, nSubPerCell: Int,
      iters: Int): DataFrame = {
    require(nSuper >= 1 && nSubPerCell >= 1,
      s"nSuper and nSubPerCell must be >= 1 (got $nSuper, $nSubPerCell)")
    val spark = corpus.sparkSession
    val train = corpus.select(col(corpusId), col(corpusVec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // supers: the same bounded broadcast fit as every other path —
      // √cells rows; kmeansCentroids enforces its own driver bounds
      val (_, superVecs) =
        kmeansCentroids(train, corpusId, corpusVec, nSuper, iters)
      val dim = superVecs.headOption.map(_.size).getOrElse(0)
      val supersDf = spark.createDataFrame(
          superVecs.zipWithIndex.map { case (v, s) => (s, -1, v) })
        .toDF("super_id", "sub_id", "centroid")
        .select(col("super_id"), col("sub_id"),
          col("centroid").cast("array<double>").as("centroid"))
      val supersBc = broadcastFlat(spark, superVecs)
      // sub seeds: each super cell's lowest-id members — the SAME rule
      // as kmeansTwoLevel, but the seeds stay distributed
      val w = Window.partitionBy(col("__s")).orderBy(col(corpusId))
      val seeded = train
        .select(col(corpusId), col(corpusVec),
          toCol(NearestCentroid(toExpr(col(corpusVec)), supersBc)).as("__s"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= nSubPerCell)
        .select(col("__s").as("super_id"), (col("__rn") - 1).as("sub_id"),
          col(corpusVec).cast("array<double>").as("centroid"))
      // a super cell with zero seed-time members still gets ONE
      // sub-centroid (its super centroid) — same rule as kmeansTwoLevel
      val fill = supersDf
        .join(seeded.select(col("super_id")).distinct(),
          Seq("super_id"), "left_anti")
        .select(col("super_id"), lit(0).as("sub_id"), col("centroid"))
      var subs = seeded.unionByName(fill)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      subs.count()
      (1 to iters).foreach { _ =>
        val assigned =
          subJoinAssign(train, corpusId, corpusVec, supersBc, subs, dim)
        // distributed twin of collectCellMeans: same grouping, same
        // round(avg, 9) = round(sum/count, 9) quantization — but ONE
        // row per doc through the aggregate instead of dim exploded
        // (s, sub, pos, value) rows (r17 measured the posexplode shape
        // as the bulk of the 608 s fit wall at 20M docs × 1M cells:
        // dim× the shuffled rows, dim× the group keys). Per-position
        // sum + non-null count as 2×dim primitive agg columns keeps
        // the aggregate a codegen HashAggregate whose partial phase
        // rides the assignment join's existing __s partitioning (no
        // extra exchange when the packed side shuffle-joins). Codegen
        // holds only while those 2×dim + 3 columns stay within
        // spark.sql.codegen.maxFields (default 100): above dim ≈ 49
        // whole-stage codegen is off for this aggregate (same results,
        // interpreted speed).
        // Explode-form semantics preserved exactly: NULL/empty vectors
        // contribute no rows (the where), a position counts only
        // vectors that reach it non-null, an all-missing position
        // yields a NULL mean, and a vector LONGER than dim — which the
        // exploded form surfaced as an over-length centroid failing
        // packSubs' dim check — raises here instead of silently
        // truncating.
        val vecD = col(corpusVec).cast("array<double>")
        val sums = (0 until dim).map(i => sum(vecD.getItem(i)).as(s"__m$i"))
        val cnts = (0 until dim).map(i => count(vecD.getItem(i)).as(s"__c$i"))
        val aggs = sums ++ cnts :+ max(size(vecD)).as("__len")
        val means = assigned
          .where(size(vecD) > lit(0))
          .groupBy(col("__s"), col("__sub"))
          .agg(aggs.head, aggs.tail: _*)
          .select(col("__s").as("super_id"), col("__sub").as("sub_id"),
            when(col("__len") <= lit(dim),
              array((0 until dim).map(i =>
                when(col(s"__c$i") > lit(0L),
                  round(col(s"__m$i") / col(s"__c$i"), 9))): _*))
              .otherwise(raise_error(concat_ws(" ",
                lit("graft two-level fit: corpus vector longer than the"),
                lit(s"index dim $dim in cell"), col("__s").cast("string"))))
              .as("centroid"))
        val next = subs.as("p").join(means.as("n"),
            col("p.super_id") === col("n.super_id") &&
              col("p.sub_id") === col("n.sub_id"), "left")
          .select(col("p.super_id").as("super_id"),
            col("p.sub_id").as("sub_id"),
            // emptied sub-cell keeps its centroid (kmeansTwoLevel rule)
            coalesce(col("n.centroid"), col("p.centroid")).as("centroid"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count()
        subs.unpersist(false)
        subs = next
      }
      supersDf.unionByName(subs)
    } finally train.unpersist(false)
  }

  /** Per-super packed sub-centroids: one row per super cell whose
    * `__flat` holds its sub-centroids flattened row-major in sub_id
    * order. Shape validation (contiguous sub ids 0..k-1, dim-length
    * null-free centroids) runs DISTRIBUTEDLY via raise_error — an
    * index relation is corpus-scale data here, never driver data. */
  private def packSubs(subs: DataFrame, dim: Int): DataFrame =
    subs.groupBy(col("super_id"))
      .agg(array_sort(collect_list(struct(col("sub_id"), col("centroid"))))
        .as("__subs"))
      .select(col("super_id"),
        when(
          forall(transform(col("__subs"), (x, i) =>
            x.getField("sub_id") === i &&
              size(x.getField("centroid")) === lit(dim) &&
              forall(x.getField("centroid"), e => e.isNotNull)), b => b),
          flatten(transform(col("__subs"), x => x.getField("centroid"))))
        .otherwise(raise_error(concat_ws(" ",
          lit("graft two-level index relation invalid at super_id"),
          col("super_id").cast("string"),
          lit("- sub_id must be contiguous 0..k-1 with dim-length " +
            "null-free centroids"))))
        .as("__flat"))

  /** The join-based (super, sub) assignment shared by the distributed
    * fit's Lloyd rounds and [[twoLevelAssignRel]]: broadcast super
    * argmax (√cells — always broadcastable), then a join on `__s`
    * attaches each row's OWN super cell's packed sub-centroids and
    * [[NearestInPacked]] picks the sub — O(nSuper + nSubPerCell)
    * cosines per row, identical tie semantics to the broadcast kernel.
    * The join is left to Catalyst: a small packed side broadcasts, a
    * large one shuffle-joins (AQE splits skewed super cells — the
    * packed side is one duplicable row per key). Returns
    * (id, vec, __s, __sub). */
  private def subJoinAssign(corpus: DataFrame, corpusId: String,
      corpusVec: String,
      supersBc: org.apache.spark.broadcast.Broadcast[FlatCentroids],
      subs: DataFrame, dim: Int): DataFrame = {
    val packed = packSubs(subs, dim)
    corpus
      .select(col(corpusId), col(corpusVec),
        toCol(NearestCentroid(toExpr(col(corpusVec)), supersBc)).as("__s"))
      .join(packed, col("__s") === packed("super_id"))
      .select(col(corpusId), col(corpusVec), col("__s"),
        toCol(NearestInPacked(toExpr(col(corpusVec)),
          toExpr(col("__flat")), dim)).as("__sub"))
  }

  /** Two-level assignment against a `graft_kmeans_fit2`-contract index
    * RELATION — the broadcast-free twin of [[twoLevelAssign]]: the
    * driver sees only the √cells super rows and one scalar metadata
    * aggregate; the sub-centroids (the part that grows with the
    * corpus) flow executor-to-executor through a join. Identical
    * (id, vec, cell_id) output to the broadcast kernel on the same
    * index (RelIndexSpec pins bit-parity at the [[MaxFitCells]]
    * boundary), so everything downstream of assignment — the
    * cell-confined pair scan, the LSH union, the witness contract — is
    * unchanged. */
  def twoLevelAssignRel(corpus: DataFrame, corpusId: String,
      corpusVec: String, indexRel: DataFrame): DataFrame = {
    require(Seq("super_id", "sub_id", "centroid")
        .forall(indexRel.columns.contains),
      "index relation must have super_id, sub_id and centroid columns " +
        "(the graft_kmeans_fit2 contract)")
    val idx = indexRel.select(col("super_id").cast("int").as("super_id"),
      col("sub_id").cast("int").as("sub_id"),
      col("centroid").cast("array<double>").as("centroid"))
    // BOUNDED collect: super rows only — √cells by design, and capped
    // like every other driver-resident fit artifact
    val superRows = idx.where(col("sub_id") === -1)
      .orderBy(col("super_id")).limit(MaxFitCells + 1).collect()
    require(superRows.nonEmpty, "index relation has no sub_id = -1 " +
      "(super centroid) rows — is this a graft_kmeans_fit2 output?")
    require(superRows.length <= MaxFitCells,
      s"index relation has more than $MaxFitCells super rows; " +
        "supers must stay broadcast-small (scale cells via nSubPerCell)")
    require(superRows.iterator.map(_.getInt(0)).toSeq ==
        (0 until superRows.length),
      "index relation super_id values must be contiguous 0..n-1 with " +
        "exactly one sub_id = -1 row each")
    val superVecs = superRows.map(_.getSeq[Double](2).toSeq).toSeq
    val dim = superVecs.head.size
    // one scalar aggregate for stride + coverage — index-sized input,
    // two-number output
    val meta = idx.where(col("sub_id") >= 0)
      .agg(max(col("sub_id")).as("m"),
        countDistinct(col("super_id")).as("c")).head()
    require(!meta.isNullAt(0), "index relation has no sub-centroid rows")
    val stride = meta.getInt(0).toLong + 1
    require(meta.getLong(1) == superRows.length,
      s"every super cell needs at least one sub row (${meta.getLong(1)} " +
        s"of ${superRows.length} covered) — an uncovered super would " +
        "silently drop its corpus rows from the assignment join")
    subJoinAssign(corpus, corpusId, corpusVec,
        broadcastFlat(corpus.sparkSession, superVecs),
        idx.where(col("sub_id") >= 0), dim)
      .select(col(corpusId), col(corpusVec),
        (col("__s").cast("long") * stride + col("__sub")).as("cell_id"))
  }

  /** [[semanticDedupTwoLevel]] against a fit RELATION — assignment via
    * [[twoLevelAssignRel]] (no index through the driver), dedup via
    * the same cell-confined pair scan + optional LSH union.
    * `lshBands = 0` (the default) auto-sizes the union banding. */
  def semanticDedupTwoLevelRel(corpus: DataFrame, corpusId: String,
      corpusVec: String, threshold: Double, indexRel: DataFrame,
      lshUnion: Boolean = false, lshBits: Int = 64, lshBands: Int = 0,
      lshSeed: Long = 42L, lshBucketCap: Int = LshBucketCap): DataFrame =
    dedupMaybeUnion(twoLevelAssignRel(corpus, corpusId, corpusVec, indexRel),
      corpusId, corpusVec, threshold, lshUnion, lshBits, lshBands, lshSeed,
      lshBucketCap)

  /** Cap on LSH band-bucket size for the union-recall path: a bucket
    * (band, value) holding more than this many vectors is dropped from
    * candidate generation — the same hot-key discipline as Dedup's
    * dfGuard. A hot bucket means the band is too coarse to be
    * discriminative there (its pairs are mostly background-similar,
    * and the WITHIN-CELL source already covers dense regions); keeping
    * it would make the band join quadratic in the bucket. No-op at
    * every catalog test SF (worst observed bucket ≈ 3k at sf0.1). */
  val LshBucketCap: Int = 10000

  /** Pre-distinct candidate-pair budget for [[autoLshBands]]: the
    * widest banding whose ESTIMATED band-collision volume stays under
    * `max(floor, perDoc × corpus)` is chosen. The per-doc slope keeps
    * the candidate join linear in the corpus (the shuffle the r15
    * disk deaths priced: ~1.7e9 pairs = >55 GB dead at 40M docs); the
    * absolute floor keeps small corpora on the narrow, high-recall
    * default (any volume under it is trivial on any hardware). */
  val LshCandidateFloor: Double = 2e7
  val LshCandidatesPerDoc: Double = 8.0

  /** Derive the LSH-union banding (lshBits, lshBands) from the corpus
    * itself — the r15 sizing law (SCALE.md: candidate volume ≈ corpus²
    * × the similarity-distribution tail mass above the band's
    * effective threshold; the dial that bounds it is band WIDTH, which
    * must widen as the corpus grows — 2×32-bit was perfect at 20M docs
    * and disk-dead at 40M, where 1×64-bit delivers) made automatic:
    *
    *  1. a bounded DETERMINISTIC sample of signatures (lowest
    *     `sampleSize` by xxhash64(id, seed) — order-, partition- and
    *     parallelism-independent);
    *  2. for each candidate banding of the 64-bit signature
    *     (16×4 … 1×64), the expected band-collision count over every
    *     sample pair — each pair's observed bit agreement k feeding
    *     the unbiased hypergeometric estimate of its chunk-collision
    *     probability (see [[lshBandEstimates]]): the empirical
    *     similarity tail of the actual corpus under the actual
    *     hyperplanes, no distributional assumption;
    *  3. scaled to corpus pair count, the narrowest banding (most
    *     bands = highest recall) whose pre-distinct candidate volume
    *     fits `max(LshCandidateFloor, LshCandidatesPerDoc × n)` wins.
    *
    * Cost: one bounded top-K over the corpus (the signature expression
    * is codegen'd; the sort is TakeOrderedAndProject) + O(sampleSize²)
    * driver-side popcounts (~2M pairs, milliseconds). Pass
    * `corpusCount` when the caller already knows it to skip the
    * count() action. */
  def autoLshBands(corpus: DataFrame, idCol: String, vecCol: String,
      corpusCount: Long = -1L, seed: Long = 42L,
      sampleSize: Int = 2048): (Int, Int) = {
    if (corpusCount >= 0L)
      chooseLshBands(lshSampleSigs(corpus, idCol, vecCol, seed, sampleSize),
        corpusCount)
    else {
      // no known count: derive sample AND count from the SAME single
      // pass — the auto path must not pay a second full-corpus action
      val (sigs, n) =
        lshSampleSigsAndCount(corpus, idCol, vecCol, seed, sampleSize)
      chooseLshBands(sigs, n)
    }
  }

  /** The bounded deterministic signature sample behind [[autoLshBands]]
    * — lowest `sampleSize` rows by xxhash64(id, seed), signature
    * tiebreak, so the sample is a pure function of the corpus CONTENT
    * (never of partitioning, row order, or parallelism). */
  private[graft] def lshSampleSigs(corpus: DataFrame, idCol: String,
      vecCol: String, seed: Long, sampleSize: Int): Array[Long] =
    corpus
      .select(lshSignature(col(vecCol), 64, seed).as("__sig"),
        xxhash64(col(idCol), lit(seed)).as("__h"))
      .orderBy(col("__h"), col("__sig"))
      .limit(sampleSize)
      .collect().map(_.getLong(0))

  /** [[lshSampleSigs]] AND the exact corpus count from ONE pass — a
    * per-partition bounded top-K (treeAggregate: each task keeps the
    * `sampleSize` lowest (h, sig) pairs plus its row count; merges are
    * sort-and-truncate over ≤ 2·sampleSize pairs, tree-combined so a
    * 100 TB corpus's many partitions never concentrate on the driver).
    * Returns the SAME sample as [[lshSampleSigs]] — lowest
    * `sampleSize` by signed (h, sig), sigs in that order — because a
    * global bounded min-K commutes with per-partition min-K. */
  private[graft] def lshSampleSigsAndCount(corpus: DataFrame, idCol: String,
      vecCol: String, seed: Long, sampleSize: Int): (Array[Long], Long) = {
    val pairs = corpus
      .select(xxhash64(col(idCol), lit(seed)).as("__h"),
        lshSignature(col(vecCol), 64, seed).as("__sig"))
    val ord = Ordering.Tuple2[Long, Long]
    def trunc(b: scala.collection.mutable.ArrayBuffer[(Long, Long)]):
        scala.collection.mutable.ArrayBuffer[(Long, Long)] = {
      val kept = b.sorted(ord).take(sampleSize)
      b.clear(); b ++= kept
    }
    val rdd = pairs.queryExecution.toRdd
    if (rdd.getNumPartitions == 0) return (Array.empty[Long], 0L)
    val (n, buf) = rdd
      .mapPartitions { it =>
        var c = 0L
        val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        it.foreach { row =>
          c += 1
          b += ((row.getLong(0), row.getLong(1)))
          if (b.length >= sampleSize * 4) trunc(b)
        }
        Iterator.single((c, trunc(b)))
      }
      .treeReduce({ case ((c1, b1), (c2, b2)) => (c1 + c2, trunc(b1 ++= b2)) },
        depth = 2)
    (buf.sorted(ord).take(sampleSize).map(_._2).toArray, n)
  }

  /** The pure, deterministic core of [[autoLshBands]] — exposed for
    * the determinism spec and the sweep's calibration printout.
    * Returns (bits, bands); also returns the per-config estimates via
    * [[lshBandEstimates]]. */
  private[graft] def chooseLshBands(sigs: Array[Long], n: Long): (Int, Int) = {
    val est = lshBandEstimates(sigs, n)
    val budget = math.max(LshCandidateFloor, LshCandidatesPerDoc * n.toDouble)
    // narrowest-first: most bands = highest recall; take the first
    // config whose volume fits (1×64 is the unconditional fallback —
    // its background collision rate is the thin-fringe regime by
    // construction)
    est.find(_._2 <= budget).map(e => (64, e._1)).getOrElse((64, 1))
  }

  /** Estimated pre-distinct candidate-pair volume per banding config
    * (bands → estimate), narrowest (16 bands) first.
    *
    * Per sample pair with k of 64 bits agreeing, a width-w chunk's
    * collision probability p^w is estimated by the HYPERGEOMETRIC
    * C(k,w)/C(64,w) — the unbiased minimum-variance estimator of p^w
    * from a 64-bit Bernoulli draw (counting the pair's ACTUAL chunk
    * collisions has the same expectation but is 0-inflated exactly
    * where it matters: a 2048-sample holds ~10⁴ background-similar
    * pairs, far too few to OBSERVE a 3.6e-5-per-pair event, while the
    * plug-in (k/64)^w overestimates p^w by >10× at w=32 from binomial
    * noise alone — either bias flips the 20M/40M choices the r15
    * anchors hand-tuned). Summed over sample pairs × bands, scaled by
    * corpusPairs / samplePairs. */
  private[graft] def lshBandEstimates(
      sigs: Array[Long], n: Long): Seq[(Int, Double)] = {
    val configs = Seq(16, 8, 4, 2, 1)
    val m = sigs.length
    if (m < 2 || n < 2) return configs.map(_ -> 0.0)
    // h(c)(k) = C(k, w_c) / C(64, w_c) = prod_{t<w} (k-t)/(64-t)
    val hyper: Array[Array[Double]] = configs.map { bands =>
      val w = 64 / bands
      Array.tabulate(65) { k =>
        if (k < w) 0.0
        else (0 until w).map(t => (k - t).toDouble / (64 - t)).product
      }
    }.toArray
    val sums = Array.fill(configs.length)(0.0)
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        val k = 64 - java.lang.Long.bitCount(sigs(i) ^ sigs(j))
        var c = 0
        while (c < configs.length) {
          sums(c) += configs(c) * hyper(c)(k)
          c += 1
        }
        j += 1
      }
      i += 1
    }
    val scale = (n.toDouble * (n - 1) / 2) / (m.toDouble * (m - 1) / 2)
    configs.zipWithIndex.map { case (bands, c) => bands -> sums(c) * scale }
  }

  /** Per-vector smallest lower-id LSH-candidate witness with cosine >=
    * threshold — the recall-recovery source of the semdedup union.
    * Scale discipline (the r15 first cut shuffled corpus×bands WITH
    * the vectors — 96 GB at 20M docs — and died on disk; this shape
    * replaced it):
    *  1. band explode carries (band, value, id) ONLY — never the
    *     vector, so the exploded frame is bands× the corpus's ID
    *     column, not bands× its payload;
    *  2. hot buckets above [[LshBucketCap]] are dropped (see above);
    *  3. candidate pairs are DISTINCT'd as bare (a, b) longs before
    *     vectors re-attach via two id-joins — a MIN would absorb the
    *     band duplicates anyway, but each duplicate would re-pay the
    *     vector join and the cosine;
    *  4. the cosine filter and min-witness reduce the pair set.
    * Band width is the precision dial: at high thresholds on a large
    * clustered corpus use FEW, WIDE bands (2×32 bits: a background
    * 0.6-cosine pair agrees on 32 bits with p≈1.8e-5, a 0.99-dup
    * with p≈0.87), and the default 16×4-bit banding only for small
    * corpora (16 bucket values per band go quadratic fast). */
  private def lshWitnesses(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int, bands: Int, seed: Long,
      bucketCap: Int = LshBucketCap): DataFrame = {
    // bands > bits would give width 0 / mask 0 — every vector in one
    // bucket per band, which the bucket cap then drops entirely,
    // silently turning the recall dial OFF; non-divisible bits/bands
    // would silently ignore the top bits
    require(bits >= 1 && bits <= 64 && bands >= 1 && bits / bands >= 1 &&
      bits % bands == 0,
      s"lshBits/lshBands must satisfy 1 <= bands <= bits <= 64 with " +
        s"bands dividing bits (got bits=$bits, bands=$bands)")
    val width = bits / bands
    val mask = if (width >= 64) lit(-1L) else lit((1L << width) - 1)
    val sigd = df.select(col(idCol).as("__id"),
      lshSignature(col(vecCol), bits, seed).as("__sig"))
    val chunks = (0 until bands).map(c =>
      shiftrightunsigned(col("__sig"), c * width).bitwiseAND(mask))
    val banded = sigd.select(col("__id"), posexplode(array(chunks: _*)))
    val cool = banded.groupBy(col("pos"), col("col"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= bucketCap)
      .select(col("pos"), col("col"))
    val pruned = banded.join(cool, Seq("pos", "col"))
    val cands = pruned.select(col("pos"), col("col"), col("__id").as("__a_id"))
      .join(pruned.select(col("pos"), col("col"), col("__id").as("__b_id")),
        Seq("pos", "col"))
      .filter(col("__b_id") < col("__a_id"))
      .select(col("__a_id"), col("__b_id"))
      .distinct()
    val va = df.select(col(idCol).as("__a_id"), col(vecCol).as("__a_vec"))
    val vb = df.select(col(idCol).as("__b_id"), col(vecCol).as("__b_vec"))
    cands.join(va, Seq("__a_id")).join(vb, Seq("__b_id"))
      .filter(cosine(col("__a_vec"), col("__b_vec")) >= threshold)
      .groupBy(col("__a_id").as(idCol))
      .agg(min(col("__b_id")).as("__lsh_dup_of"))
  }

  /** The cell-confined pair scan shared by both semantic-dedup
    * variants: a vector is a duplicate of the smallest lower-id
    * cell-mate with cosine >= threshold. */
  private[graft] def dedupWithinCells(assigned: DataFrame, corpusId: String,
      corpusVec: String, threshold: Double): DataFrame = {
    val a = assigned.select(col(corpusId).as("__a_id"), col(corpusVec).as("__a_vec"),
      col("cell_id"))
    val b = assigned.select(col(corpusId).as("__b_id"), col(corpusVec).as("__b_vec"),
      col("cell_id").as("__b_cell"))
    a.join(b,
        col("cell_id") === col("__b_cell") && col("__b_id") < col("__a_id") &&
          cosine(col("__a_vec"), col("__b_vec")) >= threshold,
        "left")
      .groupBy(col("__a_id").as(corpusId), col("cell_id"))
      .agg(min(col("__b_id")).as("dup_of"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embeddings with k-means, then compare pairs ONLY within
    * a cluster — near-duplicate pairs land in the same cell, so the
    * quadratic pair generation is confined to cells instead of the
    * corpus. A vector is a duplicate if a LOWER-id vector in its cell
    * has cosine >= threshold; `dup_of` names the smallest such witness
    * (NULL = kept). At 100 TB, `nCells` scales with the corpus (SemDeDup
    * uses ~100k clusters) so cells stay small and the per-cell self-join
    * is bounded; the assignment itself never shuffles the corpus — only
    * the cell-keyed pair join does. */
  def semanticDedup(corpus: DataFrame, corpusId: String, corpusVec: String,
      nCells: Int, iters: Int, threshold: Double,
      centroids: Option[(Seq[Long], Seq[Seq[Double]])] = None): DataFrame = {
    // `centroids` = a prefitted index (production shape: fit once via
    // kmeansCentroids, then dedup many batches against the same cells)
    val (ids, vecs) = centroids.getOrElse(
      kmeansCentroids(corpus, corpusId, corpusVec, nCells, iters))
    dedupWithinCells(ivfAssignWith(corpus, corpusId, corpusVec, ids, vecs),
      corpusId, corpusVec, threshold)
  }
}
