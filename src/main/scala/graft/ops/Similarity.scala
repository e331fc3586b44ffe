package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH variant that buckets the corpus so the
  * pairwise work at query time is corpus_size / 2^bits per probe
  * instead of the full corpus.
  *
  * The dot product is a native `zip_with` + `aggregate` HOF — stays in
  * whole-stage codegen, no UDF, no serialization cliff. Hyperplanes
  * are deterministic (seeded driver-side PRNG, shipped as literals),
  * so bucket assignment is reproducible run-to-run.
  *
  * Scale: brute-force is O(queries × corpus) but shuffle-free when the
  * query set is broadcast — each executor scans its corpus partitions
  * once per batch of queries. That is the right plan when the query
  * batch is small (the 100 TB side stays partition-local). The LSH
  * path cuts the scanned fraction exponentially in `bits` and is the
  * scale path for large query batches.
  */
object Similarity {

  /** Σ aᵢ·bᵢ over two equal-length double arrays — the codegen'd
    * [[graft.plans.DotProduct]] expression (same left-to-right
    * summation as the HOF form, so bitwise-identical results; see
    * [[dotHof]]). */
  def dot(a: Column, b: Column): Column = graft.plans.DotProduct.dot(a, b)

  /** Built-in-only formulation (interpreted per element) — kept as the
    * semantic reference; asserted equal to [[dot]] in SimilaritySpec. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — the fused single-pass
    * [[graft.plans.CosineSim]] expression (one array walk for all
    * three accumulators instead of three DotProduct walks; bitwise
    * equal to the composed form, asserted in SimilaritySpec). Zero
    * vectors yield NaN (caller filters). */
  def cosine(a: Column, b: Column): Column = graft.plans.CosineSim.cosine(a, b)

  /** The composed three-pass form — kept as the semantic reference. */
  def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors by cosine for each query vector.
    *
    * @param corpus  (id, vec) rows — the big side; scanned once.
    * @param queries (id, vec) rows — the small side; broadcast.
    * @return (query_id, neighbor_id, rank, cosine), rank 1..k,
    *         ties broken by neighbor id for determinism.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(id).as("query_id"), col(vec).cast("array<double>").as("__qv")))
    val c = corpus.select(
      col(id).as("neighbor_id"), col(vec).cast("array<double>").as("__cv"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    graft.plans.TopKPerGroup.topK(
      scored, Seq("query_id"), "cosine", "neighbor_id", k)
  }

  /** Hard-negative mining for contrastive training (the DPR/SBERT
    * practice: the strongest negatives are the nearest vectors of a
    * DIFFERENT class): per query, top-k cosine neighbors whose
    * `label` differs. Same shape as [[bruteForceTopK]] — broadcast
    * queries, map-side fused cosine, bounded-heap top-k — with the
    * label-mismatch predicate INSIDE the join condition, so excluded
    * same-class pairs never reach the scorer. Swap the corpus side
    * for an IVF probe ([[ivfQuery]]) at corpus scale exactly like the
    * positive retrieval path. Output: (query_id, neighbor_id,
    * neighbor_label, rank, cosine). */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, label: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(id).as("query_id"), col(label).as("__ql"),
      col(vec).cast("array<double>").as("__qv")))
    val c = corpus.select(
      col(id).as("neighbor_id"), col(label).as("neighbor_label"),
      col(vec).cast("array<double>").as("__cv"))
    val scored = c.join(q,
        col("query_id") =!= col("neighbor_id") &&
          !(col("__ql") <=> col("neighbor_label")))
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    graft.plans.TopKPerGroup.topK(
      scored, Seq("query_id"), "cosine", "neighbor_id", k)
  }

  /** Approximate top-k retrieval over SYMMETRIC INT8 codes
    * ([[Projection.quantizeInt8]]) — the compressed-scan face: the
    * corpus side reads 1/4 the bytes of the float path, which is what
    * makes a shortlist scan cache-resident at corpus scale (compose
    * with the IVF faces for candidate pruning exactly like the PQ/ADC
    * path).
    *
    * Score = (Σ_i qa_i·qb_i) · ma · mb — the dequantized dot product
    * up to the constant 127²·10¹⁸, so ranking matches dot-product
    * retrieval on the dequantized vectors. The code dot is an EXACT
    * integer (|Σ| ≤ dim·127²); the two scale factors then multiply in
    * double, left-associated, each operand < 2⁵³ — the oracle runs
    * the identical IEEE ops, so scores (not just ranks) are
    * bit-comparable and the whole face hash-checks with no golden.
    *
    * Scale shape: quantized queries broadcast; the corpus side is one
    * map-side zip_with/aggregate fold per pair; ranked by the
    * bounded-heap [[graft.plans.TopKPerGroup]] (map-side heaps below
    * the exchange — a constant query never funnels the corpus through
    * one task).
    */
  def int8TopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val qc = broadcast(Projection.quantizeInt8(queries, id, vec)
      .select(col(id).as("query_id"), col("scale_u").as("__qm"),
        col("q").as("__qq")))
    val cc = Projection.quantizeInt8(corpus, id, vec)
      .select(col(id).as("neighbor_id"), col("scale_u").as("__cm"),
        col("q").as("__cq"))
    val codeDot = aggregate(
      zip_with(col("__qq"), col("__cq"), (a, b) => a.cast("long") * b),
      lit(0L), (acc, x) => acc + x)
    val scored = cc.join(qc, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (codeDot.cast("double") * col("__qm").cast("double")
          * col("__cm").cast("double")).as("score"))
    graft.plans.TopKPerGroup.topK(
      scored, Seq("query_id"), "score", "neighbor_id", k)
  }

  /** ColBERT-style late-interaction scoring (Khattab & Zaharia,
    * SIGIR'20): query and document are SETS of token vectors;
    * maxsim(Q, D) = Σ_{q∈Q} max_{d∈D} cos(q, d) — each query token
    * finds its best-matching document token, so phrase structure
    * survives pooling. The single-vector ANN family can't express it;
    * multi-vector retrieval is the modern retrieval stack's scorer.
    *
    * Shape: corpus scan × broadcast query batch (queries are
    * human-sized); the per-pair score is ONE nested HOF expression —
    * `aggregate` left-fold over query tokens of `array_max` over
    * document tokens of the fused codegen'd [[cosine]] — entirely
    * map-side, ranked by the bounded-heap TopKPerGroup. The fold is
    * left-to-right and `max` is exact selection, so scores are
    * data-deterministic under any partitioning; the 9-decimal grid
    * (q_bm25 convention) absorbs cross-engine sqrt/division last-ulp
    * drift in the oracle. An all-zero token vector yields a NaN
    * cosine, and NaN would both win `array_max` and out-rank +Inf in
    * the desc TopK heap — one corrupt corpus token would rank its
    * document FIRST for every query. The fold therefore nanvl-clamps
    * each cosine to -1 (the metric's floor): a corrupt token pair
    * contributes the worst legal score instead of poisoning the
    * document. Per-pair cost is |Q|·|D| cosines — the
    * late-interaction brute force; at 100 TB, prefilter candidates
    * with single-vector ANN over pooled embeddings (IVF faces above)
    * and maxsim-rescore only the shortlist, exactly as ColBERT
    * deployments do.
    */
  def maxSimTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vecs: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(id).as("query_id"), col(vecs).as("__qvs")))
    val c = corpus.select(col(id).as("neighbor_id"), col(vecs).as("__cvs"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(aggregate(col("__qvs"), lit(0.0d),
          (acc, qv) => acc +
            array_max(transform(col("__cvs"),
              dv => nanvl(cosine(qv, dv), lit(-1.0d))))), 9)
          .as("maxsim"))
    graft.plans.TopKPerGroup.topK(
      scored, Seq("query_id"), "maxsim", "neighbor_id", k)
  }

  /** The maxsim SCALE path, end to end: single-vector ANN over POOLED
    * (mean) token vectors prunes the corpus to a `shortlist` per
    * query, then [[maxSimTopK]]'s late-interaction score re-ranks only
    * that shortlist — the standard ColBERT deployment shape. Pooling
    * is a map-side HOF (element-wise mean of the token vectors); the
    * shortlist join back to multi-vectors is id-keyed; the rescore
    * cost is shortlist-sized, never corpus-sized. Deterministic end to
    * end (decimal-mean Lloyd centroids + exact maxsim), so a committed
    * golden hash-checks it.
    *
    * Recall vs the full [[maxSimTopK]] is a POOLING-fidelity property
    * of the data: real token vectors cluster around their document's
    * topic and mean-pool faithfully; adversarially-uncorrelated token
    * sets don't, and need a larger `shortlist`. The pruning stages add
    * no approximation of their own — with shortlist ≥ |corpus| and
    * nProbe = numCentroids the result EQUALS the brute-force path
    * (spec-gated exactly).
    */
  def maxSimIvfTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vecs: String, k: Int,
      shortlist: Int = 20,
      numCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    def pooled(df: DataFrame) = df.select(col(id), col(vecs).as("__vs"))
      .withColumn("__pool",
        transform(
          aggregate(col("__vs"),
            transform(element_at(col("__vs"), 1), _ => lit(0.0d)),
            (acc, v) => zip_with(acc, v, (a, b) => a + b)),
          x => x / size(col("__vs"))))
    val cand = ivfTopK(
        pooled(corpus), pooled(queries), id, "__pool", k = shortlist,
        numCentroids = numCentroids, nProbe = nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val scored = cand
      .join(corpus.select(col(id).as("neighbor_id"), col(vecs).as("__cvs")),
        Seq("neighbor_id"))
      .join(broadcast(
          queries.select(col(id).as("query_id"), col(vecs).as("__qvs"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(aggregate(col("__qvs"), lit(0.0d),
          (acc, qv) => acc +
            array_max(transform(col("__cvs"),
              dv => nanvl(cosine(qv, dv), lit(-1.0d))))), 9)
          .as("maxsim"))
    graft.plans.TopKPerGroup.topK(
      scored, Seq("query_id"), "maxsim", "neighbor_id", k)
  }

  /** One corpus vector with its precomputed L2 norm. */
  final case class VecRow(id: Long, vec: Array[Double], norm: Double)

  /** Block count that caps vectors-per-block at `targetPerBlock`:
    * ceil(n / target), min 1. Factored out so the bound is unit-testable
    * without running the kernel. */
  def blocksFor(n: Long, targetPerBlock: Int): Int = {
    require(targetPerBlock > 0, "targetPerBlock must be positive")
    math.max(1L, (n + targetPerBlock - 1) / targetPerBlock)
      .min(Int.MaxValue.toLong).toInt
  }

  /** Exact cosine near-duplicate pairs (a < b, cosine ≥ threshold) —
    * the exact baseline for embedding-level dedup, oracle-checkable.
    *
    * Block-partitioned pairwise kernel: vectors are grouped into
    * `blocks` buckets, every block pair (bi ≤ bj) becomes one task,
    * and each task runs a tight JVM loop over its two vector arrays
    * (norms precomputed once per vector — a per-pair expression would
    * recompute each norm n times and evaluate interpreted HOF lambdas
    * per element; this rewrite took the sf0.1 bench from 62 s to ~2 s).
    * Still O(n²) compute by definition — distributed over B² tasks;
    * use the bucketed paths ([[lshTopK]], SimHash) when all-pairs is
    * no longer affordable.
    *
    * Per-task memory is bounded BY CONSTRUCTION: the block count is
    * derived from the corpus row count (one cheap count job) so each
    * task holds at most ~2 × `targetPerBlock` vectors, regardless of
    * corpus size. Pass `blocksOverride` > 0 only to pin a layout in
    * tests.
    */
  /** Tight pairwise loop over two vector blocks: emits (min id, max id,
    * cosine) for every pair at or above `threshold`. `sameBlock` blocks
    * enumerate each unordered pair once via id order. Shared by
    * [[cosineNearDupPairs]] and [[semanticDedup]]. */
  private def pairScan(
      sameBlock: Boolean, ra: Array[VecRow], rb: Array[VecRow],
      threshold: Double): Seq[(Long, Long, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var i = 0
    while (i < ra.length) {
      val x = ra(i)
      var j = 0
      while (j < rb.length) {
        val y = rb(j)
        // same block: each unordered pair once via id order;
        // cross block: every (x, y) combination is already unique
        if (if (sameBlock) x.id < y.id else true) {
          var dot = 0.0; var k = 0
          val xv = x.vec; val yv = y.vec
          while (k < xv.length) { dot += xv(k) * yv(k); k += 1 }
          val c = dot / (x.norm * y.norm)
          if (c >= threshold) {
            if (x.id < y.id) out += ((x.id, y.id, c))
            else out += ((y.id, x.id, c))
          }
        }
        j += 1
      }
      i += 1
    }
    out.toSeq
  }

  def cosineNearDupPairs(
      corpus: DataFrame, id: String, vec: String,
      threshold: Double, targetPerBlock: Int = 4096,
      blocksOverride: Int = 0): DataFrame = {
    requireIntegralId(corpus, id, "cosineNearDupPairs corpus side")
    val spark = corpus.sparkSession
    import spark.implicits._
    val blocks =
      if (blocksOverride > 0) blocksOverride
      else blocksFor(corpus.count(), targetPerBlock)
    val withNorm = corpus
      .select(col(id).cast("long"), col(vec).cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (i, v) =>
        var s = 0.0; var k = 0
        while (k < v.length) { s += v(k) * v(k); k += 1 }
        VecRow(i, v, math.sqrt(s))
      }
    val blocked = withNorm
      .groupByKey(r => (math.floorMod(r.id, blocks.toLong)).toInt)
      .mapGroups((b, it) => (b, it.toArray))
    val left = blocked.toDF("bi", "rows_a")
    val right = blocked.toDF("bj", "rows_b")
    left.join(right, col("bi") <= col("bj"))
      .as[(Int, Array[VecRow], Int, Array[VecRow])]
      .flatMap { case (bi, ra, bj, rb) => pairScan(bi == bj, ra, rb, threshold) }
      .toDF("a", "b", "cosine")
  }

  /** Semantic deduplication over an embedding column — the SemDeDup
    * recipe (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus
    * around data-adapted centroids, search for near-duplicate pairs
    * ONLY within each cluster, then keep one representative (min id)
    * per connected near-dup group. Cross-cluster near-dups are the
    * documented approximation — the paper's cost cut is exactly that
    * the n² pair space shrinks to Σ clusterSize², and scaled copies /
    * trivially-rephrased documents co-cluster because centroid ranking
    * is by cosine.
    *
    * Everything is deterministic: xxhash64-seeded centroids sharpened
    * by decimal-mean Lloyd passes, cosine-ranked assignment with cid
    * tie-break, min-label connected components — so the kept set is
    * reproducible across runs and cluster layouts (the oracle plants
    * exact scaled copies and checks they, and only they, are dropped).
    *
    * Scale shape: centroid table is KB-sized literals (map-side
    * assignment); within each cluster the pairwise kernel is block-
    * partitioned like [[cosineNearDupPairs]], with the block count
    * derived PER CLUSTER from that cluster's own row count (one
    * dimension-sized aggregation) — so per-task rows stay capped at
    * ~2×targetPerBlock even when one cluster holds 90% of the corpus:
    * a hot cluster gets quadratically more TASKS, never bigger ones
    * (SimilaritySpec plants exactly that corpus and asserts the
    * bound). The component labeling shuffles only the collided
    * subgraph.
    */
  def semanticDedup(
      corpus: DataFrame, id: String, vec: String,
      threshold: Double, numCentroids: Int = 16,
      refineIters: Int = 1, targetPerBlock: Int = 4096): DataFrame = {
    requireIntegralId(corpus, id, "semanticDedup corpus side")
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = ivfCentroids(corpus, id, vec, numCentroids, refineIters)
    // empty corpus → no centroid draws → nothing to dedup (and the
    // zero-centroid ranking expression would not even analyze)
    if (centroids.isEmpty) return corpus
    val assigned = assignClusters(corpus, id, vec, centroids)
    // per-cluster block counts from per-cluster SIZES: numCentroids
    // rows to the driver. The assignment recomputes on the next pass
    // (map-side KB-table work — cheaper than materializing a
    // corpus-sized checkpoint just to save it).
    val blocksByCid = clusterBlocks(assigned, targetPerBlock)
    val blocked = assigned
      .groupByKey { case (cid, r) =>
        (cid, math.floorMod(r.id,
          blocksByCid.getOrElse(cid, 1).toLong).toInt) }
      .mapGroups((k, it) => (k._1, k._2, it.map(_._2).toArray))
    val left = blocked.toDF("cid", "bi", "rows_a")
    val right = blocked.toDF("cid2", "bj", "rows_b")
    val pairs = left
      .join(right, col("cid") === col("cid2") && col("bi") <= col("bj"))
      .select("bi", "rows_a", "bj", "rows_b")
      .as[(Int, Array[VecRow], Int, Array[VecRow])]
      .flatMap { case (bi, ra, bj, rb) => pairScan(bi == bj, ra, rb, threshold) }
      .toDF("a", "b", "cosine")
    val labels = Dedup.clusterLabels(corpus.select(col(id)), pairs)
    corpus.join(labels,
      corpus(id) === labels("node") && labels("cluster") === corpus(id),
      "left_semi")
  }

  /** Coarse assignment of every corpus row to its cosine-nearest
    * centroid, with the norm precomputed — the map-side front half of
    * [[semanticDedup]], factored out so the per-task bound is
    * spec-testable. */
  private[ops] def assignClusters(
      corpus: DataFrame, id: String, vec: String,
      centroids: Array[(Int, Array[Double])])
      : org.apache.spark.sql.Dataset[(Int, VecRow)] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select(col(id).cast("long").as("__id"),
        col(vec).cast("array<double>").as("__v"))
      .withColumn("__cid",
        graft.plans.IvfAssign.coarseCid(col("__v"), centroids))
      .as[(Long, Array[Double], Int)]
      .map { case (i, v, cid) =>
        var s = 0.0; var k = 0
        while (k < v.length) { s += v(k) * v(k); k += 1 }
        (cid, VecRow(i, v, math.sqrt(s)))
      }
  }

  /** Per-cluster block counts from per-cluster sizes (one
    * dimension-sized aggregation → driver map). Each cluster's
    * pairwise work is split so a task holds ~targetPerBlock of ITS
    * rows — the bound [[semanticDedup]] enforces regardless of how
    * skewed the cluster layout is. */
  private[ops] def clusterBlocks(
      assigned: org.apache.spark.sql.Dataset[(Int, VecRow)],
      targetPerBlock: Int): Map[Int, Int] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    assigned.groupByKey(_._1).count().collect()
      .map { case (cid, n) => cid -> blocksFor(n, targetPerBlock) }.toMap
  }

  /** Cosine-ranked centroid list for one vector, as a sorted
    * array<struct<negsim,cid>> over literal centroids. A zero-norm
    * side (degenerate vector, or a centroid that collapsed to zeros)
    * ranks WORSE than any real cosine (negsim 2.0 vs max 1.0) instead
    * of dividing by zero — ANSI mode makes 0-divisor a hard error, and
    * the kernel paths (coarseCidOf) already never pick NaN
    * similarities, so the two formulations stay consistent.
    *
    * RETAINED AS THE SEMANTIC REFERENCE ONLY (round 18): the k × dim
    * literal tree falls out of whole-stage codegen and evaluates
    * interpreted per row (~0.5 ms/row measured at k=16, dim=64). The
    * production paths use [[graft.plans.IvfAssign]]'s reference-object
    * expressions; IvfAssignSpec pins the two bit-equal. */
  private def rankedCentroids(
      v: Column, centroids: Array[(Int, Array[Double])]): Column = sort_array(
    array(centroids.toSeq.map { case (cid, cv) =>
      val cvNorm = math.sqrt(cv.map(x => x * x).sum)
      val cvCol = array(cv.map(lit).toIndexedSeq: _*)
      val denom = norm(v) * lit(cvNorm)
      struct(
        when(denom === 0.0, lit(2.0))
          .otherwise(-(dot(v, cvCol) / denom)).as("negsim"),
        lit(cid).as("cid"))
    }: _*))

  /** One Lloyd pass: assign every corpus vector to its nearest
    * centroid (map-side, literal centroids), recompute each centroid
    * as the per-dimension mean of its cluster. One full corpus scan +
    * one dimension-sized aggregation. The mean is computed as an
    * EXACT fixed-scale decimal sum divided by the count — decimal
    * addition is associative and commutative, so the distributed
    * merge order cannot perturb the result the way a floating-point
    * `avg` at a rounding boundary could — then rounded to a 1e-6
    * grid. Centroids are therefore bit-stable run-to-run and
    * assignment stays reproducible. Clusters that lose every point
    * keep their seed centroid.
    */
  private def lloydRefine(
      corpusVecs: DataFrame,
      centroids: Array[(Int, Array[Double])]): Array[(Int, Array[Double])] = {
    // empty seed set (empty corpus): nothing to refine — and the
    // zero-centroid ranking expression would not analyze
    if (centroids.isEmpty) return centroids
    // assignment is the same cosine-argmax the ranking expression
    // computes (sequential dot, same tie-break), as a typed kernel —
    // the k×dim literal expression tree cost ~1 s of codegen per pass
    val spark = corpusVecs.sparkSession
    import spark.implicits._
    val means = corpusVecs
      .select(col("__v").cast("array<double>"))
      .as[Array[Double]]
      .flatMap { v =>
        val cid = coarseCidOf(v, centroids)
        v.iterator.zipWithIndex.map { case (x, pos) => (cid, pos, x) }
      }
      .toDF("__cid", "__pos", "__x")
      .groupBy("__cid", "__pos")
      .agg(round(
        (sum(col("__x").cast(DecimalType(38, 18))) /
          count(lit(1))).cast("double"), 6).as("__m"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
    centroids.map { case (cid, seed) => (cid, means.getOrElse(cid, seed)) }
  }

  /** IVF (inverted-file) approximate top-k: `numCentroids`
    * deterministic representatives are drawn from the corpus (smallest
    * xxhash64(id) — reproducible, no RNG) and sharpened by
    * `refineIters` Lloyd passes ([[lloydRefine]] — data-adapted
    * centroids lift the recall floor over raw corpus draws), the
    * corpus is assigned to its nearest centroid ONCE (the inverted
    * lists), and each query probes only its `nProbe` closest
    * centroids' lists — scanned fraction ≈ nProbe / numCentroids.
    *
    * The centroid table is driver-collected (numCentroids × dim
    * doubles — KBs) and shipped as literals, so assignment is pure
    * map-side codegen'd work; the only shuffle is the equi-join on
    * centroid id. Complements [[lshTopK]]: IVF adapts to the data
    * distribution, LSH needs no driver pass at all.
    */
  /** Deterministic data-adapted centroids: xxhash64-seeded corpus
    * draws sharpened by `refineIters` Lloyd passes. */
  private[ops] def ivfCentroids(
      corpus: DataFrame, id: String, vec: String,
      numCentroids: Int, refineIters: Int): Array[(Int, Array[Double])] = {
    val corpusVecs =
      corpus.select(col(vec).cast("array<double>").as("__v"))
    val seeds: Array[(Int, Array[Double])] = corpus
      .select(col(id), col(vec).cast("array<double>").as("__v"))
      .orderBy(xxhash64(col(id)))
      .limit(numCentroids)
      .select(col("__v"))
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toArray) }
    (1 to refineIters).foldLeft(seeds)((cs, _) => lloydRefine(corpusVecs, cs))
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      numCentroids: Int = 16, nProbe: Int = 4,
      refineIters: Int = 1): DataFrame = {
    val centroids =
      ivfCentroids(corpus, id, vec, numCentroids, refineIters)
    if (centroids.isEmpty) // empty corpus → no neighbors, typed empty
      return corpus.sparkSession.emptyDataFrame
        .select(lit(null).cast("long").as("query_id"),
          lit(null).cast("long").as("neighbor_id"),
          lit(null).cast("int").as("rank"),
          lit(null).cast("double").as("cosine"))
        .limit(0)

    val c = corpus.select(
      col(id).as("neighbor_id"), col(vec).cast("array<double>").as("__cv"))
      .withColumn("__cid",
        graft.plans.IvfAssign.coarseCid(col("__cv"), centroids))
    val q = broadcast(
      queries.select(col(id).as("query_id"),
        col(vec).cast("array<double>").as("__qv"))
        .withColumn("__cid", explode(slice(
          graft.plans.IvfAssign.rankedCids(col("__qv"), centroids),
          1, nProbe))))
    val scored = c.join(q, Seq("__cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    graft.plans.TopKPerGroup.topK(
      scored, Seq("query_id"), "cosine", "neighbor_id", k)
  }

  /** Product quantization (Jégou et al. 2011, the IVFADC paper's PQ
    * half): split each vector into `m` subvectors, learn `k` centroids
    * per subspace (same deterministic device as IVF — xxhash64-seeded
    * corpus draws + decimal-mean Lloyd passes), and store each corpus
    * vector as `m` small codes. At 64 dims × float (256 B) and m=8,
    * k=16 the scan payload drops to 8 codes (~8 B) — a 32× memory/IO
    * compression — and scoring a pair is m table lookups instead of
    * dim multiplies. This is the compressed-scan path that makes a
    * brute-force sweep affordable when even the IVF probe set is too
    * many raw bytes; compose with IVF lists for the full IVFADC shape.
    *
    * Assignment is by exact L2 (argmin ‖v−c‖² = argmin c·c − 2v·c,
    * the per-row v·v term cancels), tie-broken by centroid id —
    * deterministic, so codes and ADC ranks are reproducible and the
    * query face snapshots under GenGoldens like the other ANN faces.
    */
  def pqCodebooks(
      corpus: DataFrame, id: String, vec: String,
      m: Int = 8, k: Int = 16, refineIters: Int = 1)
      : Array[Array[(Int, Array[Double])]] = {
    val head = corpus.select(size(col(vec))).take(1)
    require(head.nonEmpty,
      "pqCodebooks: cannot train codebooks on an empty corpus")
    val dim = head(0).getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // seeds: ONE job — k deterministic full-vector draws, sliced into
    // per-subspace seeds driver-side (identical to drawing per
    // subspace, since every subspace would pick the same k ids)
    val seedVecs: Array[Array[Double]] = corpus
      .select(col(id), col(vec).cast("array<double>").as("__v"))
      .orderBy(xxhash64(col(id)))
      .limit(k)
      .select(col("__v"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    var books: Array[Array[(Int, Array[Double])]] = Array.tabulate(m) { j =>
      seedVecs.zipWithIndex.map { case (v, i) =>
        (i, v.slice(j * sub, (j + 1) * sub)) }
    }
    if (refineIters > 0) {
      // ONE Lloyd pass per iteration for ALL m subspaces: a typed
      // kernel emits each vector's (subspace, code, subvector) rows
      // (assignment is a tight JVM argmin loop — an m-branch
      // expression chain of k-struct sorts was a codegen explosion
      // that cost seconds to compile per job), then one decimal-mean
      // aggregation grouped by (subspace, code, pos). 3m tiny jobs
      // become 1+iters jobs on a 100 TB training sample.
      val spark = corpus.sparkSession
      import spark.implicits._
      val raw = corpus
        .select(col(vec).cast("array<double>").as("__v"))
        .as[Array[Double]]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        for (_ <- 1 to refineIters) {
          val bk = books
          val means = raw
            .flatMap { v =>
              (0 until m).iterator.map { j =>
                (j, pqCodeOf(v, j * sub, bk(j)), v.slice(j * sub, (j + 1) * sub))
              }
            }
            .toDF("__j", "__c", "__sv")
            .select(col("__j"), col("__c"),
              posexplode(col("__sv")).as(Seq("__pos", "__x")))
            .groupBy("__j", "__c", "__pos")
            .agg(round(
              (sum(col("__x").cast(DecimalType(38, 18))) /
                count(lit(1))).cast("double"), 6).as("__m"))
            .collect()
            .groupBy(r => (r.getInt(0), r.getInt(1)))
            .map { case ((j, c), rows) =>
              (j, c) -> rows.sortBy(_.getInt(2)).map(_.getDouble(3))
            }
          books = Array.tabulate(m) { j =>
            books(j).map { case (cid, seed) =>
              (cid, means.getOrElse((j, cid), seed)) }
          }
        }
      } finally raw.unpersist(false)
    }
    books
  }

  /** Σ a(off+t)·b(t) — the one offset dot-product loop shared by the
    * kernel paths (LUT build, q·c hoists, residual cross-terms). */
  private def dotOff(a: Array[Double], off: Int, b: Array[Double]): Double = {
    var s = 0.0; var t = 0
    while (t < b.length) { s += a(off + t) * b(t); t += 1 }
    s
  }

  /** The ANN kernels carry ids as longs ([[VecRow]], codes frames) —
    * reject non-integral id columns at the call site instead of an
    * executor-side ANSI cast crash. */
  private def requireIntegralId(df: DataFrame, id: String, op: String): Unit = {
    val dt = df.schema(id).dataType
    // explicit list only — a startsWith("int") shortcut would also
    // accept "interval"
    require(Seq("long", "int", "integer", "short", "byte")
        .contains(dt.typeName),
      s"$op requires an integral id column, got $id: ${dt.typeName}")
  }

  /** Cosine-argmax coarse assignment (max similarity, ties to the
    * lowest cid by ascending iteration + strict `>`). */
  private def coarseCidOf(
      v: Array[Double], cs: Array[(Int, Array[Double])]): Int = {
    var vn = 0.0
    var t = 0
    while (t < v.length) { vn += v(t) * v(t); t += 1 }
    val vNorm = math.sqrt(vn)
    var best = Double.NegativeInfinity
    var bc = -1
    var i = 0
    while (i < cs.length) {
      val c = cs(i)._2
      var d = 0.0; var cn = 0.0
      var u = 0
      while (u < c.length) { d += v(u) * c(u); cn += c(u) * c(u); u += 1 }
      val sim = d / (vNorm * math.sqrt(cn))
      if (sim > best) { best = sim; bc = cs(i)._1 }
      i += 1
    }
    // a zero-norm (or NaN) vector compares NaN to every centroid and
    // never updates bc — pin it to the first centroid instead of
    // letting the -1 sentinel escape as an array index / list id
    if (bc == -1) cs(0)._1 else bc
  }

  /** L2-argmin code of `v(off until off+sub)` against one codebook —
    * tight JVM loop; iterating cids ascending with a strict `<` keeps
    * the lowest cid on exact ties (the deterministic tie-break). */
  private def pqCodeOf(
      v: Array[Double], off: Int, cb: Array[(Int, Array[Double])]): Int = {
    var best = Double.MaxValue
    var bc = -1
    var i = 0
    while (i < cb.length) {
      val c = cb(i)._2
      var d = 0.0
      var t = 0
      while (t < c.length) {
        val diff = v(off + t) - c(t); d += diff * diff; t += 1
      }
      if (d < best) { best = d; bc = cb(i)._1 }
      i += 1
    }
    // NaN components make every distance NaN and bc never updates —
    // pin to the first code rather than emit -1, which would blow up
    // later as element_at(lut, 0) in a query far from the bad row
    if (bc == -1) cb(0)._1 else bc
  }

  /** Encode the corpus: one row per vector with its `m` PQ codes (the
    * compressed representation a 100 TB corpus persists instead of raw
    * floats). Map-side typed kernel, no shuffle (the expression form —
    * m sorted k-struct arrays per row — compiled into a pathological
    * codegen method; the loop is the same math without the ceremony).
    */
  def pqEncode(
      corpus: DataFrame, id: String, vec: String,
      codebooks: Array[Array[(Int, Array[Double])]]): DataFrame = {
    requireIntegralId(corpus, id, "pqEncode corpus side")
    val sub = codebooks(0)(0)._2.length
    require(codebooks.forall(_.forall(_._2.length == sub)),
      "ragged codebooks")
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = codebooks.length
    corpus
      .select(col(id).cast("long"), col(vec).cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (i, v) =>
        (i, Array.tabulate(m)(j => pqCodeOf(v, j * sub, codebooks(j))))
      }
      .toDF("neighbor_id", "codes")
  }

  /** Approximate top-k by asymmetric distance: the query stays full
    * precision, each corpus row is scored from its codes via per-
    * subspace lookup tables (query-subvector · centroid dots), i.e.
    * cosine(q, x̂) where x̂ is the PQ reconstruction. One scan of the
    * code table × broadcast queries — the brute-force plan shape at
    * 1/32nd the scanned bytes. */
  /** Broadcast query frame carrying precomputed per-query ADC lookup
    * tables: `__lut[j][c]` = query-subvector-j · centroid-(j,c), the
    * query norm, and (when `coarse` is supplied) `__qc[cid]` = q · c.
    * The LUT costs m×k dots ONCE per query row; the per-pair score is
    * then m array lookups — the asymmetric-distance trick that makes
    * the compressed scan cheap. A typed kernel, not an expression
    * tree: the m×k-dot projection generated ~0.5 s of fresh janino
    * compilation per ACTION, which dwarfed the work for human-sized
    * query batches. Shared by [[pqTopK]] and [[ivfPqQuery]]. */
  private def queriesWithLut(
      queries: DataFrame, id: String, vec: String,
      codebooks: Array[Array[(Int, Array[Double])]],
      coarse: Array[(Int, Array[Double])] = Array.empty): DataFrame = {
    requireIntegralId(queries, id, "pq query side")
    val spark = queries.sparkSession
    import spark.implicits._
    val sub = codebooks(0)(0)._2.length
    val m = codebooks.length
    queries
      .select(col(id).cast("long"), col(vec).cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (qid, v) =>
        val lut = Array.tabulate(m)(j =>
          codebooks(j).map { case (_, cv) => dotOff(v, j * sub, cv) })
        var n2 = 0.0
        v.foreach(x => n2 += x * x)
        val qc = coarse.map { case (_, c) => dotOff(v, 0, c) }
        (qid, v, lut, math.sqrt(n2), qc)
      }
      .toDF("query_id", "__qv", "__lut", "__qn", "__qc")
  }

  /** cosine(q, x̂) from a codes column + the precomputed `__lut`:
    * m LUT lookups per pair plus the data-carried reconstruction-norm
    * table `__rn2` (one-row broadcast — see the scale note in
    * [[ivfPqQuery]]). */
  private def adcCosine(codesCol: Column, m: Int): Column = {
    def perSub(table: Column): Column = (0 until m).map { j =>
      element_at(element_at(table, j + 1),
        element_at(codesCol, j + 1) + lit(1))
    }.reduce(_ + _)
    val denom = col("__qn") * sqrt(perSub(col("__rn2")))
    // zero-norm query or zero reconstruction: rank strictly below any
    // real cosine instead of an ANSI divide-by-zero
    when(denom === 0.0, lit(-2.0))
      .otherwise(perSub(col("__lut")) / denom)
  }

  /** ADC brute scan: every query against every corpus code — a THETA
    * join (queries × corpus), by design: the flat scan is the exact-
    * recall baseline and assumes the QUERY BATCH IS BROADCAST-SIZED
    * (each query row carries an m×256 double LUT ≈ 2 KB × m/8, so
    * ~10k queries ≈ tens of MB on every executor; the corpus side
    * streams). That assumption is load-bearing: past it the broadcast
    * OOMs the driver or executors, and the right tool is
    * [[ivfPqQuery]], whose probe-pruned lists scale with corpus AND
    * query count. `maxQueryRows` makes the bound loud instead of an
    * OOM — raise it only with executor memory to match. */
  def pqTopK(
      codes: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      codebooks: Array[Array[(Int, Array[Double])]],
      maxQueryRows: Long = 10000L): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val nq = queries.count()
    require(nq <= maxQueryRows,
      s"pqTopK broadcasts the query batch with its per-query LUTs; " +
        s"$nq query rows exceed maxQueryRows=$maxQueryRows and would " +
        s"OOM the broadcast — route batches this large through " +
        s"ivfPqQuery (probe-pruned, scales with query count), or " +
        s"raise maxQueryRows alongside executor memory")
    val q = broadcast(queriesWithLut(queries, id, vec, codebooks))
    // reconstruction norms ride a one-row broadcast (data, not a
    // plan literal — see ivfPqQuery's scale note)
    val tables = broadcast(Seq(Tuple1(
      codebooks.toSeq.map(cb =>
        cb.toSeq.map { case (_, cv) => cv.map(x => x * x).sum })
    )).toDF("__rn2"))
    val scored = codes
      .join(q, col("query_id") =!= col("neighbor_id"))
      .crossJoin(tables)
    graft.plans.TopKPerGroup.topK(
      scored.select(col("query_id"), col("neighbor_id"),
        adcCosine(col("codes"), codebooks.length).as("cosine")),
      Seq("query_id"), "cosine", "neighbor_id", k)
  }

  /** Deterministic random hyperplanes: `bits` × `dim` Gaussian matrix
    * from a fixed seed (same plan every run — reproducible buckets). */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit LSH bucket id: bit j set iff hᵼ·x ≥ 0. Vectors with
    * small angles agree on most sign bits, so near neighbors
    * co-bucket with high probability. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (h, j) =>
      val hv = array(h.map(lit): _*)
      when(dot(vec, hv) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: bucket corpus and queries with the same
    * hyperplanes, join on bucket, rank within bucket by exact cosine.
    * One equi-join shuffle on the bucket key; each bucket holds
    * ~corpus/2^bits vectors, so per-query work shrinks exponentially
    * with `bits`.
    *
    * Multi-probe (`probeHamming = 1`, the default) also probes every
    * bucket one sign-bit flip away — the standard recall fix for
    * sign-LSH, since a near neighbor sitting close to one hyperplane
    * lands in an adjacent bucket. Query-side only: the corpus keeps
    * exactly one bucket per vector, so corpus size per bucket (the
    * scale driver) is unchanged; the query batch fans out ×(bits+1),
    * which is cheap because queries are the broadcast side.
    */
  /** Build and PERSIST an IVF index — the production ANN shape: the
    * Lloyd/assignment cost is paid once at index time, then every
    * query batch runs against the stored index ([[ivfQuery]]) without
    * touching raw vectors outside its probe set.
    *
    * Layout: `dir/centroids` (numCentroids × dim — KBs) and
    * `dir/lists` partitioned by centroid id, so the inverted lists
    * are FILES per centroid: a query batch's probe set prunes the
    * scan to ~nProbe/numCentroids of the corpus bytes via static
    * partition pruning — at 100 TB that pruning, not the join, is
    * the difference between an index and a table scan.
    */
  def ivfBuild(
      corpus: DataFrame, id: String, vec: String, dir: String,
      numCentroids: Int = 16, refineIters: Int = 1): Unit = {
    val centroids =
      ivfCentroids(corpus, id, vec, numCentroids, refineIters)
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vector")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    corpus
      .select(col(id).as("neighbor_id"),
        col(vec).cast("array<double>").as("vector"))
      .withColumn("cid",
        graft.plans.IvfAssign.coarseCid(col("vector"), centroids))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/lists")
  }

  /** Incrementally append a batch of vectors to a persisted IVF index
    * ([[ivfBuild]]) — the production maintenance path: centroids are
    * TRAINED ONCE and frozen (retraining is a separate, rarer rebuild
    * decision driven by drift monitoring), each new ingest batch is
    * assigned against the stored codebook and appended into the
    * centroid-partitioned lists.
    *
    * Scale shape: one scan of the new batch, map-side assignment
    * against driver-sized broadcast centroids, and a STAGED publish —
    * existing list files are never read or rewritten, so the cost is
    * ∝ batch, not ∝ index. Because assignment is the same codegen'd
    * expression as [[ivfBuild]]'s, an index built as init + N appends
    * is query-identical to a single build over the union (pinned in
    * SimilaritySpec).
    *
    * Crash discipline (the [[graft.sources.Versioned]] recipe): the
    * batch's lists are fully written under `dir/.staging/<token>`,
    * then published by ONE atomic directory rename to
    * `dir/appends/<token>` — readers ([[ivfQuery]]) only ever see
    * complete batches, so a kill anywhere inside the append leaves
    * the pre-append index answering correctly. The token is a
    * content-derived checksum of the batch's id AND vector columns
    * ([[graft.sources.Versioned.manifest]]'s order-independent md5
    * sum — id alone would make a re-embedding batch with the same id
    * set collide with its predecessor and be silently dropped), so a
    * RETRY of a crashed append recomputes the same token:
    * crash-before-rename → the retry sweeps the torn staging dir and
    * republishes; crash-after-rename → the retry sees the published
    * dir and no-ops. A plain dynamic-partition `mode("append")` has
    * neither property — a kill during its job commit can leave a
    * half-visible batch that a retry then duplicates. (Directory
    * rename is atomic on HDFS/local; on S3-style object stores route
    * the publish through a committer or [[graft.sources.Versioned]].)
    */
  def ivfAppend(
      batch: DataFrame, dir: String, id: String, vec: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val centroids: Array[(Int, Array[Double])] = spark.read
      .parquet(s"$dir/centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // Token input: id and vector as SEPARATE manifest columns, so
    // Versioned.manifest's \u0001 separator delimits them (a
    // hand-rolled '|' pre-concat let '|' inside string ids forge
    // collisions), and a null vector fails LOUDLY instead of
    // degrading the row to id-only (concat_ws silently skips nulls —
    // an embedding batch with null vectors is malformed input, not a
    // weaker checksum). NOTE (one-time migration hazard, as with any
    // token-format change): a batch published under an older token
    // format and retried across this upgrade recomputes a different
    // token and would republish — sweep or rename existing
    // `appends/b_*` dirs when upgrading an index in place.
    val m = graft.sources.Versioned.manifest(
      batch.select(
        col(id).cast("string").as("__id"),
        coalesce(col(vec).cast("string"),
          raise_error(lit(s"ivfAppend: null $vec in batch — refusing " +
            "to weaken the idempotency token"))).as("__vec")),
      Seq("__id", "__vec")).head()
    val token = s"b_${m.getLong(0)}_${java.lang.Long.toHexString(m.getLong(1))}"
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new Path(s"$dir/appends/$token")
    if (fs.exists(target)) {
      // Idempotent retry of an already-published batch: no-op, but say
      // so — a silent return would make a genuinely-dropped append
      // indistinguishable from a successful retry in the logs.
      System.err.println(
        s"[ivfAppend] batch token $token already published under $dir/appends — skipping (idempotent retry)")
      return
    }
    val staging = new Path(s"$dir/.staging/$token")
    if (fs.exists(staging)) fs.delete(staging, true) // torn earlier attempt
    batch
      .select(col(id).as("neighbor_id"),
        col(vec).cast("array<double>").as("vector"))
      .withColumn("cid",
        graft.plans.IvfAssign.coarseCid(col("vector"), centroids))
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(staging.toString)
    fs.mkdirs(target.getParent)
    if (!fs.rename(staging, target))
      throw new java.io.IOException(
        s"ivfAppend publish: rename $staging -> $target failed")
  }

  /** The complete lists of an IVF index: the base build plus every
    * PUBLISHED append batch — torn staging dirs are invisible by
    * construction. Each branch keeps `cid` as its own partition
    * column, so a probe-set filter statically prunes files in every
    * branch. Append-dir count grows one per batch; compaction (when a
    * long-lived index accretes thousands) is an [[ivfBuild]] rebuild
    * over the union — the rarer maintenance decision, as with any
    * LSM-ish layout. */
  private def ivfLists(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new Path(s"$dir/lists")
    val appendRoot = new Path(s"$dir/appends")
    val appendDirs =
      if (fs.exists(appendRoot))
        fs.listStatus(appendRoot).filter(_.isDirectory)
          .map(_.getPath.toString).sorted.toSeq
      else Seq.empty
    val paths =
      (if (fs.exists(base)) Seq(base.toString) else Seq.empty) ++ appendDirs
    require(paths.nonEmpty, s"no IVF lists under $dir")
    paths.map(p => spark.read.parquet(p)).reduce(_.unionByName(_))
  }

  /** Initialize an EMPTY IVF index at `dstDir` reusing the codebook of
    * an existing index — the "frozen centroids, fresh lists" starting
    * point for [[ivfAppend]]-only maintenance (e.g. a per-tenant or
    * per-day index family sharing one trained codebook). Centroid
    * doubles round-trip parquet bit-exactly, so the clone assigns
    * identically to its source. */
  def ivfInitFrom(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String, dstDir: String): Unit = {
    spark.read.parquet(s"$srcDir/centroids")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dstDir/centroids")
    // no lists yet: ivfQuery reads base + published appends, so the
    // first ivfAppend's atomic publish brings the index live
  }

  /** Query a persisted IVF index ([[ivfBuild]]). The probe set —
    * ≤ queries × nProbe centroid ids, driver-bounded because a query
    * batch is human/request-sized — becomes a static IN filter on the
    * partition column, so only the probed lists' FILES are read.
    * Identical results to [[ivfTopK]] with the same build parameters:
    * centroid doubles round-trip parquet bit-exactly and assignment
    * is the same codegen'd expression.
    */
  def ivfQuery(
      queries: DataFrame, dir: String,
      id: String, vec: String, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val centroids: Array[(Int, Array[Double])] = spark.read
      .parquet(s"$dir/centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val q = queries.select(col(id).as("query_id"),
        col(vec).cast("array<double>").as("__qv"))
      .withColumn("__cid", explode(slice(
        graft.plans.IvfAssign.rankedCids(col("__qv"), centroids),
        1, nProbe)))
    val probed = q.select("__cid").distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = ivfLists(spark, dir)
      .filter(col("cid").isin(probed.toIndexedSeq: _*))
    val scored = lists
      .join(broadcast(q), col("cid") === col("__cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("vector")).as("cosine"))
    graft.plans.TopKPerGroup.topK(
      scored, Seq("query_id"), "cosine", "neighbor_id", k)
  }

  /** IVFADC — the full production ANN shape (Jégou et al. 2011):
    * coarse IVF lists partitioned by centroid id on disk, each entry
    * stored as PQ CODES instead of raw floats. A query batch prunes to
    * its probe set's FILES (static partition pruning, ~nProbe/
    * numCentroids of the corpus) and scores the survivors from codes
    * (~16 B each instead of 256 B of floats) — the two reductions
    * compose, which is what makes ANN affordable at 100 TB.
    *
    * `residual = true` is the paper's formulation: codes quantize
    * v − c (the vector's offset from its coarse centroid), which is
    * much smaller in magnitude than v on clustered data, so the same
    * code budget spends itself on finer detail (recall measured in
    * SimilaritySpec; the residual cross-terms are reconstructed at
    * query time from driver-sized literal tables). `residual = false`
    * quantizes raw vectors — that variant's all-lists probe is
    * provably identical to the flat [[pqTopK]] scan (spec'd). The
    * index is self-describing: the flag is stored beside the
    * codebooks and [[ivfPqQuery]] reads it back.
    */
  def ivfPqBuild(
      corpus: DataFrame, id: String, vec: String, dir: String,
      numCentroids: Int = 16, m: Int = 32, k: Int = 16,
      refineIters: Int = 1, residual: Boolean = true): Unit = {
    requireIntegralId(corpus, id, "ivfPqBuild corpus side")
    val spark = corpus.sparkSession
    import spark.implicits._
    val coarse = ivfCentroids(corpus, id, vec, numCentroids, refineIters)
    // residual mode trains the codebooks on v − c, not on v
    val trainSrc =
      if (!residual) corpus.select(col(id), col(vec))
      else corpus
        .select(col(id).cast("long"), col(vec).cast("array<double>"))
        .as[(Long, Array[Double])]
        .map { case (i, v) => (i, residualOf(v, coarse)) }
        .toDF(id, vec)
    val codebooks = pqCodebooks(trainSrc, id, vec, m, k, refineIters)
    coarse.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cid", "vector")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    codebooks.zipWithIndex.toSeq
      .flatMap { case (cb, j) =>
        cb.map { case (c, v) => (j, c, v.toSeq, residual) } }
      .toDF("subspace", "code", "vector", "residual")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    // codes + coarse assignment in ONE corpus scan (map-side typed
    // kernel — same loops as encode/training, no codegen blow-up).
    // The RAW vector rides along as its own parquet column: the ADC
    // scan projects only `codes` (columnar pruning keeps its scanned
    // bytes at ~16 B/row), while the exact re-rank stage
    // ([[ivfPqQuery]] `rerank`) fetches `vector` for its candidate
    // set from the same partition-pruned files — IVFADC-R (Jégou et
    // al. §IV) without a second corpus copy.
    val sub = codebooks(0)(0)._2.length
    val mm = codebooks.length
    corpus
      .select(col(id).cast("long"), col(vec).cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (i, v) =>
        val cid = coarseCidOf(v, coarse)
        val enc = if (residual) residualOf(v, coarse) else v
        (i, Array.tabulate(mm)(j => pqCodeOf(enc, j * sub, codebooks(j))),
          v, cid)
      }
      .toDF("neighbor_id", "codes", "vector", "cid")
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/lists")
  }

  /** v − c for v's cosine-nearest coarse centroid. */
  private def residualOf(
      v: Array[Double], coarse: Array[(Int, Array[Double])]): Array[Double] = {
    val cid = coarseCidOf(v, coarse)
    // look up by cid value, not array position (they coincide for
    // ivfCentroids output, but the contract is the id)
    val c = coarse.find(_._1 == cid).get._2
    Array.tabulate(v.length)(t => v(t) - c(t))
  }

  /** Query a persisted IVFADC index ([[ivfPqBuild]]): static partition
    * pruning to the probe set, ADC scoring from codes, bounded-heap
    * top-k.
    *
    * `rerank > 0` adds the exact re-rank stage (IVFADC-R, Jégou et
    * al. §IV): the ADC pass keeps its top `rerank` candidates per
    * query (a cheap compressed-domain shortlist), their RAW vectors
    * come back from the probed lists' `vector` column — the SAME
    * partition-pruned files, one extra columnar read of
    * queries × rerank-ish rows — and the final top-k is ranked by
    * exact [[cosine]]. This recovers the true neighbors that PQ
    * quantization error mis-ranks (measured: residual recall 0.64 →
    * ≥0.9 at nProbe=8 on the test fixture) at the cost of one more
    * scan over ~nProbe/numCentroids of the corpus reading only the
    * candidates' vectors. The probe-set coverage ceiling still
    * applies: a true neighbor whose list was never probed cannot be
    * recovered — raise `nProbe` for coverage, `rerank` for ranking
    * fidelity. */
  def ivfPqQuery(
      queries: DataFrame, dir: String,
      id: String, vec: String, k: Int, nProbe: Int = 4,
      rerank: Int = 0): DataFrame = {
    require(rerank == 0 || rerank >= k,
      s"rerank candidate budget ($rerank) must be 0 (off) or >= k ($k)")
    val spark = queries.sparkSession
    val coarse: Array[(Int, Array[Double])] = spark.read
      .parquet(s"$dir/centroids")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val cbDf = spark.read.parquet(s"$dir/codebooks")
    val residual = cbDf.schema.fieldNames.contains("residual") &&
      cbDf.select("residual").head().getBoolean(0)
    val codebooks: Array[Array[(Int, Array[Double])]] = cbDf
      .select("subspace", "code", "vector")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(t => (t._2, t._3)))
    // residual scoring needs q·c per probed centroid: the kernel
    // hoists those 16 full-dimension dots once per query row too
    val qBase = queriesWithLut(queries, id, vec, codebooks,
      coarse = if (residual) coarse else Array.empty)
    val q = qBase
      .withColumn("__cid", explode(slice(
        graft.plans.IvfAssign.rankedCids(col("__qv"), coarse),
        1, nProbe)))
    val probed = q.select("__cid").distinct()
      .collect().map(_.getInt(0)).sorted
    val lists = spark.read.parquet(s"$dir/lists")
      .filter(col("cid").isin(probed.toIndexedSeq: _*))
    // the query-independent tables ride a ONE-ROW broadcast frame
    // (data, not plan literals — the Bloom-bitset device): an
    // 8k-double literal in the tree gets re-hashed by every optimizer
    // / AQE rule pass and cost multiple seconds of driver time per
    // action
    import spark.implicits._
    val sub = codebooks(0)(0)._2.length
    val tables = broadcast(Seq((
      coarse.toSeq.map { case (_, c) =>
        codebooks.indices.map(j =>
          codebooks(j).toSeq.map { case (_, rv) => dotOff(c, j * sub, rv) })
      },
      codebooks.toSeq.map(cb =>
        cb.toSeq.map { case (_, rv) => rv.map(x => x * x).sum }),
      coarse.toSeq.map { case (_, c) => c.map(x => x * x).sum }
    )).toDF("__crT", "__rn2", "__c2"))
    val score =
      if (!residual) adcCosine(col("codes"), codebooks.length)
      else residualAdcCosine(col("codes"), col("cid"), codebooks.length)
    val scored = lists
      .join(broadcast(q), col("cid") === col("__cid"))
      .crossJoin(tables)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), score.as("cosine"))
    if (rerank == 0)
      graft.plans.TopKPerGroup.topK(
        scored, Seq("query_id"), "cosine", "neighbor_id", k)
    else {
      require(lists.schema.fieldNames.contains("vector"),
        "ivfPqQuery rerank needs an index whose lists carry raw " +
          "vectors — rebuild with ivfPqBuild")
      val cand = graft.plans.TopKPerGroup.topK(
          scored, Seq("query_id"), "cosine", "neighbor_id", rerank)
        .select(col("query_id"), col("neighbor_id"))
      // the shortlist is queries × rerank rows (driver-bounded like
      // the probe set) — broadcast it against the probed lists so the
      // exact pass reads only the candidates' vector bytes, still
      // inside the partition-pruned file set
      val vecs = lists.select(col("neighbor_id"), col("vector"))
        .join(broadcast(cand), Seq("neighbor_id"))
      val exact = vecs
        .join(broadcast(qBase.select(col("query_id"), col("__qv"))),
          Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("__qv"), col("vector")).as("cosine"))
      // a zero-norm side yields NaN cosine — rank it strictly below
      // any real score, matching the ADC stage's convention
      val guarded = exact.withColumn("cosine",
        when(isnan(col("cosine")), lit(-2.0)).otherwise(col("cosine")))
      graft.plans.TopKPerGroup.topK(
        guarded, Seq("query_id"), "cosine", "neighbor_id", k)
    }
  }

  /** cosine(q, c + r̂) for residual-encoded lists:
    * (q·c + q·r̂) / (|q| · √(|c|² + 2 c·r̂ + |r̂|²)). q·c and q·r̂ ride
    * the hoisted per-query tables; the query-independent pieces —
    * `__crT` (c·r̂ per cid/subspace/code), `__rn2` (|r̂|²), `__c2`
    * (|c|²) — ride the one-row broadcast tables frame. */
  private def residualAdcCosine(
      codesCol: Column, cidCol: Column, m: Int): Column = {
    def perSub(table: Column): Column = (0 until m).map { j =>
      element_at(element_at(table, j + 1),
        element_at(codesCol, j + 1) + lit(1))
    }.reduce(_ + _)
    val qDotR = perSub(col("__lut"))
    val cDotR = perSub(element_at(col("__crT"), cidCol + lit(1)))
    val rNorm2 = perSub(col("__rn2"))
    val qDotC = element_at(col("__qc"), cidCol + lit(1))
    val denom = col("__qn") *
      sqrt(element_at(col("__c2"), cidCol + lit(1)) +
        lit(2.0) * cDotR + rNorm2)
    // zero-norm query or zero reconstruction: rank strictly below any
    // real cosine instead of an ANSI divide-by-zero
    when(denom === 0.0, lit(-2.0)).otherwise((qDotC + qDotR) / denom)
  }

  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, k: Int,
      bits: Int, dim: Int, seed: Long = 42L,
      probeHamming: Int = 1): DataFrame = {
    require(probeHamming == 0 || probeHamming == 1,
      "only Hamming radius 0 or 1 supported")
    val planes = hyperplanes(bits, dim, seed)
    val c = corpus.select(
      col(id).as("neighbor_id"), col(vec).cast("array<double>").as("__cv"),
      lshBucket(col(vec).cast("array<double>"), planes).as("__bucket"))
    val probed = queries
      .select(col(id).as("query_id"),
        col(vec).cast("array<double>").as("__qv"),
        lshBucket(col(vec).cast("array<double>"), planes).as("__b0"))
      .select(col("query_id"), col("__qv"),
        explode(array_distinct(array(
          col("__b0") +:
            (if (probeHamming == 1)
              (0 until bits).map(j => col("__b0").bitwiseXOR(lit(1L << j)))
            else Seq.empty): _*))).as("__bucket"))
    val q = broadcast(probed)
    val scored = c.join(q, Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    graft.plans.TopKPerGroup.topK(
      scored, Seq("query_id"), "cosine", "neighbor_id", k)
  }

  /** Margin-based bitext/pair mining (Artetxe & Schwenk ACL'19;
    * the CCMatrix/LASER criterion, Schwenk et al. ACL'21): raw
    * cosine over-accepts pairs in dense "hubness" regions, so each
    * candidate (x, y) is scored RELATIVE to both sides' neighborhoods
    * — ratio margin = cos(x,y) / ((avgK(x→tgt) + avgK(y→src)) / 2) —
    * and each src mines its best-margin tgt. The standard way to
    * mine aligned pairs (translations, near-caption images, QA
    * pairs) between two embedding corpora.
    *
    * Float parity: cosines snap to the integer MICRO grid
    * (`round(cos·1e6)` BIGINT — the int8 face's device), the k-NN
    * sums are exact BIGINT, and the margin is ONE IEEE division
    * `2k·c6 / (sumk_x + sumk_y)` on identical operands (9-grid), so
    * margins AND the per-src argmax replay exactly. Non-positive
    * denominators (pathological all-negative neighborhoods) drop
    * before ranking in both engines.
    *
    * Shape: two [[bruteForceTopK]] passes — forward from the src
    * sample (queries broadcast, corpus scanned once), backward ONLY
    * for the ≤ k·|src| candidate tgt ids (semi-join, then queries
    * broadcast over the src corpus). At corpus scale swap each pass's
    * corpus side for an IVF probe ([[ivfQuery]]) exactly like the
    * retrieval faces. Output: (src_id, tgt_id, c6, margin), one row
    * per src with at least one valid candidate.
    */
  def marginMine(
      src: DataFrame, tgt: DataFrame,
      id: String, vec: String, k: Int): DataFrame = {
    val fwd =
      bruteForceTopK(corpus = tgt, queries = src, id, vec, k)
        .select(col("query_id").as("src_id"),
          col("neighbor_id").as("tgt_id"),
          round(col("cosine") * lit(1e6), 0).cast("long").as("c6"))
        .localCheckpoint()
    val sx = fwd.groupBy(col("src_id")).agg(sum(col("c6")).as("__sx"))
    val ys = fwd.select(col("tgt_id")).distinct()
    val bwd = bruteForceTopK(
      corpus = src,
      queries = tgt.join(ys, tgt(id) === ys("tgt_id"), "left_semi"),
      id, vec, k)
    val sy = bwd
      .select(col("query_id").as("tgt_id"),
        round(col("cosine") * lit(1e6), 0).cast("long").as("__bc6"))
      .groupBy(col("tgt_id")).agg(sum(col("__bc6")).as("__sy"))
    val scored = fwd
      .join(sx, Seq("src_id"))
      .join(sy, Seq("tgt_id"))
      .filter(col("__sx") + col("__sy") > 0)
      .select(col("src_id"), col("tgt_id"), col("c6"),
        round((lit(2L * k) * col("c6")).cast("double") /
          (col("__sx") + col("__sy")).cast("double"), 9).as("margin"))
    graft.plans.TopKPerGroup.topK(
        scored, Seq("src_id"), "margin", "tgt_id", 1)
      .select(col("src_id"), col("tgt_id"), col("c6"), col("margin"))
  }

  // ---- literal-tower references (IvfAssignSpec): the IVF assignment
  //      expressions as plain literal towers, to compare the codegen'd
  //      reference-object path against
  private[graft] def probeAssignExpr(
      corpus: DataFrame, id: String, vec: String,
      cs: Array[(Int, Array[Double])]): DataFrame =
    corpus.select(col(id).as("neighbor_id"),
        col(vec).cast("array<double>").as("__cv"))
      .withColumn("__cid",
        rankedCentroids(col("__cv"), cs).getItem(0).getField("cid"))
  private[graft] def probeRankedExprArray(
      queries: DataFrame, id: String, vec: String,
      cs: Array[(Int, Array[Double])]): DataFrame =
    queries.select(col(id),
      transform(rankedCentroids(col(vec).cast("array<double>"), cs),
        s => s.getField("cid")).as("order_lit"))
}
