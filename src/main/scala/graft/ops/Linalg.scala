package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact-integer linear algebra over embedding columns: the scaled
  * covariance (Gram) matrix in ONE corpus pass, a deterministic
  * driver-side power iteration on it, and the map-side principal-axis
  * projection. Together: PCA for 100 TB of embeddings where the only
  * corpus-sized work is two scans (moments, projection) and the only
  * driver state is dimension²-sized (64×64 — codebook-class, like the
  * IVF centroids).
  *
  * Everything is integer-exact, engine-portable arithmetic:
  * components snap to the 1e-9 grid (`round(v·1e9)` — the q_outliers
  * integer-cents device), moments aggregate in decimal(38,0), and the
  * covariance uses the SAME cancellation-free rearrangement as the
  * outlier gate:
  *
  *   M_ij = n·Σ(x_i·x_j) − S_i·S_j      (n²·covariance, units 1e-18)
  *
  * — no mean subtraction per row, no float sums, so M is bit-identical
  * across engines and partitionings, and the power iteration on M is
  * a deterministic fixed point BOTH the JVM (BigInt) and the DuckDB
  * oracle (HUGEINT CTE chain) replay exactly: per round
  *
  *   w = M·v;  v' = sign(w)·((|w|·10⁶) div max|w|)
  *
  * with div truncating on non-negatives (sign-split so floor-vs-trunc
  * divergence on negatives can never bite). Power iteration converges
  * to the dominant eigenvector of M — which equals the covariance's
  * principal axis, since M is n²·cov and eigenvectors ignore scale.
  * A fixed iteration count (no tolerance test) keeps the unrolled
  * oracle finite; the sign ambiguity of eigenvectors is canonicalized
  * by making the first nonzero component positive.
  */
object Linalg {

  /** 1e-9-grid micro-unit snap of component i (1-based). */
  private def microAt(vec: String, i: org.apache.spark.sql.Column) =
    round(element_at(col(vec), i.cast("int")).cast("double") *
      lit(1000000000L)).cast("long")

  /** One partition's exact moment partials, stringly-typed so BigInt
    * survives the encoder: j ≥ 0 → Sxx cell, j = -1 → S_i margin,
    * (i,j) = (-1,-1) → the row count. */
  final case class MomentCell(i: Int, j: Int, p: String)

  /** The exact scaled-covariance matrix M_ij = n·Sxx_ij − S_i·S_j as
    * (i, j, m) with m a decimal(38,0) rendered as STRING (HUGEINT on
    * the oracle side; strings compare exactly, python Decimal vs int
    * would not).
    *
    * One corpus pass through a typed kernel: each partition folds its
    * rows into a dim×dim BigInt accumulator (a per-row relational
    * outer product would push n·dim² rows through explode + decimal
    * hash-agg — measured 5× slower at bench scale and the exact shape
    * the project's codegen notes flag), then emits dim²+dim+1 partial
    * cells; the only shuffle is partitions·dim² tiny rows into the
    * final decimal sums. The micro-unit snap uses HALF_UP via
    * BigDecimal — `math.round` floors exact .5 for negatives and
    * would diverge from both engines' round().
    */
  def gramMatrix(df: DataFrame, vec: String, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be positive: $dim")
    import df.sparkSession.implicits._
    val cells =
      df.select(col(vec).cast("array<double>").as("v")).as[Array[Double]]
        .mapPartitions { it =>
          val acc = Array.fill(dim, dim)(BigInt(0))
          val s = Array.fill(dim)(BigInt(0))
          var n = 0L
          val lv = new Array[Long](dim)
          it.foreach { v =>
            require(v.length == dim, s"vector length ${v.length} != $dim")
            var k = 0
            while (k < dim) {
              // valueOf (shortest-decimal) + HALF_UP mirrors Catalyst's
              // round(double) exactly; new BigDecimal(double) (exact
              // binary) can land on the other side of a .5 boundary
              lv(k) = java.math.BigDecimal.valueOf(v(k) * 1e9)
                .setScale(0, java.math.RoundingMode.HALF_UP)
                .longValueExact()
              k += 1
            }
            var i = 0
            while (i < dim) {
              val ai = BigInt(lv(i))
              val row = acc(i)
              var j = 0
              while (j < dim) { row(j) += ai * lv(j); j += 1 }
              s(i) += lv(i)
              i += 1
            }
            n += 1
          }
          val sxx = for { i <- 0 until dim; j <- 0 until dim }
            yield MomentCell(i, j, acc(i)(j).toString)
          val margins = (0 until dim).map(i => MomentCell(i, -1, s(i).toString))
          (sxx ++ margins :+ MomentCell(-1, -1, n.toString)).iterator
        }.toDF().localCheckpoint()
    val dec = col("p").cast("decimal(38,0)")
    val sxx = cells.filter(col("j") >= 0)
      .groupBy(col("i"), col("j")).agg(sum(dec).as("sxx"))
    val s = cells.filter(col("j") === -1 && col("i") >= 0)
      .groupBy(col("i")).agg(sum(dec).as("s"))
    val n = cells.filter(col("i") === -1)
      .agg(sum(dec).as("n")) // ONE row — broadcast carrier
    sxx
      .join(broadcast(s.select(col("i"), col("s").as("si"))), Seq("i"))
      .join(broadcast(s.select(col("i").as("j"), col("s").as("sj"))),
        Seq("j"))
      .crossJoin(broadcast(n))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        (col("n") * col("sxx") - col("si") * col("sj"))
          .cast("decimal(38,0)").cast("string").as("m"))
  }

  /** Dominant eigenvector of the collected matrix by `iters` rounds of
    * exact BigInt power iteration. The collect is dim²-sized —
    * codebook-class driver state, never row data. Returns the axis as
    * integer components on the 1e-6 grid (|a_i| ≤ 10⁶), first nonzero
    * component positive.
    */
  def principalAxis(gram: DataFrame, dim: Int, iters: Int = 20): Seq[Long] = {
    require(iters >= 1 && iters <= 100, s"iters out of range: $iters")
    val m = Array.ofDim[BigInt](dim, dim)
    gram.select(col("i"), col("j"), col("m")).collect().foreach { r =>
      m(r.getLong(0).toInt)(r.getLong(1).toInt) = BigInt(r.getString(2))
    }
    require(m.flatten.forall(_ != null), "gram matrix has missing cells")
    var v = Array.fill[BigInt](dim)(BigInt(1000000))
    (1 to iters).foreach { _ =>
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => m(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max
      require(mx != 0, "power iteration hit the zero vector (rank-0 M)")
      v = w.map(x => x.sign * ((x.abs * 1000000) / mx))
    }
    val flip = v.find(_ != 0).map(_.sign.toInt).getOrElse(1)
    v.map(x => (x * flip).toLong).toSeq
  }

  /** Map-side projection of every row onto `axis` (1e-6-grid ints):
    * score_u = Σ_i round(v_i·1e9)·a_i — an exact long (|v|≲2, dim 64:
    * ≤ 64·2e9·1e6 ≈ 1.3e17 < 2^63), in 1e-15 micro-units. */
  def pcaProject(
      df: DataFrame, id: String, vec: String,
      axis: Seq[Long]): DataFrame = {
    val a = typedlit(axis)
    df.select(col(id),
      aggregate(sequence(lit(0), lit(axis.size - 1)), lit(0L),
        (acc, i) => acc + microAt(vec, i + 1) *
          element_at(a, (i + 1).cast("int"))).as("score_u"))
  }

  /** The composed face: gram → axis → projection for `df`. */
  def pca(df: DataFrame, id: String, vec: String, dim: Int,
      iters: Int = 20): DataFrame =
    pcaProject(df, id, vec,
      principalAxis(gramMatrix(df, vec, dim), dim, iters))
}
