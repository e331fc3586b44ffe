package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift measurement between two dataset slices — the
  * Population Stability Index over a shared bin key.
  *
  * Not in the reference's inventory (its pipelines transform a fixed
  * snapshot — SURVEY.md §2); a continuously-ingesting training-data
  * pipeline needs drift gates: a new crawl batch whose length /
  * quality-score / language distribution shifts against the corpus
  * reference is the standard trigger for re-sampling or quarantine,
  * and PSI is the conventional score for it (Σ (p−q)·ln(p/q); < 0.1
  * stable, 0.1–0.25 moderate, > 0.25 drifted).
  *
  * Scale shape: ONE map-side-combined count shuffle per side (each
  * keyed by the bin — cardinality is bins, not rows), one full-outer
  * join of the two dimension-sized count frames, and the scalar
  * totals (n_ref, n_cur, B) fold from the joined bin frame itself as
  * a ONE-row broadcast carrier — the pattern q_pmi / q_perplexity
  * established. Nothing downstream of the two count aggregates ever
  * touches a fact row again, so the op costs two fact scans at 100 TB
  * and the reference side's counts can be persisted and reused across
  * batches.
  *
  * Cross-engine exactness: proportions use Laplace smoothing
  * p = (c+1)/(n+B) — counts are exact integers < 2^53, the double
  * division is a single correctly-rounded IEEE op, so both engines
  * compute bit-identical p, q. The only libm term, ln(p/q), lands on
  * the project's 9-decimal grid (PMI convention); per-bin terms are
  * then EXACT DECIMAL(38,9) values whose sum is associative — the
  * total PSI cannot depend on partitioning or summation order.
  */
object Drift {

  /** Fixed-width integer binning with floor semantics, negative-safe
    * and engine-portable: `(v - pmod(v, w)) div w` (the same form
    * [[Density.dbscan]] uses for eps-cells; DuckDB's `%` on
    * non-negative pmod output agrees bit-for-bit).
    */
  def binOf(v: Column, width: Long): Column = {
    require(width > 0, s"bin width must be positive: $width")
    ((v - pmod(v, lit(width))) / lit(width)).cast("long")
  }

  /** Global equi-depth (quantile) discretization: every row gets a bin
    * in [0, k) with bin sizes equal to within one row — feature
    * bucketing for model inputs and the natural bin source for
    * [[psiBinned]] when a fixed width fits the data badly (heavy
    * tails). bin = ((rank − 1) · k) div n over the EXACT global rank
    * in `sortCols`' total order.
    *
    * Scale shape: the rank comes from [[Layout.globalRowNumber]] (one
    * range exchange + in-partition sort, never the single-partition
    * window funnel); n folds from an unshuffled scan into a one-row
    * broadcast carrier; the bin arithmetic is map-side truncating
    * BIGINT, bit-portable.
    *
    * @param sortCols a TOTAL order (append a unique tiebreak) — the
    *                 same contract as the SQL row_number window
    */
  def equiDepthBins(
      df: DataFrame,
      sortCols: Seq[Column],
      k: Int,
      numPartitions: Int,
      as: String = "bin"): DataFrame = {
    require(k >= 1, s"bin count must be positive: $k")
    val ranked = Layout.globalRowNumber(df, sortCols, numPartitions, "__rn")
    val n = df.groupBy().agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .select(df.columns.map(col) :+
        expr(s"((__rn - 1) * $k) div __n").as(as): _*)
  }

  /** k-quantile cutpoints of a REFERENCE frame, as one row holding the
    * ascending (k−1) bin lower bounds — the train-side artifact that
    * [[applyCutpoints]] stamps onto serving/current data so both sides
    * share one bin definition (the feature-store pattern; feeding those
    * bins to [[psiBinned]] is the production drift gate).
    *
    * Determinism: bins come from [[equiDepthBins]] over the value's
    * sort order. Ranks within duplicate values are arbitrary, but the
    * value sequence per rank position is not, so min-value-per-bin —
    * the cutpoint — is deterministic regardless of partitioning.
    *
    * Scale shape: one range-exchange sort of the reference + a k-row
    * aggregate; the output is a one-row, (k−1)-element frame — plan a
    * `broadcast` at the consumer.
    */
  def refCutpoints(
      ref: DataFrame, value: Column, k: Int, numPartitions: Int): DataFrame =
    equiDepthBins(ref.select(value.as("__v")), Seq(col("__v").asc),
        k, numPartitions)
      .groupBy(col("bin")).agg(min(col("__v")).as("__cut"))
      .filter(col("bin") >= 1)
      .groupBy()
      .agg(sort_array(collect_list(col("__cut"))).as("cuts"))

  /** Stamp reference cutpoints onto a frame: bin = #cuts ≤ value, a
    * map-side HOF against the broadcast one-row cuts frame — rows
    * below the first cut get bin 0, above the last get k−1. A NULL
    * value yields a NULL bin (the array filter would silently drop
    * the null comparison and merge nulls into bin 0 — a skew source
    * for psiBinned consumers; propagate instead so the caller decides
    * whether nulls are their own drift bucket or excluded). */
  def applyCutpoints(
      df: DataFrame, value: Column, cuts: DataFrame,
      as: String = "bin"): DataFrame =
    df.crossJoin(broadcast(cuts))
      .withColumn(as,
        when(value.isNull, lit(null).cast("long"))
          .otherwise(size(filter(col("cuts"), c => c <= value)).cast("long")))
      .drop("cuts")

  /** Embedding-space drift — per-dimension centroid shift between a
    * reference and a current vector slice, in EXACT integer
    * arithmetic: the ML-monitoring gate for "the new batch's
    * embedding distribution moved" (encoder drift, topic shift,
    * pipeline regressions that perturb vectors).
    *
    * Components snap to 1e-9-grid micro-units (the
    * [[Projection.randomProject]] device); per-dimension sums and
    * counts are exact BIGINTs, and the mean gap cross-multiplies
    * away its divisions (the [[ksBinned]] trick):
    *
    *   d(j) = |s_ref(j)·n_cur − s_cur(j)·n_ref|   (DECIMAL(38,0))
    *
    * mean gap = d / (n_ref·n_cur·10⁹) at the caller's edge. No libm,
    * no rounding grid — engine-portable bit-for-bit.
    *
    * Scale shape: one posexplode + map-side-combined sum per side
    * (the shuffle carries dim·partitions partial rows, not
    * dim·vectors), one dim-sized equi-join.
    *
    * @return (j, s_ref, n_ref, s_cur, n_cur, d_u) — one row per
    *         dimension
    */
  def embeddingShift(
      ref: DataFrame, cur: DataFrame, vec: String): DataFrame = {
    def dimSums(df: DataFrame, s: String, n: String) = df
      .select(posexplode(transform(col(vec),
        x => round(x.cast("double") * lit(1000000000L)).cast("long"))))
      .groupBy(col("pos").cast("long").as("j"))
      .agg(sum(col("col")).as(s), count(lit(1)).as(n))
    dimSums(ref, "s_ref", "n_ref")
      .join(dimSums(cur, "s_cur", "n_cur"), Seq("j"))
      .select(col("j"), col("s_ref"), col("n_ref"),
        col("s_cur"), col("n_cur"),
        abs(col("s_ref").cast("decimal(38,0)") * col("n_cur")
          - col("s_cur").cast("decimal(38,0)") * col("n_ref"))
          .cast("decimal(38,0)").as("d_u"))
  }

  /** Per-GROUP PSI terms — [[psiBinned]] fanned out over a slice key
    * (source domain, event type, shard): the production monitoring
    * shape, where one pass scores every domain's drift instead of one
    * job per domain.
    *
    * Same smoothing and 9-grid/decimal conventions as [[psiBinned]];
    * the difference is scale plumbing: totals are PER GROUP, so
    * instead of a one-row broadcast carrier they aggregate from the
    * (group, bin) frame (dim-sized) and equi-join back on the group —
    * group count never bounds parallelism, and a hot group is a
    * bigger shuffle bucket, never a bigger task.
    *
    * @return (group, bin, c_ref, c_cur, psi_term) — Σ psi_term per
    *         group (as DECIMAL(38,9)) is that group's PSI
    */
  def psiBinnedBy(
      ref: DataFrame, cur: DataFrame, group: String, bin: String): DataFrame = {
    val rc = ref.groupBy(col(group), col(bin)).agg(count(lit(1)).as("c_ref"))
    val cc = cur.groupBy(col(group), col(bin)).agg(count(lit(1)).as("c_cur"))
    val bins = rc.join(cc, Seq(group, bin), "full_outer")
      .select(col(group), col(bin),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val totals = bins.groupBy(col(group)).agg(
      sum(col("c_ref")).as("n_ref"),
      sum(col("c_cur")).as("n_cur"),
      count(lit(1)).as("b"))
    bins.join(totals, Seq(group))
      .select(col(group), col(bin), col("c_ref"), col("c_cur"),
        round(
          (((col("c_cur") + 1).cast("double") / (col("n_cur") + col("b")))
            - ((col("c_ref") + 1).cast("double") / (col("n_ref") + col("b"))))
            * log(
              ((col("c_cur") + 1).cast("double") / (col("n_cur") + col("b")))
                / ((col("c_ref") + 1).cast("double") / (col("n_ref") + col("b")))),
          9).as("psi_term"))
  }

  /** Per-bin Kolmogorov–Smirnov numerators between a reference slice
    * and a current slice over an ORDERED (numeric) bin key — the
    * drift metric for when PSI's log-ratio weighting is the wrong
    * shape (KS is max CDF gap: sensitive to location shifts,
    * indifferent to how the mass moved).
    *
    * Exactness: the classical D = max |F_ref(x) − F_cur(x)| needs two
    * divisions; cross-multiplying removes them —
    *
    *   d(bin) = |cumref(bin)·n_cur − cumcur(bin)·n_ref|
    *
    * over DECIMAL(38,0) (counts can be 10¹²-scale at 100 TB, so the
    * product overflows BIGINT by design, never decimal38). D =
    * max d / (n_ref·n_cur) — the caller divides at the edge if a
    * float is wanted; max/compare on the exact numerators is
    * engine-portable with NO libm and NO rounding grid at all.
    *
    * Scale shape: identical to [[psiBinned]] up to the bin frame (two
    * map-side-combined count shuffles, one dim-sized outer join);
    * the cumulative sums run in ONE unpartitioned window over the
    * BIN frame — dimension-sized by construction (it has one row per
    * bin, not per fact row), so the single-partition window is a
    * deliberate non-issue, same as every other dim-sized carrier
    * here.
    *
    * @return (bin, c_ref, c_cur, d_u DECIMAL(38,0)) — one row per bin
    */
  def ksBinned(ref: DataFrame, cur: DataFrame, bin: String): DataFrame = {
    val rc = ref.groupBy(col(bin)).agg(count(lit(1)).as("c_ref"))
    val cc = cur.groupBy(col(bin)).agg(count(lit(1)).as("c_cur"))
    val bins = rc.join(cc, Seq(bin), "full_outer")
      .select(col(bin),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(bin))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cums = bins.select(col(bin), col("c_ref"), col("c_cur"),
      sum(col("c_ref")).over(w).as("cumref"),
      sum(col("c_cur")).over(w).as("cumcur"))
    val totals = bins.agg(
      sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"))
    cums.crossJoin(broadcast(totals))
      .select(col(bin), col("c_ref"), col("c_cur"),
        abs(col("cumref").cast("decimal(38,0)") * col("n_cur")
          - col("cumcur").cast("decimal(38,0)") * col("n_ref"))
          .cast("decimal(38,0)").as("d_u"))
  }

  /** Per-bin PSI terms between a reference slice and a current slice.
    *
    * Input frames each expose the bin key under `bin` (any integral /
    * string column — numeric binning is an upstream `select` via
    * [[binOf]]). Output: one row per bin in ref ∪ cur —
    * (bin, c_ref, c_cur, psi_term) with
    *
    *   q = (c_ref + 1) / (n_ref + B),   p = (c_cur + 1) / (n_cur + B)
    *   psi_term = round((p − q) · ln(p / q), 9)
    *
    * B = |ref bins ∪ cur bins|. Laplace smoothing keeps empty bins
    * finite (a bin present in only one slice contributes its honest
    * penalty instead of ±∞) and makes every term well-defined without
    * an epsilon knob. Σ psi_term (exact, as DECIMAL(38,9)) is the PSI.
    */
  def psiBinned(ref: DataFrame, cur: DataFrame, bin: String): DataFrame = {
    val rc = ref.groupBy(col(bin)).agg(count(lit(1)).as("c_ref"))
    val cc = cur.groupBy(col(bin)).agg(count(lit(1)).as("c_cur"))
    val bins = rc.join(cc, Seq(bin), "full_outer")
      .select(col(bin),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    // scalar totals fold from the dim-sized bin frame — one tiny agg,
    // carried back in as a one-row broadcast (never a driver action)
    val totals = bins.agg(
      sum(col("c_ref")).as("n_ref"),
      sum(col("c_cur")).as("n_cur"),
      count(lit(1)).as("b"))
    bins.crossJoin(broadcast(totals))
      .select(col(bin), col("c_ref"), col("c_cur"),
        round(
          (((col("c_cur") + 1).cast("double") / (col("n_cur") + col("b")))
            - ((col("c_ref") + 1).cast("double") / (col("n_ref") + col("b"))))
            * log(
              ((col("c_cur") + 1).cast("double") / (col("n_cur") + col("b")))
                / ((col("c_ref") + 1).cast("double") / (col("n_ref") + col("b")))),
          9).as("psi_term"))
  }

  /** Pearson chi-square test of independence between a categorical
    * column and a slice label — the SIGNIFICANCE companion to the
    * PSI magnitude gates: PSI says how far two slices drifted, χ²
    * says whether the dependence is larger than sampling noise for
    * THIS sample size (Pearson 1900; the standard pre-test before
    * acting on a small categorical shift). Returns one row
    * (n, df, chi2); compare chi2 against the χ²_{df} critical value
    * upstream (no libm CDF lives in the engine by design).
    *
    * Float parity (the PSI-total device): each cell term
    * (o·N − r·c)² / (r·c·N) is ONE IEEE division of exact
    * DECIMAL(38,0) cross-products rounded on the 9-grid, and the
    * statistic sums those grid points as DECIMAL(38,9) —
    * associative, so no engine's partitioning can move it. NULL
    * category or slice rows drop (both engines). Zero cells of the
    * completed margin grid contribute their full e = r·c/N term.
    *
    * Scale shape: one count shuffle to |cats|·|slices| cells, then
    * everything is margin-sized (the grid completion is a
    * margins × margins cross of two label-sized frames).
    */
  def chi2Test(
      df: DataFrame, category: org.apache.spark.sql.Column,
      slice: org.apache.spark.sql.Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df
      .select(category.cast("string").as("__cat"),
        slice.cast("string").as("__sl"))
      .filter(col("__cat").isNotNull && col("__sl").isNotNull)
      .groupBy(col("__cat"), col("__sl")).agg(count(lit(1)).as("__o"))
      .localCheckpoint()
    val rows = cells.groupBy(col("__cat")).agg(sum(col("__o")).as("__r"))
    val colsM = cells.groupBy(col("__sl")).agg(sum(col("__o")).as("__c"))
    val tot = cells.agg(coalesce(sum(col("__o")), lit(0L)).as("__n"),
      countDistinct(col("__cat")).as("__nr"),
      countDistinct(col("__sl")).as("__nc"))
    val terms = rows.crossJoin(colsM)
      .join(cells, Seq("__cat", "__sl"), "left")
      .crossJoin(broadcast(tot))
      .select(
        round(
          ((coalesce(col("__o"), lit(0L)).cast(dec) * col("__n")
            - col("__r").cast(dec) * col("__c"))
            * (coalesce(col("__o"), lit(0L)).cast(dec) * col("__n")
              - col("__r").cast(dec) * col("__c"))).cast("double")
            / (col("__r").cast(dec) * col("__c") * col("__n"))
              .cast("double"),
          9).as("__t9"),
        col("__n"), col("__nr"), col("__nc"))
    terms
      .groupBy(col("__n"), col("__nr"), col("__nc"))
      .agg(sum(col("__t9").cast("decimal(38,9)")).cast("double")
        .as("chi2"))
      .select(col("__n").as("n"),
        ((col("__nr") - 1) * (col("__nc") - 1)).as("df"), col("chi2"))
  }
}
