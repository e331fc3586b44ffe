package graft.ops

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** Dataset profiling — the ANALYZE-style one-pass column summary every
  * ingest step wants before trusting a new drop of data (no reference
  * counterpart; SURVEY.md §8 extension surface).
  *
  * Output is long-format: one row per profiled column with row count,
  * null count, distinct count, and min/max rendered as strings so the
  * schema is uniform across column types.
  *
  * Scale shape: ONE aggregation pass. With exact distinct counts over
  * k columns Spark plans one Expand (k× row multiplication before the
  * map-side partial agg) — the standard exact cost; set `approx` at
  * 100 TB for HLL sketches (per-column error ~2%, no Expand), which is
  * what ANALYZE itself does.
  */
object Profile {

  def profile(
      df: DataFrame, cols: Seq[String],
      approx: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        (if (approx) approx_count_distinct(col(c)) else countDistinct(col(c)))
          .as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val row = df.agg(count(lit(1)).as("__total"), aggs: _*)
    val structs = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__total").as("n_rows"),
        (col("__total") - col(s"__cnt_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))
    }
    row.select(inline(array(structs: _*)))
  }

  /** Mergeable distinct-count sketches for INCREMENTAL profiling: each
    * batch/day/partition aggregates once into a binary HLL sketch per
    * (group, column); later, sketches union in a tiny aggregation over
    * the stored sketch rows — re-profiling a 100 TB corpus after each
    * daily drop costs O(day), never O(corpus) (the sketch-state sibling
    * of [[graft.ops.Dedup]]'s incremental LSH ingest). Long format:
    * (group..., col_name, sketch). */
  def distinctSketches(
      df: DataFrame, groupCols: Seq[String],
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to sketch")
    val aggs = cols.map(c => hll_sketch_agg(col(c)).as(s"__sk_$c"))
    val row = df.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.drop(1): _*)
    val structs = cols.map(c =>
      struct(lit(c).as("col_name"), col(s"__sk_$c").as("sketch")))
    row.select(groupCols.map(col) :+
      inline(array(structs: _*)).as(Seq("col_name", "sketch")): _*)
  }

  /** Union stored sketch rows (across days / partitions / tables) into
    * per-(group, column) distinct estimates. Input shape is
    * [[distinctSketches]] output, possibly concatenated over many
    * batch runs. */
  def mergeDistinctSketches(
      sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches
      .groupBy((groupCols :+ "col_name").map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("n_distinct_est"))

  // ---- count-min frequency sketches (the frequency sibling of the
  //      HLL distinct sketches above) ----

  /** One-pass count-min sketch of a key column, as the serialized
    * binary (Spark's `CountMinSketch` wire format). The sketch is
    * KB-sized regardless of corpus size, mergeable, and NEVER
    * undercounts — its estimate is exact + nonnegative collision
    * noise bounded by eps·N with the configured confidence.
    * Deterministic for a fixed seed.
    *
    * The key is cast to STRING before sketching: the SQL aggregate
    * hashes a string's UTF-8 bytes, which is the same hash path
    * `CountMinSketch.estimateCount(String)` uses in [[estimateHot]] —
    * sketching a raw long while estimating its string rendering would
    * hash differently and silently estimate ~0 for every key. */
  def cmsOf(
      df: DataFrame, key: String,
      eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42): Array[Byte] =
    df.agg(count_min_sketch(
        col(key).cast("string"), lit(eps), lit(confidence), lit(seed)))
      .collect()(0).getAs[Array[Byte]](0)

  /** Merge two serialized sketches built with the same
    * (eps, confidence, seed) — the incremental-profiling step: sketch
    * each day's drop in O(day), fold into the running corpus sketch
    * driver-side in microseconds. */
  def cmsMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.CountMinSketch
    val sa = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(a))
    val sb = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b))
    sa.mergeInPlace(sb)
    val out = new java.io.ByteArrayOutputStream()
    sa.writeTo(out)
    out.toByteArray
  }

  /** Historically-heavy keys of a batch: estimate every distinct batch
    * key against a corpus sketch and keep those at or above
    * `minCount`. The guarantee direction is the useful one for
    * curation gates: CMS never undercounts, so no true heavy hitter
    * is ever missed — false positives are bounded by eps·N.
    *
    * Scale shape: the batch's distinct keys are one map-side-partial
    * aggregation; the KB-sized sketch ships as a task binding and is
    * deserialized once per partition; estimation is a per-row lookup.
    * No shuffle touches the (unbounded) corpus — that is the point:
    * the corpus participates only through its sketch. */
  def estimateHot(
      batch: DataFrame, key: String,
      sketch: Array[Byte], minCount: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.util.sketch.CountMinSketch
    val keys = batch.select(col(key).cast("string").as("key"))
      .filter(col("key").isNotNull).distinct()
    val outSchema = StructType(
      keys.schema.fields :+ StructField("est_count", LongType,
        nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    keys.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val cms = CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(sketch))
        rows.flatMap { r =>
          val est = cms.estimateCount(r.getString(0))
          if (est >= minCount) Some(Row(r.getString(0), est)) else None
        }
      }
    }(enc)
  }

  /** Cumulative Poisson(1) CDF thresholds on the 2^32 draw grid for
    * weights 0..6 (weight 7 takes the ~8e-5 tail) — computed once
    * JVM-side and injected as integer literals into BOTH the Spark
    * plan and any oracle SQL, so no engine evaluates exp/factorial. */
  val PoissonCdfU: Seq[Long] = {
    val invE = math.exp(-1.0)
    val pmf = Iterator.iterate((invE, 1)) { case (p, k) =>
      (p / k, k + 1) }.map(_._1).take(7).toSeq
    pmf.scanLeft(0.0)(_ + _).tail
      .map(c => math.floor(c * 4294967296.0).toLong)
  }

  /** Deterministic Poisson bootstrap over an integral metric: `b`
    * resamples of `df`, each row entering resample i with weight
    * ~Poisson(1) drawn from the md5 convention (so membership — hence
    * every resampled statistic — is reproducible across engines, runs,
    * and layouts; the standard streaming bootstrap, e.g. Chamandy et
    * al., "Estimating uncertainty for massive data streams", 2012).
    * Returns per-resample (b, n_eff, sum_val, mean_val): exact BIGINT
    * sums plus the one double division on identical operands. Feed the
    * B means to a quantile for the confidence interval — that's the
    * error bar on any corpus-level metric (mean quality, mean length)
    * without a second pass over the data.
    *
    * Scale shape: the ×B fan-out is a map-side `explode(sequence)`
    * immediately consumed by a partial aggregate — the shuffle carries
    * B rows per PARTITION (map-side combine), not B per row; output is
    * B rows. `value` must be integral (snap to a cents/micro grid
    * first) so sums stay exact.
    */
  def poissonBootstrap(
      df: DataFrame, key: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, b: Int,
      salt: String = "bs"): DataFrame = {
    require(b >= 1, s"resample count must be >= 1, got $b")
    val rows = df.select(
      explode(sequence(lit(0), lit(b - 1))).as("b"),
      key.cast("string").as("__k"), value.cast("long").as("__v"))
    val draw = conv(Sampling.unitDraw(
      concat(col("b").cast("string"), lit("#"), col("__k")), salt),
      16, 10).cast("long")
    val w = PoissonCdfU.zipWithIndex.reverse.foldLeft(
        lit(PoissonCdfU.length): org.apache.spark.sql.Column) {
      case (acc, (t, k)) => when(draw < t, lit(k)).otherwise(acc)
    }.cast("long")
    rows.groupBy("b")
      .agg(sum(w).as("n_eff"), sum(w * col("__v")).as("sum_val"))
      .withColumn("mean_val",
        round(col("sum_val").cast("double") / col("n_eff"), 6))
  }

  /** Deterministic paired sign-flip permutation test — "is metric A
    * really better than metric B on this corpus, or is the mean
    * difference noise?" The eval-pipeline companion to
    * [[poissonBootstrap]]'s error bars: under H₀ (no difference) each
    * per-item difference dᵢ = aᵢ − bᵢ is symmetric around 0, so its
    * sign is exchangeable; the test compares the observed Σdᵢ against
    * `resamples` sign-flipped sums whose flips come from the md5 draw
    * convention — fully reproducible across engines, runs, and
    * layouts. p = (#{|Σ±dᵢ| ≥ |Σdᵢ|} + 1) / (resamples + 1) (the
    * add-one keeps p valid, Phipson & Smyth 2010), emitted as the
    * exact integers p_num/p_den plus one rounded division.
    *
    * Scale shape: identical to the bootstrap — the ×B fan-out is a
    * map-side explode consumed by a partial aggregate (shuffle
    * carries B rows per partition); the observed sum rides a ONE-row
    * broadcast carrier into the exceedance count. Metrics must be
    * integral (snap to a grid first) so every sum is exact.
    */
  def signFlipTest(
      df: DataFrame, key: org.apache.spark.sql.Column,
      a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      resamples: Int = 200, salt: String = "pt"): DataFrame = {
    require(resamples >= 1, s"resamples must be >= 1, got $resamples")
    val rows = df.select(key.cast("string").as("__k"),
      (a.cast("long") - b.cast("long")).as("__d"))
    val obs = rows.agg(count(lit(1)).as("n"),
      coalesce(sum(col("__d")), lit(0L)).as("obs_diff"))
    val flips = rows.select(
      explode(sequence(lit(0), lit(resamples - 1))).as("b"),
      col("__k"), col("__d"))
    val draw = conv(Sampling.unitDraw(
      concat(col("b").cast("string"), lit("#"), col("__k")), salt),
      16, 10).cast("long")
    val sgn = when(draw % 2 === 0, lit(1L)).otherwise(lit(-1L))
    flips.groupBy("b")
      .agg(sum(sgn * col("__d")).as("__s"))
      .crossJoin(broadcast(obs))
      .groupBy(col("n"), col("obs_diff"))
      .agg(sum(when(abs(col("__s")) >= abs(col("obs_diff")), 1L)
        .otherwise(0L)).as("b_exceed"))
      .select(col("n"), col("obs_diff"), col("b_exceed"),
        (col("b_exceed") + 1L).as("p_num"),
        lit(resamples + 1L).as("p_den"),
        round((col("b_exceed") + 1L).cast("double") /
          lit((resamples + 1).toDouble), 6).as("p_value"))
  }

  /** Cohen's kappa (Cohen 1960) — chance-corrected inter-annotator
    * agreement on paired categorical labels, the standard label-QUALITY
    * gate for human- or model-annotated training data (raw percent
    * agreement overstates quality whenever the label distribution is
    * skewed: two annotators stamping "en" on 95% of a corpus agree 90%+
    * by chance alone).
    *
    *   kappa = (p_o − p_e) / (1 − p_e),  p_o = agree/n,
    *   p_e = Σ_k (n_aₖ/n)·(n_bₖ/n)
    *
    * kept EXACT until the last step: kappa_num = agree·n − Σ n_aₖ·n_bₖ
    * and kappa_den = n² − Σ n_aₖ·n_bₖ are BIGINTs (one shared IEEE
    * division on the 9-grid makes `kappa` bit-portable). The degenerate
    * p_e = 1 case (both annotators constant, same label) reports
    * kappa = 1 by convention instead of 0/0. Rows where either label is
    * null are excluded (an abstention, not a judgment).
    *
    * Scale shape: ONE corpus-scan shuffle keyed by the (a, b) label
    * pair — map-side partials collapse the scan to the label²-sized
    * contingency cells, and every margin/total below is arithmetic on
    * that tiny frame (the q_cluster_eval contingency device). The two
    * one-row totals meet on a broadcast carrier.
    */
  def cohenKappa(
      df: DataFrame, a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): DataFrame = {
    // null exclusion happens on the label²-sized CELL frame, never on
    // the corpus scan — and the cell frame is checkpointed BEFORE the
    // filter, because Catalyst pushes a null check on grouping
    // attributes back through the aggregate and the project all the
    // way into the parquet scan's data filters, where an arbitrarily
    // expensive label expression (a langId CASE here) is re-evaluated
    // per row WITHOUT the subexpression elimination the projection
    // gets (measured: 5.3 s vs 0.6 s at sf0.1). The checkpoint cuts
    // the lineage so the corpus scan evaluates each label exactly
    // once; it materializes only label² rows.
    val cells = df
        .select(a.cast("string").as("__a"), b.cast("string").as("__b"))
        .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__n"))
        .localCheckpoint()
      .filter(col("__a").isNotNull && col("__b").isNotNull)
    val na = cells.groupBy(col("__a")).agg(sum("__n").as("__na"))
    val nb = cells.groupBy(col("__b")).agg(sum("__n").as("__nb"))
    // labels absent from either margin contribute 0 to p_e: inner join
    val peNum = na.join(nb, col("__a") === col("__b"))
      .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L)).as("pe_num"))
    val tot = cells.agg(
      coalesce(sum("__n"), lit(0L)).as("n"),
      coalesce(sum(when(col("__a") === col("__b"), col("__n"))
        .otherwise(0L)), lit(0L)).as("agree"))
    tot.crossJoin(broadcast(peNum)) // two ONE-row aggregates meet here
      .select(col("n"), col("agree"), col("pe_num"),
        (col("agree") * col("n") - col("pe_num")).as("kappa_num"),
        (col("n") * col("n") - col("pe_num")).as("kappa_den"),
        when(col("n") * col("n") === col("pe_num"), lit(1.0))
          .otherwise(round(
            (col("agree") * col("n") - col("pe_num")).cast("double") /
              (col("n") * col("n") - col("pe_num")).cast("double"), 9))
          .as("kappa"))
  }

  /** Reliability diagram bins for a probabilistic classifier — the
    * calibration audit behind any score-thresholded keep/drop gate
    * (Guo et al. 2017, arXiv:1706.04599: modern classifiers are
    * systematically over-confident; a miscalibrated quality score
    * silently shifts the kept-corpus mix). Scores are assumed in
    * [0, 1] and already on the 9-decimal grid (the engine's
    * model-score contract); equal-width bin = min(⌊score·bins⌋,
    * bins−1) so score = 1.0 lands in the top bin.
    *
    * Per bin, everything stays EXACT AND INTEGER: n and n_pos are
    * BIGINTs, conf_sum is the BIGINT sum of the scores snapped to
    * nano-units (`cast(round(score·1e9) as bigint)` — the 9-grid
    * contract means the snap is lossless), and
    * gap_num = |n_pos·1e9 − conf_sum| is the bin's
    * |accuracy − confidence| scaled by n·1e9 — so ECE = Σ gap_num /
    * (N·1e9) needs only one IEEE division ([[ece]]). No decimal or
    * divided-double column survives to the output: decimal sums of
    * double casts proved ENGINE-fragile (Spark converts double→decimal
    * via the shortest decimal string; DuckDB multiplies in binary —
    * they can disagree by 1e-9 on grid-boundary values), and the
    * divided acc/conf forms are redundant given (n, n_pos, conf_sum).
    * BIGINT headroom: n_pos·1e9 overflows only past 9.2e9 rows per
    * bin — beyond that, pre-aggregate per partition-of-corpus and sum.
    *
    * Scale shape: one corpus scan into ONE count shuffle keyed by the
    * bin (≤ `bins` groups — map-side partials do all the work; a hot
    * bin is a bigger combiner bucket, never a bigger task).
    */
  def calibrationBins(
      df: DataFrame, score: org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    df.select(
        least(floor(score * lit(bins)).cast("int"), lit(bins - 1))
          .as("bin"),
        // nano-unit snap: score·1e9 is within ~1e-7 of an integer on
        // the 9-grid, so round() never faces a tie and both engines
        // land on the same BIGINT
        round(score * lit(1e9), 0).cast("bigint").as("__si"),
        when(label, 1L).otherwise(0L).as("__p"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__p")).as("n_pos"),
        sum(col("__si")).as("conf_sum"))
      .select(col("bin"), col("n"), col("n_pos"), col("conf_sum"),
        abs(col("n_pos") * lit(1000000000L) - col("conf_sum"))
          .as("gap_num"))
  }

  /** Expected calibration error from [[calibrationBins]]:
    * ECE = Σ_b (n_b/N)·|acc_b − conf_b| = (Σ_b gap_num_b) / (N·1e9) —
    * the numerator an exact BIGINT sum over ≤ `bins` rows (gap_num is
    * in nano-units), then ONE IEEE division on the 9-grid. Returns one
    * row (n, ece). */
  def ece(
      df: DataFrame, score: org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column, bins: Int = 10): DataFrame =
    calibrationBins(df, score, label, bins)
      .agg(sum(col("n")).as("n"),
        round(sum(col("gap_num")).cast("double") /
          (sum(col("n")).cast("double") * lit(1e9)), 9).as("ece"))

  /** Tokenizer fertility profile per language — the tokenizer-
    * efficiency audit every multilingual pretraining mix runs
    * (bytes-per-token varies 2-5× across scripts for a fixed
    * tokenizer; a corpus whose non-Latin slices tokenize poorly
    * trains on fewer effective tokens than its byte count suggests).
    * Tokens come from the caller's token expression (pair with
    * [[Text.regexTokens]] for the BPE-ish pre-tokenizer); bytes are
    * UTF-8 octets, chars are codepoints.
    *
    * Everything stays EXACT: per-language BIGINT sums of per-doc
    * token/byte/char counts, then the two ratios are each ONE IEEE
    * division rounded on the 6-grid (NULL for an empty token mass).
    *
    * Scale shape: one corpus scan into one count shuffle keyed by the
    * language (≤ |langs| groups — map-side partials do all the work).
    */
  def tokenFertility(
      df: DataFrame, lang: org.apache.spark.sql.Column,
      tokens: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): DataFrame =
    df.select(lang.as("lang"),
        size(tokens).cast("long").as("__t"),
        octet_length(text).cast("long").as("__b"),
        length(text).cast("long").as("__c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__t")).as("n_tokens"),
        sum(col("__b")).as("n_bytes"), sum(col("__c")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("n_bytes"), col("n_chars"),
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_bytes").cast("double") /
            col("n_tokens").cast("double"), 6)).as("bytes_per_token"),
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_chars").cast("double") /
            col("n_tokens").cast("double"), 6)).as("chars_per_token"))

  /** Krippendorff's alpha (nominal data) over a FIXED rater panel —
    * the inter-annotator agreement measure that, unlike
    * [[cohenKappa]], handles ANY number of raters and MISSING ratings
    * (Krippendorff 2004, "Content Analysis" §11; the standard
    * reliability gate for LLM labeling panels where every annotator
    * sees only a slice).
    *
    * Math (coincidence-matrix form): for unit u let n_uc = #ratings
    * of value c and m_u = Σ_c n_uc; units with m_u < 2 drop (nothing
    * to pair). o_ck = Σ_u n_uc·(n_uk − δ_ck)/(m_u − 1), n_c = Σ_k
    * o_ck, n = Σ_c n_c, and α = 1 − (n−1)·Σ_{c≠k} o_ck / Σ_{c≠k}
    * n_c·n_k. To keep every intermediate an exact BIGINT the
    * coincidences are scaled by F = lcm(1..R−1) (R = panel size, so
    * (m_u−1) | F and the per-unit division is exact integer `div`);
    * the scale cancels into α = 1 − F·(n−1)·do / de where do, de are
    * the SCALED off-diagonal mass and marginal product. One IEEE
    * division at the end (9-grid); de = 0 (every pairable unit
    * unanimous on one global value) is α = 1 by convention.
    *
    * Output: one row (n, do_num, de_num, alpha_num, alpha) with
    * alpha_num = de − F·(n−1)·do, so the division is auditable.
    * BIGINT headroom: F·(n−1)·do needs n·do < 2^63/F — with F ≤ 12
    * (R ≤ 5) that is ~10^8 pairable values; past that, compute α on
    * the per-label marginals (≤ labels² rows) in decimal.
    *
    * Scale shape: melt is a generate over R columns (map-side), unit
    * counts shuffle on (unit, value), the coincidence join is
    * unit-local (≤ R² rows per unit), and everything after is
    * label²-sized.
    */
  def krippendorffAlpha(
      df: DataFrame, unit: org.apache.spark.sql.Column,
      ratings: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(ratings.size >= 2, "krippendorffAlpha needs >= 2 raters")
    require(ratings.size <= 5,
      "krippendorffAlpha: panel > 5 exceeds the documented BIGINT " +
        "headroom of the lcm scaling — aggregate per slice first")
    val scale = (1 until ratings.size)
      .foldLeft(1L)((l, k) => l * k / gcd(l, k))
    // evaluate the rater expressions in a PINNED projection before
    // the melt: folded into the explode's Generate they lose codegen
    // subexpression elimination and an expensive label CASE (langId)
    // re-evaluates its shared subtrees per reference — measured 5.9 s
    // vs 1.0 s at sf0.1 (the cohenKappa scan-pushdown note's sibling).
    // The pin is O(corpus) but thin (unit + R strings), the same class
    // as the counts pin below.
    val rated = df.select(
      unit.as("__u") +: ratings.zipWithIndex.map { case (r, i) =>
        r.cast("string").as(s"__r$i") }: _*).localCheckpoint()
    val melted = rated
      .select(col("__u"),
        explode(array(ratings.indices.map(i => col(s"__r$i")): _*))
          .as("__v"))
      .filter(col("__v").isNotNull)
    // pin the (unit, value) counts: they feed m_u AND both sides of
    // the coincidence self-join — without the checkpoint the rater
    // expressions (arbitrarily expensive label CASEs, see cohenKappa's
    // measured note) re-evaluate on every consumer's corpus scan
    val counts =
      melted.groupBy(col("__u"), col("__v"))
        .agg(count(lit(1)).as("__nuc")).localCheckpoint()
    val mu = counts.groupBy(col("__u")).agg(sum(col("__nuc")).as("__mu"))
      .filter(col("__mu") >= 2)
    val withMu = counts.join(mu, Seq("__u"))
    // unit-local value-pair grid: ≤ R² rows per unit
    val coin = withMu.as("x")
      .join(withMu.as("y"), Seq("__u"))
      .select(col("x.__v").as("__c"), col("y.__v").as("__k"),
        expr(s"($scale * x.__nuc * (y.__nuc - CASE WHEN x.__v = y.__v " +
          "THEN 1 ELSE 0 END)) div (x.__mu - 1)").as("__o"))
      .groupBy(col("__c"), col("__k")).agg(sum(col("__o")).as("__o"))
    val marg = coin.groupBy(col("__c")).agg(sum(col("__o")).as("__nc"))
    val tot = marg.agg(
      coalesce(sum(col("__nc")), lit(0L)).as("__ntot"),
      coalesce(sum(col("__nc") * col("__nc")), lit(0L)).as("__nsq"))
    val doNum = coin.filter(col("__c") =!= col("__k"))
      .agg(coalesce(sum(col("__o")), lit(0L)).as("do_num"))
    tot.crossJoin(broadcast(doNum)) // two ONE-row aggregates meet here
      .select(
        expr(s"__ntot div $scale").as("n"), // exact: __ntot = F·n
        col("do_num"),
        (col("__ntot") * col("__ntot") - col("__nsq")).as("de_num"))
      .select(col("n"), col("do_num"), col("de_num"),
        (col("de_num") - lit(scale) * (col("n") - 1) * col("do_num"))
          .as("alpha_num"))
      .select(col("n"), col("do_num"), col("de_num"), col("alpha_num"),
        when(col("de_num") === 0, lit(1.0))
          .otherwise(round(col("alpha_num").cast("double") /
            col("de_num").cast("double"), 9)).as("alpha"))
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
}
