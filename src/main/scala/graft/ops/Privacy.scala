package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Laplace-mechanism seam for privacy-noised aggregate releases — the
  * reference's domain (clinical research data) publishes summary
  * counts (SURVEY.md §2.4's studySummary matrices), and governed
  * deployments release such counts Laplace-noised: count + Lap(Δ/ε),
  * sensitivity Δ = 1 for per-group row counts.
  *
  * HONESTY NOTE on the privacy claim: this implements the MECHANISM
  * with the engine's deterministic md5 draw keyed on (salt, group).
  * With a salt derived from public inputs the release is reproducible
  * — which is what makes it testable and DuckDB-oracle-checkable —
  * but NOT differentially private, because the noise is a function of
  * the data. Production use must pass a secret, per-release salt
  * (then each release is a proper draw from the Laplace distribution
  * and the ε accounting applies). The seam is the contract; the salt
  * policy is the deployment's.
  *
  * Determinism/exactness: u = (md5-prefix + 0.5)/2³² is an exact
  * dyadic in (0,1) (the [[Sampling]] device), the inverse-CDF
  *   noise = −(Δ/ε)·sgn(u−½)·ln(1−2|u−½|)
  * has exactly one libm call, rounded on the project's 9-decimal
  * grid, so both engines release identical values. u can never hit
  * ½ (the +0.5 offset keeps it off every dyadic of that rank) and
  * 1−2|u−½| ≥ 2⁻³², so the ln argument is never 0.
  *
  * Scale shape: one map-side-combined count shuffle; the noise is a
  * scalar expression over the dim-sized group frame. Zero extra
  * passes over facts.
  */
object Privacy {

  /** Per-group counts with deterministic-draw Laplace noise.
    *
    * @param df      fact frame
    * @param group   grouping column name
    * @param epsilon privacy budget ε (> 0); noise scale b = 1/ε
    * @param salt    draw decorrelator — MUST be secret and fresh per
    *                release for any real privacy guarantee (see the
    *                honesty note above)
    * @return (group, n, noisy_n) — noisy_n = n + noise on the
    *         9-decimal grid; NOT clamped (negative releases are the
    *         mechanism's honest output; clamp downstream if the
    *         consumer requires nonnegative counts)
    */
  def laplaceNoisyCounts(
      df: DataFrame, group: String, epsilon: Double,
      salt: String): DataFrame = {
    require(epsilon > 0, s"epsilon must be positive: $epsilon")
    val b = 1.0 / epsilon
    val u = (conv(Sampling.unitDraw(col(group), salt), 16, 10)
      .cast("double") + 0.5) / math.pow(16.0, Sampling.PrefixHexLen)
    val centered = u - 0.5
    val noise = round(
      lit(-b) * signum(centered) * log(lit(1.0) - lit(2.0) * abs(centered)),
      9)
    df.groupBy(col(group)).agg(count(lit(1)).as("n"))
      .select(col(group), col("n"),
        (col("n") + noise).as("noisy_n"))
  }

  /** Laplace-mechanism SUM release with per-user contribution
    * bounding — the companion to [[laplaceNoisyCounts]] and the shape
    * real DP aggregate releases take (Dwork et al. 2006): an
    * unbounded per-user total has unbounded sensitivity, so each
    * user's within-group contribution is first CLAMPED to [0, clip]
    * and the noise scale becomes clip/ε. Same deterministic
    * inverse-CDF draw convention and the same honesty note as the
    * count release: a public salt is reproducible/testable but NOT
    * DP; a secret per-release salt is the proper mechanism. SECOND
    * honesty note: the output carries the EXACT `clipped_sum` and
    * EXACT `n_users` next to `noisy_sum` — they are debug/test
    * columns (the oracle replays them), and shipping them defeats
    * the DP release entirely. A real release must project them away
    * (or noise them independently) before publication; only
    * `noisy_sum` is the released statistic.
    *
    * Scale shape: one (group, user) aggregation with map-side
    * combine (the clamp is per aggregated row, not per fact), one
    * group-level aggregation; noise is map-side arithmetic on the
    * dim-sized result. `value` must be integral (cents/micro grid)
    * so the clipped sums are exact.
    */
  def laplaceNoisySums(
      df: DataFrame, group: String, user: String,
      value: org.apache.spark.sql.Column, clip: Long,
      epsilon: Double, salt: String): DataFrame = {
    require(clip > 0, s"clip must be positive: $clip")
    require(epsilon > 0, s"epsilon must be positive: $epsilon")
    val b = clip / epsilon
    val per = df.groupBy(col(group), col(user))
      .agg(sum(value.cast("long")).as("__s"))
      .select(col(group),
        least(greatest(col("__s"), lit(0L)), lit(clip)).as("__c"))
    val u = (conv(Sampling.unitDraw(col(group), salt), 16, 10)
      .cast("double") + 0.5) / math.pow(16.0, Sampling.PrefixHexLen)
    val centered = u - 0.5
    val noise = round(
      lit(-b) * signum(centered) * log(lit(1.0) - lit(2.0) * abs(centered)),
      9)
    per.groupBy(col(group))
      .agg(count(lit(1)).as("n_users"), sum(col("__c")).as("clipped_sum"))
      .select(col(group), col("n_users"), col("clipped_sum"),
        (col("clipped_sum") + noise).as("noisy_sum"))
  }

  /** k-anonymity suppression: drop every row whose quasi-identifier
    * combination is shared by fewer than `k` rows — the release
    * pre-filter for row-level clinical/user data (a combination seen
    * once re-identifies its person; k ≥ some floor is the standard
    * publishing bar).
    *
    * Scale shape: one map-side-combined count over the quasi columns
    * + one equi-join of the dim-sized qualifying-combination frame
    * back onto the facts (broadcast-eligible; Catalyst picks). Rows
    * with NULL in any quasi column count as their own combination
    * (null-safe grouping), matching SQL GROUP BY semantics in both
    * engines.
    */
  def kAnonymize(df: DataFrame, quasi: Seq[String], k: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1, s"k must be >= 1: $k")
    val ok = df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= k)
      .drop("__n")
    // null-safe equality: a NULL quasi value is a combination like any
    // other (grouping already treats it so; a plain equi-join would
    // silently drop those rows however large their group)
    semiJoinOn(df, ok, quasi)
  }

  /** Null-safe left-semi join of `df` onto `ok` (a grouping of `df`
    * itself) over `keys`. Both sides are aliased, so the predicate
    * names distinct columns instead of resolving through Spark's
    * self-join rewrite. */
  private def semiJoinOn(
      df: DataFrame, ok: DataFrame, keys: Seq[String]): DataFrame = {
    val cond = keys
      .map(c => col(s"__df.`$c`") <=> col(s"__ok.`$c`")).reduce(_ && _)
    df.as("__df").join(ok.as("__ok"), cond, "left_semi")
  }

  /** l-diversity suppression — [[kAnonymize]]'s complement: a large
    * group whose SENSITIVE attribute is uniform still discloses it
    * (everyone in the k=500 (nation, segment) cell has the same
    * diagnosis → membership alone reveals it). Keep only rows whose
    * quasi combination carries at least `l` distinct sensitive
    * values.
    *
    * Scale shape: one countDistinct aggregate over the quasi columns
    * (two-phase partial under the hood) + the same null-safe
    * dim-sized left-semi join as [[kAnonymize]]. NULL sensitive
    * values do not count toward the l distinct (count distinct skips
    * nulls in both engines — SQL semantics).
    */
  def lDiversify(
      df: DataFrame, quasi: Seq[String], sensitive: String,
      l: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 1, s"l must be >= 1: $l")
    val ok = df.groupBy(quasi.map(col): _*)
      .agg(countDistinct(col(sensitive)).as("__d"))
      .filter(col("__d") >= l)
      .drop("__d")
    semiJoinOn(df, ok, quasi)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE'07) — the
    * third leg of the release-audit trio: [[kAnonymize]] bounds group
    * size, [[lDiversify]] bounds sensitive-value VARIETY, and
    * t-closeness bounds how far a group's sensitive-value
    * DISTRIBUTION may sit from the corpus-wide one (a group can pass
    * both k and l yet still leak "90% of this cell has condition X
    * vs 5% globally" — exactly what t-closeness catches).
    *
    * Distance = total variation: TVD(g) = ½ Σ_v |p_g(v) − p(v)| (the
    * paper's EMD under uniform ground distance, i.e. categorical
    * sensitive attributes). EXACT arithmetic: |n_gv·N − n_v·n_g| is
    * an integer, so TVD(g) = tvd_num / tvd_den with
    * tvd_num = Σ_v |n_gv·N − n_v·n_g| and tvd_den = 2·n_g·N — the
    * breach verdict (tvd > tNum/tDen) cross-multiplies, never
    * dividing, so it is bit-portable across engines and layouts.
    * Overflow bound: n_g·N·tDen must fit a long — fine to ~10⁹ rows
    * at tDen ≤ 10; shard larger corpora by partition or lift to
    * DECIMAL(38,0).
    *
    * Scale shape: ONE scan of the fact frame into the
    * (quasi × sensitive) count; everything after runs on that
    * dim-sized frame — the (group × value) lattice is a broadcast
    * cross of two aggregates of it (missing cells must still
    * contribute |0 − n_v·n_g|), and N rides a one-row broadcast
    * carrier.
    *
    * @return one row per quasi group: quasi…, n_g, tvd_num, tvd_den,
    *         breaches (tvd > tNum/tDen)
    */
  def tCloseness(
      df: DataFrame, quasi: Seq[String], sensitive: String,
      tNum: Long, tDen: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(tNum >= 0 && tDen >= 1, s"bad threshold $tNum/$tDen")
    val cnt = df
      .groupBy((quasi :+ sensitive).map(col): _*)
      .agg(count(lit(1)).as("n_gv"))
      .localCheckpoint() // three consumers: ng, nv, and the lattice join
    val ng = cnt.groupBy(quasi.map(col): _*)
      .agg(sum(col("n_gv")).as("n_g"))
    val nv = cnt.groupBy(col(sensitive))
      .agg(sum(col("n_gv")).as("n_v"))
    val tot = nv.agg(sum(col("n_v")).as("__N"))
    ng.crossJoin(broadcast(nv))
      .join(cnt, quasi :+ sensitive, "left")
      .withColumn("n_gv", coalesce(col("n_gv"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("__term",
        abs(col("n_gv") * col("__N") - col("n_v") * col("n_g")))
      .groupBy((quasi.map(col) :+ col("n_g")): _*)
      .agg(sum(col("__term")).as("tvd_num"),
        (lit(2L) * col("n_g") * max(col("__N"))).as("tvd_den"))
      .withColumn("breaches",
        lit(tDen) * col("tvd_num") > lit(tNum) * col("tvd_den"))
  }
}
