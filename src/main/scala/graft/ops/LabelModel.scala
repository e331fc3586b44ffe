package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weak-supervision label modeling — the Snorkel-style step that turns
  * K noisy labeling functions (heuristics, regexes, small models,
  * crowd raters) into one training label per document WITHOUT gold
  * labels (Ratner et al. VLDB'18; the classic one-coin Dawid & Skene
  * 1979 model, EM per Dempster et al.): each labeling function ℓ has
  * an unknown accuracy a_ℓ, wrong votes spread uniformly over the
  * other L−1 classes, abstains carry no information, and EM
  * alternately (E) computes per-document class posteriors from the
  * votes and (M) re-estimates accuracies and class priors from the
  * posteriors. Majority vote is the a_ℓ-all-equal special case; the
  * fitted model instead DOWN-WEIGHTS bad voters automatically.
  *
  * Scale shape (the [[Linkage]] EM discipline): the corpus-sized work
  * is ONE aggregation of the vote columns down to at most (L+1)^K
  * vote-pattern counts — EM runs on that metadata-sized table on the
  * driver, and per-document labeling is a broadcast join of the
  * pattern→label table back to the corpus. A 100 TB corpus changes
  * the count values, not the EM's input shape.
  *
  * Engine-portability: pure integer arithmetic on the ppm grid —
  * class scores are prior·Π factors with a truncating `div` after
  * every product (abstain factor = 10^6, the exact identity), wrong
  * votes (10^6 − a) div (L−1), posteriors pc·10^6 div Σpc — so a SQL
  * oracle replays the identical fixpoint from the identical pattern
  * counts. Bounds: pattern counts n must satisfy n·10^6 < 2^63
  * (n < 9.2·10^12 per pattern) — loudly documented, far past any
  * real corpus per-pattern count.
  */
object LabelModel {

  val Ppm = 1000000L

  /** Fitted one-coin parameters: per-LF accuracies and per-class
    * priors, both on the ppm grid, in the caller's LF/class order. */
  final case class DsParams(acc: Seq[Long], prior: Seq[Long])

  /** Vote-pattern counts: ONE aggregation of the K vote columns down
    * to ≤ (L+1)^K rows (v1..vK, n) — the only corpus-sized stage.
    * NULL vote = abstain. */
  def votePatternCounts(df: DataFrame, votes: Seq[Column]): DataFrame = {
    require(votes.size >= 2 && votes.size <= 5,
      s"2..5 labeling functions (got ${votes.size})")
    val named = votes.zipWithIndex.map { case (v, i) =>
      v.cast("string").as(s"v${i + 1}") }
    df.select(named: _*)
      .groupBy(named.indices.map(i => col(s"v${i + 1}")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** One-coin Dawid-Skene EM over collected pattern counts — pure
    * driver-side integer arithmetic, O(iters · patterns · classes).
    * `patterns` maps each vote vector (None = abstain) to its count;
    * votes outside `classes` are rejected loudly (a silent drop would
    * skew the accuracies). */
  def dsFit(
      patterns: Seq[(Seq[Option[String]], Long)],
      classes: Seq[String],
      iters: Int,
      initAcc: Long = 800000L): DsParams = {
    require(patterns.nonEmpty, "no vote patterns")
    require(classes.size >= 2, "need >= 2 classes")
    val k = patterns.head._1.size
    val cIdx = classes.zipWithIndex.toMap
    patterns.foreach { case (v, _) =>
      v.flatten.foreach(x => require(cIdx.contains(x),
        s"vote '$x' not in the declared class list")) }
    val l1 = classes.size - 1
    var acc = Seq.fill(k)(initAcc)
    var prior = Seq.fill(classes.size)(Ppm / classes.size)
    for (_ <- 1 to iters) {
      // E-step: per-pattern per-class posterior (ppm).
      val post = patterns.map { case (v, n) =>
        val pc = classes.indices.map { c =>
          v.zipWithIndex.foldLeft(prior(c)) { case (a, (vote, i)) =>
            val f = vote match {
              case None => Ppm
              case Some(x) if cIdx(x) == c => acc(i)
              case Some(_) => (Ppm - acc(i)) / l1
            }
            a * f / Ppm
          }
        }
        val tot = math.max(pc.sum, 1L)
        (v, n, pc.map(p => p * Ppm / tot))
      }
      // M-step: posterior-weighted accuracies and priors.
      acc = (0 until k).map { i =>
        val voted = post.collect { case (v, n, _) if v(i).isDefined => n }
        val agree = post.collect { case (v, n, p) if v(i).isDefined =>
          n * p(cIdx(v(i).get)) }
        agree.sum / math.max(voted.sum, 1L)
      }
      val nTot = math.max(patterns.map(_._2).sum, 1L)
      prior = classes.indices.map { c =>
        post.map { case (_, n, p) => n * p(c) }.sum / nTot
      }
    }
    DsParams(acc, prior)
  }

  /** Per-class posteriors (ppm) of one vote pattern under fitted
    * params — the E-step formula, exposed for the labeling join. */
  def posteriorsPpm(
      v: Seq[Option[String]], classes: Seq[String],
      p: DsParams): Seq[Long] = {
    val cIdx = classes.zipWithIndex.toMap
    val l1 = classes.size - 1
    val pc = classes.indices.map { c =>
      v.zipWithIndex.foldLeft(p.prior(c)) { case (a, (vote, i)) =>
        val f = vote match {
          case None => Ppm
          case Some(x) if cIdx(x) == c => p.acc(i)
          case Some(_) => (Ppm - p.acc(i)) / l1
        }
        a * f / Ppm
      }
    }
    val tot = math.max(pc.sum, 1L)
    pc.map(x => x * Ppm / tot)
  }

  /** Collect a [[votePatternCounts]]-shaped frame to the driver with
    * the loud (L+1)^K bound — the ONLY sanctioned driver funnel of
    * this module (incremental folds should aggregate to this shape
    * before collecting through here too). */
  def collectPatterns(
      counts: DataFrame): Seq[(Seq[Option[String]], Long)] = {
    val k = counts.columns.count(_.startsWith("v"))
    val rows = counts.collect() // bounded: ≤ (L+1)^K rows
    require(rows.length <= 10000,
      s"${rows.length} vote patterns — past the documented (L+1)^K " +
        "driver bound; reduce the class space or LF count")
    rows.toSeq.map { r =>
      ((1 to k).map(i => Option(r.getAs[String](s"v$i"))),
        r.getAs[Long]("n"))
    }
  }

  /** Fit from a corpus frame: aggregate votes → collect the bounded
    * pattern table → EM. */
  def fit(
      df: DataFrame, votes: Seq[Column], classes: Seq[String],
      iters: Int, initAcc: Long = 800000L): DsParams =
    dsFit(collectPatterns(votePatternCounts(df, votes)), classes,
      iters, initAcc)

  /** Fitted params as the canonical (param, ppm) frame: `acc_<lf>`
    * in LF order then `pi_<class>` in class order. */
  def paramsDf(
      spark: SparkSession, p: DsParams, lfNames: Seq[String],
      classes: Seq[String]): DataFrame = {
    import spark.implicits._
    (lfNames.zip(p.acc).map { case (n, v) => (s"acc_$n", v) } ++
      classes.zip(p.prior).map { case (c, v) => (s"pi_$c", v) })
      .toDF("param", "ppm")
  }

  /** Label every document: aggregate the corpus's vote patterns, fit
    * (or take) params, compute each PATTERN's argmax class and
    * posterior driver-side (≤ (L+1)^K rows), and broadcast-join the
    * pattern→label table back on the null-safe vote columns. Ties
    * break to the earliest class in `classes` (deterministic).
    * Output: input columns + (y_hat, post_ppm). */
  def labelDocs(
      df: DataFrame, votes: Seq[Column], classes: Seq[String],
      p: DsParams): DataFrame =
    labelImpl(df, votes, classes, counts => p)

  /** Fit + label in ONE corpus vote evaluation: the vote columns are
    * evaluated into a pinned projection (expensive label expressions
    * — a langId CASE — must not re-evaluate per consumer; the
    * krippendorff lesson), the pattern aggregation folds THAT frame,
    * EM fits on the collected patterns, and the labeling join reads
    * the same pinned frame. Two passes over the thin pinned votes,
    * one over the raw corpus. */
  def fitAndLabel(
      df: DataFrame, votes: Seq[Column], classes: Seq[String],
      iters: Int, initAcc: Long = 800000L): DataFrame =
    labelImpl(df, votes, classes,
      counts => dsFit(counts, classes, iters, initAcc))

  private def labelImpl(
      df: DataFrame, votes: Seq[Column], classes: Seq[String],
      mkParams: Seq[(Seq[Option[String]], Long)] => DsParams)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(votes.size >= 2 && votes.size <= 5,
      s"2..5 labeling functions (got ${votes.size})")
    val named = votes.zipWithIndex.map { case (v, i) =>
      v.cast("string").as(s"__v${i + 1}") }
    val withVotes =
      df.select(col("*") +: named: _*).localCheckpoint()
    val counts = withVotes
      .groupBy(votes.indices.map(i =>
        col(s"__v${i + 1}").as(s"v${i + 1}")): _*)
      .agg(count(lit(1)).as("n"))
    val patterns = collectPatterns(counts)
    val p = mkParams(patterns)
    val table = patterns.map { case (v, _) =>
      val post = posteriorsPpm(v, classes, p)
      val best = post.indices.maxBy(i => (post(i), -i)) // first wins ties
      (v.lift(0).flatten, v.lift(1).flatten, v.lift(2).flatten,
        v.lift(3).flatten, v.lift(4).flatten,
        classes(best), post(best))
    }.toDF("__p1", "__p2", "__p3", "__p4", "__p5", "y_hat", "post_ppm")
    val cond = votes.indices.map(i =>
      col(s"__v${i + 1}") <=> col(s"__p${i + 1}")).reduce(_ && _)
    withVotes.join(broadcast(table), cond)
      .drop((1 to 5).flatMap(i => Seq(s"__p$i", s"__v$i")): _*)
  }
}
