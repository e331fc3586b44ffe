package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-based n-gram language model scoring — the CCNet/Gopher-style
  * corpus-quality signal: documents whose token sequences are
  * improbable under a reference LM (boilerplate, lorem-ipsum, OCR
  * garbage, wrong-language text) score a high negative log-likelihood
  * and get filtered or curriculum-bucketed. Not in the reference's
  * inventory; every large-scale pretraining pipeline carries one
  * (CCNet, arXiv:1911.00359, filters Common Crawl by KenLM
  * perplexity).
  *
  * Model: add-k–smoothed bigram probabilities
  *
  *   P(b | a) = (n_ab + k) / (n_a + k·V)
  *
  * with n_ab the bigram count, n_a = Σ_b n_ab the CONTEXT count (how
  * often `a` is followed by anything — the bigram table's own margin,
  * so both tables derive from one aggregation), and V the vocabulary
  * of the bigram table (distinct tokens over contexts ∪ successors).
  * Unseen events degrade gracefully: unseen bigram under a seen
  * context → k/(n_a+kV); wholly unseen context (n_a coalesces to 0) →
  * uniform 1/V. No special casing, so the same score path serves
  * self-scoring AND scoring a new corpus against a trained LM.
  *
  * Determinism contract (the project's oracle convention): each
  * bigram's ln P is rounded to the 9-decimal grid FIRST (absorbing
  * Spark-fdlibm vs DuckDB-glibc last-ulp drift), cast to
  * decimal(28,9), and summed EXACTLY — decimal addition is
  * associative, so per-document NLL is independent of partitioning
  * and row order. The final mean divides the exact sum by the bigram
  * count in one IEEE double division, identical in both engines.
  *
  * Scale shape (100 TB): training is one map-side pair projection +
  * one count shuffle (the [[Cooccurrence]] window=1 shape with the
  * doc id kept). Scoring joins the corpus's bigram stream against the
  * LM on (a, b) — an equi-join that AQE broadcasts when the (pruned)
  * LM fits and shuffles otherwise; contexts and vocab are
  * vocabulary-sized sidecars. Stopword-heavy hot bigrams skew the
  * probe side only (the LM side is distinct by key), which AQE's
  * skew-join split handles without salting.
  */
object LangModel {

  /** A trained bigram LM: `bigrams` (a, b, n_ab), `contexts`
    * (a, n_a), `vocab` — ONE row, column V (token count). All three
    * derive from the same pair aggregation; `vocab` deliberately
    * counts the bigram table's token universe (contexts ∪ successors)
    * so training never needs a second corpus pass.
    */
  final case class BigramLm(
      bigrams: DataFrame, contexts: DataFrame, vocab: DataFrame)

  /** Adjacent-pair stream: one row per bigram position, map-side.
    * Documents with < 2 tokens contribute nothing (no bigram exists).
    */
  def bigrams(docs: DataFrame, id: String, tokens: Column): DataFrame =
    docs.select(col(id), tokens.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col(id), explode(transform(
        sequence(lit(0), size(col("__t")) - 2),
        i => struct(
          element_at(col("__t"), (i + 1).cast("int")).as("a"),
          element_at(col("__t"), (i + 2).cast("int")).as("b")))).as("p"))
      .select(col(id), col("p.a"), col("p.b"))

  /** Train the LM from a corpus: one pair projection, one count
    * shuffle; margins and vocabulary fold the count frame, which is
    * checkpointed because three consumers read it (Catalyst would
    * otherwise re-scan the corpus per consumer — the measured
    * [[Cooccurrence]] trap).
    */
  def train(corpus: DataFrame, id: String, tokens: Column): BigramLm = {
    val counts =
      bigrams(corpus, id, tokens)
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
        .localCheckpoint()
    val contexts = counts.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
    val vocab = counts
      .select(explode(array(col("a"), col("b"))).as("t"))
      .agg(countDistinct(col("t")).as("V"))
    BigramLm(counts, contexts, vocab)
  }

  /** Per-document mean negative log-likelihood under `lm`.
    *
    * @param k add-k smoothing mass (0 < k; 0.5 default — k and k·V
    *          stay exactly representable doubles for integer-ish k·2)
    * @return (id, n_bigrams, avg_nll): avg_nll on the 9-decimal grid,
    *         higher = less probable under the LM. Docs with < 2
    *         tokens are absent (no bigram evidence either way).
    */
  def scoreNll(
      docs: DataFrame, id: String, tokens: Column,
      lm: BigramLm, k: Double = 0.5): DataFrame = {
    require(k > 0, s"smoothing k must be positive: $k")
    val stream = bigrams(docs, id, tokens)
    val lnp = round(
      log((coalesce(col("n_ab"), lit(0L)) + lit(k)) /
        (coalesce(col("n_a"), lit(0L)) + lit(k) * col("V"))), 9)
      .cast("decimal(28,9)")
    stream
      .join(lm.bigrams, Seq("a", "b"), "left")
      .join(lm.contexts, Seq("a"), "left")
      .crossJoin(broadcast(lm.vocab)) // one-row V carrier
      .select(col(id), lnp.as("__lnp"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-(sum(col("__lnp")).cast("double")) / count(lit(1)), 9)
          .as("avg_nll"))
  }

  // ---- interpolated Kneser-Ney (Kneser & Ney 1995; Chen & Goodman
  //      1999 §3) — the KenLM-standard smoothing real CCNet-style
  //      filters actually ship. Add-k overrates tokens that are
  //      frequent but occur after only one context ("Francisco"):
  //      KN's backoff weighs a token by HOW MANY DISTINCT CONTEXTS it
  //      follows (continuation count), not how often it occurs.

  /** A trained KN bigram LM. `bigrams` (a, b, n_ab); `contexts`
    * (a, n_a = Σ_b n_ab, d_a = N1+(a·) distinct successors — `counts`
    * is distinct by (a,b), so d_a is a plain row count, no
    * countDistinct); `continuation` (b, cont_b = N1+(·b) distinct
    * predecessors); `totals` — ONE row (T = bigram types, V = token
    * vocabulary). All four fold the same single count shuffle.
    */
  final case class KnBigramLm(
      bigrams: DataFrame, contexts: DataFrame,
      continuation: DataFrame, totals: DataFrame)

  /** Train the KN tables: one pair projection + one count shuffle;
    * margins, continuation counts, and totals fold the checkpointed
    * count frame (four consumers — Catalyst would otherwise re-scan
    * the corpus per consumer).
    */
  def trainKn(corpus: DataFrame, id: String, tokens: Column): KnBigramLm = {
    val counts =
      bigrams(corpus, id, tokens)
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
        .localCheckpoint()
    val contexts = counts.groupBy(col("a"))
      .agg(sum(col("n_ab")).cast("long").as("n_a"),
        count(lit(1)).as("d_a"))
    val continuation =
      counts.groupBy(col("b")).agg(count(lit(1)).as("cont_b"))
    // T and V in ONE job over the exploded token stream: each count
    // row contributes exactly two tokens, so T = rows/2.
    val totals = counts
      .select(explode(array(col("a"), col("b"))).as("t"))
      .agg((count(lit(1)) / lit(2)).cast("long").as("T"),
        countDistinct(col("t")).as("V"))
    KnBigramLm(counts, contexts, continuation, totals)
  }

  /** Per-document mean NLL under interpolated Kneser-Ney:
    *
    *   Pc(b)    = (N1+(·b) + k) / (T + k·V)        [continuation,
    *              add-k interpolated so unseen tokens stay positive]
    *   P(b | a) = (max(n_ab − d, 0) + d·N1+(a·)·Pc(b)) / n_a   [a seen]
    *            = Pc(b)                                 [a unseen]
    *
    * with absolute discount d (0.75, the Chen-Goodman default — and
    * binary-exact, like k = 0.5, so literals convert identically in
    * both engines). The seen-context form is the textbook
    * max(c−d,0)/n_a + λ(a)·Pc(b) with λ(a) = d·N1+(a·)/n_a written as
    * one fraction so both engines share ONE association order. The
    * add-k continuation is a deliberate, documented deviation from
    * textbook KN (whose Pc(b) = N1+(·b)/T is zero on unseen tokens —
    * unusable as a scorer); it shrinks Pc toward uniform by k mass.
    *
    * Determinism: per-bigram ln on the 9-decimal grid → exact decimal
    * sum → one IEEE division, the [[scoreNll]] contract. Scale shape:
    * three vocabulary-sized LEFT joins (AQE broadcasts when pruned
    * tables fit) + one ONE-row totals carrier; the corpus is scanned
    * once.
    */
  def scoreKn(
      docs: DataFrame, id: String, tokens: Column,
      lm: KnBigramLm, d: Double = 0.75, k: Double = 0.5): DataFrame = {
    require(d > 0 && d < 1, s"discount must be in (0,1): $d")
    require(k > 0, s"continuation smoothing k must be positive: $k")
    val stream = bigrams(docs, id, tokens)
    val pc = (coalesce(col("cont_b"), lit(0L)) + lit(k)) /
      (col("T") + lit(k) * col("V"))
    val p = when(col("n_a").isNotNull,
        (greatest(coalesce(col("n_ab"), lit(0L)) - lit(d), lit(0.0)) +
          lit(d) * col("d_a") * pc) / col("n_a"))
      .otherwise(pc)
    val lnp = round(log(p), 9).cast("decimal(28,9)")
    stream
      .join(lm.bigrams, Seq("a", "b"), "left")
      .join(lm.contexts, Seq("a"), "left")
      .join(lm.continuation, Seq("b"), "left")
      .crossJoin(broadcast(lm.totals)) // one-row (T, V) carrier
      .select(col(id), lnp.as("__lnp"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-(sum(col("__lnp")).cast("double")) / count(lit(1)), 9)
          .as("avg_nll"))
  }
}
