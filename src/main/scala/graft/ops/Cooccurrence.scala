package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Token co-occurrence counts + pointwise mutual information — the
  * classic distributional-statistics table (word2vec/GloVe-style
  * pipelines train FROM this; collocation mining reads it directly).
  * Not in the reference's inventory; a training-data engine needs it.
  *
  * Formulation: for each token position i, the DIRECTED partners are
  * the next `window` tokens. Pair generation is entirely map-side —
  * nested array HOFs (`transform` over positions × a `slice` of
  * partners) build each document's pair list inside one projection; no
  * self-join, no positional explode, no second scan of the corpus. The
  * only corpus-sized shuffle is the (a, b) count aggregation (map-side
  * combined). Margins and the grand total derive from the pair-count
  * frame itself — vocabulary-sized (Zipf), so AQE broadcasts them when
  * they fit; the total is a one-row broadcast carrier.
  *
  * PMI uses the pair space's own margins: with N = Σ n_ab,
  * n_a• = Σ_b n_ab, n_•b = Σ_a n_ab,
  *
  *   pmi(a,b) = ln( n_ab · N / (n_a• · n_•b) )
  *
  * computed double-exactly (every product < 2^53) and rounded to the
  * 9-decimal grid, the project's convention for a correctly-rounded
  * transcendental shared with the DuckDB oracle (see q_bm25).
  *
  * `minCount` drops pairs with n_ab below it BEFORE the margin
  * computation would be wrong — margins aggregate the FULL count frame
  * first, then the filter applies, so rare-pair removal never skews
  * the denominators.
  */
object Cooccurrence {

  /** Directed within-window co-occurrence counts: (a, b, n_ab) where
    * `b` follows `a` within `window` positions. Pair generation is
    * map-side array HOFs (no self-join); one count shuffle. The
    * building block under [[pmi]] and the TextRank token graph. */
  def pairCounts(
      docs: DataFrame,
      tokens: Column,
      window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val toks = docs.select(tokens.as("__t")).filter(size(col("__t")) >= 2)
    // positions 0..n-2 (1-based element i+1); partners are the slice
    // (i+2 .. i+1+window), clipped at the array end by slice itself
    val pairs = toks.select(explode(flatten(transform(
      sequence(lit(0), size(col("__t")) - 2),
      i => transform(
        slice(col("__t"), i + lit(2), lit(window)),
        b => struct(element_at(col("__t"), (i + 1).cast("int")).as("a"),
          b.as("b")))))).as("p"))
      .select(col("p.a"), col("p.b"))
    pairs.groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
  }

  /** Association rules over baskets (market-basket / co-curation
    * mining): for every DIRECTED item pair (a → b) co-present in at
    * least `minSupport` baskets, the rule's support, confidence, and
    * lift — as EXACT parts-per-million integers
    * (`conf_ppm = n_ab·10⁶ div n_a`,
    * `lift_ppm = n_ab·N·10⁶ div (n_a·n_b)`), so both engines agree
    * bit-for-bit with no float division.
    *
    * Presence counting (an item twice in one basket counts once):
    * baskets fold to a distinct sorted item set, pairs expand
    * map-side from that set (the [[pairCounts]] device — no
    * self-join), item counts ride the same exploded set. Plan: one
    * basket shuffle + two counting aggregations + one dim-sized join
    * chain (item counts broadcast under AQE).
    *
    * `baskets`: (basket, item) rows. N = distinct baskets. Overflow
    * bound: `n_ab·N·10⁶` must fit a signed long — past ~3·10⁶ baskets
    * either shrink the ppm scale or lift the arithmetic to
    * decimal(38,0) (both engines divide those exactly too); the
    * integer contract is the point, the scale is a parameter.
    */
  def associationRules(
      baskets: DataFrame, basket: String, item: String,
      minSupport: Long): DataFrame = {
    val sets = baskets
      .groupBy(col(basket))
      .agg(array_sort(collect_set(col(item))).as("__s"))
    val n = sets.count()
    val items = sets
      .select(explode(col("__s")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("n_item"))
    val pairs = sets.filter(size(col("__s")) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("__s")) - 2),
        i => transform(
          slice(col("__s"), i + lit(2), size(col("__s"))),
          p => struct(
            element_at(col("__s"), (i + 1).cast("int")).as("x"),
            p.as("y")))))).as("p"))
      .select(col("p.x"), col("p.y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    // directed both ways off the canonical pair counts
    val directed = pairs
      .select(col("x").as("a"), col("y").as("b"), col("n_ab"))
      .unionByName(pairs
        .select(col("y").as("a"), col("x").as("b"), col("n_ab")))
    directed
      .join(items.select(col("__i").as("a"), col("n_item").as("n_a")), "a")
      .join(items.select(col("__i").as("b"), col("n_item").as("n_b")), "b")
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        expr("n_ab * 1000000L div n_a").as("conf_ppm"),
        expr(s"n_ab * ${n}L * 1000000L div (n_a * n_b)").as("lift_ppm"))
  }

  def pmi(
      docs: DataFrame,
      tokens: Column,
      window: Int,
      minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    // the pair-count frame feeds FOUR consumers (margins ×2, total,
    // output join); without a materialization each one re-scans the
    // corpus and re-generates every pair — Catalyst does not reuse the
    // aggregate exchange across the branches (measured: 6 corpus scans
    // unchecked, 1 with the checkpoint; PlanShapeSpec pins it)
    val cnt = pairCounts(docs, tokens, window).localCheckpoint()
    val ma = cnt.groupBy("a").agg(sum("n_ab").as("n_a"))
    val mb = cnt.groupBy("b").agg(sum("n_ab").as("n_b"))
    val total = cnt.agg(sum("n_ab").as("n"))
    cnt
      .join(ma, "a")
      .join(mb, "b")
      .crossJoin(broadcast(total))
      .filter(col("n_ab") >= minCount)
      .select(col("a"), col("b"), col("n_ab"),
        round(log(col("n_ab").cast("double") * col("n")
          / (col("n_a") * col("n_b"))), 9).as("pmi"))
  }
}
