package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ontology ancestor expansion — the reference's one domain-specific
  * operator (reference: ProcessETLUtils.scala:233-340; SURVEY.md §2.7).
  *
  * Term-table contract (reference ontology JSON-lines; FIXTURES.md):
  * {{{
  *   id: string, name: string, parents: array<string>,
  *   ancestors: array<struct<id: string, name: string, parents: array<string>>>,
  *   is_leaf: boolean
  * }}}
  * The ancestor closure is PRECOMPUTED in the term rows, so expansion
  * is non-recursive: explode + union + re-group — all shuffle-light,
  * and the term table is dimension-sized → always broadcast.
  */
object Ontology {

  /** Expand each data row's ontology code to itself (tagged, leaf) plus
    * every ancestor (untagged), one output row per term
    * (reference: ProcessETLUtils.scala:251-297).
    *
    * Single-pass: ONE broadcast join, then one explode of
    * [self] ++ ancestors built per row. (A tagged/ancestors
    * two-branch union would make Catalyst execute the join — and the
    * fact-table scan under it — twice; at 100 TB a doubled fact scan
    * is the whole cost of the operator.)
    *
    * Output columns: groupKeys ++ payload ++
    *   (term_id, term_name, is_tagged, is_leaf).
    */
  def expandTerms(
      data: DataFrame,
      terms: DataFrame,
      codeCol: String,
      groupKeys: Seq[String],
      payload: Seq[String]): DataFrame = {
    val joined = data.join(
      broadcast(terms),
      data(codeCol) === terms("id"))

    val keep = (groupKeys ++ payload).map(col)
    val self = struct(
      terms("id").as("term_id"),
      terms("name").as("term_name"),
      lit(true).as("is_tagged"),
      coalesce(terms("is_leaf"), lit(false)).as("is_leaf"))
    val ancs = transform(terms("ancestors"), a => struct(
      a.getField("id").as("term_id"),
      a.getField("name").as("term_name"),
      lit(false).as("is_tagged"),
      lit(false).as("is_leaf")))
    val expanded = when(terms("ancestors").isNull, array(self))
      .otherwise(concat(array(self), ancs))

    joined
      .select(keep :+ explode(expanded).as("__t"): _*)
      .select(keep ++ Seq(
        col("__t.term_id"), col("__t.term_name"),
        col("__t.is_tagged"), col("__t.is_leaf")): _*)
  }

  /** Pick the "main category" ancestor per data row: the ancestor whose
    * `parents` contain the ontology root, formatted "Name (ID)"
    * (reference: ProcessETLUtils.scala:240-248,406-425).
    * `rootPredicate` generalizes the HPO/MONDO root-membership and the
    * ICD chapter-regex variants (applied to the exploded ancestor).
    */
  def mainCategory(
      data: DataFrame,
      terms: DataFrame,
      codeCol: String,
      keyCols: Seq[String],
      rootPredicate: Column => Column): DataFrame = {
    val joined = data.join(
      broadcast(terms),
      data(codeCol) === terms("id"),
      "left_outer")
    joined
      .select((keyCols.map(col) :+ explode(terms("ancestors")).as("anc")): _*)
      .filter(rootPredicate(col("anc")))
      .groupBy(keyCols.map(col): _*)
      .agg(min(concat(col("anc.name"), lit(" ("), col("anc.id"), lit(")")))
        .as("main_category"))
  }

  /** Per-TERM main category: the ancestor (satisfying `rootPredicate`)
    * with the minimum "Name (ID)" display, computed once per term row.
    *
    * The reference computes the main category per DATA row
    * (ProcessETLUtils.scala:240-248,406-425), but the pick is a pure
    * function of the code's precomputed ancestor closure — so the
    * Spark-first plan resolves it on the dimension side and broadcast-
    * joins one (id, main_category) row per code back to the fact:
    * ONE fact scan and zero fact-side shuffles, vs. the reference's
    * explode-the-join then re-group-by-data-keys (a full shuffle of
    * the exploded fact). Identical result by construction.
    */
  def termMainCategory(
      terms: DataFrame, rootPredicate: Column => Column): DataFrame =
    terms
      .select(col("id"), explode(col("ancestors")).as("anc"))
      .filter(rootPredicate(col("anc")))
      .groupBy(col("id"))
      .agg(min(concat(col("anc.name"), lit(" ("), col("anc.id"), lit(")")))
        .as("main_category"))

  /** Merge per-(group, term) payload-value lists:
    * `collect_list(array(c))` → `array_distinct(sort_array(flatten(...)))`
    * (reference: ProcessETLUtils.scala:299-318 age_at_event merge).
    * A term id that carries several names (every ICD chapter ancestor
    * has id `""`) keeps the least one, whatever the row order.
    */
  def mergeValueLists(
      expanded: DataFrame,
      groupKeys: Seq[String],
      valueCol: String,
      as: String): DataFrame =
    expanded
      .groupBy((groupKeys :+ "term_id").map(col): _*)
      .agg(
        min(col("term_name")).as("term_name"),
        max(col("is_tagged")).as("is_tagged"),
        max(col("is_leaf")).as("is_leaf"),
        array_distinct(sort_array(flatten(collect_list(array(col(valueCol))))))
          .as(as))

  /** Full pipeline to one row per group: expand → merge → nest
    * (reference: ProcessETLUtils.scala:320-333). */
  def expandAndNest(
      data: DataFrame,
      terms: DataFrame,
      codeCol: String,
      groupKeys: Seq[String],
      valueCol: String,
      as: String): DataFrame = {
    val merged = mergeValueLists(
      expandTerms(data, terms, codeCol, groupKeys, Seq(valueCol)),
      groupKeys, valueCol, "values")
    Nest.nestChildren(
      merged, groupKeys,
      Seq(col("term_id"), col("term_name"), col("is_tagged"),
        col("is_leaf"), col("values")),
      as)
  }

  /** BUILD the ancestor closure the reference takes as precomputed
    * input (its ontology files ship `ancestors[]` per term;
    * [[expandTerms]] consumes them) — transitive closure of a
    * child→parent DAG by ITERATIVE DOUBLING: after round r the path
    * set holds every ancestor within 2^r hops, so a depth-d hierarchy
    * closes in ⌈log₂ d⌉ self-joins instead of the d chained rounds a
    * naive loop (or a recursive CTE — exactly what the oracle runs)
    * needs. At a 100 TB scale the round COUNT is the driver-side
    * bottleneck (each round is one shuffle join however big the
    * frontier), which is why doubling matters: a depth-10⁶ lineage
    * chain closes in 20 rounds.
    *
    * Convergence is a LOUD contract: the path count reaching a fixed
    * point IS closure (doubling is monotone); `maxDoublings` caps the
    * rounds and a non-converged exit throws rather than returning a
    * partial closure. Budget ⌈log₂ depth⌉ + 1 rounds — the last one
    * is the CONFIRMING round that observes no growth.
    *
    * @param edges (child, anc) direct-parent rows. DAGs only. A cycle
    *              does NOT hang the fixpoint — a cyclic graph still
    *              has a finite transitive closure (one that contains
    *              reflexive child==anc rows), so the doubling loop
    *              converges normally; cycles are instead detected by
    *              a reflexive-row flag riding each round's fixpoint
    *              aggregate (any child==anc row ⟺ the input had a
    *              cycle; reflexive rows are monotone under doubling)
    *              and throw the round the cycle first closes, rather
    *              than returning a closure whose reflexive rows would
    *              silently poison [[expandTerms]]
    * @return (child, anc) — every proper ancestor of every node
    */
  def ancestorClosure(
      edges: DataFrame, maxDoublings: Int = 12,
      smallGraphEdges: Long = DriverKernel.MaxEdges): DataFrame = {
    require(maxDoublings >= 1 && maxDoublings <= 30,
      s"maxDoublings out of range: $maxDoublings")
    // Cycle detection rides the fixpoint count: on a DAG no path
    // returns to its origin, so any reflexive row proves a cycle, and
    // reflexive rows are monotone under doubling — checking each
    // round's (count, reflexive) aggregate catches a cycle the round
    // it first closes, at ZERO extra jobs (round 12 paid a separate
    // post-convergence count job per call — a measured 1.55× on the
    // closure face).
    def countAndCyclic(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(when(col("child") === col("anc"), 1L).otherwise(0L))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def requireAcyclic(cyc: Long): Unit = require(cyc == 0,
      "ancestorClosure: input has a cycle (a node is its own ancestor)")
    var paths = edges.select(col("child"), col("anc")).distinct()
      .localCheckpoint()
    // Dim-hierarchy driver kernel (round 18; [[DriverKernel]]): each
    // doubling round is 3-4 scheduler jobs, and a 20k-node ontology
    // paid ~40 jobs (~3.4 s at 32 cores) of pure round overhead for a
    // 267k-row closure. Under the edge gate the pinned DIRECT edges
    // collect and the exact closure runs as one memoized topological
    // pass; the budget contract is preserved (throws for depth >
    // 2^(maxDoublings-1), exactly when the doubling loop would fail
    // its converged require), cycles — self-loops included — throw the
    // same requireAcyclic message, and null keys or a closure that
    // would outgrow the driver bound fall back to the distributed loop.
    val small = DriverKernel.longEdges(paths, smallGraphEdges)
      .flatMap(smallClosure(paths.sparkSession, _, maxDoublings))
    if (small.isDefined) return small.get
    var (n, cyc0) = countAndCyclic(paths)
    requireAcyclic(cyc0) // a self-loop edge is a cycle before any doubling
    var converged = false
    var i = 0
    while (!converged && i < maxDoublings) {
      val next = paths.unionByName(
          paths.select(col("child"), col("anc").as("__mid"))
            .join(paths.select(col("child").as("__mid"), col("anc")),
              "__mid")
            .select(col("child"), col("anc")))
        .distinct()
        .localCheckpoint()
      val (m, cycR) = countAndCyclic(next)
      requireAcyclic(cycR)
      converged = m == n
      n = m
      paths = next
      i += 1
    }
    require(converged,
      s"ancestorClosure did not converge in $maxDoublings doublings " +
        s"(depth > 2^$maxDoublings)")
    paths
  }

  /** Driver kernel for [[ancestorClosure]] under the dim-hierarchy
    * gate: one memoized Kahn pass over the collected direct-edge
    * arrays — anc(v) = ∪ over parents p of ({p} ∪ anc(p)), processed
    * parents-first, so every set is built exactly once. Returns None
    * (→ distributed fallback) when the closure would exceed `maxRows`
    * driver rows (a 500k-edge deep-chain worst case is quadratic — the
    * cap keeps the kernel codebook-class); null keys never reach it
    * ([[DriverKernel.longEdges]] returns None for them).
    * Budget + cycle contracts mirror the doubling loop exactly:
    *  - cycle ⟹ the same requireAcyclic failure (Kahn leaves the
    *    cycle's nodes unprocessed);
    *  - longest ancestor chain d > 2^(maxDoublings−1) ⟹ the same
    *    non-convergence failure the loop's confirming-round
    *    arithmetic produces (complete after ⌈log₂ d⌉ rounds + 1
    *    confirming round ≤ maxDoublings ⟺ d ≤ 2^(maxDoublings−1)).
    */
  private def smallClosure(
      spark: org.apache.spark.sql.SparkSession, g: LongEdges,
      maxDoublings: Int, maxRows: Long = 4000000L): Option[DataFrame] = {
    val (childA, parentA, m, nNodes) = (g.src, g.dst, g.m, g.index.n)
    // adjacency: children-of(p) over the dependency order (anc(v)
    // needs anc(parent) first), plus per-node pending-parent counts
    val childCount = new Array[Int](nNodes)
    val pending = new Array[Int](nNodes)
    var i = 0
    while (i < m) {
      childCount(parentA(i)) += 1; pending(childA(i)) += 1; i += 1
    }
    val childStart = new Array[Int](nNodes + 1)
    i = 0
    while (i < nNodes) { childStart(i + 1) = childStart(i) + childCount(i); i += 1 }
    val childIdx = new Array[Int](m); val fill = childStart.clone()
    i = 0
    while (i < m) {
      childIdx(fill(parentA(i))) = childA(i); fill(parentA(i)) += 1; i += 1
    }
    val anc = new Array[java.util.HashSet[java.lang.Long]](nNodes)
    val depth = new Array[Int](nNodes)
    var queue = scala.collection.mutable.Queue.empty[Int]
    i = 0
    while (i < nNodes) { if (pending(i) == 0) queue += i; i += 1 }
    var processed = 0
    var total = 0L
    while (queue.nonEmpty) {
      val p = queue.dequeue()
      processed += 1
      val pAnc = anc(p)
      var j = childStart(p)
      while (j < childStart(p + 1)) {
        val v = childIdx(j)
        if (anc(v) == null) anc(v) = new java.util.HashSet[java.lang.Long]()
        val before = anc(v).size
        anc(v).add(g.index.id(p))
        if (pAnc != null) anc(v).addAll(pAnc)
        total += anc(v).size - before
        if (total > maxRows) return None // driver bound: fall back
        val d = depth(p) + 1
        if (d > depth(v)) depth(v) = d
        pending(v) -= 1
        if (pending(v) == 0) queue += v
        j += 1
      }
    }
    require(processed == nNodes,
      "ancestorClosure: input has a cycle (a node is its own ancestor)")
    val maxDepth = depth.maxOption.getOrElse(0).toLong // 0 on no edges
    require(maxDepth <= (1L << (maxDoublings - 1)),
      s"ancestorClosure did not converge in $maxDoublings doublings " +
        s"(depth > 2^$maxDoublings)")
    val out = new Array[(Long, Long)](total.toInt)
    var k = 0
    i = 0
    while (i < nNodes) {
      val s = anc(i)
      if (s != null) {
        val it = s.iterator()
        while (it.hasNext) { out(k) = (g.index.id(i), it.next()); k += 1 }
      }
      i += 1
    }
    import spark.implicits._
    Some(out.toSeq.toDF("child", "anc"))
  }
}
