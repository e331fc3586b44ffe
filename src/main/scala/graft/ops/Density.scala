package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid-partitioned DBSCAN (Ester et al., KDD'96) over integer 2-D
  * points — density clustering with explicit noise, the cluster family
  * the centroid ops (Lloyd/IVF/SemDeDup) cannot express: clusters of
  * arbitrary shape, no k chosen in advance, outliers labeled instead
  * of absorbed.
  *
  * Scale shape — the textbook grid method, relationally:
  * every point lands in an eps-sized cell (integer floor-div via
  * `pmod`, exact for negatives in BOTH engines — `div` truncates and
  * would split the grid at zero); each point PROBES its 3×3 cell
  * neighborhood (a 9-row map-side explode), and candidates equi-join
  * probe-cell = home-cell. Any true eps-neighbor differs by < 1 cell
  * in each axis, so the 9-cell probe is COMPLETE; each directed pair
  * is found under exactly one offset, so no dedup pass is needed. The
  * exact distance test runs in decimal (coords ~1e11 square past
  * 2^63). Density skew = cell occupancy: eps bounds the cell, so a
  * pathological cell costs a bigger shuffle bucket, never unbounded
  * task state; shrink eps (or pre-salt a hot cell) the way the skew
  * ops do. Core flags are one count; clusters are
  * [[Graph.connectedComponents]] over CORE-CORE edges (the collision
  * subgraph, not the corpus); border points attach to the MINIMUM
  * neighboring core component (a deterministic tie rule — plain
  * DBSCAN leaves border assignment order-dependent, which would break
  * the oracle).
  *
  * All arithmetic is integer/decimal-exact, so the full pipeline is
  * engine-portable: the DuckDB oracle replays grid, probe, distance,
  * core test, a recursive-CTE components pass, and border attachment
  * bit-for-bit.
  *
  * @param eps    radius in the coordinate's integer units (> 0)
  * @param minPts core test: |N_eps(p)| ≥ minPts, self included
  * @param ccMaxIters round budget for the core-graph connected-
  *         components pass ([[Graph.connectedComponents]] fails loudly
  *         rather than returning partial labels; raise for graphs that
  *         need more than the default 30 star rounds)
  * @return (id, cluster, role): role core|border|noise; cluster is the
  *         component's minimum point id, null for noise
  */
object Density {

  def dbscan(
      points: DataFrame, id: String, x: String, y: String,
      eps: Long, minPts: Int, ccMaxIters: Int = 30): DataFrame = {
    require(eps > 0, s"eps must be positive: $eps")
    require(minPts >= 1, s"minPts must be >= 1: $minPts")
    val pts = points.select(
      col(id).as("pid"), col(x).cast("long").as("px"),
      col(y).cast("long").as("py")).localCheckpoint()
    def cellOf(c: String) = expr(s"($c - pmod($c, ${eps}L)) div ${eps}L")
    val homed = pts.select(col("pid"), col("px"), col("py"),
      cellOf("px").as("cx"), cellOf("py").as("cy"))
    val offsets = Seq(-1, 0, 1).flatMap(dx => Seq(-1, 0, 1).map(dy => (dx, dy)))
    val probes = homed.select(col("pid").as("qid"), col("px").as("qx"),
      col("py").as("qy"),
      explode(typedlit(offsets)).as("o"),
      col("cx"), col("cy"))
      .select(col("qid"), col("qx"), col("qy"),
        (col("cx") + col("o._1")).as("cx"), (col("cy") + col("o._2")).as("cy"))
    val dx = (col("qx") - col("px")).cast("decimal(19,0)")
    val dy = (col("qy") - col("py")).cast("decimal(19,0)")
    // directed neighbor pairs (qid → pid), both directions present by
    // construction; the per-pair shuffle key is the cell
    val pairs =
      probes.join(homed.select(col("pid"), col("px"), col("py"),
          col("cx"), col("cy")), Seq("cx", "cy"))
        .filter(col("qid") =!= col("pid"))
        .filter(dx * dx + dy * dy <=
          lit(java.math.BigDecimal.valueOf(eps).pow(2)))
        .select(col("qid"), col("pid")).localCheckpoint()
    val core = pairs.groupBy(col("qid"))
      .agg((count(lit(1)) + 1).as("nsize"))
      .filter(col("nsize") >= minPts)
      .select(col("qid").as("coreid"))
    val coreEdges = pairs
      .join(core.select(col("coreid").as("qid")), Seq("qid"))
      .join(core.select(col("coreid").as("pid")), Seq("pid"))
      .select(col("qid").as("a"), col("pid").as("b"))
    val labeled = Graph.connectedComponents(coreEdges, nodes = Some(core),
        maxIters = ccMaxIters)
      .select(col("node").as("pid"), col("component").as("cluster"))
    // border: non-core with a core neighbor — minimum neighboring
    // core component (deterministic; vanilla DBSCAN is order-dependent)
    val border = pairs
      .join(labeled.select(col("pid"), col("cluster")), Seq("pid"))
      .join(core.select(col("coreid").as("qid")), Seq("qid"), "left_anti")
      .groupBy(col("qid").as("pid"))
      .agg(min(col("cluster")).as("cluster"))
    val coreOut = labeled.withColumn("role", lit("core"))
    val borderOut = border.withColumn("role", lit("border"))
    pts.select(col("pid"))
      .join(coreOut.unionByName(borderOut), Seq("pid"), "left")
      .select(col("pid").as(id), col("cluster"),
        coalesce(col("role"), lit("noise")).as("role"))
  }

  /** EXACT external clustering evaluation — purity and the Adjusted
    * Rand Index (Hubert & Arabie 1985) of a predicted assignment
    * against ground-truth labels, the quality gate any clustering
    * stage ([[dbscan]], the IVF coarse quantizer, near-dup
    * collapse-by-cluster) should report before its output feeds
    * training:
    *
    *   purity = (Σ_c max_l n_cl) / N
    *   ARI    = (P·I − ΣA·ΣB) / (P·(ΣA+ΣB)/2 − ΣA·ΣB)
    *            with I = Σ C(n_cl,2), ΣA = Σ C(a_c,2),
    *            ΣB = Σ C(b_l,2), P = C(N,2)
    *
    * EXACT arithmetic: every term is an integer; the ARI fraction is
    * emitted doubled (`ari_num = 2(P·I − ΣA·ΣB)`,
    * `ari_den = P·(ΣA+ΣB) − 2·ΣA·ΣB`) so no division truncates, as
    * DECIMAL(38,0) strings (the q_trend_slope device — products reach
    * N⁴/8, past a long at ~10⁵ rows); the one double division runs on
    * identical operands in both engines. Rows whose assignment is
    * NULL (dbscan noise) are excluded by the inner join — report
    * `n_eval` next to the scores rather than silently scoring noise.
    *
    * Scale shape: one inner equi-join of the two label frames, one
    * (cluster, label) count with map-side combine, then everything is
    * contingency-table-sized; the four scalar aggregates ride one-row
    * broadcast carriers into the single output row.
    */
  def clusterEval(
      assign: DataFrame, id: String, cluster: String,
      truth: DataFrame, label: String): DataFrame = {
    val cont = assign
      .filter(col(cluster).isNotNull)
      .select(col(id), col(cluster).as("__c"))
      .join(truth.select(col(id), col(label).as("__l")), id)
      .groupBy(col("__c"), col("__l"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint() // four aggregate consumers below
    def c2(c: org.apache.spark.sql.Column) =
      (c.cast("decimal(38,0)") * (c - 1)) / 2
    val tot = cont.agg(sum(col("__n")).as("__N"),
      sum(c2(col("__n"))).cast("decimal(38,0)").as("__I"),
      countDistinct(col("__c")).as("n_clusters"),
      countDistinct(col("__l")).as("n_labels"))
    val pa = cont.groupBy(col("__c")).agg(sum(col("__n")).as("__a"),
        max(col("__n")).as("__m"))
      .agg(sum(c2(col("__a"))).cast("decimal(38,0)").as("__SA"),
        sum(col("__m")).as("purity_num"))
    val pb = cont.groupBy(col("__l")).agg(sum(col("__n")).as("__b"))
      .agg(sum(c2(col("__b"))).cast("decimal(38,0)").as("__SB"))
    tot.crossJoin(broadcast(pa)).crossJoin(broadcast(pb))
      .withColumn("__P", c2(col("__N")).cast("decimal(38,0)"))
      .select(
        col("__N").as("n_eval"), col("n_clusters"), col("n_labels"),
        col("purity_num"),
        round(col("purity_num").cast("double") / col("__N"), 6)
          .as("purity"),
        (lit(2) * (col("__P") * col("__I") - col("__SA") * col("__SB")))
          .cast("decimal(38,0)").cast("string").as("ari_num"),
        (col("__P") * (col("__SA") + col("__SB")) -
          lit(2) * col("__SA") * col("__SB"))
          .cast("decimal(38,0)").cast("string").as("ari_den"))
      // both-partitions-trivial degenerate (e.g. one cluster, one
      // label): num = den = 0 and ARI is undefined — emit NULL rather
      // than invent a score; the num/den strings still show the case
      .withColumn("ari",
        when(col("ari_den").cast("double") =!= 0.0,
          round(col("ari_num").cast("double") /
            col("ari_den").cast("double"), 9)))
  }
}
