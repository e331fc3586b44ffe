package graft.queries

import graft.core.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Graph-operator faces over a real derived graph: parts co-ordered in
  * the same basket (the lineitem self-join on order key) form an
  * undirected product graph — sparse at support ≥ 3 (components +
  * isolated-node stitching exercised), denser at support ≥ 2 (a
  * non-trivial PageRank mass distribution).
  *
  * Oracle strategy: connected components are SQL-expressible as a
  * recursive min-reachability CTE (DuckDB WITH RECURSIVE; UNION
  * dedupes so the fixpoint terminates); the integer PageRank unrolls
  * its fixed iteration count as chained CTEs computing EXACTLY the
  * same truncating integer arithmetic — both engines agree bit-for-bit
  * (no float summation, no libm; see [[graft.ops.Graph.pageRankInt]]).
  */
object GraphQueries {
  import QueryDef.sql

  /** Shared edge derivation: co-ordered part pairs at `sup`port. */
  private def edgeSql(sup: Int) =
    s"""SELECT l1.l_partkey AS a, l2.l_partkey AS b
       |  FROM lineitem l1 JOIN lineitem l2
       |    ON l1.l_orderkey = l2.l_orderkey
       |   AND l1.l_partkey < l2.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $sup""".stripMargin

  /** Full-rebuild CC oracle over ALL support-3 edges — shared by the
    * frame-level (`q_cc_incremental`) and store-backed (`q_cc_store`)
    * incremental faces: both must equal one CC over the union. */
  private lazy val ccUnionOracle =
    s"""WITH RECURSIVE e0 AS (
       |${edgeSql(3)}),
       |sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
       |nodes AS (SELECT DISTINCT a AS v FROM sym),
       |cc AS (
       |  SELECT v, v AS m FROM nodes
       |  UNION
       |  SELECT s.b AS v, cc.m FROM sym s JOIN cc ON s.a = cc.v)
       |SELECT v AS node, min(m) AS component FROM cc
       |GROUP BY 1""".stripMargin

  /** Engine-side edge derivation: ONE basket shuffle + map-side pair
    * expansion — not the oracle's self-join (two fact exchanges + a
    * join). Baskets are order-sized (bounded small), so the collected
    * list and the |basket|² pair fan-out are per-row constants; over
    * all index pairs i<j the (least, greatest) emission count equals
    * the self-join's row-pair count exactly (na·nb per value pair),
    * so both derivations agree including within-basket multiplicity.
    */
  private[graft] def edges(s: org.apache.spark.sql.SparkSession, d: String,
      sup: Int): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, d)
      // Project to the two needed columns, then establish the groupBy's
      // own hash partitioning right after the scan (guide §2.4/§2.5):
      // the single-row-group input plans a ONE-task scan, and without
      // this the basket collect_list's partial aggregation (and the
      // per-basket pair fan-out feeding it) runs on one core. The
      // explicit repartition shares the exchange with the groupBy (same
      // key, same partition count — one shuffle total), moving the
      // aggregation work to the full cluster while the starved scan
      // task only decodes two columns and writes shuffle blocks.
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_partkey")).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("ps")) - 2),
        i => transform(
          slice(col("ps"), i + lit(2), size(col("ps"))),
          p => struct(
            least(element_at(col("ps"), (i + 1).cast("int")), p).as("a"),
            greatest(element_at(col("ps"), (i + 1).cast("int")), p).as("b"))))))
        .as("e"))
      .select(col("e.a"), col("e.b"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= sup)
      .select(col("a"), col("b"))

  /** [[edges]] with the basket-support count kept as the edge weight
    * `w` — the integer-weighted graph for the SSSP face. */
  private[graft] def weightedEdges(s: org.apache.spark.sql.SparkSession,
      d: String, sup: Int): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, d)
      // same deficient-scan relief as [[edges]] — one shared exchange
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_partkey")).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("ps")) - 2),
        i => transform(
          slice(col("ps"), i + lit(2), size(col("ps"))),
          p => struct(
            least(element_at(col("ps"), (i + 1).cast("int")), p).as("a"),
            greatest(element_at(col("ps"), (i + 1).cast("int")), p).as("b"))))))
        .as("e"))
      .select(col("e.a"), col("e.b"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= sup)

  /** The PageRank oracle: the same integer fixed point, unrolled.
    * `e0Ctes` is any CTE chain whose last member defines
    * `e0 (a, b)` — the directed edge candidates (self-loops are
    * dropped by the symmetric closure here, mirroring the engine's
    * [[graft.ops.Graph]] `symmetric`). Shared with the TextRank face
    * in [[RankingQueries]]. */
  private[queries] def pageRankOracle(e0Ctes: String, iters: Int): String = {
    val scale = graft.ops.Graph.Scale
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node, sum(r.rank_u // d.deg)::BIGINT AS s
         |  FROM sym e JOIN r${k - 1} r ON e.src = r.node
         |  JOIN deg d ON d.src = e.src
         |  GROUP BY 1),
         |r$k AS (
         |  SELECT node,
         |    ((15 * ($scale // (SELECT nv FROM n))) // 100
         |     + (85 * s) // 100)::BIGINT AS rank_u
         |  FROM c$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $e0Ctes,
       |sym AS (SELECT a AS src, b AS dst FROM e0 WHERE a <> b
       |        UNION SELECT b, a FROM e0 WHERE a <> b),
       |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
       |n AS (SELECT count(*) AS nv FROM deg),
       |r0 AS (SELECT src AS node,
       |         ($scale // (SELECT nv FROM n))::BIGINT AS rank_u
       |       FROM deg),
       |$iterCtes
       |SELECT node, rank_u FROM r$iters""".stripMargin
  }

  /** The DIRECTED PageRank oracle: [[graft.ops.Graph.pageRankIntDirected]]'s
    * exact integer fixed point unrolled as chained CTEs, INCLUDING the
    * dangling-mass redistribution term. `e0Ctes`' last member defines
    * `e0 (a, b)` = directed a→b candidates; dedup/self-loop drop here
    * mirrors the engine. All sums cast ::BIGINT (DuckDB sum(BIGINT) is
    * HUGEINT — the r7 q_sessionize hash-type lesson). */
  private[queries] def pageRankDirectedOracle(
      e0Ctes: String, iters: Int): String = {
    val scale = graft.ops.Graph.Scale
    val iterCtes = (1 to iters).map { k =>
      s"""c$k AS (
         |  SELECT e.dst AS node, sum(r.rank_u // d.deg)::BIGINT AS s
         |  FROM e JOIN r${k - 1} r ON e.src = r.node
         |  JOIN outdeg d ON d.src = e.src
         |  GROUP BY 1),
         |d$k AS (
         |  SELECT coalesce(sum(r.rank_u), 0)::BIGINT AS dm
         |  FROM r${k - 1} r JOIN dang g ON r.node = g.node),
         |r$k AS (
         |  SELECT v.node,
         |    ((15 * ($scale // (SELECT nv FROM n))) // 100
         |     + (85 * (coalesce(c.s, 0)
         |              + ((SELECT dm FROM d$k) // (SELECT nv FROM n)))) // 100
         |    )::BIGINT AS rank_u
         |  FROM verts v LEFT JOIN c$k c ON v.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $e0Ctes,
       |e AS (SELECT DISTINCT a AS src, b AS dst FROM e0 WHERE a <> b),
       |outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |verts AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |n AS (SELECT count(*) AS nv FROM verts),
       |dang AS (SELECT v.node FROM verts v
       |         LEFT JOIN outdeg o ON v.node = o.src
       |         WHERE o.src IS NULL),
       |r0 AS (SELECT node,
       |         ($scale // (SELECT nv FROM n))::BIGINT AS rank_u
       |       FROM verts),
       |$iterCtes
       |SELECT node, rank_u FROM r$iters""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- connected components over the sparse (support ≥ 3)
    //      co-purchase graph, every part in the universe labeled:
    //      isolated parts come back as singletons. Large-star/
    //      small-star in the engine; min-reachability recursion in
    //      the oracle — same fixpoint ----
    sql(
      "q_connected_components",
      s"""WITH RECURSIVE e0 AS (
         |${edgeSql(3)}),
         |sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         |nodes AS (SELECT DISTINCT l_partkey AS v FROM lineitem),
         |cc AS (
         |  SELECT v, v AS m FROM nodes
         |  UNION
         |  SELECT s.b AS v, cc.m FROM sym s JOIN cc ON s.a = cc.v)
         |SELECT v AS node, min(m) AS component FROM cc
         |GROUP BY 1""".stripMargin) { (s, d) =>
      graft.ops.Graph.connectedComponents(
        edges(s, d, 3),
        nodes = Some(Tables.lineitem(s, d).select(col("l_partkey")).distinct()))
    },

    // ---- multi-source BFS hop distances (4 hops, support-2 graph,
    //      seeds = partkeys ≡ 0 mod 97 — including isolated seeds
    //      that never enter the edge list, pinned at distance 0);
    //      the oracle replays the frontier expansion as a bounded
    //      recursive CTE with a min-distance fold ----
    sql(
      "q_bfs_dist",
      s"""WITH RECURSIVE e0 AS (
         |${edgeSql(2)}),
         |sym AS (SELECT a AS src, b AS dst FROM e0
         |        UNION SELECT b, a FROM e0),
         |seeds AS (SELECT DISTINCT l_partkey AS node FROM lineitem
         |          WHERE l_partkey % 97 = 0),
         |d AS (
         |  SELECT node, 0 AS dist FROM seeds
         |  UNION
         |  SELECT s.dst, d.dist + 1 FROM d JOIN sym s ON d.node = s.src
         |  WHERE d.dist < 4)
         |SELECT node, min(dist)::BIGINT AS dist FROM d
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val seeds = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 97 === 0)
        .select(col("l_partkey")).distinct()
      graft.ops.Graph.bfsDistances(edges(s, d, 2), seeds, maxHops = 4)
    },

    // ---- link prediction: non-adjacent support-2 pairs with ≥2
    //      common neighbors, scored by common-neighbor count and
    //      preferential attachment — the oracle replays the wedge
    //      self-join, the non-edge anti-join, and the degree joins ----
    sql(
      "q_link_predict",
      s"""WITH e0 AS (
         |${edgeSql(2)}),
         |sym AS (SELECT a AS src, b AS dst FROM e0
         |        UNION SELECT b, a FROM e0),
         |deg AS (SELECT src AS v, count(*)::BIGINT AS deg
         |        FROM sym GROUP BY 1),
         |p AS (
         |  SELECT x.src AS a, y.src AS b, count(*)::BIGINT AS n_common
         |  FROM sym x JOIN sym y
         |    ON x.dst = y.dst AND x.src < y.src
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |ne AS (
         |  SELECT p.* FROM p LEFT JOIN e0
         |    ON p.a = e0.a AND p.b = e0.b
         |  WHERE e0.a IS NULL)
         |SELECT ne.a, ne.b, n_common, da.deg AS deg_a,
         |  db.deg AS deg_b, (da.deg * db.deg)::BIGINT AS pref_attach
         |FROM ne JOIN deg da ON ne.a = da.v
         |        JOIN deg db ON ne.b = db.v""".stripMargin) { (s, d) =>
      graft.ops.Graph.linkCandidates(edges(s, d, 2), minCommon = 2L)
    },

    // ---- bounded Bellman-Ford (4 synchronous relaxation rounds,
    //      basket-support counts as integer weights, same mod-97
    //      seeds): dist = cheapest ≤4-edge path from any seed —
    //      exact integers, the oracle unrolls the identical rounds ----
    sql(
      "q_sssp", {
        val iterCtes = (1 to 4).map { k =>
          s"""d$k AS (
             |  SELECT node, min(dist) AS dist FROM (
             |    SELECT node, dist FROM d${k - 1}
             |    UNION ALL
             |    SELECT e.dst AS node, d.dist + e.w AS dist
             |    FROM d${k - 1} d JOIN sym e ON d.node = e.src)
             |  GROUP BY node)""".stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (
           |  SELECT l1.l_partkey AS a, l2.l_partkey AS b,
           |    count(*)::BIGINT AS w
           |  FROM lineitem l1 JOIN lineitem l2
           |    ON l1.l_orderkey = l2.l_orderkey
           |   AND l1.l_partkey < l2.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |sym AS (SELECT a AS src, b AS dst, w FROM e0
           |        UNION SELECT b, a, w FROM e0),
           |d0 AS (SELECT DISTINCT l_partkey AS node, 0::BIGINT AS dist
           |       FROM lineitem WHERE l_partkey % 97 = 0),
           |$iterCtes
           |SELECT node, dist::BIGINT AS dist FROM d4""".stripMargin
      }) { (s, d) =>
      val seeds = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 97 === 0)
        .select(col("l_partkey")).distinct()
      graft.ops.Graph.ssspInt(weightedEdges(s, d, 2), seeds, rounds = 4)
    },

    // ---- synchronous label propagation (4 rounds, neighbor-mode
    //      labels, ties to the smaller label) — community detection
    //      on the support-3 co-purchase graph; the oracle unrolls the
    //      rounds as chained mode CTEs ----
    sql(
      "q_label_prop", {
        val iterCtes = (1 to 4).map { k =>
          s"""c$k AS (
             |  SELECT dst, label, count(*) AS n FROM (
             |    SELECT s.dst, l.label
             |    FROM sym s JOIN l${k - 1} l ON s.src = l.node
             |    UNION ALL SELECT node, label FROM l${k - 1})
             |  GROUP BY 1, 2),
             |m$k AS (
             |  SELECT dst, label FROM (
             |    SELECT dst, label,
             |      row_number() OVER (PARTITION BY dst
             |                         ORDER BY n DESC, label) AS rn
             |    FROM c$k) WHERE rn = 1),
             |l$k AS (
             |  SELECT l.node, coalesce(m.label, l.label) AS label
             |  FROM l${k - 1} l LEFT JOIN m$k m ON m.dst = l.node)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (
           |${edgeSql(3)}),
           |sym AS (SELECT a AS src, b AS dst FROM e0
           |        UNION SELECT b, a FROM e0),
           |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
           |$iterCtes
           |SELECT node, label AS community FROM l4""".stripMargin
      }) { (s, d) =>
      graft.ops.Graph.labelPropagation(edges(s, d, 3), iters = 4)
    },

    // ---- integer PageRank, 5 rounds, damping 85/100, on the denser
    //      (support ≥ 2) co-purchase graph — ranks in 1e-12 micro-
    //      units, bit-identical in both engines by construction ----
    sql(
      "q_pagerank",
      pageRankOracle(s"e0 AS (\n${edgeSql(2)})", iters = 5)) { (s, d) =>
      graft.ops.Graph.pageRankInt(edges(s, d, 2), iters = 5)
    },

    // ---- PERSONALIZED PageRank: teleport restricted to the id%7==0
    //      seed vertices — proximity-to-trusted-seeds scoring, same
    //      exact-integer fixed point, seed-conditional base term
    //      unrolled in the oracle ----
    sql(
      "q_pagerank_seeded", {
        val scale = graft.ops.Graph.Scale
        val iterCtes = (1 to 5).map { k =>
          s"""c$k AS (
             |  SELECT e.dst AS node, sum(r.rank_u // d.deg)::BIGINT AS s
             |  FROM sym e JOIN r${k - 1} r ON e.src = r.node
             |  JOIN deg d ON d.src = e.src
             |  GROUP BY 1),
             |r$k AS (
             |  SELECT c.node,
             |    (CASE WHEN sd.node IS NOT NULL
             |       THEN (15 * ($scale // (SELECT n FROM ns))) // 100
             |       ELSE 0 END
             |     + (85 * c.s) // 100)::BIGINT AS rank_u
             |  FROM c$k c LEFT JOIN seeds sd ON c.node = sd.node)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS (
           |${edgeSql(2)}),
           |sym AS (SELECT a AS src, b AS dst FROM e0 WHERE a <> b
           |        UNION SELECT b, a FROM e0 WHERE a <> b),
           |deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
           |seeds AS (SELECT src AS node FROM deg WHERE src % 7 = 0),
           |ns AS (SELECT count(*) AS n FROM seeds),
           |r0 AS (
           |  SELECT d.src AS node,
           |    (CASE WHEN sd.node IS NOT NULL
           |       THEN $scale // (SELECT n FROM ns)
           |       ELSE 0 END)::BIGINT AS rank_u
           |  FROM deg d LEFT JOIN seeds sd ON d.src = sd.node),
           |$iterCtes
           |SELECT node, rank_u FROM r5""".stripMargin
      }) { (s, d) =>
      val e = edges(s, d, 2).localCheckpoint() // seeds derive from it too
      val seeds = e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .distinct()
        .filter(col("node") % 7 === 0)
      graft.ops.Graph.personalizedPageRankInt(e, seeds, iters = 5)
    },

    // ---- 3-core of the support-2 co-purchase graph: 8 fixed peeling
    //      rounds (convergence on this graph spec'd in GraphSpec),
    //      unrolled as degree/filter CTE chains in the oracle ----
    sql(
      "q_kcore", {
        // MATERIALIZED is load-bearing: each round references the
        // previous round's edge set multiple times, and DuckDB
        // inlines plain CTEs per reference — 8 rounds would re-expand
        // the base scan exponentially (observed as fd exhaustion)
        val rounds = (1 to 8).map { r =>
          s"""kv$r AS MATERIALIZED (
             |  SELECT src FROM e${r - 1} GROUP BY src
             |  HAVING count(*) >= 3),
             |e$r AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM e${r - 1} e
             |  JOIN kv$r a ON e.src = a.src
             |  JOIN kv$r b ON e.dst = b.src)""".stripMargin
        }.mkString(",\n")
        s"""WITH e00 AS MATERIALIZED (
           |${edgeSql(2)}),
           |e0 AS MATERIALIZED (
           |       SELECT a AS src, b AS dst FROM e00 WHERE a <> b
           |       UNION SELECT b, a FROM e00 WHERE a <> b),
           |$rounds
           |SELECT src AS node, count(*)::BIGINT AS core_deg
           |FROM e8 GROUP BY 1""".stripMargin
      }) { (s, d) =>
      graft.ops.Graph.kCore(edges(s, d, 2), k = 3, rounds = 8)
    },

    // ---- INCREMENTAL connected components: prior labeling of the
    //      (a+b)%5!=0 edge subset + the remaining edges as the new
    //      batch — must equal the full rebuild, which is exactly what
    //      the oracle recomputes over ALL edges ----
    sql(
      "q_cc_incremental",
      ccUnionOracle) { (s, d) =>
      val all = edges(s, d, 3).localCheckpoint() // split consumes twice
      val old = all.filter((col("a") + col("b")) % 5 =!= 0)
      val nw = all.filter((col("a") + col("b")) % 5 === 0)
      val prior = graft.ops.Graph.connectedComponents(old)
      graft.ops.Graph.incrementalComponents(prior, nw)
    },

    // ---- PERSISTED incremental CC: the same prior/batch split
    //      folded through the bucket-pruned GraphStore (init from the
    //      prior labeling is per-JVM scaffolding; the face runs
    //      applyBatch — idempotent under re-delivery, so bench reps
    //      replay it safely — then exports the resolved labeling).
    //      Same full-rebuild oracle as q_cc_incremental: the stored
    //      raw labels + rebase table must resolve to EXACTLY the
    //      labeling one CC over the union computes ----
    sql(
      "q_cc_store",
      ccUnionOracle) { (s, d) =>
      val dir = graft.core.Scratch.onceDir("cc_store", d) { p =>
        val all = edges(s, d, 3).localCheckpoint()
        val old = all.filter((col("a") + col("b")) % 5 =!= 0)
        graft.ops.GraphStore.init(
          graft.ops.Graph.connectedComponents(old), p)
      }
      val nw = edges(s, d, 3)
        .filter((col("a") + col("b")) % 5 === 0)
      graft.ops.GraphStore.applyBatch(s, dir, nw)
      graft.ops.GraphStore.read(s, dir)
    },

    // ---- DIRECTED integer PageRank with dangling-mass
    //      redistribution on the same co-purchase pairs taken as
    //      directed low→high edges: parts that are never the smaller
    //      member of a pair have no out-edge and become genuine
    //      dangling sinks, so the D div N term is exercised for real.
    //      Bit-identical across engines like q_pagerank ----
    sql(
      "q_pagerank_directed",
      pageRankDirectedOracle(s"e0 AS (\n${edgeSql(2)})", iters = 5)) {
      (s, d) =>
      graft.ops.Graph.pageRankIntDirected(edges(s, d, 2), iters = 5)
    },

    // ---- exact triangle count on the co-purchase graph
    //      (community-density signal). Engine orients by (degree, id)
    //      — the O(√m) out-neighborhood bound — while the oracle
    //      replays in plain id order: the count is
    //      orientation-invariant, so agreement checks BOTH the wedge
    //      enumeration and that invariance ----
    sql(
      "q_triangles",
      s"""WITH ed AS (
         |${edgeSql(2)})
         |SELECT count(*) AS n_triangles
         |FROM ed e1
         |JOIN ed e2 ON e2.a = e1.b
         |JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin) {
      (s, d) =>
      graft.ops.Graph.triangleCount(edges(s, d, 2))
    },

    // ---- degree distribution (round 16): (degree, node count) of
    //      the co-purchase graph — the power-law profile read before
    //      choosing support thresholds / salting strategies; two
    //      aggregations, both degree-shaped ----
    sql(
      "q_degree_dist",
      s"""WITH ed AS (
         |${edgeSql(2)}),
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION SELECT b, a FROM ed),
         |deg AS (SELECT src, count(*)::BIGINT AS deg
         |        FROM sym GROUP BY 1)
         |SELECT deg, count(*)::BIGINT AS n_nodes
         |FROM deg GROUP BY 1""".stripMargin) { (s, d) =>
      val e = edges(s, d, 2)
      e.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
        .distinct()
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    },

    // ---- global transitivity (round 16): 3·triangles / wedges on
    //      the ppm grid — the one-number clustering summary next to
    //      the per-node coefficients; triangle count reuses the
    //      oriented enumeration, wedges are Σ deg·(deg−1)/2 ----
    sql(
      "q_transitivity",
      s"""WITH ed AS (
         |${edgeSql(2)}),
         |tr AS (
         |  SELECT count(*)::BIGINT AS n_triangles
         |  FROM ed e1
         |  JOIN ed e2 ON e2.a = e1.b
         |  JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION SELECT b, a FROM ed),
         |wg AS (
         |  SELECT sum(deg * (deg - 1) // 2)::BIGINT AS n_wedges
         |  FROM (SELECT count(*)::BIGINT AS deg FROM sym GROUP BY src))
         |SELECT n_triangles, n_wedges,
         |  ((3 * n_triangles * 1000000)
         |    // greatest(n_wedges, 1))::BIGINT AS transitivity_ppm
         |FROM tr CROSS JOIN wg""".stripMargin) { (s, d) =>
      val e = edges(s, d, 2).localCheckpoint()
      val tri = graft.ops.Graph.triangleCount(e)
      val sym = e.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
        .distinct()
      val wedges = sym.groupBy(col("src"))
        .agg(count(lit(1)).as("deg"))
        .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      tri.crossJoin(broadcast(wedges))
        .select(col("n_triangles"), col("n_wedges"),
          expr("3 * n_triangles * 1000000L div greatest(n_wedges, 1)")
            .as("transitivity_ppm"))
    },

    // ---- resource-allocation link scoring (round 16): common
    //      neighbors weighted by 1/deg(center) as exact ppm integers
    //      — the oracle replays the wedge join with the center-degree
    //      lookup and the non-edge anti-join ----
    sql(
      "q_resource_alloc",
      s"""WITH e0 AS (
         |${edgeSql(2)}),
         |sym AS (SELECT a AS src, b AS dst FROM e0
         |        UNION SELECT b, a FROM e0),
         |deg AS (SELECT src AS v, count(*)::BIGINT AS deg
         |        FROM sym GROUP BY 1),
         |p AS (
         |  SELECT x.src AS a, y.src AS b, count(*)::BIGINT AS n_common,
         |    sum(1000000 // dz.deg)::BIGINT AS ra_ppm
         |  FROM sym x JOIN sym y
         |    ON x.dst = y.dst AND x.src < y.src
         |  JOIN deg dz ON dz.v = x.dst
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT p.a, p.b, n_common, ra_ppm
         |FROM p LEFT JOIN e0 ON p.a = e0.a AND p.b = e0.b
         |WHERE e0.a IS NULL""".stripMargin) { (s, d) =>
      graft.ops.Graph.resourceAllocation(edges(s, d, 2), minCommon = 2L)
    },

    // ---- per-node local clustering coefficient (round 16):
    //      2·tri(v)·10^6 div (deg·(deg−1)) — engine enumerates
    //      triangles ONCE degree-oriented and fans corners out; the
    //      oracle replays the plain neighbor-pair wedge + edge lookup.
    //      Agreement checks the enumeration AND its orientation
    //      invariance, per corner ----
    sql(
      "q_clustering_coeff",
      s"""WITH e0 AS (
         |${edgeSql(2)}),
         |sym AS (SELECT a AS src, b AS dst FROM e0
         |        UNION SELECT b, a FROM e0),
         |deg AS (SELECT src AS v, count(*)::BIGINT AS deg
         |        FROM sym GROUP BY 1),
         |tri AS (
         |  SELECT n1.src AS v, count(*)::BIGINT AS t
         |  FROM sym n1 JOIN sym n2
         |    ON n1.src = n2.src AND n1.dst < n2.dst
         |  JOIN e0 e ON e.a = n1.dst AND e.b = n2.dst
         |  GROUP BY 1)
         |SELECT deg.v AS node, deg.deg,
         |  coalesce(t, 0)::BIGINT AS n_tri,
         |  (CASE WHEN deg.deg >= 2
         |    THEN (coalesce(t, 0) * 2000000) // (deg.deg * (deg.deg - 1))
         |    ELSE 0 END)::BIGINT AS lcc_ppm
         |FROM deg LEFT JOIN tri ON tri.v = deg.v""".stripMargin) {
      (s, d) =>
      graft.ops.Graph.clusteringCoefficient(edges(s, d, 2))
    },

    // ---- integer HITS (round 16) on the co-purchase pairs as
    //      directed low→high edges (the q_pagerank_directed device:
    //      real no-out-edge and no-in-edge nodes, so both zero
    //      branches fire). Max-normalized ppm fixpoint, the oracle
    //      unrolls the identical rounds ----
    sql(
      "q_hits",
      hitsOracle(s"e0 AS (\n${edgeSql(2)})", iters = 4)) { (s, d) =>
      graft.ops.Graph.hitsInt(edges(s, d, 2), iters = 4)
    })

  /** Chained-CTE replay of [[graft.ops.Graph.hitsInt]]: per round an
    * authority pass then a hub pass, each raw-sum + max-normalize,
    * every vertex kept with 0 fill. */
  private def hitsOracle(e0Cte: String, iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""ar$k AS MATERIALIZED (
         |  SELECT e.b AS node, sum(h.h) AS s
         |  FROM e0 e JOIN h${k - 1} h ON h.node = e.a GROUP BY 1),
         |a$k AS MATERIALIZED (
         |  SELECT v.x AS node,
         |    coalesce((s * 1000000) // (SELECT max(s) FROM ar$k),
         |      0)::BIGINT AS a
         |  FROM v LEFT JOIN ar$k ON ar$k.node = v.x),
         |hr$k AS MATERIALIZED (
         |  SELECT e.a AS node, sum(a.a) AS s
         |  FROM e0 e JOIN a$k a ON a.node = e.b GROUP BY 1),
         |h$k AS MATERIALIZED (
         |  SELECT v.x AS node,
         |    coalesce((s * 1000000) // (SELECT max(s) FROM hr$k),
         |      0)::BIGINT AS h
         |  FROM v LEFT JOIN hr$k ON hr$k.node = v.x)""".stripMargin
    }
    s"""WITH $e0Cte,
       |v AS MATERIALIZED (SELECT a AS x FROM e0 UNION SELECT b FROM e0),
       |h0 AS MATERIALIZED (SELECT x AS node, 1000000::BIGINT AS h FROM v),
       |${rounds.mkString(",\n")}
       |SELECT h$iters.node, h$iters.h AS hub_u, a$iters.a AS auth_u
       |FROM h$iters JOIN a$iters ON h$iters.node = a$iters.node"""
      .stripMargin
  }
}
