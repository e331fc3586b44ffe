package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives over plain edge frames — connected
  * components and PageRank — formulated as joins + aggregations so
  * Catalyst plans them like any other relational workload (no graph
  * runtime, no vertex collect).
  *
  * Not in the reference's inventory (its pipelines stop at nested
  * joins — SURVEY.md §2.3); a training-data engine needs both:
  * near-duplicate collapse IS connected components over the collision
  * graph, and link/co-occurrence graph centrality (PageRank over a
  * host graph, TextRank over token co-occurrence) is a standard
  * corpus-quality signal (e.g. Common Crawl-derived corpora rank
  * hosts by centrality before sampling).
  *
  * Two CC algorithms exist in this engine, deliberately:
  * [[Dedup.clusterLabels]] is min-label propagation — O(diameter)
  * rounds, the right tool for near-dup collision graphs (dense little
  * cliques, diameter 1-2). This file's [[Graph.connectedComponents]]
  * is alternating large-star/small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14) — O(log² n) rounds
  * on ANY shape, the right tool for general graphs where a chain
  * (citation threads, link paths) would make label propagation crawl
  * one hop per round.
  */
object Graph {

  /** Symmetric closure of an (a, b) edge frame, self-loops dropped. */
  private def symmetric(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).filter(col("a") =!= col("b"))
    e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
  }

  /** `(85 · s) div 100` on non-negative s without ever forming 85·s
    * (which overflows a long once s > ~1.08e17, inside the kernels'
    * admissible range): for s = 100q + r, 85s = 8500q + 85r, so
    * (85s) div 100 = 85q + (85r) div 100 — exact for s ≥ 0. The
    * distributed loops form `85 * s` directly and would raise ANSI
    * overflow first; the kernels therefore checked-multiply on the
    * same boundary before taking the split path is NOT needed —
    * the identity is total on the domain both engines accept. */
  private def damp85(s: Long): Long = {
    val q = s / 100L; val r = s - q * 100L
    85L * q + (85L * r) / 100L
  }

  /** Multi-source BFS hop distances on the undirected graph: every
    * node reachable from `sources` within `maxHops` gets the length
    * of its shortest path (in hops; sources are distance 0).
    * Unreached nodes are absent — left-join against a universe if
    * NULL rows are wanted.
    *
    * Pregel-style frontier expansion: round h joins the CURRENT
    * FRONTIER (not the visited set) against the symmetric edge list
    * and anti-joins what is already settled — each round is ONE
    * equi-join + one anti-join, and a node's neighborhood is expanded
    * exactly once over the whole run, so total work is O(E + V·hops)
    * regardless of how many rounds run. Frontier and visited frames
    * are `localCheckpoint`ed per round (flat lineage — no
    * exponentially nested plan after 10 hops) and the empty-frontier
    * early exit rides the same action that materializes the round.
    *
    * `sources`' FIRST column is the seed node id; seeds need not
    * appear in the edge list (an isolated seed reports distance 0,
    * matching the relational replay, which seeds the recursion from
    * the caller's seed table rather than the graph).
    */
  def bfsDistances(
      edges: DataFrame, sources: DataFrame, maxHops: Int,
      smallGraphEdges: Long = DriverKernel.MaxEdges): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val sym = symmetric(edges).localCheckpoint()
    val seedCol = sources.columns.head
    val seedsDf = sources
      .select(col(seedCol).cast("long").as("node")).distinct()
    val small = DriverKernel.longEdges(sym, smallGraphEdges)
    if (small.isDefined) {
      // driver kernel: hop distances are a pure function of
      // (edges, seeds, maxHops) — plain BFS
      val spark = edges.sparkSession
      import spark.implicits._
      val g = small.get
      val (idx, si, di, m) = (g.index, g.src, g.dst, g.m)
      val seedArr = seedsDf.collect().map(_.getLong(0))
      seedArr.foreach(s => idx.indexOf(s): Unit)
      val nNodes = idx.n
      val dist = Array.fill(nNodes)(-1L)
      seedArr.foreach { s => dist(idx.lookup(s)) = 0L }
      var h = 1L
      var frontierNonEmpty = true
      while (frontierNonEmpty && h <= maxHops) {
        var advanced = false
        var k = 0
        while (k < m) {
          if (dist(si(k)) == h - 1 && dist(di(k)) < 0) {
            dist(di(k)) = h; advanced = true
          }
          k += 1
        }
        frontierNonEmpty = advanced
        h += 1
      }
      return (0 until nNodes).filter(dist(_) >= 0)
        .map(v => (idx.id(v), dist(v))).toDF("node", "dist")
    }
    var visited = seedsDf
      .withColumn("dist", lit(0L))
      .localCheckpoint()
    var frontier = visited.select("node")
    var h = 1
    var done = maxHops == 0
    while (!done) {
      val next = frontier.join(sym, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
        .localCheckpoint()
      if (next.isEmpty) done = true
      else {
        visited = visited.unionByName(next).localCheckpoint()
        frontier = next.select("node")
        h += 1
        done = h > maxHops
      }
    }
    visited
  }

  /** Bounded Bellman-Ford over integer edge weights: after `rounds`
    * synchronous relaxations, `dist(v)` is the cheapest path from any
    * seed to `v` using at most `rounds` edges — the EXACT-INTEGER,
    * fixed-round contract (mirroring [[pageRankInt]]): both engines
    * unroll the same rounds, so results are bit-identical and a
    * relational oracle can replay them. For a true SSSP fixpoint run
    * with `rounds` ≥ the weighted diameter; like the other fixed-round
    * operators this does NOT claim convergence.
    *
    * Input edges are `(a, b, w)` (w a non-negative long), treated
    * undirected. Per round: ONE equi-join of the distance frame
    * against the symmetric edge list + one min-aggregation — the
    * distance frame is 2 longs per node, the natural broadcast/AQE
    * candidate at dim scale and a plain shuffle join beyond.
    */
  def ssspInt(
      edges: DataFrame, sources: DataFrame, rounds: Int,
      smallGraphEdges: Long = DriverKernel.MaxEdges): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e = edges.select(col("a"), col("b"), col("w").cast("long").as("w"))
      .filter(col("a") =!= col("b"))
    val sym = e.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(e.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .distinct()
      .localCheckpoint()
    val seedCol = sources.columns.head
    val seedsDf = sources
      .select(col(seedCol).cast("long").as("node")).distinct()
    val small = DriverKernel.longEdges(sym, smallGraphEdges)
    if (small.isDefined) {
      // driver kernel: exact synchronous Bellman-Ford over primitive
      // arrays; seed sets are request-sized
      val spark = edges.sparkSession
      import spark.implicits._
      val g = small.get
      val (idx, si, di, wA, m) = (g.index, g.src, g.dst, g.w, g.m)
      val seedArr = seedsDf.collect().map(_.getLong(0))
      // dist keyed over seed ∪ graph nodes; ABSENT = unreached (the
      // distributed frame simply has no row) — presence tracked apart.
      // Seeds outside the graph still hold their distance-0 row.
      seedArr.foreach(s => idx.indexOf(s): Unit)
      val nNodes = idx.n
      var dist = new Array[Long](nNodes)
      var present = new Array[Boolean](nNodes)
      seedArr.foreach { s => val j = idx.lookup(s); dist(j) = 0L; present(j) = true }
      (1 to rounds).foreach { _ =>
        val nd = dist.clone(); val np = present.clone()
        var k = 0
        while (k < m) {
          if (present(si(k))) {
            val cand = Math.addExact(dist(si(k)), wA(k))
            val t = di(k)
            if (!np(t) || cand < nd(t)) { nd(t) = cand; np(t) = true }
          }
          k += 1
        }
        dist = nd; present = np
      }
      return (0 until nNodes).filter(present)
        .map(v => (idx.id(v), dist(v))).toDF("node", "dist")
    }
    var dist = seedsDf
      .withColumn("dist", lit(0L))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val relaxed = dist.join(sym, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** Link-prediction candidates: every NON-adjacent pair with at
    * least `minCommon` shared neighbors, scored by common-neighbor
    * count, endpoint degrees, and preferential attachment
    * (deg_a·deg_b) — all exact integers. Output:
    * (a, b, n_common, deg_a, deg_b, pref_attach) with a < b.
    *
    * Shape: the same wedge (2-path) self-join that triangle counting
    * uses — cost O(Σ deg²) over the symmetric view, which the
    * caller bounds by the support threshold of the input graph (the
    * standard trick: a celebrity node's quadratic wedge fan-out is a
    * property of the GRAPH, so cap degrees upstream if needed) —
    * then one anti-join against the canonicalized edge set and two
    * dim-sized degree joins (broadcast candidates under AQE).
    */
  def linkCandidates(edges: DataFrame, minCommon: Long): DataFrame = {
    // pin the (possibly expensive) upstream edge derivation ONCE: it
    // feeds symmetric's two union branches AND the canonical non-edge
    // side, and sym itself feeds the degree aggregate plus both wedge
    // sides — unpinned, the co-purchase basket derivation re-executed
    // per consumer (round 18, measured on q_link_predict/
    // q_resource_alloc)
    val e = edges.localCheckpoint()
    val sym = symmetric(e).localCheckpoint()
    val deg = sym.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("deg"))
    val canon = e
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val wedges = sym.as("x").join(sym.as("y"),
        col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
      .select(col("x.src").as("a"), col("y.src").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    wedges
      .join(canon, Seq("a", "b"), "left_anti")
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a"), col("b"), col("n_common"), col("deg_a"),
        col("deg_b"), (col("deg_a") * col("deg_b")).as("pref_attach"))
  }

  /** Connected components via alternating large-star/small-star.
    *
    * State is an edge frame; each half-round rewires edges toward each
    * neighborhood's minimum and strictly shrinks the potential
    * function, converging to per-component stars in O(log² n) rounds
    * (O(log n) observed). Per half-round cost: ONE aggregate (the
    * neighborhood minimum — never a `collect_list`, so a celebrity
    * node with 10⁹ neighbors costs a bigger shuffle, not a bigger
    * task) and ONE join, both partitioned by node id.
    *
    * large-star(u): every neighbor v > u re-points at
    * m(u) = min(N(u) ∪ {u}) — strictly-larger nodes hop toward the
    * minimum without ever creating (x, y) with x < m(u).
    * small-star(u): every neighbor v ≤ u (edges oriented big→small)
    * plus u itself re-points at m(u) — the local star collapses.
    *
    * Each round eagerly localCheckpoints its edge frame: lineage stays
    * O(1) (round N never replays rounds 1..N-1) and the convergence
    * count reads the materialized frame; the superseded round's blocks
    * are released immediately, so at most two edge frames are ever
    * held. Convergence = the oriented edge set reached a fixpoint
    * (count + except, both over the checkpointed frames). The
    * checkpoint must be a PLAN-TRUNCATING device, not a cache: `sym`
    * references the round frame twice (both orientations), so an
    * un-truncated plan doubles textually per round — 2^rounds
    * analyzer nodes, an OOM in treeString long before execution
    * (measured; a persist-only variant aborted the suite). The EAGER
    * form is deliberate: it executes under AQE, whose runtime
    * coalescing collapses the per-round shuffles of dim-sized edge
    * frames (near-dup collisions, DBSCAN core graphs) to a task or
    * two — measured faster end-to-end than a one-job-per-round lazy
    * checkpoint, which plans without AQE and pays a full
    * shuffle-partition fan-out every round.
    *
    * Dim-sized long-keyed graphs take a DRIVER kernel instead: when
    * the oriented edge frame passes the [[DriverKernel]] gate, the
    * edges collect to the driver and a union-find labels them; other
    * key types take the type-generic star loop, so the kernel never
    * casts a key. The iterative star loop exists
    * for fact-scale graphs; spending 5+ scheduled rounds on a
    * 2000-edge DBSCAN core graph was pure overhead (measured ~2×
    * on the DBSCAN face). Labels are IDENTICAL by construction
    * (component = min reachable id, pinned by a both-paths
    * differential spec), so the threshold can never change a result,
    * only a plan.
    *
    * @param edges  undirected edges as columns (a, b); self-loops
    *               ignored; node ids must be non-null
    * @param nodes  optional single-column universe; nodes with no edge
    *               come back as their own singleton component (the
    *               edge-frame vertices alone otherwise)
    * @param smallGraphEdges oriented-edge-count bound for the driver
    *               union-find kernel ([[DriverKernel]]); 0 forces the
    *               distributed loop
    * @return (node, component) — component = min node id reachable
    */
  def connectedComponents(
      edges: DataFrame,
      nodes: Option[DataFrame] = None,
      maxIters: Int = 30,
      smallGraphEdges: Long = DriverKernel.MaxEdges): DataFrame = {
    // orient big→small so small-star's grouping key is well-defined;
    // the checkpoint pins the (possibly expensive) upstream pipeline
    // that produced the edge list
    var cur = symmetric(edges)
      .filter(col("src") > col("dst"))
      .localCheckpoint()
    val small = DriverKernel.longEdges(cur, smallGraphEdges)
    if (small.isDefined)
      return smallGraphLabels(edges.sparkSession, small.get, nodes)
    var curCount = cur.count() // the first round's fixpoint baseline
    var prev: Option[DataFrame] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // -- large-star over the symmetric view: m(u) = min(N(u) ∪ {u});
      //    every neighbor v > u re-points at m(u)
      val sym = cur.select(col("src"), col("dst"))
        .union(cur.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src").as("u"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      val large = sym.join(mins, col("src") === col("u"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // -- small-star over the big→small orientation: u's smaller
      //    neighbors AND u itself re-point at m(u)
      val smins = large.groupBy(col("src").as("u"))
        .agg(min(col("dst")).as("m"))
      val small = large.join(smins, col("src") === col("u"))
        .select(explode(array(
          struct(col("dst").as("src"), col("m").as("dst")),
          struct(col("src").as("src"), col("m").as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint() // eager: materialize before prev is released
      // fixpoint test over two materialized frames — one count job per
      // round (the previous round's count is carried in `curCount`),
      // plus an anti-join only when the counts already agree
      val smallCount = small.count()
      converged = smallCount == curCount && small.except(cur).isEmpty
      prev.foreach(_.unpersist(false))
      prev = Some(small)
      cur = small
      curCount = smallCount
      i += 1
    }
    // Loud contract: a truncated run would return partially-merged
    // labels that LOOK valid (every node labeled, labels ≤ node ids)
    // but are wrong — callers cannot distinguish fixpoint from budget
    // exhaustion downstream, so the only safe failure is here. The
    // O(log² n) bound makes 30 rounds ample for any real graph; hitting
    // it means the input (or a bug) needs attention, not a silent
    // best-effort answer.
    require(converged,
      s"connectedComponents did not reach a fixpoint in $maxIters " +
        "rounds; labels would be partially merged. Raise maxIters.")
    // at the fixpoint `cur` is a star forest: (member, componentMin).
    // Re-attach each component's root and any isolated universe nodes.
    val roots = cur.select(col("dst").as("node"), col("dst").as("component"))
      .distinct()
    val members = cur.select(col("src").as("node"), col("dst").as("component"))
    val labeled = members.union(roots).distinct()
    nodes match {
      case None => labeled
      case Some(universe) =>
        val idCol = universe.columns.head
        universe.select(col(idCol).as("node")).distinct()
          .join(labeled.withColumnRenamed("node", "__gn"),
            col("node") === col("__gn"), "left")
          .select(col("node"),
            coalesce(col("component"), col("node")).as("component"))
    }
  }

  /** Driver union-find for dim-sized graphs: exact min-label
    * components over a collected edge array (path-compressed, roots
    * kept at the component minimum so find() IS the label). Shares
    * the universe-stitch semantics with the distributed loop; the
    * both-paths differential in GraphSpec pins equality.
    */
  private def smallGraphLabels(
      spark: org.apache.spark.sql.SparkSession,
      g: LongEdges,
      nodes: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    // the union-find itself is one int array over the dense index
    val (idx, m) = (g.index, g.m)
    val nNodes = idx.n
    val parent = Array.tabulate(nNodes)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    var i = 0
    while (i < m) {
      val ra = find(g.src(i))
      val rb = find(g.dst(i))
      if (ra != rb) {
        // keep the MIN node id as the root, so the root IS the label
        if (idx.id(ra) < idx.id(rb)) parent(rb) = ra else parent(ra) = rb
      }
      i += 1
    }
    val labeled = (0 until nNodes).map(n => (idx.id(n), idx.id(find(n))))
      .toDF("node", "component")
    nodes match {
      case None => labeled
      case Some(universe) =>
        val idCol = universe.columns.head
        universe.select(col(idCol).as("node")).distinct()
          .join(broadcast(labeled.withColumnRenamed("node", "__gn")),
            col("node") === col("__gn"), "left")
          .select(col("node"),
            coalesce(col("component"), col("node")).as("component"))
    }
  }

  /** PageRank in EXACT integer arithmetic — bit-portable across
    * engines, partitionings, and re-runs.
    *
    * Ranks live on a fixed 1e-12 grid as `Long` micro-units
    * (`Scale` = 10¹²). Each of the `iters` rounds is
    *
    *   r'(v) = (15·(Scale div N)) div 100
    *         + (85 · Σ_{u→v} (r(u) div deg(u))) div 100
    *
    * — damping 0.85 expressed as integer 85/100, every division a
    * truncating integer `div`. All values are non-negative, so
    * truncation behaves identically in Spark (`div`) and DuckDB
    * (`//`), making the fixed point EXACTLY reproducible: no float
    * summation order, no libm, no decimal-scale inference divergence.
    * The truncations shed at most 1e-12 per edge per round — a
    * deterministic variant of real-valued PageRank whose values sit
    * within ~E·1e-12 of the float fixed point, far below any ranking
    * use's tolerance.
    *
    * Scale shape: per round, ONE equi-join of the rank frame (2 longs
    * per vertex) against the degree-annotated edge frame and ONE
    * map-side-combined sum per destination. The edge frame is
    * partitioned once by source and reused every round (persisted);
    * rank frames are checkpointed per round so round k never replays
    * rounds 1..k-1. The graph is taken symmetric (undirected), so
    * every vertex has degree ≥ 1 and the dangling-mass term vanishes
    * by construction.
    *
    * @param edges undirected (a, b) edge frame; self-loops dropped
    * @param iters fixed iteration count (unrolled; convergence-free so
    *              the oracle can mirror it as chained CTEs)
    * @return (node, rank_u) with rank_u in 1e-12 micro-units — callers
    *         wanting a float divide by [[Scale]] at the edge
    */
  val Scale: Long = 1000000000000L

  /** Driver kernel for [[pageRankInt]] / [[personalizedPageRankInt]]
    * on dim-sized graphs (≤ `smallGraphEdges` oriented-symmetric
    * edges): the EXACT same integer fixed point — truncating `div`,
    * 85/100 damping, Σ over long contributions (associative, so
    * partition order never mattered) — in primitive arrays. Same
    * license as [[smallGraphLabels]]: codebook-class state, ≤ ~16 MB
    * at the default gate; labels/ranks IDENTICAL by construction
    * (GraphKernelSpec pins both-paths equality, and the DuckDB oracle
    * faces run through this path at the correctness SFs). The
    * distributed loop remains the ≥ gate path and keeps its rehearsal
    * coverage.
    */
  private def pageRankKernel(
      spark: org.apache.spark.sql.SparkSession,
      nodeType: org.apache.spark.sql.types.DataType,
      rows: Array[org.apache.spark.sql.Row], iters: Int,
      seeds: Option[Array[Any]]): DataFrame = {
    val m = rows.length
    // boxed index: node ids here may be ANY key type (the TextRank
    // face runs PageRank over word nodes); graphs under the gate are
    // dim-sized so the boxing is immaterial
    val idx = new java.util.HashMap[Any, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Any]()
    def indexOf(k: Any): Int = {
      val got = idx.get(k)
      if (got != null) got.intValue()
      else {
        val v = ids.length
        idx.put(k, Integer.valueOf(v)); ids += k; v
      }
    }
    val si = new Array[Int](m); val di = new Array[Int](m)
    var i = 0
    while (i < m) {
      si(i) = indexOf(rows(i).get(0)); di(i) = indexOf(rows(i).get(1)); i += 1
    }
    val nNodes = ids.length
    val deg = new Array[Long](nNodes)
    i = 0; while (i < m) { deg(si(i)) += 1L; i += 1 }
    val seedIdx: Option[Array[Boolean]] = seeds.map { arr =>
      val f = new Array[Boolean](nNodes)
      arr.foreach { s =>
        val j = idx.get(s); if (j != null) f(j.intValue()) = true
      }
      f
    }
    val nBase = seedIdx match {
      case None => nNodes.toLong
      case Some(f) => f.count(identity).toLong
    }
    require(nBase > 0,
      if (seeds.isEmpty) "pageRankInt needs a non-empty edge set"
      else "no seed is a vertex of the graph")
    val init = Scale / nBase
    val base = (15L * init) / 100L
    var ranks = new Array[Long](nNodes)
    i = 0
    while (i < nNodes) {
      ranks(i) = seedIdx match {
        case None => init
        case Some(f) => if (f(i)) init else 0L
      }
      i += 1
    }
    (1 to iters).foreach { _ =>
      val s = new Array[Long](nNodes)
      var e = 0
      while (e < m) { s(di(e)) += ranks(si(e)) / deg(si(e)); e += 1 }
      val next = new Array[Long](nNodes)
      var v = 0
      while (v < nNodes) {
        val b = seedIdx match {
          case None => base
          case Some(f) => if (f(v)) base else 0L
        }
        next(v) = b + damp85(s(v))
        v += 1
      }
      ranks = next
    }
    val out = (0 until nNodes).map(v =>
      org.apache.spark.sql.Row(ids(v), ranks(v)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", nodeType),
        org.apache.spark.sql.types.StructField("rank_u",
          org.apache.spark.sql.types.LongType))))
  }

  def pageRankInt(
      edges: DataFrame,
      iters: Int = 5,
      smallGraphEdges: Long = DriverKernel.MaxEdges): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    // pin the (possibly expensive) upstream edge derivation ONCE; the
    // count both gates the kernel and is the materializing action
    val symC = symmetric(edges).localCheckpoint()
    val small = DriverKernel.rows(symC, smallGraphEdges)
    if (small.isDefined)
      return pageRankKernel(edges.sparkSession, symC.schema("src").dataType,
        small.get, iters, None)
    // ≥-gate path: symC is already checkpoint-materialized, so both
    // consumers below read its blocks (no persist/unpersist dance)
    val deg = symC.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // degree-annotated edges: built once, reused every round
    val ed = symC.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .localCheckpoint()
    // N and the uniform/teleport bases are scalars derived from the
    // vertex set; computed once driver-side (vertex-count-sized agg)
    val n = ed.select(countDistinct(col("src"))).first().getLong(0)
    require(n > 0, "pageRankInt needs a non-empty edge set")
    val init = Scale / n
    val base = (15L * init) / 100L
    // The rank chain is LINEAR — each round's frame is consumed exactly
    // once, by the next round — so the whole unrolled fixed-point is one
    // lazy plan and one job. Checkpoints are only a lineage/codegen
    // relief valve for deep unrolls, taken every few rounds rather than
    // every round (measured: per-round eager checkpoints tripled the
    // wall time at bench scale on pure job-scheduling overhead).
    val checkpointEvery = 8
    var ranks = ed.select(col("src").as("node")).distinct()
      .withColumn("rank_u", lit(init))
    (1 to iters).foreach { i =>
      val next = ed.join(ranks, ed("src") === ranks("node"))
        .select(col("dst"), expr("rank_u div deg").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("s"))
        .select(col("node"),
          (lit(base) + expr(s"(85 * s) div 100")).as("rank_u"))
      ranks =
        if (i % checkpointEvery == 0 && i < iters)
          next.localCheckpoint()
        else next
    }
    ranks
  }

  /** DIRECTED PageRank with dangling-mass redistribution — the face
    * [[pageRankInt]] cannot express: host-graph centrality (the Common
    * Crawl use this file's doc cites) runs on a DIRECTED link graph
    * where sink pages have no out-links, and symmetrizing changes the
    * ranking (a page with many in-links but no out-links must absorb
    * and redistribute, not reflect). Same exact-integer convention as
    * [[pageRankInt]] (1e-12 grid, truncating `div`, 85/100 damping) so
    * the fixed point is bit-portable across engines.
    *
    * Per round, for D = Σ_{dangling u} r(u) (one scalar aggregate,
    * carried as a ONE-ROW broadcast frame — never a driver action):
    *
    *   r'(v) = (15·(Scale div N)) div 100
    *         + (85 · (Σ_{u→v} (r(u) div outdeg(u)) + D div N)) div 100
    *
    * The D div N term hands every vertex an equal share of the rank
    * that flowed into sinks, the standard dangling-node treatment
    * (Page et al. 1999 §2.7); without it rank mass drains monotonically
    * and ranks decay toward the teleport floor.
    *
    * Scale shape: identical to [[pageRankInt]] — per round ONE
    * equi-join + ONE map-side-combined sum — plus one vertex-frame
    * semi-join (the dangling subset, dim-sized) and one single-row
    * cross carrier. The vertex universe is src ∪ dst (a vertex with no
    * in-links still holds base + dangling share), built once and
    * checkpointed.
    *
    * @param edges directed (a, b) = a→b edge frame; self-loops and
    *              duplicate edges dropped
    * @param iters fixed iteration count (unrolled; oracle mirrors it
    *              as chained CTEs including the dangling term)
    * @return (node, rank_u) in 1e-12 micro-units
    */
  /** Driver kernel for [[pageRankIntDirected]] — the exact directed
    * fixed point including the dangling-mass term, in primitive
    * arrays (same license and both-paths spec as [[pageRankKernel]]).
    */
  private def pageRankDirectedKernel(
      spark: org.apache.spark.sql.SparkSession,
      g: LongEdges, iters: Int): DataFrame = {
    import spark.implicits._
    val (idx, si, di, m) = (g.index, g.src, g.dst, g.m)
    val nNodes = idx.n
    val outdeg = new Array[Long](nNodes)
    var i = 0; while (i < m) { outdeg(si(i)) += 1L; i += 1 }
    val n = nNodes.toLong
    require(n > 0, "pageRankIntDirected needs a non-empty edge set")
    val init = Scale / n
    val base = (15L * init) / 100L
    var ranks = Array.fill(nNodes)(init)
    (1 to iters).foreach { _ =>
      val s = new Array[Long](nNodes)
      var e = 0
      while (e < m) { s(di(e)) += ranks(si(e)) / outdeg(si(e)); e += 1 }
      var d = 0L
      var v = 0
      while (v < nNodes) { if (outdeg(v) == 0L) d += ranks(v); v += 1 }
      val share = d / n
      val next = new Array[Long](nNodes)
      v = 0
      while (v < nNodes) { next(v) = base + damp85(s(v) + share); v += 1 }
      ranks = next
    }
    (0 until nNodes).map(v => (idx.id(v), ranks(v)))
      .toDF("node", "rank_u")
  }

  def pageRankIntDirected(
      edges: DataFrame,
      iters: Int = 5,
      smallGraphEdges: Long = DriverKernel.MaxEdges): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val eC =
      edges.select(col("a").as("src"), col("b").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct().localCheckpoint()
    val small = DriverKernel.longEdges(eC, smallGraphEdges)
    if (small.isDefined)
      return pageRankDirectedKernel(edges.sparkSession, small.get, iters)
    val e = eC
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = e.join(outdeg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .localCheckpoint()
    val verts = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val n = verts.count()
    require(n > 0, "pageRankIntDirected needs a non-empty edge set")
    val init = Scale / n
    val base = (15L * init) / 100L
    // dangling = vertices with no out-edge (dim-sized, fixed per run)
    val dangling = verts
      .join(ed.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti")
      .localCheckpoint()
    var ranks = verts.withColumn("rank_u", lit(init))
    var prevRound: Option[DataFrame] = None
    (1 to iters).foreach { i =>
      val contrib = ed.join(ranks, ed("src") === ranks("node"))
        .select(col("dst"), expr("rank_u div deg").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("s"))
      // one-row dangling-mass carrier: lazy, broadcast, no collect
      val dmass = dangling.join(ranks, "node")
        .agg(coalesce(sum(col("rank_u")), lit(0L)).as("d"))
      val next = verts
        .join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dmass))
        .select(col("node"),
          (lit(base) +
            expr(s"(85 * (coalesce(s, 0L) + (d div ${n}L))) div 100"))
            .as("rank_u"))
      // Unlike pageRankInt's LINEAR chain, each round here consumes
      // `ranks` TWICE (the contrib join and the dangling-mass
      // aggregate), so every round is persisted and MATERIALIZED
      // eagerly (one count job per round — the round must be computed
      // exactly once regardless, so total work stays linear in
      // `iters`), which lets the superseded round's blocks be released
      // immediately: executor storage stays O(1) vertex frames instead
      // of O(iters) cached copies waiting on the ContextCleaner —
      // unbounded storage pressure on large graphs. Persist does NOT
      // truncate the plan TEXT, which still doubles per round (the
      // cached subtree appears under both consumers), so every 6th
      // round a plan-truncating localCheckpoint caps the analyzer tree
      // (deep unrolls near the iters=50 bound would otherwise OOM
      // treeString — the failure the connectedComponents doc records).
      // Checkpoint rounds (1-in-6) stay resident until the
      // ContextCleaner reclaims them — DataFrame.unpersist is a no-op
      // on checkpoint blocks — bounding the residual leak at ~iters/6
      // vertex frames; the final round stays cached for the caller.
      val cached =
        if (i % 6 == 0) next.localCheckpoint()
        else next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count()
      prevRound.foreach(_.unpersist(false))
      prevRound = Some(cached)
      ranks = cached
    }
    ranks
  }

  /** Exact global triangle count over an undirected edge frame
    * (columns `a`, `b`; duplicates, self-loops, and either direction
    * tolerated — canonicalized here). The clustering-coefficient /
    * community-density signal for co-occurrence graphs.
    *
    * Compact-forward formulation (Latapy 2008; the MR standard from
    * Suri & Vassilvitskii WWW'11): orient every edge from its
    * (degree, id)-smaller endpoint, then count wedge-closing matches
    * with two equi-joins — e1(x→y) ⋈ e2(y→z) ⋈ e3(x→z). Under a total
    * order each triangle materializes exactly once, and ordering by
    * DEGREE first bounds every oriented out-neighborhood by O(√m), so
    * the wedge join's fan-out is O(m^1.5) worst-case — the hub that
    * would explode an id-ordered enumeration (celebrity node: degree
    * n) contributes only low-degree-endpoint wedges instead. Count is
    * orientation-invariant, so an oracle may replay with plain id
    * order and must agree.
    *
    * Scale shape: one degree aggregate (map-side combined), two
    * broadcast-or-shuffle equi-joins Catalyst plans like any other;
    * no driver data path, no iteration. Returns one row
    * (`n_triangles`).
    */
  /** k-core extraction by fixed-round peeling (Seidman 1983): the
    * maximal subgraph where every vertex keeps degree ≥ k INSIDE the
    * subgraph — the graph family's density gate (spam-farm and
    * boilerplate-ring detection in link/near-dup graphs: a clique of
    * templated pages survives peeling; organically-linked pages fall
    * out). Each round drops every vertex whose current degree is
    * below k and re-filters the edge set to survivors; the true
    * k-core is the fixpoint.
    *
    * Determinism/parity contract: EXACTLY `rounds` peels run — the
    * result is a pure function of (edges, k, rounds) at any scale,
    * and the oracle unrolls the same rounds as CTEs. Peeling is
    * monotone (the survivor set only shrinks), so if round `rounds`
    * changes nothing the result IS the k-core — assert convergence
    * with a spec on the target graph (GraphSpec does for the face's),
    * or raise `rounds`; a non-converged run is still a valid
    * OVER-approximation that contains the k-core.
    *
    * Scale shape per round: one map-side-combined degree count + two
    * semi-join filters of the edge set against the survivor vertex
    * frame — all shuffle-bound, no driver state, lineage checkpointed
    * every 3 rounds. Hot vertices are bigger shuffle buckets, never
    * task state.
    *
    * @return (node, core_deg) — survivors with their degree inside
    *         the peeled subgraph
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 12,
      smallGraphEdges: Long = DriverKernel.MaxEdges): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 50, s"rounds out of range: $rounds")
    var e = symmetric(edges).localCheckpoint()
    val small = DriverKernel.longEdges(e, smallGraphEdges)
    if (small.isDefined) {
      // driver kernel: exactly `rounds` synchronous peels over
      // primitive arrays
      val spark = edges.sparkSession
      import spark.implicits._
      val g = small.get
      val (idx, si, di, m) = (g.index, g.src, g.dst, g.m)
      val nNodes = idx.n
      val alive = new Array[Boolean](m) // oriented-edge liveness
      java.util.Arrays.fill(alive, true)
      (1 to rounds).foreach { _ =>
        val deg = new Array[Long](nNodes)
        var j = 0
        while (j < m) { if (alive(j)) deg(si(j)) += 1L; j += 1 }
        j = 0
        while (j < m) {
          if (alive(j) && (deg(si(j)) < k || deg(di(j)) < k)) alive(j) = false
          j += 1
        }
      }
      val core = new Array[Long](nNodes)
      var j = 0
      while (j < m) { if (alive(j)) core(si(j)) += 1L; j += 1 }
      return (0 until nNodes).filter(core(_) > 0L)
        .map(v => (idx.id(v), core(v))).toDF("node", "core_deg")
    }
    (1 to rounds).foreach { r =>
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= k)
        .select(col("src").as("__k"))
      val next = e
        .join(keep.withColumnRenamed("__k", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("__k", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
      e = if (r % 3 == 0 && r < rounds) next.localCheckpoint()
      else next
    }
    e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
  }

  /** PERSONALIZED PageRank — [[pageRankInt]] with the teleport
    * restricted to a seed set (Page et al. 1999 §6; the "expand from
    * trusted seeds" primitive behind seed-based corpus curation:
    * score a crawl graph by proximity to known-good domains, keep the
    * mass). Same exact-integer convention as [[pageRankInt]]
    * (1e-12 grid via `Scale div |S|`, truncating `div`, 85/100
    * damping) so the fixed point is bit-portable across engines and
    * partitionings:
    *
    *   r₀(v)  = (Scale div |S|)·[v ∈ S]
    *   r'(v)  = ((15·(Scale div |S|)) div 100)·[v ∈ S]
    *          + (85 · Σ_{u→v} (r(u) div deg(u))) div 100
    *
    * Mass concentrates near the seeds instead of spreading uniformly;
    * rank 0 is reachable (and meaningful: farther than `iters` hops
    * from every seed).
    *
    * Scale shape: identical to [[pageRankInt]] — per round ONE
    * equi-join + ONE map-side-combined sum — plus a broadcast
    * seed-membership join (seed sets are request-sized by nature).
    * Seeds outside the vertex universe are ignored; |S| counts only
    * seeds IN the graph, so the injected mass is exactly what the
    * graph can circulate.
    */
  def personalizedPageRankInt(
      edges: DataFrame, seeds: DataFrame, iters: Int = 5,
      smallGraphEdges: Long = DriverKernel.MaxEdges): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val symC = symmetric(edges).localCheckpoint()
    val small = DriverKernel.rows(symC, smallGraphEdges)
    if (small.isDefined) {
      // seed sets are request-sized by nature (scaladoc above) — the
      // collect is bounded by the same contract the broadcast was. The
      // kernel looks seeds up by the edge key type, so seeds of another
      // type are cast to it first (the loop's join coerces them); a seed
      // the key type cannot hold becomes null and matches no vertex
      val keyType = symC.schema("src").dataType
      val seedArr: Array[Any] = seeds.select(col("node").try_cast(keyType))
        .distinct().collect().map(_.get(0))
      return pageRankKernel(edges.sparkSession, keyType,
        small.get, iters, Some(seedArr))
    }
    val deg = symC.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = symC.join(deg, "src")
      .select(col("src"), col("dst"), col("deg"))
      .localCheckpoint()
    val verts = ed.select(col("src").as("node")).distinct()
    val seedFlag = broadcast(
      verts.join(seeds.select(col("node")).distinct(), Seq("node"))
        .withColumn("__seed", lit(true))
        .localCheckpoint()) // reused in r0 and every round's base term
    val nS = seedFlag.count()
    require(nS > 0, "no seed is a vertex of the graph")
    val init = Scale / nS
    val base = (15L * init) / 100L
    val checkpointEvery = 8
    var ranks = verts.join(seedFlag, Seq("node"), "left")
      .select(col("node"),
        when(col("__seed"), lit(init)).otherwise(lit(0L)).as("rank_u"))
    (1 to iters).foreach { i =>
      val next = ed.join(ranks, ed("src") === ranks("node"))
        .select(col("dst"), expr("rank_u div deg").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c")).as("s"))
        .join(seedFlag, Seq("node"), "left")
        .select(col("node"),
          (when(col("__seed"), lit(base)).otherwise(lit(0L)) +
            expr(s"(85 * s) div 100")).as("rank_u"))
      ranks =
        if (i % checkpointEvery == 0 && i < iters)
          next.localCheckpoint()
        else next
    }
    ranks
  }

  /** INCREMENTAL connected components — the O(batch) maintenance path
    * for a persisted clustering (the graph analogue of
    * [[graft.ops.Dedup]]'s incremental band-state dedup): given the
    * PRIOR (node, component) labeling and a batch of NEW edges, merge
    * only what the batch touches instead of re-running CC over the
    * accumulated 100 TB edge set.
    *
    * The algebra: components are closed under union, so the new
    * labeling is CC of the COMPONENT-quotient graph — map each new
    * edge's endpoints to their prior components (unseen nodes are
    * their own), run CC over those (component, component) edges (a
    * batch-bounded graph, usually tiny — it takes
    * [[connectedComponents]]' driver kernel), and re-map prior labels
    * through the resulting merge table. Labels stay canonical min-ids
    * because prior labels are min-ids and the quotient CC again takes
    * minima — an incremental result is IDENTICAL to a full rebuild
    * over the union (spec'd, and the oracle face recomputes the full
    * graph relationally).
    *
    * Scale shape: one equi-join of the batch against the prior label
    * table (shuffle ∝ batch; the label table side is partition-pruned
    * by the join when stored bucketed by node), the quotient CC on a
    * batch-sized graph, and one broadcast-merge-table map over the
    * prior labels — the only full pass is the final relabel, which is
    * map-side against a broadcast table bounded by the batch's
    * component count.
    */
  def incrementalComponents(
      prior: DataFrame, newEdges: DataFrame,
      maxIters: Int = 30): DataFrame = {
    val labels = prior.select(col("node"), col("component"))
      .localCheckpoint() // consumed by two endpoint joins + the relabel
    // the batch edge frame feeds BOTH quotient sides and both
    // endpoint-universe branches — unpinned, an expensive upstream
    // derivation (the co-purchase basket shuffle) re-executes per
    // consumer (round 18)
    val ne = newEdges.select(col("a"), col("b")).localCheckpoint()
    def mapTo(side: String): DataFrame =
      ne.select(col(side).as("__n"))
        .join(labels, col("__n") === col("node"), "left")
        .select(col("__n"),
          coalesce(col("component"), col("__n")).as(s"__c$side"))
    val quot = ne
      .join(mapTo("a").withColumnRenamed("__n", "a"), Seq("a"))
      .join(mapTo("b").withColumnRenamed("__n", "b"), Seq("b"))
      .select(col("__ca").as("a"), col("__cb").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val merges = connectedComponents(quot, maxIters = maxIters)
      .select(col("node").as("__old"), col("component").as("__new"))
    // unseen endpoints enter the universe labeled with their own id
    // (= their quotient label), then remap through the merge table
    // like every prior row
    val newNodes = ne.select(col("a").as("node"))
      .union(ne.select(col("b").as("node")))
      .distinct()
      .join(labels, Seq("node"), "left_anti")
      .withColumn("component", col("node"))
    labels.unionByName(newNodes)
      .join(broadcast(merges), col("component") === col("__old"), "left")
      .select(col("node"),
        coalesce(col("__new"), col("component")).as("component"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) —
    * community detection, the graph family's complement to
    * [[connectedComponents]] (which finds REACHABILITY classes; LPA
    * finds DENSITY classes inside them — near-duplicate "galaxies",
    * topic clusters in a citation/co-purchase graph).
    *
    * Determinism (the engine-wide contract; async/random LPA is
    * neither portable nor replayable): all vertices update together
    * each round from the PREVIOUS round's labels; each takes the
    * label most frequent among its neighbors PLUS ITS OWN (the
    * self-vote is what kills synchronous LPA's classic bipartite
    * oscillation — a star/bipartite graph otherwise swaps label sets
    * forever), ties broken by the smaller label; label ids start as
    * vertex ids; a fixed `iters` rounds (the oracle mirrors them as
    * chained CTEs). A vertex with no neighbors keeps its label.
    *
    * Scale shape per round: ONE equi-join (labels onto the symmetric
    * edge frame, shuffle on the edge key) + ONE map-side-combined
    * (vertex, label) count + ONE map-side-combined `min_by` argmax
    * per vertex over that count frame. The argmax is an AGGREGATE,
    * not a window: a vertex-partitioned `row_number` window would
    * pay an exchange AND a per-partition SORT every round, while
    * `min_by(label, (-n, label))` rides a partial aggregation
    * (degree-bounded group state, no sort) into the same exchange.
    * Lineage relief every 2 rounds via a local checkpoint.
    *
    * @return (node, community) — community = converged-or-iters label
    */
  def labelPropagation(edges: DataFrame, iters: Int = 4,
      smallGraphEdges: Long = DriverKernel.MaxEdges): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val sym = symmetric(edges).localCheckpoint() // reused every round
    val small = DriverKernel.longEdges(sym, smallGraphEdges)
    if (small.isDefined) {
      // driver kernel: synchronous LPA with the self-vote and the
      // (most-frequent, then smallest) tie rule — vote counting per
      // vertex over its neighbor labels
      val spark = edges.sparkSession
      import spark.implicits._
      val g = small.get
      val (idx, si, di, m) = (g.index, g.src, g.dst, g.m)
      val nNodes = idx.n
      // CSR over incoming votes: for vertex v, the labels of its
      // neighbors u (edges u→v) plus its own
      val off = new Array[Int](nNodes + 1)
      var i = 0; while (i < m) { off(di(i) + 1) += 1; i += 1 }
      i = 1; while (i <= nNodes) { off(i) += off(i - 1); i += 1 }
      val adj = new Array[Int](m)
      val cur = off.clone()
      i = 0
      while (i < m) { adj(cur(di(i))) = si(i); cur(di(i)) += 1; i += 1 }
      var labels = Array.tabulate(nNodes)(idx.id)
      (1 to iters).foreach { _ =>
        val next = new Array[Long](nNodes)
        var v = 0
        while (v < nNodes) {
          // degree-bounded vote array per vertex (neighbors + self),
          // sorted ascending: run-lengths are the counts, and scanning
          // runs in label order makes ties resolve to the smaller
          // label for free
          val lo = off(v); val hi = off(v + 1)
          val vl = new Array[Long](hi - lo + 1)
          var j = lo
          while (j < hi) { vl(j - lo) = labels(adj(j)); j += 1 }
          vl(hi - lo) = labels(v)
          java.util.Arrays.sort(vl)
          var bestLabel = vl(0); var bestN = 0L
          var p = 0
          while (p < vl.length) {
            var q = p
            while (q < vl.length && vl(q) == vl(p)) q += 1
            if ((q - p).toLong > bestN) { bestN = (q - p).toLong; bestLabel = vl(p) }
            p = q
          }
          next(v) = bestLabel
          v += 1
        }
        labels = next
      }
      return (0 until nNodes).map(v => (idx.id(v), labels(v)))
        .toDF("node", "community")
    }
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    (1 to iters).foreach { i =>
      val votes = sym.join(labels, sym("src") === labels("node"))
        .select(col("dst"), col("label"))
        .unionByName(labels.select(col("node").as("dst"), col("label")))
      val counts = votes
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("n"))
      // argmax(n desc, label asc) as a SORT-FREE aggregate. A struct
      // ordering key would force min_by into SortAggregate (struct
      // buffers aren't mutable), re-paying the sort the window had —
      // so the lexicographic order (-n, label) packs into ONE
      // fixed-width DECIMAL(38,0), a mutable buffer type that keeps
      // the argmax in HashAggregate with map-side partial combine:
      //   key = (label + 2^63) − n·2^64
      // (label+2^63) ∈ [0, 2^64) for any long label, so distinct n
      // never interleave and ties order by label. Headroom: |key| <
      // n·2^64 + 2^64 ≈ 2^64·(n+1) — inside decimal(38) for any
      // n < 10^18. (dst, label) rows are unique ⇒ the key is total,
      // so ties are deterministic.
      val two63 = lit(new java.math.BigDecimal("9223372036854775808"))
      val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
      val ordKey = (col("label").cast("decimal(38,0)") + two63) -
        col("n").cast("decimal(38,0)") * two64
      val mode = counts
        .groupBy(col("dst"))
        .agg(min_by(col("label"), ordKey).as("__new"))
        .select(col("dst").as("__node"), col("__new"))
      val next = labels.join(mode, labels("node") === col("__node"), "left")
        .select(col("node"),
          coalesce(col("__new"), col("label")).as("label"))
      labels =
        if (i % 2 == 0 && i < iters) next.localCheckpoint()
        else next
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** Integer HITS (Kleinberg, JACM 1999): hub/authority scores on a
    * directed graph, `iters` synchronous rounds of
    *   a'(v) = Σ_{u→v} h(u),  then  a(v) = a'(v)·10^6 div max(a')
    *   h'(v) = Σ_{v→u} a(u),  then  h(v) = h'(v)·10^6 div max(h')
    * — max-normalization instead of the L2 norm so the whole fixpoint
    * stays in exact integer arithmetic (the pageRankInt device: no
    * float summation order, no libm; both engines agree bit-for-bit).
    * Every vertex keeps a row (no-in-edge ⇒ authority 0, no-out-edge
    * ⇒ hub 0). Exactness bound: Σ_in h ≤ maxdeg·10^6 must stay under
    * 2^63 after the ·10^6 rescale ⇒ max degree < ~9.2·10^6; beyond
    * that pre-shift the scores (same contract as the PageRank grid).
    *
    * Per round: two degree-shaped aggregations + two vertex-sized
    * joins; each round localCheckpoints (plan truncation, O(1)
    * lineage). Output: (node, hub_u, auth_u) on the ppm grid. */
  /** Driver kernel for [[hitsInt]] — the exact max-normalized integer
    * hub/authority fixpoint in primitive arrays (same license and
    * both-paths spec as [[pageRankKernel]]). The `s · 10^6` rescale is
    * formed directly (as the distributed expression does): at the
    * 500k-edge gate s ≤ 5·10^11, so the product stays ≤ 5·10^17. */
  private def hitsKernel(
      spark: org.apache.spark.sql.SparkSession,
      g: LongEdges, iters: Int): DataFrame = {
    import spark.implicits._
    val (idx, si, di, m) = (g.index, g.src, g.dst, g.m)
    val nNodes = idx.n
    val hasIn = new Array[Boolean](nNodes)
    val hasOut = new Array[Boolean](nNodes)
    var i = 0
    while (i < m) { hasOut(si(i)) = true; hasIn(di(i)) = true; i += 1 }
    var h = Array.fill(nNodes)(1000000L)
    var a = Array.fill(nNodes)(1000000L)
    (1 to iters).foreach { _ =>
      val araw = new Array[Long](nNodes)
      var e = 0
      while (e < m) { araw(di(e)) += h(si(e)); e += 1 }
      var mx = Long.MinValue
      var v = 0
      while (v < nNodes) { if (hasIn(v) && araw(v) > mx) mx = araw(v); v += 1 }
      val aNext = new Array[Long](nNodes)
      v = 0
      while (v < nNodes) {
        aNext(v) = if (hasIn(v)) Math.multiplyExact(araw(v), 1000000L) / mx
        else 0L
        v += 1
      }
      a = aNext
      val hraw = new Array[Long](nNodes)
      e = 0
      while (e < m) { hraw(si(e)) += a(di(e)); e += 1 }
      var mh = Long.MinValue
      v = 0
      while (v < nNodes) { if (hasOut(v) && hraw(v) > mh) mh = hraw(v); v += 1 }
      val hNext = new Array[Long](nNodes)
      v = 0
      while (v < nNodes) {
        hNext(v) = if (hasOut(v)) Math.multiplyExact(hraw(v), 1000000L) / mh
        else 0L
        v += 1
      }
      h = hNext
    }
    (0 until nNodes).map(v => (idx.id(v), h(v), a(v)))
      .toDF("node", "hub_u", "auth_u")
  }

  def hitsInt(edges: DataFrame, iters: Int = 4,
      smallGraphEdges: Long = DriverKernel.MaxEdges): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters out of range: $iters")
    val e = edges.select(col("a").as("src"), col("b").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    val small = DriverKernel.longEdges(e, smallGraphEdges)
    if (small.isDefined)
      return hitsKernel(edges.sparkSession, small.get, iters)
    val verts = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    var h = verts.select(col("node"), lit(1000000L).as("h"))
    var a = verts.select(col("node"), lit(1000000L).as("a"))
    for (_ <- 1 to iters) {
      val araw = e.join(h.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("s"))
      a = verts.join(araw, Seq("node"), "left")
        .crossJoin(broadcast(araw.agg(max(col("s")).as("mx"))))
        .select(col("node"),
          coalesce(expr("s * 1000000L div mx"), lit(0L)).as("a"))
        .localCheckpoint()
      val hraw = e.join(a.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("s"))
      h = verts.join(hraw, Seq("node"), "left")
        .crossJoin(broadcast(hraw.agg(max(col("s")).as("mx"))))
        .select(col("node"),
          coalesce(expr("s * 1000000L div mx"), lit(0L)).as("h"))
        .localCheckpoint()
    }
    h.join(a, "node")
      .select(col("node"), col("h").as("hub_u"), col("a").as("auth_u"))
  }

  /** Resource-allocation link scoring (Zhou, Lü & Zhang, EPJ B 2009 —
    * the strongest of the classic local link predictors): for each
    * non-adjacent pair (a, b), RA = Σ_{z ∈ N(a)∩N(b)} 1/deg(z), i.e.
    * common neighbors weighted DOWN by their own connectivity (a hub
    * in common says little; a low-degree mutual friend says a lot).
    * Kept as exact ppm integers — `10^6 div deg(z)` summed — so the
    * DuckDB oracle reproduces every score bit-for-bit.
    *
    * Same wedge-join shape (and cost bound) as [[linkCandidates]];
    * the center-degree lookup rides the wedge join as one extra
    * dim-sized equi-join before the pair aggregation.
    * Output: (a, b, n_common, ra_ppm) with a < b, non-edges only.
    */
  def resourceAllocation(edges: DataFrame, minCommon: Long): DataFrame = {
    // same pin rationale as [[linkCandidates]]: edges feeds symmetric
    // (twice) + canon; sym feeds deg + both wedge sides
    val e = edges.localCheckpoint()
    val sym = symmetric(e).localCheckpoint()
    val deg = sym.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("deg"))
    val canon = e
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    sym.as("x").join(sym.as("y"),
        col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
      .join(deg.select(col("v").as("zv"), col("deg").as("deg_z")),
        col("x.dst") === col("zv"))
      .select(col("x.src").as("a"), col("y.src").as("b"),
        expr("1000000L div deg_z").as("ra_z"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("ra_z")).as("ra_ppm"))
      .filter(col("n_common") >= minCommon)
      .join(canon, Seq("a", "b"), "left_anti")
  }

  /** Per-node local clustering coefficient (Watts & Strogatz 1998):
    * lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) on the ppm grid, with
    * tri(v) = triangles through v. Triangles enumerate ONCE via the
    * degree-oriented wedge join ([[triangleCount]]'s device — each
    * triangle exactly one (s→t→t2) path, so the wedge fan-out is
    * bounded by the oriented degree, not the raw degree) and then
    * fan their three corners out map-side. Isolated-and-leaf nodes
    * (deg < 2) report 0. Output: (node, deg, n_tri, lcc_ppm). */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("u").as("n"))
      .union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint()
    val perNode = o.as("x")
      .join(o.as("y"), col("x.t") === col("y.s"))
      .join(o.as("z"),
        col("z.s") === col("x.s") && col("z.t") === col("y.t"), "left_semi")
      .select(explode(array(col("x.s"), col("x.t"), col("y.t"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .select(col("node"), col("deg"), col("n_tri"),
        when(col("deg") >= 2,
          expr("n_tri * 2000000L div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("lcc_ppm"))
  }

  def triangleCount(edges: DataFrame): DataFrame = {
    // Materialize the canonical edge list ONCE: it feeds the degree
    // aggregate (both union branches), the orientation join, and —
    // through `o` — three wedge-join consumers. Without the pin the
    // whole upstream edge derivation (for the co-purchase face: a
    // basket shuffle + pair explode) re-executes per consumer
    // (the clusterLabels device).
    val und = edges
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    val deg = und.select(col("u").as("n"))
      .union(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // 2 longs per edge, read by three join sides — pin it too so the
    // degree joins run once, not three times.
    val o = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint()
    o.as("x")
      .join(o.as("y"), col("x.t") === col("y.s"))
      .join(o.as("z"),
        col("z.s") === col("x.s") && col("z.t") === col("y.t"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }
}
