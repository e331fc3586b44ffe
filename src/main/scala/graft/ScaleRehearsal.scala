package graft

import graft.core.Session
import graft.etl.Indexes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal for the suite's heaviest faces: runs each at its
  * bench input and at a synthetic 10× (salted-id unions of the same
  * inputs — no new testdata needed) and prints wall-time growth
  * factors. The point is to catch super-linear behavior sf0.1 cannot
  * see — a growth factor ≲ 10 for data-proportional operators (dbscan,
  * pagerank, the dedup family) and ≪ 10 for O(changed)/O(batch)
  * contract operators (the incremental index refresh, the streaming
  * ingest sink against grown state) is a pass; results are recorded in
  * SCALING.md.
  *
  * Dedup-family replicas are TOKEN-salted (`regexp_replace(text,
  * "(\\S+)", "$1rK")` — every token gets a per-replica alphanumeric
  * suffix that survives [[graft.ops.Text.normalize]]), so replicas are
  * disjoint in shingle space: within-replica duplicate structure is
  * preserved exactly while cross-replica Jaccard is 0. A plain id-salt
  * replica of identical TEXT would make every cross-replica pair a
  * true duplicate — pair count ×100, a quadratic blowup by data
  * construction rather than by plan, which is not what the rehearsal
  * measures.
  *
  * Run: `sbt "runMain graft.ScaleRehearsal [sfDir] [faceRegex]"`.
  */
object ScaleRehearsal {
  /** The clinical inputs ×`copies`: every entity table unioned with
    * `copies - 1` replicas whose study ids carry a `_S<k>` salt. */
  private def replicate(in: Indexes.ClinicalInputs,
      copies: Int): Indexes.ClinicalInputs =
    in.mapEntities(df => (0 until copies).map { k =>
      if (k == 0) df
      else df.withColumn("study_id", concat(col("study_id"), lit(s"_S$k")))
    }.reduce(_.unionByName(_)))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sel = args.lift(1).map(_.r)
    def on(name: String): Boolean = sel.forall(_.findFirstIn(name).isDefined)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def timed(label: String)(f: => Long): Double = {
      System.gc()
      val t0 = System.nanoTime()
      val n = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[rehearsal] $label%-28s ${secs}%8.2f s  ($n rows)")
      secs
    }
    val growth = scala.collection.mutable.LinkedHashMap[String, Double]()
    def pair(name: String)(one: => Double)(ten: => Double): Unit =
      if (on(name)) {
        val a = one; val b = ten
        growth(name) = b / a
      }

    // ---- shared inputs ----
    lazy val e1 = graft.queries.GraphQueries.edges(spark, sfDir, 2)
      .localCheckpoint() // pin the (shared) derivation outside timing
    lazy val e10 = {
      val maxId = e1.agg(max(greatest(col("a"), col("b")))).head().getLong(0)
      val off = maxId + 1
      (0 until 10).map(k =>
          e1.select((col("a") + lit(k * off)).as("a"),
            (col("b") + lit(k * off)).as("b")))
        .reduce(_.unionByName(_)).localCheckpoint()
    }
    // token-salted document replicas: disjoint shingle spaces, intact
    // within-replica duplicate structure (see scaladoc)
    lazy val tdocs1 = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      .localCheckpoint()
    lazy val nTd = tdocs1.agg(max(col("doc_id"))).head().getLong(0) + 1
    def saltedDocs(copies: Int): DataFrame =
      (0 until copies).map { k =>
        if (k == 0) tdocs1
        else tdocs1.select((col("doc_id") + lit(k * nTd)).as("doc_id"),
          col("source"), col("n_chars"),
          regexp_replace(col("text"), "(\\S+)", s"$$1r$k").as("text"))
      }.reduce(_.unionByName(_))
    lazy val tdocs10 = saltedDocs(10).localCheckpoint()

    // ---- q_pagerank_directed: 10 disjoint salted replicas of the
    // co-order graph — vertex/edge count ×10, identical structure ----
    pair("pagerank_directed") {
      timed("pagerank_directed 1x") {
        graft.ops.Graph.pageRankIntDirected(e1, iters = 5, smallGraphEdges = 0L).count()
      }
    } {
      timed("pagerank_directed 10x") {
        graft.ops.Graph.pageRankIntDirected(e10, iters = 5, smallGraphEdges = 0L).count()
      }
    }

    // ---- q_dbscan: 10 spatially-translated replicas (x shifted far
    // past the band structure) — same density profile per replica ----
    if (on("dbscan")) {
      val pts1 = graft.queries.DensityQueries.projectedPoints(spark, sfDir)
        .localCheckpoint()
      val nVec = pts1.agg(max(col("vec_id"))).head().getLong(0) + 1
      val span = 200000000000L // 200e9 ≫ the 10-band × 8e9 layout
      val pts10 = (0 until 10).map(k =>
          pts1.select((col("vec_id") + lit(k * nVec)).as("vec_id"),
            (col("px") + lit(k * span)).as("px"), col("py")))
        .reduce(_.unionByName(_)).localCheckpoint()
      import graft.queries.DensityQueries.{Eps, MinPts}
      val db1 = timed("dbscan 1x") {
        graft.ops.Density.dbscan(pts1, "vec_id", "px", "py", Eps, MinPts).count()
      }
      val db10 = timed("dbscan 10x") {
        graft.ops.Density.dbscan(pts10, "vec_id", "px", "py", Eps, MinPts).count()
      }
      growth("dbscan") = db10 / db1
    }

    // ---- q_index_refresh: corpus ×10 (salted study replicas), changed
    // slice CONSTANT (one study) — the O(changed) contract says the
    // growth factor should be far below 10 ----
    if (on("index_refresh")) {
      val fixtures = "/root/repo/src/test/resources/clinical"
      val meta = Seq("dictionary_version" -> "9.9", "study_version" -> "v42")
      def refreshSecs(copies: Int, label: String): Double = {
        val in = replicate(
          Indexes.ClinicalInputs.fromDir(spark, fixtures), copies)
        // stored prior (untimed — scenario scaffolding, as in Bench)
        val dir = graft.core.Scratch.dir(s"rehearsal_prior_$copies")
        Indexes.studyIndex(in, meta).write.mode("overwrite").parquet(dir)
        val prior = spark.read.parquet(dir)
        timed(label) {
          Indexes.refreshStudyIndex(prior, in, Seq("GS001"), meta).count()
        }
      }
      val ir1 = refreshSecs(1, "index_refresh 1x")
      val ir10 = refreshSecs(10, "index_refresh 10x (corpus)")
      growth("index_refresh") = ir10 / ir1
    }

    // ---- q_boilerplate: 10 salted-doc replicas per SOURCE (the
    // group key unchanged) — every (source, line) count grows ×10, so
    // this stresses exactly the countDistinct shuffle whose map-side
    // combiners are supposed to eat the duplication ----
    if (on("boilerplate")) {
      def pages(docs: DataFrame): DataFrame = docs
        .select(col("doc_id"), col("source"),
          concat_ws("\n", concat(lit("NAV "), col("source")), col("text"),
            concat(lit("(c) "), col("source"), lit(" footer"))).as("page"))
      // boilerplate keeps the ORIGINAL text ×10 (not token-salted):
      // the duplicated (source, line) mass is the load under test
      val docs1 = pages(tdocs1).localCheckpoint()
      val docs10 = (0 until 10).map(k =>
          docs1.select((col("doc_id") + lit(k * nTd)).as("doc_id"),
            col("source"), col("page")))
        .reduce(_.unionByName(_)).localCheckpoint()
      val bp1 = timed("boilerplate 1x") {
        graft.ops.Text.boilerplateLines(
          docs1, "doc_id", "source", "page", minDocs = 5).count()
      }
      val bp10 = timed("boilerplate 10x") {
        graft.ops.Text.boilerplateLines(
          docs10, "doc_id", "source", "page", minDocs = 5).count()
      }
      growth("boilerplate") = bp10 / bp1
    }

    // ---- q_paragraph_dedup: keep-first corpus-wide paragraph dedup.
    // Like boilerplate, replicas keep the ORIGINAL text (not
    // token-salted): ×10 copies make every paragraph a 10-member
    // duplicate group, which is exactly the load keep-first must
    // absorb in its map-side-combined min(struct) — the pass criterion
    // is that the heavy duplication collapses before the wire instead
    // of exploding the shuffle. Min-of-2 per the new-row convention ----
    if (on("paragraph_dedup")) {
      def pages(docs: DataFrame): DataFrame = docs
        .select(col("doc_id"),
          concat_ws("\n", concat(lit("promo "), col("source")), col("text"),
            concat(lit("promo "), col("source")),
            concat(lit("(c) "), col("source"))).as("page"))
      val pd1 = pages(tdocs1).localCheckpoint()
      val pd10 = (0 until 10).map(k =>
          pd1.select((col("doc_id") + lit(k * nTd)).as("doc_id"),
            col("page")))
        .reduce(_.unionByName(_)).localCheckpoint()
      def run(docs: DataFrame, label: String): Double =
        (1 to 2).map { rep =>
          timed(s"$label rep$rep") {
            graft.ops.Text.dedupParagraphs(docs, "doc_id", "page").count()
          }
        }.min
      val p1 = run(pd1, "paragraph_dedup 1x")
      val p10 = run(pd10, "paragraph_dedup 10x")
      growth("paragraph_dedup") = p10 / p1
    }

    // ---- q_triangles: 10 disjoint salted replicas of the co-order
    // graph (the pagerank device). m grows ×10 with structure held;
    // the compact-forward wedge join is O(m^1.5) WORST-case, but on
    // disjoint replicas the expected growth is ~linear — catching a
    // super-linear regression (e.g. a lost degree bound) is exactly
    // what this face is for ----
    pair("triangles") {
      timed("triangles 1x") {
        graft.ops.Graph.triangleCount(e1).head().getLong(0)
      }
    } {
      timed("triangles 10x") {
        graft.ops.Graph.triangleCount(e10).head().getLong(0)
      }
    }

    // ---- q_snm_dedup: sorted-neighborhood pairs + exact rescore over
    // token-salted replicas — O(n·w) contract, expect ~linear ----
    if (on("snm_dedup")) {
      def snm(docs: DataFrame): Long = {
        val keyed = docs.select(col("doc_id"),
          substring(graft.ops.Text.normalize(col("text")), 1, 12).as("__k"))
        val pairs = graft.ops.Dedup.sortedNeighborhoodPairs(
          keyed, "doc_id", col("__k"), window = 4)
        val sh = docs.select(col("doc_id"),
            graft.ops.Text.shingles(col("text"), 3).as("__sh"))
          .filter(size(col("__sh")) > 0)
        pairs
          .join(sh.select(col("doc_id").as("a"), col("__sh").as("__sa")), "a")
          .join(sh.select(col("doc_id").as("b"), col("__sh").as("__sb")), "b")
          .filter(graft.ops.Dedup.jaccard(col("__sa"), col("__sb")) >= 0.8)
          .count()
      }
      val s1 = timed("snm_dedup 1x") { snm(tdocs1) }
      val s10 = timed("snm_dedup 10x") { snm(tdocs10) }
      growth("snm_dedup") = s10 / s1
    }

    // ---- q_winnow_neardup: winnowing prints + df-capped candidate
    // join over token-salted replicas (disjoint print spaces — the
    // per-replica pair structure is preserved, and the MOSS df cap is
    // corpus-relative so hot boilerplate prints still drop). The md5
    // gram pass is the linear bulk; the join is bounded by the cap.
    // Min-of-2 per scale (the convention for new rows) ----
    if (on("winnow_neardup")) {
      def winnow(docs: DataFrame, label: String): Double =
        (1 to 2).map { rep =>
          timed(s"$label rep$rep") {
            graft.ops.Text.winnowNearDupCandidates(
              docs, "doc_id", col("text"),
              k = 8, w = 4, maxDf = 10, minShared = 2).count()
          }
        }.min
      val w1 = winnow(tdocs1, "winnow_neardup 1x")
      val w10 = winnow(tdocs10, "winnow_neardup 10x")
      growth("winnow_neardup") = w10 / w1
    }

    // ---- q_dedup_keep_best: LSH banding + CC labels + per-cluster
    // argmax over token-salted replicas — band buckets stay
    // replica-local, expect ~linear ----
    if (on("dedup_keep_best")) {
      def keepBest(docs: DataFrame): Long = {
        val sh = docs.withColumn("sh",
          graft.ops.Text.shingles(col("text"), 3))
        val pairs = graft.ops.Dedup.nearDupPairs(
          sh, "doc_id", col("sh"), 0.8, 64, 16).select("a", "b")
        graft.ops.Dedup.keepBestPerCluster(
          sh, "doc_id", col("n_chars"), pairs).count()
      }
      val k1 = timed("dedup_keep_best 1x") { keepBest(tdocs1) }
      val k10 = timed("dedup_keep_best 10x") { keepBest(tdocs10) }
      growth("dedup_keep_best") = k10 / k1
    }

    // ---- q_blocking_recall: exact AllPairs truth (prefix filter) vs
    // the SNM blocker, both over token-salted replicas. Prefix-filter
    // candidate count is Σ_rare df² per disjoint vocabulary — expect
    // ~linear, catching a lost length/positional prune ----
    if (on("blocking_recall")) {
      def recall(docs: DataFrame): Long = {
        val sh = docs.withColumn("__sh",
          graft.ops.Text.shingles(col("text"), 3))
        val truth = graft.ops.Dedup.exactNearDupPairs(
            sh, id = "doc_id", shingles = col("__sh"), threshold = 0.8)
          .select("a", "b")
        val keyed = docs.select(col("doc_id"),
          substring(graft.ops.Text.normalize(col("text")), 1, 12).as("__k"))
        val cand = graft.ops.Dedup.sortedNeighborhoodPairs(
            keyed, "doc_id", col("__k"), window = 4)
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .distinct()
        truth.join(cand, Seq("a", "b"), "left").count()
      }
      val r1 = timed("blocking_recall 1x") { recall(tdocs1) }
      val r10 = timed("blocking_recall 10x") { recall(tdocs10) }
      growth("blocking_recall") = r10 / r1
    }

    // ---- q_stream_ingest: the O(batch) contract under GROWN state —
    // accrete band state from 1× vs 10× corpora (untimed scaffolding),
    // then ingest the SAME constant fresh batch against each. The
    // timed cost is one LSH pass over the batch + the batch-vs-state
    // band join; growth ≪ 10 shows the accumulated corpus never
    // re-pays per batch ----
    if (on("stream_ingest")) {
      def ingestSecs(copies: Int, label: String): Double = {
        val dir = graft.core.Scratch.dir(s"rehearsal_ingest_$copies")
        val corpus = saltedDocs(copies)
          .withColumn("sh", graft.ops.Text.shingles(col("text"), 3))
          .select("doc_id", "sh")
        (0 until 3).foreach { b =>
          graft.streaming.EventStream.nearDupIngestSink(dir, "doc_id", "sh")(
            corpus.filter(col("doc_id") % 3 === b), b.toLong)
        }
        // constant fresh batch: new ids, its own disjoint vocabulary
        val batch = tdocs1.filter(col("doc_id") < 2000)
          .select((col("doc_id") + lit(100L * nTd)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "$1zq").as("text"))
          .withColumn("sh", graft.ops.Text.shingles(col("text"), 3))
          .select("doc_id", "sh")
          .localCheckpoint()
        timed(label) {
          graft.streaming.EventStream.nearDupIngestSink(dir, "doc_id", "sh")(
            batch, 3L)
          graft.streaming.EventStream.readAccepted(spark, dir)
            .filter(col("batch_id") === 3).count()
        }
      }
      val si1 = ingestSecs(1, "stream_ingest 1x (state)")
      val si10 = ingestSecs(10, "stream_ingest 10x (state)")
      growth("stream_ingest") = si10 / si1
    }

    // ---- q_label_prop: 10 disjoint graph replicas — per-round join +
    // count + degree-bounded argmax window should stay ~linear ----
    pair("label_prop") {
      timed("label_prop 1x") {
        graft.ops.Graph.labelPropagation(e1, iters = 4, smallGraphEdges = 0L).count()
      }
    } {
      timed("label_prop 10x") {
        graft.ops.Graph.labelPropagation(e10, iters = 4, smallGraphEdges = 0L).count()
      }
    }

    // ---- q_kcore: 10 disjoint replicas — per-round degree count +
    // two semi-joins, peeling is structure-local so ~linear ----
    pair("kcore") {
      timed("kcore 1x") { graft.ops.Graph.kCore(e1, 3, rounds = 8, smallGraphEdges = 0L).count() }
    } {
      timed("kcore 10x") { graft.ops.Graph.kCore(e10, 3, rounds = 8, smallGraphEdges = 0L).count() }
    }

    // ---- q_cc_incremental: PRIOR labeling ×10 (disjoint replicas),
    // new-edge batch CONSTANT (replica 0's slice) — the O(batch)
    // contract modulo the one unavoidable map-side relabel pass over
    // the grown label table ----
    if (on("cc_incremental")) {
      def ccInc(prior: DataFrame, batch: DataFrame, label: String): Double = {
        val p = prior.localCheckpoint() // scenario scaffolding, untimed
        timed(label) {
          graft.ops.Graph.incrementalComponents(p, batch).count()
        }
      }
      val old1 = e1.filter((col("a") + col("b")) % 5 =!= 0)
      val old10 = e10.filter((col("a") + col("b")) % 5 =!= 0)
      val batch = e1.filter((col("a") + col("b")) % 5 === 0)
        .localCheckpoint()
      val ci1 = ccInc(graft.ops.Graph.connectedComponents(old1), batch,
        "cc_incremental 1x")
      val ci10 = ccInc(graft.ops.Graph.connectedComponents(old10), batch,
        "cc_incremental 10x (prior)")
      growth("cc_incremental") = ci10 / ci1
    }

    // ---- q_kcenter: 10 replicas translated apart in component 0 —
    // 6 greedy passes over a 10× corpus should grow ~linearly ----
    if (on("kcenter")) {
      val emb1 = graft.core.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("embedding"))
        .localCheckpoint()
      val nE = emb1.agg(max(col("vec_id"))).head().getLong(0) + 1
      val emb10 = (0 until 10).map(k =>
          emb1.select((col("vec_id") + lit(k * nE)).as("vec_id"),
            transform(col("embedding"),
              (x, i) => when(i === 0, x + lit(k * 10.0)).otherwise(x))
              .as("embedding")))
        .reduce(_.unionByName(_)).localCheckpoint()
      val kc1 = timed("kcenter 1x") {
        graft.ops.Diversity.kCenterGreedy(
          emb1, "vec_id", "embedding", k = 6).count()
      }
      val kc10 = timed("kcenter 10x") {
        graft.ops.Diversity.kCenterGreedy(
          emb10, "vec_id", "embedding", k = 6).count()
      }
      growth("kcenter") = kc10 / kc1
    }

    // ---- q_ontology_closure: 10 disjoint salted trees — the round
    // COUNT is depth-bound, not size-bound, so 10× nodes should cost
    // ~10× per round with the same 4+confirm rounds ----
    if (on("closure")) {
      val e1 = graft.core.Tables.part(spark, sfDir)
        .filter(col("p_partkey") >= 1)
        .select(col("p_partkey").as("child"),
          (col("p_partkey") / 2).cast("long").as("anc"))
        .localCheckpoint()
      val off = e1.agg(max(col("child"))).head().getLong(0) + 1
      val e10 = (0 until 10).map(k =>
          e1.select((col("child") + lit(k * off)).as("child"),
            (col("anc") + lit(k * off)).as("anc")))
        .reduce(_.unionByName(_)).localCheckpoint()
      val cl1 = timed("closure 1x") {
        graft.ops.Ontology.ancestorClosure(e1, smallGraphEdges = 0).count()
      }
      val cl10 = timed("closure 10x") {
        graft.ops.Ontology.ancestorClosure(e10, smallGraphEdges = 0).count()
      }
      growth("closure") = cl10 / cl1
    }

    // ---- q_blocking_recall_sampled: the FIXED-BUDGET anchored truth
    // (Dedup.anchoredExactNearDupPairs) vs the same SNM blocker. The
    // full exact truth above grows ≈ Σ df² (measured 4.33× at 10×);
    // under a constant anchor budget the asymmetric join is
    // (|S|/n)·Σ df² ≈ linear — this row is the evidence ----
    if (on("blocking_recall_sampled")) {
      // shingle postings are an INGEST-TIME artifact (the round-13
      // face feeds from the persisted warm() postings), so the
      // rehearsal pre-shingles outside the timed window — what's
      // timed is the estimator's contract: one postings scan + the
      // budget-bounded anchored truth join + the blocker
      def shingled(docs: DataFrame): DataFrame =
        docs.select(col("doc_id"), col("text"), graft.ops.Text
          .shingles(col("text"), 3).as("__sh")).localCheckpoint()
      def recallSampled(sh: DataFrame, budget: Double): Long = {
        val nDocs = sh.count()
        val thr = graft.ops.Sampling.hexThreshold(budget / nDocs)
        val anchor =
          graft.ops.Sampling.unitDraw(col("doc_id"), "br") < lit(thr)
        val truth = graft.ops.Dedup.anchoredExactNearDupPairs(
            sh, id = "doc_id", shingles = col("__sh"), threshold = 0.8,
            anchor = anchor)
          .select("a", "b")
        val keyed = sh.select(col("doc_id"),
          substring(graft.ops.Text.normalize(col("text")), 1, 12).as("__k"))
        val cand = graft.ops.Dedup.sortedNeighborhoodPairs(
            keyed, "doc_id", col("__k"), window = 4)
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .distinct()
        truth.join(cand, Seq("a", "b"), "left").count()
      }
      def minOf2(label: String)(f: => Long): Double =
        math.min(timed(s"$label rep1")(f), timed(s"$label rep2")(f))
      val sh1 = shingled(tdocs1)
      val sh10 = shingled(tdocs10)
      val r1 = minOf2("blocking_recall_sampled 1x") {
        recallSampled(sh1, 1500.0) }
      val r10 = minOf2("blocking_recall_sampled 10x") {
        recallSampled(sh10, 1500.0) }
      growth("blocking_recall_sampled") = r10 / r1
    }

    // ---- truth-side isolation on SHARED-VOCABULARY replicas (plain
    // id-salt, same TEXT): df grows ×copies, Σ df² ×copies² — the
    // device where the exact truth join is quadratic BY CONSTRUCTION
    // and the fixed-budget anchored truth stays linear. (The token-
    // salted replicas above keep vocabularies disjoint, which makes
    // BOTH variants ~linear and hides the difference; id-salt is the
    // adversarial case a real growing corpus approaches.) ----
    if (on("blocking_shared")) {
      def minOf2(label: String)(f: => Long): Double =
        math.min(timed(s"$label rep1")(f), timed(s"$label rep2")(f))
      val sdocs10 = (0 until 10).map(k =>
          tdocs1.select((col("doc_id") + lit(k * nTd)).as("doc_id"),
            col("source"), col("n_chars"), col("text")))
        .reduce(_.unionByName(_)).localCheckpoint()
      def exactTruth(docs: DataFrame): Long = {
        val sh = docs.withColumn("__sh",
          graft.ops.Text.shingles(col("text"), 3))
        graft.ops.Dedup.exactNearDupPairs(
          sh, "doc_id", col("__sh"), 0.8).count()
      }
      def sampledTruth(docs: DataFrame, budget: Double): Long = {
        val nDocs = docs.count()
        val thr = graft.ops.Sampling.hexThreshold(budget / nDocs)
        val anchor =
          graft.ops.Sampling.unitDraw(col("doc_id"), "br") < lit(thr)
        val sh = docs.withColumn("__sh",
          graft.ops.Text.shingles(col("text"), 3))
        graft.ops.Dedup.anchoredExactNearDupPairs(
          sh, "doc_id", col("__sh"), 0.8, anchor).count()
      }
      val te1 = minOf2("truth_exact shared 1x") { exactTruth(tdocs1) }
      val te10 = minOf2("truth_exact shared 10x") { exactTruth(sdocs10) }
      growth("truth_exact_shared") = te10 / te1
      val ts1 = minOf2("truth_sampled shared 1x") {
        sampledTruth(tdocs1, 1500.0) }
      val ts10 = minOf2("truth_sampled shared 10x") {
        sampledTruth(sdocs10, 1500.0) }
      growth("truth_sampled_shared") = ts10 / ts1
    }

    // ---- 100× incremental-contract rehearsals (run with face regex
    // "inc100"): the four O(batch)/O(changed) contracts measured at
    // state ×10 AND ×100 with the batch/changed slice CONSTANT. The
    // pass bar is the 100× number ≲2× the 10× number — i.e. the
    // contract's state term stays sub-linear across two decades, the
    // strongest local evidence that the 1000-executor/100 TB story
    // holds. Scaffolding (prior labels, band state, prior snapshots)
    // is built OUTSIDE the timed window, exactly as production would
    // hold them as persisted artifacts. ----

    // prior CC labels ×N by offset replication (disjoint replicas ⇒
    // CC(union) = union of offset CC — no 100× CC scaffold run needed).
    // The contract under test is the PERSISTED maintenance path
    // (GraphStore.applyBatch): bucket-pruned endpoint lookup, quotient
    // CC, rebase publish, new-node append — the accumulated state is
    // never scanned or rewritten. (The frame-level
    // incrementalComponents necessarily emits full state per call —
    // that is the EXPORT shape, not the per-batch maintenance shape;
    // round 12 measured it at 8.78× for exactly that reason.)
    // applyBatch mutates its store, so min-of-2 runs against two
    // independently initialized scaffolds, not a warmed second pass.
    if (on("inc100_cc")) {
      val old1 = e1.filter((col("a") + col("b")) % 5 =!= 0)
      val batch = e1.filter((col("a") + col("b")) % 5 === 0)
        .localCheckpoint()
      val prior1 = graft.ops.Graph.connectedComponents(old1)
        .localCheckpoint()
      val maxId = e1.agg(max(greatest(col("a"), col("b"))))
        .head().getLong(0)
      val off = maxId + 1
      def ccSecs(copies: Int, label: String): Double = {
        val p = (0 until copies).map(k =>
            prior1.select((col("node") + lit(k * off)).as("node"),
              (col("component") + lit(k * off)).as("component")))
          .reduce(_.unionByName(_)).localCheckpoint()
        (1 to 2).map { rep =>
          val dir = graft.core.Scratch.dir(
            s"rehearsal_inc100_ccstore_${copies}_$rep")
          graft.ops.GraphStore.init(p, dir)
          timed(s"$label rep$rep") {
            val a = graft.ops.GraphStore.applyBatch(spark, dir, batch)
            a.merges + a.newNodes
          }
        }.min
      }
      val c10 = ccSecs(10, "inc100 cc_incremental 10x")
      val c100 = ccSecs(100, "inc100 cc_incremental 100x")
      growth("inc100_cc (100x/10x)") = c100 / c10
    }

    // ---- GraphStore bucketing under id-space SKEW (dense pocket +
    // far outliers): the regime where the fixed-shift bucket fn
    // overfills — width = target·span/n is sized by the OUTLIER span,
    // so the dense pocket collapses into one bucket and every batch
    // that touches it reads O(state), not O(batch). Quantile mode
    // (equal-COUNT boundaries) is immune. Closed-form scaffold: nodes
    // in blocks of 4 (component = block), every 100th id flung to
    // 2^40 + id; labels derived arithmetically so the ×100 scaffold
    // needs no CC run. Constant batch = 2000 block-joining edges in
    // the base range. Reports rows-per-bucket overfill at ×100 and
    // timed applyBatch growth for BOTH modes. ----
    if (on("inc100_ccskew")) {
      val base = 200000L
      def skewId(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        when(pmod(c, lit(100L)) === 0, lit(1L << 40) + c).otherwise(c)
      def labels(n: Long): DataFrame = {
        val blk = col("id") - pmod(col("id"), lit(4L))
        spark.range(n).select(skewId(col("id")).as("node"),
          when(pmod(blk, lit(100L)) === 0, blk + 1L).otherwise(blk)
            .as("component"))
      }
      val batch = spark.range(2000).select(
          skewId(col("id") * 8).as("a"), skewId(col("id") * 8 + 4).as("b"))
        .localCheckpoint()
      def secs(copies: Long, quantile: Boolean, label: String): Double =
        (1 to 2).map { rep =>
          val dir = graft.core.Scratch.dir(
            s"rehearsal_ccskew_${copies}_${quantile}_$rep")
          graft.ops.GraphStore.init(labels(base * copies), dir,
            quantileBuckets = quantile)
          if (rep == 1 && copies == 100) {
            val mx = spark.read.parquet(s"$dir/labels")
              .groupBy(col("__pt")).count()
              .agg(max(col("count"))).head().getLong(0)
            println(f"[rehearsal] ccskew max-rows/bucket " +
              f"quantile=$quantile%-5s $mx%12d (target 262144)")
          }
          timed(s"$label rep$rep") {
            val a = graft.ops.GraphStore.applyBatch(spark, dir, batch)
            a.merges + a.newNodes
          }
        }.min
      val f10 = secs(10, quantile = false, "ccskew fixed 10x")
      val f100 = secs(100, quantile = false, "ccskew fixed 100x")
      growth("ccskew_fixed (100x/10x)") = f100 / f10
      val q10 = secs(10, quantile = true, "ccskew quantile 10x")
      val q100 = secs(100, quantile = true, "ccskew quantile 100x")
      growth("ccskew_quantile (100x/10x)") = q100 / q10
    }

    // band state from an N× corpus (one untimed fold), constant fresh
    // batch with its own disjoint vocabulary
    if (on("inc100_stream")) {
      // the sink no-ops a replayed batch id (exactly-once), so
      // min-of-2 folds batch 1 into two independently scaffolded dirs
      def ingestSecs(copies: Int, label: String): Double = {
        val corpus = saltedDocs(copies)
          .withColumn("sh", graft.ops.Text.shingles(col("text"), 3))
          .select("doc_id", "sh")
          .localCheckpoint() // scaffold fold runs once per rep
        val batch = tdocs1.filter(col("doc_id") < 2000)
          .select((col("doc_id") + lit(1000L * nTd)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "$1zq").as("text"))
          .withColumn("sh", graft.ops.Text.shingles(col("text"), 3))
          .select("doc_id", "sh")
          .localCheckpoint()
        (1 to 2).map { rep =>
          val dir = graft.core.Scratch.dir(
            s"rehearsal_inc100_ingest_${copies}_$rep")
          graft.streaming.EventStream.nearDupIngestSink(dir, "doc_id", "sh")(
            corpus, 0L)
          timed(s"$label rep$rep") {
            graft.streaming.EventStream.nearDupIngestSink(dir, "doc_id", "sh")(
              batch, 1L)
            graft.streaming.EventStream.readAccepted(spark, dir)
              .filter(col("batch_id") === 1).count()
          }
        }.min
      }
      val s10 = ingestSecs(10, "inc100 stream_ingest 10x")
      val s100 = ingestSecs(100, "inc100 stream_ingest 100x")
      growth("inc100_stream (100x/10x)") = s100 / s10
    }

    // persisted banded state from an N× corpus, constant batch through
    // incrementalCandidates — the q_dedup_incremental contract
    if (on("inc100_dedup")) {
      def dedupSecs(copies: Int, label: String): Double = {
        val stateDir = graft.core.Scratch.dir(s"rehearsal_inc100_dedup_$copies")
        graft.ops.Dedup.bandedBuckets(
            saltedDocs(copies).withColumn("sh",
              graft.ops.Text.shingles(col("text"), 3)),
            "doc_id", col("sh"))
          .write.mode("overwrite").parquet(stateDir)
        val state = spark.read.parquet(stateDir)
        val batch = tdocs1.filter(col("doc_id") < 2000)
          .select((col("doc_id") + lit(2000L * nTd)).as("doc_id"),
            regexp_replace(col("text"), "(\\S+)", "$1zz").as("text"))
          .withColumn("sh", graft.ops.Text.shingles(col("text"), 3))
          .localCheckpoint()
        // read-only against the persisted band state — plain min-of-2
        (1 to 2).map { rep =>
          timed(s"$label rep$rep") {
            val (cand, _) = graft.ops.Dedup.incrementalCandidates(
              state, batch, "doc_id", col("sh"))
            cand.count()
          }
        }.min
      }
      val d10 = dedupSecs(10, "inc100 dedup_incremental 10x")
      val d100 = dedupSecs(100, "inc100 dedup_incremental 100x")
      growth("inc100_dedup (100x/10x)") = d100 / d10
    }

    // ---- sharded export: data-proportional by definition (it writes
    // the corpus), so the bar is growth ≲ 10 — i.e. the three passes
    // (sizing, per-shard stats, hash-shuffled write) all stay parallel
    // and nothing corpus-sized funnels through the driver ----
    if (on("export_shards")) {
      def expSecs(docs: DataFrame, label: String, n: Int): Double =
        (1 to 2).map { rep =>
          val dir = graft.core.Scratch.dir(s"rehearsal_export_${n}_$rep")
          timed(s"$label rep$rep") {
            val r = graft.sources.Export.exportShards(docs, dir,
              targetBytes = 1L << 18, id = col("doc_id"),
              sizeOf = octet_length(col("text")),
              checksumCols = Seq("doc_id", "text"))
            r.shards.toLong + r.rows
          }
        }.min
      val x1 = expSecs(tdocs1, "export_shards 1x", 1)
      val x10 = expSecs(tdocs10, "export_shards 10x", 10)
      growth("export_shards (10x/1x)") = x10 / x1
    }

    // ---- jsonl sharded export (round 15): identical discipline to
    // the parquet path plus per-file gzip — data-proportional, so the
    // bar is growth ≲ 10 with the encode/compress staying
    // executor-parallel ----
    if (on("export_jsonl")) {
      def expSecs(docs: DataFrame, label: String, n: Int): Double =
        (1 to 2).map { rep =>
          val dir = graft.core.Scratch.dir(s"rehearsal_jsonl_${n}_$rep")
          timed(s"$label rep$rep") {
            val r = graft.sources.Export.exportJsonlShards(docs, dir,
              targetBytes = 1L << 18, id = col("doc_id"),
              sizeOf = octet_length(col("text")),
              checksumCols = Seq("doc_id", "text"))
            r.shards.toLong + r.rows
          }
        }.min
      val x1 = expSecs(tdocs1, "export_jsonl 1x", 1)
      val x10 = expSecs(tdocs10, "export_jsonl 10x", 10)
      growth("export_jsonl (10x/1x)") = x10 / x1
    }

    // ---- streamed-export COMPACTION (round 15): files-per-shard
    // trajectory. 24 batches through the sink with compaction
    // (threshold 6) vs without; the read path's cost at the end is
    // the growth that matters — uncompacted, every shard is
    // one-file-per-batch and the listing term grows with stream
    // LIFETIME, which is the super-linear shape the clinical catalog
    // fix measured. Bar: compacted read ≲ uncompacted read and dirs
    // bounded by the threshold. ----
    if (on("stream_compact")) {
      val batches = 24
      def run(threshold: Int, label: String): (Double, Int) = {
        val dir = graft.core.Scratch.dir(s"rehearsal_compact_$threshold")
        val sink = graft.streaming.EventStream.exportShardsSink(
          dir, 16, col("doc_id"), octet_length(col("text")),
          Seq("doc_id", "text"), compactAtDirs = threshold) _
        val slice = tdocs1.filter(col("doc_id") < 2000)
          .select("doc_id", "text").localCheckpoint()
        (0 until batches).foreach { b =>
          sink(slice.select((col("doc_id") + lit(b.toLong * nTd))
            .as("doc_id"), col("text")), b.toLong)
        }
        val dirs = graft.streaming.EventStream
          .readStreamShardManifest(spark, dir)
          .select(col("dirs")).head().getSeq[String](0).size
        val secs = timed(s"$label read") {
          graft.streaming.EventStream.readStreamShards(spark, dir).count()
        }
        println(s"[rehearsal] $label dirs listed: $dirs")
        (secs, dirs)
      }
      val (cSecs, cDirs) = run(6, s"stream_compact on ($batches batches)")
      val (uSecs, uDirs) =
        run(batches + 1, s"stream_compact off ($batches batches)")
      growth(s"stream_compact read (off/on, dirs $uDirs->$cDirs)") =
        uSecs / cSecs
    }

    // ---- seeded epoch order (round 15): one shuffle on the shard id
    // + a per-shard window + an O(shards) offset broadcast — data-
    // proportional, bar ≲ 10, nothing global over row data ----
    if (on("epoch_order")) {
      def orderSecs(docs: DataFrame, label: String, n: Int): Double = {
        val dir = graft.core.Scratch.dir(s"rehearsal_epoch_$n")
        graft.sources.Export.exportShards(docs, dir,
          targetBytes = 1L << 18, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text"))
        (1 to 2).map { rep =>
          timed(s"$label rep$rep") {
            graft.sources.Export
              .epochOrder(spark, dir, "doc_id", seed = 7L, epoch = rep)
              .agg(max(col("epoch_pos"))).head().getLong(0)
          }
        }.min
      }
      val x1 = orderSecs(tdocs1, "epoch_order 1x", 1)
      val x10 = orderSecs(tdocs10, "epoch_order 10x", 10)
      growth("epoch_order (10x/1x)") = x10 / x1
    }

    // ---- WARC ingest (round 15): container count ×10, one task per
    // container — the reader's scale grain. The parse is streaming
    // (per-task memory = one record), so wall should grow FAR below
    // 10 while cores are free: the containers decode in parallel. ----
    if (on("warc_ingest")) {
      def build(copies: Int): String = {
        val dir = graft.core.Scratch.dir(s"rehearsal_warc_$copies")
        new java.io.File(dir).mkdirs()
        val docs = tdocs1.select(col("doc_id"), col("text"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        def record(id: Long, text: String): Array[Byte] = {
          val p = text.getBytes("UTF-8")
          (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
            s"WARC-Target-URI: http://x/doc/$id\r\n" +
            s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
            p ++ "\r\n\r\n".getBytes("UTF-8")
        }
        (0 until copies).foreach { k =>
          val out = new java.io.FileOutputStream(s"$dir/part$k.warc.gz")
          val g = new java.util.zip.GZIPOutputStream(
            new java.io.BufferedOutputStream(out, 1 << 16))
          try docs.foreach { case (id, t) => g.write(record(id, t)) }
          finally g.close()
        }
        dir
      }
      def ingest(dir: String, label: String): Double =
        (1 to 2).map { _ =>
          timed(label) {
            graft.sources.Warc.records(spark, dir).count()
          }
        }.min
      val d1 = build(1); val d10 = build(10)
      val w1 = ingest(d1, "warc_ingest 1 container")
      val w10 = ingest(d10, "warc_ingest 10 containers")
      growth("warc_ingest (10x/1x containers)") = w10 / w1
    }

    // ---- INCREMENTAL re-export vs full (round 15): corpus ×10
    // scaffolded as the store, then ONE constant small slice appended
    // and re-exported both ways. The incremental path's cost must
    // track the DELTA (changed shards only), not the corpus. ----
    if (on("inc_export")) {
      val grown10 = tdocs10.select("doc_id", "text").localCheckpoint()
      val delta = tdocs1.filter(col("doc_id") < 200)
        .select((col("doc_id") + lit(9000L * nTd)).as("doc_id"),
          col("text")).localCheckpoint()
      val withDelta = grown10.unionByName(delta).localCheckpoint()
      val nSh = 256
      def incSecs(rep: Int): Double = {
        val dir = graft.core.Scratch.dir(s"rehearsal_inc_export_$rep")
        graft.sources.Export.exportShardsIncremental(grown10, dir, nSh,
          col("doc_id"), octet_length(col("text")),
          Seq("doc_id", "text"))
        timed(s"inc_export incremental rep$rep") {
          val r = graft.sources.Export.exportShardsIncremental(
            withDelta, dir, nSh, col("doc_id"),
            octet_length(col("text")), Seq("doc_id", "text"))
          r.rows
        }
      }
      def fullSecs(rep: Int): Double = {
        val dir = graft.core.Scratch.dir(s"rehearsal_full_export_$rep")
        timed(s"inc_export full rep$rep") {
          val r = graft.sources.Export.exportShardsIncremental(
            withDelta, dir, nSh, col("doc_id"),
            octet_length(col("text")), Seq("doc_id", "text"))
          r.rows
        }
      }
      val i = (1 to 2).map(incSecs).min
      val f = (1 to 2).map(fullSecs).min
      // NEGATIVE-SHAPE row (kept deliberately): a SCATTERED append
      // hash-distributes across ~min(|delta|, nShards) shards — 200
      // new ids touch ~140 of 256 shards, so "incremental" rewrites
      // most of the corpus anyway. Scattered growth belongs to the
      // streaming sink's generation model; incremental re-export's
      // contract is the SHARD-SPARSE edit (below).
      growth("inc_export scattered-append (incremental/full)") = i / f
      // WIN-SHAPE row: a takedown/correction confined to 8 of 256
      // shards — the rewrite must track the 8, not the corpus
      val edited = grown10
        .withColumn("shard", graft.sources.Export.shardOf(
          col("doc_id"), nSh))
        .filter(!(col("shard") < 8 && col("doc_id") % 2 === 0))
        .drop("shard").localCheckpoint()
      def incEditSecs(rep: Int): Double = {
        val dir = graft.core.Scratch.dir(s"rehearsal_inc_edit_$rep")
        graft.sources.Export.exportShardsIncremental(grown10, dir, nSh,
          col("doc_id"), octet_length(col("text")),
          Seq("doc_id", "text"))
        timed(s"inc_export edit-8-shards rep$rep") {
          graft.sources.Export.exportShardsIncremental(
            edited, dir, nSh, col("doc_id"),
            octet_length(col("text")), Seq("doc_id", "text")).rows
        }
      }
      def fullEditSecs(rep: Int): Double = {
        val dir = graft.core.Scratch.dir(s"rehearsal_full_edit_$rep")
        timed(s"inc_export edit full rep$rep") {
          graft.sources.Export.exportShardsIncremental(
            edited, dir, nSh, col("doc_id"),
            octet_length(col("text")), Seq("doc_id", "text")).rows
        }
      }
      val ie = (1 to 2).map(incEditSecs).min
      val fe = (1 to 2).map(fullEditSecs).min
      growth("inc_export shard-sparse edit (incremental/full)") = ie / fe
    }

    // ---- takedown (round 15): retract a CONSTANT 20-id list from a
    // 1x store and from a 10x store. The operation's cost is
    // O(affected shards' files) — the id->shard draw is driver-side,
    // nothing scans the corpus — so the wall should track the delta,
    // not the store size. (Affected-shard FILES are 10x bigger at
    // 10x, so some growth is physical: each touched shard rereads and
    // rewrites; the claim is no CORPUS term on top of that.) ----
    if (on("retract")) {
      def retractSecs(copies: Int, label: String): Double =
        (1 to 2).map { rep =>
          val dir = graft.core.Scratch.dir(
            s"rehearsal_retract_${copies}_$rep")
          val docs = saltedDocs(copies).select("doc_id", "text")
          graft.sources.Export.exportShardsIncremental(docs, dir, 256,
            col("doc_id"), octet_length(col("text")),
            Seq("doc_id", "text"))
          val ids = (0L until 20L).map(_.toString)
          timed(s"$label rep$rep") {
            graft.sources.Export.retractShards(spark, dir, "doc_id",
              ids, octet_length(col("text")), Seq("doc_id", "text")).rows
          }
        }.min
      val r1 = retractSecs(1, "retract 20 ids of 1x store")
      val r10 = retractSecs(10, "retract 20 ids of 10x store")
      growth("retract (10x/1x store, constant takedown)") = r10 / r1
    }

    // ---- streamed sharded export: state ×N folded as scaffold
    // batches (untimed), then ONE constant fresh batch timed. The
    // sink's per-batch cost is O(batch) data + O(shards) manifest
    // metadata — accumulated batch dirs are never reread — so the
    // growth factor should be ~1. ----
    if (on("inc100_export")) {
      def expSecs(copies: Int, label: String): Double =
        (1 to 2).map { rep =>
          val dir = graft.core.Scratch.dir(
            s"rehearsal_inc100_export_${copies}_$rep")
          val sink = graft.streaming.EventStream.exportShardsSink(
            dir, 64, col("doc_id"), octet_length(col("text")),
            Seq("doc_id", "text")) _
          sink(saltedDocs(copies).select("doc_id", "text"), 0L)
          val batch = tdocs1.filter(col("doc_id") < 2000)
            .select((col("doc_id") + lit(5000L * nTd)).as("doc_id"),
              col("text"))
            .localCheckpoint()
          timed(s"$label rep$rep") {
            sink(batch, 1L)
            graft.streaming.EventStream
              .readStreamShardManifest(spark, dir).count()
          }
        }.min
      val e10 = expSecs(10, "inc100 stream_export 10x")
      val e100 = expSecs(100, "inc100 stream_export 100x")
      growth("inc100_export (100x/10x)") = e100 / e10
    }

    // clinical corpus ×N (salted study replicas), changed slice
    // CONSTANT (one study) — the O(changed) refresh contract
    if (on("inc100_index")) {
      val fixtures = "/root/repo/src/test/resources/clinical"
      val meta = Seq("dictionary_version" -> "9.9", "study_version" -> "v42")
      // the contract under test is the STORED snapshot's refresh
      // (refreshStudyIndexStore): dim-sized universe side table, one
      // changed-study rebuild, dynamic overwrite of ONLY the changed
      // partition, plus the pruned read-back of that study through
      // the virtual zero-fill view. (The frame-level refreshStudyIndex
      // emits the whole corpus per call — the round-12 7.06× was that
      // output shape, not the refresh compute.) The refresh reads its
      // input slice from the ×N study-partitioned CATALOG — the WHOLE
      // catalog, no caller-side pruning: structural partition pruning
      // inside the overload is what keeps the plan O(changed) (the
      // round-13 caller-enforced variant measured 5.56× when handed an
      // unpruned 12×N-branch union). refresh mutates its store, so
      // min-of-2 runs against two independent scaffolds.
      def refreshSecs(copies: Int, label: String): Double = {
        val in1 = Indexes.ClinicalInputs.fromDir(spark, fixtures)
        val in = replicate(in1, copies)
        val cat = graft.core.Scratch.dir(
          s"rehearsal_inc100_ixcat_$copies")
        Indexes.writeClinicalCatalog(in, cat)
        (1 to 2).map { rep =>
          val dir = graft.core.Scratch.dir(
            s"rehearsal_inc100_ixstore_${copies}_$rep")
          Indexes.writeStudyIndexStore(Indexes.studyIndex(in, meta), dir)
          timed(s"$label rep$rep") {
            val n = Indexes.refreshStudyIndexStore(
              spark, dir, cat, Seq("GS001"), meta)
            n + Indexes.readStudyIndexStore(spark, dir, Seq("GS001"))
              .count()
          }
        }.min
      }
      val i10 = refreshSecs(10, "inc100 index_refresh 10x")
      val i100 = refreshSecs(100, "inc100 index_refresh 100x")
      growth("inc100_index (100x/10x)") = i100 / i10
    }

    // ---- HTML -> text extraction (round 16): one codegen'd scalar
    // chain (regexp_replace/replace), purely map-side — bar ≲ 10
    // with zero shuffle ----
    if (on("html_extract")) {
      def extractSecs(docs: DataFrame, label: String): Double = {
        val wrapped = docs.select(col("doc_id"), concat(
            lit("<html><head><title>Doc "), col("doc_id"),
            lit("</title><script>if (a<b) { x(\"<p>\"); }</script>" +
              "<style>p > i {}</style><h1>T &amp; t</h1><p>"),
            col("text"),
            lit("</p><div data-x=\"a>b\">&copy;&nbsp;x</div></html>"))
          .as("html")).localCheckpoint()
        (1 to 2).map { _ =>
          timed(label) {
            wrapped.select(graft.ops.Html.htmlText(col("html"))
              .as("t")).agg(sum(length(col("t")))).head().getLong(0)
          }
        }.min
      }
      val h1 = extractSecs(tdocs1, "html_extract 1x")
      val h10 = extractSecs(tdocs10, "html_extract 10x")
      growth("html_extract (10x/1x)") = h10 / h1
    }

    // ---- multi-worker epoch slices (round 16): epochOrder's plan
    // plus one O(shards) metadata window — the delta over epoch_order
    // must be metadata-sized, so the 10x factor matches
    // epoch_order's ----
    if (on("epoch_workers")) {
      def sliceSecs(docs: DataFrame, label: String, n: Int): Double = {
        val dir = graft.core.Scratch.dir(s"rehearsal_epochw_$n")
        graft.sources.Export.exportShards(docs, dir,
          targetBytes = 1L << 18, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text"))
        (1 to 2).map { rep =>
          timed(s"$label rep$rep") {
            graft.sources.Export.epochWorkerSlices(spark, dir,
                "doc_id", seed = 7L, epoch = rep, nWorkers = 8)
              .groupBy(col("worker")).count().count()
          }
        }.min
      }
      val w1 = sliceSecs(tdocs1, "epoch_workers 1x", 1)
      val w10 = sliceSecs(tdocs10, "epoch_workers 10x", 10)
      growth("epoch_workers (10x/1x)") = w10 / w1
    }

    // ---- streamed tar read-back (round 16): shard count ×10 at a
    // CONSTANT targetBytes — one task per tar, one entry in memory;
    // wall grows with file count, far below 10 while cores are
    // free ----
    if (on("tar_read")) {
      def tarSecs(docs: DataFrame, label: String, n: Int): Double = {
        val dir = graft.core.Scratch.dir(s"rehearsal_tar_$n")
        graft.sources.Export.exportTarShards(
          docs.select("doc_id", "text"), dir, targetBytes = 1L << 18,
          id = col("doc_id"), payload = col("text"))
        (1 to 2).map { _ =>
          timed(label) {
            graft.sources.Export.readShards(spark, dir).count()
          }
        }.min
      }
      val t1 = tarSecs(tdocs1, "tar_read 1x", 1)
      val t10 = tarSecs(tdocs10, "tar_read 10x", 10)
      growth("tar_read (10x/1x)") = t10 / t1
    }

    // ---- DataFrame takedown (round 16): a 10^5-id retraction
    // through retractShardsOf vs the Seq path's documented scale
    // (20 ids) on the SAME 10x store. The id list is 5000× bigger;
    // the plan shape is identical (broadcast anti-join), so the wall
    // should track affected-shard FILES (saturating at nShards), not
    // the id count — the ratio is the evidence that the 10^6-id
    // seam is closed ----
    if (on("retract_df")) {
      def store(rep: Int): String = {
        val dir = graft.core.Scratch.dir(s"rehearsal_retractdf_$rep")
        graft.sources.Export.exportShardsIncremental(
          saltedDocs(10).select("doc_id", "text"), dir, 256,
          col("doc_id"), octet_length(col("text")),
          Seq("doc_id", "text"))
        dir
      }
      val seqSecs = (1 to 2).map { rep =>
        val dir = store(rep)
        timed(s"retract_df seq-20-ids rep$rep") {
          graft.sources.Export.retractShards(spark, dir, "doc_id",
            (0L until 20L).map(_.toString), octet_length(col("text")),
            Seq("doc_id", "text")).rows
        }
      }.min
      val dfSecs = (1 to 2).map { rep =>
        val dir = store(rep + 2)
        val ids = tdocs10.select(col("doc_id"))
          .filter(col("doc_id") % 7 === 0).limit(100000)
          .localCheckpoint()
        timed(s"retract_df df-100k-ids rep$rep") {
          graft.sources.Export.retractShardsOf(spark, dir, "doc_id",
            ids, octet_length(col("text")), Seq("doc_id", "text")).rows
        }
      }.min
      growth("retract_df (100k-id df / 20-id seq, 10x store)") =
        dfSecs / seqSecs
    }

    // ---- tiered stream compaction (round 16): total sink wall for a
    // 24- vs 48-batch stream at threshold 6 — under the round-15
    // whole-store refold, doubling the lifetime ~quadrupled the
    // cumulative compaction writes; tiered folds should hold the
    // growth near the data ratio (~2x) ----
    if (on("stream_tiers")) {
      def streamSecs(batches: Int, label: String): Double = {
        val dirOut = graft.core.Scratch.dir(s"rehearsal_tiers_$batches")
        val sink = graft.streaming.EventStream.exportShardsSink(
          dirOut, 16, col("doc_id"), octet_length(col("text")),
          Seq("doc_id", "text"), compactAtDirs = 6) _
        val slice = tdocs1.filter(col("doc_id") < 2000)
          .select("doc_id", "text").localCheckpoint()
        timed(label) {
          (0 until batches).foreach { b =>
            sink(slice.select((col("doc_id") + lit(b.toLong * nTd))
              .as("doc_id"), col("text")), b.toLong)
          }
          graft.streaming.EventStream
            .readStreamShards(spark, dirOut).count()
        }
      }
      val s24 = streamSecs(24, "stream_tiers 24 batches")
      val s48 = streamSecs(48, "stream_tiers 48 batches")
      growth("stream_tiers sink-loop (48/24 batches)") = s48 / s24
    }

    // ---- jsonl takedown (round 16): the text-format
    // right-to-be-forgotten — constant 20-id retraction on a 1x vs a
    // 10x jsonl store; same flat-in-store-size bar as the parquet
    // retract row (affected gzip-json files reread/rewrite; no
    // corpus term) ----
    if (on("retract_jsonl")) {
      def retractSecs(copies: Int, label: String): Double =
        (1 to 2).map { rep =>
          val dir = graft.core.Scratch.dir(
            s"rehearsal_retract_jsonl_${copies}_$rep")
          val docs = saltedDocs(copies).select("doc_id", "text")
          graft.sources.Export.exportJsonlShards(docs, dir, 1L << 18,
            col("doc_id"), octet_length(col("text")),
            Seq("doc_id", "text"))
          val ids = (0L until 20L).map(_.toString)
          timed(s"$label rep$rep") {
            graft.sources.Export.retractShards(spark, dir, "doc_id",
              ids, octet_length(col("text")), Seq("doc_id", "text")).rows
          }
        }.min
      val r1 = retractSecs(1, "retract_jsonl 20 ids of 1x")
      val r10 = retractSecs(10, "retract_jsonl 20 ids of 10x")
      growth("retract_jsonl (10x/1x store, constant takedown)") = r10 / r1
    }

    // ---- store card (round 16): two column-pruned passes + O(shards)
    // metadata — bar ≲ 10 ----
    if (on("store_card")) {
      def cardSecs(copies: Int, label: String): Double = {
        val dir = graft.core.Scratch.dir(s"rehearsal_card_$copies")
        graft.sources.Export.exportShardsIncremental(
          saltedDocs(copies).select("doc_id", "text"), dir, 64,
          col("doc_id"), octet_length(col("text")),
          Seq("doc_id", "text"))
        (1 to 2).map { _ =>
          timed(label) {
            graft.sources.Export.storeCard(spark, dir, "text")
              .select(col("n_docs")).head().getLong(0)
          }
        }.min
      }
      val c1 = cardSecs(1, "store_card 1x")
      val c10 = cardSecs(10, "store_card 10x")
      growth("store_card (10x/1x)") = c10 / c1
    }

    // ---- decontaminate-at-export (round 16): the gate riding the
    // export vs screen-then-export as two separate jobs over the SAME
    // 10x corpus and gram set. The gated path skips the intermediate
    // materialization; ratio < 1 is the win, ~1 the break-even ----
    if (on("export_gate")) {
      val grams = tdocs1.filter(col("doc_id") % 50 === 0)
        .select(explode(graft.ops.Text.shingles(col("text"), 5))
          .as("g")).localCheckpoint()
      val corpus10 = tdocs10.select("doc_id", "text").localCheckpoint()
      val gSecs = (1 to 2).map { rep =>
        val dir = graft.core.Scratch.dir(s"rehearsal_gate_$rep")
        timed(s"export_gate gated rep$rep") {
          graft.sources.Export.exportShards(corpus10, dir, 1L << 18,
            col("doc_id"), octet_length(col("text")),
            Seq("doc_id", "text"),
            exclude = Some(graft.sources.Export.ExcludeGrams(
              col("text"), grams, 5))).rows
        }
      }.min
      val sSecs = (1 to 2).map { rep =>
        val dir = graft.core.Scratch.dir(s"rehearsal_gate_sep_$rep")
        val mid = graft.core.Scratch.dir(s"rehearsal_gate_mid_$rep")
        timed(s"export_gate screen-then-export rep$rep") {
          graft.ops.Dedup.decontaminate(corpus10, "doc_id",
              col("text"), grams.select(col("g").as("text")),
              col("text"), n = 5)
            .write.mode("overwrite").parquet(mid)
          graft.sources.Export.exportShards(
            spark.read.parquet(mid), dir, 1L << 18,
            col("doc_id"), octet_length(col("text")),
            Seq("doc_id", "text")).rows
        }
      }.min
      growth("export_gate (gated / screen-then-export, 10x)") =
        gSecs / sSecs
    }

    // ---- chat (round 16): conversation ops are ONE hash shuffle on
    // conv_id (stats/render/gate) or prompt_id (pairs) over the turns
    // table — 10 id-salted document replicas (disjoint conversation
    // and prompt key spaces) should grow ~linearly, bar ≲ 10 ----
    if (on("chat")) {
      val t1 = graft.queries.ChatQueries.turnsOf(spark, sfDir)
        .localCheckpoint()
      val nC = t1.agg(max(col("conv_id"))).head().getLong(0) + 1
      val t10 = (0 until 10).map(k =>
          t1.withColumn("conv_id", col("conv_id") + lit(k * nC)))
        .reduce(_.unionByName(_)).localCheckpoint()
      def chatSecs(t: DataFrame, label: String): Double = timed(label) {
        graft.ops.Chat.conversationStats(t).count() +
          graft.ops.Chat.renderChat(t).count() +
          graft.ops.Chat.preferencePairs(
            t.select((col("conv_id") % 97).as("prompt_id"),
              col("conv_id").as("cand_id"),
              length(col("content")).as("score")),
            "prompt_id", "cand_id", "score").count()
      }
      chatSecs(t1, "chat warmup (discarded)") // JIT/codegen warm
      val c1 = chatSecs(t1, "chat 1x")
      val c10 = chatSecs(t10, "chat 10x")
      growth("chat (stats+render+pairs)") = c10 / c1
    }

    // ---- graph round-16 ops on 10 disjoint salted replicas: BFS
    // visits each node's neighborhood once (bar ≲ 10 with the same
    // round count — seeds replicate per copy so depth is unchanged);
    // SSSP is 4 fixed rounds of join+min-agg (linear); link
    // prediction is the wedge self-join (structure-identical
    // replicas → wedge count ×10, bar ≲ 10) ----
    if (on("graph16")) {
      val seeds1 = e1.select(col("a").as("id"))
        .filter(col("id") % 97 === 0).distinct().localCheckpoint()
      val off = e1.agg(max(greatest(col("a"), col("b")))).head()
        .getLong(0) + 1
      val seeds10 = (0 until 10).map(k =>
          seeds1.select((col("id") + lit(k * off)).as("id")))
        .reduce(_.unionByName(_)).localCheckpoint()
      val we1 = graft.queries.GraphQueries
        .weightedEdges(spark, sfDir, 2).localCheckpoint()
      val we10 = (0 until 10).map(k =>
          we1.select((col("a") + lit(k * off)).as("a"),
            (col("b") + lit(k * off)).as("b"), col("w")))
        .reduce(_.unionByName(_)).localCheckpoint()
      val g1 = timed("graph16 1x (bfs+sssp+link)") {
        graft.ops.Graph.bfsDistances(e1, seeds1, maxHops = 4, smallGraphEdges = 0L).count() +
          graft.ops.Graph.ssspInt(we1, seeds1, rounds = 4, smallGraphEdges = 0L).count() +
          graft.ops.Graph.linkCandidates(e1, minCommon = 2L).count()
      }
      val g10 = timed("graph16 10x") {
        graft.ops.Graph.bfsDistances(e10, seeds10, maxHops = 4, smallGraphEdges = 0L).count() +
          graft.ops.Graph.ssspInt(we10, seeds10, rounds = 4, smallGraphEdges = 0L).count() +
          graft.ops.Graph.linkCandidates(e10, minCommon = 2L).count()
      }
      growth("graph16 (bfs+sssp+link)") = g10 / g1
    }

    // ---- journey/sketch round-16 ops: funnel is per-stage filtered
    // aggregations (linear in events); cohort is two aggregations +
    // assoc rules one basket shuffle + dim joins; KMV is
    // a TakeOrderedAndProject (k rows leave the executors) ----
    if (on("journey16")) {
      val ev1 = graft.core.Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .localCheckpoint()
      val nU = ev1.agg(max(col("user_id"))).head().getLong(0) + 1
      val ev10 = (0 until 10).map(k =>
          ev1.withColumn("user_id", col("user_id") + lit(k * nU)))
        .reduce(_.unionByName(_)).localCheckpoint()
      val li1 = graft.core.Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey")).localCheckpoint()
      val nO = li1.agg(max(col("l_orderkey"))).head().getLong(0) + 1
      val li10 = (0 until 10).map(k =>
          li1.select((col("l_orderkey") + lit(k * nO)).as("l_orderkey"),
            col("l_partkey")))
        .reduce(_.unionByName(_)).localCheckpoint()
      def run(ev: DataFrame, li: DataFrame, label: String): Double =
        timed(label) {
          graft.ops.Journey.funnel(ev, "user_id", col("ts"),
            col("event_type"), Seq("view", "click", "purchase")).count() +
            graft.ops.Cooccurrence.associationRules(li, "l_orderkey",
              "l_partkey", minSupport = 3L).count() +
            graft.ops.Kmv.distinctEstimate(li, col("l_partkey"),
              k = 256).count()
        }
      run(ev1, li1, "journey16 warmup (discarded)")
      val j1 = run(ev1, li1, "journey16 1x")
      val j10 = run(ev10, li10, "journey16 10x")
      growth("journey16 (funnel+assoc+kmv)") = j10 / j1
    }

    // ---- chat stream sink (round 16): fold a CONSTANT single-bucket
    // batch into a store holding 1x vs 10x turn history — per-batch
    // cost is the touched bucket's history + the snapshot rewrite, so
    // the bar is well under 10 (bucket read ~1/16 of history; the
    // snapshot copy is the known O(corpus) term) ----
    if (on("chat_stream")) {
      val t1 = graft.queries.ChatQueries.turnsOf(spark, sfDir)
        .localCheckpoint()
      val nC = t1.agg(max(col("conv_id"))).head().getLong(0) + 1
      def foldSecs(copies: Int, label: String): Double = {
        val dir = graft.core.Scratch.dir(s"rehearsal_chatstream_$copies")
        val seed = (0 until copies).map(k =>
            t1.withColumn("conv_id", col("conv_id") + lit(k * nC)))
          .reduce(_.unionByName(_)).localCheckpoint()
        graft.streaming.EventStream.chatRenderSink(dir)(seed, 0L)
        val batch = t1.filter(col("conv_id") % 16 === 3)
          .limit(200).localCheckpoint() // constant work, one bucket
        timed(label) {
          graft.streaming.EventStream.chatRenderSink(dir)(batch, 1L)
          graft.streaming.EventStream.readChatRendered(spark, dir).count()
        }
      }
      val f1 = foldSecs(1, "chat_stream 1x store")
      val f10 = foldSecs(10, "chat_stream 10x store")
      growth("chat_stream (constant batch, 10x store)") = f10 / f1
    }

    // ---- session-3 round-16 ops: FS linkage (one blocked join + an
    // O(2^F) pattern collect — block keys are salted per replica so
    // pair counts scale linearly, not quadratically); log-histogram
    // sketch (one aggregation to ≤1024 buckets/group); graph trio
    // (RA/LCC wedge joins + the HITS vertex-sized rounds); Theil-Sen
    // (corpus scan → fixed 30-day series → constant pair stage) ----
    if (on("wave16c")) {
      val docs1 = graft.core.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text")).localCheckpoint()
      val nD = docs1.agg(max(col("doc_id"))).head().getLong(0) + 1
      val docs10 = (0 until 10).map(k =>
          docs1.select((col("doc_id") + lit(k * nD)).as("doc_id"),
            col("lang"), col("source"), col("n_chars"),
            concat(lit(s"zslt$k "), col("text")).as("text")))
        .reduce(_.unionByName(_)).localCheckpoint()
      def fsPairsOf(docs: DataFrame): DataFrame = {
        val pr = docs.select(
          col("doc_id"), col("lang"), col("source"),
          expr("n_chars div 100").as("band"),
          regexp_extract(graft.ops.Text.normalize(col("text")),
            "^(\\S+\\s+\\S+)", 1).as("blk"))
        val a = pr.columns.foldLeft(pr)(
          (f, c) => f.withColumnRenamed(c, "a_" + c))
        val b = pr.columns.foldLeft(pr)(
          (f, c) => f.withColumnRenamed(c, "b_" + c))
        a.join(b, col("a_blk") === col("b_blk") &&
            col("a_doc_id") < col("b_doc_id"))
          .select(
            (col("a_lang") <=> col("b_lang")).cast("int").as("g1"),
            (col("a_source") <=> col("b_source")).cast("int").as("g2"),
            (col("a_band") <=> col("b_band")).cast("int").as("g3"))
      }
      def m2(label: String)(f: => Long): Double =
        math.min(timed(label + " r1")(f), timed(label + " r2")(f))
      val fs1 = m2("fs_em 1x") {
        graft.ops.Linkage.fsFit(fsPairsOf(docs1),
          Seq("g1", "g2", "g3"), iters = 5).count()
      }
      val fs10 = m2("fs_em 10x") {
        graft.ops.Linkage.fsFit(fsPairsOf(docs10),
          Seq("g1", "g2", "g3"), iters = 5).count()
      }
      growth("fs_em (blocked pairs x10)") = fs10 / fs1

      val li1 = graft.core.Tables.lineitem(spark, sfDir)
        .select(col("l_returnflag").as("g"),
          round(col("l_extendedprice") * 100).cast("long").as("v"))
        .localCheckpoint()
      val li10 = (0 until 10).map(_ => li1)
        .reduce(_.unionByName(_)).localCheckpoint()
      def lhSecs(df: DataFrame, label: String): Double = m2(label) {
        graft.ops.LogHist.quantiles(
          graft.ops.LogHist.sketch(df, Seq("g"), col("v")),
          Seq("g"), Seq(500000L, 900000L, 990000L)).count()
      }
      val lh1 = lhSecs(li1, "loghist 1x")
      val lh10 = lhSecs(li10, "loghist 10x")
      growth("loghist (rows x10)") = lh10 / lh1

      val g1 = m2("graph16c 1x (ra+lcc+hits)") {
        graft.ops.Graph.resourceAllocation(e1, minCommon = 2L).count() +
          graft.ops.Graph.clusteringCoefficient(e1).count() +
          graft.ops.Graph.hitsInt(e1, iters = 4, smallGraphEdges = 0L).count()
      }
      val g10 = m2("graph16c 10x") {
        graft.ops.Graph.resourceAllocation(e10, minCommon = 2L).count() +
          graft.ops.Graph.clusteringCoefficient(e10).count() +
          graft.ops.Graph.hitsInt(e10, iters = 4, smallGraphEdges = 0L).count()
      }
      growth("graph16c (ra+lcc+hits)") = g10 / g1

      val ev1 = graft.core.Tables.events(spark, sfDir)
        .select(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
            .cast("long").as("x"),
          round(col("value") * 100).cast("long").as("cents"))
        .localCheckpoint()
      val ev10 = (0 until 10).map(_ => ev1)
        .reduce(_.unionByName(_)).localCheckpoint()
      def tsSecs(df: DataFrame, label: String): Double = m2(label) {
        graft.ops.Robust.theilSen(
          df.groupBy(col("event_type"), col("x"))
            .agg(sum(col("cents")).as("y")),
          "event_type", "x", "y").count()
      }
      val ts1 = tsSecs(ev1, "theil_sen 1x")
      val ts10 = tsSecs(ev10, "theil_sen 10x")
      growth("theil_sen (rows x10, fixed days)") = ts10 / ts1
    }

    // ---- layout quality: Hilbert vs z-order file rectangles. Lay
    // lineitem out into 32 range partitions by each index and sum the
    // per-partition (a, b) bounding-box areas — the min/max pruning
    // surface a point/range filter on EITHER column sees. Smaller =
    // tighter files = more row groups skipped. (Not a growth pair —
    // prints the ratio as its "growth" so the summary line carries
    // it.) ----
    if (on("hilbert_layout")) {
      val li = graft.core.Tables.lineitem(spark, sfDir)
        .select(col("l_partkey").as("a"), col("l_suppkey").as("b"))
        .localCheckpoint()
      def boxArea(laid: DataFrame): Long =
        laid.select(col("a"), col("b"),
            org.apache.spark.sql.functions.spark_partition_id().as("p"))
          .groupBy("p")
          .agg((max(col("a")) - min(col("a")) + 1).as("wa"),
            (max(col("b")) - min(col("b")) + 1).as("wb"))
          .agg(sum(expr("wa * wb"))).head().getLong(0)
      var (za, ha) = (0L, 0L)
      timed("hilbert_layout zorder") {
        za = boxArea(graft.ops.Layout.zOrderBy(li, col("a"), col("b"), 32))
        za
      }
      timed("hilbert_layout hilbert") {
        ha = boxArea(
          graft.ops.Layout.hilbertOrderBy(li, col("a"), col("b"), 32))
        ha
      }
      println(s"[rehearsal] hilbert_layout box-area z=$za hilbert=$ha " +
        f"(hilbert/z = ${ha.toDouble / za}%.3f; <1 = tighter files)")
      growth("hilbert_layout (area ratio h/z)") = ha.toDouble / za
    }

    // ---- session-3 second wave: IVM refresh (diff-sized, one state
    // merge), incremental top-k (batch + k·groups), distinctive
    // terms (one tokenize + count-table marginals) ----
    if (on("wave16d")) {
      def m2d(label: String)(f: => Long): Double =
        math.min(timed(label + " r1")(f), timed(label + " r2")(f))
      val ord1 = graft.core.Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .localCheckpoint()
      val nO = ord1.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      def ordN(c: Int) = (0 until c).map(k =>
          ord1.select((col("o_orderkey") + lit(k * nO)).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")))
        .reduce(_.unionByName(_)).localCheckpoint()
      def ivmSecs(base: DataFrame, label: String): Double = {
        val oldSnap = base.filter(col("o_orderkey") % 13 =!= 0)
        val newSnap = base.filter(col("o_orderkey") % 11 =!= 0)
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 7 === 0, lit("X"))
              .otherwise(col("o_orderstatus")))
        val state = graft.ops.Cdc.aggState(
          oldSnap.withColumn("cents",
            round(col("o_totalprice") * 100).cast("long")),
          Seq("o_orderstatus"), "cents").localCheckpoint()
        m2d(label) {
          graft.ops.Cdc.aggApplyDiff(state,
            graft.ops.Cdc.diffSnapshots(oldSnap, newSnap,
              Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice")),
            "o_orderstatus",
            oldVal = round(col("old_o_totalprice") * 100),
            newVal = round(col("new_o_totalprice") * 100)).count()
        }
      }
      growth("ivm_agg (snapshots x10)") =
        ivmSecs(ordN(10), "ivm_agg 10x") / ivmSecs(ord1, "ivm_agg 1x")

      def topkSecs(base: DataFrame, label: String): Double = {
        val b = base.select(col("o_orderstatus"), col("o_orderkey"),
          col("o_totalprice").cast("double").as("score"))
        val state = graft.plans.TopKPerGroup.topK(
            b.filter(col("o_orderkey") % 3 =!= 0),
            Seq("o_orderstatus"), "score", "o_orderkey", 3)
          .drop("rank").localCheckpoint()
        m2d(label) {
          graft.plans.TopKPerGroup.topK(
            state.unionByName(b.filter(col("o_orderkey") % 3 === 0)),
            Seq("o_orderstatus"), "score", "o_orderkey", 3).count()
        }
      }
      growth("topk_inc (batch x10)") =
        topkSecs(ordN(10), "topk_inc 10x") / topkSecs(ord1, "topk_inc 1x")

      val docs1 = graft.core.Tables.documents(spark, sfDir)
        .select(col("source"), col("text")).localCheckpoint()
      val docs10 = (0 until 10).map(_ => docs1)
        .reduce(_.unionByName(_)).localCheckpoint()
      def dtSecs(docs: DataFrame, label: String): Double = m2d(label) {
        val sw = docs.select(col("source"),
            explode(graft.ops.Text.words(
              graft.ops.Text.normalize(col("text")))).as("token"))
          .groupBy(col("source"), col("token"))
          .agg(count(lit(1)).as("tf_s")).localCheckpoint()
        val ts = sw.groupBy(col("source")).agg(sum(col("tf_s")).as("t_s"))
        val tt = sw.groupBy(col("token")).agg(sum(col("tf_s")).as("tfc"))
          .filter(col("tfc") >= 10)
        val tot = sw.agg(sum(col("tf_s")).as("t"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("lift_ppm").desc, col("token").asc)
        sw.join(broadcast(ts), "source").join(tt, "token")
          .crossJoin(broadcast(tot))
          .select(col("source"), col("token"),
            expr("tf_s * t * 1000000L div (t_s * tfc)").as("lift_ppm"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5).count()
      }
      growth("distinct_terms (docs x10)") =
        dtSecs(docs10, "distinct_terms 10x") / dtSecs(docs1, "distinct_terms 1x")
    }

    // ===== wave17: crawl decode, block scoring, store profile,
    // compaction =====

    // executor-side WARC container writer (scaffolding, untimed):
    // one .warc file per partition, each doc a gzip Content-Encoding
    // response record — the expensive decode path
    def writeWarcContainers(df: DataFrame, dir: String,
        nFiles: Int): Unit = {
      new java.io.File(dir).mkdirs()
      df.select(col("doc_id"), col("text")).repartition(nFiles)
        .foreachPartition {
          (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.hasNext) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val out = new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(s"$dir/part$pid.warc"), 1 << 16)
            try it.foreach { r =>
              val html = "<html><body><p>" + r.getString(1) +
                "</p></body></html>"
              val bos = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(bos)
              g.write(html.getBytes("UTF-8")); g.close()
              val z = bos.toByteArray
              val http = ("HTTP/1.1 200 OK\r\n" +
                "Content-Type: text/html; charset=utf-8\r\n" +
                "Content-Encoding: gzip\r\n" +
                s"Content-Length: ${z.length}\r\n\r\n")
                .getBytes("ISO-8859-1") ++ z
              out.write((s"WARC/1.0\r\nWARC-Type: response\r\n" +
                s"WARC-Target-URI: http://x/doc/${r.getLong(0)}\r\n" +
                s"Content-Length: ${http.length}\r\n\r\n")
                .getBytes("UTF-8"))
              out.write(http)
              out.write("\r\n\r\n".getBytes("UTF-8"))
            } finally out.close()
          }
        }
    }

    // ---- q_warc_response_decode: container count x10, per-container
    // size constant — per-file streaming parallelism is the scale
    // grain, so wall growth should sit well under 10 on 32 cores ----
    if (on("warc_decode")) {
      val base = graft.core.Scratch.dir("rehearsal_warc")
      writeWarcContainers(tdocs1, s"$base/w1", 4)
      writeWarcContainers(tdocs10, s"$base/w10", 40)
      val a = timed("warc_decode 1x") {
        graft.sources.Warc.responseDecoded(spark, s"$base/w1").count()
      }
      val b = timed("warc_decode 10x") {
        graft.sources.Warc.responseDecoded(spark, s"$base/w10").count()
      }
      growth("warc_decode (containers x10)") = b / a
    }

    // ---- q_html_blocks: map-only scalar chain — growth must be
    // ~linear or below (no shuffle anywhere) ----
    if (on("html_blocks")) {
      def blocksSecs(docs: DataFrame, label: String): Double =
        timed(label) {
          val pages = docs.select(col("doc_id"), concat(
            lit("<nav><a href=\"/\">Home</a></nav><p>"), col("text"),
            lit("</p><footer><a href=\"/t\">Terms</a></footer>"))
            .as("html"))
          graft.ops.Html.blockScores(
            pages.withColumn("mt",
              graft.ops.Html.htmlTextMarked(col("html"))),
            "doc_id", col("mt"), graft.ops.Text.StopwordSeeds("en"),
            minStopPpm = 20000L).count()
        }
      growth("html_blocks (docs x10)") =
        blocksSecs(tdocs10, "html_blocks 10x") /
          blocksSecs(tdocs1, "html_blocks 1x")
    }

    // ---- q_store_profile: the profile read is O(shards·k) state —
    // growth vs store size should be FLAT-ish, and the merged-sketch
    // read must beat the full-rescan recompute at 10x ----
    if (on("store_profile")) {
      val base = graft.core.Scratch.dir("rehearsal_profile")
      val ddl = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def build(df: DataFrame, dir: String): Unit = {
        graft.sources.Export.exportJsonlShards(df, dir,
          targetBytes = 65536L, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text"))
        graft.sources.Export.publishShardProfile(spark, dir, ddl,
          key = col("text"), v = length(col("text")).cast("long"))
      }
      build(tdocs1.select("doc_id", "text"), s"$base/p1")
      build(tdocs10.select("doc_id", "text"), s"$base/p10")
      val a = timed("profile_read 1x") {
        graft.sources.Export.readStoreProfile(spark, s"$base/p1").count()
      }
      val b = timed("profile_read 10x") {
        graft.sources.Export.readStoreProfile(spark, s"$base/p10").count()
      }
      val rescan = timed("profile_rescan 10x") {
        val rows = graft.sources.Export.readShards(spark, s"$base/p10",
          Some(ddl))
        val kmv = graft.ops.Kmv.distinctEstimate(rows, col("text"), 256)
        val qs = graft.ops.LogHist.quantiles(
          graft.ops.LogHist.sketch(rows, Seq.empty,
            length(col("text")).cast("long")),
          Seq.empty, Seq(250000L, 500000L, 750000L))
        kmv.count() + qs.count()
      }
      growth("profile_read (store x10)") = b / a
      growth("profile_vs_rescan@10x") = b / rescan
    }

    // ---- compactStore: a 6-generation store's read before vs after
    // compaction (the win), plus the one-off compaction cost ----
    if (on("store_compact")) {
      val dir = graft.core.Scratch.dir("rehearsal_compact")
      val ddl = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      val docs = tdocs10.select("doc_id", "text").localCheckpoint()
      (1 to 6).foreach { g =>
        graft.sources.Export.exportShardsIncremental(
          docs.filter(col("doc_id") % 6 < g), dir, nShards = 64,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text"), keep = 8)
      }
      val before = timed("inc_read 6gen") {
        graft.sources.Export.readShards(spark, dir, Some(ddl)).count()
      }
      timed("compactStore") {
        graft.sources.Export.compactStore(spark, dir, ddl,
          octet_length(col("text")), Seq("doc_id", "text"), keep = 8)
          .rows
      }
      val after = timed("inc_read compacted") {
        graft.sources.Export.readShards(spark, dir, Some(ddl)).count()
      }
      growth("compact_read_win") = after / before
    }

    // ---- q_bt_strength: matches x10 (salted docs keep their source,
    // so the player set is CONSTANT and cell counts just scale) — the
    // corpus pair-aggregation is the linear term; the MM fold is
    // O(P^2) driver metadata regardless ----
    if (on("bt_strength")) {
      def btSecs(docs: DataFrame, label: String): Double = timed(label) {
        val doc = docs.select(col("doc_id"), col("source"),
          col("n_chars"))
        val m = doc.as("x").join(doc.as("y"),
            expr("y.doc_id = x.doc_id + 1 AND x.doc_id % 2 = 0"))
          .select(col("x.source").as("sa"), col("y.source").as("sb"),
            when(col("x.n_chars") > col("y.n_chars"), col("x.source"))
              .otherwise(col("y.source")).as("w"))
        graft.ops.Ranking.btStrengths(m, "sa", "sb", "w",
          iters = 10).count()
      }
      growth("bt_strength (matches x10)") =
        btSecs(tdocs10, "bt_strength 10x") / btSecs(tdocs1, "bt_strength 1x")
    }

    // ===== wave17b: near-dup decontam, margin mining, agreement,
    // Zipf fit =====

    // ---- q_decontam_neardup: corpus x10 (token-salted, so replicas
    // are shingle-disjoint), eval side CONSTANT — the screen is a
    // band join against a broadcast eval, so growth must track the
    // corpus scan, never |corpus|x|eval| ----
    if (on("decontam_near")) {
      val eval = tdocs1.filter(col("doc_id") >= nTd - 50)
        .select(col("doc_id").as("eval_id"), col("text"))
        .localCheckpoint()
      def dSecs(docs: DataFrame, label: String): Double = timed(label) {
        graft.ops.Dedup.decontaminateNear(
          docs, "doc_id", col("text"), eval, "eval_id", col("text"),
          threshold = 0.8, n = 3).count()
      }
      growth("decontam_near (corpus x10)") =
        dSecs(tdocs10, "decontam_near 10x") /
          dSecs(tdocs1, "decontam_near 1x")
    }

    // ---- q_bitext_mine: tgt corpus x10 (replicas translated apart),
    // src mining sample constant — both passes are broadcast-queries
    // corpus scans, so growth is the two scans' linear term ----
    if (on("bitext_margin")) {
      val emb1 = graft.core.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("embedding"))
        .localCheckpoint()
      val nE = emb1.agg(max(col("vec_id"))).head().getLong(0) + 1
      val emb10 = (0 until 10).map(k =>
          emb1.select((col("vec_id") + lit(k * nE)).as("vec_id"),
            transform(col("embedding"),
              (x, i) => when(i === 0, x + lit(k * 10.0)).otherwise(x))
              .as("embedding")))
        .reduce(_.unionByName(_)).localCheckpoint()
      val src = emb1.filter(col("vec_id") % 2 === 0 &&
        col("vec_id") < 120).localCheckpoint()
      def mSecs(tgt: DataFrame, label: String): Double = timed(label) {
        graft.ops.Similarity.marginMine(
          src, tgt.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4).count()
      }
      growth("bitext_margin (tgt x10)") =
        mSecs(emb10, "bitext_margin 10x") / mSecs(emb1, "bitext_margin 1x")
    }

    // ---- q_krippendorff: units x10 with a cheap rater panel (times
    // the agreement machinery — melt, unit counts, unit-local
    // coincidence join — not the label expression, which the pinned
    // projection already bounds to one corpus pass) ----
    if (on("krippendorff")) {
      def kSecs(docs: DataFrame, label: String): Double = timed(label) {
        graft.ops.Profile.krippendorffAlpha(
          docs, col("doc_id"),
          Seq(col("source"), substring(col("text"), 1, 1),
            when(col("doc_id") % 5 === 0, lit(null).cast("string"))
              .otherwise(col("source")))).count()
      }
      growth("krippendorff (units x10)") =
        kSecs(tdocs10, "krippendorff 10x") / kSecs(tdocs1, "krippendorff 1x")
    }

    // ---- q_gram_novelty: corpus x10 (token-salted, gram-disjoint
    // replicas), probe set constant — the membership join shuffles on
    // the gram, so growth must track the corpus gram table ----
    if (on("gram_novelty")) {
      val probes = tdocs1.filter(col("doc_id") >= nTd - 50)
        .select(col("doc_id"), col("text")).localCheckpoint()
      def gSecs(corpus: DataFrame, label: String): Double = timed(label) {
        graft.ops.Dedup.gramNovelty(
          probes, "doc_id", col("text"), corpus, col("text"), n = 5)
          .count()
      }
      growth("gram_novelty (corpus x10)") =
        gSecs(tdocs10, "gram_novelty 10x") / gSecs(tdocs1, "gram_novelty 1x")
    }

    // ---- q_label_posterior: docs x10 with a cheap LF panel — the
    // pattern table is CONSTANT-sized, so growth is the vote scan +
    // broadcast labeling join, never the EM ----
    if (on("label_model")) {
      def lSecs(docs: DataFrame, label: String): Double = timed(label) {
        graft.ops.LabelModel.fitAndLabel(
          docs,
          Seq(col("source"),
            when(col("doc_id") % 3 === 0, lit("zz"))
              .otherwise(col("source")),
            when(col("doc_id") % 7 === 0, lit(null).cast("string"))
              .otherwise(col("source"))),
          classes = docs.select(col("source")).distinct()
            .collect().map(_.getString(0)).sorted.toSeq :+ "zz",
          iters = 4).count()
      }
      growth("label_model (docs x10)") =
        lSecs(tdocs10, "label_model 10x") / lSecs(tdocs1, "label_model 1x")
    }

    // ---- q_zipf_slope: docs x10 — the tokenize scan is the linear
    // term; ranking works on the vocabulary-sized count table ----
    if (on("zipf")) {
      def zSecs(docs: DataFrame, label: String): Double = timed(label) {
        graft.ops.Ranking.zipfFit(
          docs.select(col("source"), graft.ops.Text.words(
            graft.ops.Text.normalize(col("text"))).as("w")),
          "source", col("w"), maxRank = 200, minFreq = 2L).count()
      }
      growth("zipf (docs x10)") =
        zSecs(tdocs10, "zipf 10x") / zSecs(tdocs1, "zipf 1x")
    }

    println("[rehearsal] growth: " + growth.map { case (k, v) =>
      f"$k $v%.2fx" }.mkString(", ") +
      " (inputs x10; pass = ~linear or below)")
    spark.stop()
  }
}
