package graft.queries

import graft.core.{QueryDef, Tables}
import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor surface over `embeddings`
  * (64-dim `array<float>`, 10 labeled clusters).
  *
  * `q_knn_topk` is the exact brute-force baseline, oracle-checked
  * against DuckDB's `list_dot_product`. `q_knn_lsh` / `q_knn_ivf` are
  * the bucketed scale paths — approximate RELATIVE TO brute force
  * (recall unit-tested in SimilaritySpec) but deterministic in
  * themselves, so committed GenGoldens snapshots hash-check their
  * reproducibility at the correctness SF.
  */
object SimilarityQueries {
  import QueryDef.sql

  /** ONE shared oracle replay of [[Similarity.marginMine]]'s fixture
    * (src = even vec_ids < 120, tgt = odd, k = 4) ending in CTE
    * `sc(src_id, tgt_id, c6, margin)` — consumed by q_bitext_mine
    * and q_bitext_eval; change the generator, never one face. */
  private val bitextCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |src AS (SELECT vec_id, v FROM e
      |        WHERE vec_id % 2 = 0 AND vec_id < 120),
      |tgt AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
      |fc AS (
      |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
      |    CAST(round(list_dot_product(s.v, t.v)
      |      / (sqrt(list_dot_product(s.v, s.v))
      |         * sqrt(list_dot_product(t.v, t.v))) * 1000000)
      |      AS BIGINT) AS c6,
      |    row_number() OVER (PARTITION BY s.vec_id
      |      ORDER BY list_dot_product(s.v, t.v)
      |        / (sqrt(list_dot_product(s.v, s.v))
      |           * sqrt(list_dot_product(t.v, t.v))) DESC,
      |        t.vec_id) AS rnk
      |  FROM src s, tgt t),
      |fwd AS (SELECT src_id, tgt_id, c6 FROM fc WHERE rnk <= 4),
      |sx AS (SELECT src_id, sum(c6) AS sx FROM fwd GROUP BY 1),
      |ys AS (SELECT DISTINCT tgt_id FROM fwd),
      |bc AS (
      |  SELECT t.vec_id AS tgt_id,
      |    CAST(round(list_dot_product(t.v, s.v)
      |      / (sqrt(list_dot_product(t.v, t.v))
      |         * sqrt(list_dot_product(s.v, s.v))) * 1000000)
      |      AS BIGINT) AS c6,
      |    row_number() OVER (PARTITION BY t.vec_id
      |      ORDER BY list_dot_product(t.v, s.v)
      |        / (sqrt(list_dot_product(t.v, t.v))
      |           * sqrt(list_dot_product(s.v, s.v))) DESC,
      |        s.vec_id) AS rnk
      |  FROM (SELECT tg.vec_id, tg.v FROM tgt tg
      |        JOIN ys ON tg.vec_id = ys.tgt_id) t, src s),
      |sy AS (SELECT tgt_id, sum(c6) AS sy FROM bc
      |       WHERE rnk <= 4 GROUP BY 1),
      |sc AS (
      |  SELECT f.src_id, f.tgt_id, f.c6,
      |    round((8 * f.c6)::DOUBLE / (sx.sx + sy.sy)::DOUBLE, 9)
      |      AS margin
      |  FROM fwd f JOIN sx USING (src_id) JOIN sy USING (tgt_id)
      |  WHERE sx.sx + sy.sy > 0)""".stripMargin

  /** The per-src argmax over `sc` (margin desc, tgt asc). */
  private val BitextBestSql: String =
    """SELECT src_id, tgt_id, c6, margin
      |FROM (SELECT *, row_number() OVER (PARTITION BY src_id
      |        ORDER BY margin DESC, tgt_id) AS rnk FROM sc)
      |WHERE rnk = 1""".stripMargin

  /** The Spark side of the shared bitext fixture. */
  private def minedPairs(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, d)
    Similarity.marginMine(
      src = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 120),
      tgt = e.filter(col("vec_id") % 2 === 1),
      id = "vec_id", vec = "embedding", k = 4)
  }

  /** 1/log2(i+1) for rank i = 1..5 on the 1e-9 grid — computed ONCE
    * JVM-side and interpolated into both the Spark plan and the oracle
    * SQL as integer literals, so neither engine evaluates a log and
    * the DCG sum is exact integer arithmetic. */
  private val NdcgDiscountsU: Seq[Long] =
    (1 to 5).map(i => math.round(1e9 / (math.log(i + 1.0) / math.log(2.0))))

  /** Ideal DCG@5 (graded rel 5..1 against the sorted discounts), same
    * 1e-9 units. */
  private val NdcgIdealU: Long =
    NdcgDiscountsU.zipWithIndex.map { case (u, i) => (5L - i) * u }.sum

  /** Train/build-ONCE state for the PQ faces — the operators' real
    * contract (codebooks and the IVFADC index are index-time
    * artifacts, amortized over query batches; q_knn_ivf_index already
    * demonstrates the build cost inline). Keyed by the sf dir;
    * deterministic, so caching cannot change results. */
  private def pqBooks(s: org.apache.spark.sql.SparkSession, d: String)
      : Array[Array[(Int, Array[Double])]] =
    graft.core.Scratch.once(s"pq_codebooks:$d")(Similarity.pqCodebooks(
      Tables.embeddings(s, d), "vec_id", "embedding",
      m = 32, k = 16, refineIters = 2))

  private def ivfPqDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("ivfpq", d) { dir =>
      Similarity.ivfPqBuild(Tables.embeddings(s, d), "vec_id", "embedding",
        dir, numCentroids = 16, m = 32, k = 16, refineIters = 2)
    }

  /** Build-once index for the persisted-IVF face — same contract as
    * the IVFADC index: q_knn_ivf_index times QUERYING a stored index
    * (partition-pruned list reads), q_knn_ivf times the full inline
    * build+query. Keyed by sf dir; ivfBuild is deterministic, so the
    * cached index yields bit-identical results. */
  private def ivfDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("ivf", d) { dir =>
      Similarity.ivfBuild(Tables.embeddings(s, d), "vec_id", "embedding",
        dir, numCentroids = 16)
    }

  /** Build-once index for the APPEND-maintained IVF face: clone the
    * trained codebook ([[graft.ops.Similarity.ivfInitFrom]]), then
    * ingest the corpus as two frozen-centroid append batches
    * (even/odd vec_ids). Query-identical to the single-build index —
    * q_knn_ivf_append shares golden_knn_ivf.tsv. */
  private def ivfAppendDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.core.Scratch.onceDir("ivfapp", d) { dir =>
      Similarity.ivfInitFrom(s, ivfDir(s, d), dir)
      val e = Tables.embeddings(s, d)
      Similarity.ivfAppend(
        e.filter(col("vec_id") % 2 === 0), dir, "vec_id", "embedding")
      Similarity.ivfAppend(
        e.filter(col("vec_id") % 2 === 1), dir, "vec_id", "embedding")
    }

  /** Populate the per-JVM amortized artifacts (PQ codebooks, the
    * IVF and IVFADC indexes) OUTSIDE any timed region. These are index-time
    * costs by contract — a query-latency harness that lets them land
    * inside the first timed call reports build+query as query
    * (BENCH_r05 overstated q_knn_pq/q_knn_ivfpq ~7×). Bench calls
    * this during warmup; results are unchanged (the caches are keyed
    * and deterministic). */
  def warm(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    pqBooks(s, d)
    ivfPqDir(s, d)
    ivfDir(s, d)
    ivfAppendDir(s, d)
  }

  val defs: Seq[QueryDef] = Seq(

    sql(
      "q_knn_topk",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        |s AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    list_dot_product(q.v, e.v)
        |      / (sqrt(list_dot_product(q.v, q.v))
        |         * sqrt(list_dot_product(e.v, e.v))) AS cosine
        |  FROM q JOIN e ON e.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
        |FROM (SELECT query_id, neighbor_id, cosine,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM s)
        |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
          corpus = e, queries = e.filter(col("vec_id") < 10),
          id = "vec_id", vec = "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    },

    // ---- hard-negative mining (round 16): per query, the nearest
    //      neighbors of a DIFFERENT label — the contrastive-training
    //      negatives the positive-retrieval faces don't produce. Same
    //      broadcast + fused-cosine + bounded-heap shape; the label
    //      mismatch lives in the join condition ----
    sql(
      "q_hard_negatives",
      """WITH e AS (SELECT vec_id, label,
        |             embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 10),
        |s AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    e.label AS neighbor_label,
        |    list_dot_product(q.v, e.v)
        |      / (sqrt(list_dot_product(q.v, q.v))
        |         * sqrt(list_dot_product(e.v, e.v))) AS cosine
        |  FROM q JOIN e ON e.vec_id <> q.vec_id
        |   AND e.label IS DISTINCT FROM q.label)
        |SELECT query_id, neighbor_id, neighbor_label, rank,
        |  round(cosine, 6) AS cosine
        |FROM (SELECT query_id, neighbor_id, neighbor_label, cosine,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM s)
        |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.hardNegatives(
          corpus = e, queries = e.filter(col("vec_id") < 10),
          id = "vec_id", vec = "embedding", label = "label", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("neighbor_label"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
    },

    // ---- margin-based bitext/pair mining (Artetxe & Schwenk ACL'19,
    //      the CCMatrix criterion): even vec_ids are the "source"
    //      corpus (mining sample < 120), odd the "target"; each src
    //      mines its best tgt by the ratio margin — cosine normalized
    //      by both sides' k-NN neighborhoods, which is what kills the
    //      hubness false-positives raw cosine accepts. Micro-grid c6,
    //      exact BIGINT k-NN sums, ONE shared division per pair; the
    //      oracle replays both k-NN passes and the argmax ----
    sql(
      "q_bitext_mine",
      s"""WITH $bitextCtes,
         |best AS ($BitextBestSql)
         |SELECT src_id, tgt_id, c6, margin FROM best""".stripMargin) {
      (s, d) => minedPairs(s, d)
    },

    // ---- margin-band precision of the mined pairs: label agreement
    //      (same planted cluster = a correct alignment) per margin
    //      band — the threshold-calibration curve the margin papers
    //      report (Artetxe-Schwenk §4: precision rises with margin).
    //      Exact integer counts, ppm by integer division; the band
    //      CASE compares the shared-division margin on identical
    //      operands in both engines ----
    sql(
      "q_bitext_eval",
      s"""WITH $bitextCtes,
         |best AS ($BitextBestSql),
         |j AS (
         |  SELECT CASE WHEN b.margin >= 1.2 THEN 'high'
         |              WHEN b.margin >= 1.0 THEN 'mid'
         |              ELSE 'low' END AS band,
         |    CASE WHEN ls.label IS NOT DISTINCT FROM lt.label
         |         THEN 1 ELSE 0 END AS agree
         |  FROM best b
         |  JOIN embeddings ls ON b.src_id = ls.vec_id
         |  JOIN embeddings lt ON b.tgt_id = lt.vec_id)
         |SELECT band, count(*)::BIGINT AS n_pairs,
         |  sum(agree)::BIGINT AS n_agree,
         |  (sum(agree) * 1000000 // count(*))::BIGINT AS agree_ppm
         |FROM j GROUP BY 1""".stripMargin) { (s, d) =>
      val lab = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      minedPairs(s, d)
        .join(lab.select(col("vec_id").as("src_id"),
          col("label").as("__ls")), "src_id")
        .join(lab.select(col("vec_id").as("tgt_id"),
          col("label").as("__lt")), "tgt_id")
        .select(
          when(col("margin") >= 1.2, "high")
            .when(col("margin") >= 1.0, "mid")
            .otherwise("low").as("band"),
          when(col("__ls") <=> col("__lt"), 1L).otherwise(0L)
            .as("__agree"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("__agree")).as("n_agree"))
        .select(col("band"), col("n_pairs"), col("n_agree"),
          expr("n_agree * 1000000 div n_pairs").as("agree_ppm"))
    },

    // ---- compressed int8 retrieval: the quantized corpus actually
    //      serving queries — code dot exact BIGINT, scales multiplied
    //      back in identical left-associated IEEE doubles, so scores
    //      AND ranks hash-check against a full relational replay (no
    //      golden) ----
    sql(
      "q_knn_int8",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |u AS (SELECT vec_id, i,
        |        CAST(round(v[i+1] * 1000000000) AS BIGINT) AS xu
        |      FROM e, range(64) t(i)),
        |m AS (SELECT vec_id, greatest(max(abs(xu)), 1) AS m
        |      FROM u GROUP BY 1),
        |q AS (SELECT u.vec_id, u.i,
        |        (CASE WHEN xu < 0 THEN -1 ELSE 1 END)
        |          * ((abs(xu) * 127) // m.m) AS qi
        |      FROM u JOIN m ON u.vec_id = m.vec_id),
        |dd AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |         sum(a.qi * b.qi)::BIGINT AS cd
        |       FROM q a JOIN q b ON a.i = b.i
        |       WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
        |       GROUP BY 1, 2),
        |s AS (SELECT query_id, neighbor_id,
        |        CAST(cd AS DOUBLE) * CAST(ma.m AS DOUBLE)
        |          * CAST(mb.m AS DOUBLE) AS score
        |      FROM dd JOIN m ma ON ma.vec_id = query_id
        |      JOIN m mb ON mb.vec_id = neighbor_id)
        |SELECT query_id, neighbor_id, rank, score
        |FROM (SELECT query_id, neighbor_id, score,
        |        row_number() OVER (PARTITION BY query_id
        |                           ORDER BY score DESC, neighbor_id) AS rank
        |      FROM s)
        |WHERE rank <= 5""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.int8TopK(
        corpus = e, queries = e.filter(col("vec_id") < 10),
        id = "vec_id", vec = "embedding", k = 5)
    },

    // ---- embedding-cosine near-dup pairs (exact baseline) ----
    sql(
      "q_embed_neardup",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |  round(list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v))
        |       * sqrt(list_dot_product(y.v, y.v))), 6) AS cosine
        |FROM e x JOIN e y ON x.vec_id < y.vec_id
        |WHERE list_dot_product(x.v, y.v)
        |    / (sqrt(list_dot_product(x.v, x.v))
        |       * sqrt(list_dot_product(y.v, y.v))) >= 0.9""".stripMargin) {
      (s, d) =>
        Similarity.cosineNearDupPairs(
            Tables.embeddings(s, d), "vec_id", "embedding", 0.9)
          .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
    },

    // ---- ColBERT-style multi-vector maxsim: each 64-dim embedding is
    //      split into 4 token-vectors of 16; the oracle mirrors the
    //      HOF fold's left association term by term (rank on the
    //      9-grid score, output on the 6-grid like the knn faces) ----
    sql(
      "q_maxsim", {
        def cosSql(a: String, b: String) =
          s"""(list_dot_product($a, $b)
             |      / (sqrt(list_dot_product($a, $a))
             |         * sqrt(list_dot_product($b, $b))))""".stripMargin
        def maxSql(i: Int) =
          s"greatest(${(1 to 4).map(j => cosSql(s"q.vs[$i]", s"e.vs[$j]"))
            .mkString(",\n    ")})"
        s"""WITH mv AS (
           |  SELECT vec_id,
           |    [v[1:16], v[17:32], v[33:48], v[49:64]] AS vs
           |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v
           |        FROM embeddings)),
           |q AS (SELECT vec_id, vs FROM mv WHERE vec_id < 5),
           |s AS (
           |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |    round(${(1 to 4).map(maxSql).mkString("\n  + ")}, 9)
           |      AS maxsim
           |  FROM q JOIN mv e ON e.vec_id <> q.vec_id)
           |SELECT query_id, neighbor_id, rank, round(maxsim, 6) AS maxsim
           |FROM (SELECT query_id, neighbor_id, maxsim,
           |        row_number() OVER (PARTITION BY query_id
           |          ORDER BY maxsim DESC, neighbor_id) AS rank
           |      FROM s)
           |WHERE rank <= 3""".stripMargin
      }) { (s, d) =>
      val v = col("embedding").cast("array<double>")
      val mv = Tables.embeddings(s, d).select(col("vec_id"),
        array(slice(v, 1, 16), slice(v, 17, 16),
          slice(v, 33, 16), slice(v, 49, 16)).as("vs"))
      Similarity.maxSimTopK(
          mv, mv.filter(col("vec_id") < 5), "vec_id", "vs", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("maxsim"), 6).as("maxsim"))
    },

    // ---- two-stage retrieval cascade, fully ORACLE-checked (the
    //      golden-checked q_maxsim_ivf is the ANN-pruned sibling):
    //      stage 1 retrieves top-20 by cheap pooled cosine, stage 2
    //      re-ranks ONLY those pairs with the expensive late-
    //      interaction maxsim — rescore cost is shortlist-sized,
    //      never corpus-sized. DuckDB replays both stages ----
    sql(
      "q_rerank", {
        def cosSql(a: String, b: String) =
          s"""(list_dot_product($a, $b)
             |      / (sqrt(list_dot_product($a, $a))
             |         * sqrt(list_dot_product($b, $b))))""".stripMargin
        def maxSql(i: Int) =
          s"greatest(${(1 to 4).map(j => cosSql(s"q.vs[$i]", s"e.vs[$j]"))
            .mkString(",\n    ")})"
        s"""WITH ev AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |            FROM embeddings),
           |qv AS (SELECT vec_id, v FROM ev WHERE vec_id < 5),
           |sl AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${cosSql("q.v", "e.v")} DESC, e.vec_id) AS r
           |    FROM qv q JOIN ev e ON e.vec_id <> q.vec_id)
           |  WHERE r <= 20),
           |mv AS (
           |  SELECT vec_id, [v[1:16], v[17:32], v[33:48], v[49:64]] AS vs
           |  FROM ev),
           |rescored AS (
           |  SELECT sl.query_id, sl.neighbor_id,
           |    round(${(1 to 4).map(maxSql).mkString("\n  + ")}, 9)
           |      AS maxsim
           |  FROM sl
           |  JOIN mv q ON q.vec_id = sl.query_id
           |  JOIN mv e ON e.vec_id = sl.neighbor_id)
           |SELECT query_id, neighbor_id, rank, round(maxsim, 6) AS maxsim
           |FROM (SELECT query_id, neighbor_id, maxsim,
           |        row_number() OVER (PARTITION BY query_id
           |          ORDER BY maxsim DESC, neighbor_id) AS rank
           |      FROM rescored)
           |WHERE rank <= 5""".stripMargin
      }) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val v = col("embedding").cast("array<double>")
      val mv = e.select(col("vec_id"),
        array(slice(v, 1, 16), slice(v, 17, 16),
          slice(v, 33, 16), slice(v, 49, 16)).as("vs"))
      val shortlist = Similarity.bruteForceTopK(
          corpus = e, queries = e.filter(col("vec_id") < 5),
          id = "vec_id", vec = "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id"))
      val rescored = shortlist
        .join(mv.select(col("vec_id").as("query_id"),
          col("vs").as("__qvs")), Seq("query_id"))
        .join(mv.select(col("vec_id").as("neighbor_id"),
          col("vs").as("__cvs")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(aggregate(col("__qvs"), lit(0.0d),
            (acc, qv) => acc +
              array_max(transform(col("__cvs"),
                dv => nanvl(Similarity.cosine(qv, dv), lit(-1.0d))))), 9)
            .as("maxsim"))
      graft.plans.TopKPerGroup.topK(
          rescored, Seq("query_id"), "maxsim", "neighbor_id", k = 5)
        .withColumn("maxsim", round(col("maxsim"), 6))
    },

    // ---- MRR@5 of the IVF path: reciprocal rank of the FIRST
    //      exact-top-5 member in the approximate ranking — the
    //      second standard retrieval-quality number next to
    //      q_ann_recall, same oracle device (relational brute force
    //      joined to the committed IVF golden) ----
    sql(
      "q_ann_mrr",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
         |s AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    list_dot_product(q.v, e.v)
         |      / (sqrt(list_dot_product(q.v, q.v))
         |         * sqrt(list_dot_product(e.v, e.v))) AS cosine
         |  FROM q JOIN e ON e.vec_id <> q.vec_id),
         |brute AS (
         |  SELECT query_id, neighbor_id
         |  FROM (SELECT query_id, neighbor_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY cosine DESC, neighbor_id)
         |            AS rank
         |        FROM s)
         |  WHERE rank <= 5),
         |ivf AS (
         |  SELECT query_id::BIGINT AS query_id,
         |    neighbor_id::BIGINT AS neighbor_id, rank::INT AS rank
         |  FROM read_csv('${SourceQueries.FixtureDir}/golden_knn_ivf.tsv',
         |    delim='\\t', header=true, all_varchar=true))
         |SELECT i.query_id,
         |  coalesce(1.0 / min(CASE WHEN b.neighbor_id IS NOT NULL
         |                          THEN i.rank END), 0.0) AS rr
         |FROM ivf i LEFT JOIN brute b
         |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |GROUP BY i.query_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(
          corpus = e, queries = q, id = "vec_id", vec = "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__rel"))
      // stored-index query path, identical results to inline ivfTopK
      val ivf = Similarity.ivfQuery(q, ivfDir(s, d),
          "vec_id", "embedding", k = 5, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      ivf.join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(coalesce(lit(1.0) /
          min(when(col("__rel") === 1, col("rank"))), lit(0.0)).as("rr"))
    },

    // ---- nDCG@5 of the IVF path: graded relevance = exact-rank
    //      position (rel = 6 − exact_rank), discounts 1/log2(i+1)
    //      BAKED AS 1e-9-grid integer literals shared by both engines
    //      (no cross-engine libm anywhere): DCG sums exact BIGINTs,
    //      the single final division runs on identical operands ----
    sql(
      "q_ann_ndcg", {
        val dU = NdcgDiscountsU.zipWithIndex.map { case (u, i) =>
          s"WHEN ${i + 1} THEN $u" }.mkString(" ")
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           |           FROM embeddings),
           |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
           |s AS (
           |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |    list_dot_product(q.v, e.v)
           |      / (sqrt(list_dot_product(q.v, q.v))
           |         * sqrt(list_dot_product(e.v, e.v))) AS cosine
           |  FROM q JOIN e ON e.vec_id <> q.vec_id),
           |brute AS (
           |  SELECT query_id, neighbor_id, 6 - rank AS rel
           |  FROM (SELECT query_id, neighbor_id,
           |          row_number() OVER (PARTITION BY query_id
           |                             ORDER BY cosine DESC, neighbor_id)
           |            AS rank
           |        FROM s)
           |  WHERE rank <= 5),
           |ivf AS (
           |  SELECT query_id::BIGINT AS query_id,
           |    neighbor_id::BIGINT AS neighbor_id, rank::INT AS rank
           |  FROM read_csv('${SourceQueries.FixtureDir}/golden_knn_ivf.tsv',
           |    delim='\\t', header=true, all_varchar=true))
           |SELECT i.query_id,
           |  round(CAST(sum(coalesce(b.rel, 0)
           |                 * (CASE i.rank $dU END)) AS DOUBLE)
           |        / $NdcgIdealU, 6) AS ndcg
           |FROM ivf i LEFT JOIN brute b
           |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
           |GROUP BY i.query_id""".stripMargin
      }) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(
          corpus = e, queries = q, id = "vec_id", vec = "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          (lit(6) - col("rank")).cast("long").as("__rel"))
      val ivf = Similarity.ivfQuery(q, ivfDir(s, d),
          "vec_id", "embedding", k = 5, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val disc = NdcgDiscountsU.zipWithIndex
        .foldLeft(lit(0L)) { case (acc, (u, i)) =>
          when(col("rank") === (i + 1), lit(u)).otherwise(acc) }
      ivf.join(brute, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(round(
          sum(coalesce(col("__rel"), lit(0L)) * disc).cast("double") /
            lit(NdcgIdealU.toDouble), 6).as("ndcg"))
    },

    // ---- approximate top-k faces: approximate vs BRUTE FORCE (recall
    //      guarded in SimilaritySpec), but deterministic end to end —
    //      seeded hyperplanes, decimal-mean Lloyd centroids, tie-broken
    //      heap ranks — so a committed GenGoldens snapshot at the
    //      correctness SF hash-checks reproducibility ----
    sql(
      "q_knn_lsh",
      s"""SELECT query_id::BIGINT AS query_id,
         |  neighbor_id::BIGINT AS neighbor_id, rank::INT AS rank,
         |  cosine::DOUBLE AS cosine
         |FROM read_csv('${SourceQueries.FixtureDir}/golden_knn_lsh.tsv',
         |  delim='\\t', header=true, all_varchar=true)""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
        Similarity.lshTopK(
            corpus = e, queries = e.filter(col("vec_id") < 10),
            id = "vec_id", vec = "embedding", k = 5, bits = 4, dim = 64)
          .withColumn("cosine", round(col("cosine"), 6))
    },

    // ---- the maxsim SCALE path: IVF shortlist over pooled vectors →
    //      late-interaction rescore of the shortlist only. Golden-
    //      checked (deterministic end to end); the exhaustive-
    //      shortlist == brute-force contract is spec-gated ----
    sql(
      "q_maxsim_ivf",
      s"""SELECT query_id::BIGINT AS query_id,
         |  neighbor_id::BIGINT AS neighbor_id, rank::INT AS rank,
         |  maxsim::DOUBLE AS maxsim
         |FROM read_csv('${SourceQueries.FixtureDir}/golden_maxsim_ivf.tsv',
         |  delim='\\t', header=true, all_varchar=true)""".stripMargin) {
      (s, d) =>
        val v = col("embedding").cast("array<double>")
        val mv = Tables.embeddings(s, d).select(col("vec_id"),
          array(slice(v, 1, 16), slice(v, 17, 16),
            slice(v, 33, 16), slice(v, 49, 16)).as("vs"))
        Similarity.maxSimIvfTopK(
            mv, mv.filter(col("vec_id") < 5), "vec_id", "vs", k = 3,
            shortlist = 50, numCentroids = 16, nProbe = 8)
          .select(col("query_id"), col("neighbor_id"), col("rank"),
            round(col("maxsim"), 6).as("maxsim"))
    },

    sql(
      "q_knn_ivf",
      s"""SELECT query_id::BIGINT AS query_id,
         |  neighbor_id::BIGINT AS neighbor_id, rank::INT AS rank,
         |  cosine::DOUBLE AS cosine
         |FROM read_csv('${SourceQueries.FixtureDir}/golden_knn_ivf.tsv',
         |  delim='\\t', header=true, all_varchar=true)""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
        Similarity.ivfTopK(
            corpus = e, queries = e.filter(col("vec_id") < 10),
            id = "vec_id", vec = "embedding", k = 5,
            numCentroids = 16, nProbe = 8)
          .withColumn("cosine", round(col("cosine"), 6))
    },

    // ---- the production ANN shape: build the IVF index ONCE on disk
    //      (inverted lists partitioned by centroid id), query against
    //      it with static partition pruning. Provably identical
    //      results to q_knn_ivf (SimilaritySpec), so it shares the
    //      same committed golden ----
    sql(
      "q_knn_ivf_index",
      s"""SELECT query_id::BIGINT AS query_id,
         |  neighbor_id::BIGINT AS neighbor_id, rank::INT AS rank,
         |  cosine::DOUBLE AS cosine
         |FROM read_csv('${SourceQueries.FixtureDir}/golden_knn_ivf.tsv',
         |  delim='\\t', header=true, all_varchar=true)""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
        Similarity.ivfQuery(e.filter(col("vec_id") < 10), ivfDir(s, d),
            "vec_id", "embedding", k = 5, nProbe = 8)
          .withColumn("cosine", round(col("cosine"), 6))
    },

    // ---- ANN evaluation harness as a first-class face: recall@5 of
    //      the IVF path against exact brute force, per query. The
    //      oracle recomputes brute force relationally and reads the
    //      committed IVF golden — so the recall numbers themselves are
    //      hash-checked, not just eyeballed in a spec ----
    sql(
      "q_ann_recall",
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
         |s AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    list_dot_product(q.v, e.v)
         |      / (sqrt(list_dot_product(q.v, q.v))
         |         * sqrt(list_dot_product(e.v, e.v))) AS cosine
         |  FROM q JOIN e ON e.vec_id <> q.vec_id),
         |brute AS (
         |  SELECT query_id, neighbor_id
         |  FROM (SELECT query_id, neighbor_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY cosine DESC, neighbor_id)
         |            AS rank
         |        FROM s)
         |  WHERE rank <= 5),
         |ivf AS (
         |  SELECT query_id::BIGINT AS query_id,
         |    neighbor_id::BIGINT AS neighbor_id
         |  FROM read_csv('${SourceQueries.FixtureDir}/golden_knn_ivf.tsv',
         |    delim='\\t', header=true, all_varchar=true))
         |SELECT b.query_id, count(i.neighbor_id)::BIGINT AS n_hit,
         |  count(i.neighbor_id) / 5.0 AS recall
         |FROM brute b LEFT JOIN ivf i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(
          corpus = e, queries = q, id = "vec_id", vec = "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      // the PRODUCTION query path (stored index, partition-pruned
      // probes) — spec'd identical to inline ivfTopK, so it shares
      // the golden-backed oracle
      val ivf = Similarity.ivfQuery(q, ivfDir(s, d),
          "vec_id", "embedding", k = 5, nProbe = 8)
        .select(col("query_id"), col("neighbor_id").as("__ivf_n"))
      brute.join(ivf,
          brute("query_id") === ivf("query_id") &&
            col("neighbor_id") === col("__ivf_n"), "left")
        .groupBy(brute("query_id"))
        .agg(count(col("__ivf_n")).as("n_hit"),
          (count(col("__ivf_n")) / 5.0).as("recall"))
    },

    // ---- incremental index maintenance: frozen-codebook clone + two
    //      append batches must serve queries identically to the
    //      single-build index (appends only ever ADD files under the
    //      centroid partitions — cost ∝ batch, not index), so this
    //      face shares golden_knn_ivf.tsv with q_knn_ivf_index ----
    sql(
      "q_knn_ivf_append",
      s"""SELECT query_id::BIGINT AS query_id,
         |  neighbor_id::BIGINT AS neighbor_id, rank::INT AS rank,
         |  cosine::DOUBLE AS cosine
         |FROM read_csv('${SourceQueries.FixtureDir}/golden_knn_ivf.tsv',
         |  delim='\\t', header=true, all_varchar=true)""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
        Similarity.ivfQuery(e.filter(col("vec_id") < 10), ivfAppendDir(s, d),
            "vec_id", "embedding", k = 5, nProbe = 8)
          .withColumn("cosine", round(col("cosine"), 6))
    },

    // ---- PQ compressed-scan ANN: the corpus persists as 32 4-bit
    //      codes (16 B vs 256 B of raw floats — 16x fewer scanned
    //      bytes), queries scored against reconstructions via per-
    //      subspace LUTs. Deterministic end to end -> GenGoldens
    //      snapshot; recall vs brute force guarded in SimilaritySpec
    //      at these same parameters ----
    sql(
      "q_knn_pq",
      s"""SELECT query_id::BIGINT AS query_id,
         |  neighbor_id::BIGINT AS neighbor_id, rank::INT AS rank,
         |  cosine::DOUBLE AS cosine
         |FROM read_csv('${SourceQueries.FixtureDir}/golden_knn_pq.tsv',
         |  delim='\\t', header=true, all_varchar=true)""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
        val cb = pqBooks(s, d)
        Similarity.pqTopK(
            Similarity.pqEncode(e, "vec_id", "embedding", cb),
            queries = e.filter(col("vec_id") < 10),
            id = "vec_id", vec = "embedding", k = 5, codebooks = cb)
          .withColumn("cosine", round(col("cosine"), 6))
    },

    // ---- the composed production shape: IVF partition-pruned lists
    //      holding PQ codes — probe-set file pruning x compressed
    //      scan — plus the exact re-rank stage (IVFADC-R): the ADC
    //      shortlist's raw vectors come back from the same pruned
    //      files and the final top-k is exact-cosine ranked, so PQ
    //      quantization error costs candidates only, never ranks.
    //      Deterministic (all-lists probe provably equals the flat PQ
    //      scan, spec'd; recall gated >= 0.8) -> GenGoldens snapshot ----
    sql(
      "q_knn_ivfpq",
      s"""SELECT query_id::BIGINT AS query_id,
         |  neighbor_id::BIGINT AS neighbor_id, rank::INT AS rank,
         |  cosine::DOUBLE AS cosine
         |FROM read_csv('${SourceQueries.FixtureDir}/golden_knn_ivfpq.tsv',
         |  delim='\\t', header=true, all_varchar=true)""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
        Similarity.ivfPqQuery(e.filter(col("vec_id") < 10), ivfPqDir(s, d),
            "vec_id", "embedding", k = 5, nProbe = 8, rerank = 50)
          .withColumn("cosine", round(col("cosine"), 6))
    },

    // ---- SemDeDup: plant exact scaled copies (cosine(v, 2v) = 1, and
    //      ×2 is exact in floating point, so a copy ranks every
    //      centroid identically to its original and MUST co-cluster);
    //      the natural corpus tops out at cosine ≈ 0.51, far below the
    //      0.99 threshold. The oracle is therefore fully relational:
    //      the kept set must be exactly the original rows — a false
    //      drop or a surviving copy both hash-mismatch ----
    sql(
      "q_semantic_dedup",
      "SELECT vec_id, label FROM embeddings") { (s, d) =>
      val e = Tables.embeddings(s, d).select("vec_id", "embedding", "label")
      val copies = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 10000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
          col("label"))
      Similarity.semanticDedup(
          e.unionByName(copies), "vec_id", "embedding",
          threshold = 0.99, numCentroids = 8)
        .select("vec_id", "label")
    },

    // ---- Johnson-Lindenstrauss ±1 random projection 64→16
    //      (ops/Projection): sign matrix from md5 (computed by the JVM
    //      driver-side AND by the oracle's range×range CTE — same
    //      digest), components snapped to 1e-9-grid BIGINT micro-units
    //      so every projected coordinate is an exact integer sum.
    //      Map-side, shuffle-free; membership + values hash-checked ----
    sql(
      "q_random_projection",
      """WITH s AS (
        |  SELECT i, j,
        |    CASE WHEN strpos('02468ace',
        |           substr(md5('jl:' || i || ':' || j), 1, 1)) > 0
        |         THEN 1 ELSE -1 END AS sgn
        |  FROM range(64) t(i), range(16) u(j)),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT e.vec_id, s.j,
        |  CAST(sum(CAST(round(e.v[s.i + 1] * 1000000000) AS BIGINT)
        |           * s.sgn) AS BIGINT) AS proj_u
        |FROM e, s
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      graft.ops.Projection.randomProject(
        Tables.embeddings(s, d), "vec_id", "embedding",
        inDim = 64, outDim = 16, salt = "jl")
    },

    // ---- MMR diversity selection: greedy λ·rel − (1−λ)·maxsim over
    //      the top-8 shortlist, k=3 picks per query — every relevance
    //      and pair sim an exact 1e-6-grid integer, so the oracle
    //      replays shortlist + pair sims + each greedy round as
    //      unrolled CTEs and scores AND picks hash-check ----
    sql("q_mmr_select", mmrOracle(nQueries = 4, shortlist = 8, k = 3)) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
        graft.ops.Diversity.mmrSelect(
          corpus = e, queries = e.filter(col("vec_id") < 4),
          id = "vec_id", vec = "embedding", shortlist = 8, k = 3)
    },

    // ---- FILTERED vector search (the metadata-constrained ANN every
    //      production retrieval runs: "nearest neighbors WITH the same
    //      label/tenant/language"): the predicate becomes the JOIN KEY
    //      — an equi-join on label replaces the cross product, so
    //      selectivity prunes candidates before any distance math ----
    sql(
      "q_knn_filtered",
      """WITH eu AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding::DOUBLE[],
        |                   x -> round(x * 1000000.0)) AS v
        |  FROM embeddings),
        |qs AS (SELECT vec_id, label, v FROM eu WHERE vec_id < 10),
        |s AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    CAST(list_dot_product(q.v, e.v) AS BIGINT) AS du
        |  FROM qs q JOIN eu e
        |    ON e.label = q.label AND e.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, du, rnk AS rank FROM (
        |  SELECT query_id, neighbor_id, du,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY du DESC, neighbor_id) AS rnk
        |  FROM s)
        |WHERE rnk <= 5""".stripMargin) { (s, d) =>
      val eu = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          graft.ops.Diversity.snapMicro(col("embedding")).as("__v"))
      val q = broadcast(eu.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label"),
          col("__v").as("__qv")))
      graft.plans.TopKPerGroup.topK(
          eu.select(col("vec_id").as("neighbor_id"), col("label"),
              col("__v"))
            .join(q, Seq("label"))
            .filter(col("query_id") =!= col("neighbor_id"))
            .select(col("query_id"), col("neighbor_id"),
              graft.plans.DotProduct.dot(col("__qv"), col("__v"))
                .cast("long").as("du"))
            // exact snapped dots are ≪ 2^53: the double heap key
            // preserves the integer order bit-for-bit
            .withColumn("__score", col("du").cast("double")),
          Seq("query_id"), "__score", "neighbor_id", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("du"),
          col("rank"))
    },

    // ---- matryoshka-style truncation curve: recall@5 of dot-product
    //      retrieval on the first {8,16,32,64} dims against the full-
    //      width ranking — the storage/compute-vs-quality table behind
    //      any "ship the short embeddings" decision; exact snapped-
    //      integer dots on BOTH sides, full relational replay ----
    sql(
      "q_ann_dim_curve", {
        val dims = Seq(8, 16, 32, 64)
        val branches = dims.map { dm =>
          s"""SELECT $dm AS dim, query_id, neighbor_id FROM (
             |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY CAST(list_dot_product(q.v[1:$dm], e.v[1:$dm])
             |        AS BIGINT) DESC, e.vec_id) AS rnk
             |  FROM qs q JOIN eu e ON e.vec_id <> q.vec_id)
             |WHERE rnk <= 5""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH eu AS (
           |  SELECT vec_id,
           |    list_transform(embedding::DOUBLE[],
           |                   x -> round(x * 1000000.0)) AS v
           |  FROM embeddings),
           |qs AS (SELECT vec_id, v FROM eu WHERE vec_id < 10),
           |t AS ($branches),
           |f AS (SELECT query_id, neighbor_id FROM t WHERE dim = 64)
           |SELECT t.dim,
           |  sum(CASE WHEN f.neighbor_id IS NOT NULL
           |      THEN 1 ELSE 0 END)::BIGINT AS n_hits,
           |  50::BIGINT AS n_ideal,
           |  round(sum(CASE WHEN f.neighbor_id IS NOT NULL
           |      THEN 1 ELSE 0 END)::DOUBLE / 50.0, 6) AS recall
           |FROM t LEFT JOIN f
           |  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
           |GROUP BY t.dim""".stripMargin
      }) { (s, d) =>
      val eu = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.ops.Diversity.snapMicro(col("embedding")).as("__v"))
        .localCheckpoint()
      val q = broadcast(eu.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("__v").as("__qv")))
      def top5(dim: Int) = graft.plans.TopKPerGroup.topK(
          eu.select(col("vec_id").as("neighbor_id"), col("__v"))
            .join(q, col("query_id") =!= col("neighbor_id"))
            .select(col("query_id"), col("neighbor_id"),
              graft.plans.DotProduct.dot(
                slice(col("__qv"), 1, dim), slice(col("__v"), 1, dim))
                .cast("double").as("__score")),
          Seq("query_id"), "__score", "neighbor_id", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val full = top5(64).withColumn("__hit", lit(1))
      Seq(8, 16, 32, 64).map { dm =>
        top5(dm)
          .join(full, Seq("query_id", "neighbor_id"), "left")
          .agg(sum(coalesce(col("__hit"), lit(0))).cast("long")
            .as("n_hits"))
          .select(lit(dm).as("dim"), col("n_hits"),
            lit(50L).as("n_ideal"),
            round(col("n_hits").cast("double") / 50.0, 6).as("recall"))
      }.reduce(_.unionByName(_))
    },

    // ---- farthest-first k-center coreset (Gonzalez 1985): 6 diverse
    //      exemplars + the exact coverage-radius curve; every squared
    //      L2 an exact snapped integer, greedy rounds unrolled in the
    //      oracle with DESC/id tie order ----
    sql("q_kcenter", {
      val rounds = (2 to 6).map { r =>
        s"""c$r AS (SELECT vec_id, v, nn, md FROM m${r - 1}
           |        ORDER BY md DESC, vec_id LIMIT 1),
           |m$r AS (
           |  SELECT m.vec_id, m.v, m.nn,
           |    least(m.md, m.nn
           |      - 2 * CAST(list_dot_product(m.v, c.v) AS BIGINT)
           |      + c.nn) AS md
           |  FROM m${r - 1} m, c$r c)""".stripMargin
      }.mkString(",\n")
      val unions = (2 to 6).map { r =>
        s"UNION ALL SELECT $r AS rank, vec_id AS center_id, md FROM c$r"
      }.mkString("\n")
      s"""WITH eu AS (
         |  SELECT vec_id,
         |    list_transform(embedding::DOUBLE[],
         |                   x -> round(x * 1000000.0)) AS v
         |  FROM embeddings),
         |n2 AS (SELECT vec_id, v,
         |         CAST(list_dot_product(v, v) AS BIGINT) AS nn FROM eu),
         |c1 AS (SELECT vec_id, v, nn FROM n2
         |       WHERE vec_id = (SELECT min(vec_id) FROM n2)),
         |m1 AS (
         |  SELECT e.vec_id, e.v, e.nn,
         |    (e.nn - 2 * CAST(list_dot_product(e.v, c.v) AS BIGINT)
         |     + c.nn) AS md
         |  FROM n2 e, c1 c),
         |$rounds
         |SELECT 1 AS rank, (SELECT vec_id FROM c1) AS center_id,
         |  0::BIGINT AS radius_sq
         |$unions""".stripMargin
    }) { (s, d) =>
      graft.ops.Diversity.kCenterGreedy(
        Tables.embeddings(s, d), "vec_id", "embedding", k = 6)
    },

    // ---- the corpus-scale MMR shape: shortlist from the STORED IVF
    //      index (partition-pruned probes), then the same integer
    //      greedy — deterministic end to end, so the committed golden
    //      hash-checks reproducibility exactly like q_knn_ivf ----
    sql(
      "q_mmr_ivf",
      s"""SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
         |  neighbor_id::BIGINT AS neighbor_id, mmr_u::BIGINT AS mmr_u
         |FROM read_csv('${SourceQueries.FixtureDir}/golden_mmr_ivf.tsv',
         |  delim='\\t', header=true, all_varchar=true)""".stripMargin) {
      (s, d) =>
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 10)
        val pairs = Similarity.ivfQuery(q, ivfDir(s, d),
            "vec_id", "embedding", k = 20, nProbe = 8)
          .select(col("query_id"), col("neighbor_id"))
        graft.ops.Diversity.mmrRescore(
          pairs, corpus = e, queries = q,
          id = "vec_id", vec = "embedding", k = 5)
    })

  /** DuckDB replay of [[graft.ops.Diversity.mmrSelect]] with
    * λ = 7/10: round r's candidate scores (`c_r`) read the max pair
    * sim against the selected set `sel_{r-1}`, the pick (`p_r`) is
    * argmax (score DESC, did ASC) — the same total order the JVM
    * greedy walks. */
  private def mmrOracle(nQueries: Int, shortlist: Int, k: Int): String = {
    val rounds = (2 to k).map { r =>
      s"""c$r AS (SELECT s.qid, s.did, 7 * s.rel_u - 3 * m.mx AS sc
         |  FROM short s
         |  JOIN (SELECT sim.qid, sim.a AS did, max(sim.sim_u) AS mx
         |        FROM sim JOIN sel${r - 1} w
         |          ON w.qid = sim.qid AND w.did = sim.b
         |        GROUP BY sim.qid, sim.a) m
         |    ON m.qid = s.qid AND m.did = s.did
         |  LEFT JOIN sel${r - 1} x ON x.qid = s.qid AND x.did = s.did
         |  WHERE x.did IS NULL),
         |p$r AS (SELECT qid, did, CAST(sc AS BIGINT) AS mmr_u FROM (
         |  SELECT qid, did, sc,
         |    row_number() OVER (PARTITION BY qid
         |                       ORDER BY sc DESC, did) AS rn
         |  FROM c$r) WHERE rn = 1),
         |sel$r AS (SELECT qid, did FROM sel${r - 1}
         |  UNION ALL SELECT qid, did FROM p$r)""".stripMargin
    }.mkString(",\n")
    val unions = (2 to k).map { r =>
      s"UNION ALL SELECT qid, $r, did, mmr_u FROM p$r"
    }.mkString("\n")
    s"""WITH eu AS (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[],
       |                   x -> round(x * 1000000.0)) AS v
       |  FROM embeddings),
       |qs AS (SELECT vec_id AS qid, v FROM eu WHERE vec_id < $nQueries),
       |rel AS (SELECT qs.qid, e.vec_id AS did,
       |    CAST(list_dot_product(qs.v, e.v) AS BIGINT) AS rel_u
       |  FROM qs JOIN eu e ON e.vec_id <> qs.qid),
       |short AS (SELECT qid, did, rel_u FROM (
       |    SELECT qid, did, rel_u,
       |      row_number() OVER (PARTITION BY qid
       |                         ORDER BY rel_u DESC, did) AS rn
       |    FROM rel) WHERE rn <= $shortlist),
       |sim AS (SELECT s1.qid, s1.did AS a, s2.did AS b,
       |    CAST(list_dot_product(e1.v, e2.v) AS BIGINT) AS sim_u
       |  FROM short s1
       |  JOIN short s2 ON s2.qid = s1.qid AND s2.did <> s1.did
       |  JOIN eu e1 ON e1.vec_id = s1.did
       |  JOIN eu e2 ON e2.vec_id = s2.did),
       |p1 AS (SELECT qid, did, CAST(7 * rel_u AS BIGINT) AS mmr_u FROM (
       |    SELECT qid, did, rel_u,
       |      row_number() OVER (PARTITION BY qid
       |                         ORDER BY rel_u DESC, did) AS rn
       |    FROM short) WHERE rn = 1),
       |sel1 AS (SELECT qid, did FROM p1),
       |$rounds
       |SELECT qid AS query_id, 1 AS rank, did AS neighbor_id, mmr_u
       |FROM p1
       |$unions""".stripMargin
  }
}
