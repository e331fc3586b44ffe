package graft.queries

import graft.core.{QueryDef, Tables}
import graft.ops.{Ranking, Text}
import org.apache.spark.sql.functions._

/** Lexical relevance scoring over `documents` ([[graft.ops.Ranking]]):
  * TF-IDF term weights and BM25 query scores, both hash-checked
  * against full DuckDB recomputations.
  *
  * Float parity notes (measured): Spark's Catalyst `log` evaluates
  * via StrictMath (fdlibm) while DuckDB's `ln` is glibc — equal on
  * most arguments but one ulp apart on some (e.g. ln(1.2699619771…)).
  * q_tfidf's ~300 distinct idf arguments all agree, so it compares at
  * full precision; q_bm25's argument set hits disagreements, so its
  * score is rounded to a 9-decimal grid on both faces (max observed
  * cross-engine gap ~4e-16, nine digits is far from the boundary).
  * Every non-log step is IEEE-deterministic as long as BOTH faces
  * associate identically — the oracle SQL mirrors the Scala
  * association order token for token. The BM25 per-doc sum is an
  * ordered fold (see [[Ranking.bm25]]); its oracle pivots the three
  * query terms explicitly in the same ascending order, so even the
  * addition sequence matches.
  *
  * Gotcha (measured): DuckDB parses `2.2` as DECIMAL, not DOUBLE —
  * `tf * 2.2` stays exact decimal 6.6 and converts to a DIFFERENT
  * double than the JVM's `3 * 2.2d`. Every literal that is not
  * binary-exact (2.2, 1.2 — unlike 0.5/0.25/0.75/1.0) must be cast
  * `::DOUBLE` in the oracle before arithmetic with integer columns.
  */
object RankingQueries {
  import QueryDef.sql

  /** One shared oracle-side mirror of Text.normalize (TextQueries). */
  private val NormSql = TextQueries.NormSql

  /** The fixed BM25 demo query, ascending — the fold and the oracle
    * pivot both add contributions in this order. */
  private val Bm25Query = Seq("hash", "join", "spark")

  val defs: Seq[QueryDef] = Seq(

    // ---- TF-IDF: every (doc, term) weight, smoothed idf ----
    sql(
      "q_tfidf",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split($NormSql, ' ')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*)::BIGINT AS tf
         |  FROM toks GROUP BY 1, 2),
         |dfreq AS (
         |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1)
         |SELECT t.doc_id, t.term, t.tf, d.df,
         |  t.tf * (ln(((SELECT count(*) FROM documents) + 1.0)
         |             / (d.df + 1.0)) + 1.0) AS tfidf
         |FROM tf t JOIN dfreq d USING (term)""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Ranking.tfIdf(
        docs, "doc_id", Text.words(Text.normalize(col("text"))),
        docCount = docs.count())
    },

    // ---- BM25 against a literal query; ordered-fold sum mirrored by
    //      an explicit three-way pivot in the same term order ----
    sql(
      "q_bm25",
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    string_split($NormSql, ' ') AS ws
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, len(ws)::BIGINT AS dl, unnest(ws) AS term
         |  FROM toks),
         |tfc AS (
         |  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
         |  FROM tf GROUP BY 1, 2, 3),
         |dfreq AS (
         |  SELECT term, count(*)::BIGINT AS df FROM tfc GROUP BY 1),
         |scal AS (
         |  SELECT count(*)::BIGINT AS n,
         |    (sum(len(ws))::DOUBLE / count(*)) AS avgdl
         |  FROM toks),
         |contrib AS (
         |  SELECT c.doc_id, c.term,
         |    ln(1.0 + ((SELECT n FROM scal) - d.df + 0.5) / (d.df + 0.5))
         |      * (c.tf * 2.2::DOUBLE)
         |      / (c.tf + 1.2::DOUBLE * (0.25 + 0.75 * c.dl
         |           / (SELECT avgdl FROM scal))) AS w
         |  FROM tfc c JOIN dfreq d USING (term)
         |  WHERE c.term IN ('hash', 'join', 'spark'))
         |SELECT doc_id,
         |  round(coalesce(max(CASE WHEN term = 'hash' THEN w END), 0.0)
         |  + coalesce(max(CASE WHEN term = 'join' THEN w END), 0.0)
         |  + coalesce(max(CASE WHEN term = 'spark' THEN w END), 0.0),
         |    9) AS bm25
         |FROM contrib GROUP BY doc_id""".stripMargin) { (s, d) =>
      // tokenize once: the checkpoint materializes the tokens, and
      // the scalar pass (N, avgdl) and the scoring pass read them
      val docs = Tables.documents(s, d)
        .withColumn("__toks", Text.words(Text.normalize(col("text"))))
        .localCheckpoint()
      val scal = docs
        .agg(count(lit(1)), sum(size(col("__toks")).cast("long")))
        .collect()(0)
      val n = scal.getLong(0)
      val avgDl = scal.getLong(1).toDouble / n
      // round to a 9-decimal grid: Spark's Catalyst `log` is
      // StrictMath (fdlibm) while DuckDB's ln is glibc — they differ
      // in the last ulp on some arguments, so full-precision scores
      // cannot hash-match across engines (measured; see scaladoc)
      Ranking.bm25(docs, "doc_id", col("__toks"), Bm25Query,
          docCount = n, avgDl = avgDl)
        .withColumn("bm25", round(col("bm25"), 9))
    },

    // ---- directed within-window co-occurrence + PMI (the word2vec/
    //      GloVe statistics table). Pair generation is map-side array
    //      HOFs — no self-join; margins come from the pair-count frame
    //      itself. ln on the shared 9-decimal grid (see q_bm25). ----
    sql(
      "q_pmi",
      s"""WITH toks AS (
         |  SELECT string_split(${TextQueries.NormSql}, ' ') AS ws
         |  FROM documents),
         |p AS (
         |  SELECT ws[i+1] AS a, ws[i+1+j] AS b
         |  FROM toks, UNNEST(range(len(ws)-1)) AS t(i),
         |    UNNEST(range(1, 4)) AS s(j)
         |  WHERE i + j < len(ws)),
         |c AS (SELECT a, b, count(*) AS n_ab FROM p GROUP BY 1, 2),
         |ma AS (SELECT a, sum(n_ab) AS n_a FROM c GROUP BY 1),
         |mb AS (SELECT b, sum(n_ab) AS n_b FROM c GROUP BY 1),
         |t AS (SELECT sum(n_ab) AS n FROM c)
         |SELECT c.a, c.b, c.n_ab,
         |  round(ln(CAST(c.n_ab AS DOUBLE) * t.n / (ma.n_a * mb.n_b)), 9)
         |    AS pmi
         |FROM c JOIN ma ON c.a = ma.a JOIN mb ON c.b = mb.b, t
         |WHERE c.n_ab >= 5""".stripMargin) { (s, d) =>
      graft.ops.Cooccurrence.pmi(
        Tables.documents(s, d),
        tokens = Text.words(Text.normalize(col("text"))),
        window = 3, minCount = 5)
    },

    // ---- top-k collocations per token: the PMI table ranked by the
    //      bounded-heap TopKPerGroup (no per-token window sort); rank
    //      over the 9-decimal grid pmi, ties by partner token ----
    sql(
      "q_collocations",
      s"""WITH toks AS (
         |  SELECT string_split(${TextQueries.NormSql}, ' ') AS ws
         |  FROM documents),
         |p AS (
         |  SELECT ws[i+1] AS a, ws[i+1+j] AS b
         |  FROM toks, UNNEST(range(len(ws)-1)) AS t(i),
         |    UNNEST(range(1, 4)) AS s(j)
         |  WHERE i + j < len(ws)),
         |c AS (SELECT a, b, count(*) AS n_ab FROM p GROUP BY 1, 2),
         |ma AS (SELECT a, sum(n_ab) AS n_a FROM c GROUP BY 1),
         |mb AS (SELECT b, sum(n_ab) AS n_b FROM c GROUP BY 1),
         |t AS (SELECT sum(n_ab) AS n FROM c),
         |scored AS (
         |  SELECT c.a, c.b, c.n_ab,
         |    round(ln(CAST(c.n_ab AS DOUBLE) * t.n / (ma.n_a * mb.n_b)),
         |      9) AS pmi
         |  FROM c JOIN ma ON c.a = ma.a JOIN mb ON c.b = mb.b, t
         |  WHERE c.n_ab >= 5)
         |SELECT a, b, n_ab, pmi, rank FROM (
         |  SELECT a, b, n_ab, pmi, row_number() OVER (
         |    PARTITION BY a ORDER BY pmi DESC,
         |      CAST('0x' || substr(md5(b), 1, 15) AS BIGINT), b) AS rank
         |  FROM scored)
         |WHERE rank <= 3""".stripMargin) { (s, d) =>
      // TopKPerGroup ties on a LONG column; the engine-portable md5
      // prefix (the sampling-draw device) gives the string partner a
      // deterministic long surrogate both engines compute identically.
      // 15 hex chars = 60 bits (< 2^63): TopKPerGroup's total-order
      // contract wants a unique tie column, and a 32-bit prefix leaves
      // a realistic birthday collision at corpus scale — at 60 bits a
      // (pmi, prefix) collision needs ~2^30 equal-pmi partners of one
      // token before the residual b-order can matter
      graft.plans.TopKPerGroup.topK(
          graft.ops.Cooccurrence.pmi(
              Tables.documents(s, d),
              tokens = Text.words(Text.normalize(col("text"))),
              window = 3, minCount = 5)
            .withColumn("__tb",
              conv(substring(md5(col("b").cast("binary")), 1, 15), 16, 10)
                .cast("long")),
          groupCols = Seq("a"), score = "pmi", tie = "__tb", k = 3)
        .select(col("a"), col("b"), col("n_ab"), col("pmi"),
          col("rank").cast("long").as("rank"))
    },

    // ---- TextRank (Mihalcea & Tarau 2004): corpus keyword centrality
    //      = PageRank over the token co-occurrence graph. Composes the
    //      engine's own parts — pairCounts for the edge derivation,
    //      integer pageRankInt for the fixed point — so ranks are
    //      bit-identical in both engines (same truncating arithmetic;
    //      the oracle unrolls the rounds over the SAME token edges).
    //      Edge frame is checkpointed: the symmetric closure reads it
    //      twice, and pair generation must not run twice ----
    sql(
      "q_textrank",
      GraphQueries.pageRankOracle(
        s"""toks AS (
           |  SELECT string_split($NormSql, ' ') AS ws
           |  FROM documents),
           |p AS (
           |  SELECT ws[i+1] AS a, ws[i+1+j] AS b
           |  FROM toks, UNNEST(range(len(ws)-1)) AS t(i),
           |    UNNEST(range(1, 4)) AS s(j)
           |  WHERE i + j < len(ws)),
           |e0 AS (SELECT a, b FROM p GROUP BY 1, 2
           |       HAVING count(*) >= 5)""".stripMargin,
        iters = 5)) { (s, d) =>
      val edges =
        graft.ops.Cooccurrence.pairCounts(
            Tables.documents(s, d),
            tokens = Text.words(Text.normalize(col("text"))),
            window = 3)
          .filter(col("n_ab") >= 5)
          .select(col("a"), col("b")).localCheckpoint()
      graft.ops.Graph.pageRankInt(edges, iters = 5)
    },

    // ---- bigram-LM perplexity scoring (ops/LangModel): train on the
    //      corpus, score each doc's mean negative log-likelihood.
    //      Every 0.5 literal is ::DOUBLE in the oracle (DuckDB parses
    //      bare decimals as DECIMAL and its decimal division rounds
    //      differently than IEEE — the measured q_bm25 trap); per-
    //      bigram ln on the 9-grid, then an EXACT decimal sum, so the
    //      doc score is partition-order independent in both engines ----
    sql(
      "q_perplexity",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($NormSql, ' ') AS ws
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, ws[i+1] AS a, ws[i+2] AS b
         |  FROM toks, UNNEST(range(len(ws)-1)) AS t(i)),
         |bc AS (SELECT a, b, count(*) AS n_ab FROM bg GROUP BY 1, 2),
         |ctx AS (SELECT a, sum(n_ab) AS n_a FROM bc GROUP BY 1),
         |v AS (SELECT count(DISTINCT t) AS V FROM (
         |        SELECT a AS t FROM bc UNION ALL SELECT b FROM bc)),
         |sc AS (
         |  SELECT g.doc_id,
         |    round(ln((COALESCE(bc.n_ab, 0) + 0.5::DOUBLE)
         |             / (COALESCE(ctx.n_a, 0) + 0.5::DOUBLE * v.V)), 9)
         |      ::DECIMAL(28,9) AS lnp
         |  FROM bg g LEFT JOIN bc USING (a, b)
         |  LEFT JOIN ctx USING (a), v)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(-(sum(lnp)::DOUBLE) / count(*), 9) AS avg_nll
         |FROM sc GROUP BY 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = Text.words(Text.normalize(col("text")))
      val lm = graft.ops.LangModel.train(docs, "doc_id", toks)
      graft.ops.LangModel.scoreNll(docs, "doc_id", toks, lm, k = 0.5)
    },

    // ---- interpolated Kneser-Ney perplexity (ops/LangModel.scoreKn):
    //      the KenLM-standard smoothing next to the add-k face — the
    //      backoff weighs a token by its CONTINUATION count (distinct
    //      contexts it follows), not its frequency. Same determinism
    //      contract as q_perplexity: per-bigram ln on the 9-grid, exact
    //      decimal sum, literals (0.75, 0.5) binary-exact and ::DOUBLE
    //      in the oracle; the seen-context probability is ONE fraction
    //      so both engines share one association order. Self-scoring
    //      never hits the unseen-context branch (spec'd separately) ----
    sql(
      "q_kn_perplexity",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($NormSql, ' ') AS ws
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, ws[i+1] AS a, ws[i+2] AS b
         |  FROM toks, UNNEST(range(len(ws)-1)) AS t(i)),
         |bc AS (SELECT a, b, count(*) AS n_ab FROM bg GROUP BY 1, 2),
         |ctx AS (SELECT a, sum(n_ab)::BIGINT AS n_a, count(*) AS d_a
         |        FROM bc GROUP BY 1),
         |cont AS (SELECT b, count(*) AS cont_b FROM bc GROUP BY 1),
         |tot AS (
         |  SELECT count(*) AS T,
         |    (SELECT count(DISTINCT t) FROM (
         |       SELECT a AS t FROM bc UNION ALL SELECT b FROM bc)) AS V
         |  FROM bc),
         |sc AS (
         |  SELECT g.doc_id,
         |    round(ln(CASE WHEN ctx.n_a IS NOT NULL THEN
         |        (greatest(COALESCE(bc.n_ab, 0) - 0.75::DOUBLE,
         |                  0.0::DOUBLE)
         |         + 0.75::DOUBLE * ctx.d_a
         |           * ((COALESCE(cont.cont_b, 0) + 0.5::DOUBLE)
         |              / (tot.T + 0.5::DOUBLE * tot.V))) / ctx.n_a
         |      ELSE (COALESCE(cont.cont_b, 0) + 0.5::DOUBLE)
         |           / (tot.T + 0.5::DOUBLE * tot.V) END), 9)
         |      ::DECIMAL(28,9) AS lnp
         |  FROM bg g LEFT JOIN bc USING (a, b)
         |  LEFT JOIN ctx USING (a)
         |  LEFT JOIN cont ON g.b = cont.b, tot)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(-(sum(lnp)::DOUBLE) / count(*), 9) AS avg_nll
         |FROM sc GROUP BY 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = Text.words(Text.normalize(col("text")))
      val lm = graft.ops.LangModel.trainKn(docs, "doc_id", toks)
      graft.ops.LangModel.scoreKn(docs, "doc_id", toks, lm)
    },

    // ---- DSIR-style importance data selection (Xie et al. 2023,
    //      arXiv:2302.03169 — data selection for LMs via importance
    //      resampling): score every doc under a TARGET n-gram LM
    //      (here: the en slice) and the CORPUS LM; the importance
    //      log-ratio log p_target − log p_corpus = corpus_nll −
    //      target_nll ranks docs by target-likeness, and selected =
    //      ratio > 0 is the keep gate. Composes two [[LangModel]]
    //      train/score passes; both avg_nll values are already on the
    //      9-grid, so their IEEE difference is bit-identical across
    //      engines. The oracle replays BOTH LMs from the shared
    //      bigram stream ----
    sql(
      "q_dsir_select",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($NormSql, ' ') AS ws
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, ws[i+1] AS a, ws[i+2] AS b
         |  FROM toks, UNNEST(range(len(ws)-1)) AS t(i)),
         |bgt AS (
         |  SELECT g.* FROM bg g JOIN documents d USING (doc_id)
         |  WHERE d.lang = 'en'),
         |tbc AS (SELECT a, b, count(*) AS n_ab FROM bgt GROUP BY 1, 2),
         |tctx AS (SELECT a, sum(n_ab) AS n_a FROM tbc GROUP BY 1),
         |tv AS (SELECT count(DISTINCT t) AS V FROM (
         |         SELECT a AS t FROM tbc UNION ALL SELECT b FROM tbc)),
         |tsc AS (
         |  SELECT g.doc_id,
         |    round(ln((COALESCE(tbc.n_ab, 0) + 0.5::DOUBLE)
         |             / (COALESCE(tctx.n_a, 0) + 0.5::DOUBLE * tv.V)), 9)
         |      ::DECIMAL(28,9) AS lnp
         |  FROM bg g LEFT JOIN tbc USING (a, b)
         |  LEFT JOIN tctx USING (a), tv),
         |tnll AS (
         |  SELECT doc_id, round(-(sum(lnp)::DOUBLE) / count(*), 9) AS tn
         |  FROM tsc GROUP BY 1),
         |cbc AS (SELECT a, b, count(*) AS n_ab FROM bg GROUP BY 1, 2),
         |cctx AS (SELECT a, sum(n_ab) AS n_a FROM cbc GROUP BY 1),
         |cv AS (SELECT count(DISTINCT t) AS V FROM (
         |         SELECT a AS t FROM cbc UNION ALL SELECT b FROM cbc)),
         |csc AS (
         |  SELECT g.doc_id,
         |    round(ln((COALESCE(cbc.n_ab, 0) + 0.5::DOUBLE)
         |             / (COALESCE(cctx.n_a, 0) + 0.5::DOUBLE * cv.V)), 9)
         |      ::DECIMAL(28,9) AS lnp
         |  FROM bg g LEFT JOIN cbc USING (a, b)
         |  LEFT JOIN cctx USING (a), cv),
         |cnll AS (
         |  SELECT doc_id, round(-(sum(lnp)::DOUBLE) / count(*), 9) AS cn
         |  FROM csc GROUP BY 1)
         |SELECT t.doc_id, d.lang, round(c.cn - t.tn, 9) AS log_ratio,
         |  c.cn - t.tn > 0.0::DOUBLE AS selected
         |FROM tnll t JOIN cnll c USING (doc_id)
         |JOIN documents d USING (doc_id)""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = Text.words(Text.normalize(col("text")))
      val lmT = graft.ops.LangModel.train(
        docs.filter(col("lang") === "en"), "doc_id", toks)
      val lmC = graft.ops.LangModel.train(docs, "doc_id", toks)
      val tn = graft.ops.LangModel.scoreNll(docs, "doc_id", toks, lmT)
        .select(col("doc_id"), col("avg_nll").as("__tn"))
      val cn = graft.ops.LangModel.scoreNll(docs, "doc_id", toks, lmC)
        .select(col("doc_id"), col("avg_nll").as("__cn"))
      tn.join(cn, Seq("doc_id"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"),
          round(col("__cn") - col("__tn"), 9).as("log_ratio"),
          (col("__cn") - col("__tn") > lit(0.0)).as("selected"))
    },

    // ---- inverted index: term → document frequency + sorted postings.
    //      Per-document dedup happens MAP-SIDE (array_distinct before
    //      the explode), so the shuffle carries each (term, doc) once —
    //      at 100 TB the postings build is one aggregation whose only
    //      skew is true stopword df; shard those by (term, bucket) when
    //      a single posting list outgrows a task (documented, not
    //      needed at gate scale) ----
    sql(
      "q_postings",
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(string_split($NormSql, ' '))) AS term
         |  FROM documents)
         |SELECT term, count(*)::BIGINT AS df,
         |  to_json(list_sort(list(doc_id))) AS postings_json
         |FROM toks GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(Text.words(Text.normalize(col("text")))))
            .as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          Canon.js(sort_array(collect_list(col("doc_id"))))
            .as("postings_json"))
    },

    // ---- stable vocabulary ids: frequency-ranked dense token ids via
    //      the range-partitioned global ranker (no single-partition
    //      window) — the word2id table every tokenizer/embedding
    //      pipeline pins; (n DESC, token) is a total order so ids are
    //      reproducible run over run ----
    sql(
      "q_vocab",
      s"""WITH tf AS (
         |  SELECT unnest(string_split($NormSql, ' ')) AS token
         |  FROM documents)
         |SELECT token, count(*)::BIGINT AS n,
         |  row_number() OVER (ORDER BY count(*) DESC, token) AS id
         |FROM tf GROUP BY token""".stripMargin) { (s, d) =>
      graft.ops.Layout.globalRowNumber(
        Tables.documents(s, d)
          .select(explode(Text.words(Text.normalize(col("text"))))
            .as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("n")),
        Seq(col("n").desc, col("token").asc),
        numPartitions = 32, as = "id")
    },

    // ---- distinctive terms per source (round 16): the c-TF-IDF /
    //      BERTopic-style cluster descriptor on an exact integer
    //      grid — lift = (share of token in source) / (share overall)
    //      as ppm, min corpus frequency 10, top-5 per source. One
    //      tokenize pass pinned; the three marginals re-aggregate the
    //      (source, token) counts, never the corpus ----
    sql(
      "q_distinct_terms",
      s"""WITH tf AS (
         |  SELECT source, unnest(string_split($NormSql, ' ')) AS token
         |  FROM documents),
         |sw AS (SELECT source, token, count(*)::BIGINT AS tf_s
         |       FROM tf GROUP BY 1, 2),
         |ts AS (SELECT source, sum(tf_s)::BIGINT AS t_s
         |       FROM sw GROUP BY 1),
         |tt AS (SELECT token, sum(tf_s)::BIGINT AS tfc
         |       FROM sw GROUP BY 1),
         |tot AS (SELECT sum(tf_s)::BIGINT AS t FROM sw),
         |l AS (
         |  SELECT sw.source, sw.token, tf_s,
         |    ((tf_s * (SELECT t FROM tot) * 1000000)
         |      // (ts.t_s * tt.tfc))::BIGINT AS lift_ppm
         |  FROM sw JOIN ts USING (source) JOIN tt USING (token)
         |  WHERE tt.tfc >= 10)
         |SELECT source, token, tf_s, lift_ppm, rn::INTEGER AS rn
         |FROM (SELECT *, row_number() OVER (PARTITION BY source
         |        ORDER BY lift_ppm DESC, token) AS rn FROM l)
         |WHERE rn <= 5""".stripMargin) { (s, d) =>
      val sw = Tables.documents(s, d)
        .select(col("source"),
          explode(Text.words(Text.normalize(col("text")))).as("token"))
        .groupBy(col("source"), col("token"))
        .agg(count(lit(1)).as("tf_s"))
        .localCheckpoint() // three marginals fold THIS, not the corpus
      val ts = sw.groupBy(col("source")).agg(sum(col("tf_s")).as("t_s"))
      val tt = sw.groupBy(col("token")).agg(sum(col("tf_s")).as("tfc"))
        .filter(col("tfc") >= 10)
      val tot = sw.agg(sum(col("tf_s")).as("t"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("lift_ppm").desc, col("token").asc)
      sw.join(broadcast(ts), "source")
        .join(tt, "token")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("token"), col("tf_s"),
          expr("tf_s * t * 1000000L div (t_s * tfc)").as("lift_ppm"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
    },

    // ---- Zipf-law fit per source (corpus-health diagnostic: prose
    //      sits near slope −1, boilerplate flattens, spam steepens):
    //      top-200 term frequencies per source, ln(rank)/ln(freq)
    //      snapped to the integer MICRO grid (the only libm terms —
    //      see Ranking.zipfFit's ulp note), then q_trend_slope's
    //      exact cross-multiplied OLS with ONE final division ----
    sql(
      "q_zipf_slope",
      s"""WITH w AS (
         |  SELECT source, unnest(string_split($NormSql, ' ')) AS w
         |  FROM documents),
         |f AS (SELECT source, w, count(*) AS f FROM w
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |r AS (
         |  SELECT source, f,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY f DESC, w) AS rnk
         |  FROM f),
         |p AS (
         |  SELECT source,
         |    CAST(round(ln(rnk) * 1000000) AS BIGINT)::HUGEINT AS x,
         |    CAST(round(ln(f) * 1000000) AS BIGINT)::HUGEINT AS y
         |  FROM r WHERE rnk <= 200),
         |a AS (SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |        sum(x * y) AS sxy, sum(x * x) AS sxx
         |      FROM p GROUP BY 1)
         |SELECT source, n::BIGINT AS n,
         |  (n * sxy - sx * sy)::VARCHAR AS num,
         |  (n * sxx - sx * sx)::VARCHAR AS den,
         |  round(CAST(n * sxy - sx * sy AS DOUBLE)
         |        / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS slope
         |FROM a
         |WHERE n * sxx - sx * sx <> 0""".stripMargin) { (s, d) =>
      Ranking.zipfFit(
        Tables.documents(s, d).select(col("source"),
          Text.words(Text.normalize(col("text"))).as("w")),
        "source", col("w"), maxRank = 200, minFreq = 2L)
    },

    // ---- exact phrase search over the POSITIONAL postings index:
    //      adjacency-intersected per-term postings (each join side is
    //      one term's postings — predicate pushdown, never a corpus
    //      text rescan); the oracle replays with a positional
    //      list_filter over the token array ----
    sql(
      "q_phrase_search",
      s"""WITH t AS (
         |  SELECT doc_id, string_split($NormSql, ' ') AS ws
         |  FROM documents)
         |SELECT doc_id,
         |  len(list_filter(range(len(ws) - 1),
         |    i -> ws[i+1] = 'hash' AND ws[i+2] = 'join'))::BIGINT
         |    AS n_matches
         |FROM t
         |WHERE len(list_filter(range(len(ws) - 1),
         |  i -> ws[i+1] = 'hash' AND ws[i+2] = 'join')) > 0"""
        .stripMargin) { (s, d) =>
      val postings = Ranking.positionalPostings(
        Tables.documents(s, d), "doc_id",
        Text.words(Text.normalize(col("text"))))
      Ranking.phraseMatches(postings, "doc_id", Seq("hash", "join"))
    },

    // ---- hybrid retrieval: reciprocal-rank fusion of the lexical
    //      (tf-overlap) and dense (snapped-integer dot) top-20 lists
    //      for 4 query docs — exact end-to-end: integer overlap,
    //      integer dot, integer rrf numerator/denominator; only the
    //      final ordering divides ----
    sql(
      "q_rrf_fusion",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split($NormSql, ' ') AS ws
         |  FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
         |    SELECT doc_id, unnest(ws) AS term FROM toks)
         |  GROUP BY 1, 2),
         |qt AS (
         |  SELECT doc_id AS qid, unnest(list_distinct(ws)) AS term
         |  FROM toks WHERE doc_id < 4),
         |lex AS (
         |  SELECT qt.qid, tf.doc_id AS did, sum(tf.tf)::BIGINT AS ov
         |  FROM tf JOIN qt USING (term)
         |  WHERE tf.doc_id <> qt.qid
         |  GROUP BY 1, 2),
         |lexr AS (
         |  SELECT qid, did, r FROM (
         |    SELECT qid, did,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY ov DESC, did) AS r
         |    FROM lex) WHERE r <= 20),
         |eu AS (
         |  SELECT vec_id,
         |    list_transform(embedding::DOUBLE[],
         |                   x -> round(x * 1000000.0)) AS v
         |  FROM embeddings),
         |qs AS (SELECT vec_id AS qid, v FROM eu WHERE vec_id < 4),
         |dot AS (
         |  SELECT qs.qid, e.vec_id AS did,
         |    CAST(list_dot_product(qs.v, e.v) AS BIGINT) AS du
         |  FROM qs JOIN eu e ON e.vec_id <> qs.qid),
         |denr AS (
         |  SELECT qid, did, r FROM (
         |    SELECT qid, did,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY du DESC, did) AS r
         |    FROM dot) WHERE r <= 20),
         |f AS (
         |  SELECT coalesce(l.qid, d.qid) AS query_id,
         |    coalesce(l.did, d.did) AS neighbor_id,
         |    CASE WHEN l.r IS NOT NULL AND d.r IS NOT NULL
         |         THEN (60 + l.r) + (60 + d.r) ELSE 1 END AS rrf_num,
         |    CASE WHEN l.r IS NOT NULL AND d.r IS NOT NULL
         |           THEN (60 + l.r) * (60 + d.r)
         |         WHEN l.r IS NOT NULL THEN 60 + l.r
         |         ELSE 60 + d.r END AS rrf_den
         |  FROM lexr l FULL JOIN denr d
         |    ON l.qid = d.qid AND l.did = d.did)
         |SELECT query_id, neighbor_id, rrf_num, rrf_den, fused_rank
         |FROM (
         |  SELECT query_id, neighbor_id, rrf_num, rrf_den,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_num::DOUBLE / rrf_den DESC, neighbor_id)
         |      AS fused_rank
         |  FROM f)
         |WHERE fused_rank <= 10""".stripMargin) { (s, d) =>
      // tokenize ONCE; the lexical ranker scans it as corpus and
      // (filtered) as the query batch
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          Text.words(Text.normalize(col("text"))).as("__toks"))
        .localCheckpoint()
      val lex = Ranking.lexicalOverlapTopK(
          docs, "doc_id", col("__toks"),
          docs.filter(col("doc_id") < 4), "doc_id", col("__toks"),
          k = 20)
        .select("query_id", "neighbor_id", "rank")
      val eu = Tables.embeddings(s, d)
        .select(col("vec_id"),
          graft.ops.Diversity.snapMicro(col("embedding")).as("__v"))
      val q = broadcast(eu.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("__v").as("__qv")))
      val dense = graft.plans.TopKPerGroup.topK(
          eu.select(col("vec_id").as("neighbor_id"), col("__v"))
            .join(q, col("query_id") =!= col("neighbor_id"))
            .select(col("query_id"), col("neighbor_id"),
              graft.plans.DotProduct.dot(col("__qv"), col("__v"))
                .cast("double").as("__score")),
          Seq("query_id"), "__score", "neighbor_id", k = 20)
        .select("query_id", "neighbor_id", "rank")
      Ranking.rrfFuse(Seq(lex, dense), k = 10)
    },

    // ---- incremental top-k maintenance (round 16): top-k is a merge
    //      monoid under inserts — topk(topk(state) ∪ batch) ==
    //      topk(everything) — so a per-group leaderboard refreshes at
    //      O(batch + k·groups), never re-scanning history. The face
    //      splits orders 2:1 into state and batch and the oracle is
    //      the direct window over ALL orders (merge-law also
    //      property-tested in TopKPerGroupSpec) ----
    sql(
      "q_topk_inc",
      """SELECT o_orderstatus, o_orderkey,
        |  round(o_totalprice, 2) AS price, rn::INTEGER AS rank
        |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3""".stripMargin) { (s, d) =>
      val base = Tables.orders(s, d).select(
        col("o_orderstatus"), col("o_orderkey"),
        col("o_totalprice").cast("double").as("score"))
      val state = graft.plans.TopKPerGroup.topK(
          base.filter(col("o_orderkey") % 3 =!= 0),
          Seq("o_orderstatus"), "score", "o_orderkey", k = 3)
        .drop("rank")
      graft.plans.TopKPerGroup.topK(
          state.unionByName(base.filter(col("o_orderkey") % 3 === 0)),
          Seq("o_orderstatus"), "score", "o_orderkey", k = 3)
        .select(col("o_orderstatus"), col("o_orderkey"),
          round(col("score"), 2).as("price"), col("rank"))
    },

    // ---- Bradley-Terry strength fit (round 17): arena-style player
    //      ranking from pairwise outcomes — the reward-model data
    //      primitive. The fixture pairs adjacent docs (longer text
    //      wins, ties to the later doc) into matches between their
    //      SOURCES; the fit runs 10 exact-ppm MM rounds which the
    //      oracle unrolls as MATERIALIZED CTEs (chained-round oracles
    //      re-inline exponentially otherwise). Every intermediate is
    //      ::BIGINT-cast — DuckDB window/aggregate sums are HUGEINT,
    //      the q_chat_pack bug class the type guard now catches ----
    sql("q_bt_strength", btOracleSql(10)) { (s, d) =>
      val doc = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val m = doc.as("x").join(doc.as("y"),
          expr("y.doc_id = x.doc_id + 1 AND x.doc_id % 2 = 0"))
        .select(col("x.source").as("sa"), col("y.source").as("sb"),
          when(col("x.n_chars") > col("y.n_chars"), col("x.source"))
            .otherwise(col("y.source")).as("w"))
      graft.ops.Ranking.btStrengths(m, "sa", "sb", "w", iters = 10)
        .select(col("player"), col("wins"), col("n_matches"),
          col("strength_ppm"))
    })

  /** The unrolled-MM DuckDB replay of
    * [[graft.ops.Ranking.btStrengths]] over the adjacent-doc match
    * fixture — one materialized CTE pair per round, every aggregate
    * cast back to BIGINT. */
  private def btOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { r =>
      val prev = s"pi${r - 1}"
      s"""t$r AS MATERIALIZED (
         |  SELECT p, sum(t)::BIGINT AS denom FROM (
         |    SELECT c.lo AS p,
         |      (c.n * 1000000000000) // (pl.s + ph.s) AS t
         |    FROM cells c JOIN $prev pl ON c.lo = pl.p
         |      JOIN $prev ph ON c.hi = ph.p
         |    UNION ALL
         |    SELECT c.hi AS p,
         |      (c.n * 1000000000000) // (pl.s + ph.s) AS t
         |    FROM cells c JOIN $prev pl ON c.lo = pl.p
         |      JOIN $prev ph ON c.hi = ph.p)
         |  GROUP BY 1),
         |r$r AS MATERIALIZED (
         |  SELECT w.p,
         |    CASE WHEN coalesce(t.denom, 0) > 0
         |      THEN ((w.wins * 1000000000000) // t.denom)::BIGINT
         |      ELSE pv.s END AS s
         |  FROM wins w LEFT JOIN t$r t ON w.p = t.p
         |    JOIN $prev pv ON w.p = pv.p),
         |pi$r AS MATERIALIZED (
         |  SELECT p, ((s * (SELECT count(*) FROM r$r) * 1000000)
         |    // (SELECT sum(s) FROM r$r)::BIGINT)::BIGINT AS s
         |  FROM r$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH m AS MATERIALIZED (
       |  SELECT least(d1.source, d2.source) AS lo,
       |    greatest(d1.source, d2.source) AS hi,
       |    CASE WHEN d1.n_chars > d2.n_chars
       |      THEN d1.source ELSE d2.source END AS w
       |  FROM documents d1 JOIN documents d2
       |    ON d2.doc_id = d1.doc_id + 1
       |  WHERE d1.doc_id % 2 = 0 AND d1.source <> d2.source),
       |cells AS MATERIALIZED (
       |  SELECT lo, hi, count(*)::BIGINT AS n,
       |    sum(CASE WHEN w = lo THEN 1 ELSE 0 END)::BIGINT AS w_lo
       |  FROM m GROUP BY 1, 2),
       |players AS MATERIALIZED (
       |  SELECT DISTINCT p FROM (
       |    SELECT lo AS p FROM cells
       |    UNION ALL SELECT hi FROM cells)),
       |wins AS MATERIALIZED (
       |  SELECT p, sum(w)::BIGINT AS wins,
       |    sum(n)::BIGINT AS n_matches FROM (
       |    SELECT lo AS p, w_lo AS w, n FROM cells
       |    UNION ALL SELECT hi, n - w_lo, n FROM cells)
       |  GROUP BY 1),
       |pi0 AS MATERIALIZED (
       |  SELECT p, 1000000::BIGINT AS s FROM players),
       |$rounds
       |SELECT w.p AS player, w.wins, w.n_matches,
       |  pi.s AS strength_ppm
       |FROM wins w JOIN pi$iters pi ON w.p = pi.p""".stripMargin
  }
}
