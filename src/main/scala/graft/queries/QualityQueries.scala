package graft.queries

import graft.core.{QueryDef, Tables}
import graft.ops.{Linkage, Quality}
import graft.ops.Quality.Check._
import org.apache.spark.sql.functions._

/** Data-quality gate faces ([[graft.ops.Quality]]): the pre-promotion
  * expectation report over a batch — fused single-scan row checks plus
  * a referential anti-join — exactly replayable in DuckDB, so every
  * count (including the deliberately-failing range gate) hash-checks.
  */
object QualityQueries {
  import QueryDef.sql

  val defs: Seq[QueryDef] = Seq(

    // ---- the gate report: 5 fused checks in ONE scan of lineitem +
    //      one anti-join FK probe against orders. in_range is tuned to
    //      FAIL (quantity caps at 50) so the face proves the report
    //      distinguishes pass from fail, not just that zeros agree ----
    sql(
      "q_expectations",
      """WITH a AS (
        |  SELECT count(*)::BIGINT AS n,
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS b0,
        |    sum(CASE WHEN l_returnflag IS NOT NULL
        |             AND l_returnflag NOT IN ('A','N','R')
        |        THEN 1 ELSE 0 END)::BIGINT AS b1,
        |    sum(CASE WHEN l_quantity IS NOT NULL
        |             AND (l_quantity < 1 OR l_quantity > 49)
        |        THEN 1 ELSE 0 END)::BIGINT AS b2,
        |    sum(CASE WHEN l_linestatus IS NOT NULL
        |             AND NOT regexp_matches(l_linestatus, '^[OF]$')
        |        THEN 1 ELSE 0 END)::BIGINT AS b3,
        |    (count(*)
        |     - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT AS b4
        |  FROM lineitem),
        |f AS (SELECT
        |    (SELECT count(*) FROM lineitem)::BIGINT AS n,
        |    (SELECT count(*) FROM lineitem l
        |       LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |         ON l.l_orderkey = o.o_orderkey
        |     WHERE o.o_orderkey IS NULL)::BIGINT AS b)
        |SELECT * FROM (
        |  SELECT 'not_null:l_orderkey' AS "check", n AS n_rows,
        |         b0 AS n_bad, b0 = 0 AS passed FROM a
        |  UNION ALL SELECT 'in_set:l_returnflag', n, b1, b1 = 0 FROM a
        |  UNION ALL SELECT 'in_range:l_quantity', n, b2, b2 = 0 FROM a
        |  UNION ALL SELECT 'matches:l_linestatus', n, b3, b3 = 0 FROM a
        |  UNION ALL SELECT 'unique:l_orderkey,l_linenumber', n, b4, b4 = 0
        |    FROM a
        |  UNION ALL SELECT 'fk:l_orderkey->o_orderkey', n, b, b = 0 FROM f)
        |ORDER BY "check"""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      Quality.expectations(li, Seq(
          NotNull("l_orderkey"),
          InSet("l_returnflag", Seq("A", "N", "R")),
          InRange("l_quantity", 1, 49),
          Matches("l_linestatus", "^[OF]$"),
          Unique(Seq("l_orderkey", "l_linenumber"))))
        .unionByName(Quality.fkOrphans(
          li, Seq("l_orderkey"), Tables.orders(s, d), Seq("o_orderkey")))
        .orderBy("check")
    },

    // ---- functional-dependency checks (round 16): one FD that holds
    //      (nation key determines region) and one that is violated
    //      (customers of a nation span market segments) — the report
    //      proves the checker distinguishes the two ----
    sql(
      "q_fd_check",
      """SELECT 'n_nationkey->n_regionkey' AS fd,
        |  count(*)::BIGINT AS n_keys,
        |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_violating_keys,
        |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
        |FROM (SELECT n_nationkey, count(DISTINCT n_regionkey) AS nb
        |      FROM nation GROUP BY 1)
        |UNION ALL
        |SELECT 'c_nationkey->c_mktsegment',
        |  count(*)::BIGINT,
        |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0
        |FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nb
        |      FROM customer GROUP BY 1)""".stripMargin) { (s, d) =>
      Quality.fdCheck(Tables.nation(s, d), "n_nationkey", "n_regionkey")
        .unionByName(Quality.fdCheck(
          Tables.customer(s, d), "c_nationkey", "c_mktsegment"))
    },

    // ---- golden-record survivorship (round 16): blocking-key
    //      clusters (first two normalized words — the q_chat_dedup
    //      prompt-key device, chosen BECAUSE it yields real
    //      multi-member clusters at the correctness SF, so the modal
    //      vote and its tie-break are actually exercised) collapse to
    //      one canonical record — rep = min member id, per-field
    //      canonical = modal value with ties to the smallest value,
    //      nulls never voting ----
    sql(
      "q_golden_record",
      s"""WITH b AS (
         |  SELECT doc_id, lang, source,
         |    regexp_extract(${TextQueries.NormSql},
         |      '^(\\S+\\s+\\S+)', 1) AS c
         |  FROM documents),
         |core AS (
         |  SELECT c, min(doc_id)::BIGINT AS rep_id,
         |    count(*)::BIGINT AS n_members
         |  FROM b GROUP BY 1),
         |lc AS (
         |  SELECT c, lang AS lang_canon FROM (
         |    SELECT c, lang, row_number() OVER (PARTITION BY c
         |      ORDER BY count(*) DESC, lang ASC) AS rn
         |    FROM b WHERE lang IS NOT NULL GROUP BY c, lang)
         |  WHERE rn = 1),
         |sc AS (
         |  SELECT c, source AS source_canon FROM (
         |    SELECT c, source, row_number() OVER (PARTITION BY c
         |      ORDER BY count(*) DESC, source ASC) AS rn
         |    FROM b WHERE source IS NOT NULL GROUP BY c, source)
         |  WHERE rn = 1)
         |SELECT rep_id, n_members, lang_canon, source_canon
         |FROM core LEFT JOIN lc USING (c)
         |LEFT JOIN sc USING (c)""".stripMargin) { (s, d) =>
      Quality.survivorship(
          Tables.documents(s, d), "doc_id",
          regexp_extract(graft.ops.Text.normalize(col("text")),
            "^(\\S+\\s+\\S+)", 1),
          Seq("lang", "source"))
        .select("rep_id", "n_members", "lang_canon", "source_canon")
    },

    // ---- Fellegi-Sunter unsupervised linkage fit (round 16): EM on
    //      the agreement-pattern table of blocked document pairs
    //      (block = first two normalized words, the q_golden_record
    //      device — real multi-member clusters) — fields lang /
    //      source / length-band. The whole fit is ppm integer
    //      arithmetic (truncating div after every product) so the
    //      oracle replays the EXACT fixpoint: one CTE pair per
    //      iteration, bit-identical parameters out ----
    sql("q_fs_em", fsEmOracle) { (s, d) =>
      Linkage.fsFit(fsPairs(s, d), FsCols, iters = FsIters)
    },

    // ---- the FS decision rule on the fitted model: every observed
    //      pattern scored by its posterior and triaged match /
    //      possible / non_match (hi = 0.8 so the fixture exercises
    //      all three branches). The pattern table IS the pair-level
    //      classifier (broadcast-join it back on the agreement
    //      vector); emitting it keeps the face corpus-size-free ----
    sql("q_fs_score", fsScoreOracle) { (s, d) =>
      Linkage.fsScore(fsPairs(s, d), FsCols, iters = FsIters,
        hiPpm = 800000L)
    },

    // ---- incremental FS model maintenance (round 16): pair batches
    //      fold into ≤2^F·16 bytes of pattern-count state and the EM
    //      refits from that state at O(iters·2^F) — the fitted model
    //      must equal the full q_fs_em fit bit-for-bit, so the oracle
    //      IS q_fs_em's EM chain ----
    // ---- Benford first-digit audit (round 16): the fraud/synthetic-
    //      data screen — first significant digits of order totals vs
    //      Benford's log10(1+1/d), shipped as PUBLISHED ppm constants
    //      (no runtime libm in either engine). Deviation per digit on
    //      the exact integer grid; the `flagged` column (dev_ppm over
    //      the published gate) makes the audit actionable ----
    sql(
      "q_benford",
      s"""WITH c AS (
         |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |  FROM orders WHERE o_totalprice > 0),
         |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1)
         |        AS BIGINT) AS digit FROM c),
         |n AS (SELECT count(*)::BIGINT AS total FROM d),
         |g AS (SELECT digit, count(*)::BIGINT AS n_obs
         |      FROM d GROUP BY 1),
         |b AS ($BenfordCte)
         |SELECT b.digit, coalesce(g.n_obs, 0)::BIGINT AS n_obs,
         |  ((coalesce(g.n_obs, 0) * 1000000)
         |    // (SELECT total FROM n))::BIGINT AS share_ppm,
         |  b.benford_ppm,
         |  abs((coalesce(g.n_obs, 0) * 1000000)
         |      // (SELECT total FROM n) - b.benford_ppm)::BIGINT
         |    AS dev_ppm,
         |  abs((coalesce(g.n_obs, 0) * 1000000)
         |      // (SELECT total FROM n) - b.benford_ppm)
         |    > $BenfordDevGatePpm AS flagged
         |FROM b LEFT JOIN g USING (digit)""".stripMargin) { (s, d) =>
      val cents = Tables.orders(s, d)
        .filter(col("o_totalprice") > 0)
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      val digits = cents.select(
        substring(col("cents").cast("string"), 1, 1).cast("long")
          .as("digit"))
      val obs = digits.groupBy(col("digit"))
        .agg(count(lit(1)).as("n_obs"))
      val total = digits.agg(count(lit(1)).as("total"))
      val s2 = s
      import s2.implicits._
      val bench = broadcast(BenfordPpm.toDF("digit", "benford_ppm"))
      bench.join(obs, Seq("digit"), "left")
        .crossJoin(broadcast(total))
        .select(col("digit"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"),
          expr("coalesce(n_obs, 0) * 1000000L div total").as("share_ppm"),
          col("benford_ppm"),
          abs(expr("coalesce(n_obs, 0) * 1000000L div total")
            - col("benford_ppm")).as("dev_ppm"),
          (abs(expr("coalesce(n_obs, 0) * 1000000L div total")
            - col("benford_ppm")) > BenfordDevGatePpm).as("flagged"))
    },

    // ---- the entity-resolution capstone (round 16): the full
    //      unsupervised linkage pipeline in one face — blocked pairs
    //      → EM fit → FS match decisions → connected components →
    //      entity roll-up. The oracle replays the EM chain, keeps
    //      the pairs whose pattern posterior clears the threshold,
    //      and closes them with the recursive min-reachability CTE ----
    sql("q_linkage_pipeline", fsPipelineOracle) { (s, d) =>
      val matched = Linkage.fsMatchPairs(
        fsPairs(s, d), FsCols, iters = FsIters, hiPpm = 500000L)
      val lab = graft.ops.Graph.connectedComponents(
        matched.select(col("ida").as("a"), col("idb").as("b")))
      val sizes = lab.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
      lab.join(sizes, "component")
        .select(col("node").as("doc_id"),
          col("component").as("entity_id"), col("n_members"))
    },

    sql("q_fs_em_stream", fsEmOracle) { (s, d) =>
      Linkage.paramsFrame(s, FsCols,
        Linkage.emFit(
          graft.streaming.EventStream.readFsPatterns(
            s, fsStoreDir(s, d), FsCols.size),
          iters = FsIters))
    })

  /** Benford's law P(d) = log10(1 + 1/d) on the ppm grid — published
    * constants (Benford 1938), identical literals in both engines. */
  private lazy val BenfordPpm: Seq[(Long, Long)] = Seq(
    1L -> 301030L, 2L -> 176091L, 3L -> 124939L, 4L -> 96910L,
    5L -> 79181L, 6L -> 66947L, 7L -> 57992L, 8L -> 51153L,
    9L -> 45757L)

  /** Actionability gate for the Benford audit: a digit whose observed
    * share deviates from Benford by more than this many ppm is
    * `flagged` — 15000 ppm (1.5 points of share) is a coarse screen;
    * a real audit tunes the gate to corpus size (the sampling noise
    * on a share is ~sqrt(p/n)). Identical literal in both engines. */
  private val BenfordDevGatePpm: Long = 15000L

  private lazy val BenfordCte: String =
    BenfordPpm.map { case (d, p) =>
      s"SELECT ${d}::BIGINT AS digit, ${p}::BIGINT AS benford_ppm"
    }.mkString("\n      | UNION ALL ")

  // ===== Fellegi-Sunter fixture + oracle generation =====

  private def FsIters = 5
  private lazy val FsCols = Seq("g_lang", "g_src", "g_len")

  /** Blocked candidate pairs over `documents`: block = first two
    * normalized words (the q_golden_record key — real multi-member
    * near-dup clusters at the correctness SF), agreement bits on
    * lang, source (both null-safe) and the 100-char length band.
    * One shuffle join within blocks, never all-pairs. */
  private def fsPairs(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val pr = Tables.documents(s, d).select(
      col("doc_id"), col("lang"), col("source"),
      expr("n_chars div 100").as("band"),
      regexp_extract(graft.ops.Text.normalize(col("text")),
        "^(\\S+\\s+\\S+)", 1).as("blk"))
    val a = pr.columns.foldLeft(pr)((f, c) => f.withColumnRenamed(c, "a_" + c))
    val b = pr.columns.foldLeft(pr)((f, c) => f.withColumnRenamed(c, "b_" + c))
    a.join(b,
        col("a_blk") === col("b_blk") &&
          col("a_doc_id") < col("b_doc_id"))
      .select(
        col("a_doc_id").as("ida"), col("b_doc_id").as("idb"),
        (col("a_lang") <=> col("b_lang")).cast("int").as("g_lang"),
        (col("a_source") <=> col("b_source")).cast("int").as("g_src"),
        (col("a_band") <=> col("b_band")).cast("int").as("g_len"),
        // pair-batch split key for the incremental face; harmless to
        // the batch faces (patternCounts groups on the g cols only)
        ((col("a_doc_id") + col("b_doc_id")) % 3).as("sp"))
  }

  /** Build-once cache for the incremental-FS face: the SAME candidate
    * pairs fold through [[graft.streaming.EventStream.fsPatternSink]]
    * in three micro-batches; count addition makes the stored pattern
    * table equal one aggregation over all pairs, so the EM refit from
    * state must equal q_fs_em exactly (same oracle). */
  private def fsStoreDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("fs_patterns", d) { dir =>
      val pairs = fsPairs(s, d).localCheckpoint()
      (0 until 3).foreach { b =>
        graft.streaming.EventStream.fsPatternSink(dir, FsCols)(
          pairs.filter(col("sp") === b), b.toLong)
      }
    }

  /** Pair + pattern-count + ppm-share CTEs (the SQL twin of
    * [[fsPairs]] + `Linkage.patternCounts` + the share grid). */
  private lazy val fsPatSql =
    s"""pr AS (
      |  SELECT doc_id, lang, source, n_chars // 100 AS band,
      |    regexp_extract(${TextQueries.NormSql},
      |      '^(\\S+\\s+\\S+)', 1) AS blk
      |  FROM documents),
      |pb AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb,
      |         CASE WHEN a.lang IS NOT DISTINCT FROM b.lang
      |           THEN 1 ELSE 0 END AS g1,
      |         CASE WHEN a.source IS NOT DISTINCT FROM b.source
      |           THEN 1 ELSE 0 END AS g2,
      |         CASE WHEN a.band IS NOT DISTINCT FROM b.band
      |           THEN 1 ELSE 0 END AS g3
      |  FROM pr a JOIN pr b
      |    ON a.blk = b.blk AND a.doc_id < b.doc_id),
      |pat AS (
      |  SELECT g1, g2, g3, count(*)::BIGINT AS n
      |  FROM pb GROUP BY 1, 2, 3),
      |nh AS (
      |  SELECT g1, g2, g3,
      |    ((n * 1000000) // greatest((SELECT sum(n) FROM pat), 1))::BIGINT
      |      AS nh
      |  FROM pat)""".stripMargin

  /** prior·Π factor with per-step renormalization — the exact nesting
    * `Linkage.classLikelihood` computes. */
  private def fsNest(base: String, rates: Seq[(String, String)]): String =
    rates.foldLeft(base) { case (acc, (g, r)) =>
      s"(($acc * (CASE WHEN $g = 1 THEN $r ELSE 1000000 - $r END))" +
        " // 1000000)"
    }

  private def fsPmPu(src: String): (String, String) = (
    fsNest(s"$src.lam", Seq(("g1", s"$src.m1"), ("g2", s"$src.m2"),
      ("g3", s"$src.m3"))),
    fsNest(s"(1000000 - $src.lam)", Seq(("g1", s"$src.u1"),
      ("g2", s"$src.u2"), ("g3", s"$src.u3"))))

  /** p0 (init) + one (w_k, p_k) CTE pair per EM iteration. */
  private def fsEmCtes(iters: Int): String = {
    val init =
      """p0 AS (SELECT 100000::BIGINT AS lam,
        |  900000::BIGINT AS m1, 900000::BIGINT AS m2, 900000::BIGINT AS m3,
        |  100000::BIGINT AS u1, 100000::BIGINT AS u2, 100000::BIGINT AS u3)"""
        .stripMargin
    val steps = (1 to iters).map { k =>
      val (pm, pu) = fsPmPu("p")
      val ms = (1 to 3).map(i =>
        s"((sum(CASE WHEN g$i = 1 THEN nh * w ELSE 0 END) * 1000000)" +
          s" // greatest(sum(nh * w), 1))::BIGINT AS m$i")
      val us = (1 to 3).map(i =>
        s"((sum(CASE WHEN g$i = 1 THEN nh * (1000000 - w) ELSE 0 END)" +
          s" * 1000000) // greatest(sum(nh * (1000000 - w)), 1))::BIGINT" +
          s" AS u$i")
      s"""w$k AS (
         |  SELECT g1, g2, g3, nh,
         |    ((pm * 1000000) // greatest(pm + pu, 1))::BIGINT AS w
         |  FROM (SELECT g1, g2, g3, nh, $pm AS pm, $pu AS pu
         |        FROM nh CROSS JOIN p${k - 1} p)),
         |p$k AS (
         |  SELECT
         |    (sum(nh * w)
         |      // greatest((SELECT sum(nh) FROM nh), 1))::BIGINT AS lam,
         |    ${(ms ++ us).mkString(",\n    ")}
         |  FROM w$k)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  private lazy val fsEmOracle = {
    val p = s"p$FsIters"
    s"""WITH $fsPatSql,
       |${fsEmCtes(FsIters)}
       |SELECT param, ppm FROM (
       |  SELECT 'lambda' AS param, lam AS ppm FROM $p
       |  UNION ALL SELECT 'm_g_lang', m1 FROM $p
       |  UNION ALL SELECT 'u_g_lang', u1 FROM $p
       |  UNION ALL SELECT 'm_g_src', m2 FROM $p
       |  UNION ALL SELECT 'u_g_src', u2 FROM $p
       |  UNION ALL SELECT 'm_g_len', m3 FROM $p
       |  UNION ALL SELECT 'u_g_len', u3 FROM $p)""".stripMargin
  }

  private lazy val fsPipelineOracle = {
    val (pm, pu) = fsPmPu("p")
    s"""WITH RECURSIVE $fsPatSql,
       |${fsEmCtes(FsIters)},
       |sc AS (
       |  SELECT g1, g2, g3,
       |    ((pm * 1000000) // greatest(pm + pu, 1))::BIGINT AS w
       |  FROM (SELECT g1, g2, g3, $pm AS pm, $pu AS pu
       |        FROM (SELECT DISTINCT g1, g2, g3 FROM pat)
       |        CROSS JOIN p$FsIters p)),
       |me AS (
       |  SELECT ida, idb FROM pb JOIN sc USING (g1, g2, g3)
       |  WHERE w >= 500000),
       |sym AS (SELECT ida AS a, idb AS b FROM me
       |        UNION SELECT idb, ida FROM me),
       |nodes AS (SELECT DISTINCT a AS v FROM sym),
       |cc AS (
       |  SELECT v, v AS m FROM nodes
       |  UNION
       |  SELECT s.b AS v, cc.m FROM sym s JOIN cc ON s.a = cc.v),
       |lab AS (SELECT v AS doc_id, min(m) AS entity_id
       |        FROM cc GROUP BY 1),
       |sz AS (SELECT entity_id, count(*)::BIGINT AS n_members
       |       FROM lab GROUP BY 1)
       |SELECT doc_id, entity_id, n_members
       |FROM lab JOIN sz USING (entity_id)""".stripMargin
  }

  private lazy val fsScoreOracle = {
    val (pm, pu) = fsPmPu("p")
    s"""WITH $fsPatSql,
       |${fsEmCtes(FsIters)},
       |sc AS (
       |  SELECT g1, g2, g3,
       |    ((pm * 1000000) // greatest(pm + pu, 1))::BIGINT AS w
       |  FROM (SELECT g1, g2, g3, $pm AS pm, $pu AS pu
       |        FROM (SELECT DISTINCT g1, g2, g3 FROM pat)
       |        CROSS JOIN p$FsIters p))
       |SELECT CAST(g1 AS VARCHAR) || CAST(g2 AS VARCHAR)
       |    || CAST(g3 AS VARCHAR) AS pattern,
       |  n AS n_pairs, w AS posterior_ppm,
       |  CASE WHEN w >= 800000 THEN 'match'
       |       WHEN w <= 10000 THEN 'non_match'
       |       ELSE 'possible' END AS decision
       |FROM sc JOIN pat USING (g1, g2, g3)""".stripMargin
  }
}
