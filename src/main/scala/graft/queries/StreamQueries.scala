package graft.queries

import graft.core.{QueryDef, Tables}
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** Batch face of the streaming transforms: the same `hourlyStats` plan
  * that runs behind readStream is oracle-checked here over the events
  * table (event-time window → DuckDB date_trunc).
  */
object StreamQueries {
  import QueryDef.sql

  val defs: Seq[QueryDef] = Seq(
    sql(
      "q_event_windows",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      EventStream.hourlyStats(Tables.events(s, d))
    },

    // ---- sliding windows: 10-minute windows every 5 minutes — each
    //      event lands in exactly two; the oracle reconstructs the
    //      window fan-out with a two-branch union of 5-minute buckets ----
    sql(
      "q_event_sliding",
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL 5 MINUTES, CAST(ts AS TIMESTAMP))
        |           AS win_start, event_type, value FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL 5 MINUTES, CAST(ts AS TIMESTAMP))
        |           - INTERVAL 5 MINUTES, event_type, value FROM events)
        |SELECT win_start, win_start + INTERVAL 10 MINUTES AS win_end,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 3""".stripMargin) { (s, d) =>
      EventStream.slidingStats(Tables.events(s, d))
    },

    // ---- interval join: purchases paired with the same user's
    //      clicks in the preceding hour (batch face of the bounded
    //      stream-stream join; streaming face in EventStreamSpec) ----
    sql(
      "q_interval_join",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  c.event_id AS click_id,
        |  round(c.value, 2) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR
        |  AND c.ts <= p.ts""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), col("value"))
      EventStream.intervalJoin(
          purchases, clicks, "user_id", "ts", "click_ts", "1 HOUR")
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          round(col("value"), 2).as("click_value"))
    },

    // ---- LEFT-OUTER interval join (round 16): every purchase
    //      survives, clickless ones with nulls — the watermark-gated
    //      null-emission shape in streaming (EventStreamSpec drives
    //      the unmatched-left case); in batch one equi-shuffle plus
    //      the range filter, null-padded ----
    sql(
      "q_interval_join_outer",
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  c.event_id AS click_id,
        |  round(c.value, 2) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR
        |  AND c.ts <= p.ts""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), col("value"))
      EventStream.intervalJoinOuter(
          purchases, clicks, "user_id", "ts", "click_ts", "1 HOUR")
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          round(col("value"), 2).as("click_value"))
    },

    // ---- stream-static enrichment: events broadcast-joined with the
    //      customer dimension (streaming face in EventStreamSpec) ----
    sql(
      "q_stream_enrich",
      """SELECT event_id, user_id, event_type,
        |  c_mktsegment AS segment
        |FROM events LEFT JOIN customer ON user_id = c_custkey"""
        .stripMargin) { (s, d) =>
      EventStream.enrichWithDim(
          Tables.events(s, d),
          Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment").as("segment")),
          "user_id", "c_custkey")
        .select("event_id", "user_id", "event_type", "segment")
    },

    // session_window semantics (measured, pinned in EventStreamSpec):
    // an event at exactly last + gap still EXTENDS the session — only
    // diff > gap starts a new one; session_end = last event + gap. The
    // oracle reconstructs sessions with lag + running sum.
    sql(
      "q_event_sessions",
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id,
        |  CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
        |  count(*) AS n_events
        |FROM sessions GROUP BY user_id, sid""".stripMargin) { (s, d) =>
      EventStream.sessionStats(Tables.events(s, d), "30 minutes")
    },

    // ---- streaming near-dup-aware ingest: the documents corpus
    //      arrives as three micro-batches (doc_id % 3); each batch is
    //      MinHash-banded, screened against the accumulated accepted
    //      band state, survivors appended. Deterministic hash chains
    //      over static data -> committed GenGoldens snapshot over the
    //      correctness SF (DuckDB cannot replay minhash banding) ----
    sql(
      "q_stream_ingest",
      s"""SELECT doc_id::BIGINT AS doc_id
         |FROM read_csv('${SourceQueries.FixtureDir}/golden_stream_ingest.tsv',
         |  delim='\\t', header=true, all_varchar=true)""".stripMargin) {
      (s, d) =>
        EventStream.readAccepted(s, ingestDir(s, d)).select("doc_id")
    },

    // ---- streaming conversation assembly: turns arrive in three
    //      micro-batches SPLIT BY TURN INDEX (every conversation
    //      spans all batches); chatRenderSink re-renders only the
    //      touched buckets per batch, and the converged snapshot must
    //      equal ONE batch render over all turns — exactly the
    //      q_chat_render oracle ----
    sql(
      "q_chat_stream_render",
      ChatQueries.RenderOracle) { (s, d) =>
      EventStream.readChatRendered(s, chatRenderDir(s, d))
    },

    // ---- streaming KMV: three id micro-batches folded into k·8
    //      bytes of state; mergeability makes the fold EQUAL one
    //      sketch over the union, which the oracle recomputes ----
    sql(
      "q_kmv_stream",
      """WITH h AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(doc_id::VARCHAR),
        |    1, 15) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
        |kk AS (
        |  SELECT count(*)::BIGINT AS n_sketch, max(hv)::BIGINT AS kth_hv
        |  FROM r WHERE rn <= 128)
        |SELECT n_sketch, kth_hv,
        |  round(CASE WHEN n_sketch < 128 THEN n_sketch::DOUBLE
        |    ELSE 127.0 * power(2, 60) / kth_hv END, 6) AS est_distinct
        |FROM kk""".stripMargin) { (s, d) =>
      graft.ops.Kmv.estimateFromSketch(
        EventStream.readKmvMins(s, kmvDir(s, d)), k = 128)
    },

    // ---- streaming log-histogram: three value micro-batches folded
    //      into a ≤1024-row bucket table (counts ADD — the batch-id
    //      guard is what makes the fold exactly-once); the converged
    //      state answers quantiles equal to one sketch over the whole
    //      history, which the oracle recomputes directly ----
    sql(
      "q_loghist_stream",
      AnalyticsQueries.logHistOracleSql(
        "SELECT 'all' AS g, n_chars AS v FROM documents")) { (s, d) =>
      graft.ops.LogHist.quantiles(
        EventStream.readLogHistState(s, logHistDir(s, d))
          .select(lit("all").as("g"), col("bucket"), col("n")),
        Seq("g"), AnalyticsQueries.LogHistQs)
    },

    // ---- streaming CUSUM: the events table replayed as three
    //      time-ordered micro-batches with ONE long of carried state
    //      per key — the fold must equal one batch CUSUM over the
    //      whole history, which is exactly the oracle below ----
    sql(
      "q_stream_cusum",
      """WITH v AS (
        |  SELECT event_id, event_type, ts,
        |    CAST(round(value * 100) AS BIGINT) - 6000 AS y
        |  FROM events),
        |c1 AS (
        |  SELECT event_id, event_type, ts,
        |    sum(y) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS cs
        |  FROM v),
        |c2 AS (
        |  SELECT event_id, event_type, cs,
        |    min(cs) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS smin
        |  FROM c1)
        |SELECT event_id, event_type,
        |  (cs - least(smin, 0))::BIGINT AS s_u,
        |  cs - least(smin, 0) > 50000 AS alarm
        |FROM c2""".stripMargin) { (s, d) =>
      EventStream.readCusumScored(s, cusumDir(s, d))
        .select("event_id", "event_type", "s_u", "alarm")
    },

    // ---- streaming clustering maintenance: the co-purchase edge set
    //      arrives as three micro-batches ((a+b)%3) folded through
    //      componentSink's incremental-CC + atomic snapshot publish;
    //      the final state must equal ONE full CC over the union —
    //      which is exactly what the oracle recomputes ----
    sql(
      "q_stream_components",
      s"""WITH RECURSIVE e0 AS (
         |  SELECT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey
         |   AND l1.l_partkey < l2.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         |nodes AS (SELECT DISTINCT a AS v FROM sym),
         |cc AS (
         |  SELECT v, v AS m FROM nodes
         |  UNION
         |  SELECT s.b AS v, cc.m FROM sym s JOIN cc ON s.a = cc.v)
         |SELECT v AS node, min(m) AS component FROM cc
         |GROUP BY 1""".stripMargin) { (s, d) =>
      EventStream.readSnapshot(s, componentsDir(s, d))
    },

    // ---- the STORE-backed streaming clustering sink: the same three
    //      micro-batches folded through componentStoreSink into a
    //      GraphStore (per-batch writes = the dim-sized rebase table +
    //      new-node buckets, never the accumulated snapshot); the
    //      resolved read view must equal the SAME full-CC oracle ----
    sql(
      "q_stream_components_store",
      s"""WITH RECURSIVE e0 AS (
         |  SELECT l1.l_partkey AS a, l2.l_partkey AS b
         |  FROM lineitem l1 JOIN lineitem l2
         |    ON l1.l_orderkey = l2.l_orderkey
         |   AND l1.l_partkey < l2.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 3),
         |sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
         |nodes AS (SELECT DISTINCT a AS v FROM sym),
         |cc AS (
         |  SELECT v, v AS m FROM nodes
         |  UNION
         |  SELECT s.b AS v, cc.m FROM sym s JOIN cc ON s.a = cc.v)
         |SELECT v AS node, min(m) AS component FROM cc
         |GROUP BY 1""".stripMargin) { (s, d) =>
      graft.ops.GraphStore.read(s, s"${componentsStoreDir(s, d)}/store")
    },

    // ---- SEEDED EPOCH ORDER over the STREAMED store: the same
    //      (seed, epoch) permutation contract as the batch export,
    //      computed over the stream's committed rows — arrival order
    //      and compaction layout cannot move a position, so the
    //      oracle replays every global position from the one-shot
    //      corpus ----
    sql(
      "q_epoch_order_stream",
      """WITH k AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |      AS BIGINT) % 4 AS shard
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, shard,
        |    CAST('0x' || substr(md5('11:5:' || shard::VARCHAR), 1, 8)
        |      AS BIGINT) AS sdraw,
        |    CAST('0x' || substr(md5('11:5:' || doc_id::VARCHAR), 1, 8)
        |      AS BIGINT) AS rdraw
        |  FROM k)
        |SELECT doc_id, shard::INT AS shard,
        |  row_number() OVER (ORDER BY sdraw, shard, rdraw, doc_id)
        |    ::BIGINT AS epoch_pos
        |FROM d""".stripMargin) { (s, d) =>
      graft.sources.Export.epochOrderOf(
          EventStream.readStreamShards(s, exportStreamDir(s, d))
            .select(col("doc_id"), col("shard")),
          "doc_id", seed = 11L, epoch = 5)
        .select(col("doc_id"), col("shard"), col("epoch_pos"))
    },

    // ---- STREAMING sharded export in LOADER-CONSUMABLE gzip jsonl
    //      (format="json"): same 3-batch fold, mid-stream compaction
    //      forced (threshold 2), and the read-back recompute goes
    //      through the gzip JSON-lines files themselves — so the
    //      encode, the format-dispatched read AND the compacted
    //      layout all replay against the one-shot relational
    //      oracle ----
    sql(
      "q_stream_export_jsonl",
      """WITH s AS (
        |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |      AS BIGINT) % 5 AS shard,
        |    octet_length(encode(text))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
        |      || chr(1) || coalesce(text, chr(2))),
        |      1, 8) AS BIGINT) AS c
        |  FROM documents)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.sources.Export
      val dir = exportStreamJsonlDir(s, d)
      val manifest = EventStream.readStreamShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = Export.shardAggregates(
          EventStream.readStreamShards(s, dir)
            .select(col("doc_id").cast("long").as("doc_id"),
              col("text"), col("shard")),
          octet_length(col("text")), Seq("doc_id", "text"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- STREAMING sharded export: the documents corpus replayed as
    //      three micro-batches through exportShardsSink (per-batch
    //      shard appends + an associatively-folded cumulative
    //      manifest). Arrival order cannot move a row's shard (the md5
    //      draw) or any manifest sum, so the folded manifest AND a
    //      read-back recompute over the committed batch dirs must both
    //      equal the one-shot relational replay over the whole
    //      corpus ----
    sql(
      "q_stream_export",
      """WITH s AS (
        |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |      AS BIGINT) % 4 AS shard,
        |    octet_length(encode(text))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
        |      || chr(1) || coalesce(text, chr(2))),
        |      1, 8) AS BIGINT) AS c
        |  FROM documents)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.sources.Export
      val dir = exportStreamDir(s, d)
      val manifest = EventStream.readStreamShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = Export.shardAggregates(
          EventStream.readStreamShards(s, dir),
          octet_length(col("text")), Seq("doc_id", "text"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    })

  /** Build-once cache for the jsonl streamed-export face: the same
    * three deterministic micro-batches, format="json", with the
    * compaction threshold low enough (2) that the committed layout
    * the face reads back is the COMPACTED one. */
  private[queries] def exportStreamJsonlDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("stream_export_jsonl", d) { dir =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text")).localCheckpoint()
      (0 until 3).foreach { b =>
        EventStream.exportShardsSink(dir, 5, col("doc_id"),
          octet_length(col("text")), Seq("doc_id", "text"),
          compactAtDirs = 2, format = "json")(
          docs.filter(col("doc_id") % 3 === b), b.toLong)
      }
    }

  /** Build-once cache for the streamed-export face: documents replayed
    * as three deterministic micro-batches (doc_id mod 3) through
    * [[EventStream.exportShardsSink]]. */
  private[queries] def exportStreamDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("stream_export", d) { dir =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text")).localCheckpoint()
      (0 until 3).foreach { b =>
        EventStream.exportShardsSink(dir, 4, col("doc_id"),
          octet_length(col("text")), Seq("doc_id", "text"))(
          docs.filter(col("doc_id") % 3 === b), b.toLong)
      }
    }

  /** Build-once cache for the store-backed streaming-components face:
    * the same three micro-batches folded through
    * [[EventStream.componentStoreSink]]. */
  private[queries] def componentsStoreDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("stream_cc_store", d) { dir =>
      val edges = graft.queries.GraphQueries.edges(s, d, 3).localCheckpoint()
      (0 until 3).foreach { b =>
        EventStream.componentStoreSink(dir)(
          edges.filter((col("a") + col("b")) % 3 === b), b.toLong)
      }
    }

  /** Build-once cache for the streaming-CUSUM face: replay the events
    * table as three time-ordered micro-batches through
    * [[EventStream.cusumSink]]. The carried-state closed form makes
    * the folded scores equal ONE batch CUSUM over the whole history —
    * which is exactly what the oracle recomputes. */
  private[queries] def cusumDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("stream_cusum", d) { dir =>
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        .localCheckpoint()
      // time-ordered thirds: batches must respect event-time order
      // per key (the sink's contract for append-only streams)
      val bounds = ev.selectExpr(
          "percentile(cast(ts as long), array(cast(1.0/3 as double), " +
            "cast(2.0/3 as double))) as b")
        .head().getSeq[Double](0)
      val (c1, c2) = (bounds(0), bounds(1))
      val batches = Seq(
        ev.filter(col("ts").cast("long") <= c1),
        ev.filter(col("ts").cast("long") > c1 &&
          col("ts").cast("long") <= c2),
        ev.filter(col("ts").cast("long") > c2))
      batches.zipWithIndex.foreach { case (b, i) =>
        EventStream.cusumSink(dir, "event_type",
          Seq("ts", "event_id"), col("cents"),
          drift = 6000L, threshold = 50000L)(b, i.toLong)
      }
    }

  /** Build-once cache for the streaming-components face: replay the
    * support-3 co-purchase edges as three micro-batches through
    * [[EventStream.componentSink]] into per-JVM scratch. Deterministic
    * (min-id labels are a pure function of the edge set), so the
    * folded state is oracle-checkable. */
  private[queries] def componentsDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("stream_cc", d) { dir =>
      val edges = graft.queries.GraphQueries.edges(s, d, 3).localCheckpoint()
      (0 until 3).foreach { b =>
        EventStream.componentSink(dir)(
          edges.filter((col("a") + col("b")) % 3 === b), b.toLong)
      }
    }

  /** Build-once cache for the streaming chat-render face: the derived
    * turns table split into three micro-batches BY TURN INDEX
    * (turn_idx % 3) — every conversation's messages span all three
    * batches, the hard cross-batch assembly case — folded through
    * [[EventStream.chatRenderSink]]. Deterministic (the render is a
    * pure function of the accumulated turn set), so the converged
    * snapshot equals the batch render oracle exactly. */
  private[queries] def chatRenderDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("stream_chat", d) { dir =>
      val turns = graft.queries.ChatQueries.turnsOf(s, d).localCheckpoint()
      (0 until 3).foreach { k =>
        EventStream.chatRenderSink(dir)(
          turns.filter(col("turn_idx") % 3 === k), k.toLong)
      }
    }

  /** Build-once cache for the streaming-KMV face: the documents ids
    * fold through [[EventStream.kmvSink]] in three micro-batches;
    * min-k mergeability makes the folded state equal one sketch over
    * the whole corpus, which the oracle recomputes. */
  private[queries] def kmvDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("stream_kmv", d) { dir =>
      val docs = Tables.documents(s, d).select(col("doc_id"))
        .localCheckpoint()
      (0 until 3).foreach { b =>
        EventStream.kmvSink(dir, "doc_id", k = 128)(
          docs.filter(col("doc_id") % 3 === b), b.toLong)
      }
    }

  /** Build-once cache for the streaming log-histogram face: document
    * lengths fold through [[EventStream.logHistSink]] in three
    * micro-batches; count addition makes the folded bucket table
    * equal one sketch over the whole corpus, which the oracle
    * recomputes. */
  private[queries] def logHistDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("stream_loghist", d) { dir =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars")).localCheckpoint()
      (0 until 3).foreach { b =>
        EventStream.logHistSink(dir, "n_chars")(
          docs.filter(col("doc_id") % 3 === b), b.toLong)
      }
    }

  /** Build-once cache for the streaming-ingest face: replay the three
    * micro-batches through [[EventStream.nearDupIngestSink]] into a
    * per-JVM scratch state dir. Deterministic: banding is xxhash64
    * chains, the drop rule is min-id-greedy, batch membership is
    * doc_id % 3 — so the accepted set is a pure function of the
    * corpus, safe to golden-snapshot. */
  private[queries] def ingestDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("stream_ingest", d) { dir =>
      val docs = Tables.documents(s, d)
        .withColumn("sh", graft.ops.Text.shingles(col("text"), 3))
        .select("doc_id", "sh")
      (0 until 3).foreach { b =>
        EventStream.nearDupIngestSink(dir, "doc_id", "sh")(
          docs.filter(col("doc_id") % 3 === b), b.toLong)
      }
    }
}
