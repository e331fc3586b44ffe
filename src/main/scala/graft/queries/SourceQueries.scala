package graft.queries

import graft.core.{QueryDef, Tables}
import graft.etl.PreProcess
import graft.functions.GraftFunctions
import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Ingest + pre-process surface (SURVEY.md §2.1 sources, §2.2 P2/P11,
  * §2.3 J1, §2.6 dates): TSV / multiline-JSON / JSON-lines scans over
  * the clinical fixtures, surrogate-key minting with internal-id
  * attachment, and multi-format date parsing — each with a DuckDB
  * oracle reading the same fixture files.
  *
  * The key-minting oracle uses the sha-256 recipe variant because
  * DuckDB 1.0 has no sha1; the reference's sha1 recipe itself is
  * digest-checked in FunctionsSpec against java.security.MessageDigest.
  */
object SourceQueries {
  import QueryDef.sql

  /** Repo-absolute fixture dir (driver runs on this machine; the
    * oracle's read_csv needs the same absolute path). */
  val FixtureDir = "/root/repo/src/test/resources/clinical"

  /** Per-JVM namespace for the sink round-trip scratch dirs (shared
    * [[graft.core.Scratch]] device: concurrent runs stay disjoint,
    * the JVM cleans up after itself). */
  private lazy val sinkScratch: String = graft.core.Scratch.dir("sinks")

  /** Build-once WARC fixture: the `doc_id % 11 = 0 AND doc_id < 2200`
    * documents slice written as two crawl containers — `part0.warc`
    * plain, `part1.warc.gz` with ONE GZIP MEMBER PER RECORD (the
    * Common-Crawl writer layout; decodes as one stream) — each headed
    * by a warcinfo record the face must filter out. Fixture planting
    * is driver-side by design (bounded slice); the READ under test is
    * the executor-parallel binaryFiles + parse path. */
  private[queries] def warcFixtureDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("warc_fixture", d) { dir =>
      new java.io.File(dir).mkdirs()
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 11 === 0 && col("doc_id") < 2200)
        .select(col("doc_id"), col("text"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      def record(tpe: String, uri: String, payload: Array[Byte]) = {
        val h = new StringBuilder()
          .append("WARC/1.0\r\n")
          .append(s"WARC-Type: $tpe\r\n")
        if (uri != null) h.append(s"WARC-Target-URI: $uri\r\n")
        h.append(s"WARC-Record-ID: <urn:graft:$tpe:${payload.length}>\r\n")
          .append("Content-Type: text/plain\r\n")
          .append(s"Content-Length: ${payload.length}\r\n\r\n")
        h.toString.getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
      }
      def info = record("warcinfo", null,
        "software: graft-fixture".getBytes("UTF-8"))
      def conv(id: Long, text: String) = record("conversion",
        s"http://example.org/doc/$id", text.getBytes("UTF-8"))
      // a raw-crawl `response` record: the FULL HTTP message (status
      // line + headers + CRLF CRLF + body) whose body is the
      // adversarial HTML page around the document text — what a real
      // (non-WET) crawl container holds; q_warc_html extracts it back
      def resp(id: Long, text: String) = {
        val html = TextQueries.HtmlWrapA + id + TextQueries.HtmlWrapB +
          text + TextQueries.HtmlWrapC
        val body = html.getBytes("UTF-8")
        val http = ("HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/html; charset=utf-8\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8")
        record("response", s"http://example.org/doc/$id", http ++ body)
      }
      val (evens, odds) = docs.partition(_._1 % 2 == 0)
      val plain = new java.io.FileOutputStream(s"$dir/part0.warc")
      try {
        plain.write(info)
        evens.foreach { case (id, t) =>
          plain.write(conv(id, t)); plain.write(resp(id, t)) }
      } finally plain.close()
      val gz = new java.io.FileOutputStream(s"$dir/part1.warc.gz")
      try {
        def member(b: Array[Byte]): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bos)
          g.write(b); g.close(); bos.toByteArray
        }
        gz.write(member(info))
        odds.foreach { case (id, t) =>
          gz.write(member(conv(id, t))); gz.write(member(resp(id, t))) }
      } finally gz.close()
    }

  /** Build-once fixture for the HTTP payload-decode face: the
    * `doc_id % 13 = 0 AND doc_id < 2600` slice written as ONE plain
    * container whose `response` records cycle through five payload
    * encodings by `(doc_id / 13) % 5` — 0 identity/UTF-8, 1
    * `Transfer-Encoding: chunked` (157-byte chunks, so multi-chunk
    * bodies that also split UTF-8 sequences mid-codepoint), 2
    * `Content-Encoding: gzip`, 3 latin-1 declared in the Content-Type
    * header, 4 latin-1 declared only in a `<meta charset>` tag (no
    * header param). Modes 3-4 use a FIXED latin-1 page (é/à bytes
    * that are malformed UTF-8, so a wrong decode is visible as
    * U+FFFD), modes 0-2 the document text (lossless UTF-8 round
    * trip). */
  private[queries] val Latin1PageA = "<html><body><p>café #"
  private[queries] val Latin1PageB = " à côté</p></body></html>"
  private[queries] val MetaPageA =
    "<html><head><meta charset=\"iso-8859-1\"></head><body><p>café #"
  private[queries] def warcDecodeFixtureDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.core.Scratch.onceDir("warc_decode_fixture", d) { dir =>
      new java.io.File(dir).mkdirs()
      val docs = Tables.documents(s, d)
        .filter(col("doc_id") % 13 === 0 && col("doc_id") < 2600)
        .select(col("doc_id"), col("text"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      def warcRecord(uri: String, payload: Array[Byte]) =
        (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
          s"WARC-Record-ID: <urn:graft:decode:${payload.length}>\r\n" +
          "Content-Type: application/http; msgtype=response\r\n" +
          s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8") ++
          payload ++ "\r\n\r\n".getBytes("UTF-8")
      def http(headers: String, body: Array[Byte]) =
        s"HTTP/1.1 200 OK\r\n$headers\r\n".getBytes("ISO-8859-1") ++ body
      def chunked(body: Array[Byte]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream(body.length + 64)
        body.grouped(157).foreach { c =>
          out.write(s"${c.length.toHexString}\r\n".getBytes("ISO-8859-1"))
          out.write(c)
          out.write("\r\n".getBytes("ISO-8859-1"))
        }
        out.write("0\r\n\r\n".getBytes("ISO-8859-1"))
        out.toByteArray
      }
      def gz(body: Array[Byte]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(body); g.close(); bos.toByteArray
      }
      val f = new java.io.FileOutputStream(s"$dir/decode.warc")
      try docs.foreach { case (id, text) =>
        val uri = s"http://example.org/doc/$id"
        val page = (TextQueries.HtmlWrapA + id + TextQueries.HtmlWrapB +
          text + TextQueries.HtmlWrapC).getBytes("UTF-8")
        val msg = ((id / 13) % 5) match {
          case 0 => http("Content-Type: text/html; charset=utf-8\r\n" +
            s"Content-Length: ${page.length}\r\n", page)
          case 1 => http("Content-Type: text/html; charset=utf-8\r\n" +
            "Transfer-Encoding: chunked\r\n", chunked(page))
          case 2 =>
            val z = gz(page)
            http("Content-Type: text/html; charset=utf-8\r\n" +
              "Content-Encoding: gzip\r\n" +
              s"Content-Length: ${z.length}\r\n", z)
          case 3 =>
            val b = (Latin1PageA + id + Latin1PageB).getBytes("ISO-8859-1")
            http("Content-Type: text/html; charset=iso-8859-1\r\n" +
              s"Content-Length: ${b.length}\r\n", b)
          case _ =>
            val b = (MetaPageA + id + Latin1PageB).getBytes("ISO-8859-1")
            http("Content-Type: text/html\r\n" +
              s"Content-Length: ${b.length}\r\n", b)
        }
        f.write(warcRecord(uri, msg))
      } finally f.close()
    }

  /** Oracle-side rebuild of the decode fixture's response pages (one
    * per record, keyed by encoding mode) — shared by
    * `q_warc_response_decode` and `q_warc_block_curation`. */
  private[queries] lazy val WarcDecodeOracleSrc: String =
    s"""SELECT doc_id, CASE WHEN (doc_id // 13) % 5 = 3
       |    THEN '$Latin1PageA' || doc_id || '$Latin1PageB'
       |  WHEN (doc_id // 13) % 5 = 4
       |    THEN '$MetaPageA' || doc_id || '$Latin1PageB'
       |  ELSE '${TextQueries.HtmlWrapA}' || doc_id ||
       |    '${TextQueries.HtmlWrapB}' || text ||
       |    '${TextQueries.HtmlWrapC}' END AS html
       |FROM documents WHERE doc_id % 13 = 0 AND doc_id < 2600"""
      .stripMargin

  private val DonorCsvSql =
    s"read_csv('$FixtureDir/donor.tsv', delim='\\t', header=true, all_varchar=true)"

  val defs: Seq[QueryDef] = Seq(

    // ---- S1: all-string TSV scan ----
    sql(
      "q_tsv_scan",
      s"""SELECT study_id, submitter_donor_id, dob, gender, vital_status
         |FROM $DonorCsvSql""".stripMargin) { (s, _) =>
      Sources.tsv(s, s"$FixtureDir/donor.tsv")
        .select("study_id", "submitter_donor_id", "dob", "gender",
          "vital_status")
    },

    // ---- S2: multiline-JSON metadata scan ----
    sql(
      "q_json_multiline",
      s"""SELECT dictionaryVersion, studyVersionId, studyVersionDate
         |FROM read_json_auto('$FixtureDir/metadata.json')""".stripMargin) {
      (s, _) =>
        Sources.multilineJson(s, s"$FixtureDir/metadata.json")
          .select("dictionaryVersion", "studyVersionId", "studyVersionDate")
    },

    // ---- S3: JSON-lines (gz) ontology term scan ----
    sql(
      "q_jsonl_terms",
      s"""SELECT id, name, is_leaf, len(ancestors) AS n_ancestors,
         |  to_json(parents) AS parents_json
         |FROM read_json_auto('$FixtureDir/terms.jsonl.gz')""".stripMargin) {
      (s, _) =>
        Sources.jsonLines(s, s"$FixtureDir/terms.jsonl.gz")
          .select(col("id"), col("name"), col("is_leaf"),
            size(col("ancestors")).cast("long").as("n_ancestors"),
            Canon.js(col("parents")).as("parents_json"))
    },

    // ---- S10: dictionary-document resolution (the reference's
    //      Lectern schema payload reduced to per-entity column lists,
    //      DictionaryClient.scala:28-82) ----
    sql(
      "q_dictionary",
      s"""SELECT version, s.name AS entity, len(s.columns) AS n_cols
         |FROM (SELECT version, unnest(schemas) AS s
         |      FROM read_json_auto('$FixtureDir/dictionary.json'))""".stripMargin) {
      (s, _) =>
        Sources.multilineJson(s, s"$FixtureDir/dictionary.json")
          .select(col("version"), explode(col("schemas")).as("s"))
          .select(col("version"), col("s.name").as("entity"),
            size(col("s.columns")).cast("long").as("n_cols"))
    },

    // ---- S5: in-memory JSON scan (the reference's id-server HTTP
    //      response parsing idiom, PreProcessUtils.scala:96-98) ----
    sql(
      "q_inmem_json",
      """SELECT * FROM (VALUES ('h1', 'id1'), ('h2', 'id2'), ('h3', 'id3'))
        |  t(hash, internal_id)""".stripMargin) { (s, _) =>
      Sources.inMemoryJson(s, Seq(
          """{"hash":"h1","internal_id":"id1"}""",
          """{"hash":"h2","internal_id":"id2"}""",
          """{"hash":"h3","internal_id":"id3"}"""))
        .select("hash", "internal_id")
    },

    // ---- J1/P11: key minting + id attach + whitelist prune ----
    sql(
      "q_preprocess_donor",
      s"""SELECT study_id, submitter_donor_id, gender, vital_status,
         |  'donor' AS entity_kind,
         |  'donor_' || substr(sha256(concat_ws('_', 'donor', study_id,
         |    submitter_donor_id)), 1, 12) AS internal_donor_id
         |FROM $DonorCsvSql""".stripMargin) { (s, _) =>
      val raw = Sources.tsv(s, s"$FixtureDir/donor.tsv")
      // sha-256 variant of the minting flow so the oracle can replay it
      val minted = raw
        .withColumn("entity_kind", lit("donor"))
        .withColumn("entity_key", GraftFunctions.entityKeySha256(
          "donor", col("study_id"), col("submitter_donor_id")))
        .withColumn("internal_donor_id",
          PreProcess.HashDerivedIds.asColumn.get)
        .drop("entity_key")
      PreProcess.whitelist(minted,
        Seq("study_id", "submitter_donor_id", "gender", "vital_status",
          "entity_kind", "internal_donor_id"))
    },

    // ---- §2.6 dates: multi-format parse + whole-year age ----
    sql(
      "q_date_age",
      s"""SELECT submitter_donor_id,
         |  coalesce(try_strptime(dob, '%-d/%-m/%Y'),
         |           try_strptime(dob, '%Y-%m-%d'))::DATE AS dob_parsed,
         |  CASE WHEN coalesce(try_strptime(dob, '%-d/%-m/%Y'),
         |                     try_strptime(dob, '%Y-%m-%d')) IS NULL THEN -1
         |       ELSE date_part('year', age(TIMESTAMP '2026-01-01',
         |              coalesce(try_strptime(dob, '%-d/%-m/%Y'),
         |                       try_strptime(dob, '%Y-%m-%d'))))::INT
         |  END AS age_years
         |FROM $DonorCsvSql""".stripMargin) { (s, _) =>
      Sources.tsv(s, s"$FixtureDir/donor.tsv")
        .select(
          col("submitter_donor_id"),
          GraftFunctions.multiFormatDate(col("dob")).as("dob_parsed"),
          GraftFunctions.ageBetween(col("dob"), lit("2026-01-01"))
            .as("age_years"))
    },

    // ---- §2.6 truthy-string conditional over fixture data ----
    sql(
      "q_truthy",
      s"""SELECT submitter_phenotype_id,
         |  phenotype_observed IN ('YES','Yes','yes','TRUE','True','true',
         |    'Y','y','1') AS observed
         |FROM read_csv('$FixtureDir/phenotype.tsv', delim='\\t',
         |              header=true, all_varchar=true)""".stripMargin) {
      (s, _) =>
        Sources.tsv(s, s"$FixtureDir/phenotype.tsv")
          .select(col("submitter_phenotype_id"),
            GraftFunctions.truthy(col("phenotype_observed")).as("observed"))
    },

    // ---- §2.5 metadata singleton grab (distinct → first) ----
    sql(
      "q_metadata_grab",
      s"""SELECT DISTINCT dictionaryVersion, studyVersionId
         |FROM read_json_auto('$FixtureDir/metadata.json') LIMIT 1""".stripMargin) {
      (s, _) =>
        Sources.multilineJson(s, s"$FixtureDir/metadata.json")
          .select("dictionaryVersion", "studyVersionId")
          .distinct()
          .limit(1)
    },

    // ---- lenient-date parity path (SimpleDateFormat UDF — DuckDB
    //      strptime is strict, so the oracle reads a hand-verified
    //      golden fixture that locks the month-overflow parity
    //      semantics: ages computed by hand from the fixture dobs) ----
    sql(
      "q_lenient_age",
      s"""SELECT submitter_donor_id, age_lenient::INT AS age_lenient
         |FROM read_csv('$FixtureDir/golden_lenient_age.tsv', delim='\\t',
         |  header=true, all_varchar=true)""".stripMargin) { (s, _) =>
      Sources.tsv(s, s"$FixtureDir/donor.tsv")
        .select(col("submitter_donor_id"),
          graft.functions.LenientDate.lenientAge(
            col("dob"), lit("1/1/2026")).as("age_lenient"))
    },

    // ---- S7: partitioned JSON sink round-trip — write with
    //      partition-owner parallelism, read back with an explicit
    //      schema (JSON drops null fields; partition-column type
    //      inference is bypassed), hash against the source table.
    //      The write itself is the operator under test ----
    sql(
      "q_json_sink_roundtrip",
      "SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer") {
      (s, d) =>
        val out = Tables.customer(s, d)
          .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
        val path = s"$sinkScratch/graft_sink_json"
        graft.sources.Sinks.partitionedJson(
          out, path, partitionBy = Seq("c_mktsegment"))
        s.read
          .schema("c_custkey bigint, c_name string, c_nationkey int, " +
            "c_mktsegment string")
          .json(path)
          .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    },

    // ---- S8: single-file coalesce mode round-trip (metadata-sized
    //      outputs; the reference's coalesce(1) idiom) ----
    sql(
      "q_json_sink_single",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation") { (s, d) =>
      val out = Tables.nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey")
      val path =
        s"$sinkScratch/graft_sink_json_single"
      graft.sources.Sinks.partitionedJson(
        out, path, partitionBy = Seq.empty, singleFile = true)
      s.read
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .json(path)
        .select("n_nationkey", "n_name", "n_regionkey")
    },

    // ---- ORC sink/scan round-trip (Spark's second native columnar
    //      format): write, read back, hash against the parquet-backed
    //      oracle — DuckDB never needs to read ORC itself ----
    sql(
      "q_orc_roundtrip",
      "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders") { (s, d) =>
      val out = s"$sinkScratch/graft_sink_orc"
      graft.sources.Sinks.orc(
        Tables.orders(s, d).select("o_orderkey", "o_custkey",
          "o_orderstatus"), out)
      s.read.orc(out).select("o_orderkey", "o_custkey", "o_orderstatus")
    },

    // ---- dynamic-partition overwrite: re-publish ONE region's slice
    //      of a partitioned table; the other partitions must survive.
    //      The face bakes a wrong row into the target partition first,
    //      so a static (whole-table) overwrite OR a failed swap would
    //      both hash-mismatch ----
    sql(
      "q_partition_overwrite",
      """SELECT n_regionkey, n_nationkey, n_name FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val out = s"$sinkScratch/graft_dynpart"
      val n = Tables.nation(s, d)
        .select("n_regionkey", "n_nationkey", "n_name")
      // seed: region 2 holds a BAD row that only a dynamic overwrite
      // of exactly that partition repairs
      graft.sources.Sinks.parquet(
        n.withColumn("n_name",
          when(col("n_regionkey") === 2, lit("WRONG"))
            .otherwise(col("n_name"))),
        out, partitionBy = Seq("n_regionkey"))
      graft.sources.Sinks.overwritePartitions(
        n.filter(col("n_regionkey") === 2), out, Seq("n_regionkey"))
      s.read.parquet(out)
        .select(col("n_regionkey").cast("long").as("n_regionkey"),
          col("n_nationkey"), col("n_name"))
        .orderBy("n_nationkey")
    },

    // ---- corrupt-record routing: a JSONL drop with malformed lines
    //      ingests WITHOUT failing the job — clean rows parse, corrupt
    //      lines route to _corrupt_record (PERMISSIVE mode) for a
    //      quarantine path instead of a 100 TB job abort. The oracle
    //      reads the same file with ignore_errors and agrees on the
    //      clean/corrupt split ----
    sql(
      "q_corrupt_routing",
      s"""SELECT count(id)::BIGINT AS n_clean,
         |  (count(*) - count(id))::BIGINT AS n_corrupt,
         |  coalesce(sum(id), 0)::BIGINT AS id_sum
         |FROM read_json('${SourceQueries.FixtureDir}/corrupt.jsonl',
         |  format='newline_delimited', ignore_errors=true)""".stripMargin) {
      (s, _) =>
        s.read
          .schema("id bigint, val string, _corrupt_record string")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(s"${SourceQueries.FixtureDir}/corrupt.jsonl")
          .agg(count(col("id")).as("n_clean"),
            (count(lit(1)) - count(col("id"))).as("n_corrupt"),
            coalesce(sum(col("id")), lit(0L)).as("id_sum"))
    },

    // ---- schema-evolution-tolerant scan: two parquet generations of
    //      the same table (a column added mid-corpus) read as ONE
    //      frame via mergeSchema, old rows null-padded — the 100 TB
    //      reality where rewriting history for every added column is
    //      not an option ----
    sql(
      "q_schema_merge",
      """SELECT o_orderkey, o_custkey, NULL AS o_orderstatus
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin) { (s, d) =>
      val out = s"$sinkScratch/graft_schema_merge"
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(s"$out/gen=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .write.mode("overwrite").parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$out/gen=1", s"$out/gen=2")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    },

    // ---- versioned publish / rollback: promote two snapshot versions
    //      of a supplier aggregate, roll back, read current — the
    //      oracle recomputes what v1 must contain, so the pointer
    //      discipline (not just the parquet write) is what's checked ----
    sql(
      "q_publish_rollback",
      """SELECT s_nationkey, count(*)::BIGINT AS n
        |FROM supplier WHERE s_suppkey <= 50
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val root = s"$sinkScratch/graft_versioned"
      val sup = Tables.supplier(s, d)
      graft.sources.Versioned.publish(
        sup.filter(col("s_suppkey") <= 50)
          .groupBy("s_nationkey").agg(count(lit(1)).as("n")), root)
      graft.sources.Versioned.publish(
        sup.groupBy("s_nationkey").agg(count(lit(1)).as("n")), root)
      graft.sources.Versioned.rollback(s, root)
      graft.sources.Versioned.readCurrent(s, root)
    },

    // ---- publish-time integrity manifest: one row of (version,
    //      n_rows, checksum) written inside the promoted snapshot —
    //      the order-independent md5-sum checksum is recomputed
    //      relationally by the oracle, so a torn or wrong-version
    //      publish cannot hash-match ----
    sql(
      "q_publish_manifest",
      """SELECT 1::BIGINT AS version, count(*)::BIGINT AS n_rows,
        |  sum(CAST('0x' || substr(md5(CAST(s_nationkey AS VARCHAR)
        |      || chr(1) || CAST(n AS VARCHAR)), 1, 8) AS BIGINT))::BIGINT
        |    AS checksum
        |FROM (SELECT s_nationkey, count(*)::BIGINT AS n
        |      FROM supplier GROUP BY 1)""".stripMargin) { (s, d) =>
      val root = s"$sinkScratch/graft_manifest"
      // fresh root per JVM: version is deterministically 1
      if (graft.sources.Versioned.currentVersion(s, root).isEmpty) {
        graft.sources.Versioned.publish(
          Tables.supplier(s, d).groupBy("s_nationkey")
            .agg(count(lit(1)).as("n")),
          root, manifestCols = Seq("s_nationkey", "n"))
      }
      graft.sources.Versioned.readManifest(s, root)
    },

    // ---- size-targeted sharded export + manifest (the training-data
    //      last mile): shard = portable md5 draw mod ceil(Σbytes /
    //      target), one parquet file per shard written executor-side,
    //      Versioned manifest of (shard, rows, bytes, checksum). The
    //      face joins the PUBLISHED manifest against a recompute from
    //      the read-back shard files; the oracle replays membership
    //      and every aggregate relationally from documents — so a
    //      wrong shard assignment, a torn file, or a manifest that
    //      disagrees with the data all hash-mismatch ----
    sql(
      "q_export_shards",
      """WITH tot AS (
        |  SELECT sum(octet_length(encode(text)))::BIGINT AS total
        |  FROM documents),
        |ns AS (
        |  SELECT greatest(1, (total + 65535) // 65536)::BIGINT AS n
        |  FROM tot),
        |s AS (
        |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |        AS BIGINT) % (SELECT n FROM ns) AS shard,
        |    octet_length(encode(text))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
        |        || chr(1) || coalesce(text, chr(2))),
        |        1, 8) AS BIGINT) AS c
        |  FROM documents)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_shards"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShards(docs, dir,
          targetBytes = 65536L, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir),
          octet_length(col("text")), Seq("doc_id", "text"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- INCREMENTAL re-export (O(changed) maintenance for the
    //      training-data last mile): the store starts from a 90%
    //      slice, then the full corpus re-exports INCREMENTALLY —
    //      only shards containing the new rows rewrite; every other
    //      shard's file is reused by reference. The manifest (spanning
    //      two generations) joins a read-back recompute through the
    //      group reader, and the oracle replays the FINAL corpus
    //      relationally — so stale reused files, wrong delta routing,
    //      or a generation the sweep ate all hash-mismatch ----
    sql(
      "q_export_inc",
      """WITH s AS (
        |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |        AS BIGINT) % 8 AS shard,
        |    octet_length(encode(text))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
        |        || chr(1) || coalesce(text, chr(2))),
        |        1, 8) AS BIGINT) AS c
        |  FROM documents)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_inc"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShardsIncremental(
          docs.filter(col("doc_id") % 10 =!= 0), dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        graft.sources.Export.exportShardsIncremental(
          docs, dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir),
          octet_length(col("text")), Seq("doc_id", "text"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- INCREMENTAL re-export of the TEXT-FORMAT store: the jsonl
    //      shape grows O(changed) too — unchanged gzip-json shard
    //      files are reused BY REFERENCE across generations while
    //      only the new rows' shards re-encode; the manifest joins a
    //      read-back recompute FROM THE TEXT FILES, so a stale reused
    //      file or a mis-encoded delta hash-mismatches the relational
    //      replay of the final corpus ----
    sql(
      "q_export_inc_jsonl",
      """WITH s AS (
        |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |        AS BIGINT) % 8 AS shard,
        |    octet_length(encode(text))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
        |        || chr(1) || coalesce(text, chr(2))),
        |        1, 8) AS BIGINT) AS c
        |  FROM documents)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_inc_jsonl"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShardsIncremental(
          docs.filter(col("doc_id") % 10 =!= 0), dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text"), format = "json"): Unit
        graft.sources.Export.exportShardsIncremental(
          docs, dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text"), format = "json"): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir, Some(
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id BIGINT, text STRING"))),
          octet_length(col("text")), Seq("doc_id", "text"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- TAKEDOWN (right-to-be-forgotten) on the export store: the
    //      doc_id % 97 = 0 documents are retracted by id — the store
    //      reads and rewrites ONLY the shards those ids draw to (no
    //      corpus scan; the id->shard draw replays driver-side) — and
    //      the republished manifest + a read-back recompute must equal
    //      the relational replay of the corpus WITHOUT them; a stale
    //      file, a missed id, or an over-deleted shard all
    //      hash-mismatch ----
    sql(
      "q_retract",
      """WITH s AS (
        |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |        AS BIGINT) % 8 AS shard,
        |    octet_length(encode(text))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
        |        || chr(1) || coalesce(text, chr(2))),
        |        1, 8) AS BIGINT) AS c
        |  FROM documents WHERE doc_id % 97 <> 0)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_retract"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShardsIncremental(docs, dir,
          nShards = 8, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        val takedown = docs.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").cast("string"))
          .collect().map(_.getString(0)).toSeq
        graft.sources.Export.retractShards(s, dir, "doc_id", takedown,
          octet_length(col("text")), Seq("doc_id", "text")): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir),
          octet_length(col("text")), Seq("doc_id", "text"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- TAKEDOWN on the TEXT-FORMAT store: right-to-be-forgotten
    //      for jsonl shards — the affected gzip-json files rewrite
    //      into a json delta generation, the json_inc group reader
    //      serves the mixed-generation view, and the manifest + a
    //      text read-back recompute must equal the relational replay
    //      of the corpus WITHOUT the retracted ids ----
    sql(
      "q_retract_jsonl",
      """WITH s AS (
        |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |        AS BIGINT) % 6 AS shard,
        |    octet_length(encode(text))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
        |        || chr(1) || coalesce(text, chr(2))),
        |        1, 8) AS BIGINT) AS c
        |  FROM documents WHERE doc_id % 89 <> 0)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_retract_jsonl"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      // nShards fixed at 6 so the oracle's draw is static: jsonl
      // export normally sizes from bytes, but the retract face needs
      // membership replayable without the sizing CTE — use the
      // incremental-style fixed count via a targetBytes that yields 6
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        val total = docs.agg(sum(octet_length(col("text"))))
          .head().getLong(0)
        graft.sources.Export.exportJsonlShards(docs, dir,
          targetBytes = (total + 5) / 6, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        val takedown = docs.filter(col("doc_id") % 89 === 0)
          .select(col("doc_id").cast("string"))
          .collect().map(_.getString(0)).toSeq
        graft.sources.Export.retractShards(s, dir, "doc_id", takedown,
          octet_length(col("text")), Seq("doc_id", "text")): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir, Some(
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id BIGINT, text STRING"))),
          octet_length(col("text")), Seq("doc_id", "text"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- O(1) POINT LOOKUP against the export store: the id routes
    //      to its single shard file via the driver-side draw — one
    //      file read whatever the store size; the oracle is the plain
    //      relational point query ----
    sql(
      "q_lookup",
      """SELECT doc_id, text FROM documents
        |WHERE doc_id IN (7, 42, 137)""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_inc"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShardsIncremental(
          docs.filter(col("doc_id") % 10 =!= 0), dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        graft.sources.Export.exportShardsIncremental(
          docs, dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
      }
      Seq("7", "42", "137")
        .map(id => graft.sources.Export
          .lookupById(s, dir, "doc_id", id)
          .select(col("doc_id").cast("bigint").as("doc_id"), col("text")))
        .reduce(_.unionByName(_))
    },

    // ---- SEEDED EPOCH ORDER over the promoted export: the (seed,
    //      epoch) pair deterministically permutes document order
    //      within AND across shards (shard visit order and in-shard
    //      order are both md5 draws of seed:epoch:key), and the
    //      oracle replays every global position relationally — the
    //      reproducible-training story end-to-end ----
    sql(
      "q_epoch_order",
      """WITH tot AS (
        |  SELECT sum(octet_length(encode(text)))::BIGINT AS total
        |  FROM documents),
        |ns AS (
        |  SELECT greatest(1, (total + 65535) // 65536)::BIGINT AS n
        |  FROM tot),
        |d AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |      AS BIGINT) % (SELECT n FROM ns) AS shard
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, shard,
        |    CAST('0x' || substr(md5('42:3:' || shard::VARCHAR), 1, 8)
        |      AS BIGINT) AS sdraw,
        |    CAST('0x' || substr(md5('42:3:' || doc_id::VARCHAR), 1, 8)
        |      AS BIGINT) AS rdraw
        |  FROM d)
        |SELECT doc_id, shard::INT AS shard,
        |  row_number() OVER (ORDER BY sdraw, shard, rdraw, doc_id)
        |    ::BIGINT AS epoch_pos
        |FROM k""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_shards"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShards(docs, dir,
          targetBytes = 65536L, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
      }
      graft.sources.Export.epochOrder(s, dir, "doc_id",
        seed = 42L, epoch = 3)
        .select(col("doc_id"), col("shard"), col("epoch_pos"))
    },

    // ---- MULTI-WORKER EPOCH SHARDING (the WebDataset DDP pattern):
    //      the epoch's shard visit order cuts into 4 contiguous,
    //      shard-granular worker slices by integer division on start
    //      offsets; the oracle replays each worker's EXACT id list —
    //      the union is provably the full epoch, disjoint, contiguous
    //      in the q_epoch_order global order ----
    sql(
      "q_epoch_workers",
      """WITH tot AS (
        |  SELECT sum(octet_length(encode(text)))::BIGINT AS total
        |  FROM documents),
        |ns AS (
        |  SELECT greatest(1, (total + 65535) // 65536)::BIGINT AS n
        |  FROM tot),
        |d AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |      AS BIGINT) % (SELECT n FROM ns) AS shard
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, shard,
        |    CAST('0x' || substr(md5('42:3:' || shard::VARCHAR), 1, 8)
        |      AS BIGINT) AS sdraw,
        |    CAST('0x' || substr(md5('42:3:' || doc_id::VARCHAR), 1, 8)
        |      AS BIGINT) AS rdraw
        |  FROM d),
        |off AS (
        |  SELECT shard,
        |    sum(count(*)) OVER (ORDER BY any_value(sdraw), shard)
        |      - count(*) AS o,
        |    sum(count(*)) OVER () AS t
        |  FROM k GROUP BY shard)
        |SELECT k.doc_id, k.shard::INT AS shard,
        |  row_number() OVER (ORDER BY sdraw, k.shard, rdraw, doc_id)
        |    ::BIGINT AS epoch_pos,
        |  ((4 * off.o) // off.t)::INT AS worker
        |FROM k JOIN off ON k.shard = off.shard""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_shards"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShards(docs, dir,
          targetBytes = 65536L, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
      }
      graft.sources.Export.epochWorkerSlices(s, dir, "doc_id",
        seed = 42L, epoch = 3, nWorkers = 4)
        .select(col("doc_id"), col("shard"), col("epoch_pos"),
          col("worker"))
    },

    // ---- TRAINING-CONSUMABLE jsonl export: the same size-targeted
    //      shard draw / manifest / content-addressing discipline, but
    //      the shards are gzip JSON-lines files — what mainstream
    //      training loaders actually read. The face recomputes the
    //      manifest aggregates FROM THE TEXT SHARDS THEMSELVES (a
    //      format-dispatched read-back through the manifest), so a
    //      mis-encoded or torn jsonl file hash-mismatches the
    //      relational replay ----
    sql(
      "q_export_jsonl",
      """WITH tot AS (
        |  SELECT sum(octet_length(encode(text)))::BIGINT AS total
        |  FROM documents),
        |ns AS (
        |  SELECT greatest(1, (total + 32767) // 32768)::BIGINT AS n
        |  FROM tot),
        |s AS (
        |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |        AS BIGINT) % (SELECT n FROM ns) AS shard,
        |    octet_length(encode(text))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
        |        || chr(1) || coalesce(text, chr(2))),
        |        1, 8) AS BIGINT) AS c
        |  FROM documents)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_jsonl"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportJsonlShards(docs, dir,
          targetBytes = 32768L, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir, Some(
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id BIGINT, text STRING"))),
          octet_length(col("text")), Seq("doc_id", "text"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- DATASET CARD of an export store: the publication artifact
    //      (docs, tokens, language mix, dup count) composed with the
    //      manifest provenance delta (version, shards touched since
    //      v-1) — read FROM the promoted store, replayed relationally
    //      from documents plus the v1/v2 diff arithmetic; a stale
    //      shard file, a wrong diff, or drifted token counting all
    //      hash-mismatch ----
    sql(
      "q_store_card",
      s"""WITH ad AS (
         |  SELECT doc_id, text, lang,
         |    CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
         |      AS BIGINT) % 8 AS shard,
         |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
         |      || chr(1) || coalesce(text, chr(2))),
         |      1, 8) AS BIGINT) AS c
         |  FROM documents),
         |v2 AS (SELECT shard, count(*) AS n, sum(c) AS cs
         |       FROM ad GROUP BY 1),
         |v1 AS (SELECT shard, count(*) AS n, sum(c) AS cs
         |       FROM ad WHERE doc_id % 10 <> 0 GROUP BY 1),
         |diff AS (
         |  SELECT
         |    coalesce(sum(CASE WHEN v1.shard IS NULL THEN 1 END), 0)
         |      ::BIGINT AS shards_added,
         |    coalesce(sum(CASE WHEN v1.shard IS NOT NULL
         |      AND v2.shard IS NOT NULL
         |      AND (v1.n <> v2.n OR v1.cs <> v2.cs) THEN 1 END), 0)
         |      ::BIGINT AS shards_changed,
         |    coalesce(sum(CASE WHEN v2.shard IS NULL THEN 1 END), 0)
         |      ::BIGINT AS shards_removed
         |  FROM v1 FULL JOIN v2 ON v1.shard = v2.shard),
         |agg AS (
         |  SELECT count(*)::BIGINT AS n_docs,
         |    sum(len(string_split(${TextQueries.NormSql}, ' ')))
         |      ::BIGINT AS n_tokens,
         |    count(DISTINCT lang)::BIGINT AS n_langs,
         |    (count(*) - count(DISTINCT md5(text)))::BIGINT AS dup_docs
         |  FROM documents),
         |mo AS (SELECT lang AS top_lang FROM (
         |  SELECT lang, row_number() OVER (ORDER BY count(*) DESC,
         |    lang NULLS LAST) AS rn
         |  FROM documents GROUP BY lang) WHERE rn = 1)
         |SELECT 2::BIGINT AS version, 8::INT AS n_shards, n_docs,
         |  n_tokens, n_langs, top_lang, dup_docs, shards_added,
         |  shards_changed, shards_removed
         |FROM agg, diff, mo""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_card"
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("lang"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        // two deterministic versions: a 90% slice, then the full
        // corpus — so the card's provenance delta has real content
        graft.sources.Export.exportShardsIncremental(
          docs.filter(col("doc_id") % 10 =!= 0), dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        graft.sources.Export.exportShardsIncremental(
          docs, dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
      }
      graft.sources.Export.storeCard(s, dir, "text", Some("lang"))
    },

    // ---- STORE PROFILE from persisted per-shard sketches (round-17
    //      verdict item 6): KMV (distinct texts) and log-histogram
    //      (text-length quantiles) sketches are published per shard
    //      next to the jsonl store's manifest, then the profile is
    //      read by MERGING the sketches — no payload rescan; the
    //      merge laws make the merged result EXACTLY the global
    //      sketch, which is what lets the oracle recompute the
    //      profile from documents relationally (manifest totals, the
    //      k-minimum device, the cumulative bucket walk) without ever
    //      seeing the shard split ----
    sql(
      "q_store_profile", {
      import graft.ops.LogHist.{bucketSql, floorSql}
      s"""WITH tot AS (
         |  SELECT sum(octet_length(encode(text)))::BIGINT AS total
         |  FROM documents),
         |ns AS (
         |  SELECT greatest(1, (total + 32767) // 32768)::BIGINT AS n
         |  FROM tot),
         |sdraw AS (
         |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
         |    AS BIGINT) % (SELECT n FROM ns) AS shard
         |  FROM documents),
         |mans AS (SELECT count(DISTINCT shard)::BIGINT AS n_shards,
         |         count(*)::BIGINT AS n_rows FROM sdraw),
         |h AS (SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 15)
         |        AS BIGINT) AS hv FROM documents),
         |r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
         |kk AS (SELECT count(*)::BIGINT AS n_sketch,
         |       max(hv)::BIGINT AS kth_hv FROM r WHERE rn <= 256),
         |est AS (SELECT n_sketch, kth_hv,
         |  round(CASE WHEN n_sketch < 256 THEN n_sketch::DOUBLE
         |    ELSE 255.0 * power(2, 60) / kth_hv END, 6) AS est_distinct
         |  FROM kk),
         |lb AS (SELECT ${bucketSql("length(text)")} AS bucket,
         |       count(*)::BIGINT AS n FROM documents GROUP BY 1),
         |c AS (SELECT bucket, n,
         |  sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
         |    AS cum,
         |  sum(n) OVER () AS total FROM lb),
         |q AS (SELECT unnest([250000, 500000, 750000])::BIGINT
         |        AS q_ppm),
         |hit AS (SELECT q_ppm, min(bucket) AS b FROM c CROSS JOIN q
         |  WHERE cum >= (total // 1000000) * q_ppm
         |    + ((total % 1000000) * q_ppm + 999999) // 1000000
         |  GROUP BY 1),
         |qq AS (SELECT
         |  max(CASE WHEN q_ppm = 250000
         |    THEN (${floorSql("b")})::BIGINT END) AS p25,
         |  max(CASE WHEN q_ppm = 500000
         |    THEN (${floorSql("b")})::BIGINT END) AS p50,
         |  max(CASE WHEN q_ppm = 750000
         |    THEN (${floorSql("b")})::BIGINT END) AS p75
         |  FROM hit)
         |SELECT mans.n_shards, mans.n_rows, est.n_sketch, est.kth_hv,
         |  est.est_distinct, qq.p25, qq.p50, qq.p75
         |FROM mans, est, qq""".stripMargin
    }) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_jsonl"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportJsonlShards(docs, dir,
          targetBytes = 32768L, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
      }
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/profile_kmv").isEmpty) {
        graft.sources.Export.publishShardProfile(s, dir,
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING"),
          key = col("text"), v = length(col("text")).cast("long"))
      }
      graft.sources.Export.readStoreProfile(s, dir)
    },

    // ---- O(changed) PROFILE MAINTENANCE (round 17): the profile is
    //      published against the half-corpus store, the other half
    //      arrives as an incremental delta, and refreshShardProfile
    //      re-sketches ONLY the repointed shards (manifest-checksum
    //      diff — the incremental exporter's own device). The read
    //      view must equal a from-scratch profile of the FINAL
    //      corpus, which is exactly what the oracle recomputes; a
    //      stale sketch row or a missed changed shard
    //      hash-mismatches ----
    sql(
      "q_profile_refresh", {
      import graft.ops.LogHist.{bucketSql, floorSql}
      s"""WITH sdraw AS (
         |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
         |    AS BIGINT) % 8 AS shard
         |  FROM documents),
         |mans AS (SELECT count(DISTINCT shard)::BIGINT AS n_shards,
         |         count(*)::BIGINT AS n_rows FROM sdraw),
         |h AS (SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 15)
         |        AS BIGINT) AS hv FROM documents),
         |r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
         |kk AS (SELECT count(*)::BIGINT AS n_sketch,
         |       max(hv)::BIGINT AS kth_hv FROM r WHERE rn <= 256),
         |est AS (SELECT n_sketch, kth_hv,
         |  round(CASE WHEN n_sketch < 256 THEN n_sketch::DOUBLE
         |    ELSE 255.0 * power(2, 60) / kth_hv END, 6) AS est_distinct
         |  FROM kk),
         |lb AS (SELECT ${bucketSql("length(text)")} AS bucket,
         |       count(*)::BIGINT AS n FROM documents GROUP BY 1),
         |c AS (SELECT bucket, n,
         |  sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
         |    AS cum,
         |  sum(n) OVER () AS total FROM lb),
         |q AS (SELECT unnest([250000, 500000, 750000])::BIGINT
         |        AS q_ppm),
         |hit AS (SELECT q_ppm, min(bucket) AS b FROM c CROSS JOIN q
         |  WHERE cum >= (total // 1000000) * q_ppm
         |    + ((total % 1000000) * q_ppm + 999999) // 1000000
         |  GROUP BY 1),
         |qq AS (SELECT
         |  max(CASE WHEN q_ppm = 250000
         |    THEN (${floorSql("b")})::BIGINT END) AS p25,
         |  max(CASE WHEN q_ppm = 500000
         |    THEN (${floorSql("b")})::BIGINT END) AS p50,
         |  max(CASE WHEN q_ppm = 750000
         |    THEN (${floorSql("b")})::BIGINT END) AS p75
         |  FROM hit)
         |SELECT mans.n_shards, mans.n_rows, est.n_sketch, est.kth_hv,
         |  est.est_distinct, qq.p25, qq.p50, qq.p75
         |FROM mans, est, qq""".stripMargin
    }) { (s, d) =>
      val dir = s"$sinkScratch/graft_profile_refresh"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val ddl = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShardsIncremental(
          docs.filter(col("doc_id") % 2 === 0), dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        graft.sources.Export.publishShardProfile(s, dir, ddl,
          key = col("text"), v = length(col("text")).cast("long"))
        graft.sources.Export.exportShardsIncremental(docs, dir,
          nShards = 8, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        graft.sources.Export.refreshShardProfile(s, dir, ddl,
          key = col("text"), v = length(col("text")).cast("long")): Unit
      }
      graft.sources.Export.readStoreProfile(s, dir)
    },

    // ---- STORE COMPACTION (round 17): an incremental store that
    //      grew through three generations (initial incremental
    //      export, a delta adding the odd docs, a takedown) is
    //      compacted back to ONE plain generation — shard membership
    //      and every per-shard (rows, bytes, checksum) triple must
    //      survive byte-for-byte, and the read-back re-derives them
    //      from the compacted files. The oracle replays the FINAL
    //      content relationally; ExportSpec pins the generation-count
    //      and plain-format invariants ----
    sql(
      "q_store_compact",
      """WITH s AS (
        |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |        AS BIGINT) % 8 AS shard,
        |    octet_length(encode(text))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
        |        || chr(1) || coalesce(text, chr(2))),
        |        1, 8) AS BIGINT) AS c
        |  FROM documents WHERE doc_id % 41 <> 0)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_store_compact"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val ddl = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShardsIncremental(
          docs.filter(col("doc_id") % 2 === 0), dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        graft.sources.Export.exportShardsIncremental(docs, dir,
          nShards = 8, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        val takedown = docs.filter(col("doc_id") % 41 === 0)
          .select(col("doc_id").cast("string"))
          .collect().map(_.getString(0)).toSeq
        graft.sources.Export.retractShards(s, dir, "doc_id", takedown,
          octet_length(col("text")), Seq("doc_id", "text")): Unit
        graft.sources.Export.compactStore(s, dir, ddl,
          octet_length(col("text")), Seq("doc_id", "text")): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"),
          col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir, Some(ddl)),
          octet_length(col("text")), Seq("doc_id", "text"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- DECONTAMINATE-AT-EXPORT: the benchmark 5-gram screen runs
    //      where the corpus leaves the pipeline — docs >= 450 are the
    //      "eval set", the gated jsonl export publishes only training
    //      docs sharing NO normalized 5-gram with it, and the oracle
    //      replays screen + shard draw + manifest + text read-back in
    //      one chain: a leaked contaminated doc, an over-dropped
    //      clean doc, or a drifted gram all hash-mismatch ----
    sql(
      "q_export_decontam",
      s"""WITH t AS (
         |  SELECT doc_id, text, string_split(${TextQueries.NormSql}, ' ')
         |    AS w
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, text, list_transform(range(len(w) - 4),
         |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
         |         w[i+4] || ' ' || w[i+5]) AS g
         |  FROM t),
         |ev AS (SELECT flatten(list(g)) AS eg FROM sh WHERE doc_id >= 450),
         |dd AS (SELECT doc_id, text FROM sh, ev
         |       WHERE doc_id < 450 AND NOT list_has_any(g, eg)),
         |tot AS (
         |  SELECT sum(octet_length(encode(text)))::BIGINT AS total FROM dd),
         |ns AS (
         |  SELECT greatest(1, (total + 16383) // 16384)::BIGINT AS n
         |  FROM tot),
         |s AS (
         |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
         |      AS BIGINT) % (SELECT n FROM ns) AS shard,
         |    octet_length(encode(text))::BIGINT AS b,
         |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
         |      || chr(1) || coalesce(text, chr(2))),
         |      1, 8) AS BIGINT) AS c
         |  FROM dd)
         |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
         |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
         |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
         |  sum(c)::BIGINT AS rb_checksum
         |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_decontam"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        val evalGrams = docs.filter(col("doc_id") >= 450)
          .select(explode(
            graft.ops.Text.shingles(col("text"), 5)).as("g"))
        graft.sources.Export.exportJsonlShards(
          docs.filter(col("doc_id") < 450), dir,
          targetBytes = 16384L, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text"),
          exclude = Some(graft.sources.Export.ExcludeGrams(
            col("text"), evalGrams, n = 5))): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir, Some(
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id BIGINT, text STRING"))),
          octet_length(col("text")), Seq("doc_id", "text"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- WARC/WET crawl front door: the documents slice is planted
    //      as TWO container files (one plain .warc, one multi-member
    //      .warc.gz — the Common-Crawl layout), each headed by a
    //      warcinfo record; the face re-splits them with the
    //      Content-Length-honoring reader, keeps the conversion
    //      records, and reconstructs (doc_id, text, content_length).
    //      The oracle recomputes the split relationally from
    //      documents — a torn record, a wrong payload slice, or a
    //      leaked warcinfo row all hash-mismatch ----
    sql(
      "q_warc_ingest",
      """SELECT doc_id, text,
        |  octet_length(encode(text))::BIGINT AS content_length
        |FROM documents
        |WHERE doc_id % 11 = 0 AND doc_id < 2200""".stripMargin) { (s, d) =>
      val dir = warcFixtureDir(s, d)
      graft.sources.Sources.warcRecords(s, dir)
        .filter(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("payload").cast("string").as("text"),
          col("content_length"))
    },

    // ---- WebDataset-style TAR shard export: one deterministic tar
    //      per shard (key-sorted <id>.txt entries, mtime 0 — a
    //      re-export of identical content is BYTE-identical), behind
    //      the same manifest discipline; the face recomputes the
    //      manifest from entries PARSED BACK OUT of the tars, so a
    //      malformed header, wrong padding, or torn entry
    //      hash-mismatches the relational replay ----
    sql(
      "q_export_tar",
      """WITH tot AS (
        |  SELECT sum(octet_length(encode(text)))::BIGINT AS total
        |  FROM documents),
        |ns AS (
        |  SELECT greatest(1, (total + 49151) // 49152)::BIGINT AS n
        |  FROM tot),
        |s AS (
        |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
        |        AS BIGINT) % (SELECT n FROM ns) AS shard,
        |    octet_length(encode(text))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
        |        || chr(1) || coalesce(text, chr(2))),
        |        1, 8) AS BIGINT) AS c
        |  FROM documents)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_tar"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportTarShards(docs, dir,
          targetBytes = 49152L, id = col("doc_id"),
          payload = col("text")): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir),
          octet_length(col("payload")), Seq("key", "payload"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- WebDataset SAMPLE-PAIR tar export (the multimodal loader
    //      shape): each document becomes <key>.bin (payload bytes) +
    //      <key>.json (a metadata record built with plain concat so
    //      BOTH engines produce the identical string); the face
    //      re-pairs samples out of the tars and recomputes the
    //      manifest over key+payload+meta — a swapped metadata entry,
    //      a torn pair, or a stale payload all hash-mismatch ----
    sql(
      "q_export_tar_mm",
      """WITH m AS (
        |  SELECT doc_id::VARCHAR AS key, text,
        |    '{"id":' || doc_id || ',"n":' ||
        |      octet_length(encode(text)) || '}' AS meta
        |  FROM documents),
        |tot AS (
        |  SELECT sum(octet_length(encode(text)) +
        |             octet_length(encode(meta)))::BIGINT AS total
        |  FROM m),
        |ns AS (
        |  SELECT greatest(1, (total + 40959) // 40960)::BIGINT AS n
        |  FROM tot),
        |t AS (
        |  SELECT CAST('0x' || substr(md5(key), 1, 8)
        |      AS BIGINT) % (SELECT n FROM ns) AS shard,
        |    (octet_length(encode(text)) +
        |     octet_length(encode(meta)))::BIGINT AS b,
        |    CAST('0x' || substr(md5(coalesce(key, chr(2))
        |        || chr(1) || coalesce(text, chr(2))
        |        || chr(1) || coalesce(meta, chr(2))),
        |        1, 8) AS BIGINT) AS c
        |  FROM m)
        |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
        |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
        |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
        |  sum(c)::BIGINT AS rb_checksum
        |FROM t GROUP BY 1""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_export_tar_mm"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .withColumn("meta", concat(lit("{\"id\":"), col("doc_id"),
          lit(",\"n\":"), octet_length(col("text")), lit("}")))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportTarSamples(docs, dir,
          targetBytes = 40960L, id = col("doc_id"),
          payload = col("text"), meta = col("meta")): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir),
          octet_length(col("payload")) + octet_length(col("meta")),
          Seq("key", "payload", "meta"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- CRAWL-TO-TRAINING-SHARDS end to end: the WARC containers
    //      are the INPUT of the curation chain (mojibake repair →
    //      Gopher gate → exact dedup) and the gzip-jsonl sharded
    //      export is its OUTPUT — the full path a web-scale corpus
    //      actually takes, in one face. The oracle replays every
    //      stage relationally from documents; the Spark side starts
    //      from the re-split container records and ends at a
    //      manifest-vs-text-shard-read-back join, so a fault at ANY
    //      seam (record split, repair, gate, dedup, shard draw,
    //      jsonl encode, manifest) hash-mismatches ----
    sql(
      "q_warc_curation", {
        val plant = " cafÃ© â€” naÃ¯ve Ã¼ber â€œquoteâ€¦"
        s"""WITH p AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 5 = 0 THEN text || '$plant'
           |      ELSE text END AS raw
           |  FROM documents WHERE doc_id % 11 = 0 AND doc_id < 2200),
           |f AS (
           |  SELECT doc_id, ${graft.ops.Text.fixMojibakeSql("raw")} AS t
           |  FROM p),
           |k AS (SELECT doc_id, t FROM f
           |  WHERE ${TextQueries.gopherKeepSql("t",
                  graft.ops.Text.StopwordSeeds("en"))}),
           |r AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY md5(t)),
           |dd AS (SELECT k.doc_id, k.t FROM k JOIN r USING (doc_id)),
           |tot AS (
           |  SELECT sum(octet_length(encode(t)))::BIGINT AS total FROM dd),
           |ns AS (
           |  SELECT greatest(1, (total + 8191) // 8192)::BIGINT AS n
           |  FROM tot),
           |s AS (
           |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
           |      AS BIGINT) % (SELECT n FROM ns) AS shard,
           |    octet_length(encode(t))::BIGINT AS b,
           |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
           |      || chr(1) || coalesce(t, chr(2))),
           |      1, 8) AS BIGINT) AS c
           |  FROM dd)
           |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
           |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
           |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
           |  sum(c)::BIGINT AS rb_checksum
           |FROM s GROUP BY 1""".stripMargin
      }) { (s, d) =>
      import graft.ops.Text
      val dir = graft.core.Scratch.dir("warc_curation")
      val raw = graft.sources.Sources.warcRecords(s, warcFixtureDir(s, d))
        .filter(col("warc_type") === "conversion")
        .select(
          regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("payload").cast("string").as("text"))
      val planted = raw.select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit(" cafÃ© â€” naÃ¯ve Ã¼ber â€œquoteâ€¦")))
          .otherwise(col("text")).as("raw"))
      val fixed = planted.select(col("doc_id"),
        Text.fixMojibake(col("raw")).as("t"))
      val kept = fixed.filter(
        Text.gopherRules(col("t"), stops = Text.StopwordSeeds("en"))
          .toMap.apply("gopher_keep"))
      val deduped = graft.ops.Dedup.dropExact(
        kept, md5(col("t")), col("doc_id"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportJsonlShards(deduped, dir,
          targetBytes = 8192L, id = col("doc_id"),
          sizeOf = octet_length(col("t")),
          checksumCols = Seq("doc_id", "t")): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir, Some(
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id BIGINT, t STRING"))),
          octet_length(col("t")), Seq("doc_id", "t"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- WARC `response` records → HTML → text: the raw-crawl half
    //      of the front door. The fixture's response records carry a
    //      full HTTP message whose body is the adversarial page around
    //      each document's text; the face strips the HTTP headers
    //      (Content-Length-split payload → httpBody) and extracts with
    //      the mirrored chain. The oracle rebuilds the page from
    //      documents and replays the SAME generated chain — a torn
    //      record, a leaked HTTP header, or a drifted extraction step
    //      all hash-mismatch ----
    sql(
      "q_warc_html",
      s"""WITH h AS (
         |  SELECT doc_id,
         |    '${TextQueries.HtmlWrapA}' || doc_id ||
         |      '${TextQueries.HtmlWrapB}' || text ||
         |      '${TextQueries.HtmlWrapC}' AS html
         |  FROM documents WHERE doc_id % 11 = 0 AND doc_id < 2200)
         |SELECT doc_id, ${graft.ops.Html.htmlTextSql("html")} AS text
         |FROM h""".stripMargin) { (s, d) =>
      graft.sources.Warc.responseHtml(s, warcFixtureDir(s, d))
        .select(
          regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          graft.ops.Html.htmlText(col("html")).as("text"))
    },

    // ---- RAW-CRAWL CURATION end to end: response records → HTTP
    //      strip → HTML extraction → Gopher gate → exact dedup →
    //      gzip-jsonl sharded export — the path a real (non-WET)
    //      crawl takes, every stage replayed relationally by the
    //      oracle through the generated SQL chains ----
    sql(
      "q_warc_html_curation",
      s"""WITH h AS (
         |  SELECT doc_id,
         |    '${TextQueries.HtmlWrapA}' || doc_id ||
         |      '${TextQueries.HtmlWrapB}' || text ||
         |      '${TextQueries.HtmlWrapC}' AS html
         |  FROM documents WHERE doc_id % 11 = 0 AND doc_id < 2200),
         |f AS (
         |  SELECT doc_id, ${graft.ops.Html.htmlTextSql("html")} AS t
         |  FROM h),
         |k AS (SELECT doc_id, t FROM f
         |  WHERE ${TextQueries.gopherKeepSql("t",
                graft.ops.Text.StopwordSeeds("en"))}),
         |r AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY md5(t)),
         |dd AS (SELECT k.doc_id, k.t FROM k JOIN r USING (doc_id)),
         |tot AS (
         |  SELECT sum(octet_length(encode(t)))::BIGINT AS total FROM dd),
         |ns AS (
         |  SELECT greatest(1, (total + 8191) // 8192)::BIGINT AS n
         |  FROM tot),
         |s AS (
         |  SELECT CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
         |      AS BIGINT) % (SELECT n FROM ns) AS shard,
         |    octet_length(encode(t))::BIGINT AS b,
         |    CAST('0x' || substr(md5(coalesce(doc_id::VARCHAR, chr(2))
         |      || chr(1) || coalesce(t, chr(2))),
         |      1, 8) AS BIGINT) AS c
         |  FROM dd)
         |SELECT shard::INT AS shard, count(*)::BIGINT AS n_rows,
         |  sum(b)::BIGINT AS bytes, sum(c)::BIGINT AS checksum,
         |  count(*)::BIGINT AS rb_n_rows, sum(b)::BIGINT AS rb_bytes,
         |  sum(c)::BIGINT AS rb_checksum
         |FROM s GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.ops.{Html, Text}
      val dir = graft.core.Scratch.dir("warc_html_curation")
      val extracted = graft.sources.Warc
        .responseHtml(s, warcFixtureDir(s, d))
        .select(
          regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          Html.htmlText(col("html")).as("t"))
      val kept = extracted.filter(
        Text.gopherRules(col("t"), stops = Text.StopwordSeeds("en"))
          .toMap.apply("gopher_keep"))
      val deduped = graft.ops.Dedup.dropExact(
        kept, md5(col("t")), col("doc_id"))
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportJsonlShards(deduped, dir,
          targetBytes = 8192L, id = col("doc_id"),
          sizeOf = octet_length(col("t")),
          checksumCols = Seq("doc_id", "t")): Unit
      }
      val manifest = graft.sources.Export.readShardManifest(s, dir)
        .select(col("shard"), col("n_rows"), col("bytes"), col("checksum"))
      val rb = graft.sources.Export.shardAggregates(
          graft.sources.Export.readShards(s, dir, Some(
            org.apache.spark.sql.types.StructType.fromDDL(
              "doc_id BIGINT, t STRING"))),
          octet_length(col("t")), Seq("doc_id", "t"))
        .withColumnsRenamed(Map("n_rows" -> "rb_n_rows",
          "bytes" -> "rb_bytes", "checksum" -> "rb_checksum"))
      manifest.join(rb, Seq("shard"))
    },

    // ---- HTTP payload decoding (round-17): raw crawl responses
    //      arrive chunked, gzipped, and in non-UTF-8 charsets — the
    //      fixture cycles all five encodings and the face must
    //      recover the ORIGINAL page text from every one (chunk-size
    //      lines must not leak, gzip must inflate, é/à must decode
    //      via the header OR meta-declared latin-1, and the chosen
    //      charset is emitted). The oracle rebuilds each page from
    //      documents + the fixed latin-1 constants — a leaked chunk
    //      header, a U+FFFD from a wrong charset, or a silent
    //      fallback all hash-mismatch ----
    sql(
      "q_warc_response_decode",
      s"""WITH d AS (
         |  SELECT doc_id, text, (doc_id // 13) % 5 AS m
         |  FROM documents WHERE doc_id % 13 = 0 AND doc_id < 2600)
         |SELECT doc_id,
         |  CASE WHEN m >= 3 THEN 'ISO-8859-1' ELSE 'UTF-8' END
         |    AS charset,
         |  CASE WHEN m = 3
         |      THEN '$Latin1PageA' || doc_id || '$Latin1PageB'
         |    WHEN m = 4
         |      THEN '$MetaPageA' || doc_id || '$Latin1PageB'
         |    ELSE '${TextQueries.HtmlWrapA}' || doc_id ||
         |      '${TextQueries.HtmlWrapB}' || text ||
         |      '${TextQueries.HtmlWrapC}' END AS html
         |FROM d""".stripMargin) { (s, d) =>
      graft.sources.Warc.responseDecoded(s, warcDecodeFixtureDir(s, d))
        .select(
          regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          col("charset"),
          col("text").as("html"))
    },

    // ---- crawl front door END TO END with the decode chain AND
    //      block curation (round-17 capstone): response records →
    //      chunked/gzip/charset decode → marked HTML extraction →
    //      jusText-grade block gate → per-page content reassembly.
    //      The oracle rebuilds every page by encoding mode, replays
    //      the generated marked-step + block-scoring SQL, and
    //      reassembles kept blocks in block order — a leaked chunk
    //      header, one U+FFFD from a wrong charset, or a drifted
    //      block verdict all hash-mismatch ----
    sql(
      "q_warc_block_curation", {
      val blocks = graft.ops.Html.blockScoresSql(
        WarcDecodeOracleSrc, "doc_id", "html",
        graft.ops.Text.StopwordSeeds("en"),
        minStopPpm = TextQueries.BlockStopPpm)
      s"""WITH __blk AS ($blocks)
         |SELECT doc_id, count(*)::BIGINT AS n_blocks,
         |  string_agg(block, chr(10) ORDER BY block_idx) AS text
         |FROM __blk WHERE keep GROUP BY doc_id""".stripMargin
    }) { (s, d) =>
      val pages = graft.sources.Warc
        .responseDecoded(s, warcDecodeFixtureDir(s, d))
        .select(
          regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
            .cast("bigint").as("doc_id"),
          graft.ops.Html.htmlTextMarked(col("text")).as("__mt"))
      graft.ops.Html.blockScores(pages, "doc_id", col("__mt"),
          graft.ops.Text.StopwordSeeds("en"),
          minStopPpm = TextQueries.BlockStopPpm)
        .filter(col("keep"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          array_join(transform(
            array_sort(collect_list(struct(col("block_idx"),
              col("block")))),
            x => x.getField("block")), "\n").as("text"))
    },

    // ---- XML sink/scan round-trip (Spark 4's built-in xml source):
    //      write suppliers as <supplier> elements, read back with a
    //      pinned schema, hash against the parquet-backed oracle —
    //      DuckDB never needs to parse XML itself ----
    sql(
      "q_xml_roundtrip",
      "SELECT s_suppkey, s_name, s_nationkey FROM supplier") { (s, d) =>
      val out = s"$sinkScratch/graft_sink_xml"
      graft.sources.Sinks.xml(
        Tables.supplier(s, d).select("s_suppkey", "s_name", "s_nationkey"),
        out, rowTag = "supplier")
      s.read.option("rowTag", "supplier")
        .schema("s_suppkey bigint, s_name string, s_nationkey bigint")
        .format("xml").load(out)
        .select("s_suppkey", "s_name", "s_nationkey")
    },

    // ---- Avro container round-trip (the row-format interchange
    //      boundary — Kafka/Hive consumers): write one OCF per
    //      partition executor-side, read back one task per container.
    //      No spark-avro connector in this environment, so the
    //      encode/decode rides the Avro core jar directly
    //      (sources/AvroIo.scala); the oracle recomputes the original
    //      columns relationally — only a faithful write→read cycle
    //      hash-matches ----
    sql(
      "q_avro_roundtrip",
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer""".stripMargin) { (s, d) =>
      val out = s"$sinkScratch/graft_sink_avro"
      val cols = Seq("c_custkey", "c_name", "c_nationkey",
        "c_acctbal", "c_mktsegment")
      val src = Tables.customer(s, d).select(cols.map(col): _*)
      graft.sources.AvroIo.write(src, out)
      graft.sources.AvroIo.read(s, out, src.schema)
    },

    // ---- Avro logical-type round-trip (timestamp-micros on long):
    //      the time-typed half of the interchange boundary, through
    //      the same write→read-back cycle against the relational
    //      oracle ----
    sql(
      "q_avro_timestamps",
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderkey % 10 = 0""".stripMargin) { (s, d) =>
      val out = s"$sinkScratch/graft_sink_avro_ts"
      val src = Tables.orders(s, d)
        .filter(col("o_orderkey") % 10 === 0)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      graft.sources.AvroIo.write(src, out)
      graft.sources.AvroIo.read(s, out, src.schema)
    },

    // ---- CSV sink round-trip (interchange format for BI/spreadsheet
    //      consumers; header-ful, partition-owner writes) ----
    sql(
      "q_csv_roundtrip",
      "SELECT r_regionkey, r_name FROM region") { (s, d) =>
      val out = s"$sinkScratch/graft_sink_csv"
      graft.sources.Sinks.csv(
        Tables.region(s, d).select("r_regionkey", "r_name"), out)
      s.read.option("header", "true")
        .schema("r_regionkey int, r_name string")
        .csv(out)
        .select("r_regionkey", "r_name")
    },

    // ---- Multimodal raw-file boundary, both directions: scatter a
    //      deterministic payload per nation row to one raw file each
    //      (Sinks.binaryFiles), gather with the built-in binaryFile
    //      source, sniff the magic bytes. The oracle recomputes every
    //      column RELATIONALLY from the nation table — filename, byte
    //      count, sniffed format, full payload hex — so a correct
    //      answer requires the entire write→list→read→sniff loop to
    //      preserve bytes exactly; the oracle never touches the files ----
    sql(
      "q_binary_ingest",
      """SELECT 'n_' || n_nationkey || '.bin' AS fname,
        |  20::BIGINT AS n_bytes,
        |  CASE n_nationkey % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |       ELSE 'riff' END AS format,
        |  upper(CASE n_nationkey % 3 WHEN 0 THEN '89504E47'
        |             WHEN 1 THEN 'FFD8FFE0' ELSE '52494646' END
        |        || md5(n_name)) AS payload_hex
        |FROM nation""".stripMargin) { (s, d) =>
      val dir = s"$sinkScratch/graft_media_raw"
      val magicHex = when(col("n_nationkey") % 3 === 0, "89504E47")
        .when(col("n_nationkey") % 3 === 1, "FFD8FFE0")
        .otherwise("52494646")
      val staged = Tables.nation(s, d).select(
        concat(lit("n_"), col("n_nationkey"), lit(".bin")).as("fname"),
        unhex(concat(magicHex, md5(col("n_name")))).as("payload"))
      graft.sources.Sinks.binaryFiles(staged, dir, "fname", "payload")
      Sources.binaryFiles(s, dir, "*.bin")
        .select(
          regexp_extract(col("path"), "([^/]+)$", 1).as("fname"),
          col("length").as("n_bytes"),
          graft.ops.Multimodal.sniffFormat(col("content")).as("format"),
          hex(col("content")).as("payload_hex"))
    },

    // ---- P2: drop (column pruning reaches the scan) ----
    sql(
      "q_drop",
      """SELECT c_custkey, c_name, c_nationkey, c_mktsegment
        |FROM customer""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d)
      c.drop(c.columns.filterNot(
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
          .contains).toIndexedSeq: _*)
    },

    // ---- bucketed co-located join: both sides written bucketBy(16)
    //      on the customer key once per JVM (the layout's real
    //      contract — pay one shuffle at write, join exchange-free
    //      forever after; BucketingSpec pins the no-Exchange plan),
    //      then a segment revenue rollup whose oracle is the PLAIN
    //      join over the raw parquet — bucketing must never change a
    //      result, only a plan. Decimal sums: float addition order
    //      would differ between the bucketed and plain plans ----
    sql(
      "q_bucketed_join",
      """SELECT c_mktsegment, count(*) AS n,
        |  sum(o_totalprice::DECIMAL(18,2))::DECIMAL(38,2)::VARCHAR
        |    AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val (to, tc) = bucketedPair(s, d)
      graft.sources.Bucketing.readBucketed(s, to)
        .join(graft.sources.Bucketing.readBucketed(s, tc),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)").cast("string").as("revenue"))
    })

  /** Pre-build the bucketed tables so Bench's `build_s` owns their
    * one-time write cost — like the ANN index artifacts, the layout is
    * amortized by contract, and letting it land inside q_bucketed_join's
    * first timed rep reported build+join as join. */
  def warm(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    bucketedPair(s, d)
    warcFixtureDir(s, d): Unit
    // one-time export builds (content-addressed; a later face call
    // sees the manifest and skips) — index/build cost belongs in
    // build_s, not inside whichever face happens to run first
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    Seq(("graft_export_shards", false), ("graft_export_jsonl", true))
      .foreach { case (name, jsonl) =>
        val dir = s"$sinkScratch/$name"
        if (graft.sources.Versioned
            .currentVersion(s, s"$dir/manifest").isEmpty) {
          if (jsonl)
            graft.sources.Export.exportJsonlShards(docs, dir, 32768L,
              col("doc_id"), octet_length(col("text")),
              Seq("doc_id", "text")): Unit
          else
            graft.sources.Export.exportShards(docs, dir, 65536L,
              col("doc_id"), octet_length(col("text")),
              Seq("doc_id", "text")): Unit
        }
      }
    // the round-16 store faces build-if-absent too — pre-build here
    // so build_s owns the one-time cost (identical content-addressed
    // results either way)
    Seq("graft_export_inc", "graft_export_card", "graft_export_inc_jsonl")
      .foreach { name =>
        val dir = s"$sinkScratch/$name"
        if (graft.sources.Versioned
            .currentVersion(s, s"$dir/manifest").isEmpty) {
          val withLang = name == "graft_export_card"
          val fmt = if (name.endsWith("_jsonl")) "json" else "parquet"
          val src = if (withLang) Tables.documents(s, d)
            .select(col("doc_id"), col("text"), col("lang")) else docs
          graft.sources.Export.exportShardsIncremental(
            src.filter(col("doc_id") % 10 =!= 0), dir, nShards = 8,
            id = col("doc_id"), sizeOf = octet_length(col("text")),
            checksumCols = Seq("doc_id", "text"), format = fmt): Unit
          graft.sources.Export.exportShardsIncremental(
            src, dir, nShards = 8,
            id = col("doc_id"), sizeOf = octet_length(col("text")),
            checksumCols = Seq("doc_id", "text"), format = fmt): Unit
        }
      }
    // round-17 store scaffolds: decode fixture, profile sketches,
    // the profile-refresh two-step, and the compaction three-step —
    // all build-if-absent, so the faces time reads/refreshes only
    warcDecodeFixtureDir(s, d): Unit
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, text STRING")
    if (graft.sources.Versioned.currentVersion(
        s, s"$sinkScratch/graft_export_jsonl/profile_kmv").isEmpty) {
      graft.sources.Export.publishShardProfile(s,
        s"$sinkScratch/graft_export_jsonl", ddl,
        key = col("text"), v = length(col("text")).cast("long"))
    }
    locally {
      val dir = s"$sinkScratch/graft_profile_refresh"
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShardsIncremental(
          docs.filter(col("doc_id") % 2 === 0), dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        graft.sources.Export.publishShardProfile(s, dir, ddl,
          key = col("text"), v = length(col("text")).cast("long"))
        graft.sources.Export.exportShardsIncremental(docs, dir,
          nShards = 8, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        graft.sources.Export.refreshShardProfile(s, dir, ddl,
          key = col("text"), v = length(col("text")).cast("long")): Unit
      }
    }
    locally {
      val dir = s"$sinkScratch/graft_store_compact"
      if (graft.sources.Versioned
          .currentVersion(s, s"$dir/manifest").isEmpty) {
        graft.sources.Export.exportShardsIncremental(
          docs.filter(col("doc_id") % 2 === 0), dir, nShards = 8,
          id = col("doc_id"), sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        graft.sources.Export.exportShardsIncremental(docs, dir,
          nShards = 8, id = col("doc_id"),
          sizeOf = octet_length(col("text")),
          checksumCols = Seq("doc_id", "text")): Unit
        val takedown = docs.filter(col("doc_id") % 41 === 0)
          .select(col("doc_id").cast("string"))
          .collect().map(_.getString(0)).toSeq
        graft.sources.Export.retractShards(s, dir, "doc_id", takedown,
          octet_length(col("text")), Seq("doc_id", "text")): Unit
        graft.sources.Export.compactStore(s, dir, ddl,
          octet_length(col("text")), Seq("doc_id", "text")): Unit
      }
    }
  }

  /** Bucketed (orders, customer) tables, written ONCE per JVM per sf
    * dir into the session catalog (bucket metadata cannot ride plain
    * parquet paths). Deterministic content — caching cannot change
    * results, only skip the rewrite. */
  private def bucketedPair(
      s: org.apache.spark.sql.SparkSession, d: String): (String, String) =
    graft.core.Scratch.once(s"bucketed:$d") {
      val tag = java.lang.Long.toHexString(
        java.lang.Integer.toUnsignedLong(d.hashCode))
      val to = s"b_orders_$tag"
      val tc = s"b_customer_$tag"
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, d).select("o_custkey", "o_totalprice"),
        to, Seq("o_custkey"), numBuckets = 16)
      graft.sources.Bucketing.writeBucketed(
        Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        tc, Seq("c_custkey"), numBuckets = 16)
      (to, tc)
    }
}
