package graft.queries

import graft.core.{QueryDef, Tables}
import graft.etl.Indexes
import graft.ops.Nest
import graft.sources.Sources
import org.apache.spark.sql.functions._

/** Index-assembly surface (reference: indexes/DonorIndex.scala,
  * DataAccess.scala): the TPC-H analog nested index oracle-checked at
  * any SF, the DUO data-access composition oracle-checked over the
  * clinical fixtures, and the full donor index as a rows-only check
  * (its golden assertions live in IndexesSpec).
  */
object IndexQueries {
  import QueryDef.sql
  import SourceQueries.FixtureDir

  /** Per-session clinical-inputs pin: `ClinicalInputs.fromDir` builds
    * 16 reader plans (12 TSV header resolutions, driver-side file IO)
    * — measured ~1.0 s of pure scaffolding PER FACE × 16 faces
    * (BreakdownProbe, round-17 triage of the q_index_refresh_stored
    * growth). The inputs are immutable DataFrame plans; pinning them
    * per session keeps every face timing its operator, not the
    * fixture plumbing. Faces that need a modified slice still
    * `in.copy(...)` — plans are shareable. */
  private val inCache = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession, Indexes.ClinicalInputs]()
  private def clinicalIn(
      s: org.apache.spark.sql.SparkSession): Indexes.ClinicalInputs =
    inCache.synchronized {
      var v = inCache.get(s)
      if (v == null) {
        v = Indexes.ClinicalInputs.fromDir(s, FixtureDir)
        inCache.put(s, v)
      }
      v
    }

  /** The index metadata every clinical index face builds with. */
  private val Meta =
    Seq("dictionary_version" -> "9.9", "study_version" -> "v42")

  val defs: Seq[QueryDef] = Seq(

    // ---- nested index assembly (customer ⋈ nation ⋈ orders) ----
    // Canonicalized per Canon: dates as yyyy-MM-dd strings, money as
    // DECIMAL(18,2) strings, nested columns as to_json.
    sql(
      "q_customer_index",
      """WITH n AS (
        |  SELECT n_nationkey,
        |    [struct_pack(name := n_name, regionkey := n_regionkey)] AS nation
        |  FROM nation),
        |o AS (
        |  SELECT o_custkey,
        |    list(struct_pack(orderkey := o_orderkey,
        |          orderdate := strftime(o_orderdate, '%Y-%m-%d'),
        |          totalprice := o_totalprice::DECIMAL(18,2)::VARCHAR)
        |      ORDER BY o_orderkey) AS orders,
        |    count(*) AS n,
        |    round(sum(o_totalprice), 2)::DECIMAL(18,2)::VARCHAR AS spend
        |  FROM orders GROUP BY 1)
        |SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        |  to_json(n.nation) AS nation_json,
        |  to_json(o.orders) AS orders_json,
        |  to_json(struct_pack(n_orders := coalesce(o.n, 0),
        |    total_spend := coalesce(o.spend, '0.00'),
        |    has_orders := coalesce(o.n, 0) > 0)) AS summary_json
        |FROM customer c
        |LEFT JOIN n ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN o ON c.c_custkey = o.o_custkey""".stripMargin) { (s, d) =>
      Indexes.customerIndex(
          Tables.customer(s, d), Tables.nation(s, d), Tables.orders(s, d))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          Canon.js(col("nation")).as("nation_json"),
          Canon.js(transform(col("orders"), o => struct(
            o.getField("orderkey").as("orderkey"),
            Canon.dateStr(o.getField("orderdate")).as("orderdate"),
            Canon.money(o.getField("totalprice")).as("totalprice"))))
            .as("orders_json"),
          Canon.js(struct(
            col("summary.n_orders").as("n_orders"),
            Canon.money(col("summary.total_spend")).as("total_spend"),
            col("summary.has_orders").as("has_orders"))).as("summary_json"))
    },

    // ---- two-level nest: customer → orders → lineitems ----
    sql(
      "q_two_level_nest",
      """WITH li AS (
        |  SELECT l_orderkey,
        |    list(struct_pack(linenumber := l_linenumber,
        |          quantity := l_quantity)
        |      ORDER BY l_linenumber, l_quantity) AS items
        |  FROM lineitem GROUP BY 1),
        |o AS (
        |  SELECT o.o_custkey,
        |    list(struct_pack(orderkey := o.o_orderkey,
        |          orderdate := strftime(o.o_orderdate, '%Y-%m-%d'),
        |          items := li.items)
        |      ORDER BY o.o_orderkey) AS orders
        |  FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
        |  GROUP BY 1)
        |SELECT c.c_custkey, c.c_name, to_json(o.orders) AS orders_json
        |FROM customer c LEFT JOIN o ON c.c_custkey = o.o_custkey""".stripMargin) {
      (s, d) =>
        val items = Nest.nestChildren(
          Tables.lineitem(s, d), Seq("l_orderkey"),
          Seq(col("l_linenumber").as("linenumber"),
            col("l_quantity").as("quantity")), "items")
        val ordersRaw = Tables.orders(s, d)
        val orders = ordersRaw
          .join(items, ordersRaw("o_orderkey") === items("l_orderkey"), "left")
          .groupBy(col("o_custkey"))
          .agg(sort_array(collect_list(struct(
            col("o_orderkey").as("orderkey"),
            Canon.dateStr(col("o_orderdate")).as("orderdate"),
            col("items")))).as("orders"))
        Tables.customer(s, d)
          .join(orders, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"), col("c_name"),
            Canon.js(col("orders")).as("orders_json"))
    },

    // ---- DUO data-access codes (split → explode → lookup → nest) ----
    sql(
      "q_data_access",
      s"""WITH duo AS (
         |  SELECT id, name FROM read_json_auto('$FixtureDir/duo_terms.jsonl.gz')),
         |s AS (
         |  SELECT study_id, access_limitations,
         |    unnest(string_split(access_requirements, ';')) AS req
         |  FROM read_csv('$FixtureDir/study.tsv', delim='\\t', header=true,
         |                all_varchar=true)),
         |j AS (
         |  SELECT s.study_id,
         |    d1.name || ' (' || s.access_limitations || ')'
         |      AS access_limitations,
         |    d2.name || ' (' || trim(s.req) || ')' AS access_requirements
         |  FROM s
         |  LEFT JOIN duo d1 ON s.access_limitations = d1.id
         |  LEFT JOIN duo d2 ON trim(s.req) = d2.id
         |  WHERE s.req IS NOT NULL AND trim(s.req) <> ''),
         |g AS (
         |  SELECT study_id, access_limitations,
         |    list(DISTINCT access_requirements ORDER BY access_requirements)
         |      AS access_requirements
         |  FROM j GROUP BY 1, 2)
         |SELECT study_id,
         |  to_json(struct_pack(access_limitations := access_limitations,
         |    access_requirements := access_requirements))
         |    AS data_access_codes_json
         |FROM g""".stripMargin) { (s, _) =>
      Indexes.dataAccessCodes(
          Sources.tsv(s, s"$FixtureDir/study.tsv"),
          Sources.jsonLines(s, s"$FixtureDir/duo_terms.jsonl.gz"))
        .select(col("study_id"),
          Canon.js(col("data_access_codes")).as("data_access_codes_json"))
    },

    // ---- diagnosis branch: MONDO/ICD main categories + treatments
    //      and follow-ups nested under each diagnosis ----
    sql(
      "q_diagnosis_nest",
      s"""WITH diag AS (SELECT * FROM read_csv('$FixtureDir/diagnosis.tsv',
         |    delim='\\t', header=true, all_varchar=true)),
         |tr AS (SELECT * FROM read_csv('$FixtureDir/treatment.tsv',
         |    delim='\\t', header=true, all_varchar=true)),
         |fu AS (SELECT * FROM read_csv('$FixtureDir/follow_up.tsv',
         |    delim='\\t', header=true, all_varchar=true)),
         |mondo_mc AS (
         |  SELECT id, min(a.name || ' (' || a.id || ')') AS mc
         |  FROM (SELECT id, unnest(ancestors) AS a
         |        FROM read_json_auto('$FixtureDir/mondo_terms.jsonl.gz'))
         |  WHERE list_contains(a.parents,
         |    'disease or disorder (MONDO:0000001)')
         |  GROUP BY id),
         |icd_mc AS (
         |  SELECT id, min(a.name || ' (' || a.id || ')') AS mc
         |  FROM (SELECT regexp_extract(id, '^(.*)\\|([1-9]*)', 1) AS id,
         |               unnest(ancestors) AS a
         |        FROM read_json_auto('$FixtureDir/icd_terms.jsonl.gz'))
         |  WHERE regexp_matches(a.id, '^[A-Z][0-9]{2}-[A-Z][0-9]{2}')
         |  GROUP BY id),
         |trn AS (
         |  SELECT submitter_diagnosis_id,
         |    list(struct_pack(
         |      submitter_treatment_id := submitter_treatment_id,
         |      treatment_type := treatment_type,
         |      treatment_intent := treatment_intent)
         |      ORDER BY submitter_treatment_id, treatment_type,
         |        treatment_intent) AS treatments
         |  FROM tr GROUP BY 1),
         |fun AS (
         |  SELECT submitter_diagnosis_id,
         |    list(struct_pack(
         |      submitter_follow_up_id := submitter_follow_up_id,
         |      days_to_follow_up := days_to_follow_up,
         |      disease_status := disease_status)
         |      ORDER BY submitter_follow_up_id, days_to_follow_up,
         |        disease_status) AS follow_ups
         |  FROM fu GROUP BY 1),
         |enriched AS (
         |  SELECT d.*, m.mc AS mondo_main_category,
         |    i.mc AS icd_main_category, trn.treatments, fun.follow_ups
         |  FROM diag d
         |  LEFT JOIN mondo_mc m ON d.diagnosis_mondo_code = m.id
         |  LEFT JOIN icd_mc i ON d.diagnosis_ICD_code = i.id
         |  LEFT JOIN trn USING (submitter_diagnosis_id)
         |  LEFT JOIN fun USING (submitter_diagnosis_id))
         |SELECT study_id, submitter_donor_id,
         |  to_json(list(struct_pack(
         |    submitter_diagnosis_id := submitter_diagnosis_id,
         |    diagnosis_mondo_code := diagnosis_mondo_code,
         |    diagnosis_ICD_code := diagnosis_ICD_code,
         |    age_at_diagnosis := age_at_diagnosis,
         |    is_cancer := is_cancer,
         |    mondo_main_category := mondo_main_category,
         |    icd_main_category := icd_main_category,
         |    treatments := treatments,
         |    follow_ups := follow_ups) ORDER BY submitter_diagnosis_id))
         |    AS diagnoses_json
         |FROM enriched GROUP BY 1, 2""".stripMargin) { (s, _) =>
      Indexes.diagnosesPerDonor(
          diagnosis = Sources.tsv(s, s"$FixtureDir/diagnosis.tsv"),
          treatment = Sources.tsv(s, s"$FixtureDir/treatment.tsv"),
          followUp = Sources.tsv(s, s"$FixtureDir/follow_up.tsv"),
          mondoTerms = Sources.jsonLines(s, s"$FixtureDir/mondo_terms.jsonl.gz"),
          icdTerms = Sources.jsonLines(s, s"$FixtureDir/icd_terms.jsonl.gz"))
        .select(col("study_id"), col("submitter_donor_id"),
          Canon.js(col("diagnoses")).as("diagnoses_json"))
    },

    // ---- family / family-history / exposure donor nests ----
    sql(
      "q_donor_nests",
      s"""WITH donor AS (SELECT * FROM read_csv('$FixtureDir/donor.tsv',
         |    delim='\\t', header=true, all_varchar=true)),
         |fam AS (
         |  SELECT submitter_donor_id,
         |    list(struct_pack(submitter_family_id := submitter_family_id,
         |      family_type := family_type,
         |      relationship_to_proband := relationship_to_proband)
         |      ORDER BY submitter_family_id, family_type,
         |        relationship_to_proband) AS family_relationships
         |  FROM read_csv('$FixtureDir/family.tsv', delim='\\t',
         |    header=true, all_varchar=true) GROUP BY 1),
         |fh AS (
         |  SELECT submitter_donor_id,
         |    list(struct_pack(
         |      submitter_family_condition_id := submitter_family_condition_id,
         |      family_condition_name := family_condition_name,
         |      family_condition_age := family_condition_age,
         |      family_condition_relationship := family_condition_relationship)
         |      ORDER BY submitter_family_condition_id) AS family_conditions
         |  FROM read_csv('$FixtureDir/family_history.tsv', delim='\\t',
         |    header=true, all_varchar=true) GROUP BY 1),
         |ex AS (
         |  SELECT submitter_donor_id,
         |    list(struct_pack(smoking_status := smoking_status,
         |      alcohol_status := alcohol_status)
         |      ORDER BY smoking_status, alcohol_status) AS exposures
         |  FROM read_csv('$FixtureDir/exposure.tsv', delim='\\t',
         |    header=true, all_varchar=true) GROUP BY 1)
         |SELECT d.study_id, d.submitter_donor_id,
         |  to_json(fam.family_relationships) AS family_relationships_json,
         |  to_json(fh.family_conditions) AS family_conditions_json,
         |  to_json(ex.exposures) AS exposures_json
         |FROM donor d
         |LEFT JOIN fam USING (submitter_donor_id)
         |LEFT JOIN fh USING (submitter_donor_id)
         |LEFT JOIN ex USING (submitter_donor_id)""".stripMargin) { (s, _) =>
      Indexes.donorNests(
          donor = Sources.tsv(s, s"$FixtureDir/donor.tsv"),
          family = Sources.tsv(s, s"$FixtureDir/family.tsv"),
          familyHistory = Sources.tsv(s, s"$FixtureDir/family_history.tsv"),
          exposure = Sources.tsv(s, s"$FixtureDir/exposure.tsv"))
        .select(col("study_id"), col("submitter_donor_id"),
          Canon.js(col("family_relationships"))
            .as("family_relationships_json"),
          Canon.js(col("family_conditions")).as("family_conditions_json"),
          Canon.js(col("exposures")).as("exposures_json"))
    },

    // ---- reference-shape study summary: per-category countDistinct
    //      matrices over the full universe + clinical availability ----
    sql(
      "q_study_summary",
      s"""WITH donor AS (SELECT * FROM read_csv('$FixtureDir/donor.tsv',
         |    delim='\\t', header=true, all_varchar=true)),
         |f AS (SELECT * FROM read_csv('$FixtureDir/file.tsv',
         |    delim='\\t', header=true, all_varchar=true)),
         |dpf AS (
         |  SELECT f.study_id, f.submitter_donor_id, f.file_name,
         |    f.data_category, f.experimental_strategy
         |  FROM f JOIN donor USING (study_id, submitter_donor_id)),
         |studies AS (SELECT DISTINCT study_id FROM dpf),
         |dc AS (
         |  SELECT s.study_id,
         |    to_json(list(struct_pack(key := c.data_category,
         |      donors := coalesce(p.donors, 0),
         |      files := coalesce(p.files, 0)) ORDER BY c.data_category))
         |      AS data_category_json
         |  FROM studies s
         |  CROSS JOIN (SELECT DISTINCT data_category FROM dpf) c
         |  LEFT JOIN (
         |    SELECT study_id, data_category,
         |      count(DISTINCT submitter_donor_id) AS donors,
         |      count(DISTINCT file_name) AS files
         |    FROM dpf GROUP BY 1, 2) p
         |  ON s.study_id = p.study_id AND c.data_category = p.data_category
         |  GROUP BY 1),
         |es AS (
         |  SELECT s.study_id,
         |    to_json(list(struct_pack(key := c.experimental_strategy,
         |      donors := coalesce(p.donors, 0),
         |      files := coalesce(p.files, 0))
         |      ORDER BY c.experimental_strategy))
         |      AS experimental_strategy_json
         |  FROM studies s
         |  CROSS JOIN (SELECT DISTINCT experimental_strategy FROM dpf) c
         |  LEFT JOIN (
         |    SELECT study_id, experimental_strategy,
         |      count(DISTINCT submitter_donor_id) AS donors,
         |      count(DISTINCT file_name) AS files
         |    FROM dpf GROUP BY 1, 2) p
         |  ON s.study_id = p.study_id
         |    AND c.experimental_strategy = p.experimental_strategy
         |  GROUP BY 1),
         |clin AS (
         |  SELECT study_id,
         |    to_json(list(struct_pack(key := key, donors := donors)
         |      ORDER BY key)) AS clinical_data_available_json
         |  FROM (
         |    SELECT study_id, key,
         |      count(DISTINCT submitter_donor_id) AS donors
         |    FROM (
         |      SELECT study_id, 'diagnosis' AS key, submitter_donor_id
         |      FROM read_csv('$FixtureDir/diagnosis.tsv', delim='\\t',
         |        header=true, all_varchar=true)
         |      UNION ALL SELECT study_id, 'phenotype', submitter_donor_id
         |      FROM read_csv('$FixtureDir/phenotype.tsv', delim='\\t',
         |        header=true, all_varchar=true)
         |      UNION ALL SELECT study_id, 'treatment', submitter_donor_id
         |      FROM read_csv('$FixtureDir/treatment.tsv', delim='\\t',
         |        header=true, all_varchar=true)
         |      UNION ALL SELECT study_id, 'exposure', submitter_donor_id
         |      FROM read_csv('$FixtureDir/exposure.tsv', delim='\\t',
         |        header=true, all_varchar=true)
         |      UNION ALL SELECT study_id, 'follow_up', submitter_donor_id
         |      FROM read_csv('$FixtureDir/follow_up.tsv', delim='\\t',
         |        header=true, all_varchar=true)
         |      UNION ALL SELECT study_id, 'family_history', submitter_donor_id
         |      FROM read_csv('$FixtureDir/family_history.tsv', delim='\\t',
         |        header=true, all_varchar=true)
         |      UNION ALL SELECT study_id, 'family', submitter_donor_id
         |      FROM read_csv('$FixtureDir/family.tsv', delim='\\t',
         |        header=true, all_varchar=true))
         |    GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT coalesce(dc.study_id, es.study_id, clin.study_id)
         |    AS study_id,
         |  dc.data_category_json, es.experimental_strategy_json,
         |  clin.clinical_data_available_json
         |FROM dc
         |FULL JOIN es ON dc.study_id = es.study_id
         |FULL JOIN clin ON dc.study_id = clin.study_id""".stripMargin) {
      (s, _) =>
        Canon.flattenNested(Indexes.studySummary(
          clinicalIn(s)))
    },

    // ---- full index products over the clinical fixtures, each with
    //      a complete DuckDB oracle recomputing the whole nested
    //      document (IndexOracles); outputs are Canon-flattened ----
    sql("q_donor_index", IndexOracles.donorIndexSql) { (s, _) =>
      Canon.flattenNested(Indexes.donorIndex(
        clinicalIn(s),
        meta = Meta))
    },

    sql("q_study_index", IndexOracles.studyIndexSql) { (s, _) =>
      Canon.flattenNested(Indexes.studyIndex(
        clinicalIn(s),
        meta = Meta))
    },

    sql("q_file_index", IndexOracles.fileIndexSql) { (s, _) =>
      Canon.flattenNested(Indexes.fileIndex(
        clinicalIn(s),
        meta = Meta))
    },

    // ---- incremental refresh == full rebuild (same oracle as
    //      q_study_index): the prior snapshot was built before donor
    //      DO002's files landed, so it misses GS001's Imaging/
    //      Histology/WXS everywhere — including GS002's zero-fill
    //      rows. Refreshing ONLY GS001 must reproduce the full
    //      rebuild byte-for-byte: the rebuilt doc zero-fills against
    //      the prior universe, and the unchanged GS002 doc gets the
    //      reintroduced categories patched in as zero rows ----
    sql("q_index_refresh", IndexOracles.studyIndexSql) { (s, _) =>
      val in = clinicalIn(s)
      Canon.flattenNested(
        Indexes.refreshStudyIndex(stalePrior(s), in, Seq("GS001"), Meta))
    },

    // ---- STORED-snapshot refresh == full rebuild (same oracle as
    //      q_study_index): the store was written from the same stale
    //      build (per-JVM scaffolding), the refresh dynamic-overwrites
    //      ONLY GS001's partition + republishes the dim-sized
    //      universe side table, and the read view's VIRTUAL zero-fill
    //      must reproduce the full rebuild byte-for-byte — including
    //      GS002's zero rows for the categories DO002's files
    //      reintroduce, which the store patches at READ time instead
    //      of rewriting GS002's partition. Refresh is idempotent
    //      under re-delivery, so bench reps replay it safely ----
    sql("q_index_refresh_stored", IndexOracles.studyIndexSql) { (s, _) =>
      val in = clinicalIn(s)
      val dir = stalePriorStore(s)
      Indexes.refreshStudyIndexStore(s, dir, in, Seq("GS001"), Meta)
      Canon.flattenNested(Indexes.readStudyIndexStore(s, dir))
    },

    // ---- donor-product refresh == full rebuild (same oracle as
    //      q_donor_index) ----
    sql("q_donor_refresh", IndexOracles.donorIndexSql) { (s, _) =>
      val in = clinicalIn(s)
      Canon.flattenNested(
        Indexes.refreshDonorIndex(staleDonorPrior(s), in, Seq("GS001"), Meta))
    },

    // ---- file-product refresh == full rebuild (same oracle as
    //      q_file_index): the stored prior predates DO002's files, so
    //      refreshing GS001 must reintroduce them byte-for-byte ----
    sql("q_file_refresh", IndexOracles.fileIndexSql) { (s, _) =>
      val in = clinicalIn(s)
      Canon.flattenNested(
        Indexes.refreshFileIndex(staleFilePrior(s), in, Seq("GS001"), Meta))
    },

    // ---- STORED donor/file refreshes (the study store's siblings —
    //      no universe patch, so the store is partition-swap only):
    //      refresh GS001's partition, read view == full rebuild ----
    sql("q_donor_refresh_stored", IndexOracles.donorIndexSql) { (s, _) =>
      val in = clinicalIn(s)
      val dir = staleDonorStore(s)
      Indexes.refreshDocIndexStore(
        dir, Indexes.donorIndex(_, Meta), in, Seq("GS001"))
      Canon.flattenNested(Indexes.readDocIndexStore(s, dir))
    },

    sql("q_file_refresh_stored", IndexOracles.fileIndexSql) { (s, _) =>
      val in = clinicalIn(s)
      val dir = staleFileStore(s)
      Indexes.refreshDocIndexStore(
        dir, Indexes.fileIndex(_, Meta), in, Seq("GS001"))
      Canon.flattenNested(Indexes.readDocIndexStore(s, dir))
    })

  /** The refresh scenarios' two stale inputs. GS001 before donor
    * DO002's files landed: the study and file products' prior. */
  private def withoutDo002Files(
      s: org.apache.spark.sql.SparkSession): Indexes.ClinicalInputs = {
    val in = clinicalIn(s)
    in.copy(file = in.file.filter(
      !(col("study_id") === "GS001" && col("submitter_donor_id") === "DO002")))
  }

  /** GS001 before its phenotypes landed: the donor product's prior. */
  private def withoutGs001Phenotypes(
      s: org.apache.spark.sql.SparkSession): Indexes.ClinicalInputs = {
    val in = clinicalIn(s)
    in.copy(phenotype = in.phenotype.filter(col("study_id") =!= "GS001"))
  }

  /** The refresh scenario's STORED prior snapshot (the operator's real
    * contract — refreshes read the last build from disk, they don't
    * recompute it): built once per JVM into Scratch, read as parquet
    * thereafter, so what q_index_refresh times is the refresh itself,
    * not the simulation scaffolding. */
  private def storedPrior(s: org.apache.spark.sql.SparkSession, name: String)(
      index: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    s.read.parquet(graft.core.Scratch.onceDir(name, FixtureDir)(
      index.coalesce(1).write.mode("overwrite").parquet(_)))

  private def stalePrior(s: org.apache.spark.sql.SparkSession) =
    storedPrior(s, "stale_prior_index")(
      Indexes.studyIndex(withoutDo002Files(s), Meta))

  private def staleDonorPrior(s: org.apache.spark.sql.SparkSession) =
    storedPrior(s, "stale_donor_prior_index")(
      Indexes.donorIndex(withoutGs001Phenotypes(s), Meta))

  private def staleFilePrior(s: org.apache.spark.sql.SparkSession) =
    storedPrior(s, "stale_file_prior_index")(
      Indexes.fileIndex(withoutDo002Files(s), Meta))

  /** The stored-snapshot refresh scenarios' PRIOR STORES (per JVM):
    * the same stale builds as [[stalePrior]], [[staleDonorPrior]] and
    * [[staleFilePrior]], written through [[Indexes.writeStudyIndexStore]]
    * / [[Indexes.writeDocIndexStore]] so the `*_refresh_stored` faces
    * time the partition-pruned refresh + read view, not the scaffold. */
  private def stalePriorStore(s: org.apache.spark.sql.SparkSession) =
    graft.core.Scratch.onceDir("stale_prior_store", FixtureDir)(
      Indexes.writeStudyIndexStore(
        Indexes.studyIndex(withoutDo002Files(s), Meta), _))

  private def staleDonorStore(s: org.apache.spark.sql.SparkSession) =
    graft.core.Scratch.onceDir("stale_donor_store", FixtureDir)(
      Indexes.writeDocIndexStore(
        Indexes.donorIndex(withoutGs001Phenotypes(s), Meta), _))

  private def staleFileStore(s: org.apache.spark.sql.SparkSession) =
    graft.core.Scratch.onceDir("stale_file_store", FixtureDir)(
      Indexes.writeDocIndexStore(
        Indexes.fileIndex(withoutDo002Files(s), Meta), _))

  /** Materialize the per-JVM stored-prior snapshots OUTSIDE any timed
    * region — they are scenario scaffolding (the refresh operators'
    * contract reads a prior build from disk), not refresh cost. Bench
    * calls this during warmup so q_index_refresh / q_donor_refresh
    * time the refresh itself. */
  def warm(s: org.apache.spark.sql.SparkSession): Unit = {
    stalePrior(s)
    staleDonorPrior(s)
    staleFilePrior(s)
    stalePriorStore(s)
    staleDonorStore(s)
    staleFileStore(s): Unit
  }
}
