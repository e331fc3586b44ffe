package graft.etl

import graft.core.ConcurrentActions
import graft.functions.GraftFunctions
import graft.ops.{Nest, Ontology, Summary}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Index assembly — composing the nest/summary/ontology operators into
  * the reference's output products (reference: indexes/DonorIndex
  * .scala:21-113, indexes/DataAccess.scala:9-43, indexes/Summary
  * .scala:18-121): one row per parent entity carrying every child
  * table as a sorted array-of-struct column, a summary struct, and
  * literal metadata stamps.
  *
  * Scale shape: every child nest is ONE shuffle on the parent key and
  * the assembly is a chain of left equi-joins on that same key, so at
  * 100 TB the whole index builds in parent-key partitioning end to
  * end; dimension sides (study, DUO codes, ontology terms) are
  * explicitly broadcast. The reference's six chained full-outer
  * summary joins (Summary.scala:115-121) are replaced by single-pass
  * aggregation per child source.
  */
object Indexes {

  private val DonorKey = Seq("study_id", "submitter_donor_id")
  private val DiagKey = DonorKey :+ "submitter_diagnosis_id"

  /** The full 12-entity clinical model plus the 4 ontology term tables
    * (reference: PreProcessETLConfig.scala entity list; ProcessETL
    * .scala:40-60 extract). Bundling the frames keeps the index
    * builders' signatures stable as branches are added. The fields
    * are in [[ClinicalInputs.Entities]] then [[ClinicalInputs.Terms]]
    * order. */
  final case class ClinicalInputs(
      donor: DataFrame, study: DataFrame, phenotype: DataFrame,
      file: DataFrame, biospecimen: DataFrame, samples: DataFrame,
      diagnosis: DataFrame, treatment: DataFrame, followUp: DataFrame,
      exposure: DataFrame, family: DataFrame, familyHistory: DataFrame,
      hpoTerms: DataFrame, mondoTerms: DataFrame, icdTerms: DataFrame,
      duoTerms: DataFrame) {

    /** The frame of one entity or term table. */
    def frame(t: ClinicalInputs.Table): DataFrame =
      productElement(productElementNames.indexOf(t.field))
        .asInstanceOf[DataFrame]

    /** `f` applied to the 12 entity frames; the term tables pass
      * through. */
    def mapEntities(f: DataFrame => DataFrame): ClinicalInputs =
      ClinicalInputs.build(e => f(frame(e)), frame)
  }

  /** Explicit ontology term-table schema (field order matches what
    * Spark's JSON inference produces, so plans are identical — minus
    * the inference pass, which double-reads every term file and is
    * the wrong default at scale; Sources.scala scale notes). */
  val TermSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "ancestors array<struct<id:string,name:string,parents:array<string>>>," +
        "id string, is_leaf boolean, name string, parents array<string>")

  object ClinicalInputs {
    import graft.sources.Sources
    import org.apache.spark.sql.SparkSession

    /** One table of the clinical model: its [[ClinicalInputs]] field
      * (also its directory in a [[writeClinicalCatalog]] layout), its
      * file in an input directory and, for an entity, the key columns
      * its surrogate key hashes ([[PreProcess.mintKey]]). */
    final case class Table(
        field: String, file: String, keyCols: Seq[String] = Nil) {
      /** The sanitized file name: the entity's stage-1 directory and
        * its dictionary schema name. */
      def stage: String = GraftFunctions.sanitize(file)

      /** The file stem: the entity name its surrogate key and internal
        * id carry (`sample_registration`, `follow_up`, …). */
      def entity: String = file.takeWhile(_ != '.')
    }

    /** The 12 entity TSVs, in field order, with the reference's key
      * columns (PreProcessUtils.scala:17-91). */
    val Entities: Seq[Table] = {
      val donor = Seq("study_id", "submitter_donor_id")
      Seq(
        Table("donor", "donor.tsv", donor),
        Table("study", "study.tsv", Seq("study_id")),
        Table("phenotype", "phenotype.tsv",
          donor ++ Seq("submitter_phenotype_id", "phenotype_HPO_code")),
        Table("file", "file.tsv", donor :+ "file_name"),
        Table("biospecimen", "biospecimen.tsv",
          donor :+ "submitter_biospecimen_id"),
        Table("samples", "sample_registration.tsv",
          donor ++ Seq("submitter_biospecimen_id", "submitter_sample_id")),
        Table("diagnosis", "diagnosis.tsv",
          donor :+ "submitter_diagnosis_id"),
        Table("treatment", "treatment.tsv",
          donor :+ "submitter_treatment_id"),
        Table("followUp", "follow_up.tsv", donor :+ "submitter_follow_up_id"),
        Table("exposure", "exposure.tsv", donor),
        Table("family", "family.tsv",
          Seq("study_id", "submitter_family_id", "submitter_donor_id")),
        Table("familyHistory", "family_history.tsv",
          donor :+ "submitter_family_condition_id"))
    }

    /** The 4 ontology term files, in field order after the entities. */
    val Terms: Seq[Table] = Seq(
      Table("hpoTerms", "terms.jsonl.gz"),
      Table("mondoTerms", "mondo_terms.jsonl.gz"),
      Table("icdTerms", "icd_terms.jsonl.gz"),
      Table("duoTerms", "duo_terms.jsonl.gz"))

    /** One frame per entity and per term table. */
    private[etl] def build(entity: Table => DataFrame,
        term: Table => DataFrame): ClinicalInputs = {
      val f = (Entities.map(entity) ++ Terms.map(term)).toIndexedSeq
      ClinicalInputs(f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7), f(8),
        f(9), f(10), f(11), f(12), f(13), f(14), f(15))
    }

    private def readTerm(spark: SparkSession, dir: String)(
        t: Table): DataFrame =
      Sources.jsonLines(spark, s"$dir/${t.file}", TermSchema)

    /** Read every entity + term table from one fixture directory. */
    def fromDir(spark: SparkSession, dir: String): ClinicalInputs =
      build(e => Sources.tsv(spark, s"$dir/${e.file}"), readTerm(spark, dir))

    /** Pre-processed entities keyed by [[Table.stage]] (as
      * [[Pipeline.preProcessStage]] returns them) plus the term files
      * of `inputDir`. */
    def fromStage(spark: SparkSession, inputDir: String,
        entities: Map[String, DataFrame]): ClinicalInputs =
      build(e => entities(e.stage), readTerm(spark, inputDir))
  }

  /** MONDO root-membership main-category rule (reference
    * ProcessETLUtils.scala:244-245). */
  val MondoRoot: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    anc => array_contains(anc.getField("parents"),
      "disease or disorder (MONDO:0000001)")

  /** ICD chapter-range regex main-category rule (reference
    * ProcessETLUtils.scala:247: `^[A-Z][0-9]{2}-[A-Z][0-9]{2}`). */
  val IcdChapterRoot
      : org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    anc => anc.getField("id").rlike("^[A-Z][0-9]{2}-[A-Z][0-9]{2}")

  /** ICD term ids arrive as `code|chapter` — split into a clean `id`
    * plus a `chapter` column (reference ProcessETLUtils.scala:114-120
    * regexp `^(.*)\|([1-9]*)`). */
  def splitIcdTerms(icdTerms: DataFrame): DataFrame = {
    val re = "^(.*)\\|([1-9]*)"
    icdTerms
      .withColumn("__code", regexp_extract(col("id"), re, 1))
      .withColumn("chapter", regexp_extract(col("id"), re, 2))
      .drop("id")
      .withColumnRenamed("__code", "id")
  }

  /** Diagnoses nested per donor, each diagnosis carrying its MONDO and
    * ICD main categories plus its treatments and follow-ups as sorted
    * child arrays (reference: ProcessETLUtils.scala:108-126 MONDO/ICD
    * expansion, :347-404 loadDiagnoses).
    *
    * Plan shape: main categories are resolved on the broadcast term
    * dimension ([[Ontology.termMainCategory]]) so the diagnosis fact
    * is scanned ONCE and never shuffled for the ontology step; the
    * only shuffles are the child nests on submitter_diagnosis_id and
    * the final donor nest — all equi-keys, AQE-safe at scale.
    */
  def diagnosesPerDonor(
      diagnosis: DataFrame, treatment: DataFrame, followUp: DataFrame,
      mondoTerms: DataFrame, icdTerms: DataFrame): DataFrame = {
    val mondoMc = broadcast(
      Ontology.termMainCategory(mondoTerms, MondoRoot)
        .select(col("id").as("__mondo_id"),
          col("main_category").as("mondo_main_category")))
    val icdMc = broadcast(
      Ontology.termMainCategory(splitIcdTerms(icdTerms), IcdChapterRoot)
        .select(col("id").as("__icd_id"),
          col("main_category").as("icd_main_category")))
    def childNest(child: DataFrame, as: String): DataFrame =
      Nest.nestChildren(
        child, Seq("submitter_diagnosis_id"),
        child.columns.filterNot(DiagKey.contains).map(col).toIndexedSeq, as)
    val enriched = diagnosis
      .join(mondoMc, diagnosis("diagnosis_mondo_code") === col("__mondo_id"),
        "left")
      .join(icdMc, diagnosis("diagnosis_ICD_code") === col("__icd_id"), "left")
      .drop("__mondo_id", "__icd_id")
      .join(childNest(treatment, "treatments"),
        Seq("submitter_diagnosis_id"), "left")
      .join(childNest(followUp, "follow_ups"),
        Seq("submitter_diagnosis_id"), "left")
    Nest.nestChildren(
      enriched, DonorKey,
      enriched.columns.filterNot(DonorKey.contains).map(col).toIndexedSeq,
      "diagnoses")
  }

  /** Per-donor MONDO and ICD ancestor expansions (reference joins
    * `mondoPerStudyIdAndDonor._1` / `icd._1` onto the diagnosis group,
    * ProcessETLUtils.scala:178-182): one row per donor with `mondo`
    * and `icd` array-of-term columns. */
  def diagnosisExpansionsPerDonor(
      diagnosis: DataFrame, mondoTerms: DataFrame,
      icdTerms: DataFrame): DataFrame = {
    val mondo = Ontology.expandAndNest(
      diagnosis, mondoTerms, codeCol = "diagnosis_mondo_code",
      groupKeys = DonorKey, valueCol = "age_at_diagnosis", as = "mondo")
    val icd = Ontology.expandAndNest(
      diagnosis, splitIcdTerms(icdTerms), codeCol = "diagnosis_ICD_code",
      groupKeys = DonorKey, valueCol = "age_at_diagnosis", as = "icd")
    mondo.join(icd, DonorKey, "full")
  }

  /** Family relationships, family conditions, and exposures nested per
    * donor (reference loadDonors, ProcessETLUtils.scala:187-231). The
    * reference left-joins then collect_lists null-field structs for
    * childless donors; here childless donors get a null array (the
    * nest is built from the child side), which downstream coalesces
    * treat as empty. */
  def donorNests(
      donor: DataFrame, family: DataFrame, familyHistory: DataFrame,
      exposure: DataFrame): DataFrame = {
    def nest(child: DataFrame, drop: Seq[String], as: String): DataFrame =
      Nest.nestChildren(
        child, Seq("submitter_donor_id"),
        child.columns.filterNot(drop.contains).map(col).toIndexedSeq, as)
    donor
      .join(nest(family, Seq("study_id", "submitter_donor_id",
        "is_a_proband"), "family_relationships"),
        Seq("submitter_donor_id"), "left")
      .join(nest(familyHistory, Seq("study_id", "submitter_donor_id"),
        "family_conditions"), Seq("submitter_donor_id"), "left")
      .join(nest(exposure, Seq("study_id", "submitter_donor_id"),
        "exposures"), Seq("submitter_donor_id"), "left")
  }

  /** Observed/non-observed phenotypes, ontology-expanded and nested,
    * one row per donor — ONE scan of the phenotype fact table (the
    * observed flag joins the expansion group keys; a first(when)
    * pivot splits the two columns afterwards). Shared by the donor,
    * study, and file indexes. */
  private def phenotypesPerDonor(
      phenotype: DataFrame, terms: DataFrame): DataFrame = {
    val flagged = phenotype.withColumn(
      "__obs", GraftFunctions.truthy(col("phenotype_observed")))
    Ontology.expandAndNest(
        flagged, terms, codeCol = "phenotype_HPO_code",
        groupKeys = DonorKey :+ "__obs", valueCol = "age_at_phenotype",
        as = "__phenos")
      .groupBy(DonorKey.map(col): _*)
      .agg(
        first(when(col("__obs"), col("__phenos")), ignoreNulls = true)
          .as("observed_phenotypes"),
        first(when(!col("__obs"), col("__phenos")), ignoreNulls = true)
          .as("non_observed_phenotypes"))
  }

  /** File rows with their biospecimen (and its nested samples) struct
    * attached. Shared by the three indexes. */
  private def filesWithBiospecimen(
      file: DataFrame, biospecimen: DataFrame,
      samples: DataFrame): DataFrame = {
    val bioWithSamples = Nest.attachChildren(
      biospecimen,
      Nest.nestChildren(
        samples.select("submitter_biospecimen_id", "submitter_sample_id",
          "sample_type"),
        Seq("submitter_biospecimen_id"),
        Seq(col("submitter_sample_id"), col("sample_type")), "samples"),
      Seq("submitter_biospecimen_id"), "samples")
    file.join(
      bioWithSamples.select(
        col("submitter_biospecimen_id"),
        struct(col("biospecimen_tissue_source"), col("biospecimen_type"),
          col("is_cancer"), col("samples")).as("biospecimen")),
      Seq("submitter_biospecimen_id"), "left")
  }

  /** study as a one-element array<struct> dimension (reference
    * DonorIndex.scala:84-90 `array(struct("study.*"))`). */
  private def studyStructArr(study: DataFrame): DataFrame =
    broadcast(
      study.groupBy("study_id")
        .agg(first(struct(study.columns.filterNot(_ == "study_id")
          .map(col).toIndexedSeq: _*)).as("__s"))
        .select(col("study_id"), array(col("__s")).as("study")))

  /** The sub-frames every index product consumes — computed once and
    * persisted by [[buildAll]] when the three products are built
    * together, instead of the reference's 3× recomputation of the same
    * logical subtrees ("no .cache() anywhere", SURVEY.md §3 E2). */
  final case class SharedFrames(
      phenoNested: DataFrame,
      diagNested: DataFrame,
      diagExpanded: DataFrame,
      donorEnriched: DataFrame,
      filesBio: DataFrame)

  def sharedFrames(in: ClinicalInputs): SharedFrames = SharedFrames(
    phenoNested = phenotypesPerDonor(in.phenotype, in.hpoTerms),
    diagNested = diagnosesPerDonor(
      in.diagnosis, in.treatment, in.followUp, in.mondoTerms, in.icdTerms),
    diagExpanded = diagnosisExpansionsPerDonor(
      in.diagnosis, in.mondoTerms, in.icdTerms),
    donorEnriched = donorNests(
      in.donor, in.family, in.familyHistory, in.exposure),
    filesBio = filesWithBiospecimen(in.file, in.biospecimen, in.samples))

  /** Build all three index products sharing the persisted common
    * sub-frames. Returns the products plus a release() that unpersists
    * after the caller has written/consumed them. */
  def buildAll(
      in: ClinicalInputs,
      meta: Seq[(String, String)] = Seq.empty)
      : (Map[String, DataFrame], () => Unit) = {
    val sh = sharedFrames(in)
    val pinned = Seq(sh.phenoNested, sh.diagNested, sh.diagExpanded,
      sh.donorEnriched, sh.filesBio)
    pinned.foreach(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val products = Map(
      "donors" -> donorIndex(in, meta, Some(sh)),
      "studies" -> studyIndex(in, meta, Some(sh)),
      "files" -> fileIndex(in, meta, Some(sh)))
    (products, () => pinned.foreach(_.unpersist(false)))
  }

  /** Donor-centric nested index over the full 12-entity clinical
    * model (reference: DonorIndex.scala:21-113 + ProcessETLUtils
    * loadDonors/loadDiagnoses): one row per donor with the study
    * dimension, phenotype expansions, the diagnosis branch (MONDO/ICD
    * main categories, nested treatments and follow-ups, per-donor
    * ancestor expansions), family/exposure nests, files with
    * biospecimen, a summary struct, and metadata stamps.
    */
  def donorIndex(
      in: ClinicalInputs,
      meta: Seq[(String, String)] = Seq.empty,
      shared: Option[SharedFrames] = None): DataFrame = {
    val donorKey = DonorKey
    val sh = shared.getOrElse(sharedFrames(in))
    val studyArr = studyStructArr(in.study)
    val phenoNested = sh.phenoNested
    val diagNested = sh.diagNested
    val diagExpanded = sh.diagExpanded
    val donorEnriched = sh.donorEnriched
    val filesNested = Nest.nestChildren(
      sh.filesBio,
      donorKey,
      Seq(col("file_name"), col("data_category"), col("data_type"),
        col("experimental_strategy"), col("file_format"),
        col("data_access"), col("biospecimen")),
      "files")

    // summary struct derived from the ALREADY-NESTED files array via
    // array HOFs — no second scan of the file table
    val emptyS = array().cast("array<string>")
    val assembled = donorEnriched
      .join(studyArr, Seq("study_id"), "left")
      .join(phenoNested, donorKey, "left")
      .join(diagNested, donorKey, "left")
      .join(diagExpanded, donorKey, "left")
      .join(filesNested, donorKey, "left")
      .withColumn("summary", struct(
        coalesce(sort_array(array_distinct(
          transform(col("files"), f => f.getField("data_category")))),
          emptyS).as("data_category"),
        coalesce(sort_array(array_distinct(
          transform(col("files"), f => f.getField("experimental_strategy")))),
          emptyS).as("experimental_strategy"),
        coalesce(size(col("files")), lit(0)).cast("long").as("n_files"),
        (coalesce(size(col("files")), lit(0)) > 0).as("files_available"),
        (col("observed_phenotypes").isNotNull ||
          col("diagnoses").isNotNull).as("clinical_data_available")))

    meta.foldLeft(assembled) { case (d, (k, v)) =>
      d.withColumn(k, lit(v))
    }
  }

  /** Study-centric nested index (reference: StudyIndex.scala:30-104):
    * one row per study with nested donors (each carrying its
    * phenotype expansions), nested files (with biospecimen), a
    * study-level summary struct, DUO data-access codes, and metadata
    * stamps. Same single-scan-per-input plan shape as [[donorIndex]];
    * the final nests shuffle on study_id.
    */
  /** Reference-shape study summary (reference: indexes/Summary
    * .scala:12-130 + StudyIndex.scala:40-56): per-(data_category ×
    * {donors, files}) and per-(experimental_strategy × {donors, files})
    * countDistinct matrices over the full (study × category) universe,
    * plus per-clinical-entity distinct-donor counts — emitted as the
    * reference's nested summary arrays.
    *
    * Plan: BOTH matrices come from one scan of the donor⋈file join —
    * a single generator unpivots (data_category, experimental_strategy)
    * into (kind, key) long rows, [[Summary.latticeUnpivot]] aggregates
    * once and zero-fills each kind's universe via a broadcast equi-join
    * (no repartition(1) crossJoin hack); the clinical counts are one
    * unionByName + one aggregation instead of the reference's six
    * chained full-outer joins.
    */
  /** The one unpivot spec shared by [[studySummary]] and its
    * plan-pin face [[studySummaryPartial]] — a drifted copy would let
    * the single-scan pin keep passing against a plan the production
    * query no longer runs. */
  private val SummaryGroupKeys = Seq("study_id")
  private val SummaryFields = Seq("data_category", "experimental_strategy")
  private def summaryCounts: Map[String, org.apache.spark.sql.Column] = Map(
    "donors" -> col("submitter_donor_id"),
    "files" -> col("file_name"))

  def studySummary(
      in: ClinicalInputs,
      extraCatKeys: Option[DataFrame] = None): DataFrame = {
    // both category matrices from ONE scan of the donor⋈file join
    // (unpivot to (kind, key), one lattice aggregation, pivot back) —
    // the per-field formulation re-ran the join per matrix, reading
    // donor.tsv and file.tsv twice
    val matrices = Summary.latticeUnpivot(
        donorPerFile(in),
        groupKeys = SummaryGroupKeys,
        fields = SummaryFields,
        distinctCounts = summaryCounts,
        extraKeys = extraCatKeys)
      .groupBy("study_id", "kind")
      .agg(sort_array(collect_list(struct(
        col("key"), col("donors"), col("files")))).as("__m"))
      .groupBy("study_id")
      .agg(
        first(when(col("kind") === "data_category", col("__m")),
          ignoreNulls = true).as("data_category"),
        first(when(col("kind") === "experimental_strategy", col("__m")),
          ignoreNulls = true).as("experimental_strategy"))
    val clinicalSources: Seq[(String, DataFrame)] = Seq(
      "diagnosis" -> in.diagnosis, "phenotype" -> in.phenotype,
      "treatment" -> in.treatment, "exposure" -> in.exposure,
      "follow_up" -> in.followUp, "family_history" -> in.familyHistory,
      "family" -> in.family)
    val clinical = clinicalSources
      .map { case (k, df) =>
        df.select(col("study_id"), lit(k).as("key"),
          col("submitter_donor_id"))
      }
      .reduce(_.unionByName(_))
      .groupBy("study_id", "key")
      .agg(countDistinct("submitter_donor_id").as("donors"))
      .groupBy("study_id")
      .agg(sort_array(collect_list(struct(col("key"), col("donors"))))
        .as("clinical_data_available"))
    matrices.join(clinical, Seq("study_id"), "full")
  }

  /** donor⋈file with the summary's projection (shared by
    * [[studySummary]] and its plan pin). */
  private[graft] def donorPerFile(in: ClinicalInputs): DataFrame =
    in.donor.join(in.file, DonorKey)
      .select(col("study_id"), col("submitter_donor_id"), col("file_name"),
        col("data_category"), col("experimental_strategy"))

  /** The un-checkpointed summary partial (plan pinning only: the
    * eager localCheckpoint inside [[Summary.latticeUnpivot]] hides
    * these scans from the downstream executed plan). Built from the
    * SAME spec constants as [[studySummary]]. */
  private[graft] def studySummaryPartial(in: ClinicalInputs): DataFrame =
    Summary.unpivotPartial(
      donorPerFile(in),
      groupKeys = SummaryGroupKeys,
      fields = SummaryFields,
      distinctCounts = summaryCounts)

  /** Restrict every per-study entity table to `studies` (the ontology
    * term dims are global and pass through untouched). The building
    * block of incremental refresh: with the entity tables partitioned
    * by study_id on disk these filters become partition pruning, so a
    * changed-studies rebuild reads only the changed studies' bytes.
    */
  def filterStudies(in: ClinicalInputs, studies: Seq[String]): ClinicalInputs =
    in.mapEntities(_.filter(col("study_id").isin(studies: _*)))

  /** Incremental refresh for the study-keyed products WITHOUT a
    * cross-study dependency (donor and file documents: every branch —
    * phenotypes, diagnoses, biospecimen, per-donor summary — derives
    * from the document's own study): unchanged studies' rows pass
    * through the prior snapshot, changed studies rebuild from inputs.
    * The study index needs [[refreshStudyIndex]] instead (its summary
    * lattice zero-fills against the GLOBAL category universe).
    */
  def refreshDonorIndex(
      prior: DataFrame, in: ClinicalInputs, changed: Seq[String],
      meta: Seq[(String, String)] = Seq.empty): DataFrame = {
    require(changed.nonEmpty, "refreshDonorIndex needs a changed study")
    prior.filter(!col("study_id").isin(changed: _*))
      .unionByName(donorIndex(filterStudies(in, changed), meta))
  }

  /** [[refreshDonorIndex]]'s file-product sibling. */
  def refreshFileIndex(
      prior: DataFrame, in: ClinicalInputs, changed: Seq[String],
      meta: Seq[(String, String)] = Seq.empty): DataFrame = {
    require(changed.nonEmpty, "refreshFileIndex needs a changed study")
    prior.filter(!col("study_id").isin(changed: _*))
      .unionByName(fileIndex(filterStudies(in, changed), meta))
  }

  /** Incremental refresh of the study index: rebuild ONLY `changed`
    * studies' documents from inputs; every other document passes
    * through from the prior snapshot without touching its study's
    * facts. Per-refresh cost is O(changed studies), never O(corpus) —
    * at 100 TB this is the difference between a nightly index job that
    * reads one study's drop and one that rescans every study ever
    * ingested.
    *
    * The subtlety is the summary lattice's zero-fill universe, which
    * is GLOBAL across studies (a study's category matrix carries
    * zero rows for categories it lacks but the corpus has). Two
    * mechanisms keep refresh byte-equal to a full rebuild:
    *  - the prior snapshot's own matrices ARE the corpus universe as
    *    of the last build — extracted (dimension-sized) and injected
    *    into the partial rebuild's lattice (`extraCatKeys`), so
    *    rebuilt docs zero-fill against the full corpus, not just the
    *    changed slice;
    *  - categories the changed slice INTRODUCES are patched into the
    *    unchanged docs' matrices as zero rows — a map-side array
    *    transform over document-sized data, no fact rescans.
    * The universe is append-only under refresh (a category retired
    * from the corpus keeps its zero rows until the next full rebuild
    * — the standard incremental-view trade-off, documented here).
    *
    * `meta` must match the stamps the prior snapshot was built with,
    * or unchanged documents keep their old stamps (by design: pass-
    * through means pass-through).
    *
    * `prior` is read by two consumers (the universe extraction feeding
    * the rebuild's lattice, and the pass-through filter): hand it a
    * STORED snapshot (a parquet read) or a materialized frame — a
    * lazily recomputed build would run once per consumer.
    *
    * Job-count shape: NO driver collects. Both universes ride the
    * dataflow — the prior universe as a lazy dimension frame into the
    * lattice's zero-fill union (its one consumer), the full universe
    * as a ONE-ROW broadcast aggregated from the rebuilt docs' own
    * matrices (which carry prior ∪ introduced by construction, having
    * zero-filled against the prior universe). The refresh therefore
    * schedules two actions' worth of jobs: the rebuilt slice's lazy
    * checkpoint and the caller's output action. (The earlier
    * formulation collected both universes to the driver — two extra
    * scheduling round-trips per refresh that dominated the fixture-
    * scale wall.)
    */
  /** The distinct (kind, key) summary-category universe carried by a
    * study-index frame, extracted in ONE scan: both matrix fields
    * unpivot through a single generator instead of one scan per field
    * — at 100 TB the prior snapshot is corpus-sized, so the per-field
    * formulation paid |SummaryFields| full passes over it. */
  private def summaryUniverse(index: DataFrame): DataFrame =
    index.select(explode(flatten(array(SummaryFields.map(f =>
        coalesce(
          transform(col(s"summary.$f"),
            s => struct(lit(f).as("kind"), s.getField("key").as("key"))),
          array().cast("array<struct<kind:string,key:string>>"))): _*)))
      .as("__u"))
      .select(col("__u.kind").as("kind"), col("__u.key").as("key"))
      .distinct()

  def refreshStudyIndex(
      prior: DataFrame,
      in: ClinicalInputs,
      changed: Seq[String],
      meta: Seq[(String, String)] = Seq.empty): DataFrame = {
    require(changed.nonEmpty, "refreshStudyIndex needs at least one changed study")
    val changedIn = filterStudies(in, changed)
    // the prior's category universe rides into the rebuild's lattice
    // as a LAZY dimension frame — latticeUnpivot consumes extraKeys
    // exactly once (the zero-fill union), so the prior snapshot is
    // scanned once for it, inside the rebuild's own job, with no
    // driver round-trip
    val priorUniverse = summaryUniverse(prior)
    // local checkpoint: the rebuilt docs have two readers (the
    // full-universe aggregation below and the output union) —
    // materialize the changed-slice build once instead of running it
    // per reader
    val rebuilt = studyIndex(changedIn, meta,
      shared = None, extraCatKeys = Some(priorUniverse)).localCheckpoint()
    // full universe for the unchanged-doc patch: the rebuilt docs'
    // own matrices already carry prior ∪ introduced (their lattice
    // zero-filled against extraCatKeys) — aggregated to ONE row of
    // per-kind key arrays and broadcast into the patch, never
    // collected. Edge case covered: a changed study with an EMPTY
    // matrix introduces nothing, and unchanged docs already carry the
    // full prior universe, so patching with only what non-empty
    // rebuilt matrices show is exactly the old prior ∪ introduced.
    val uniRow = universeRow(summaryUniverse(rebuilt))
    val unchanged = prior.filter(!col("study_id").isin(changed: _*))
    patchSummaryTo(unchanged, uniRow).unionByName(rebuilt)
  }

  /** ONE row of per-kind key arrays from a (kind, key) universe frame
    * — the broadcastable carrier [[patchSummaryTo]] consumes. */
  private def universeRow(uni: DataFrame): DataFrame = {
    val uniAggs = SummaryFields.map(f => collect_set(
      when(col("kind") === f, col("key"))).as(s"__all_$f"))
    uni.groupBy().agg(uniAggs.head, uniAggs.tail: _*)
  }

  /** Patch every doc's summary matrices up to the universe carried by
    * `uniRow`: zero rows are added for keys this doc's matrix lacks —
    * but ONLY for docs whose matrix is non-empty: a study with no
    * donor⋈file rows has an EMPTY matrix in a full rebuild (it never
    * enters the lattice), and the patch must preserve that. Map-side:
    * one ONE-row broadcast crossJoin + array transforms over
    * document-sized data, no fact rescans. Docs already carrying the
    * full universe pass through unchanged (array_except is empty), so
    * the patch is idempotent. */
  private def patchSummaryTo(docs: DataFrame, uniRow: DataFrame): DataFrame = {
    def patched(f: String): Column = {
      val m = col(s"summary.$f")
      val allKeys = coalesce(col(s"__all_$f"),
        array().cast("array<string>"))
      when(size(m) > 0,
        sort_array(concat(m,
          transform(
            array_except(allKeys, transform(m, s => s.getField("key"))),
            k => struct(k.as("key"), lit(0L).as("donors"),
              lit(0L).as("files"))))))
        .otherwise(m)
    }
    docs
      .crossJoin(broadcast(uniRow)) // one row: the per-kind key arrays
      .withColumn("summary", struct(
        patched("data_category").as("data_category"),
        patched("experimental_strategy").as("experimental_strategy"),
        col("summary.clinical_data_available").as("clinical_data_available"),
        col("summary.n_donors").as("n_donors"),
        col("summary.n_files").as("n_files"),
        col("summary.n_donors_with_files").as("n_donors_with_files")))
      .drop(SummaryFields.map(f => s"__all_$f"): _*)
  }

  /** STORED study-index snapshot with O(changed) refresh — the storage
    * layer that makes [[refreshStudyIndex]]'s contract batch-bounded.
    * The frame-level refresh is O(changed) in COMPUTE but its output
    * is the whole corpus: any caller that persists it re-emits every
    * unchanged document per refresh, and the universe patch gives the
    * rewrite a reason to touch literally every doc (the round-12
    * rehearsal measured 7.06× at state ×10→×100 with one changed
    * study). Three devices fix the persisted contract:
    *
    *  - docs live Hive-partitioned by study (`__study_pt`, a derived
    *    copy so the stored schema keeps `study_id` as a normal column
    *    and read-back column order matches [[studyIndex]] exactly);
    *    a refresh dynamic-overwrites ONLY the changed studies'
    *    partitions — pass-through docs are never read or written;
    *  - the summary-category universe lives in a dim-sized versioned
    *    SIDE TABLE (`dir/universe`), so the refresh gets its prior
    *    universe without scanning the corpus-sized prior snapshot
    *    (the frame-level path's `summaryUniverse(prior)` full pass);
    *  - the global zero-fill is VIRTUAL: stored matrices carry the
    *    universe as of their own build, and [[readStudyIndexStore]]
    *    patches them up to the CURRENT universe map-side at read time
    *    (one one-row broadcast crossJoin) — introducing a category
    *    re-publishes one dim-sized side table instead of rewriting
    *    100 TB of documents.
    *
    * The read view equals a full [[studyIndex]] rebuild byte-for-byte
    * (spec'd, and the `q_index_refresh_stored` face replays the full
    * relational oracle against it): rebuilt docs zero-fill against
    * prior ∪ own at build and the read patch adds nothing; unchanged
    * docs carry their build-time universe and the patch adds exactly
    * the categories introduced since. The universe stays append-only
    * under refresh, as in the frame-level path.
    *
    * Crash / re-delivery: docs partitions commit first, then the
    * universe publish ([[graft.sources.Versioned]], atomic). A crash
    * between the two leaves readers on the old universe (rebuilt docs
    * merely carry zero rows the patch would have added; unchanged
    * docs miss the introduced categories) and re-delivering the
    * refresh converges — the partition overwrite is idempotent and
    * the universe union is monotone.
    */
  def writeStudyIndexStore(index: DataFrame, dir: String): Unit = {
    index.withColumn("__study_pt", col("study_id"))
      .repartition(col("__study_pt"))
      .write.mode("overwrite").partitionBy("__study_pt")
      .parquet(s"$dir/docs")
    graft.sources.Versioned.publish(
      summaryUniverse(index.sparkSession.read.parquet(s"$dir/docs")),
      s"$dir/universe"): Unit
  }

  /** Refresh `changed` studies in the stored snapshot at `dir`.
    * Per-refresh cost is O(changed): one dim-sized universe read, the
    * changed slice's rebuild, a dynamic overwrite of the changed
    * partitions, one changed-slice universe scan, one dim-sized
    * publish. Returns the number of rebuilt documents. */
  def refreshStudyIndexStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      in: ClinicalInputs, changed: Seq[String],
      meta: Seq[(String, String)] = Seq.empty): Long = {
    require(changed.nonEmpty,
      "refreshStudyIndexStore needs at least one changed study")
    val priorUniverse = graft.sources.Versioned
      .readCurrent(spark, s"$dir/universe")
    // two consumers (the partition overwrite and the universe scan)
    // plus the returned count — build the changed slice once
    val rebuilt = studyIndex(
      filterStudies(in, changed), meta,
      shared = None, extraCatKeys = Some(priorUniverse)).localCheckpoint()
    graft.sources.Sinks.overwritePartitions(
      rebuilt.withColumn("__study_pt", col("study_id")),
      s"$dir/docs", Seq("__study_pt"))
    graft.sources.Versioned.publish(
      priorUniverse.unionByName(summaryUniverse(rebuilt)).distinct(),
      s"$dir/universe", keep = 2)
    rebuilt.count()
  }

  /** STORED donor/file-index snapshots — the O(changed) persistence
    * for [[refreshDonorIndex]]/[[refreshFileIndex]]'s contracts.
    * Unlike the study index there is NO global summary universe
    * (donor/file documents are self-contained), so the store is just
    * study-partitioned docs + a dynamic overwrite of the changed
    * studies: pass-through documents are never read or written, and
    * the read view is the stored rows verbatim. */
  def writeDocIndexStore(index: DataFrame, dir: String): Unit =
    index.withColumn("__study_pt", col("study_id"))
      .repartition(col("__study_pt"))
      .write.mode("overwrite").partitionBy("__study_pt")
      .parquet(s"$dir/docs")

  /** Rebuild `changed` studies' documents with `build` and swap ONLY
    * their partitions. Returns the rebuilt-document count. */
  def refreshDocIndexStore(dir: String,
      build: ClinicalInputs => DataFrame,
      in: ClinicalInputs, changed: Seq[String]): Long = {
    require(changed.nonEmpty,
      "refreshDocIndexStore needs at least one changed study")
    val rebuilt = build(filterStudies(in, changed)).localCheckpoint()
    graft.sources.Sinks.overwritePartitions(
      rebuilt.withColumn("__study_pt", col("study_id")),
      s"$dir/docs", Seq("__study_pt"))
    rebuilt.count()
  }

  /** Study-partitioned clinical input CATALOG — the structural fix for
    * the refresh footgun: [[refreshStudyIndexStore]] applies
    * [[filterStudies]] internally, but a filter cannot shrink the PLAN
    * of a caller-built frame — hand it a 12-table × N-branch union and
    * all 12×N scans still run (measured: 5.56× at state ×100 vs 1.10×
    * pruned, round-13 rehearsal). Production inputs are study-
    * partitioned on storage; this catalog IS that layout (each entity
    * table Hive-partitioned by a `__study_pt` copy of `study_id`, the
    * doc-store device, so read-back schema and column order match the
    * TSV inputs exactly; term tables are study-agnostic and stored
    * plain). [[readClinicalCatalog]] with a study list prunes at the
    * FILE LISTING — the plan is always 12 pruned scans + 4 term scans,
    * independent of corpus size — and the catalog-based refresh
    * overloads below make the unpruned-plan mistake inexpressible:
    * there is no frame for the caller to mis-build.
    *
    * The 16 tables are written as concurrent jobs
    * ([[graft.core.ConcurrentActions]]); no table depends on another. */
  def writeClinicalCatalog(in: ClinicalInputs, dir: String): Unit = {
    val entityWrites = ClinicalInputs.Entities.map { e => () =>
      in.frame(e).withColumn("__study_pt", col("study_id"))
        .repartition(col("__study_pt"))
        .write.mode("overwrite").partitionBy("__study_pt")
        .parquet(s"$dir/${e.field}")
    }
    val termWrites = ClinicalInputs.Terms.map { t => () =>
      in.frame(t).write.mode("overwrite").parquet(s"$dir/${t.field}")
    }
    ConcurrentActions.run(in.donor.sparkSession, entityWrites ++ termWrites)
  }

  /** Partition-pruned read of a `__study_pt`-partitioned table that
    * prunes the FILE LISTING itself, not just the scan: a plain
    * `read.parquet(root).filter(isin)` still drives one
    * InMemoryFileIndex pass over EVERY partition directory — O(total
    * studies) driver work per read, which the round-14 rehearsal
    * measured as the dominant 100× term (2.34× vs 1.4× with direct
    * paths). Reading the changed studies' directories directly (with
    * `basePath` so `__study_pt` stays a column) lists O(changed)
    * directories. Requested studies with no stored partition are
    * skipped driver-side (an fs.exists each — O(changed)); if none
    * exist the full-root read with a false filter preserves schema. */
  private def prunedPartitionRead(
      spark: org.apache.spark.sql.SparkSession, root: String,
      studies: Seq[String]): DataFrame =
    if (studies.isEmpty) spark.read.parquet(root)
    else {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // Hive-escape the partition VALUE when building the directory
      // name: partitionBy writes `__study_pt=CMP%3A1` for study id
      // "CMP:1" (space, ':', '/', '=', '%', … become %XX), so the raw
      // id would miss the dir, silently treat the study as absent,
      // and a catalog-based refresh would drop its rows (round-14
      // advice). escapePathName is the exact writer-side encoding.
      val paths = studies.distinct
        .map(s => s"$root/__study_pt=" +
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(s))
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      if (paths.isEmpty) spark.read.parquet(root).filter(lit(false))
      else spark.read.option("basePath", root).parquet(paths: _*)
    }

  /** Read the catalog; a non-empty `studies` list prunes every entity
    * read's file listing to those studies' directories. */
  def readClinicalCatalog(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      studies: Seq[String] = Seq.empty): ClinicalInputs =
    ClinicalInputs.build(
      e => prunedPartitionRead(spark, s"$dir/${e.field}", studies)
        .drop("__study_pt"),
      t => spark.read.parquet(s"$dir/${t.field}"))

  /** [[refreshStudyIndexStore]] from a [[writeClinicalCatalog]] layout:
    * the changed studies' input slice is read PARTITION-PRUNED inside —
    * per-refresh plan cost is O(changed) structurally, whatever the
    * catalog has accumulated. */
  def refreshStudyIndexStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      catalogDir: String, changed: Seq[String],
      meta: Seq[(String, String)]): Long =
    refreshStudyIndexStore(spark, dir,
      readClinicalCatalog(spark, catalogDir, changed), changed, meta)

  /** [[refreshDocIndexStore]] from a [[writeClinicalCatalog]] layout —
    * same structural pruning as the study-index overload. */
  def refreshDocIndexStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      build: ClinicalInputs => DataFrame,
      catalogDir: String, changed: Seq[String]): Long =
    refreshDocIndexStore(dir, build,
      readClinicalCatalog(spark, catalogDir, changed), changed)

  /** The donor/file store's read view; `studies` non-empty
    * partition-prunes to those studies. */
  def readDocIndexStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      studies: Seq[String] = Seq.empty): DataFrame =
    prunedPartitionRead(spark, s"$dir/docs", studies).drop("__study_pt")

  /** The store's read view: stored docs patched up to the current
    * universe — equals a full [[studyIndex]] rebuild. `studies`
    * non-empty restricts the read to those studies' partitions
    * (partition-pruned on `__study_pt` — the changed-slice read-back
    * path never lists the corpus). */
  def readStudyIndexStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      studies: Seq[String] = Seq.empty): DataFrame = {
    val uniRow = universeRow(
      graft.sources.Versioned.readCurrent(spark, s"$dir/universe"))
    patchSummaryTo(
      prunedPartitionRead(spark, s"$dir/docs", studies).drop("__study_pt"),
      uniRow)
  }

  def studyIndex(
      in: ClinicalInputs,
      meta: Seq[(String, String)] = Seq.empty,
      shared: Option[SharedFrames] = None,
      extraCatKeys: Option[DataFrame] = None): DataFrame = {
    val sh = shared.getOrElse(sharedFrames(in))
    val phenoNested = sh.phenoNested
    val diagNested = sh.diagNested
    val donorCols = in.donor.columns.filterNot(_ == "study_id").toIndexedSeq
    // sort_array: collect_list order is partition-order-dependent —
    // nondeterministic run to run at scale; the leading struct field
    // (donor id / file name) is unique within a study, so the sort
    // pins a total order. The donor struct carries every per-donor
    // branch the reference's DONORS document does (StudiesExpected
    // .scala:35-62): family/exposure nests, phenotype expansions,
    // diagnoses with nested treatments/follow-ups, mondo/icd terms.
    val donorsNested = sh.donorEnriched
      .join(phenoNested, DonorKey, "left")
      .join(diagNested, DonorKey, "left")
      .join(sh.diagExpanded, DonorKey, "left")
      .groupBy("study_id")
      .agg(sort_array(collect_list(struct(
        (donorCols.map(col) ++ Seq(
          col("family_relationships"), col("family_conditions"),
          col("exposures"), col("observed_phenotypes"),
          col("non_observed_phenotypes"), col("diagnoses"),
          col("mondo"), col("icd"))): _*)))
        .as("donors"))
    val filesNested = sh.filesBio
      .groupBy("study_id")
      .agg(
        sort_array(collect_list(struct(col("file_name"),
          col("data_category"), col("experimental_strategy"),
          col("data_access"), col("biospecimen")))).as("files"),
        countDistinct(col("submitter_donor_id")).as("__nd"))
    val emptyMatrix = array()
      .cast("array<struct<key:string,donors:bigint,files:bigint>>")
    val emptyClinical = array()
      .cast("array<struct<key:string,donors:bigint>>")
    val summaryRenamed = studySummary(in, extraCatKeys).select(
      col("study_id"), col("data_category").as("__dc"),
      col("experimental_strategy").as("__es"),
      col("clinical_data_available").as("__cda"))
    val assembled = in.study
      .join(donorsNested, Seq("study_id"), "left")
      .join(filesNested, Seq("study_id"), "left")
      .join(summaryRenamed, Seq("study_id"), "left")
      .join(dataAccessCodes(in.study, in.duoTerms), Seq("study_id"), "left")
      .withColumn("summary", struct(
        coalesce(col("__dc"), emptyMatrix).as("data_category"),
        coalesce(col("__es"), emptyMatrix).as("experimental_strategy"),
        coalesce(col("__cda"), emptyClinical).as("clinical_data_available"),
        coalesce(size(col("donors")), lit(0)).cast("long").as("n_donors"),
        coalesce(size(col("files")), lit(0)).cast("long").as("n_files"),
        coalesce(col("__nd"), lit(0L)).as("n_donors_with_files")))
      .drop("__dc", "__es", "__cda", "__nd")
    meta.foldLeft(assembled) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
  }

  /** File-centric nested index (reference: FileIndex.scala:19-77):
    * one row per file with its study struct-array, its biospecimen
    * (nested samples), its donor's row plus phenotype expansions, and
    * metadata stamps. All joins are on file/donor/study keys — no
    * fan-out beyond the reference's own donors-per-file nest.
    */
  def fileIndex(
      in: ClinicalInputs,
      meta: Seq[(String, String)] = Seq.empty,
      shared: Option[SharedFrames] = None): DataFrame = {
    val sh = shared.getOrElse(sharedFrames(in))
    val donorStruct = in.donor
      .join(sh.phenoNested, DonorKey, "left")
      .join(sh.diagNested, DonorKey, "left")
      .select(col("study_id"), col("submitter_donor_id"),
        struct((in.donor.columns.filterNot(_ == "study_id").map(col) ++
          Seq(col("observed_phenotypes"), col("non_observed_phenotypes"),
            col("diagnoses")))
          .toIndexedSeq: _*).as("donor"))
    val assembled = sh.filesBio
      .join(studyStructArr(in.study), Seq("study_id"), "left")
      .join(donorStruct, DonorKey, "left")
    meta.foldLeft(assembled) { case (d, (k, v)) => d.withColumn(k, lit(v)) }
  }

  /** Study-level DUO data-access codes (reference: DataAccess
    * .scala:9-43): split the ";"-separated requirement list, explode,
    * display-name both limitation and requirement codes through the
    * broadcast DUO term table, and collapse to one struct per study.
    */
  def dataAccessCodes(study: DataFrame, duoTerms: DataFrame): DataFrame = {
    val duo = broadcast(duoTerms.select(
      col("id").as("__duo_id"), col("name").as("__duo_name")))
    study
      .select(col("study_id"), col("access_limitations"),
        explode(split(col("access_requirements"), ";")).as("req"))
      .filter(GraftFunctions.isNotBlank(col("req")))
      .withColumn("req", trim(col("req")))
      .join(duo, col("access_limitations") === col("__duo_id"), "left")
      .select(col("study_id"),
        GraftFunctions.displayName(col("__duo_name"),
          col("access_limitations")).as("access_limitations"),
        col("req"))
      .join(duo, col("req") === col("__duo_id"), "left")
      .select(col("study_id"), col("access_limitations"),
        GraftFunctions.displayName(col("__duo_name"), col("req"))
          .as("access_requirements"))
      .groupBy("study_id", "access_limitations")
      .agg(sort_array(collect_set(col("access_requirements")))
        .as("access_requirements"))
      .groupBy("study_id")
      .agg(first(struct(col("access_limitations"),
        col("access_requirements"))).as("data_access_codes"))
  }

  /** TPC-H analog of the index assembly, oracle-checkable at any SF:
    * one row per customer with a broadcast nation struct-array, the
    * customer's orders nested sorted, and a summary struct. Same
    * plan shape as [[donorIndex]] (parent-key shuffles only).
    */
  def customerIndex(
      customer: DataFrame, nation: DataFrame, orders: DataFrame): DataFrame = {
    val nationArr = broadcast(nation
      .select(col("n_nationkey"),
        array(struct(col("n_name").as("name"),
          col("n_regionkey").as("regionkey"))).as("nation")))
    val ordersNested = orders
      .groupBy(col("o_custkey"))
      .agg(
        sort_array(collect_list(struct(
          col("o_orderkey").as("orderkey"),
          col("o_orderdate").as("orderdate"),
          col("o_totalprice").as("totalprice")))).as("orders"),
        count(lit(1)).as("__n"),
        round(sum(col("o_totalprice")), 2).as("__spend"))
    customer
      .join(nationArr, customer("c_nationkey") === col("n_nationkey"), "left")
      .join(ordersNested, customer("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("nation"), col("orders"),
        struct(
          coalesce(col("__n"), lit(0L)).as("n_orders"),
          coalesce(col("__spend"), lit(0.0)).as("total_spend"),
          (coalesce(col("__n"), lit(0L)) > 0).as("has_orders"))
          .as("summary"))
  }
}
