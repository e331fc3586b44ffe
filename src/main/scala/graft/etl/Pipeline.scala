package graft.etl

import graft.core.ConcurrentActions
import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end pipeline — the reference's two commands composed
  * (reference: commands/PreProcess.scala + commands/Process.scala via
  * ProcessETL):
  *
  *  1. pre-process: raw TSV entities → surrogate keys + internal ids +
  *     dictionary prune → parquet stage (reference stage-1 output).
  *  2. process: pre-processed entities + ontology terms → the three
  *     nested index products → partitioned JSON (reference stage-2
  *     output, partitioned by study).
  *
  * Stage boundaries are parquet, like the reference — at 100 TB the
  * stage-1 write is the checkpoint that lets index builds re-run
  * without re-ingesting TSV.
  */
object Pipeline {

  /** Entity name → dictionary whitelist for the fixture schema; the
    * reference resolves this from its Lectern dictionary service
    * (DictionaryClient.scala:60-82) — here it's explicit data. */
  val FixtureSchemas: Map[String, Seq[String]] = Map(
    "donor" -> Seq("study_id", "submitter_donor_id", "dob", "gender",
      "ethnicity", "vital_status"),
    "study" -> Seq("study_id", "name", "domain", "access_limitations",
      "access_requirements"),
    "phenotype" -> Seq("study_id", "submitter_donor_id",
      "submitter_phenotype_id", "phenotype_HPO_code", "phenotype_HPO_term",
      "age_at_phenotype", "phenotype_observed"),
    "biospecimen" -> Seq("study_id", "submitter_donor_id",
      "submitter_biospecimen_id", "biospecimen_tissue_source",
      "biospecimen_type", "is_cancer"),
    "sampleregistration" -> Seq("study_id", "submitter_donor_id",
      "submitter_biospecimen_id", "submitter_sample_id", "sample_type"),
    "file" -> Seq("study_id", "submitter_donor_id",
      "submitter_biospecimen_id", "file_name", "data_category",
      "data_type", "experimental_strategy", "file_format", "data_access"),
    "diagnosis" -> Seq("study_id", "submitter_donor_id",
      "submitter_diagnosis_id", "diagnosis_mondo_code",
      "diagnosis_ICD_code", "age_at_diagnosis", "is_cancer"),
    "treatment" -> Seq("study_id", "submitter_donor_id",
      "submitter_treatment_id", "submitter_diagnosis_id",
      "treatment_type", "treatment_intent"),
    "followup" -> Seq("study_id", "submitter_donor_id",
      "submitter_diagnosis_id", "submitter_follow_up_id",
      "days_to_follow_up", "disease_status"),
    "exposure" -> Seq("study_id", "submitter_donor_id",
      "smoking_status", "alcohol_status"),
    "family" -> Seq("study_id", "submitter_family_id",
      "submitter_donor_id", "family_type", "is_a_proband",
      "relationship_to_proband"),
    "familyhistory" -> Seq("study_id", "submitter_donor_id",
      "submitter_family_condition_id", "family_condition_name",
      "family_condition_age", "family_condition_relationship"))

  /** File-name stem per entity in the fixture directory. */
  private val EntityFiles: Map[String, String] = Map(
    "donor" -> "donor.tsv", "study" -> "study.tsv",
    "phenotype" -> "phenotype.tsv", "biospecimen" -> "biospecimen.tsv",
    "sampleregistration" -> "sample_registration.tsv",
    "file" -> "file.tsv",
    "diagnosis" -> "diagnosis.tsv", "treatment" -> "treatment.tsv",
    "followup" -> "follow_up.tsv", "exposure" -> "exposure.tsv",
    "family" -> "family.tsv", "familyhistory" -> "family_history.tsv")

  /** Stage 1: TSV → pre-processed parquet. The dictionary resolves
    * per-entity whitelists at the metadata's dictionaryVersion
    * (reference: PreProcessETL.scala:56-66). The 12 entity writes are
    * independent and run as concurrent jobs
    * ([[graft.core.ConcurrentActions]]).
    *
    * Also returns each entity's pre-processed frame. The frames are
    * lazy: a caller that acts on them (as [[processStage]] does)
    * re-reads the TSVs and re-mints the ids; it does not read the
    * parquet this stage wrote. */
  def preProcessStage(
      spark: SparkSession, inputDir: String, stageDir: String,
      resolver: PreProcess.IdResolver = PreProcess.HashDerivedIds,
      dictionary: Dictionary = StaticDictionary(FixtureSchemas))
      : Map[String, DataFrame] = {
    val meta = Sources.multilineJson(spark, s"$inputDir/metadata.json")
      .select("dictionaryVersion", "studyVersionId", "studyVersionDate")
      .collect()(0)
    val stamps = Seq(
      "dictionary_version" -> meta.getString(0),
      "study_version" -> meta.getString(1),
      "study_version_creation_date" -> meta.getString(2))
    val schemas = dictionary.schemas(meta.getString(0))
    ConcurrentActions.run(spark, EntityFiles.toSeq.map {
      case (entity, fileName) => () =>
        val raw = Sources.tsv(spark, s"$inputDir/$fileName")
        val processed = PreProcess.preProcessEntity(
          fileName, raw, schemas(entity), resolver,
          studyMeta = stamps)
        Sinks.parquet(processed, s"$stageDir/$entity")
        entity -> processed
    }).toMap
  }

  /** Stage 2: pre-processed entities + terms → three nested indexes →
    * partitioned JSON (by study_id, the reference's partition key). */
  def processStage(
      spark: SparkSession, inputDir: String,
      entities: Map[String, DataFrame], outDir: String): Unit = {
    val in = Indexes.ClinicalInputs(
      donor = entities("donor"), study = entities("study"),
      phenotype = entities("phenotype"), file = entities("file"),
      biospecimen = entities("biospecimen"),
      samples = entities("sampleregistration"),
      diagnosis = entities("diagnosis"), treatment = entities("treatment"),
      followUp = entities("followup"), exposure = entities("exposure"),
      family = entities("family"), familyHistory = entities("familyhistory"),
      hpoTerms = Sources.jsonLines(
        spark, s"$inputDir/terms.jsonl.gz", Indexes.TermSchema),
      mondoTerms = Sources.jsonLines(
        spark, s"$inputDir/mondo_terms.jsonl.gz", Indexes.TermSchema),
      icdTerms = Sources.jsonLines(
        spark, s"$inputDir/icd_terms.jsonl.gz", Indexes.TermSchema),
      duoTerms = Sources.jsonLines(
        spark, s"$inputDir/duo_terms.jsonl.gz", Indexes.TermSchema))
    // shared sub-frames computed once, persisted across the three
    // writes, released after (the reference recomputes them per index);
    // the three writes run as concurrent jobs
    val (products, release) = Indexes.buildAll(in)
    try {
      ConcurrentActions.run(spark, Seq("donors", "studies", "files").map {
        name => () =>
          Sinks.partitionedJson(products(name), s"$outDir/$name",
            Seq("study_id"))
      })
    } finally release()
  }

  /** Both stages, fixture-dir in → JSON indexes out. */
  def run(spark: SparkSession, inputDir: String, workDir: String): Unit = {
    val entities = preProcessStage(spark, inputDir, s"$workDir/stage1")
    processStage(spark, inputDir, entities, s"$workDir/indexes")
  }
}
