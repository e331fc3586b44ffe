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

  /** The whitelist dictionary of an input directory:
    * `<inputDir>/dictionary.json` ([[JsonDictionary]]). */
  def dictionary(spark: SparkSession, inputDir: String): Dictionary =
    JsonDictionary(spark, s"$inputDir/dictionary.json")

  /** Stage 1: TSV → pre-processed parquet. The dictionary resolves
    * per-entity whitelists at the metadata's dictionaryVersion
    * (reference: PreProcessETL.scala:56-66). The 12 entity writes are
    * independent and run as concurrent jobs
    * ([[graft.core.ConcurrentActions]]).
    *
    * Returns each entity's frame read back from the parquet this stage
    * wrote, keyed by its stage-1 directory name
    * ([[Indexes.ClinicalInputs.Table.stage]]). */
  def preProcessStage(
      spark: SparkSession, inputDir: String, stageDir: String,
      dictionary: Dictionary,
      resolver: PreProcess.IdResolver = PreProcess.HashDerivedIds)
      : Map[String, DataFrame] = {
    val meta = Sources.multilineJson(spark, s"$inputDir/metadata.json")
      .select("dictionaryVersion", "studyVersionId", "studyVersionDate")
      .collect()(0)
    val stamps = Seq(
      "dictionary_version" -> meta.getString(0),
      "study_version" -> meta.getString(1),
      "study_version_creation_date" -> meta.getString(2))
    val schemas = dictionary.schemas(meta.getString(0))
    ConcurrentActions.run(spark, Indexes.ClinicalInputs.Entities.map {
      e => () =>
        val raw = Sources.tsv(spark, s"$inputDir/${e.file}")
        val processed = PreProcess.preProcessEntity(
          e.file, raw, schemas(e.stage), resolver, studyMeta = stamps)
        val dir = s"$stageDir/${e.stage}"
        Sinks.parquet(processed, dir)
        // the written schema skips a footer-inference job per entity
        e.stage -> spark.read.schema(processed.schema).parquet(dir)
    }).toMap
  }

  /** Stage 2: pre-processed entities + terms → three nested indexes →
    * partitioned JSON (by study_id, the reference's partition key). */
  def processStage(
      spark: SparkSession, inputDir: String,
      entities: Map[String, DataFrame], outDir: String): Unit = {
    val in = Indexes.ClinicalInputs.fromStage(spark, inputDir, entities)
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

  /** Both stages, fixture-dir in → JSON indexes out; the whitelist is
    * `<inputDir>/dictionary.json`. */
  def run(spark: SparkSession, inputDir: String, workDir: String): Unit = {
    val entities = preProcessStage(spark, inputDir, s"$workDir/stage1",
      dictionary(spark, inputDir))
    processStage(spark, inputDir, entities, s"$workDir/indexes")
  }
}
