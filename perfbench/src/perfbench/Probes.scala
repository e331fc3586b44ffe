package perfbench

import scala.collection.mutable

import graft.etl.Indexes
import graft.ops.Ontology
import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The layer probes: each times calls into one layer's public functions
  * on inputs that are already materialized, so the time is the layer's
  * own. They run in a pass of their own, after the operations. */
object Probes {
  private val TsvFiles = Seq("donor.tsv", "study.tsv", "phenotype.tsv",
    "biospecimen.tsv", "sample_registration.tsv", "file.tsv",
    "diagnosis.tsv", "treatment.tsv", "follow_up.tsv", "exposure.tsv",
    "family.tsv", "family_history.tsv")
  private val DonorKey = Seq("study_id", "submitter_donor_id")

  /** Executes a frame in full (every column) without writing it. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Pre-processed entities from the stage-1 parquet the pipeline wrote,
    * plus the term files, persisted and materialized. */
  def pinnedInputs(spark: SparkSession, corpus: String, stage1: String)
      : Indexes.ClinicalInputs = {
    def e(name: String) = spark.read.parquet(s"$stage1/$name")
      .persist(StorageLevel.MEMORY_AND_DISK)
    def t(file: String) = Sources.jsonLines(spark, s"$corpus/$file",
      Indexes.TermSchema).persist(StorageLevel.MEMORY_AND_DISK)
    val in = Indexes.ClinicalInputs(
      donor = e("donor"), study = e("study"), phenotype = e("phenotype"),
      file = e("file"), biospecimen = e("biospecimen"),
      samples = e("sampleregistration"), diagnosis = e("diagnosis"),
      treatment = e("treatment"), followUp = e("followup"),
      exposure = e("exposure"), family = e("family"),
      familyHistory = e("familyhistory"), hpoTerms = t("terms.jsonl.gz"),
      mondoTerms = t("mondo_terms.jsonl.gz"),
      icdTerms = t("icd_terms.jsonl.gz"), duoTerms = t("duo_terms.jsonl.gz"))
    frames(in).foreach(_.count())
    in
  }

  private def frames(in: Indexes.ClinicalInputs): Seq[DataFrame] =
    Seq(in.donor, in.study, in.phenotype, in.file, in.biospecimen,
      in.samples, in.diagnosis, in.treatment, in.followUp, in.exposure,
      in.family, in.familyHistory, in.hpoTerms, in.mondoTerms, in.icdTerms,
      in.duoTerms)

  private def shared(sh: Indexes.SharedFrames): Seq[DataFrame] =
    Seq(sh.phenoNested, sh.diagNested, sh.diagExpanded, sh.donorEnriched,
      sh.filesBio)

  /** Runs every probe once; metric name -> value. The index-product
    * writes run under the `probe.indexes` span so their job count can
    * be read from the tracer's counters. */
  def run(spark: SparkSession, corpus: String, stage1: String,
      out: String, tr: Tracer): Map[String, Double] = {
    val in = pinnedInputs(spark, corpus, stage1)
    val metrics = mutable.LinkedHashMap[String, Double]()

    metrics("sources.tsv_read_s") = seconds(
      TsvFiles.foreach(f => noop(Sources.tsv(spark, s"$corpus/$f"))))
    // each shared frame's probe computes it into the cache the index
    // products below read, as buildAll pins them
    val sh = Indexes.sharedFrames(in)
    shared(sh).foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    metrics("ops.ontology.expand_s") = seconds {
      noop(sh.phenoNested); noop(sh.diagExpanded)
    }
    metrics("ops.ontology.main_category_s") = seconds {
      noop(Ontology.termMainCategory(in.mondoTerms, Indexes.MondoRoot))
      noop(Ontology.termMainCategory(Indexes.splitIcdTerms(in.icdTerms),
        Indexes.IcdChapterRoot))
    }
    metrics("ops.nest_s") = seconds {
      noop(sh.donorEnriched); noop(sh.filesBio); noop(sh.diagNested)
    }
    metrics("ops.summary_s") = seconds(noop(Indexes.studySummary(in)))
    metrics("ops.ontology.expanded_rows") = (
      Ontology.expandTerms(in.phenotype, in.hpoTerms, "phenotype_HPO_code",
        DonorKey, Seq("age_at_phenotype")).count() +
      Ontology.expandTerms(in.diagnosis, in.mondoTerms, "diagnosis_mondo_code",
        DonorKey, Seq("age_at_diagnosis")).count() +
      Ontology.expandTerms(in.diagnosis, Indexes.splitIcdTerms(in.icdTerms),
        "diagnosis_ICD_code", DonorKey, Seq("age_at_diagnosis")).count()
    ).toDouble

    // the three products over the cached shared frames: to a noop
    // sink, then to the JSON sink
    val products = Seq(
      "donors" -> Indexes.donorIndex(in, Nil, Some(sh)),
      "studies" -> Indexes.studyIndex(in, Nil, Some(sh)),
      "files" -> Indexes.fileIndex(in, Nil, Some(sh)))
    var toNoop, toJson = 0.0
    products.foreach { case (name, df) =>
      val s = tr.span("probe.indexes")(seconds(noop(df)))
      metrics(s"etl.indexes.${name}_s") = s
      toNoop += s
      toJson += seconds(
        Sinks.partitionedJson(df, s"$out/$name", Seq("study_id")))
    }
    metrics("sources.json_write_s") = toJson - toNoop
    metrics("sources.files_written") = Gate.partFiles(out, ".json").size.toDouble
    (shared(sh) ++ frames(in)).foreach(_.unpersist(true))
    metrics.toMap
  }
}
