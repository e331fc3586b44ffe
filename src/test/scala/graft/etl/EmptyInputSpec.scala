package graft.etl

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.WithSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Empty-input hardening: at 100 TB a partial load (a study with no
  * exposures, no families, no files yet) is normal, not exceptional —
  * the index build must degrade to null/empty branches and zero
  * counts, never throw. Fixture: the clinical dir with every child
  * entity truncated to its header line; only donor and study carry
  * rows.
  */
class EmptyInputSpec extends AnyFunSuite with WithSpark {
  import spark.implicits._

  private val src = Paths.get("src/test/resources/clinical")

  /** Entities emptied to header-only in the derived fixture dir. */
  private val emptied = Seq("phenotype.tsv", "file.tsv", "biospecimen.tsv",
    "sample_registration.tsv", "diagnosis.tsv", "treatment.tsv",
    "follow_up.tsv", "exposure.tsv", "family.tsv", "family_history.tsv")

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft_empty_fixture")
    for (f <- Seq("donor.tsv", "study.tsv", "metadata.json",
        "dictionary.json", "terms.jsonl.gz", "mondo_terms.jsonl.gz",
        "icd_terms.jsonl.gz", "duo_terms.jsonl.gz"))
      Files.copy(src.resolve(f), d.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    for (f <- emptied) {
      val header = Files.readAllLines(src.resolve(f)).get(0)
      Files.writeString(d.resolve(f), header + "\n")
    }
    d
  }

  private lazy val products = {
    val (p, release) = Indexes.buildAll(
      Indexes.ClinicalInputs.fromDir(spark, dir.toString))
    val out = p.map { case (k, v) => k -> v.cache() }
    out.values.foreach(_.count()) // materialize before release
    release()
    out
  }

  test("donor index: every donor survives with empty branches") {
    val donors = products("donors")
    assert(donors.count() == 5)
    val row = donors.filter($"submitter_donor_id" === "DO001")
      .select(
        $"summary.n_files", $"summary.files_available",
        $"summary.clinical_data_available", $"summary.data_category",
        $"diagnoses".isNull, $"files".isNull, $"exposures".isNull)
      .as[(Long, Boolean, Boolean, Seq[String], Boolean, Boolean, Boolean)]
      .collect().head
    assert(row == ((0L, false, false, Seq.empty, true, true, true)))
  }

  test("study index: both studies survive with zeroed summaries") {
    val studies = products("studies")
    assert(studies.count() == 2)
    val bySid = studies
      .select($"study_id", $"summary.n_donors", $"summary.n_files",
        $"summary.n_donors_with_files", size($"summary.data_category"),
        size($"summary.clinical_data_available"))
      .as[(String, Long, Long, Long, Int, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(bySid("GS001")._2 > 0)          // donors still nest
    assert(bySid("GS001").productIterator.drop(2).toSeq ==
      Seq(0L, 0L, 0, 0))                   // all file/clinical facets empty
  }

  test("file index is empty, not broken") {
    assert(products("files").count() == 0)
  }

  test("refreshStudyIndex degrades on the empty-children fixture " +
      "(empty matrices stay empty, no throw)") {
    val in = Indexes.ClinicalInputs.fromDir(spark, dir.toString)
    val prior = Indexes.studyIndex(in).localCheckpoint()
    val refreshed = Indexes.refreshStudyIndex(prior, in, Seq("GS001"))
    assert(refreshed.count() == 2)
    // no donor⋈file rows anywhere → every matrix must stay EMPTY
    val sizes = refreshed
      .select(size(col("summary.data_category")).as("dc"),
        size(col("summary.experimental_strategy")).as("es"))
      .as[(Int, Int)].collect().toSeq
    assert(sizes.forall { case (dc, es) => dc == 0 && es == 0 }, sizes)
  }

  test("CDC and scale-join operators degrade on empty frames") {
    import graft.ops.{Cdc, Skew, Similarity}
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val some = Seq((1L, "a")).toDF("k", "v")
    // diff of two empties / one-sided empties
    assert(Cdc.diffSnapshots(empty, empty, Seq("k"), Seq("v")).count() == 0)
    assert(Cdc.diffSnapshots(some, empty, Seq("k"), Seq("v"))
      .select("op").as[String].collect().toSeq == Seq("delete"))
    assert(Cdc.scd1Merge(empty, some, Seq("k")).count() == 1)
    assert(Cdc.applyDiff(empty,
      Cdc.diffSnapshots(empty, some, Seq("k"), Seq("v")),
      Seq("k"), Seq("v")).as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
    // salted join with an empty dim: left keeps facts, inner drops all
    assert(Skew.saltedJoin(some, empty.withColumnRenamed("v", "w"),
      Seq("k"), 4, "left").count() == 1)
    assert(Skew.saltedJoin(some, empty.withColumnRenamed("v", "w"),
      Seq("k"), 4).count() == 0)
    // global row number of nothing is nothing
    assert(graft.ops.Layout.globalRowNumber(
      empty, Seq(col("k")), 4).count() == 0)
    // semantic dedup / IVF of an empty corpus is empty (no centroids
    // to draw); PQ training refuses loudly instead of a cryptic head()
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("id", "vec")
    assert(Similarity.semanticDedup(
      emptyVecs, "id", "vec", 0.9, numCentroids = 4).count() == 0)
    assert(Similarity.ivfTopK(
      emptyVecs, emptyVecs, "id", "vec", 5).count() == 0)
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(emptyVecs, "id", "vec", m = 2, k = 2)
    }
  }

  test("round-6 operators degrade on empty frames") {
    import graft.ops.{Cooccurrence, Dedup, Packing, TimeSeries}
    val emptyDocs = Seq.empty[(Long, Seq[String])].toDF("id", "toks")
    assert(Cooccurrence.pmi(emptyDocs, col("toks"), 3).count() == 0)
    assert(Packing.slidingChunks(emptyDocs, col("toks"), 8, 2)
      .count() == 0)
    // a doc with an EMPTY token array yields no chunk rows (sequence
    // over a negative count must not throw) and no pairs
    val blank = Seq((1L, Seq.empty[String])).toDF("id", "toks")
    assert(Packing.slidingChunks(blank, col("toks"), 8, 2).count() == 0)
    assert(Cooccurrence.pmi(blank, col("toks"), 3).count() == 0)
    assert(Dedup.containmentJoinExact(
      emptyDocs, "id", col("toks"), 0.8).count() == 0)
    val emptyEvents = Seq.empty[(String, java.sql.Timestamp, Double)]
      .toDF("k", "t", "v")
    assert(TimeSeries.gapFill(emptyEvents, "k", "t",
      sum(col("v").cast("decimal(18,2)"))).count() == 0)
  }

  test("full pipeline runs end-to-end on the empty-children fixture") {
    val work = Files.createTempDirectory("graft_empty_out")
    Pipeline.run(spark, dir.toString, work.toString)
    val donorsBack = spark.read.json(s"$work/indexes/donors")
    assert(donorsBack.count() == 5)
  }
}
