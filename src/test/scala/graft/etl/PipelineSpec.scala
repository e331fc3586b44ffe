package graft.etl

import graft.WithSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end: fixtures → pre-process parquet stage → three nested
  * JSON index collections, read back and checked. */
class PipelineSpec extends AnyFunSuite with WithSpark {
  import spark.implicits._

  test("Authz seam is idempotent and deterministic") {
    val a = InMemoryAuthz()
    val first = a.ensureResources(Seq("GS001", "GS002"))
    val again = a.ensureResources(Seq("GS001"))
    assert(first == Map("GS001" -> "res_GS001", "GS002" -> "res_GS002"))
    assert(again == Map("GS001" -> "res_GS001"))
    assert(a.all.size == 2)
  }

  test("JsonDictionary resolves whitelists from the fixture document") {
    val d = JsonDictionary(spark, "src/test/resources/clinical/dictionary.json")
    val schemas = d.schemas("9.9")
    assert(schemas("donor").contains("gender"))
    assert(!schemas("donor").contains("age TODAY"))
    assert(schemas.keySet.size == 12)
    assert(schemas("diagnosis").contains("diagnosis_ICD_code"))
    intercept[IllegalArgumentException] { d.schemas("0.0") }
  }

  test("two-stage pipeline writes stage parquet and partitioned indexes") {
    val work = Files.createTempDirectory("graft-pipeline").toString
    Pipeline.run(spark, "src/test/resources/clinical", work)

    // stage 1: pre-processed parquet with minted ids, pruned columns —
    // all 12 clinical entities round-trip the stage
    for (e <- Seq("donor", "study", "phenotype", "biospecimen",
        "sampleregistration", "file", "diagnosis", "treatment", "followup",
        "exposure", "family", "familyhistory")) {
      assert(spark.read.parquet(s"$work/stage1/$e").count() > 0, e)
    }
    val donorStage = spark.read.parquet(s"$work/stage1/donor")
    assert(donorStage.count() == 5)
    assert(donorStage.columns.contains("internal_donor_id"))
    assert(!donorStage.columns.contains("age TODAY"))
    val diagStage = spark.read.parquet(s"$work/stage1/diagnosis")
    assert(diagStage.columns.contains("internal_diagnosis_id"))

    // study got metadata stamps from metadata.json
    val studyStage = spark.read.parquet(s"$work/stage1/study")
    assert(studyStage.select("dictionary_version", "study_version")
      .as[(String, String)].collect().head == ("9.9", "v42"))

    // stage 2: JSON indexes partitioned by study_id
    val donorsDirs = new java.io.File(s"$work/indexes/donors")
      .listFiles().map(_.getName).filter(_.startsWith("study_id=")).sorted
    assert(donorsDirs.toSeq == Seq("study_id=GS001", "study_id=GS002"))

    val donors = spark.read.json(s"$work/indexes/donors")
    assert(donors.count() == 5)
    val do1 = donors.filter($"submitter_donor_id" === "DO001")
      .select(size($"observed_phenotypes"), size($"files"),
        $"summary.files_available", size($"diagnoses"),
        size($"family_relationships"))
      .as[(Int, Int, Boolean, Int, Int)].collect().head
    assert(do1 == ((5, 2, true, 2, 1)))

    val studies = spark.read.json(s"$work/indexes/studies")
    assert(studies.count() == 2)
    assert(studies.filter($"study_id" === "GS001")
      .select(size($"donors")).as[Int].collect().head == 3)

    val files = spark.read.json(s"$work/indexes/files")
    assert(files.count() == 5)
    assert(files.filter($"file_name" === "f1.cram")
      .select($"donor.gender").as[String].collect().head == "Female")
  }

  test("stage 2 reads the parquet stage 1 wrote, not the TSVs") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val dir = "src/test/resources/clinical"
    val stage = Files.createTempDirectory("graft-stage1").toString
    val entities = Pipeline.preProcessStage(spark, dir, stage,
      dictionary = JsonDictionary(spark, s"$dir/dictionary.json"))
    assert(entities.size == 12)
    for ((name, df) <- entities) {
      val formats = df.queryExecution.sparkPlan.collect {
        case scan: FileSourceScanExec => scan.relation.fileFormat
      }
      assert(formats.nonEmpty, name)
      assert(!formats.exists(_.isInstanceOf[CSVFileFormat]),
        s"$name re-reads its TSV")
      assert(formats.forall(_.isInstanceOf[ParquetFileFormat]), name)
    }
    assert(entities("donor").count() == 5)
  }

  test("a run without <inputDir>/dictionary.json fails naming that file") {
    val src = Paths.get("src/test/resources/clinical")
    val dir = Files.createTempDirectory("graft-no-dictionary")
    Files.list(src).iterator().asScala
      .filter(_.getFileName.toString != "dictionary.json")
      .foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val work = Files.createTempDirectory("graft-no-dictionary-out")
    val e = intercept[Exception] {
      Pipeline.run(spark, dir.toString, work.toString)
    }
    assert(e.getMessage.contains(s"$dir/dictionary.json"), e.getMessage)
  }

  test("two pipeline runs write the same documents per study") {
    // the concurrent writes must not change any document
    val works = Seq.fill(2)(Files.createTempDirectory("graft-pipeline-det")
      .toString)
    works.foreach(Pipeline.run(spark, "src/test/resources/clinical", _))
    def docs(index: String, work: String): Map[String, Seq[String]] =
      new java.io.File(s"$work/indexes/$index").listFiles()
        .filter(_.getName.startsWith("study_id=")).map { dir =>
          dir.getName -> dir.listFiles().toSeq
            .filter(f => f.getName.startsWith("part-") &&
              f.getName.endsWith(".json"))
            .flatMap(f => Files.readAllLines(f.toPath).asScala)
            .sorted
        }.toMap
    for (index <- Seq("donors", "studies", "files")) {
      val Seq(a, b) = works.map(docs(index, _))
      assert(a.keySet == Set("study_id=GS001", "study_id=GS002"), index)
      assert(a == b, s"$index documents differ between runs")
    }
  }
}
