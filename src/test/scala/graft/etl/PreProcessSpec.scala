package graft.etl

import graft.WithSpark
import graft.functions.GraftFunctions
import graft.sources.Sources
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Typed golden row (top-level so Spark can derive an Encoder),
  * mirroring the reference's generated *Expected case classes. */
case class DonorExpected(
    study_id: String, submitter_donor_id: String, dob: String,
    gender: String, vital_status: String,
    entity_kind: String, internal_donor_id: String)

/** Golden fixture test in the reference's own style
  * (reference: PreProcessETLTest.scala:35-66 — read raw TSVs, run the
  * pre-process transform, compare typed expected rows).
  */
class PreProcessSpec extends AnyFunSuite with WithSpark {
  import spark.implicits._

  private val dir = "src/test/resources/clinical"

  private def sha1Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("pre-process donor: mint + id + whitelist, golden row") {
    val raw = Sources.tsv(spark, s"$dir/donor.tsv")
    assert(raw.schema.fields.forall(_.dataType.typeName == "string"))
    assert(raw.columns.contains("age TODAY")) // pre-prune

    val out = PreProcess.preProcessEntity(
      "donor.tsv", raw,
      schema = Seq("study_id", "submitter_donor_id", "dob", "gender",
        "vital_status"))

    assert(!out.columns.contains("age TODAY")) // pruned
    assert(!out.columns.contains("is_a_proband"))
    val got = out.filter($"submitter_donor_id" === "DO001")
      .as[DonorExpected].collect().head
    val expectedId =
      "donor_" + sha1Hex("donor_GS001_DO001").take(12)
    assert(got == DonorExpected("GS001", "DO001", "3/4/1981", "Female",
      "alive", "donor", expectedId))
  }

  test("entityKey matches java MessageDigest sha1 (reference recipe)") {
    val got = Seq(("GS001", "DO001")).toDF("study_id", "submitter_donor_id")
      .select(GraftFunctions.entityKey(
        "donor", col("study_id"), col("submitter_donor_id")).as("k"))
      .as[String].collect().head
    assert(got == sha1Hex("donor_GS001_DO001"))
  }

  test("study gets metadata stamping from the multiline-JSON metadata") {
    val raw = Sources.tsv(spark, s"$dir/study.tsv")
    val meta = Sources.multilineJson(spark, s"$dir/metadata.json")
      .select("dictionaryVersion", "studyVersionId", "studyVersionDate")
      .as[(String, String, String)].collect().head
    val out = PreProcess.preProcessEntity(
      "study.tsv", raw,
      schema = Seq("study_id", "name", "domain", "access_limitations",
        "access_requirements"),
      studyMeta = Seq(
        "dictionary_version" -> meta._1,
        "study_version" -> meta._2,
        "study_version_creation_date" -> meta._3))
    assert(!out.columns.contains("internal_notes")) // pruned
    val row = out.filter($"study_id" === "GS001")
      .select("dictionary_version", "study_version",
        "study_version_creation_date", "internal_study_id")
      .as[(String, String, String, String)].collect().head
    assert(row._1 == "9.9" && row._2 == "v42" && row._3 == "2026/01/15")
    assert(row._4 == "study_" + sha1Hex("study_GS001").take(12))
  }

  test("MapIds resolver joins fixture ids like the reference id server") {
    val raw = Sources.tsv(spark, s"$dir/phenotype.tsv")
    val keyOf = (args: String) => sha1Hex(args)
    val ids = Map(
      keyOf("phenotype_GS001_DO001_PH001_HP:0000001") -> "ph_internal_1",
      keyOf("phenotype_GS001_DO001_PH002_HP:0000002") -> "ph_internal_2",
      keyOf("phenotype_GS001_DO002_PH003_HP:0000001") -> "ph_internal_3",
      keyOf("phenotype_GS002_DO004_PH004_HP:0000003") -> "ph_internal_4")
    val out = PreProcess.attachInternalId(
      raw, Indexes.ClinicalInputs.Entities.find(_.field == "phenotype").get,
      PreProcess.MapIds(spark, ids))
    val got = out.select("submitter_phenotype_id", "internal_phenotype_id")
      .as[(String, String)].collect().toMap
    assert(got == Map(
      "PH001" -> "ph_internal_1", "PH002" -> "ph_internal_2",
      "PH003" -> "ph_internal_3", "PH004" -> "ph_internal_4"))
  }

  test("unknown entity name fails fast") {
    val raw = Seq(("a")).toDF("x")
    intercept[IllegalArgumentException] {
      PreProcess.preProcessEntity("mystery.tsv", raw, Seq("x"))
    }
  }
}
