package graft.etl

import graft.WithSpark
import graft.sources.Sources
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden assertions over the assembled index products, reference-style
  * (reference: PreProcessETLTest golden compare + StudiesExpected
  * nested shape). */
class IndexesSpec extends AnyFunSuite with WithSpark {
  import spark.implicits._

  private val dir = "src/test/resources/clinical"

  private lazy val inputs = Indexes.ClinicalInputs.fromDir(spark, dir)

  private lazy val index = Indexes.donorIndex(
    inputs,
    meta = Seq("dictionary_version" -> "9.9", "study_version" -> "v42"))
    .cache()

  test("one row per donor, metadata stamped, study nested") {
    assert(index.count() == 5)
    val row = index.filter($"submitter_donor_id" === "DO001")
      .select("dictionary_version", "study_version")
      .as[(String, String)].collect().head
    assert(row == ("9.9", "v42"))
    val studyArr = index.filter($"submitter_donor_id" === "DO001")
      .select($"study".getField("name")).as[Seq[String]].collect().head
    assert(studyArr == Seq("Graft Study One"))
  }

  test("observed phenotypes are ontology-expanded per donor") {
    // DO001: PH001 (Seizure) observed TRUE, PH002 (Fever) observed yes
    // → leaves + Neurological + Constitutional + shared root = 5 terms
    val terms = index.filter($"submitter_donor_id" === "DO001")
      .select(explode($"observed_phenotypes").as("t"))
      .select($"t.term_id", $"t.is_tagged")
      .as[(String, Boolean)].collect().toMap
    assert(terms.keySet == Set("HP:0000001", "HP:0000002", "HP:0000700",
      "HP:0025142", "HP:0000118"))
    assert(terms("HP:0000001") && terms("HP:0000002")) // leaves tagged
    assert(!terms("HP:0000118")) // root only an ancestor
    // DO004: PH004 observed FALSE → lands in non_observed side
    val nobs = index.filter($"submitter_donor_id" === "DO004")
      .select(explode($"non_observed_phenotypes").as("t"))
      .select($"t.term_id").as[String].collect().toSet
    assert(nobs.contains("HP:0000003"))
  }

  test("diagnosis branch: MONDO + ICD main categories per diagnosis") {
    // DO001 DG001: MONDO:0005068 → "cardiovascular disorder
    // (MONDO:0004995)" (parents contain the MONDO root); ICD I21 →
    // chapter-range ancestor "Ischaemic heart diseases (I20-I25)"
    val dg = index.filter($"submitter_donor_id" === "DO001")
      .select(explode($"diagnoses").as("d"))
      .select($"d.submitter_diagnosis_id", $"d.mondo_main_category",
        $"d.icd_main_category")
      .as[(String, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(dg("DG001") == (("cardiovascular disorder (MONDO:0004995)",
      "Ischaemic heart diseases (I20-I25)")))
    assert(dg("DG002") == (("nervous system disorder (MONDO:0005071)",
      "Episodic and paroxysmal disorders (G40-G47)")))
    // DO005 DG005 has unknown codes → null main categories
    val dg5 = index.filter($"submitter_donor_id" === "DO005")
      .select(explode($"diagnoses").as("d"))
      .select($"d.mondo_main_category", $"d.icd_main_category")
      .collect().head
    assert(dg5.isNullAt(0) && dg5.isNullAt(1))
  }

  test("treatments and follow-ups nest under their diagnosis") {
    val dg = index.filter($"submitter_donor_id" === "DO001")
      .select(explode($"diagnoses").as("d"))
      .select($"d.submitter_diagnosis_id",
        coalesce(size($"d.treatments"), lit(-1)),
        coalesce(size($"d.follow_ups"), lit(-1)))
      .as[(String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(dg("DG001") == ((2, 1))) // TR001+TR002, FU001
    assert(dg("DG002") == ((-1, -1))) // no children → null nests
    val tr = index.filter($"submitter_donor_id" === "DO001")
      .select(explode($"diagnoses").as("d"))
      .filter($"d.submitter_diagnosis_id" === "DG001")
      .select(explode($"d.treatments").as("t"))
      .select($"t.submitter_treatment_id", $"t.treatment_type")
      .as[(String, String)].collect().toSeq
    assert(tr == Seq(("TR001", "Surgery"), ("TR002", "Medication")))
  }

  test("per-donor MONDO/ICD ancestor expansions (mondo + icd arrays)") {
    // DO001 has MONDO:0005068 + MONDO:0005027 → leaves tagged plus
    // cardiovascular/nervous-system ancestors plus shared root
    val mondo = index.filter($"submitter_donor_id" === "DO001")
      .select(explode($"mondo").as("t"))
      .select($"t.term_id", $"t.is_tagged")
      .as[(String, Boolean)].collect().toMap
    assert(mondo.keySet == Set("MONDO:0005068", "MONDO:0005027",
      "MONDO:0004995", "MONDO:0005071", "MONDO:0000001"))
    assert(mondo("MONDO:0005068") && !mondo("MONDO:0000001"))
    // ICD codes expand through the split id (I21, not I21|9)
    val icd = index.filter($"submitter_donor_id" === "DO001")
      .select(explode($"icd").as("t"))
      .select($"t.term_id").as[String].collect().toSet
    assert(icd.contains("I21") && icd.contains("G40"))
  }

  test("family, family-history, exposure nests on the donor row") {
    val d1 = index.filter($"submitter_donor_id" === "DO001")
      .select(size($"family_relationships"), size($"family_conditions"),
        size($"exposures"))
      .as[(Int, Int, Int)].collect().head
    assert(d1 == ((1, 1, 1)))
    val rel = index.filter($"submitter_donor_id" === "DO002")
      .select(explode($"family_relationships").as("r"))
      .select($"r.submitter_family_id", $"r.relationship_to_proband")
      .as[(String, String)].collect().head
    assert(rel == (("FM001", "Father")))
    // DO003 has none of the three → null nests
    val d3 = index.filter($"submitter_donor_id" === "DO003")
      .select($"family_relationships".isNull, $"family_conditions".isNull,
        $"exposures".isNull)
      .as[(Boolean, Boolean, Boolean)].collect().head
    assert(d3 == ((true, true, true)))
  }

  test("files nest with biospecimen and samples attached") {
    val files = index.filter($"submitter_donor_id" === "DO001")
      .select(explode($"files").as("f"))
      .select($"f.file_name", $"f.biospecimen.biospecimen_type",
        size($"f.biospecimen.samples"))
      .as[(String, String, Int)].collect().toSet
    assert(files == Set(("f1.cram", "normal", 2), ("f2.vcf", "normal", 2)))
  }

  test("summary struct: facets, counts, availability flags") {
    val s2 = index.filter($"submitter_donor_id" === "DO002")
      .select($"summary.data_category", $"summary.n_files",
        $"summary.files_available", $"summary.clinical_data_available")
      .as[(Seq[String], Long, Boolean, Boolean)].collect().head
    assert(s2 == ((Seq("Genomics", "Imaging"), 2L, true, true)))
    // DO003 has no files, no phenotypes, and no diagnoses
    val s3 = index.filter($"submitter_donor_id" === "DO003")
      .select($"summary.n_files", $"summary.files_available",
        $"summary.clinical_data_available")
      .as[(Long, Boolean, Boolean)].collect().head
    assert(s3 == ((0L, false, false)))
    // DO005 has no files but carries a diagnosis → clinical data
    val s5 = index.filter($"submitter_donor_id" === "DO005")
      .select($"summary.clinical_data_available").as[Boolean].collect().head
    assert(s5)
  }

  test("dataAccessCodes: split, DUO display-name, sorted distinct") {
    val got = Indexes.dataAccessCodes(
        Sources.tsv(spark, s"$dir/study.tsv"),
        Sources.jsonLines(spark, s"$dir/duo_terms.jsonl.gz"))
      .orderBy("study_id").collect()
    val gs1 = got(0).getStruct(1)
    assert(gs1.getString(0) == "General Research Use (DUO:0000005)")
    assert(gs1.getSeq[String](1) == Seq(
      "Ethics Approval Required (DUO:0000021)",
      "Publication Required (DUO:0000019)"))
    val gs2 = got(1).getStruct(1)
    assert(gs2.getString(0) == "Disease Specific Research (DUO:0000007)")
    assert(gs2.getSeq[String](1) == Seq("Publication Required (DUO:0000019)"))
  }

  test("studySummary: full-universe matrices and clinical availability") {
    val s = Indexes.studySummary(inputs).cache()
    // GS001: Genomics (2 donors, 3 files), Imaging (1 donor, 1 file);
    // GS002 has no Imaging files → zero-filled universe row
    val dc = s.select($"study_id", explode($"data_category").as("c"))
      .select($"study_id", $"c.key", $"c.donors", $"c.files")
      .as[(String, String, Long, Long)].collect().toSet
    assert(dc == Set(
      ("GS001", "Genomics", 2L, 3L), ("GS001", "Imaging", 1L, 1L),
      ("GS002", "Genomics", 1L, 1L), ("GS002", "Imaging", 0L, 0L)))
    // clinical availability: distinct donors per entity kind
    val cda = s.filter($"study_id" === "GS001")
      .select(explode($"clinical_data_available").as("c"))
      .select($"c.key", $"c.donors").as[(String, Long)].collect().toMap
    assert(cda == Map("diagnosis" -> 2L, "phenotype" -> 2L,
      "treatment" -> 2L, "exposure" -> 2L, "follow_up" -> 1L,
      "family_history" -> 1L, "family" -> 2L))
  }

  test("studyIndex: one row per study, nested donors/files, summary, DUO") {
    val idx = Indexes.studyIndex(inputs, meta = Seq("study_version" -> "v42"))
    assert(idx.count() == 2)
    val gs1 = idx.filter($"study_id" === "GS001")
      .select(size($"donors"), size($"files"), $"summary.n_donors",
        $"summary.n_files", $"summary.data_category.key",
        $"data_access_codes.access_limitations", $"study_version")
      .as[(Int, Int, Long, Long, Seq[String], String, String)]
      .collect().head
    assert(gs1 == ((3, 4, 3L, 4L, Seq("Genomics", "Imaging"),
      "General Research Use (DUO:0000005)", "v42")))
    // donors carry their phenotype expansions AND diagnoses into the nest
    val donorsNested = idx.filter($"study_id" === "GS001")
      .select(explode($"donors").as("d"))
      .select($"d.submitter_donor_id",
        coalesce(size($"d.observed_phenotypes"), lit(-1)).as("n"),
        coalesce(size($"d.diagnoses"), lit(-1)).as("nd"))
      .as[(String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(donorsNested("DO001") == ((5, 2))) // 2 leaves + 3 ancestors; 2 dgs
    assert(donorsNested("DO003") == ((-1, -1))) // nothing → null nests
  }

  test("fileIndex: one row per file with study, biospecimen, donor") {
    val idx = Indexes.fileIndex(inputs, meta = Seq("dictionary_version" -> "9.9"))
    assert(idx.count() == 5)
    val f1 = idx.filter($"file_name" === "f1.cram")
      .select($"study".getField("name").getItem(0),
        $"biospecimen.biospecimen_type", $"donor.gender",
        size($"donor.observed_phenotypes"), size($"donor.diagnoses"),
        $"dictionary_version")
      .as[(String, String, String, Int, Int, String)].collect().head
    assert(f1 == (("Graft Study One", "normal", "Female", 5, 2, "9.9")))
  }

  test("splitIcdTerms unpacks code|chapter ids") {
    val got = Indexes.splitIcdTerms(
        Sources.jsonLines(spark, s"$dir/icd_terms.jsonl.gz"))
      .select("id", "chapter").as[(String, String)].collect().toSet
    assert(got == Set(("I21", "9"), ("G40", "6"), ("G40-G47", "6")))
  }

  test("buildAll products equal the standalone builds; release unpersists") {
    val (products, release) = Indexes.buildAll(
      inputs, meta = Seq("study_version" -> "v42"))
    val standalone = Indexes.donorIndex(
      inputs, meta = Seq("study_version" -> "v42"))
    // same rows regardless of shared-frame injection
    assert(products("donors").count() == standalone.count())
    assert(products("donors").exceptAll(standalone).isEmpty &&
      standalone.exceptAll(products("donors")).isEmpty)
    assert(products("studies").count() == 2)
    assert(products("files").count() == 5)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    release()
    assert(spark.sparkContext.getPersistentRDDs.size < cachedBefore ||
      cachedBefore == 0)
  }

  test("customerIndex assembles nation + sorted orders + summary") {
    val customer = Seq((1L, "Alice", "BUILDING", 10L), (2L, "Bob", "AUTO", 11L))
      .toDF("c_custkey", "c_name", "c_mktsegment", "c_nationkey")
    val nation = Seq((10L, "CANADA", 1L), (11L, "PERU", 2L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val orders = Seq((100L, 1L, "2024-01-01", 10.0), (99L, 1L, "2024-02-01", 5.5))
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val got = Indexes.customerIndex(customer, nation, orders)
      .orderBy("c_custkey").collect()
    val alice = got(0)
    assert(alice.getSeq[Row](3).map(_.getString(0)) == Seq("CANADA"))
    assert(alice.getSeq[Row](4).map(_.getLong(0)) == Seq(99L, 100L)) // sorted
    val aliceSummary = alice.getStruct(5)
    assert(aliceSummary.getLong(0) == 2L && aliceSummary.getDouble(1) == 15.5
      && aliceSummary.getBoolean(2))
    val bobSummary = got(1).getStruct(5)
    assert(bobSummary.getLong(0) == 0L && !bobSummary.getBoolean(2))
    assert(got(1).isNullAt(4)) // no orders → null nest (left join)
  }

  private val stamps =
    Seq("dictionary_version" -> "9.9", "study_version" -> "v42")

  test("refreshStudyIndex(changed) equals the full rebuild field-for-field") {
    // prior built before DO002's files landed: GS001's doc is stale
    // AND the corpus universe is missing Imaging/Histology/WXS
    val stale = inputs.copy(file = inputs.file.filter(
      !(col("study_id") === "GS001" && col("submitter_donor_id") === "DO002")))
    val prior = Indexes.studyIndex(stale, stamps)
    val refreshed =
      Indexes.refreshStudyIndex(prior, inputs, Seq("GS001"), stamps)
    val full = Indexes.studyIndex(inputs, stamps)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select(to_json(struct(df.columns.sorted.map(col): _*)))
      .as[String].collect().sorted.toSeq
    assert(canon(refreshed) == canon(full))
  }

  test("refreshDonorIndex / refreshFileIndex equal their full rebuilds") {
    // stale prior: GS001's phenotypes had not landed yet
    val stale = inputs.copy(phenotype = inputs.phenotype.filter(
      col("study_id") =!= "GS001"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select(to_json(struct(df.columns.sorted.map(col): _*)))
      .as[String].collect().sorted.toSeq
    val donorPrior = Indexes.donorIndex(stale, stamps).localCheckpoint()
    assert(canon(Indexes.refreshDonorIndex(
        donorPrior, inputs, Seq("GS001"), stamps)) ==
      canon(Indexes.donorIndex(inputs, stamps)))
    val filePrior = Indexes.fileIndex(stale, stamps).localCheckpoint()
    assert(canon(Indexes.refreshFileIndex(
        filePrior, inputs, Seq("GS001"), stamps)) ==
      canon(Indexes.fileIndex(inputs, stamps)))
  }

  test("refreshStudyIndex passes unchanged docs through, not rebuilds them") {
    // sentinel: tamper GS002's name in the PRIOR inputs only — if the
    // refresh of GS001 rebuilt GS002 from (untampered) inputs, the
    // sentinel would vanish; pass-through preserves it
    val tampered = inputs.copy(study = inputs.study.withColumn("name",
      when(col("study_id") === "GS002", lit("SENTINEL"))
        .otherwise(col("name"))))
    val prior = Indexes.studyIndex(tampered, stamps)
    val refreshed =
      Indexes.refreshStudyIndex(prior, inputs, Seq("GS001"), stamps)
    val names = refreshed.select("study_id", "name")
      .as[(String, String)].collect().toMap
    assert(names("GS002") == "SENTINEL", "unchanged doc was rebuilt")
    assert(names("GS001") != "SENTINEL")
  }

  test("study-index STORE: refresh rewrites only changed partitions, " +
      "read view equals the full rebuild, pruned read prunes") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select(to_json(struct(df.columns.sorted.map(col): _*)))
      .as[String].collect().sorted.toSeq
    // prior built before DO002's files landed: GS001 stale AND the
    // corpus universe missing Imaging/Histology/WXS (the hard case —
    // the refresh must patch GS002's matrices at READ time, without
    // touching its stored partition)
    val stale = inputs.copy(file = inputs.file.filter(
      !(col("study_id") === "GS001" &&
        col("submitter_donor_id") === "DO002")))
    val dir = graft.core.Scratch.dir("study_index_store")
    Indexes.writeStudyIndexStore(Indexes.studyIndex(stale, stamps), dir)
    def gs2Files: Map[String, Long] = {
      val d = new java.io.File(s"$dir/docs/__study_pt=GS002")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = gs2Files
    val n = Indexes.refreshStudyIndexStore(
      spark, dir, inputs, Seq("GS001"), stamps)
    assert(n == 1L)
    // pass-through partition untouched on disk (same files, same mtime)
    assert(gs2Files == before, "refresh rewrote an unchanged partition")
    // read view == full rebuild byte-for-byte, incl. GS002's
    // read-time-patched zero rows for the reintroduced categories
    assert(canon(Indexes.readStudyIndexStore(spark, dir)) ==
      canon(Indexes.studyIndex(inputs, stamps)))
    // pruned read returns exactly the requested study's doc
    val pruned = Indexes.readStudyIndexStore(spark, dir, Seq("GS001"))
    assert(canon(pruned) ==
      canon(Indexes.studyIndex(inputs, stamps)
        .filter(col("study_id") === "GS001")))
    // refresh is idempotent under re-delivery
    Indexes.refreshStudyIndexStore(spark, dir, inputs, Seq("GS001"), stamps)
    assert(canon(Indexes.readStudyIndexStore(spark, dir)) ==
      canon(Indexes.studyIndex(inputs, stamps)))
  }

  test("study-index STORE sequences: successive refreshes of " +
      "DIFFERENT studies carry the universe forward — each read view " +
      "equals the full rebuild of the then-current inputs") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select(to_json(struct(df.columns.sorted.map(col): _*)))
      .as[String].collect().sorted.toSeq
    val stale = inputs.copy(file = inputs.file.filter(
      !(col("study_id") === "GS001" &&
        col("submitter_donor_id") === "DO002")))
    val dir = graft.core.Scratch.dir("study_index_store_seq")
    Indexes.writeStudyIndexStore(Indexes.studyIndex(stale, stamps), dir)
    // refresh 1: GS001's files land, INTRODUCING categories the
    // stored GS002 doc has never seen (read-time patch covers it)
    Indexes.refreshStudyIndexStore(spark, dir, inputs, Seq("GS001"), stamps)
    assert(canon(Indexes.readStudyIndexStore(spark, dir)) ==
      canon(Indexes.studyIndex(inputs, stamps)))
    // refresh 2: GS002's study record changes (rename) — rebuilding
    // ONLY GS002 must keep GS001's refreshed doc AND zero-fill the
    // rebuilt GS002 against the full carried universe
    val renamed = inputs.copy(study = inputs.study.withColumn("name",
      when(col("study_id") === "GS002", lit("RENAMED"))
        .otherwise(col("name"))))
    Indexes.refreshStudyIndexStore(spark, dir, renamed, Seq("GS002"), stamps)
    assert(canon(Indexes.readStudyIndexStore(spark, dir)) ==
      canon(Indexes.studyIndex(renamed, stamps)))
  }

  test("donor/file doc STORES: refresh swaps only changed partitions " +
      "and the read view equals the full rebuild") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select(to_json(struct(df.columns.sorted.map(col): _*)))
      .as[String].collect().sorted.toSeq
    val stale = inputs.copy(phenotype = inputs.phenotype.filter(
      col("study_id") =!= "GS001"))
    val dir = graft.core.Scratch.dir("donor_doc_store")
    Indexes.writeDocIndexStore(Indexes.donorIndex(stale, stamps), dir)
    def gs2Files: Map[String, Long] = {
      val d = new java.io.File(s"$dir/docs/__study_pt=GS002")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = gs2Files
    val n = Indexes.refreshDocIndexStore(
      dir, Indexes.donorIndex(_, stamps), inputs, Seq("GS001"))
    assert(n > 0)
    assert(gs2Files == before, "refresh rewrote an unchanged partition")
    assert(canon(Indexes.readDocIndexStore(spark, dir)) ==
      canon(Indexes.donorIndex(inputs, stamps)))
    // pruned read returns exactly the requested study's docs
    assert(canon(Indexes.readDocIndexStore(spark, dir, Seq("GS001"))) ==
      canon(Indexes.donorIndex(inputs, stamps)
        .filter(col("study_id") === "GS001")))
  }

  test("clinical CATALOG: study ids needing Hive path-escaping " +
      "(space, ':', '=', '%') survive the write and the pruned read") {
    // partitionBy writes `__study_pt=GS%200%3A0%3D1%25`; the pruned
    // read must build the SAME escaped directory name or it silently
    // treats the study as absent and a refresh drops its rows
    // (round-14 advice)
    val ugly = "GS 0:0=1%"
    def esc(df: org.apache.spark.sql.DataFrame) = df.withColumn(
      "study_id", regexp_replace(col("study_id"), "GS001", ugly))
    val in2 = inputs.mapEntities(esc)
    val dir = graft.core.Scratch.dir("clinical_catalog_escaped")
    Indexes.writeClinicalCatalog(in2, dir)
    val want = inputs.donor.filter(col("study_id") === "GS001").count()
    assert(want > 0, "fixture must have GS001 donors")
    val pruned = Indexes.readClinicalCatalog(spark, dir, Seq(ugly))
    assert(pruned.donor.count() == want,
      "pruned read missed the Hive-escaped partition directory")
    assert(pruned.donor.select("study_id").distinct()
      .as[String].collect().toSeq == Seq(ugly))
    // a study with no stored partition is still just absent (schema
    // preserved, zero rows), not an error
    val none = Indexes.readClinicalCatalog(spark, dir, Seq("NOPE x"))
    assert(none.donor.count() == 0)
  }

  test("clinical CATALOG: round-trip equality, file-listing partition " +
      "pruning, catalog-based refreshes equal the full rebuilds") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select(to_json(struct(df.columns.sorted.map(col): _*)))
      .as[String].collect().sorted.toSeq
    val dir = graft.core.Scratch.dir("clinical_catalog")
    Indexes.writeClinicalCatalog(inputs, dir)
    // round-trip: all 12 entity and 4 term tables read back
    // row-identical, each into its own field
    val back = Indexes.readClinicalCatalog(spark, dir)
    for (t <- Indexes.ClinicalInputs.Entities ++ Indexes.ClinicalInputs.Terms)
      assert(canon(back.frame(t)) == canon(inputs.frame(t)), t.field)
    // STRUCTURAL pruning: the changed-study read lists ONLY the
    // requested studies' directories (direct-path reads — the plan
    // never touches, let alone filters, other partitions)
    val pruned = Indexes.readClinicalCatalog(spark, dir, Seq("GS001"))
    val files = pruned.donor.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("__study_pt=GS001")),
      s"catalog read listed a non-requested study's files: " +
        files.filterNot(_.contains("__study_pt=GS001")).take(3).mkString(","))
    assert(canon(pruned.donor) ==
      canon(inputs.donor.filter(col("study_id") === "GS001")))
    // catalog-based study-index refresh == the frame path's read view
    val stale = inputs.copy(file = inputs.file.filter(
      !(col("study_id") === "GS001" &&
        col("submitter_donor_id") === "DO002")))
    val sdir = graft.core.Scratch.dir("study_index_store_cat")
    Indexes.writeStudyIndexStore(Indexes.studyIndex(stale, stamps), sdir)
    val n = Indexes.refreshStudyIndexStore(
      spark, sdir, dir, Seq("GS001"), stamps)
    assert(n == 1L)
    assert(canon(Indexes.readStudyIndexStore(spark, sdir)) ==
      canon(Indexes.studyIndex(inputs, stamps)))
    // catalog-based donor-doc refresh likewise
    val ddir = graft.core.Scratch.dir("donor_doc_store_cat")
    Indexes.writeDocIndexStore(Indexes.donorIndex(stale, stamps), ddir)
    Indexes.refreshDocIndexStore(
      spark, ddir, Indexes.donorIndex(_, stamps), dir, Seq("GS001"))
    assert(canon(Indexes.readDocIndexStore(spark, ddir)) ==
      canon(Indexes.donorIndex(inputs, stamps)))
  }
}
