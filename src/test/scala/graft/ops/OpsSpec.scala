package graft.ops

import graft.WithSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NestSpec extends AnyFunSuite with WithSpark {
  import spark.implicits._

  private lazy val children = Seq(
    ("S1", "D1", "PH1", "cough"),
    ("S1", "D1", "PH2", "fever"),
    ("S1", "D2", "PH3", "rash")).toDF(
    "study_id", "donor_id", "phenotype_id", "term")

  test("nestChildren folds child rows into sorted array-of-struct") {
    val got = Nest.nestChildren(
        children, Seq("study_id", "donor_id"),
        Seq(col("phenotype_id"), col("term")), "phenotypes")
      .orderBy("donor_id").collect()
    assert(got.length == 2)
    val d1 = got(0).getSeq[Row](2)
    assert(d1.map(_.getString(0)) == Seq("PH1", "PH2"))
    assert(d1.map(_.getString(1)) == Seq("cough", "fever"))
  }

  test("attachChildren left-joins and fills missing with empty array") {
    val parents = Seq(("S1", "D1"), ("S1", "D2"), ("S1", "D3"))
      .toDF("study_id", "donor_id")
    val nested = Nest.nestChildren(
      children, Seq("study_id", "donor_id"),
      Seq(col("phenotype_id")), "phenotypes")
    val got = Nest.attachChildren(
        parents, nested, Seq("study_id", "donor_id"), "phenotypes")
      .withColumn("n", size(col("phenotypes")))
      .orderBy("donor_id")
      .select("donor_id", "n").as[(String, Int)].collect().toSeq
    assert(got == Seq(("D1", 2), ("D2", 1), ("D3", 0)))
  }
}

class SummarySpec extends AnyFunSuite with WithSpark {
  import spark.implicits._

  test("lattice zero-fills absent (group, category) combinations") {
    val facts = Seq(
      ("S1", "WGS", "F1", "D1"),
      ("S1", "WGS", "F2", "D1"),
      ("S1", "WXS", "F3", "D2"),
      ("S2", "WGS", "F4", "D3")).toDF(
      "study_id", "category", "file_id", "donor_id")
    val got = Summary.lattice(
        facts, Seq("study_id"), "category",
        Map("files" -> col("file_id"), "donors" -> col("donor_id")))
      .orderBy("study_id", "category")
      .select("study_id", "category", "files", "donors")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("S1", "WGS", 2L, 1L),
      ("S1", "WXS", 1L, 1L),
      ("S2", "WGS", 1L, 1L),
      ("S2", "WXS", 0L, 0L))) // zero-filled: S2 has no WXS files
  }

  test("latticeUnpivot equals one lattice per field, from one scan") {
    val facts = Seq(
      ("S1", "WGS", "genomics", "F1", "D1"),
      ("S1", "WGS", "genomics", "F2", "D1"),
      ("S1", "WXS", "imaging", "F3", "D2"),
      ("S2", "WGS", null, "F4", "D3")).toDF(
      "study_id", "strategy", "category", "file_id", "donor_id")
    val counts = Map("files" -> col("file_id"), "donors" -> col("donor_id"))
    val got = Summary.latticeUnpivot(
        facts, Seq("study_id"), Seq("strategy", "category"), counts)
      .orderBy("kind", "study_id", "key")
      .select("kind", "study_id", "key", "files", "donors")
      .as[(String, String, String, Long, Long)].collect().toSeq
    // per-kind universes are independent: S2 (no non-null category)
    // contributes NO category rows, but is zero-filled for strategy WXS
    val expected = Seq("strategy", "category").flatMap { f =>
      Summary.lattice(
          facts.filter(col(f).isNotNull), Seq("study_id"), f, counts)
        .orderBy("study_id", f)
        .select(lit(f).as("kind"), col("study_id"), col(f),
          col("files"), col("donors"))
        .as[(String, String, String, Long, Long)].collect().toSeq
    }.sorted
    assert(got == expected)
    assert(got.contains(("strategy", "S2", "WXS", 0L, 0L)))
    assert(!got.exists(r => r._1 == "category" && r._2 == "S2"))
  }

  test("existenceFlag is true for any non-empty group") {
    val facts = Seq(("D1", "f1"), ("D1", "f2"), ("D2", "f3"))
      .toDF("donor_id", "file_id")
    val got = Summary.existenceFlag(facts, Seq("donor_id"), "has_files")
      .orderBy("donor_id").as[(String, Boolean)].collect().toSeq
    assert(got == Seq(("D1", true), ("D2", true)))
  }
}

class OntologySpec extends AnyFunSuite with WithSpark {
  import spark.implicits._

  // Reference-shaped term table (FIXTURES.md ontology schema):
  // HP:3 (leaf) → ancestor HP:2 → ancestor HP:1 (root-child)
  private lazy val terms = Seq(
    ("HP:3", "Chronic cough",
      Seq("Cough (HP:2)"),
      Seq(("HP:2", "Cough", Seq("Abnormality (HP:1)")),
        ("HP:1", "Abnormality", Seq("All (HP:0)"))),
      true),
    ("HP:9", "Fever", Seq("Abnormality (HP:1)"),
      Seq(("HP:1", "Abnormality", Seq("All (HP:0)"))), true))
    .toDF("id", "name", "parents", "ancestors", "is_leaf")
    .withColumn("ancestors",
      col("ancestors").cast(
        "array<struct<id:string,name:string,parents:array<string>>>"))

  private lazy val data = Seq(
    ("S1", "D1", "HP:3", "12"),
    ("S1", "D2", "HP:9", "30")).toDF(
    "study_id", "donor_id", "code", "age_at_event")

  test("expandTerms emits tagged leaf + all ancestors") {
    val got = Ontology.expandTerms(
        data, terms, "code",
        groupKeys = Seq("study_id", "donor_id"),
        payload = Seq("age_at_event"))
      .orderBy("donor_id", "term_id")
      .select("donor_id", "term_id", "is_tagged", "is_leaf")
      .as[(String, String, Boolean, Boolean)].collect().toSeq
    assert(got == Seq(
      ("D1", "HP:1", false, false),
      ("D1", "HP:2", false, false),
      ("D1", "HP:3", true, true),
      ("D2", "HP:1", false, false),
      ("D2", "HP:9", true, true)))
  }

  test("mainCategory picks the root-child ancestor as Name (ID)") {
    val got = Ontology.mainCategory(
        data, terms, "code", Seq("study_id", "donor_id"),
        rootPredicate = anc =>
          array_contains(anc.getField("parents"), "All (HP:0)"))
      .orderBy("donor_id")
      .select("donor_id", "main_category").as[(String, String)]
      .collect().toSeq
    assert(got == Seq(
      ("D1", "Abnormality (HP:1)"), ("D2", "Abnormality (HP:1)")))
  }

  test("mergeValueLists merges distinct sorted payload per term") {
    val both = Seq(
      ("S1", "D1", "HP:3", "12"),
      ("S1", "D1", "HP:3", "07"),
      ("S1", "D1", "HP:3", "12")).toDF(
      "study_id", "donor_id", "code", "age_at_event")
    val got = Ontology.mergeValueLists(
        Ontology.expandTerms(both, terms, "code",
          Seq("study_id", "donor_id"), Seq("age_at_event")),
        Seq("study_id", "donor_id"), "age_at_event", "ages")
      .filter(col("term_id") === "HP:3")
      .select("ages").as[Seq[String]].collect().head
    assert(got == Seq("07", "12"))
    // one term id under two names (as every ICD chapter has id ""),
    // the larger name first in the one partition: the least name wins
    val twoNames = Seq(
      ("S1", "D1", "", "Chapter 5", false, false, "30"),
      ("S1", "D1", "", "Chapter 4", false, false, "20")).toDF(
      "study_id", "donor_id", "term_id", "term_name", "is_tagged",
      "is_leaf", "age_at_event").coalesce(1)
    val named = Ontology.mergeValueLists(
        twoNames, Seq("study_id", "donor_id"), "age_at_event", "ages")
      .select("term_name", "ages").as[(String, Seq[String])].collect()
    assert(named.toSeq == Seq(("Chapter 4", Seq("20", "30"))))
  }

  test("expandAndNest produces one row per group with nested terms") {
    val got = Ontology.expandAndNest(
        data, terms, "code", Seq("study_id", "donor_id"),
        "age_at_event", "phenotypes")
      .orderBy("donor_id")
    assert(got.count() == 2)
    val d1Terms = got.collect()(0).getSeq[Row](2)
    assert(d1Terms.map(_.getString(0)) == Seq("HP:1", "HP:2", "HP:3"))
  }

  test("ancestorClosure: diamond DAGs close completely, deep chains " +
      "converge in log rounds, an insufficient round budget throws") {
    import org.apache.spark.sql.functions.col
    // diamond: 4→{2,3}, 2→1, 3→1 — 4's closure must hold 1 ONCE
    val diamond = Seq((4L, 2L), (4L, 3L), (2L, 1L), (3L, 1L))
      .toDF("child", "anc")
    val got = graft.ops.Ontology.ancestorClosure(diamond)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((4L, 2L), (4L, 3L), (4L, 1L), (2L, 1L), (3L, 1L)))
    // depth-20 chain closes in 5 doublings (2^5 = 32 ≥ 20) plus the
    // confirming round that observes no growth…
    val chain = (1L to 20L).map(i => (i + 1, i)).toDF("child", "anc")
    val cl = graft.ops.Ontology.ancestorClosure(chain, maxDoublings = 6)
      .as[(Long, Long)].collect().toSet
    assert(cl.size == 20 * 21 / 2) // every (descendant, proper ancestor)
    assert(cl((21L, 1L)))
    // …and 4 doublings (paths ≤ 16 hops < 20) must fail LOUDLY, not
    // return a partial closure
    intercept[IllegalArgumentException] {
      graft.ops.Ontology.ancestorClosure(chain, maxDoublings = 4)
    }
    // layout independence
    val again = graft.ops.Ontology.ancestorClosure(diamond.repartition(7))
      .as[(Long, Long)].collect().toSet
    assert(again == got)
    // a CYCLE does not hang the fixpoint (its closure is finite, with
    // reflexive rows) — it is detected after convergence and throws
    // instead of silently returning child==anc rows
    val cyclic = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("child", "anc")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Ontology.ancestorClosure(cyclic)
    }
    assert(ex.getMessage.contains("cycle"))
  }

  test("ancestorClosure: driver kernel == distributed doubling on a " +
      "random multi-parent DAG (both-paths differential; cycle and " +
      "budget contracts hold on both)") {
    // random DAG: node i (2..120) gets 1-2 parents drawn from smaller
    // ids — multi-parent diamonds, shared ancestors, varying depth
    val rnd = new scala.util.Random(7)
    val edges = (2 to 120).flatMap { i =>
      val n = 1 + rnd.nextInt(2)
      (0 until n).map(_ => (i.toLong, (1 + rnd.nextInt(i - 1)).toLong))
    }.distinct.toDF("child", "anc")
    val kernel = graft.ops.Ontology.ancestorClosure(edges)
      .as[(Long, Long)].collect().toSet
    val dist = graft.ops.Ontology
      .ancestorClosure(edges, smallGraphEdges = 0)
      .as[(Long, Long)].collect().toSet
    assert(kernel == dist)
    // budget contract agrees on both paths: depth-20 chain at 4
    // doublings (2^3 = 8 < 20) throws on the kernel too
    val chain = (1L to 20L).map(i => (i + 1, i)).toDF("child", "anc")
    intercept[IllegalArgumentException] {
      graft.ops.Ontology.ancestorClosure(chain, maxDoublings = 4)
    }
    // the cycle message also rides the kernel path (Kahn leaves the
    // loop unprocessed)
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("child", "anc")
    assert(intercept[IllegalArgumentException] {
      graft.ops.Ontology.ancestorClosure(cyc)
    }.getMessage.contains("cycle"))
  }
}
