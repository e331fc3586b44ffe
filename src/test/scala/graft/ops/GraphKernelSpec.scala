package graft.ops

import graft.WithSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Both-paths differentials for the fixed-round graph family's driver
  * kernels (the [[Graph.connectedComponents]] small-graph license,
  * extended in the optimization round): for every op with a
  * `smallGraphEdges` gate, the kernel (gate wide open) must equal the
  * distributed loop (gate = 0) row-for-row on random graphs with hubs,
  * chains, isolated seeds, and ties. The DuckDB oracle faces already
  * pin the kernel path against a third engine at the correctness SFs;
  * this spec pins kernel ≡ distributed so the gate constant can never
  * change a result, only a plan. Every check runs over long node keys
  * and, where the operator's distributed loop accepts them, int and
  * string keys too — rows AND column types must agree, so a kernel
  * that casts keys (or a gate that routes a non-long graph to a
  * long-keyed kernel) fails here.
  */
class GraphKernelSpec extends AnyFunSuite {
  private lazy val spark = WithSpark.session
  import spark.implicits._

  private def randomEdges(seed: Long, n: Int, m: Int) = {
    val rnd = new scala.util.Random(seed)
    // a couple of hubs plus random pairs; self-loops included on
    // purpose (the ops must drop them)
    val hub = (1 to n / 3).map(i => (1L, (i + 1).toLong))
    val rest = (1 to m).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    (hub ++ rest).toDF("a", "b")
  }

  private val AllKeys = Seq("long", "int", "string")
  // bfsDistances/ssspInt cast seeds to long and labelPropagation packs
  // labels into a decimal, so their distributed loops need numeric keys
  private val NumericKeys = Seq("long", "int")

  /** Long keys on every seed; the other key types on the first. */
  private def cases(seeds: Seq[Long], keyTypes: Seq[String]) =
    seeds.map(_ -> "long") ++ keyTypes.tail.map(seeds.head -> _)

  /** `df` with its node-key columns re-typed: "long" as built, "int"
    * cast, "string" prefixed so no key parses as a number. */
  private def rekey(df: DataFrame, keyType: String, keys: String*) =
    keys.foldLeft(df)((d, k) => d.withColumn(k, keyType match {
      case "long" => col(k)
      case "int" => col(k).cast("int")
      case "string" => concat(lit("n"), col(k))
    }))

  private def assertSame(a: DataFrame, b: DataFrame, label: String): Unit = {
    val (sa, sb) = (a.schema.map(f => f.name -> f.dataType),
      b.schema.map(f => f.name -> f.dataType))
    assert(sa == sb, s"$label kernel schema $sa != distributed $sb")
    val x = a.collect().map(_.toSeq).toSet
    val y = b.collect().map(_.toSeq).toSet
    assert(x == y, s"$label kernel != distributed: " +
      s"only-kernel=${(x -- y).take(5)} only-dist=${(y -- x).take(5)}")
  }

  test("pageRankInt kernel equals the distributed loop") {
    for ((seed, t) <- cases(Seq(1L, 2L), AllKeys)) {
      val e = rekey(randomEdges(seed, 40, 80), t, "a", "b")
      assertSame(
        Graph.pageRankInt(e, iters = 4),
        Graph.pageRankInt(e, iters = 4, smallGraphEdges = 0L),
        s"pageRankInt(seed=$seed,$t)")
    }
  }

  test("personalizedPageRankInt kernel equals the distributed loop") {
    // (edge key type, seed type): matching types, plus int edges with
    // long seeds, which the loop's join coerces
    for ((t, st) <- AllKeys.map(t => (t, t)) :+ ("int" -> "long")) {
      val e = rekey(randomEdges(3L, 40, 80), t, "a", "b")
      // 9999 not a vertex
      val seeds = rekey(Seq(1L, 5L, 9999L).toDF("node"), st, "node")
      assertSame(
        Graph.personalizedPageRankInt(e, seeds, iters = 4),
        Graph.personalizedPageRankInt(e, seeds, iters = 4,
          smallGraphEdges = 0L),
        s"personalizedPageRankInt($t edges, $st seeds)")
    }
  }

  test("pageRankIntDirected kernel equals the distributed loop " +
    "(dangling mass included)") {
    for ((seed, t) <- cases(Seq(4L, 5L), AllKeys)) {
      // directed as-is: sinks exist
      val e = rekey(randomEdges(seed, 40, 80), t, "a", "b")
      assertSame(
        Graph.pageRankIntDirected(e, iters = 4),
        Graph.pageRankIntDirected(e, iters = 4, smallGraphEdges = 0L),
        s"pageRankIntDirected(seed=$seed,$t)")
    }
  }

  test("hitsInt kernel equals the distributed loop") {
    for ((seed, t) <- cases(Seq(6L, 7L), AllKeys)) {
      val e = rekey(randomEdges(seed, 30, 60), t, "a", "b")
      assertSame(
        Graph.hitsInt(e, iters = 3),
        Graph.hitsInt(e, iters = 3, smallGraphEdges = 0L),
        s"hitsInt(seed=$seed,$t)")
    }
  }

  test("ssspInt kernel equals the distributed loop (isolated seed kept)") {
    val rnd = new scala.util.Random(8L)
    val e0 = (1 to 80).map(_ => (rnd.nextInt(40).toLong,
      rnd.nextInt(40).toLong, (rnd.nextInt(9) + 1).toLong))
      .toDF("a", "b", "w")
    for (t <- NumericKeys) {
      val e = rekey(e0, t, "a", "b")
      // 555 isolated
      val seeds = rekey(Seq(0L, 7L, 555L).toDF("node"), t, "node")
      assertSame(
        Graph.ssspInt(e, seeds, rounds = 5),
        Graph.ssspInt(e, seeds, rounds = 5, smallGraphEdges = 0L),
        s"ssspInt($t)")
    }
  }

  test("bfsDistances kernel equals the distributed loop (chain + hops cap)") {
    for (t <- NumericKeys; hops <- Seq(0, 3, 25)) {
      val chain = rekey((1L to 20L).map(i => (i, i + 1)).toDF("a", "b"),
        t, "a", "b")
      val seeds = rekey(Seq(1L, 999L).toDF("node"), t, "node")
      assertSame(
        Graph.bfsDistances(chain, seeds, maxHops = hops),
        Graph.bfsDistances(chain, seeds, maxHops = hops,
          smallGraphEdges = 0L),
        s"bfsDistances(hops=$hops,$t)")
    }
  }

  test("kCore kernel equals the distributed loop") {
    for ((seed, t) <- cases(Seq(9L, 10L), AllKeys); k <- Seq(2, 3)) {
      val e = rekey(randomEdges(seed, 30, 90), t, "a", "b")
      assertSame(
        Graph.kCore(e, k = k, rounds = 6),
        Graph.kCore(e, k = k, rounds = 6, smallGraphEdges = 0L),
        s"kCore(seed=$seed,k=$k,$t)")
    }
  }

  test("labelPropagation kernel equals the distributed loop (tie rule)") {
    for ((seed, t) <- cases(Seq(11L, 12L), NumericKeys)) {
      val e = rekey(randomEdges(seed, 30, 60), t, "a", "b")
      assertSame(
        Graph.labelPropagation(e, iters = 3),
        Graph.labelPropagation(e, iters = 3, smallGraphEdges = 0L),
        s"labelPropagation(seed=$seed,$t)")
    }
  }

  test("connectedComponents kernel equals the distributed loop " +
    "(int and string node ids keep their type)") {
    for (t <- AllKeys) {
      val e = rekey(randomEdges(13L, 40, 30), t, "a", "b")
      val universe = rekey((0L until 45L).toDF("id"), t, "id")
      for (nodes <- Seq(None, Some(universe)))
        assertSame(
          Graph.connectedComponents(e, nodes),
          Graph.connectedComponents(e, nodes, smallGraphEdges = 0L),
          s"connectedComponents($t,universe=${nodes.isDefined})")
    }
  }

  test("ancestorClosure on int and string keys equals the distributed " +
    "doubling loop") {
    // long keys: OpsSpec's kernel == doubling differential. Random
    // multi-parent DAG: node i gets 1-2 parents with smaller ids
    val rnd = new scala.util.Random(15L)
    val dag = (2 to 60).flatMap { i =>
      (0 until 1 + rnd.nextInt(2)).map(_ =>
        (i.toLong, (1 + rnd.nextInt(i - 1)).toLong))
    }.distinct.toDF("child", "anc")
    for (t <- AllKeys.tail) {
      val e = rekey(dag, t, "child", "anc")
      assertSame(
        Ontology.ancestorClosure(e),
        Ontology.ancestorClosure(e, smallGraphEdges = 0L),
        s"ancestorClosure($t)")
    }
  }

  test("a Long.MinValue node id keeps its own node: connectedComponents " +
    "and ancestorClosure kernels equal the distributed loops") {
    // Long.MinValue is the kernels' empty-slot key; an id equal to it
    // must not take another node's index
    val lo = Long.MinValue
    val e = Seq((lo, 7L), (3L, 4L), (7L, 8L)).toDF("a", "b")
    val universe = Seq(lo, 3L, 4L, 7L, 8L, 9L).toDF("id")
    for (nodes <- Seq(None, Some(universe))) {
      val kernel = Graph.connectedComponents(e, nodes)
      assertSame(kernel,
        Graph.connectedComponents(e, nodes, smallGraphEdges = 0L),
        s"connectedComponents(Long.MinValue,universe=${nodes.isDefined})")
      val comp = kernel.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp(7L) == lo && comp(8L) == lo && comp(lo) == lo, comp)
    }
    // chain 9 → 7 → MinValue → 3 (child, anc)
    val dag = Seq((9L, 7L), (7L, lo), (lo, 3L)).toDF("child", "anc")
    val closure = Ontology.ancestorClosure(dag)
    assertSame(closure, Ontology.ancestorClosure(dag, smallGraphEdges = 0L),
      "ancestorClosure(Long.MinValue)")
    assert(closure.count() == 6)
  }

  test("ancestorClosure on an empty long-keyed edge frame is empty at " +
    "every gate") {
    val e = Seq.empty[(Long, Long)].toDF("child", "anc")
    for (gate <- Seq(DriverKernel.MaxEdges, 0L)) {
      val c = Ontology.ancestorClosure(e, smallGraphEdges = gate)
      assert(c.columns.toSeq == Seq("child", "anc"), s"gate=$gate")
      assert(c.collect().isEmpty, s"gate=$gate")
    }
  }
}
