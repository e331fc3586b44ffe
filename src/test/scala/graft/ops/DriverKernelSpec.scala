package graft.ops

import graft.WithSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-kernel gate every gated graph operator shares: its edge
  * count boundary and the long-keyed entry's key-type and null checks
  * live here once, in place of a ±1 differential per operator. */
class DriverKernelSpec extends AnyFunSuite with WithSpark {
  import spark.implicits._

  private val maxEdges = 5L
  private def path(edges: Long) =
    (1L to edges).map(i => (i, i + 1)).toDF("src", "dst").localCheckpoint()

  test("gate boundary: exactly maxEdges rows take the kernel, " +
    "maxEdges + 1 rows return None") {
    assert(DriverKernel.rows(path(maxEdges), maxEdges).map(_.length)
      .contains(maxEdges.toInt))
    assert(DriverKernel.rows(path(maxEdges + 1), maxEdges).isEmpty)
    val g = DriverKernel.longEdges(path(maxEdges), maxEdges)
    assert(g.map(_.m).contains(maxEdges.toInt))
    assert(DriverKernel.longEdges(path(maxEdges + 1), maxEdges).isEmpty)
    // the dense index maps each row's keys back to its node ids
    val e = g.get
    assert((0 until e.m).map(i =>
      (e.index.id(e.src(i)), e.index.id(e.dst(i)))) ==
      (1L to maxEdges).map(i => (i, i + 1)))
  }

  test("the long-keyed entry returns None for non-LongType or null keys; " +
    "the any-key gate still admits them") {
    for (cast <- Seq("int", "string")) {
      val keyed = path(maxEdges)
        .select(col("src").cast(cast).as("src"),
          col("dst").cast(cast).as("dst"))
        .localCheckpoint()
      assert(DriverKernel.longEdges(keyed, maxEdges).isEmpty, cast)
      assert(DriverKernel.rows(keyed, maxEdges).isDefined, cast)
    }
    val withNull = Seq((1L, Some(2L)), (2L, None)).toDF("src", "dst")
      .localCheckpoint()
    assert(DriverKernel.longEdges(withNull, maxEdges).isEmpty)
  }

  test("LongIndex grows past its expected size (kernel seeds) and keeps " +
    "every id's dense index") {
    val idx = new LongIndex(2)
    val ids = (0 until 1000).map(i => i * 7919L - 500000L)
    ids.foreach(idx.indexOf)
    assert(idx.n == ids.size)
    assert(ids.indices.forall(v =>
      idx.lookup(ids(v)) == v && idx.id(v) == ids(v)))
    assert(idx.indexOf(ids(3)) == 3 && idx.lookup(42L) == -1)
  }
}
