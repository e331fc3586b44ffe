package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** The one "small graph runs on the driver" rule shared by the gated
  * graph operators in [[Graph]] and [[Ontology.ancestorClosure]].
  *
  * A pinned edge frame with at most `maxEdges` rows collects to the
  * driver and the operator runs an exact kernel over primitive arrays
  * — codebook-class state (≤ ~50 MB transient heap at the default
  * gate), the same license the IVF centroid table and the PCA power
  * iteration use. Above the gate the operator takes its distributed
  * loop. Every kernel is pinned equal to its loop by a both-paths
  * differential, so the gate changes plans, never results; callers
  * pass `smallGraphEdges = 0` to force the distributed loop.
  */
object DriverKernel {

  /** Default gate: oriented-edge rows a driver kernel may collect. */
  val MaxEdges: Long = 500000L

  /** The gate: the pinned frame's rows when its count is at most
    * `maxEdges`, otherwise None. The caller pins the frame first, so
    * the count and the collect read its blocks instead of re-running
    * the upstream plan. */
  def rows(pinned: DataFrame, maxEdges: Long): Option[Array[Row]] =
    if (pinned.count() <= maxEdges) Some(pinned.collect()) else None

  /** The gate for the long-keyed kernels: the frame's first two
    * columns are the edge's node keys and any further column is a long
    * payload (an edge weight). Returns None — the distributed loop,
    * whose arithmetic is type-generic — when the keys are not
    * `LongType`, when the frame is over the gate, or when a key is
    * null (a primitive array has no null). */
  private[ops] def longEdges(
      pinned: DataFrame, maxEdges: Long): Option[LongEdges] = {
    val keysLong = pinned.schema.fields.take(2).forall(_.dataType == LongType)
    if (!keysLong) None
    else rows(pinned, maxEdges)
      .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      .map { rs =>
        val m = rs.length
        val index = new LongIndex(2 * m)
        val src = new Array[Int](m); val dst = new Array[Int](m)
        val w = if (pinned.schema.length > 2) new Array[Long](m)
          else Array.emptyLongArray
        var i = 0
        while (i < m) {
          src(i) = index.indexOf(rs(i).getLong(0))
          dst(i) = index.indexOf(rs(i).getLong(1))
          if (w.length > 0) w(i) = rs(i).getLong(2)
          i += 1
        }
        new LongEdges(index, src, dst, w)
      }
  }
}

/** A gated long-keyed edge frame on primitive arrays: row i's keys
  * dense-index as `src(i)` / `dst(i)` through `index` (16 B/edge), and
  * `w(i)` is its third column when the frame has one (empty otherwise).
  */
private[ops] final class LongEdges(
    val index: LongIndex, val src: Array[Int], val dst: Array[Int],
    val w: Array[Long]) {
  def m: Int = src.length
}

/** Open-addressing long→dense-int index (linear probing, power-of-two
  * capacity, load ≤ ½): node ids dense-index with no boxed tuples or
  * HashMap entry objects (≤ ~36 B/node). Sized for `expected` nodes;
  * ids past that (a kernel's seeds) grow the table. `Long.MinValue`
  * marks an empty slot, so that id keeps its index in a field of its
  * own instead of a slot. */
private[ops] final class LongIndex(expected: Int) {
  private var cap = 16
  while (cap < 2 * expected) cap <<= 1
  private var keys = emptyKeys(cap)
  private var vals = new Array[Int](cap)
  private var ids = new Array[Long](math.max(2, expected))
  private var minValueIndex = -1
  var n = 0
  private def slot(k: Long): Int = {
    var h = java.lang.Long.hashCode(k * -7046029254386353131L) & (cap - 1)
    while (keys(h) != Long.MinValue && keys(h) != k) h = (h + 1) & (cap - 1)
    h
  }
  def indexOf(k: Long): Int =
    if (k == Long.MinValue) {
      if (minValueIndex < 0) minValueIndex = append(k)
      minValueIndex
    } else {
      val h = slot(k)
      if (keys(h) == k) vals(h)
      else if (2 * (n + 1) > cap) { grow(); indexOf(k) }
      else { keys(h) = k; vals(h) = n; append(k) }
    }
  private def append(k: Long): Int = {
    if (n == ids.length) ids = java.util.Arrays.copyOf(ids, 2 * n)
    ids(n) = k; n += 1; n - 1
  }
  def lookup(k: Long): Int = // -1 when absent (no insert)
    if (k == Long.MinValue) minValueIndex
    else {
      val h = slot(k)
      if (keys(h) == k) vals(h) else -1
    }
  def id(v: Int): Long = ids(v)
  private def grow(): Unit = {
    val (oldKeys, oldVals) = (keys, vals)
    cap <<= 1
    keys = emptyKeys(cap); vals = new Array[Int](cap)
    var i = 0
    while (i < oldKeys.length) {
      if (oldKeys(i) != Long.MinValue) {
        val h = slot(oldKeys(i)); keys(h) = oldKeys(i); vals(h) = oldVals(i)
      }
      i += 1
    }
  }
  private def emptyKeys(size: Int): Array[Long] = {
    val a = new Array[Long](size)
    java.util.Arrays.fill(a, Long.MinValue) // empty sentinel
    a
  }
}
