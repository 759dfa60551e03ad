// Lives under org.apache.spark.sql for the same private[sql] reasons as
// VectorExpressions (TypedImperativeAggregate & friends are internal API).
package org.apache.spark.sql.graft

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Bounded top-k buffer ordered by (dist asc, id asc): a size-capped binary
  * max-heap — insert is O(log k), and only k entries ever ship in a shuffle.
  *
  * `dedup = true` collapses duplicate ids on insert, keeping the better
  * distance (O(size) linear probe — k is small by contract). Needed when
  * the same physical row can reach one group from several shards, e.g.
  * spill-assigned vectors in a routed HNSW index: without it the same
  * neighbor would occupy two ranks. Dedup is by id alone — not (dist, id)
  * — so even if two shards ever diverged in distance accumulation order
  * (they don't today: identical bytes, deterministic arithmetic), the
  * same neighbor still cannot take two ranks.
  *
  * Serializable, so RDD shuffles can merge buffers too (the resident HNSW
  * shard search combines its per-slot buffers this way).
  */
final class TopKBuffer(val k: Int, val dedup: Boolean = false) extends Serializable {
  // parallel arrays as a max-heap on (dist, id); root = current worst
  val dists = new Array[Double](k)
  val ids = new Array[Long](k)
  var size = 0

  @inline private def worse(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 > d2 || (d1 == d2 && i1 > i2)

  private def indexOf(id: Long): Int = {
    var i = 0
    while (i < size) { if (ids(i) == id) return i; i += 1 }
    -1
  }

  def insert(d: Double, id: Long): Unit = {
    // fast reject shared by both modes: a full heap whose worst entry
    // beats (d, id) can neither admit it nor be improved by it — for a
    // duplicate j, dists(j) <= dists(0) <= d rules out d < dists(j) (the
    // tie d == dists(0) needs d < dists(j) <= dists(0) = d, false). This
    // keeps the dedup mode's common path at ONE compare per row instead
    // of a k-element indexOf scan — the dedup merge sits on every scored
    // row of the brute-force/routed paths, billions of calls per batch.
    if (size == k && k > 0 && !worse(dists(0), ids(0), d, id)) return
    if (dedup) {
      val j = indexOf(id)
      if (j >= 0) {
        // duplicate id (spill copy): keep the better distance. Improving
        // an entry can only break the heap invariant against its
        // children, so a localized sift-down restores it.
        if (d < dists(j)) { dists(j) = d; siftDown(j) }
        return
      }
    }
    if (size < k) {
      var i = size
      dists(i) = d; ids(i) = id; size += 1
      while (i > 0 && worse(dists(i), ids(i), dists((i - 1) / 2), ids((i - 1) / 2))) {
        val p = (i - 1) / 2
        swap(i, p); i = p
      }
    } else if (k > 0 && worse(dists(0), ids(0), d, id)) {
      dists(0) = d; ids(0) = id
      siftDown(0)
    }
  }

  @inline private def swap(a: Int, b: Int): Unit = {
    val td = dists(a); dists(a) = dists(b); dists(b) = td
    val ti = ids(a); ids(a) = ids(b); ids(b) = ti
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && worse(dists(l), ids(l), dists(m), ids(m))) m = l
      if (r < size && worse(dists(r), ids(r), dists(m), ids(m))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def mergeFrom(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.size) { insert(other.dists(i), other.ids(i)); i += 1 }
  }

  /** Entries sorted ascending by (dist, id). */
  def sorted: Array[(Double, Long)] =
    (0 until size).map(i => (dists(i), ids(i))).toArray
      .sortBy(identity)(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
}

/** Partial-aggregating per-group top-k by distance (SURVEY.md Q1a at scale):
  * `groupBy(qid).agg(topk)` keeps a bounded heap per group on the map side,
  * so a brute-force kNN over n vectors shuffles O(groups × k × partitions)
  * rows instead of the full n×q score matrix that a Window rank would.
  * Ordering is total — (dist asc, id asc) — so results are deterministic
  * and bit-identical to the Window form.
  *
  * Output: array&lt;struct&lt;dist: double, id: long&gt;&gt; sorted ascending.
  */
case class TopKByDist(
    distChild: Expression,
    idChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    dedup: Boolean = false)
  extends TypedImperativeAggregate[TopKBuffer] {

  override def children: Seq[Expression] = Seq(distChild, idChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("dist", DoubleType, nullable = false),
                   StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k, dedup)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val d = distChild.eval(input)
    val id = idChild.eval(input)
    if (d != null && id != null) {
      buffer.insert(d.asInstanceOf[Double], id.asInstanceOf[Long])
    }
    buffer
  }

  override def merge(b1: TopKBuffer, b2: TopKBuffer): TopKBuffer = { b1.mergeFrom(b2); b1 }

  override def eval(buffer: TopKBuffer): Any =
    new GenericArrayData(buffer.sorted.map { case (d, id) => InternalRow(d, id) })

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 16)
    bb.putInt(buffer.size)
    var i = 0
    while (i < buffer.size) { bb.putDouble(buffer.dists(i)); bb.putLong(buffer.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k, dedup)
    var i = 0
    while (i < n) { val d = bb.getDouble; val id = bb.getLong; buf.insert(d, id); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByDist =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByDist =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(distChild = newChildren(0), idChild = newChildren(1))
  override def prettyName: String = "topk_by_dist"
}

/** Growable-but-bounded long buffer: stores at most cap+1 elements. One
  * element of headroom is the overflow sentinel — a group whose true size
  * exceeds `cap` always surfaces with exactly cap+1 elements, so a
  * `size <= cap` filter downstream drops it, while groups within the cap
  * are collected exactly (no element is ever dropped from them).
  *
  * The backing array starts tiny and doubles up to cap+1: aggregation
  * creates one buffer per group (and, in ObjectHashAggregate's sort-based
  * fallback, per input row), so an eager cap-sized allocation would zero
  * ~8·cap bytes per group regardless of group size — most groups hold a
  * handful of elements.
  */
final class CappedLongBuffer(val cap: Int) {
  private var arr = new Array[Long](math.min(8, cap + 1))
  var size = 0

  def values: Array[Long] = arr

  private def ensure(needed: Int): Unit = {
    if (needed > arr.length) {
      var cap2 = arr.length * 2
      while (cap2 < needed) cap2 *= 2
      arr = java.util.Arrays.copyOf(arr, math.min(cap2, cap + 1))
    }
  }

  def add(v: Long): Unit =
    if (size <= cap) { ensure(size + 1); arr(size) = v; size += 1 }

  def mergeFrom(other: CappedLongBuffer): Unit = {
    val n = math.min(other.size, cap + 1 - size)
    if (n > 0) {
      ensure(size + n)
      System.arraycopy(other.values, 0, arr, size, n)
      size += n
    }
  }

  /** Bulk append from a deserialized frame (n ≤ cap+1 by construction). */
  def addAll(src: ByteBuffer, n: Int): Unit = {
    val m = math.min(n, cap + 1 - size)
    ensure(size + m)
    var i = 0
    while (i < m) { arr(size + i) = src.getLong; i += 1 }
    size += m
  }
}

/** Size-capped `collect_list` for long keys: the aggregation buffer is
  * bounded at cap+1 elements at every stage (partial, shuffle, merge), so a
  * degenerate hot group can never OOM an executor — unlike
  * `collect_list(...)` + `filter(size(...) <= cap)`, which materializes the
  * whole group in one buffer before the filter drops it.
  *
  * Semantics: bit-equal to `collect_list` + size filter for every group the
  * filter would keep. Groups over the cap are truncated to cap+1 elements —
  * enough to be provably over-cap — and MUST be dropped by the caller with
  * `filter(size(col) <= cap)`; their contents are partition-order-dependent
  * and carry no meaning. Element order within a kept group is
  * partition-dependent (exactly like `collect_list`) — sort downstream if
  * order matters.
  */
case class CappedCollectLong(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedLongBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): CappedLongBuffer = new CappedLongBuffer(cap)

  override def update(buffer: CappedLongBuffer, input: InternalRow): CappedLongBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(v.asInstanceOf[Long])
    buffer
  }

  override def merge(b1: CappedLongBuffer, b2: CappedLongBuffer): CappedLongBuffer = {
    b1.mergeFrom(b2); b1
  }

  override def eval(buffer: CappedLongBuffer): Any =
    new GenericArrayData(java.util.Arrays.copyOf(buffer.values, buffer.size))

  override def serialize(buffer: CappedLongBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 8)
    bb.putInt(buffer.size)
    var i = 0
    while (i < buffer.size) { bb.putLong(buffer.values(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedLongBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new CappedLongBuffer(cap)
    buf.addAll(bb, n)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedCollectLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedCollectLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def prettyName: String = "capped_collect_long"
}

object TopKAggregate {
  /** Column API: per-group bounded top-k by (dist, id). */
  def topKByDist(dist: Column, id: Column, k: Int): Column =
    ExpressionUtils.column(
      TopKByDist(ExpressionUtils.expression(dist), ExpressionUtils.expression(id), k)
        .toAggregateExpression())

  /** Top-k that skips exact (dist, id) duplicates — for merge paths where
    * the same row can arrive from several shards (spill-assigned indexes).
    */
  def topKByDistDedup(dist: Column, id: Column, k: Int): Column =
    ExpressionUtils.column(
      TopKByDist(ExpressionUtils.expression(dist), ExpressionUtils.expression(id), k,
        dedup = true)
        .toAggregateExpression())

  /** Column API: size-capped collect_list over a long column (buffer bounded
    * at cap+1 at every aggregation stage). Pair with `filter(size(...) <= cap)`.
    */
  def cappedCollectLong(value: Column, cap: Int): Column =
    ExpressionUtils.column(
      CappedCollectLong(ExpressionUtils.expression(value), cap)
        .toAggregateExpression())
}
