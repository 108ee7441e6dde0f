package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Open-addressing Double→Long count map on two primitive arrays — zero
  * boxing on the per-row hot path (the built-in `Percentile` buffers into a
  * boxed-key map). `count == 0` marks an empty slot: a present key's count
  * is always ≥ 1, and NULL inputs never reach the map.
  */
final class DoubleCounts(initialCapacity: Int = 1 << 10) extends Serializable {
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity) * 2 - 1)
  private var keys = new Array[Double](cap)
  private var cnts = new Array[Long](cap)
  private var used = 0

  private def slot(k: Double): Int = {
    // Hash AND probe on doubleToLongBits so they agree: primitive `!=`
    // would conflate -0.0 with 0.0 (hashed to different slots → probe-order-
    // dependent merging) and never match NaN (a fresh slot per NaN input).
    // Bits equality = boxed java.lang.Double.equals — -0.0/0.0 distinct, all
    // NaNs one key — matching the built-in Percentile's boxed-key map.
    val h = java.lang.Double.doubleToLongBits(k)
    var x = h ^ (h >>> 33); x *= 0xff51afd7ed558ccdL; x ^= x >>> 33
    var i = x.toInt & (cap - 1)
    while (cnts(i) != 0 && java.lang.Double.doubleToLongBits(keys(i)) != h)
      i = (i + 1) & (cap - 1)
    i
  }

  def add(k: Double, c: Long): Unit = {
    val i = slot(k)
    if (cnts(i) == 0) { keys(i) = k; used += 1 }
    cnts(i) += c
    if (used.toLong * 10 > cap.toLong * 7) grow()
  }

  private def grow(): Unit = {
    val ok = keys; val oc = cnts
    cap <<= 1
    keys = new Array[Double](cap); cnts = new Array[Long](cap); used = 0
    var i = 0
    while (i < ok.length) {
      if (oc(i) != 0) { val j = slot(ok(i)); keys(j) = ok(i); cnts(j) = oc(i); used += 1 }
      i += 1
    }
  }

  def size: Int = used

  /** Count for a key, 0 when absent (an empty slot has count 0). */
  def countOf(k: Double): Long = cnts(slot(k))

  /** (keys, counts) of the occupied slots, unordered. */
  def pairs: (Array[Double], Array[Long]) = {
    val ks = new Array[Double](used); val cs = new Array[Long](used)
    var i = 0; var o = 0
    while (i < cap) {
      if (cnts(i) != 0) { ks(o) = keys(i); cs(o) = cnts(i); o += 1 }
      i += 1
    }
    (ks, cs)
  }
}

/** Dual-mode percentile buffer: raw value APPEND for high-cardinality
  * columns, distinct-value COUNT MAP for repetitive ones.
  *
  * A count map is the right buffer when values repeat (l_quantity: 50
  * distinct over 600k rows) but pure overhead when they don't (price-like
  * columns, ~99% unique at sf0.1): every row pays a hash probe to store a
  * count of 1, serialization doubles to 16 bytes/value, and eval must sort
  * distinct keys THROUGH their counts. So the buffer starts as a primitive
  * append-only array (2ns/row, 8 bytes/value on the wire) and attempts ONE
  * compaction when it reaches `compactThreshold` values: if at least half
  * the sample is duplicated, it switches to [[DoubleCounts]] permanently;
  * otherwise it never re-checks — a retry at every doubling would hash the
  * whole buffer again and hand back the map's per-row cost (measured
  * rationale in SCALE.md). The one-shot heuristic can keep an adversarial
  * stream (unique head, constant tail) in array mode, where memory is
  * ∝ values rather than distinct — the same bound as any sort-based exact
  * percentile; for multisets beyond memory use
  * `operators.Quantiles.quantileCont`.
  */
final class QuantileBuffer(compactThreshold: Int = 1 << 12) extends Serializable {
  private[functions] var vals: Array[Double] = new Array[Double](64)
  private[functions] var n: Int = 0
  private[functions] var map: DoubleCounts = null
  private var compactionFailed = false

  def addValue(v: Double): Unit = {
    if (map != null) { map.add(v, 1L); return }
    if (n == vals.length) {
      grow()
      if (map != null) { map.add(v, 1L); return } // grow switched modes
    }
    vals(n) = v; n += 1
  }

  private def grow(): Unit = {
    if (!compactionFailed && n >= compactThreshold) {
      val m = new DoubleCounts(1024)
      var i = 0; while (i < n) { m.add(vals(i), 1L); i += 1 }
      if (m.size.toLong * 2 <= n.toLong) { map = m; vals = null; return }
      compactionFailed = true // near-unique: append forever, never re-hash
    }
    vals = java.util.Arrays.copyOf(vals, math.max(128, n << 1))
  }

  /** Force map mode (merging a map-mode sibling in). */
  private[functions] def toMap(): Unit = if (map == null) {
    val m = new DoubleCounts(math.max(1024, n))
    var i = 0; while (i < n) { m.add(vals(i), 1L); i += 1 }
    map = m; vals = null
  }

  def isEmpty: Boolean = if (map != null) map.size == 0 else n == 0
}

/** Exact interpolated percentiles as a native `TypedImperativeAggregate`:
  * identical results to the built-in `percentile` (same position/
  * interpolation arithmetic, proven bit-equal in OperatorsSpec), but the
  * per-row path is a [[QuantileBuffer]] — a primitive append for
  * high-cardinality columns, an open-addressing count-map update for
  * repetitive ones, never a boxed-map churn. Returns `array<double>`, one
  * element per requested percentage; NULL on an empty/all-NULL group, like
  * the built-in.
  *
  * Memory is bounded by distinct values per group per partition when the
  * column repeats (map mode), by values when it does not (array mode —
  * where distinct ≈ values anyway); for value multisets beyond memory use
  * `operators.Quantiles.quantileCont` (shuffle-based) instead.
  */
case class PercentileArray(
    child: Expression,
    percentages: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[QuantileBuffer] {

  require(percentages.forall(p => p >= 0.0 && p <= 1.0), "percentages must be in [0, 1]")

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"percentile_array requires double input, got ${child.dataType}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "percentile_array"

  override def createAggregationBuffer(): QuantileBuffer = new QuantileBuffer()

  override def update(buf: QuantileBuffer, input: InternalRow): QuantileBuffer = {
    val v = child.eval(input)
    if (v != null) buf.addValue(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: QuantileBuffer, other: QuantileBuffer): QuantileBuffer = {
    if (other.map != null) {
      buf.toMap()
      val (ks, cs) = other.map.pairs
      var i = 0
      while (i < ks.length) { buf.map.add(ks(i), cs(i)); i += 1 }
    } else if (buf.map != null) {
      var i = 0
      while (i < other.n) { buf.map.add(other.vals(i), 1L); i += 1 }
    } else {
      // both array-mode: bulk append (the near-unique fast path)
      var i = 0
      while (i < other.n) { buf.addValue(other.vals(i)); i += 1 }
    }
    buf
  }

  override def eval(buf: QuantileBuffer): Any = {
    if (buf.isEmpty) return null
    // Build (sortedKeys, cum) with PRIMITIVE sorts only: Arrays.sort on
    // double[] orders exactly like the boxed TotalOrdering the built-in
    // uses (-0.0 < 0.0, NaNs last), and map-mode counts are re-attached by
    // hash lookup instead of sorting keys THROUGH a boxed index permutation.
    var sortedKeys: Array[Double] = null
    var cum: Array[Long] = null
    var total = 0L
    if (buf.map != null) {
      val (ks, _) = buf.map.pairs
      java.util.Arrays.sort(ks)
      sortedKeys = ks
      cum = new Array[Long](ks.length)
      var i = 0
      while (i < ks.length) { total += buf.map.countOf(ks(i)); cum(i) = total; i += 1 }
    } else {
      // array mode: the sorted multiset IS the cumulative structure —
      // valueAt(j) = sorted(j) directly, no distinct/cum pass at all
      sortedKeys = java.util.Arrays.copyOf(buf.vals, buf.n)
      java.util.Arrays.sort(sortedKeys)
      total = buf.n.toLong
    }

    // value at 0-based multiset index j
    def valueAt(j: Long): Double =
      if (cum == null) sortedKeys(j.toInt)
      else {
        // first sorted key whose cumulative count > j
        var lo = 0; var hi = cum.length - 1
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cum(mid) > j) hi = mid else lo = mid + 1
        }
        sortedKeys(lo)
      }

    val out = percentages.map { p =>
      val position = p * (total - 1)
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      val lowerKey = valueAt(lower)
      if (higher == lower) lowerKey
      else {
        val higherKey = valueAt(higher)
        if (higherKey == lowerKey) lowerKey
        else (higher - position) * lowerKey + (position - lower) * higherKey
      }
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(buf: QuantileBuffer): Array[Byte] = {
    if (buf.map != null) {
      val (ks, cs) = buf.map.pairs
      val bb = ByteBuffer.allocate(1 + 4 + ks.length * 16)
      bb.put(1: Byte)
      bb.putInt(ks.length)
      var i = 0
      while (i < ks.length) { bb.putDouble(ks(i)); bb.putLong(cs(i)); i += 1 }
      bb.array()
    } else {
      // raw values: half the bytes of (key, count) pairs
      val bb = ByteBuffer.allocate(1 + 4 + buf.n * 8)
      bb.put(0: Byte)
      bb.putInt(buf.n)
      var i = 0
      while (i < buf.n) { bb.putDouble(buf.vals(i)); i += 1 }
      bb.array()
    }
  }

  override def deserialize(bytes: Array[Byte]): QuantileBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val mode = bb.get()
    val n = bb.getInt
    val buf = new QuantileBuffer()
    if (mode == 1) {
      buf.map = new DoubleCounts(math.max(16, n * 2))
      var i = 0
      while (i < n) { buf.map.add(bb.getDouble, bb.getLong); i += 1 }
    } else {
      buf.vals = new Array[Double](math.max(64, n))
      var i = 0
      while (i < n) { buf.vals(i) = bb.getDouble; i += 1 }
      buf.n = n
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PercentileArray =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PercentileArray =
    copy(inputAggBufferOffset = newOffset)
}

object NativeAgg {
  def percentileArray(c: Column, ps: Seq[Double]): Column =
    column(PercentileArray(Cast(expression(c), DoubleType), ps).toAggregateExpression())
}
