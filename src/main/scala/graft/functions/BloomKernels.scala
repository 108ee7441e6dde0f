package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Bloom-filter build + probe as native Catalyst kernels.
  *
  * Spark's own Bloom machinery (`BloomFilterAggregate` / `might_contain`)
  * is optimizer-internal — not callable from the public function registry —
  * and `DataFrameStatFunctions.bloomFilter` is a driver-side action whose
  * result can only be probed through a closure (a UDF, off the codegen
  * path). These kernels provide the same capability as PLAN-LEVEL
  * expressions: `bloom_agg` builds the sketch as a distributed aggregate
  * (byte-array buffers OR-merge map-side), and `bloom_might_contain` probes
  * it inside whole-stage codegen, with the sketch arriving per-row from a
  * broadcast one-row frame — no driver round-trip, no UDF.
  *
  * Sketch layout (self-describing): byte 0 = number of hash probes k,
  * bytes 1..N = the bit array. Probes use the standard double-hashing
  * scheme `bit_i = (x + i·fmix64(x)) mod m` (Kirsch–Mitzenmacher), so the
  * input column should already be a 64-bit hash (`xxhash64(...)`).
  * Zero false negatives by construction — every inserted value probes true
  * — which is the property the decontamination pre-filter relies on
  * (`llm/Decontam.bloomDecontaminate`); false positives only add join
  * input, never results.
  */
object BloomKernels {

  /** murmur3 64-bit finalizer — the probe-spreading mix. */
  def fmix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** Set value `x`'s probe bits in sketch (byte 0 = k, rest = bits). */
  def setBits(sketch: Array[Byte], x: Long): Unit = {
    val k = sketch(0) & 0xff
    val m = (sketch.length - 1).toLong << 3
    val h2 = fmix64(x)
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(x + i.toLong * h2, m)
      val idx = 1 + (bit >>> 3).toInt
      sketch(idx) = (sketch(idx) | (1 << (bit & 7L).toInt)).toByte
      i += 1
    }
  }

  /** True iff every probe bit of `x` is set (never false for inserted x).
    * Guards the self-describing layout up front: the SQL-registered probe
    * accepts any binary column, and a malformed sketch would otherwise
    * surface as an ArrayIndexOutOfBounds (empty input reading byte 0) or an
    * ArithmeticException (1-byte input giving m = 0 inside remainderUnsigned)
    * deep in an executor's codegen stack.
    */
  def mightContain(sketch: Array[Byte], x: Long): Boolean = {
    if (sketch.length < 2)
      throw new IllegalArgumentException(
        s"bloom_might_contain: sketch must be >= 2 bytes (byte 0 = probe " +
          s"count, bytes 1.. = bit array), got ${sketch.length}; build the " +
          "sketch with bloom_agg")
    val k = sketch(0) & 0xff
    val m = (sketch.length - 1).toLong << 3
    val h2 = fmix64(x)
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(x + i.toLong * h2, m)
      if ((sketch(1 + (bit >>> 3).toInt) & (1 << (bit & 7L).toInt)) == 0) return false
      i += 1
    }
    true
  }
}

/** Distributed Bloom build: aggregates pre-hashed longs into the sketch.
  * Buffers are the sketch bytes themselves — partial aggregation OR-merges
  * them map-side, so the shuffle carries one sketch per partition, never
  * the inputs. NULLs are skipped (an absent value can't leak).
  */
case class BloomAgg(
    child: Expression,
    numBytes: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(numBytes >= 8, s"bloom_agg sketch must be >= 8 bytes, got $numBytes")
  require(numHashes >= 1 && numHashes <= 255,
    s"bloom_agg probes must be in [1, 255], got $numHashes")

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_agg takes a pre-hashed long (use xxhash64), got ${child.dataType}")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_agg"

  override def createAggregationBuffer(): Array[Byte] = {
    val b = new Array[Byte](1 + numBytes)
    b(0) = numHashes.toByte
    b
  }

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) BloomKernels.setBits(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    require(buf.length == other.length, "bloom_agg: mismatched sketch sizes")
    var i = 1
    while (i < buf.length) { buf(i) = (buf(i) | other(i)).toByte; i += 1 }
    buf
  }

  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** `bloom_might_contain` over a BROADCAST sketch instead of a plan literal.
  *
  * A literal sketch is the fastest probe at small sizes (a codegen constant
  * reference), but it is serialized into the plan and into every task
  * binary: at the ~GB sketches a 10⁹-gram benchmark set implies, that
  * either bloats task serialization catastrophically or overflows the task
  * size limit outright. This variant carries a `Broadcast[Array[Byte]]`
  * handle — the bytes ship once per executor via the torrent broadcast
  * machinery, and codegen dereferences the handle through a plan reference
  * object, so the inner loop is the same k bit-tests on a local byte array.
  */
case class BloomMightContainBroadcast(
    sketch: org.apache.spark.broadcast.Broadcast[Array[Byte]],
    child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_might_contain_bc"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a pre-hashed long (use xxhash64), got ${child.dataType}")

  override protected def nullSafeEval(x: Any): Any =
    BloomKernels.mightContain(sketch.value, x.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the broadcast handle rides the plan's reference array (same mechanism
    // Spark uses for broadcast-hash-join relations); .value() resolves to
    // the executor-local bytes, fetched once per executor
    val bcRef = ctx.addReferenceObj("bloomSketchBc", sketch,
      classOf[org.apache.spark.broadcast.Broadcast[Array[Byte]]].getName)
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.BloomKernels.mightContain(" +
        s"(byte[]) $bcRef.value(), $x);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomSketch {

  /** Sketch sized for <1% false positives at `expectedItems`: 12 bits per
    * item (the p = 0.01 optimum is ≈9.6; the margin covers estimate error),
    * 7 probes. Size is clamped to the JVM array bound (~256 MB sketch ≈
    * 1.4×10⁸ items at full budget) — beyond that the FP rate degrades
    * gracefully rather than overflowing Int and either crashing or
    * silently allocating a useless wrapped-around sketch; shard the
    * benchmark set across several sketches if you genuinely have more.
    */
  def bloomAggFor(c: Column, expectedItems: Long): Column = {
    val bytes = math.min((Int.MaxValue - 16).toLong, math.max(8L, (expectedItems * 12 + 7) / 8))
    bloomAgg(c, numBytes = bytes.toInt, numHashes = 7)
  }

  def bloomAgg(c: Column, numBytes: Int, numHashes: Int): Column =
    column(BloomAgg(Cast(expression(c), LongType), numBytes, numHashes).toAggregateExpression())

  /** `bloom_might_contain(sketch, x)`: Spark's `StaticInvoke` of
    * [[BloomKernels.mightContain]], a tight static call inside whole-stage
    * codegen (the sketch is a broadcast-joined column, so the generated
    * loop probes local bytes, zero allocation). */
  private[graft] def mightContain(sketch: Expression, x: Expression): Expression =
    StaticInvoke(BloomKernels.getClass, BooleanType, "mightContain", Seq(sketch, x),
      Seq(BinaryType, LongType), returnNullable = false)

  def mightContain(sketch: Column, x: Column): Column =
    column(mightContain(expression(sketch), expression(x)))

  /** Probe against a broadcast sketch (the large-sketch path — see
    * [[BloomMightContainBroadcast]]). Bit-identical verdicts to the literal
    * probe for the same sketch bytes.
    */
  def mightContainBroadcast(
      sketch: org.apache.spark.broadcast.Broadcast[Array[Byte]], x: Column): Column =
    column(BloomMightContainBroadcast(sketch, expression(x)))
}
