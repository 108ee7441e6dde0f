package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters sketch as a distributed Catalyst aggregate.
  *
  * `mg_sketch(item, capacity)` summarizes a stream of strings into at most
  * `capacity` (item, lower-bound-count) counters with the classic
  * frequent-items guarantee: for EVERY item,
  * `true_count - lb <= N / (capacity + 1)` (lb = 0 for absent items), where
  * N is the total stream length. In particular every item with
  * `true_count > N / (capacity + 1)` is guaranteed to be IN the sketch —
  * the candidate-superset property the exact two-pass top-k
  * (`llm/HeavyHitters`) relies on.
  *
  * Scale shape: buffers are `capacity`-bounded maps regardless of the
  * vocabulary size, partial aggregation merges them map-side, and the
  * shuffle carries one `capacity`-entry summary per partition — a corpus
  * with 10¹⁰ distinct tokens costs the same memory as one with 10³. Merging
  * uses the mergeable-summaries construction (Agarwal et al., PODS'12):
  * add counters pairwise, then subtract the (capacity+1)-th largest count
  * from every counter and drop the non-positives, which preserves the
  * additive-error bound above.
  *
  * Update cost: amortized O(1) per row — each decrement-all step removes
  * `capacity` count units at O(capacity) cost, and total count units ever
  * added is N.
  *
  * Output: `array<struct<item string, lb long>>` sorted (lb desc, item asc)
  * — deterministic given deterministic input MULTISET (the sketch state
  * itself can depend on partitioning; see scaladoc on
  * [[graft.llm.HeavyHitters]] for why the two-pass exact top-k is
  * nevertheless partition-invariant).
  */
case class MisraGriesAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(capacity >= 1 && capacity <= 1000000,
    s"mg_sketch capacity must be in [1, 1000000], got $capacity")

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mg_sketch takes a string item column, got ${child.dataType}")

  override def dataType: DataType = MisraGriesAgg.outType
  override def nullable: Boolean = false
  override def prettyName: String = "mg_sketch"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // UTF8String from an unsafe row is only valid until the next row —
      // key by an owned JVM String
      val key = v.asInstanceOf[UTF8String].toString
      buf.get(key) match {
        case Some(c) => buf.update(key, c + 1)
        case None if buf.size < capacity => buf.update(key, 1L)
        case None => // full + unseen item: decrement all, drop zeros
          val dead = mutable.ArrayBuffer.empty[String]
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.foreach { case (k, c) => if (c <= 0) dead += k }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      buf: mutable.HashMap[String, Long],
      other: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    other.foreach { case (k, c) => buf.update(k, buf.getOrElse(k, 0L) + c) }
    if (buf.size > capacity) {
      // subtract the (capacity+1)-th largest count from everything; at most
      // `capacity` counters survive (everything <= the pivot dies)
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val pivot = counts(counts.length - (capacity + 1))
      val dead = mutable.ArrayBuffer.empty[String]
      buf.mapValuesInPlace((_, c) => c - pivot)
      buf.foreach { case (k, c) => if (c <= 0) dead += k }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toArray.sortWith { case ((ia, ca), (ib, cb)) =>
      if (ca != cb) ca > cb else ia < ib
    }
    new GenericArrayData(sorted.map { case (item, lb) =>
      InternalRow(UTF8String.fromString(item), lb)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, c) =>
      val kb = k.getBytes("UTF-8")
      out.writeInt(kb.length); out.write(kb); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt()); in.readFully(kb)
      buf.update(new String(kb, "UTF-8"), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
}

object MisraGriesAgg {
  val outType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("lb", LongType, nullable = false))),
    containsNull = false)
}

/** Column-API surface for the Misra–Gries sketch (its SQL name
  * `mg_sketch` comes from [[graft.GraftExtensions]]).
  */
object FrequentItems {

  /** `mg_sketch(items, capacity)` as a Column aggregate — see
    * [[MisraGriesAgg]] for guarantees.
    */
  def mgSketch(item: Column, capacity: Int): Column =
    column(MisraGriesAgg(expression(item), capacity).toAggregateExpression())
}
