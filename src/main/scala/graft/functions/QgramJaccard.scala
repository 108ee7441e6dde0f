package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled q-gram Jaccard kernels — the record-linkage hot path.
  *
  * The declarative form (`TextAnalysis.charGrams` + `jaccardSets` =
  * `array_intersect`/`array_union` over string arrays) pays boxed
  * per-element lambda dispatch and string hashing for every candidate
  * PAIR — the multiplied cost center of a blocked similarity join. These
  * kernels split the work the way the join multiplies it: per ROW, encode
  * the distinct q-grams once as a SORTED primitive long array
  * ([[CharGramCodes]]; sentinel + 21 bits per code point for q ≤ 3,
  * 16 bits per BMP code point for q = 4 — details below); per PAIR, a
  * two-pointer merge counts the intersection with zero allocation
  * ([[SortedCodesJaccard]]).
  *
  * Semantics match `charGrams` exactly (grams = `substr(s, i, q)` for
  * i ∈ [1, max(len−q+1, 1)], distinct — strings shorter than q yield the
  * single truncated gram), so `jac = |A∩B| / (|A|+|B|−|A∩B|)` is the
  * identical double. Gram basis is Unicode CODE POINTS — the unit Spark's
  * `substr`/`length` (and DuckDB's) slice by — so supplementary-plane text
  * (emoji, CJK ext-B) grams identically to the declarative form. Packing
  * is collision-free for q ≤ 3: a leading-1 sentinel plus 21 bits per code
  * point (max 1+63 = 64), where the sentinel's bit position encodes the
  * gram LENGTH, so a truncated short-string gram can never alias a
  * NUL-prefixed longer gram. q = 4 cannot fit four 21-bit code points in a
  * long: it packs 16 bits per code point (sentinel on truncated grams
  * only) and REJECTS supplementary-plane input loudly rather than
  * silently mis-gramming it; the residual q = 4 ambiguity (a NUL-then-
  * U+0001-prefixed full gram aliasing a sentineled truncated gram)
  * requires NUL bytes inside text and is accepted as out-of-domain.
  */
object QgramKernels {

  /** Sorted distinct packed gram codes of `s` (see object doc for the
    * code-point basis and the collision-free packing).
    */
  def gramCodes(s: UTF8String, q: Int): Array[Long] = {
    val str = s.toString
    // one pass UTF-16 → code points (the gram unit; see object doc)
    val cps = new Array[Int](str.codePointCount(0, str.length))
    var ci = 0
    var k = 0
    while (ci < str.length) {
      val cp = str.codePointAt(ci)
      cps(k) = cp
      k += 1
      ci += Character.charCount(cp)
    }
    val n = cps.length
    val cnt = math.max(n - q + 1, 1)
    val raw = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      val end = math.min(i + q, n)
      var g = 0L
      if (q <= 3) {
        g = 1L // length-encoding sentinel
        var j = i
        while (j < end) { g = (g << 21) | cps(j).toLong; j += 1 }
      } else {
        if (end - i < q) g = 1L // sentinel on the single truncated gram
        var j = i
        while (j < end) {
          val cp = cps(j)
          if (cp > 0xffff)
            throw new IllegalArgumentException(
              "char_gram_codes: q = 4 packs 16 bits per code point and cannot " +
                f"represent supplementary-plane character U+$cp%04X; use q <= 3 " +
                "(21-bit code-point packing) or sorted_strings_jaccard")
          g = (g << 16) | cp.toLong
          j += 1
        }
      }
      raw(i) = g
      i += 1
    }
    java.util.Arrays.sort(raw)
    // in-place dedupe of the sorted array
    var w = 0
    i = 0
    while (i < cnt) {
      if (w == 0 || raw(i) != raw(w - 1)) { raw(w) = raw(i); w += 1 }
      i += 1
    }
    if (w == cnt) raw else java.util.Arrays.copyOf(raw, w)
  }

  /** Jaccard of two SORTED-distinct string arrays (two-pointer merge over
    * UTF8String binary order — the same ordering `array_sort` applies to
    * strings, so staging `array_sort(array_distinct(...))` once per row
    * and merging per pair is exact). The string-set twin of [[jaccard]],
    * for set elements that don't pack into 64 bits (word shingles).
    */
  def jaccardStrings(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** |A ∩ B| of two SORTED-distinct string arrays (the same two-pointer
    * merge as [[jaccardStrings]], returning the raw count): the exact
    * integer `size(array_intersect(a, b))` computes, without the
    * per-call hash-set build + result-array allocation — the
    * set-similarity verification runs this once per CANDIDATE pair, so
    * the allocation savings scale with the candidate count while the
    * one-time array_sort cost stays per document.
    */
  def intersectStrings(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0L
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter
  }

  /** Jaccard of two SORTED-distinct code arrays (two-pointer merge). */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  def charGramCodes(s: Column, q: Int): Column = column(CharGramCodes(expression(s), q))

  def sortedCodesJaccard(a: Column, b: Column): Column =
    column(SortedCodesJaccard(expression(a), expression(b)))

  def sortedStringsJaccard(a: Column, b: Column): Column =
    column(SortedStringsJaccard(expression(a), expression(b)))

  def sortedStringsIntersect(a: Column, b: Column): Column =
    column(SortedStringsIntersect(expression(a), expression(b)))
}

/** Sorted distinct packed q-gram codes of a string (see [[QgramKernels]]). */
case class CharGramCodes(child: Expression, q: Int) extends UnaryExpression {

  require(q >= 1 && q <= 4, s"char_gram_codes supports q in [1, 4], got $q")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_gram_codes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string, got ${child.dataType}")

  override protected def nullSafeEval(s: Any): Any =
    new GenericArrayData(QgramKernels.gramCodes(s.asInstanceOf[UTF8String], q))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.QgramKernels.gramCodes($s, $q));")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Jaccard of two sorted-distinct code arrays (see [[QgramKernels]]). */
case class SortedCodesJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_codes_jaccard"

  override def checkInputDataTypes(): TypeCheckResult = {
    def okType(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (okType(left.dataType) && okType(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<long>, array<long>), got (${left.dataType}, ${right.dataType})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    QgramKernels.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.QgramKernels.jaccard($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Jaccard of two sorted-distinct STRING arrays (see [[QgramKernels]]). */
case class SortedStringsJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_strings_jaccard"

  override def checkInputDataTypes(): TypeCheckResult = {
    def okType(t: DataType) = t match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (okType(left.dataType) && okType(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), got (${left.dataType}, ${right.dataType})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    QgramKernels.jaccardStrings(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.QgramKernels.jaccardStrings($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** |A ∩ B| of two sorted-distinct string arrays as a LONG (see
  * [[QgramKernels.intersectStrings]]).
  */
case class SortedStringsIntersect(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_strings_intersect"

  override def checkInputDataTypes(): TypeCheckResult = {
    def okType(t: DataType) = t match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (okType(left.dataType) && okType(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, array<string>), got (${left.dataType}, ${right.dataType})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    QgramKernels.intersectStrings(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.QgramKernels.intersectStrings($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
