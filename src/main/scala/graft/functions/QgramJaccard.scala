package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled q-gram Jaccard kernels — the record-linkage hot path.
  *
  * The declarative form (`TextAnalysis.charGrams` + `jaccardSets` =
  * `array_intersect`/`array_union` over string arrays) pays boxed
  * per-element lambda dispatch and string hashing for every candidate
  * PAIR — the multiplied cost center of a blocked similarity join. These
  * kernels split the work the way the join multiplies it: per ROW, encode
  * the distinct q-grams once as a SORTED primitive long array
  * (`char_gram_codes`; sentinel + 21 bits per code point for q ≤ 3,
  * 16 bits per BMP code point for q = 4 — details below); per PAIR, a
  * two-pointer merge counts the intersection with zero allocation
  * (`sorted_codes_jaccard`). Each SQL function is Spark's `StaticInvoke`
  * of its kernel here, which generated code and `eval` both call.
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
  def gramCodes(s: UTF8String, q: Int): ArrayData = {
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
    new GenericArrayData(if (w == cnt) raw else java.util.Arrays.copyOf(raw, w))
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

  private val codes = ArrayType(LongType)
  private val strings = ArrayType(StringType)

  private[graft] def charGramCodes(s: Expression, q: Int): Expression = {
    require(q >= 1 && q <= 4, s"char_gram_codes supports q in [1, 4], got $q")
    StaticInvoke(QgramKernels.getClass, ArrayType(LongType, containsNull = false), "gramCodes",
      Seq(s, Literal(q)), Seq(StringType, IntegerType), returnNullable = false)
  }

  def charGramCodes(s: Column, q: Int): Column = column(charGramCodes(expression(s), q))

  private[graft] def sortedCodesJaccard(a: Expression, b: Expression): Expression =
    StaticInvoke(QgramKernels.getClass, DoubleType, "jaccard", Seq(a, b), Seq(codes, codes),
      returnNullable = false)

  def sortedCodesJaccard(a: Column, b: Column): Column =
    column(sortedCodesJaccard(expression(a), expression(b)))

  private[graft] def sortedStringsJaccard(a: Expression, b: Expression): Expression =
    StaticInvoke(QgramKernels.getClass, DoubleType, "jaccardStrings", Seq(a, b),
      Seq(strings, strings), returnNullable = false)

  def sortedStringsJaccard(a: Column, b: Column): Column =
    column(sortedStringsJaccard(expression(a), expression(b)))

  private[graft] def sortedStringsIntersect(a: Expression, b: Expression): Expression =
    StaticInvoke(QgramKernels.getClass, LongType, "intersectStrings", Seq(a, b),
      Seq(strings, strings), returnNullable = false)

  def sortedStringsIntersect(a: Column, b: Column): Column =
    column(sortedStringsIntersect(expression(a), expression(b)))
}
