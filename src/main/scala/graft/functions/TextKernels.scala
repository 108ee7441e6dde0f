package graft.functions

import java.security.MessageDigest

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Compiled kernels for the text-fingerprinting hot path. The array-
  * expression formulations (transform/aggregate over shingles) are
  * interpreted per element; these run the whole per-document loop in
  * compiled Scala, which `eval` and generated code both call statically —
  * the same per-row cost model as Spark's own string expressions. The
  * md5 digest is a ThreadLocal of this object, so nothing of it enters a
  * plan.
  */
object TextKernels {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val HEX = "0123456789abcdef".toCharArray

  /** Lowercase hex md5 of a string's UTF-8 bytes — identical to Spark/DuckDB md5(). */
  def md5Hex(s: String): String = {
    val d = md5.get()
    d.reset()
    val bytes = d.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((bytes(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Word n-gram shingles of a single-space-separated text; semantics equal
    * to `transform(sequence(...), i -> concat_ws(" ", w[i..i+n-1]))` over
    * `split(text, " ")` (trailing empties kept, like Spark/DuckDB split).
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return null
    val w = text.toString.split(" ", -1)
    val cnt = w.length - (n - 1)
    if (cnt <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](cnt)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < cnt) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(w(i + k))
        k += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Spark's `lower()` of a UTF8_BINARY string, bit for bit: the body of
    * Spark 4.1's `CollationAwareUTF8String.toLowerCase(UTF8String)`. An
    * all-ASCII string maps byte by byte; any other string goes through
    * ICU's full case map in the default locale. Calling ICU here skips that
    * class's static initializer, which title-cases all 1,114,112 code
    * points into a table only `initcap` reads; the title-casing loads ICU's
    * CJK word-break dictionary, which stays on the heap until the JVM exits.
    */
  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  /** Spark's `upper()` of a UTF8_BINARY string, bit for bit; see [[lower]]. */
  def upper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(UCharacter.toUpperCase(s.toValidString))

  /** Non-overlapping occurrence counts of each marker over the space-padded
    * lowercase of `text` — one compiled pass, zero intermediate strings
    * besides the padded copy. Count semantics are identical to the portable
    * `(length(t) - length(replace(t, m, ''))) / length(m)` trick (both are
    * left-to-right non-overlapping scans), so results match the SQL oracle
    * bit-for-bit. Lowercasing is [[lower]], so it equals Spark's `lower()`.
    */
  def markerCounts(text: UTF8String, markers: Array[String]): ArrayData = {
    if (text == null) return null
    val t = " " + lower(text).toString + " "
    val out = new Array[Any](markers.length)
    var i = 0
    while (i < markers.length) {
      val m = markers(i)
      var cnt = 0L
      var idx = t.indexOf(m)
      while (idx >= 0) { cnt += 1; idx = t.indexOf(m, idx + m.length) }
      out(i) = cnt
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 32-bit SimHash fingerprint of a single-space-separated text as a
    * '0'/'1' string — one compiled pass: per word, one md5 over the word's
    * UTF-8 bytes, 32 integer bit-votes taken straight from the first four
    * digest bytes. Bit j's vote = ((hexNibble(j/4) >> (j%4)) & 1)*2-1,
    * identical to the staged `conv(substring(md5hex, 1+j/4, 1))` vote math
    * in the SQL oracle and the explode+aggregate formulation.
    */
  def simhash32(text: UTF8String): UTF8String = {
    if (text == null) return null
    val words = text.toString.split(" ", -1)
    val votes = new Array[Int](32)
    val d = md5.get()
    var wi = 0
    while (wi < words.length) {
      d.reset()
      val dig = d.digest(words(wi).getBytes("UTF-8"))
      var j = 0
      while (j < 32) {
        val q = j >> 2                                     // hex nibble index
        val b = dig(q >> 1) & 0xff
        val nb = if ((q & 1) == 0) (b >>> 4) & 0xf else b & 0xf
        votes(j) += (((nb >> (j & 3)) & 1) << 1) - 1
        j += 1
      }
      wi += 1
    }
    val out = new Array[Char](32)
    var j = 0
    while (j < 32) { out(j) = if (votes(j) > 0) '1' else '0'; j += 1 }
    UTF8String.fromString(new String(out))
  }

  /** MinHash signature from shingles: numHashes/4 md5 calls per shingle
    * (seed-prefixed), each yielding four 32-bit hex slices; element i of the
    * result is min over shingles of slice i%4 of md5("(i/4)|shingle").
    * Equal to the staged array-expression formulation in MinHashLsh.
    */
  def minhashSlices(shingleArr: ArrayData, numHashes: Int): ArrayData = {
    if (shingleArr == null) return null
    val nMd5 = numHashes / 4
    val mins = new Array[String](numHashes)
    val n = shingleArr.numElements()
    var si = 0
    while (si < n) {
      val s = shingleArr.getUTF8String(si).toString
      var seed = 0
      while (seed < nMd5) {
        val hex = md5Hex(seed.toString + "|" + s)
        var slice = 0
        while (slice < 4) {
          val sub = hex.substring(8 * slice, 8 * slice + 8)
          val idx = seed * 4 + slice
          if (mins(idx) == null || sub.compareTo(mins(idx)) < 0) mins(idx) = sub
          slice += 1
        }
        seed += 1
      }
      si += 1
    }
    new GenericArrayData(mins.map(m => if (m == null) null else UTF8String.fromString(m)): Array[Any])
  }

  /** MinHash signature via seeded XXH64 — the production hash family: one
    * 64-bit xxhash per (seed, shingle), computed straight over the
    * shingle's UTF-8 bytes with the seed as the XXH64 seed parameter (no
    * hex rendering, no digest allocation, no string concat per hash).
    * Output is `array<long>` of per-seed minima (signed-long order).
    *
    * The md5 slice family above stays the ORACLE family: DuckDB 1.0 has no
    * xxhash64 SQL function (verified round 2), so cross-engine pairs pin
    * md5; engine-only callers pick this one for speed.
    */
  def minhashXx(shingleArr: ArrayData, numHashes: Int): ArrayData = {
    if (shingleArr == null) return null
    val n = shingleArr.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](numHashes)(null))
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var si = 0
    while (si < n) {
      val s = shingleArr.getUTF8String(si)
      var seed = 0
      while (seed < numHashes) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
        if (h < mins(seed)) mins(seed) = h
        seed += 1
      }
      si += 1
    }
    new GenericArrayData(mins.map(Long.box): Array[Any])
  }
}

/** Codegen-integrated expression wrapping [[TextKernels.markerCounts]]:
  * array<long> of per-marker occurrence counts over the padded
  * [[TextKernels.lower]] of the text (Spark's `lower()`, bit for bit).
  */
case class MarkerCounts(child: Expression, markers: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "marker_counts"

  private val markerArr = markers.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override protected def nullSafeEval(input: Any): Any =
    TextKernels.markerCounts(input.asInstanceOf[UTF8String], markerArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ms = ctx.addReferenceObj("markers", markerArr, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextKernels.markerCounts($c, $ms);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The text kernels as Columns: Spark's `StaticInvoke` of each
  * [[TextKernels]] method, except `marker_counts` ([[MarkerCounts]]), whose
  * marker array lives in the generated class. */
object TextExprs {
  private val strings = ArrayType(StringType)

  private[graft] def wordShingles(text: Expression, n: Int): Expression =
    StaticInvoke(TextKernels.getClass, ArrayType(StringType, containsNull = false), "shingles",
      Seq(text, Literal(n)), Seq(StringType, IntegerType), returnNullable = false)

  def wordShingles(text: Column, n: Int): Column = column(wordShingles(expression(text), n))

  private[graft] def minhashSlices(shingles: Expression, numHashes: Int): Expression = {
    require(numHashes % 4 == 0, "numHashes must be a multiple of 4")
    StaticInvoke(TextKernels.getClass, strings, "minhashSlices",
      Seq(shingles, Literal(numHashes)), Seq(strings, IntegerType), returnNullable = false)
  }

  def minhashSlices(shingles: Column, numHashes: Int): Column =
    column(minhashSlices(expression(shingles), numHashes))

  private[graft] def minhashXx(shingles: Expression, numHashes: Int): Expression = {
    require(numHashes >= 1, "numHashes must be >= 1")
    StaticInvoke(TextKernels.getClass, ArrayType(LongType), "minhashXx",
      Seq(shingles, Literal(numHashes)), Seq(strings, IntegerType), returnNullable = false)
  }

  def minhashXx(shingles: Column, numHashes: Int): Column =
    column(minhashXx(expression(shingles), numHashes))

  private[graft] def simhash32(text: Expression): Expression =
    StaticInvoke(TextKernels.getClass, StringType, "simhash32", Seq(text), Seq(StringType),
      returnNullable = false)

  def simhash32(text: Column): Column = column(simhash32(expression(text)))

  def markerCounts(text: Column, markers: Seq[String]): Column =
    column(MarkerCounts(expression(text), markers))

  /** Spark's `lower(text)`, bit for bit, without the table Spark's own
    * expression builds on its first call ([[TextKernels.lower]]). */
  def lower(text: Column): Column =
    column(StaticInvoke(TextKernels.getClass, StringType, "lower", Seq(expression(text)),
      Seq(StringType), returnNullable = false))

  /** Spark's `upper(text)`, bit for bit ([[TextKernels.upper]]). */
  def upper(text: Column): Column =
    column(StaticInvoke(TextKernels.getClass, StringType, "upper", Seq(expression(text)),
      Seq(StringType), returnNullable = false))
}
