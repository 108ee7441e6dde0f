package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** The one table of SQL names for the engine's native expressions,
  * installed at session build: [[Regime.session]] builds every main's
  * session with it, and any other session gets it from
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`).
  *
  * Only SQL strings need it. The Column helpers (`ArrayMath.dot`,
  * `TextExprs.simhash32`, …) build their expressions directly, so they work
  * on a frame of any session, with or without this extension. A SQL name
  * and its Column helper build the same expression: the helper's
  * expression-level overload, most of them Spark's `StaticInvoke` of the
  * kernel, or the native Expression of the rest. SQL takes
  * the typed arguments a Column helper takes as literals: an int literal
  * for `n`/`k`/`q`/`capacity`, `'numBytes,numHashes'` for `bloom_agg`,
  * `'p1,p2'` for `percentile_array` and NUL-joined markers for
  * `marker_counts`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf"),
        build))
    }
}

object GraftExtensions {

  /** (SQL name, usage, builder over the call's argument expressions). */
  private[graft] val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("hamming_distance", "hamming_distance(a, b) - byte-wise Hamming distance of two strings",
      e => HammingDistance.hamming(e(0), e(1))),
    ("jaro_winkler", "jaro_winkler(a, b) - Jaro-Winkler similarity of two strings (byte basis)",
      e => JaroWinklerSim.jaroWinkler(e(0), e(1))),
    ("dot_product", "dot_product(a, b) - dot product of two array<double>",
      e => ArrayMath.dot(e(0), e(1))),
    ("cosine_similarity", "cosine_similarity(a, b) - cosine similarity of two array<double>",
      e => ArrayMath.cosine(e(0), e(1))),
    ("squared_l2", "squared_l2(a, b) - squared Euclidean distance of two array<double>",
      e => SquaredL2(e(0), e(1))),
    ("word_shingles", "word_shingles(text, n) - word n-gram shingle array",
      e => TextExprs.wordShingles(e(0), litInt(e(1)))),
    ("minhash_slices", "minhash_slices(shingles, k) - k-element MinHash signature",
      e => TextExprs.minhashSlices(e(0), litInt(e(1)))),
    ("minhash_xx",
      "minhash_xx(shingles, k) - k-element seeded-XXH64 MinHash signature (array<long>)",
      e => TextExprs.minhashXx(e(0), litInt(e(1)))),
    ("simhash32", "simhash32(text) - 32-bit SimHash fingerprint as a '0'/'1' string",
      e => TextExprs.simhash32(e(0))),
    ("marker_counts",
      "marker_counts(text, markers) - per-marker occurrence counts (NUL-joined markers)",
      e => MarkerCounts(e(0), litStr(e(1)).split('\u0000').toSeq)),
    ("char_gram_codes", "char_gram_codes(s, q) - sorted distinct packed q-gram codes (q in [1, 4])",
      e => QgramKernels.charGramCodes(e(0), litInt(e(1)))),
    ("sorted_codes_jaccard",
      "sorted_codes_jaccard(a, b) - Jaccard similarity of two sorted distinct array<long>",
      e => QgramKernels.sortedCodesJaccard(e(0), e(1))),
    ("sorted_strings_jaccard",
      "sorted_strings_jaccard(a, b) - Jaccard similarity of two sorted distinct array<string>",
      e => QgramKernels.sortedStringsJaccard(e(0), e(1))),
    ("sorted_strings_intersect",
      "sorted_strings_intersect(a, b) - intersection size of two sorted distinct array<string>",
      e => QgramKernels.sortedStringsIntersect(e(0), e(1))),
    ("nfc_normalize", "nfc_normalize(text) - Unicode NFC canonical form (UAX #15)",
      e => UnicodeNormExprs.normalize(e(0), nfkc = false)),
    ("nfkc_normalize", "nfkc_normalize(text) - Unicode NFKC compatibility-folded form",
      e => UnicodeNormExprs.normalize(e(0), nfkc = true)),
    ("percentile_array",
      "percentile_array(col, 'p1,p2') - exact interpolated percentiles as array<double>",
      e => PercentileArray(Cast(e(0), DoubleType), litStr(e(1)).split(',').toSeq.map(_.trim.toDouble))),
    ("bloom_agg", "bloom_agg(x, 'numBytes,numHashes') - Bloom sketch of pre-hashed longs",
      e => {
        val Array(nb, k) = litStr(e(1)).split(',').map(_.trim.toInt)
        BloomAgg(Cast(e(0), LongType), nb, k)
      }),
    ("bloom_might_contain", "bloom_might_contain(sketch, x) - probe a bloom_agg sketch",
      e => BloomSketch.mightContain(e(0), e(1))),
    ("ewma_block_convolve",
      "ewma_block_convolve(prev, cur, weights) - blocked fix-point EWMA over array<long> blocks",
      e => EwmaBlockConvolve(e(0), e(1), e(2))),
    ("mg_sketch",
      "mg_sketch(item, capacity) - Misra-Gries heavy-hitters summary as array<struct<item,lb>>",
      e => MisraGriesAgg(e(0), litInt(e(1)))))

  private def litInt(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => sys.error(s"expected integer literal argument, got $other")
  }

  private def litStr(e: Expression): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case f if f.foldable && f.dataType == StringType =>
      f.eval().asInstanceOf[UTF8String].toString
    case other => sys.error(s"expected string literal argument, got $other")
  }
}
