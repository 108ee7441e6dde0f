package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a native codegen expression — the corpus
  * PRE-DEDUP canonicalizer: visually-identical strings with different
  * codepoint sequences ("é" precomposed U+00E9 vs "e"+U+0301 combining)
  * hash apart in every exact/MinHash/SimHash dedupe unless the corpus is
  * normalized first, and web-crawl text mixes both forms freely. NFC is
  * the dedupe canonical form (also DuckDB's `nfc_normalize`, the oracle
  * twin); NFKC additionally folds COMPATIBILITY variants (ligatures "ﬁ",
  * full-width "Ａ", superscripts "²") — the aggressive fold most LLM
  * tokenizer pipelines apply before training.
  *
  * Determinism: `java.text.Normalizer` implements Unicode Standard Annex
  * #15, whose result per (form, string) is fully specified — the same
  * canonical form every conformant implementation (ICU, DuckDB's
  * utf8proc) must produce, so cross-engine equality is by-spec, not
  * by-luck. The fast path (`Normalizer.isNormalized`, true for ~all of a
  * mostly-ASCII corpus) avoids any allocation.
  *
  * Scale: per-row compiled kernel inside whole-stage codegen (no UDF
  * boundary, no serialization); null inputs short-circuit in generated
  * code before the call.
  */
object UnicodeNorm {
  def normalize(s: UTF8String, nfkc: Boolean): UTF8String = {
    val form = if (nfkc) Normalizer.Form.NFKC else Normalizer.Form.NFC
    val str = s.toString
    if (Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(Normalizer.normalize(str, form))
  }
}

object UnicodeNormExprs {

  /** `nfc_normalize` (nfkc = false) or `nfkc_normalize`: Spark's
    * `StaticInvoke` of [[UnicodeNorm.normalize]]. */
  private[graft] def normalize(text: Expression, nfkc: Boolean): Expression =
    StaticInvoke(UnicodeNorm.getClass, StringType, "normalize", Seq(text, Literal(nfkc)),
      Seq(StringType, BooleanType), returnNullable = false)

  def nfc(text: Column): Column = column(normalize(expression(text), nfkc = false))

  def nfkc(text: Column): Column = column(normalize(expression(text), nfkc = true))
}
