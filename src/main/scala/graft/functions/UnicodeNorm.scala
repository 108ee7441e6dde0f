package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
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
  * boundary, no serialization), `nullIntolerant` so null handling stays
  * in generated code.
  */
object UnicodeNorm {
  def normalize(s: UTF8String, nfkc: Boolean): UTF8String = {
    val form = if (nfkc) Normalizer.Form.NFKC else Normalizer.Form.NFC
    val str = s.toString
    if (Normalizer.isNormalized(str, form)) s
    else UTF8String.fromString(Normalizer.normalize(str, form))
  }
}

/** `unicode_norm(text, nfkc)` — NFC (nfkc = false) or NFKC canonical form. */
case class UnicodeNormalize(child: Expression, nfkc: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (nfkc) "nfkc_normalize" else "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")

  override protected def nullSafeEval(input: Any): Any =
    UnicodeNorm.normalize(input.asInstanceOf[UTF8String], nfkc)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.UnicodeNorm.normalize($c, $nfkc);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnicodeNormExprs {
  def nfc(text: Column): Column = column(UnicodeNormalize(expression(text), nfkc = false))

  def nfkc(text: Column): Column = column(UnicodeNormalize(expression(text), nfkc = true))
}
