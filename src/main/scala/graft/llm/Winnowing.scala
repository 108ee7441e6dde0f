package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
  * 2003 — the MOSS algorithm): hash every k-gram, then keep the MINIMUM
  * hash of each sliding window of `w` consecutive k-gram hashes. The
  * selection guarantee is what q29's single whole-document min-hash cannot
  * give: any verbatim overlap of at least `w + k − 1` tokens between two
  * documents selects at least one IDENTICAL fingerprint in both — so a
  * fingerprint equi-join provably finds every long-enough clone, while
  * storing only ~2/(w+1) of all k-gram hashes per document.
  *
  * [[fingerprints]] is the VALUE form of winnowing (the fingerprint set
  * per document, deduplicated): positional attribution (which offset
  * matched) is not kept, which is the right trade for dedup/overlap
  * detection — the pair join needs identity, not alignment.
  *
  * Scale shape: fingerprint extraction is entirely scan-time (one
  * compiled-kernel shingle pass + array HOFs — no explode until the final
  * posting list, no self-join on token volume). Overlap detection is a
  * posting-list equi-join on the fingerprint value — candidates only,
  * never all-pairs (the q24/q65 idiom).
  *
  * Determinism: fingerprints are md5 hex strings (cross-engine stable);
  * counts are exact longs; no floating point anywhere.
  */
object Winnowing {

  /** Distinct winnowing fingerprints per document: (`idCol`, `f`).
    * Documents shorter than `k + w − 1` tokens produce no rows.
    */
  def fingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 3): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    val hs = transform(
      graft.functions.TextExprs.wordShingles(col(textCol), k), s => md5(s))
    // guard: Spark's sequence(1, n) is DESCENDING for n < 1 — an unguarded
    // short document would index slice() out of range instead of vanishing
    val mins = when(size(col("__hs")) >= w,
      array_distinct(transform(
        sequence(lit(1), size(col("__hs")) - (w - 1)),
        j => array_min(slice(col("__hs"), j, lit(w))))))
      .otherwise(array().cast("array<string>"))
    docs.select(col(idCol), hs.as("__hs"))
      .select(col(idCol), explode(mins).as("f"))
      .distinct()
  }

  /** Top-`topK` document pairs by shared winnowing fingerprints:
    * `rnk`, `d1`, `d2`, `n_shared` — ties broken on (d1, d2).
    */
  def overlapTopK(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 3, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = fingerprints(docs, idCol, textCol, k, w)
    val a = f.select(col("f"), col(idCol).as("d1"))
    val b = f.select(col("f"), col(idCol).as("d2"))
    val top = a.join(b, Seq("f"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("d1"), col("d2"))
      .limit(topK)
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("n_shared").desc, col("d1"), col("d2"))))
      .select(col("rnk"), col("d1"), col("d2"), col("n_shared"))
  }
}
