package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 retrieval scoring: rank documents against a query term set —
  * the retrieval-quality step a RAG or data-curation pipeline runs on top of
  * the term statistics [[InvertedIndex]] / [[TextAnalysis.tfIdf]] compute
  * (reference analog: the dashboards' text drill-downs rank by frequency;
  * BM25 is the standard saturating upgrade).
  *
  * score(d, Q) = Σ_{t ∈ Q} idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))
  * with idf(t) = ln((N − df(t) + 0.5)/(df(t) + 0.5) + 1) — the
  * Lucene/ATIRE "+1" form, non-negative even for df > N/2 terms.
  *
  * Plan shape (the model-as-a-table idiom): document length is a SCAN-TIME
  * expression (`size(words)`) — no explode needed for it; the token explode
  * is filtered to the query terms BEFORE the (doc, term) aggregate, so the
  * only token-volume stage carries query-matching tokens only. `df` derives
  * from the already-tiny (doc, term) frame; (N, avgdl) is a 1-row aggregate
  * and the per-term frame is answer-sized — both broadcast. Top-k is
  * `TakeOrderedAndProject` (never a global sort).
  *
  * Determinism (the q71/q89 convention): each per-term contribution is
  * floored at scale 4 into a long, so the per-document SUM is exact integer
  * addition — order-independent under any partitioning/merge tree. All
  * scalar arithmetic before the floor is fixed-order correctly-rounded IEEE
  * ops; `ln` is the one libm exposure (Java and DuckDB agree on every
  * tested corpus; a third engine should gate with ±1 ulp per term).
  *
  * 100 TB: df/avgdl statistics are corpus-wide aggregates a production
  * deployment computes once per corpus snapshot and reuses across queries;
  * the per-query cost is the filtered explode (a scan) + one answer-sized
  * shuffle on doc_id. For a standing query workload, swap the `isin`
  * literal filter for a broadcast semi-join on a query-terms frame —
  * identical plan shape, no recompile per query set.
  */
object Bm25 {

  /** Top-k documents by BM25 score for one query term set.
    *
    * @param queryTerms the query's terms; each must be a non-empty string —
    *                   `__dl` counts only non-empty tokens, so an
    *                   empty-string "term" would make tf and dl disagree
    *                   with the documented formula (rejected loudly here)
    * @return `rnk`, doc id, `n_terms` (query terms present), `score4`
    *         (scale-4-exact BM25 score, deterministic cross-engine)
    */
  def scoreTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.forall(_.nonEmpty),
      "queryTerms must not contain empty strings: document length counts " +
        "only non-empty tokens, so an empty term would score inconsistently")
    val base = docs.select(
      col(idCol).as("__doc"),
      TextAnalysis.words(col(textCol)).as("__ws"))
      .withColumn("__dl", size(filter(col("__ws"), w => w =!= "")).cast("long"))
    // 1-row corpus stats; avgdl division order is mirrored in the SQL twin
    val stats = base.agg(
      count(lit(1)).as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"))
    // token volume filtered to query terms before the first aggregate
    // filter INSIDE the array, before the explode: Catalyst cannot push a
    // post-Generate filter below the Generate, so the explode-then-filter
    // form materializes every token of every document only to drop all
    // non-query terms — filtering the array first emits |matches| rows
    // instead of |tokens| (guide §1.2 per-task work)
    val qset = queryTerms.map(lit(_))
    val tf = base
      .select(col("__doc"), col("__dl"),
        explode(filter(col("__ws"), w => w.isin(qset: _*))).as("__term"))
      .groupBy(col("__doc"), col("__term"))
      .agg(count(lit(1)).as("__tf"), max(col("__dl")).as("__dl"))
    // per-term document frequency: answer-sized (≤ |Q| rows)
    val dfq = tf.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
    val k1c = lit(k1)
    val bc = lit(b)
    val idf = log((((col("__n") - col("__df")) + lit(0.5)) / (col("__df") + lit(0.5))) + lit(1.0))
    val sat = (col("__tf") * (k1c + lit(1.0))) /
      (col("__tf") + k1c * (lit(1.0) - bc + bc * (col("__dl") / col("__avgdl"))))
    val contrib = tf
      .join(broadcast(dfq), "__term")
      .crossJoin(broadcast(stats))
      .withColumn("__c4", floor(idf * sat * 10000 + 0.5).cast("long"))
    val scored = contrib.groupBy(col("__doc"))
      .agg(count(lit(1)).as("n_terms"), sum(col("__c4")).as("__s4"))
      .orderBy(col("__s4").desc, col("__doc"))
      .limit(topK)
    scored
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("__s4").desc, col("__doc"))))
      .select(col("rnk"), col("__doc").as(idCol), col("n_terms"),
        (col("__s4").cast("double") / 10000.0).as("score4"))
  }
}
