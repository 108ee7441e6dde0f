package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Positional inverted-index construction: term → document/corpus frequency
  * plus the full (doc, position) posting list — the retrieval-side companion
  * to [[TextAnalysis.tfIdf]]'s statistics (a RAG or dedup-forensics pipeline
  * needs WHERE a term occurs, not just how often).
  *
  * Plan shape: one `posexplode` (pipelined into the scan — generators never
  * materialize the token table) feeding a TWO-LEVEL aggregation,
  * (term, doc) then (term). The naive single `groupBy(term)` with
  * `countDistinct(doc)` alongside the other aggregates planned as an
  * Expand — Spark duplicates every token row (one copy for the distinct
  * path, one for the plain aggregates) before the first shuffle, doubling
  * the token-volume exchange this operator is dominated by. The two-level
  * form keeps one copy per token: level 1 combines per-(term, doc)
  * map-side, level 2 reduces the already-shrunk per-document rows, where
  * `df` falls out as a plain `count(*)` (measured round 8: 0.399 → 0.318s
  * at sf0.1, and the removed Expand is exactly the term that grows with
  * corpus size). The shuffle carries one row per token, combinable
  * map-side for the count columns; the posting list itself is the
  * irreducible payload — at corpus scale you partition the index by term
  * (the level-2 groupBy IS that partitioning) and cap or page per-term
  * lists downstream if a stopword term's postings outgrow a partition
  * (the `df`/`cf` columns are the signal: terms with df ≈ corpus size are
  * stopwords and get dropped from real indexes anyway).
  *
  * Postings are emitted sorted (lexicographic on the `doc:pos` rendering,
  * identical in any engine and under any partitioning) so the index is
  * deterministic and cross-engine comparable by hash.
  */
object InvertedIndex {

  /** One row per distinct term: `term`, `df` (distinct docs), `cf` (total
    * occurrences), `first_doc` (min doc id), and `postings_md5` — md5 of
    * the sorted comma-joined `doc:pos` list (1-based positions), the
    * compact engine-comparable digest of the full posting list.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc"),
      posexplode(TextAnalysis.words(col(textCol))).as(Seq("pos", "term")))
    // level 1: per-(term, doc) — one row per token into the exchange, no
    // Expand; per-doc posting fragments stay unsorted here (the level-2
    // array_sort over the combined list defines the order)
    val perDoc = toks.groupBy(col("term"), col("doc")).agg(
      count(lit(1)).as("__cf_d"),
      collect_list(concat_ws(":", col("doc"), col("pos") + lit(1))).as("__pl_d"))
    // level 2: per-term — df counts the per-doc rows; count(doc) (not
    // count(*)) so a NULL-id document's group is excluded, exactly as
    // countDistinct(doc) excluded NULLs in the single-level form
    val sorted = array_sort(flatten(collect_list(col("__pl_d"))))
    perDoc.groupBy(col("term")).agg(
      count(col("doc")).as("df"),
      sum(col("__cf_d")).as("cf"),
      min(col("doc")).as("first_doc"),
      md5(array_join(sorted, ",")).as("postings_md5"))
  }
}
