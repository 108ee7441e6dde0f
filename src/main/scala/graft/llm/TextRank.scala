package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau 2004): rank words by
  * PageRank over the corpus co-occurrence graph — the unsupervised
  * keyword/keyphrase signal a corpus-curation pipeline uses to label
  * shards and build topic mixes without a trained model. Reference
  * analog: none — part of the LLM-pipeline surface beyond the
  * reference's own operators.
  *
  * Graph: adjacent-word pairs (the window-2 co-occurrence of the paper),
  * direction-normalized with least/greatest (TextRank's graph is
  * undirected), self-pairs dropped, edge weight = corpus-wide pair count,
  * pruned at `minCount` (the word2phrase floor — rare-pair noise carries
  * no ranking signal and bloats the graph). Ranking = the q146-style
  * weighted [[GraphRank.pageRank]]: the word vocabulary is
  * dimension-sized, so ranks broadcast and the edge frame never shuffles
  * inside a round; the symmetrized-by-construction edge set skips the
  * dangling probe (`symmetric`). The rounds run eager (`reuseFrames`):
  * the lazy form measured +16% on this vocabulary-sized graph (q190,
  * r16), its pinned `__s` exchange costing more than the checkpoints.
  *
  * Scale shape: one explode + hash-aggregate over token volume builds
  * the graph (map-side combinable); everything after is vocabulary-sized.
  * Determinism: counts are exact longs; rounds floor contributions at
  * scale 12 ([[GraphRank.pageRank]]'s convention — no libm anywhere);
  * final ties rank by word (plain ASCII-lexicographic, engine-stable).
  */
object TextRank {

  /** Top-`k` keywords of `docs(textCol)` as `(rnk, node, pr12)` —
    * `node` is the word, `pr12` the exact scale-12 rank key.
    *
    * Tokenization is the corpus-wide single-space convention
    * ([[TextAnalysis.words]]; the shingle kernel splits and joins on one
    * space, so no separator knob is offered — it could not be honored).
    * Empty tokens from doubled/leading/trailing spaces are excluded, the
    * [[TextAnalysis.vocabRichness]] convention — without this an
    * empty-string node accumulates co-occurrence weight corpus-wide and
    * can fake its way into the top keywords.
    */
  def keywords(
      docs: DataFrame, textCol: String,
      minCount: Long = 3, rounds: Int = 2, k: Int = 20): DataFrame = {
    val pairs = docs
      .select(explode(
        graft.functions.TextExprs.wordShingles(col(textCol), 2)).as("__w12"))
      .select(substring_index(col("__w12"), " ", 1).as("__a"),
        substring_index(col("__w12"), " ", -1).as("__b"))
      .filter(col("__a") =!= col("__b") &&
        col("__a") =!= "" && col("__b") =!= "")
      .select(least(col("__a"), col("__b")).as("u"),
        greatest(col("__a"), col("__b")).as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
      .filter(col("w") >= minCount)
    val sym = pairs.unionAll(
      pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
    GraphRank.topK(
      GraphRank.pageRank(sym, "u", "v", rounds = rounds,
        validate = false, reuseFrames = true, symmetric = true,
        weightCol = Some("w")), k)
  }
}
