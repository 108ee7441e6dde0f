package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget sequence packing: assign documents to training bins of
  * ≈`budget` tokens — the standard pre-training batching step (sequence
  * packing) expressed as a deterministic relational transform.
  *
  * Definition (contiguous fill): within a shard, documents are laid out in
  * `orderCol` order and `bin = floor(exclusivePrefixSum(tokens) / budget)`
  * — a new bin starts whenever the running total crosses a budget
  * boundary. This is the deterministic (engine-reproducible) form of
  * greedy packing: no RNG, no iteration, one window over each shard.
  * A document larger than the budget still lands in exactly one bin.
  *
  * Scale: true greedy packing is inherently sequential; sharding is what
  * makes it distributed — the window partitions by `shardCol`, so
  * parallelism = number of shards and no global sort exists. Packing
  * quality bound (PropertySpec-asserted): per shard,
  * `bins × budget < totalTokens + budget` — net waste stays under one
  * budget quantum because the bin count meets the `ceil(total/budget)`
  * capacity lower bound whenever token counts are positive (a document
  * crossing a boundary stays in its bin, overflowing it rather than
  * opening a fresh one). Cross-shard quality loss vs global greedy is that
  * same sub-budget boundary waste once per shard, negligible at real
  * corpus sizes. Choose the shard key by locality needs (language, source,
  * curriculum bucket).
  */
object Packing {

  /** `df` plus `bin_seq` (per-shard bin ordinal) — one row per document.
    * Output bin identity = (`shardCol`, `bin_seq`).
    */
  def packGreedy(
      df: DataFrame,
      tokensCol: String,
      budget: Long,
      shardCol: String,
      orderCol: String): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("bin_seq",
      floor(coalesce(sum(col(tokensCol)).over(w), lit(0L)) / budget))
  }

  /** Per-bin packing summary: documents, tokens, fill ratio, and `waste` —
    * the unused capacity of an underfull bin (0 for bins at or over budget;
    * overflow is deliberate, see [[packGreedy]], so it is not negative
    * waste).
    */
  def binStats(packed: DataFrame, tokensCol: String, budget: Long,
      shardCol: String): DataFrame =
    packed.groupBy(col(shardCol), col("bin_seq"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).as("sum_tokens"))
      .withColumn("fill", col("sum_tokens") / lit(budget.toDouble))
      .withColumn("waste", greatest(lit(0L), lit(budget) - col("sum_tokens")))
}
