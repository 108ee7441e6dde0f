package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * The reference's most semantically loaded operator is the IstDaten
  * priority dedupe (`src/02_ingest_istdaten.py:263-325`): a stable sort by a
  * 5-component priority, then keep-first per business key. The canonical
  * distributed form is top-1-per-group via `row_number` over a window — a
  * single hash-shuffle on the key, no global sort, no driver involvement.
  * At 100 TB the shuffle is key-partitioned, so it scales linearly with
  * executors; skewed keys are bounded because a business key holds at most a
  * handful of status updates.
  */
object Dedupe {

  /** Keep exactly one row per `keys`, the maximum under `priority` ordering.
    * Ties MUST be broken by including a unique column as the last ordering
    * term, otherwise results are nondeterministic across runs/cluster sizes.
    */
  def topOnePerKey(df: DataFrame, keys: Seq[Column], priority: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(priority: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Keep at most `k` rows per `keys`, top-k under `priority` ordering —
    * the per-domain quota of web-corpus pipelines (cap each source's
    * contribution so no single domain dominates the training mixture).
    * Ties MUST be broken by a unique trailing ordering term, as with
    * [[topOnePerKey]].
    *
    * Scale shape: Catalyst rewrites the `row_number ≤ k` filter into
    * `WindowGroupLimit` (plan-asserted in OperatorsSpec) — each input
    * partition keeps only its own top-k per key BEFORE the exchange, so
    * the shuffle carries at most k·partitions rows per key, not the
    * domain's full row count. A hot domain's cost is bounded by k, not by
    * its corpus share.
    */
  def topKPerKey(df: DataFrame, keys: Seq[Column], priority: Seq[Column],
      k: Int): DataFrame = {
    require(k >= 1, s"topKPerKey needs k >= 1, got $k")
    val w = Window.partitionBy(keys: _*).orderBy(priority: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Group-wise numeric summarization dedupe: rows sharing `keys` collapse to
    * the exact median of each column in `medianCols` (reference weather dedupe,
    * `03:206-216`; DuckDB MEDIAN is exact → Spark exact `percentile`, not
    * `percentile_approx`).
    */
  def medianDedupe(df: DataFrame, keys: Seq[String], medianCols: Seq[String]): DataFrame = {
    val aggs = medianCols.map(c => percentile(col(c), lit(0.5)).as(c))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
