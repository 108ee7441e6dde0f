package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key-skew profiler — the diagnostic that decides the scale tactics this
  * library leans on everywhere else: is a join side broadcast-able, is a
  * key hot enough for AQE's skew-join split, how many partitions does a
  * shuffle on this key actually spread over. One corpus scan; everything
  * downstream is answer-sized.
  *
  * Output: the `topK` heaviest keys, one row each — `rank` (count desc,
  * key asc), `key`, `cnt`, `share4` (fraction of all rows), `cum_share4`
  * (running fraction through this rank — "the top 3 keys are 40% of the
  * table" is the skew headline) — each row also carrying the distribution
  * frame: `n_keys`, `n_rows`, and exact interpolated `p50_cnt`/`p99_cnt`
  * of the per-key count distribution ([[Quantiles]]; a p99≪max gap is the
  * skew signature).
  *
  * Plan shape: per-key counts are ONE hash aggregate with map-side combine
  * (the only corpus-sized stage); the stats and quantile frames are 1-row
  * aggregates of the key frame; top-K is a TakeOrdered; the final window
  * runs over `topK` rows on one partition (answer-sized by construction —
  * same justification as the catalog's `ordered`). Determinism: counts are
  * exact longs, ties break on the key, shares divide longs (scalar IEEE,
  * engine-identical), the cumulative share derives from an exact long
  * running sum. NULL keys are excluded — engines disagree on NULL
  * ordering, and a NULL join key is its own pathology (it never matches)
  * that callers should count separately.
  */
object SkewProfile {

  /** @param df     input rows
    * @param keyCol the prospective join/shuffle key
    * @param topK   heavy-key rows to return
    */
  def profile(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK >= 1, "skew profile needs topK >= 1")
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("cnt"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n_rows"))
    val quants = Quantiles
      .quantileCont(counts.withColumn("__g", lit(1)), "__g", "cnt",
        Seq(0.5 -> "__p50", 0.99 -> "__p99"))
      .drop("__g")
    val top = counts.orderBy(col("cnt").desc, col("key")).limit(topK)
    val w = Window.orderBy(col("cnt").desc, col("key"))
    val r4 = (c: org.apache.spark.sql.Column) => floor(c * 10000 + 0.5) / 10000
    top
      .crossJoin(broadcast(stats))
      .crossJoin(broadcast(quants))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(
        col("rank"), col("key"), col("cnt"),
        r4(col("cnt").cast("double") / col("n_rows")).as("share4"),
        r4(col("__cum").cast("double") / col("n_rows")).as("cum_share4"),
        col("n_keys"), col("n_rows"),
        r4(col("__p50")).as("p50_cnt"),
        r4(col("__p99")).as("p99_cnt"))
  }
}
