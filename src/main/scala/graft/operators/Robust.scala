package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robust per-group outlier statistics: median / MAD (median absolute
  * deviation) and the Hampel-style outlier flag
  *
  *   |v − median_g(v)|  >  k · 1.4826 · MAD_g(v)
  *
  * — the standard data-cleaning gate where mean/stddev fences fail (a few
  * giant values inflate a stddev until nothing is an outlier; the median
  * and MAD are 50%-breakdown estimators, so the fence holds no matter how
  * wild the tail is). 1.4826 is the consistency constant making MAD
  * estimate σ under normality.
  *
  * Plan shape: two per-group aggregates (median, then median of absolute
  * deviations) + two group-keyed NULL-SAFE equi-joins (`<=>`: a NULL
  * group key is its own first-class slice, the repo convention; SQL
  * twins use IS NOT DISTINCT FROM) — the aggregates use the same
  * native exact-percentile kernel as q02 ([[graft.functions.NativeAgg]],
  * ObjectHashAggregate with per-group primitive count maps), so memory is
  * bounded by each group's value multiset, with
  * [[graft.operators.Quantiles.quantileCont]] as the documented escape
  * hatch when a single group's multiset outgrows an executor. Both joins
  * key on the group columns: the same partitioning serves agg and join
  * (exchange reuse), and AQE broadcasts the answer-sized median/MAD
  * frames when the group count is dimension-sized.
  *
  * Determinism: the percentile kernel is proven bit-equal to the built-in
  * and hash-matches DuckDB's `quantile_cont` under the catalog's r4
  * convention (q02, three SFs). The raw `is_outlier` compare multiplies
  * left-to-right (`k · 1.4826 · mad`) — mirror the same order in any SQL
  * twin.
  */
object Robust {

  /** Null-safe group-stats attach: join `df` to the answer-sized `stats`
    * frame on `keys` with `<=>` (the repo's null-safe-join convention —
    * groupBy keeps NULL keys as groups, so a plain equi-join would drop
    * exactly the rows those stats were computed for). SQL twins mirror
    * with `IS NOT DISTINCT FROM`.
    */
  private def nsAttach(
      df: DataFrame, stats: DataFrame, keys: Seq[String]): DataFrame = {
    val renamed = stats.select(stats.columns.map { c =>
      if (keys.contains(c)) col(c).as(s"__g_$c") else col(c)
    }: _*)
    val cond = keys.map(kk => col(kk) <=> col(s"__g_$kk")).reduce(_ && _)
    df.join(renamed, cond).drop(keys.map(kk => s"__g_$kk"): _*)
  }

  /** Per-group winsorization: clip `valueCol` to its group's
    * [`pLo`, `pHi`] percentile band instead of dropping tail rows — the
    * keep-and-cap companion to [[madOutliers]] (drop loses the row's
    * other signal; capping keeps it while bounding the tail's leverage
    * on downstream means/sums). Returns the input columns + `lo`, `hi`
    * (the group's band) and `v_w` (the clipped value:
    * `least(greatest(v, lo), hi)`).
    *
    * One percentile aggregate (both bounds in one pass of the same
    * kernel as [[madOutliers]]) + one group-keyed equi-join against the
    * answer-sized bounds frame.
    */
  def winsorize(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0,
      "need 0 <= pLo < pHi <= 1")
    val g = groupCols.map(col)
    val v = col(valueCol)
    val bounds = df.filter(v.isNotNull)
      .groupBy(g: _*)
      .agg(graft.functions.NativeAgg.percentileArray(v, Seq(pLo, pHi)).as("__b"))
      .select((g :+ element_at(col("__b"), 1).as("lo")
        :+ element_at(col("__b"), 2).as("hi")): _*)
    nsAttach(df.filter(v.isNotNull), bounds, groupCols)
      .withColumn("v_w", least(greatest(v, col("lo")), col("hi")))
  }

  /** Robust feature scaling — the median/IQR standardization
    * (`rz = (v − median) / (p75 − p25)`) a tabular pipeline applies
    * where mean/stddev scaling breaks on heavy tails (both the center
    * and the spread are 25–50%-breakdown estimators, so one wild tail
    * cannot re-center or re-scale the feature). Returns the input
    * columns + `med`, `iqr`, `rz`; `rz` is NULL when the group IQR is 0
    * (a constant-bodied feature carries no scale — callers drop or
    * impute, the [[madOutliers]] NULL convention).
    *
    * One three-point percentile aggregate (same exact kernel and NULL
    * exclusion as [[winsorize]]) + one null-safe answer-sized attach;
    * the division is the only float op, IEEE-identical at the catalog's
    * r4 reporting convention.
    */
  def robustScale(
      df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val v = col(valueCol)
    val stats = df.filter(v.isNotNull)
      .groupBy(g: _*)
      .agg(graft.functions.NativeAgg
        .percentileArray(v, Seq(0.25, 0.5, 0.75)).as("__q"))
      .select((g :+ element_at(col("__q"), 2).as("med")
        :+ (element_at(col("__q"), 3) - element_at(col("__q"), 1)).as("iqr")): _*)
    nsAttach(df.filter(v.isNotNull), stats, groupCols)
      .withColumn("rz", when(col("iqr") =!= 0.0, (v - col("med")) / col("iqr")))
  }

  /** Input columns + `med`, `mad`, `dev` (= |v − med|), `is_outlier`.
    *
    * @param k fence width in consistency-scaled MADs (3.0 ≈ "3 sigma")
    */
  def madOutliers(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Double = 3.0): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val v = col(valueCol)
    val med = df.filter(v.isNotNull)
      .groupBy(g: _*)
      .agg(element_at(
        graft.functions.NativeAgg.percentileArray(v, Seq(0.5)), 1).as("med"))
    val withMed = nsAttach(df.filter(v.isNotNull), med, groupCols)
    val mad = withMed
      .groupBy(g: _*)
      .agg(element_at(
        graft.functions.NativeAgg.percentileArray(abs(v - col("med")), Seq(0.5)),
        1).as("mad"))
    nsAttach(withMed, mad, groupCols)
      .withColumn("dev", abs(v - col("med")))
      .withColumn("is_outlier",
        col("dev") > lit(k) * lit(1.4826) * col("mad"))
  }
}
