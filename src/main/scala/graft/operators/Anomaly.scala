package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Calendar-baseline anomaly detection: subtract each row's expected
  * value for its CALENDAR SLOT (e.g. (iso-dow, hour) — "Tuesdays at 9am
  * look like this"), then run the Hampel/MAD fence on the residuals —
  * the seasonal-profile version of [[Robust.madOutliers]]: a metric that
  * is NORMAL for Friday evening but absurd for Sunday 4am is invisible
  * to a global fence and obvious to a seasonal one.
  *
  *   baseline(g, slot) = median of v over (group × slot)
  *   resid             = v − baseline
  *   flag              ⟺ |resid − median_g(resid)| > k · 1.4826 · MAD_g(resid)
  *
  * Plan shape: one (group × slot) median aggregate (the q02/q103 native
  * exact-percentile kernel) + one slot-keyed join for the residual, then
  * [[Robust.madOutliers]] on the residual column (its two aggregates +
  * two group-keyed joins). The baseline frame is answer-sized
  * (groups × slots — e.g. types × 7 × 24), so AQE broadcasts it.
  *
  * Residuals are re-centered by their own median inside the fence
  * (rather than assuming median-zero residuals): with skewed slot
  * distributions the residual median is NOT zero, and the fence should
  * be symmetric around what the residuals actually do.
  *
  * Determinism: medians/MADs from the bit-equal percentile kernel;
  * `v − baseline` is one exact IEEE subtraction. SQL twins mirror the
  * CTE chain with `quantile_cont` and the same left-to-right fence
  * multiply (q103 conventions, including the r4 boundary guard on the
  * fence compare).
  */
object Anomaly {

  /** Input columns + `baseline`, `resid`, plus [[Robust.madOutliers]]'s
    * `med`/`mad`/`dev`/`is_outlier` computed over `resid` per group.
    *
    * @param slotCols calendar-slot expressions with their output names,
    *                 e.g. `Seq("dow" -> isoDow(col("ts")), "hr" -> hour(col("ts")))`
    * @param k        fence width in consistency-scaled MADs
    */
  def calendarAnomalies(
      df: DataFrame, groupCols: Seq[String],
      slotCols: Seq[(String, Column)], valueCol: String,
      k: Double = 4.0): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(slotCols.nonEmpty, "slotCols must be non-empty")
    val slotted = slotCols.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
      .filter(col(valueCol).isNotNull)
    val keys = groupCols ++ slotCols.map(_._1)
    val baseline = slotted
      .groupBy(keys.map(col): _*)
      .agg(element_at(
        graft.functions.NativeAgg.percentileArray(col(valueCol), Seq(0.5)),
        1).as("baseline"))
    // NULL-SAFE baseline attach (the Drift.tokenKlDrift convention):
    // groupBy keeps NULL group/slot values as groups, so a plain equi-join
    // would silently drop exactly those rows it just computed baselines
    // for — <=> keeps NULL-keyed slices first-class (SQL twins mirror
    // with IS NOT DISTINCT FROM)
    val bl = baseline.select(
      keys.map(kk => col(kk).as(s"__b_$kk")) :+ col("baseline"): _*)
    val cond = keys.map(kk => col(kk) <=> col(s"__b_$kk")).reduce(_ && _)
    val withResid = slotted.join(bl, cond)
      .drop(keys.map(kk => s"__b_$kk"): _*)
      .withColumn("resid", col(valueCol) - col("baseline"))
    Robust.madOutliers(withResid, groupCols, "resid", k)
  }
}
