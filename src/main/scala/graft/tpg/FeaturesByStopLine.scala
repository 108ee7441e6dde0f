package graft.tpg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.functions.Macros

/** Stop × line 10-minute aggregation ≙ reference
  * `src/11_build_features_by_stop_line.py:84-138` (A4): per
  * (line_text, stop_code, sched_bin) — trip counts, mean/median/p90 delay,
  * late-share, coalesce-bias shares, weather summaries.
  *
  * Exact `percentile` (not approx) to match DuckDB MEDIAN/QUANTILE; Catalyst
  * runs this as partial+final hash aggregate — one shuffle on the group key,
  * map-side combine for the sums/counts.
  */
object FeaturesByStopLine {

  def build(features: DataFrame): DataFrame =
    features
      .groupBy(col("line_text"), col("stop_code"), col("sched_bin"))
      .agg(
        max(col("stop_name")).as("stop_name"),
        count(lit(1)).as("n_trips"),
        avg(col("delay_min")).as("delay_avg_min"),
        percentile(col("delay_min"), lit(0.5)).as("delay_p50_min"),
        percentile(col("delay_min"), lit(0.9)).as("delay_p90_min"),
        avg((col("delay_min") >= 2).cast(DoubleType)).as("share_late_ge2"),
        avg(col("used_arrival_sched").cast(DoubleType)).as("share_used_arrival_sched"),
        avg(col("used_arrival_est").cast(DoubleType)).as("share_used_arrival_est"),
        avg(col("temp_c")).as("temp_c_avg"),
        avg(col("rain_mm")).as("rain_mm_avg"),
        max(col("rain_mm")).as("rain_mm_max"),
        avg(col("wind_ms")).as("wind_ms_avg"),
        avg(col("rel_humidity")).as("rel_humidity_avg"),
        avg(col("pressure_hpa")).as("pressure_hpa_avg"))
      .withColumn("stop_key", Macros.dotKey(col("line_text"), col("stop_code")))

  /** A5/QC ≙ 11:141-151. */
  def qc(agg: DataFrame): DataFrame =
    agg.agg(
      count(lit(1)).as("n_bins"),
      countDistinct(col("stop_key")).as("n_stop_keys"),
      sum(col("n_trips")).as("n_trips_total"))
}
