package graft.tpg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Macros

/** Training-row feature build ≙ the reference's *declared-but-missing*
  * `12_build_feature_training_row.py`: only its output DDL exists
  * (`common.py:174-193`). This implements that declared surface — boolean
  * delay targets, rolling per-(line,stop) delay medians over 7/14/28-day
  * event-time windows, 10/20-minute weather lags, calendar and cyclic-hour
  * encodings.
  *
  * Scale notes: the rolling medians use range frames over epoch seconds —
  * one shuffle+sort per (line_text, stop_code) partition, reused by all
  * three frame widths (same window ordering). Weather lags are per-station
  * `lag` on the 10-minute grid — trivially partitioned.
  */
object TrainingRow {

  /** Rolling range-frame medians: frame = [now - days·86400, now - 1s]
    * (strictly past, like a leakage-safe training feature).
    */
  private def rollingMedian(days: Int) = {
    val w = Window
      .partitionBy(col("line_text"), col("stop_code"))
      .orderBy(Macros.epochSeconds(col("sched_ts")))
      .rangeBetween(-days.toLong * 86400, -1)
    percentile(col("delay_sec"), lit(0.5)).over(w)
  }

  /** @param features output of [[FeaturesEvents.build]] (needs sched_ts,
    *                 delay_sec, line_text, stop_code, sched_bin, station_id,
    *                 weather cols)
    * @param weather  weather_obs on the 10-minute grid (for lags)
    */
  def build(features: DataFrame, weather: DataFrame): DataFrame = {
    val lagW = Window.partitionBy(col("station_id")).orderBy(col("ts_utc"))
    // Renamed join columns: `features` already carries attributes from the
    // same `weather` plan (via the weather join), so unrenamed ts_utc would
    // be an ambiguous self-join reference.
    val weatherLags = weather.select(
      col("station_id").as("lag_station_id"), col("ts_utc").as("lag_ts"),
      lag(col("rain_mm"), 1).over(lagW).as("rain_mm_lag10"),
      lag(col("rain_mm"), 2).over(lagW).as("rain_mm_lag20"),
      lag(col("wind_ms"), 1).over(lagW).as("wind_ms_lag10"),
      lag(col("wind_ms"), 2).over(lagW).as("wind_ms_lag20"))

    features
      .withColumn("row_id", monotonically_increasing_id())
      // targets (boolean, per DDL)
      .withColumn("target_late_ge2", col("delay_min") >= 2)
      .withColumn("target_late_ge5", col("delay_min") >= 5)
      // rolling medians, strictly past
      .withColumn("med_delay_7d_sec", rollingMedian(7))
      .withColumn("med_delay_14d_sec", rollingMedian(14))
      .withColumn("med_delay_28d_sec", rollingMedian(28))
      // calendar + cyclic encodings
      .withColumn("event_date", to_date(col("sched_ts")))
      .withColumn("hour", hour(col("sched_ts")))
      .withColumn("dow", Macros.isoDow(col("sched_ts")))
      .withColumn("sin_hour", Macros.sinHour(col("hour")))
      .withColumn("cos_hour", Macros.cosHour(col("hour")))
      // 10/20-minute weather lags joined on (station, bin): features carry
      // the resolved station_id from FeaturesEvents.build, so multi-station
      // weather can't fan rows out or attach another station's lags. The
      // planner picks the join: broadcast while the lag frame's size estimate
      // is under spark.sql.autoBroadcastJoinThreshold, a shuffled join above
      // (AQE re-decides on runtime sizes).
      .join(weatherLags,
        col("sched_bin") === col("lag_ts") && col("station_id") === col("lag_station_id"),
        "left")
      .drop("lag_ts", "lag_station_id")
  }
}
