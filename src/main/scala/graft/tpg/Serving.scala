package graft.tpg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Macros

/** Serving-layer façade over the gold tables — the typed API behind the
  * reference's two read-only dashboards (`app/streamlit_app.py`,
  * `app/streamlit_by_stop_line.py`). The dashboards' UI itself is out of
  * engine scope (SURVEY §3.3); every QUERY they issue is exposed here over
  * the gold DataFrames, so an app layer renders straight from these frames
  * without re-deriving any relational logic.
  *
  * Scale notes: every method is a plain declarative plan over the gold
  * frame it serves — limits push into TakeOrdered, the profile is one
  * aggregate pass however many columns it covers, the heatmap groups on a
  * 7×24-bounded key. Nothing here collects or caches; serving a dashboard
  * refresh is one job against gold parquet.
  */
object Serving {

  /** Latest-N events with the dashboard's delay calculation
    * (`streamlit_app.py:80-97`): TPG operator, Bus/Tram-or-NULL products,
    * coalesced sched/est timestamps, integer delay seconds + fractional
    * minutes, newest first. The ORDER BY + LIMIT plans as TakeOrdered —
    * per-partition top-N then a single merge, no global sort.
    */
  def latestEvents(istEvents: DataFrame, n: Int = 50): DataFrame =
    istEvents
      .filter(col("operator_abbr") === "TPG")
      .filter(col("product_id").isin("Bus", "Tram") || col("product_id").isNull)
      .select(
        col("service_date"), col("line_text"), col("stop_name"),
        coalesce(col("depart_time_sched"), col("arrival_time_sched")).as("sched_ts"),
        coalesce(col("depart_time_est"), col("arrival_time_est")).as("est_ts"))
      .withColumn("delay_sec",
        Macros.delaySeconds(col("est_ts"), col("sched_ts")).cast("int"))
      .withColumn("delay_min", col("delay_sec").cast("double") / 60.0)
      .orderBy(col("service_date").desc, col("sched_ts").desc)
      .limit(n)

  /** Top-N columns by missing-value share over ANY gold frame
    * (`streamlit_app.py:146-153`: `df.isna().mean()` descending). One
    * aggregate pass over all requested columns (defaults to every column),
    * `na_percent` rounded to one decimal like the dashboard table.
    */
  def missingProfile(gold: DataFrame, topN: Int = 20,
      columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns else gold.columns.toSeq
    graft.operators.Profile.missingProfile(gold, cols)
      .select(
        col("column_name").as("column"),
        (round(col("null_frac") * 1000.0) / 10.0).as("na_percent"))
      .orderBy(col("na_percent").desc, col("column"))
      .limit(topN)
  }

  /** One-row QA KPI slice over event-level gold (`streamlit_app.py:113-141`
    * `compute_kpis` + `:156-176` `coalescing_table`, combined): row total,
    * rows with both depart timestamps present, coalesce-bias counts and
    * share, unusable rows (no sched or no est), and rows carrying the full
    * weather payload.
    */
  def kpiSlice(features: DataFrame,
      weatherCols: Seq[String] = WeatherIngest.measures): DataFrame = {
    val fullWeather = weatherCols.map(col(_).isNotNull).reduce(_ && _)
    features.agg(
      count(lit(1)).as("rows_total"),
      sum((col("depart_time_sched").isNotNull && col("depart_time_est").isNotNull)
        .cast("long")).as("both_depart_present"),
      sum(col("used_arrival_sched").cast("long")).as("n_coalesce_sched"),
      sum(col("used_arrival_est").cast("long")).as("n_coalesce_est"),
      sum((col("used_arrival_sched") || col("used_arrival_est")).cast("long"))
        .as("n_any_coalesce"),
      avg((col("used_arrival_sched") || col("used_arrival_est")).cast("double"))
        .as("pct_any_coalesce"),
      sum((col("sched_ts").isNull || col("est_ts").isNull).cast("long")).as("unusable"),
      sum(fullWeather.cast("long")).as("full_weather_rows"))
      .withColumn("pct_any_coalesce", col("pct_any_coalesce") * 100.0)
  }

  /** Hour × ISO-day-of-week heatmap of average delay over the stop×line
    * gold (`streamlit_by_stop_line.py:269-293`): mean of the bins'
    * `delay_avg_min` per (dow, hour) cell — the dashboard's
    * mean-of-bin-means, not a re-weighted trip mean. Bounded 7×24 output.
    */
  def heatmap(byStopLine: DataFrame): DataFrame =
    byStopLine
      .groupBy(
        Macros.isoDow(col("sched_bin")).as("dow"),
        hour(col("sched_bin")).as("hr"))
      .agg(avg(col("delay_avg_min")).as("delay_avg_min"),
        sum(col("n_trips")).as("n_trips"))

  /** Filtered slice of the stop×line gold — the dashboard's sidebar filter
    * block (`streamlit_by_stop_line.py:151-215`): restrict by lines, stop
    * keys, and an inclusive date range, time-ordered for the time-series
    * pane. Empty filter seqs mean "all" (same as the dashboard's empty
    * multiselects).
    *
    * Dates are `yyyy-MM-dd`, parsed here before the plan is built: an
    * invalid one raises an error naming it. The window compares `sched_bin`'s session
    * date as a `yyyy-MM-dd` string against string literals, which
    * generated code takes by reference, so every window reuses the same
    * compiled classes (a date literal would be inlined into the code, so
    * each window would compile classes of its own).
    */
  def slice(byStopLine: DataFrame,
      lines: Seq[String] = Nil,
      stopKeys: Seq[String] = Nil,
      fromDate: Option[String] = None,
      toDate: Option[String] = None): DataFrame = {
    def day(name: String, d: String): Column =
      try lit(java.time.LocalDate.parse(d).toString)
      catch { case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(s"$name: invalid date '$d', expected yyyy-MM-dd", e)
      }
    val binDay = date_format(col("sched_bin"), "yyyy-MM-dd")
    val preds = Seq(
      Option.when(lines.nonEmpty)(col("line_text").isin(lines: _*)),
      Option.when(stopKeys.nonEmpty)(col("stop_key").isin(stopKeys: _*)),
      fromDate.map(d => binDay >= day("fromDate", d)),
      toDate.map(d => binDay <= day("toDate", d))).flatten
    preds.foldLeft(byStopLine)(_ filter _).orderBy(col("sched_bin"))
  }

  /** Header KPIs of the filtered stop×line view
    * (`streamlit_by_stop_line.py:218-233`): total trips, mean of bin mean
    * delays, mean of bin p90s, mean late-share (as a percentage).
    */
  def sliceKpis(view: DataFrame): DataFrame =
    view.agg(
      sum(col("n_trips")).as("trips"),
      avg(col("delay_avg_min")).as("avg_delay_min"),
      avg(col("delay_p90_min")).as("p90_delay_min"),
      (avg(col("share_late_ge2")) * 100.0).as("pct_late_ge2"))
}
