package graft.tpg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Macros
import graft.operators.{Dedupe, Merge}

/** MeteoSwiss 10-minute weather ingest ≙ reference `src/03_ingest_weather.py`.
  *
  * Semicolon CSV with '-' as NA (S5) → code→name renames (P2) → numeric
  * coercion with invalid→NULL (C13) → km/h→m/s (C12) → drop null timestamps
  * (F5) → exact-median dedupe of duplicate (station, ts) rows (A1) →
  * per-station time-window upsert (S11).
  *
  * Scale: one `spark.read.csv` over any number of station files parallelizes
  * per-split (replacing the reference's thread pool); the only shuffle is the
  * median dedupe groupBy on (station_id, ts_utc) — key-partitioned, skew-free
  * (10-min grid bounds group size).
  */
object WeatherIngest {

  val measures: Seq[String] = Seq(
    "temp_c", "rain_mm", "wind_ms", "gust_ms", "wind_dir_deg", "rel_humidity",
    "pressure_hpa", "global_rad_wm2", "sunshine_min", "dewpoint_c")

  /** S5: semicolon CSV, '-' → NULL, UTF-8 with Latin-1 fallback retry. */
  def readRaw(spark: SparkSession, paths: Seq[String]): DataFrame = {
    def read(encoding: String) = spark.read
      .option("header", "true")
      .option("sep", ";")
      .option("nullValue", "-")
      .option("encoding", encoding)
      .csv(paths: _*)
    try {
      val df = read("UTF-8")
      df.schema // force schema inference to surface encoding errors early
      df
    } catch { case _: Exception => read("ISO-8859-1") }
  }

  /** Normalize one raw frame to the weather_obs schema (before dedupe). */
  def normalize(raw: DataFrame): DataFrame = {
    val present = raw.columns.toSet
    val selected = Schemas.weatherRenames.map { case (from, to) =>
      (if (present.contains(from)) col(from) else lit(null)).as(to)
    }
    raw.select(selected: _*)
      .withColumn("ts_utc", try_to_timestamp(col("ts_utc"), lit("dd.MM.yyyy HH:mm")))
      .na.drop(Seq("ts_utc"))
      // C13 numeric coercion (invalid → NULL, never error) then C12 units
      .select(
        (Seq(col("station_id"), col("ts_utc")) ++
          Seq("temp_c", "rain_mm", "wind_dir_deg", "rel_humidity",
            "pressure_hpa", "global_rad_wm2", "sunshine_min", "dewpoint_c")
            .map(c => Macros.toDoubleOrNull(col(c)).as(c)) ++
          Seq(
            Macros.kmhToMs(Macros.toDoubleOrNull(col("wind_kmh"))).as("wind_ms"),
            Macros.kmhToMs(Macros.toDoubleOrNull(col("gust_kmh"))).as("gust_ms"))): _*)
      .select("station_id", "ts_utc",
        "temp_c", "rain_mm", "wind_ms", "gust_ms", "wind_dir_deg",
        "rel_humidity", "pressure_hpa", "global_rad_wm2", "sunshine_min", "dewpoint_c")
  }

  /** A1: duplicate (station_id, ts_utc) rows collapse to exact per-column
    * medians (skip-NULL, like DuckDB MEDIAN / pandas median).
    */
  def dedupe(df: DataFrame): DataFrame =
    Dedupe.medianDedupe(df, Seq("station_id", "ts_utc"), measures)

  /** Full ingest transform. */
  def ingest(spark: SparkSession, paths: Seq[String]): DataFrame =
    dedupe(normalize(readRaw(spark, paths)))

  /** S11: merge a new batch into the existing table — per-station [min,max]
    * window replace (the one reference upsert that is not partition-aligned).
    */
  def upsert(existing: DataFrame, incoming: DataFrame): DataFrame =
    Merge.upsertByKeyRange(existing, incoming, "station_id", "ts_utc")

  /** Sink: month-partitioned ZSTD parquet (dynamic overwrite, set on the
    * write so it holds in any session, gives the idempotent re-run
    * semantics of the reference's transactional upsert).
    */
  def write(df: DataFrame, path: String): Unit =
    df.withColumn("ym", Macros.monthKey(col("ts_utc")))
      .sortWithinPartitions("station_id", "ts_utc")
      .write
      .partitionBy("ym")
      .option("compression", "zstd")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
}
