package graft.tpg

import org.apache.hadoop.fs.Path
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
  * Scale: one CSV scan per charset over any number of station files
  * parallelizes per-split (replacing the reference's thread pool); the only
  * shuffle is the median dedupe groupBy on (station_id, ts_utc) —
  * key-partitioned, skew-free (10-min grid bounds group size).
  */
object WeatherIngest {

  /** The weather_obs measure columns: everything after (station_id, ts_utc). */
  val measures: Seq[String] = Schemas.weatherObs.fieldNames.toSeq.drop(2)

  /** Normalize one raw frame to the weather_obs schema (before dedupe). */
  def normalize(raw: DataFrame): DataFrame =
    raw
      .withColumn("ts_utc", try_to_timestamp(col("ts_utc"), lit("dd.MM.yyyy HH:mm")))
      .na.drop(Seq("ts_utc"))
      // C13 numeric coercion (invalid → NULL, never error) then C12 units
      .withColumn("wind_ms", Macros.kmhToMs(Macros.toDoubleOrNull(col("wind_kmh"))))
      .withColumn("gust_ms", Macros.kmhToMs(Macros.toDoubleOrNull(col("gust_kmh"))))
      .withColumns(measures.map(m => m -> Macros.toDoubleOrNull(col(m))).toMap)
      .transform(Schemas.project(Schemas.weatherObs))

  /** A1: duplicate (station_id, ts_utc) rows collapse to exact per-column
    * medians (skip-NULL, like DuckDB MEDIAN / pandas median).
    */
  def dedupe(df: DataFrame): DataFrame =
    Dedupe.medianDedupe(df, Seq("station_id", "ts_utc"), measures)

  /** Full ingest transform; S5: semicolon CSV with '-' as NULL. */
  def ingest(spark: SparkSession, paths: Seq[String]): DataFrame =
    dedupe(normalize(Archives.readCsv(spark, paths, Map("sep" -> ";", "nullValue" -> "-"),
      Schemas.weatherRenames, Schemas.weatherRequired)))

  /** S11: merge a new batch into the existing table — per-station [min,max]
    * window replace (the one reference upsert that is not partition-aligned).
    */
  def upsert(existing: DataFrame, incoming: DataFrame): DataFrame =
    Merge.upsertByKeyRange(existing, incoming, "station_id", "ts_utc")

  /** Sink: month-partitioned ZSTD parquet, written as the reference's S11
    * upsert: the batch is merged ([[upsert]]) into the table's rows of the
    * months the batch has rows in, and only those months are rewritten
    * (dynamic overwrite, set on the write so it holds in any session). A
    * re-run is idempotent, and re-ingesting part of a window keeps every
    * other station's rows and the rest of the month. A station window
    * reaching into a month without batch rows leaves that month as it is.
    * With no table at `path` yet the batch is written as is, with no extra
    * job.
    */
  def write(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val table = new Path(path)
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val withYm = (d: DataFrame) => d.withColumn("ym", Macros.monthKey(col("ts_utc")))
    val rows = if (!Option(fs.globStatus(new Path(table, "ym=*"))).exists(_.nonEmpty)) df
      else {
        // the schema is given, so reading the table infers nothing (no job)
        val existing = spark.read.schema(Schemas.weatherObs.add("ym", "string"))
          .parquet(path)
          .join(broadcast(withYm(df).select("ym").distinct()), Seq("ym"), "left_semi")
          .drop("ym")
        upsert(existing, df)
      }
    withYm(rows)
      .sortWithinPartitions("station_id", "ts_utc")
      .write
      .partitionBy("ym")
      .option("compression", "zstd")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
  }
}
