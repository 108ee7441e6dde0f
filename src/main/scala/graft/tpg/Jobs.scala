package graft.tpg

import org.apache.spark.sql.SparkSession

/** CLI entry points mirroring the reference's scripts — a user of
  * `AurelK7/tpg_weather_etl` maps each `python src/NN_*.py` invocation onto
  * one of these mains:
  *
  * | reference                       | here                          |
  * |---------------------------------|-------------------------------|
  * | 01_ingest_gtfs.py               | graft.tpg.IngestGtfs          |
  * | 02_ingest_istdaten.py           | graft.tpg.IngestIstdaten      |
  * | 03_ingest_weather.py            | graft.tpg.IngestWeather       |
  * | 10_build_features.py [--asof]   | graft.tpg.BuildFeatures       |
  * | 11_build_features_by_stop_line  | graft.tpg.BuildByStopLine     |
  * | 12_* (declared, absent)         | graft.tpg.BuildTrainingRows   |
  *
  * No `--workers`/PRAGMA flags: parallelism is Spark's (per-split scans,
  * `spark.sql.shuffle.partitions`), and the transactional upsert machinery
  * is replaced by idempotent dynamic partition overwrite.
  */
object Jobs {
  def session(appName: String): SparkSession =
    graft.Regime.session(graft.Regime.jobs(appName, sys.env))
}

object IngestWeather {
  /** args: <outDir> <csvPathOrGlob...> */
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session("ingest-weather")
    WeatherIngest.write(WeatherIngest.ingest(spark, args.drop(1).toSeq), args(0))
    spark.stop()
  }
}

object IngestIstdaten {
  /** args: <outDir> <csvPathOrGlob...> */
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session("ingest-istdaten")
    IstdatenIngest.write(IstdatenIngest.ingest(spark, args.drop(1).toSeq), args(0))
    spark.stop()
  }
}

object IngestGtfs {
  /** args: <outDir> <gtfsZip> */
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session("ingest-gtfs")
    val (routes, trips, stopTimes, stops) = GtfsIngest.ingest(spark, args(1))
    GtfsIngest.write(routes, s"${args(0)}/gtfs_routes")
    GtfsIngest.write(trips, s"${args(0)}/gtfs_trips")
    GtfsIngest.write(stopTimes, s"${args(0)}/gtfs_stop_times")
    GtfsIngest.write(stops, s"${args(0)}/gtfs_stops")
    spark.stop()
  }
}

object BuildFeatures {
  /** args: <eventsParquet> <weatherParquet> <outDir> [--asof] [--station-id X] */
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session("build-features")
    val asof = args.contains("--asof")
    val station = args.sliding(2).collectFirst {
      case Array("--station-id", id) => id
    }
    val events = spark.read.parquet(args(0))
    val weather = spark.read.parquet(args(1))
    val strategy = station
      .map(FeaturesEvents.ExplicitStation(_): FeaturesEvents.StationStrategy)
      .getOrElse(FeaturesEvents.DominantStation)
    val feats = FeaturesEvents.build(events, weather, strategy, asof)
    FeaturesEvents.write(feats, args(2))
    FeaturesEvents.qc(spark.read.parquet(args(2))).show(truncate = false)
    spark.stop()
  }
}

object BuildByStopLine {
  /** args: <featuresParquet> <outDir> */
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session("build-by-stop-line")
    val agg = FeaturesByStopLine.build(spark.read.parquet(args(0)))
    FeaturesEvents.write(agg, args(1))
    FeaturesByStopLine.qc(spark.read.parquet(args(1))).show(truncate = false)
    spark.stop()
  }
}

object BuildTrainingRows {
  /** args: <featuresParquet> <weatherParquet> <outDir> */
  def main(args: Array[String]): Unit = {
    val spark = Jobs.session("build-training-rows")
    val rows = TrainingRow.build(
      spark.read.parquet(args(0)), spark.read.parquet(args(1)))
    FeaturesEvents.write(rows, args(2))
    spark.stop()
  }
}
