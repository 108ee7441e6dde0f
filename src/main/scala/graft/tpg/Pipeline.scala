package graft.tpg

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The raw-files → training-rows chain over one gold directory, the way the
  * reference's scripts run over one warehouse (`--db`): every stage reads
  * its inputs from `<gold>/<table>` and writes its own tables there. The CLI
  * mains ([[Jobs]]) run one stage each; [[run]] runs them all in order.
  */
object Pipeline {

  /** The gold tables, in write order. */
  val tables: Seq[String] = Seq("gtfs_routes", "gtfs_trips", "gtfs_stop_times", "gtfs_stops",
    "ist_events", "weather_obs", "features", "by_stop_line", "training_rows")

  private val Seq(routes, trips, stopTimes, stops, events, obs, feats, byLine, rows) = tables

  /** The raw inputs: a GTFS ZIP, IstDaten CSVs and weather CSVs. */
  case class Inputs(gtfsZip: String, istPaths: Seq[String], weatherPaths: Seq[String])

  /** The gold table `table` under `gold`. */
  def read(spark: SparkSession, gold: String, table: String): DataFrame =
    spark.read.parquet(s"$gold/$table")

  def gtfs(spark: SparkSession, gold: String, zip: String): Unit = {
    val (r, t, st, s) = GtfsIngest.ingest(spark, zip)
    Seq(routes -> r, trips -> t, stopTimes -> st, stops -> s)
      .foreach { case (table, df) => GtfsIngest.write(df, s"$gold/$table") }
  }

  def istdaten(spark: SparkSession, gold: String, paths: Seq[String]): Unit =
    IstdatenIngest.write(IstdatenIngest.ingest(spark, paths), s"$gold/$events")

  def weather(spark: SparkSession, gold: String, paths: Seq[String]): Unit =
    WeatherIngest.write(WeatherIngest.ingest(spark, paths), s"$gold/$obs")

  /** `asof` selects the ASOF weather join, else the reference's strict one. */
  def features(spark: SparkSession, gold: String, asof: Boolean,
      strategy: FeaturesEvents.StationStrategy = FeaturesEvents.DominantStation): Unit =
    FeaturesEvents.write(FeaturesEvents.build(read(spark, gold, events),
      read(spark, gold, obs), strategy, asof), s"$gold/$feats")

  def byStopLine(spark: SparkSession, gold: String): Unit =
    FeaturesEvents.write(FeaturesByStopLine.build(read(spark, gold, feats)), s"$gold/$byLine")

  def trainingRows(spark: SparkSession, gold: String): Unit =
    FeaturesEvents.write(TrainingRow.build(read(spark, gold, feats), read(spark, gold, obs)),
      s"$gold/$rows")

  /** Runs every stage in order, features with the ASOF weather join, and
    * returns each stage's name and wall seconds. */
  def run(spark: SparkSession, in: Inputs, gold: String): Seq[(String, Double)] = {
    def stage(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime(); f
      name -> (System.nanoTime() - t0) / 1e9
    }
    Seq(
      stage("ingest gtfs")(gtfs(spark, gold, in.gtfsZip)),
      stage("ingest istdaten")(istdaten(spark, gold, in.istPaths)),
      stage("ingest weather")(weather(spark, gold, in.weatherPaths)),
      stage("build features (asof)")(features(spark, gold, asof = true)),
      stage("by-stop-line")(byStopLine(spark, gold)),
      stage("training rows")(trainingRows(spark, gold)))
  }
}
