package graft.tpg

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.functions.TextExprs

/** GTFS timetable ingest ≙ reference `src/01_ingest_gtfs.py`.
  *
  * ZIP member extraction happens once on the driver (S1/S2 — GTFS feeds are
  * a few MB; executors never see the archive; commons-compress handles
  * Deflate64 where java.util.zip cannot), then each member is a plain
  * distributed CSV scan through [[Archives.readCsv]] (P1 required/optional
  * columns, per-file charset). A missing `agency.txt` reads as an empty
  * agency table (so no route passes the operator filter), a missing
  * `feed_info.txt` as feed_version "unknown"; any other missing member is an
  * error. Agency broadcast join (J1), operator substring filter (F1), and the
  * cascading semi-join prune (J2) follow the reference exactly.
  *
  * The cascade runs once: `ingest` materializes each pruned silver frame
  * with an eager `localCheckpoint` as it goes, so the next level's semi-join
  * and the four writes read those blocks instead of re-deriving routes ⋉
  * trips ⋉ stop_times from the CSVs (each member is scanned once). The
  * blocks stay in the session's block manager until Spark's ContextCleaner
  * drops them after the returned frames are garbage-collected, or the
  * session stops.
  */
object GtfsIngest {

  /** Full GTFS ingest: returns (routes, trips, stop_times, stops) pruned to
    * the configured operator, each stamped with feed_version and
    * checkpointed (the Spark jobs of the whole cascade run here).
    */
  def ingest(spark: SparkSession, zipPath: String,
      operatorPattern: String = "Transports Publics Genevois")
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val paths = Archives.extractMembers(zipPath, _.filter(Schemas.gtfsRenames.contains)).toMap
    def member(name: String): DataFrame = Archives.readCsv(spark,
      Seq(paths.getOrElse(name, sys.error(s"$name missing from GTFS feed"))),
      Map.empty, Schemas.gtfsRenames(name), Schemas.gtfsRequired(name))

    val feedVersion: String =
      if (!paths.contains("feed_info.txt")) "unknown"
      else member("feed_info.txt").limit(1).collect().headOption
        .flatMap(r => Option(r.getString(0))).getOrElse("unknown")

    // Casts before `distinct`, so "01"/"1" collapse; feed_version after it.
    def silver(table: StructType)(df: DataFrame): DataFrame =
      df.transform(Schemas.project(StructType(table.filter(_.name != "feed_version"))))
        .distinct()
        .withColumn("feed_version", lit(feedVersion))
        .localCheckpoint()

    val agency =
      if (paths.contains("agency.txt")) member("agency.txt")
      else spark.createDataFrame(java.util.List.of[Row](),
        StructType(Seq("agency_id", "agency_name").map(StructField(_, StringType))))

    // J1: tiny agency dim — broadcast left join; F1: case-insensitive
    // substring filter on the denormalized operator name.
    val routes = member("routes.txt")
      .join(broadcast(agency.select(col("agency_id"), col("agency_name").as("operator_name"))),
        Seq("agency_id"), "left")
      .filter(TextExprs.lower(col("operator_name")).contains(operatorPattern.toLowerCase))
      .transform(silver(Schemas.gtfsRoutes))

    // J2: cascading semi-join prune — trips ⋉ routes, stop_times ⋉ trips,
    // stops ⋉ stop_times. Key sides are small after the operator filter →
    // broadcast semi-joins, no shuffle of the big table.
    val trips = member("trips.txt")
      .join(broadcast(routes.select("route_id")), Seq("route_id"), "left_semi")
      .transform(silver(Schemas.gtfsTrips))

    val stopTimes = member("stop_times.txt")
      .join(broadcast(trips.select("trip_id")), Seq("trip_id"), "left_semi")
      .transform(silver(Schemas.gtfsStopTimes))

    val stops = member("stops.txt")
      .join(stopTimes.select("stop_id").distinct(), Seq("stop_id"), "left_semi")
      .transform(silver(Schemas.gtfsStops))

    (routes, trips, stopTimes, stops)
  }

  /** S9: whole-feed-version atomic replace via dynamic partition overwrite on
    * feed_version (the reference's 4-table transaction).
    */
  def write(df: DataFrame, path: String): Unit =
    df.write
      .partitionBy("feed_version")
      .option("compression", "zstd")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
}
