package graft.tpg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Warehouse table schemas — the engine's typed equivalent of the reference
  * DDL (`src/common.py:93-194`) — and each raw source's column map and
  * required columns, read by [[Archives.readCsv]]. Spark columns are
  * nullable by default, matching the reference's nullable pandas/DuckDB
  * columns; business keys are enforced by the dedupe operators, not
  * constraints (as in the reference).
  */
object Schemas {

  /** Project to `schema`: its names, in its order, cast to its types. */
  def project(schema: StructType)(df: DataFrame): DataFrame =
    df.select(schema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  /** gtfs_stops ≙ common.py:95-105 */
  val gtfsStops: StructType = StructType(Seq(
    StructField("stop_id", StringType),
    StructField("stop_name", StringType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("location_type", StringType),
    StructField("parent_station", StringType),
    StructField("platform_code", StringType),
    StructField("zone_id", StringType),
    StructField("feed_version", StringType)))

  /** gtfs_routes ≙ common.py:106-113 */
  val gtfsRoutes: StructType = StructType(Seq(
    StructField("route_id", StringType),
    StructField("route_short_name", StringType),
    StructField("route_long_name", StringType),
    StructField("route_type", StringType),
    StructField("agency_id", StringType),
    StructField("operator_name", StringType),
    StructField("feed_version", StringType)))

  /** gtfs_trips ≙ common.py:114-121 */
  val gtfsTrips: StructType = StructType(Seq(
    StructField("trip_id", StringType),
    StructField("route_id", StringType),
    StructField("service_id", StringType),
    StructField("direction_id", StringType),
    StructField("trip_headsign", StringType),
    StructField("feed_version", StringType)))

  /** gtfs_stop_times ≙ common.py:122-130 — planned times stay TEXT because
    * GTFS allows hour overflow ("25:10:00").
    */
  val gtfsStopTimes: StructType = StructType(Seq(
    StructField("trip_id", StringType),
    StructField("stop_sequence", IntegerType),
    StructField("stop_id", StringType),
    StructField("arrival_time_planned", StringType),
    StructField("departure_time_planned", StringType),
    StructField("feed_version", StringType)))

  /** ist_events ≙ common.py:133-151 */
  val istEvents: StructType = StructType(Seq(
    StructField("service_date", DateType),
    StructField("fahrt_bezeichner", StringType),
    StructField("operator_abbr", StringType),
    StructField("product_id", StringType),
    StructField("line_text", StringType),
    StructField("stop_name", StringType),
    StructField("stop_code", StringType),
    StructField("arrival_time_sched", TimestampType),
    StructField("arrival_time_est", TimestampType),
    StructField("arrival_status", StringType),
    StructField("depart_time_sched", TimestampType),
    StructField("depart_time_est", TimestampType),
    StructField("depart_status", StringType),
    StructField("is_pass_through", BooleanType),
    StructField("is_additional", BooleanType),
    StructField("is_cancelled", BooleanType)))

  /** weather_obs ≙ common.py:157-171 — 10-minute grid, PK (station_id, ts_utc). */
  val weatherObs: StructType = StructType(Seq(
    StructField("station_id", StringType),
    StructField("ts_utc", TimestampType),
    StructField("temp_c", DoubleType),
    StructField("rain_mm", DoubleType),
    StructField("wind_ms", DoubleType),
    StructField("gust_ms", DoubleType),
    StructField("wind_dir_deg", DoubleType),
    StructField("rel_humidity", DoubleType),
    StructField("pressure_hpa", DoubleType),
    StructField("global_rad_wm2", DoubleType),
    StructField("sunshine_min", DoubleType),
    StructField("dewpoint_c", DoubleType)))

  /** IstDaten raw→normalized column map ≙ 02:45-62 (German → English). */
  val istdatenRenames: Seq[(String, String)] = Seq(
    "BETRIEBSTAG" -> "service_date",
    "FAHRT_BEZEICHNER" -> "fahrt_bezeichner",
    "BETREIBER_ABK" -> "operator_abbr",
    "PRODUKT_ID" -> "product_id",
    "LINIEN_TEXT" -> "line_text",
    "HALTESTELLEN_NAME" -> "stop_name",
    "BPUIC" -> "stop_code",
    "ANKUNFTSZEIT" -> "arrival_time_sched",
    "AN_PROGNOSE" -> "arrival_time_est",
    "AN_PROGNOSE_STATUS" -> "arrival_status",
    "ABFAHRTSZEIT" -> "depart_time_sched",
    "AB_PROGNOSE" -> "depart_time_est",
    "AB_PROGNOSE_STATUS" -> "depart_status",
    "DURCHFAHRT_TF" -> "is_pass_through",
    "ZUSATZFAHRT_TF" -> "is_additional",
    "FAELLT_AUS_TF" -> "is_cancelled")

  /** Without these the operator filter or the dedupe key empties or
    * mis-keys the output, so they fail the read instead of reading as NULL.
    */
  val istdatenRequired: Seq[String] =
    Seq("BETRIEBSTAG", "FAHRT_BEZEICHNER", "BETREIBER_ABK", "BPUIC")

  /** MeteoSwiss parameter-code → measure name map ≙ 03:36-49. */
  val weatherRenames: Seq[(String, String)] = Seq(
    "station_abbr" -> "station_id",
    "reference_timestamp" -> "ts_utc",
    "tre200s0" -> "temp_c",
    "rre150z0" -> "rain_mm",
    "fu3010z0" -> "wind_kmh",
    "fu3010z1" -> "gust_kmh",
    "dkl010z0" -> "wind_dir_deg",
    "ure200s0" -> "rel_humidity",
    "prestas0" -> "pressure_hpa",
    "gre000z0" -> "global_rad_wm2",
    "sre000z0" -> "sunshine_min",
    "tde200s0" -> "dewpoint_c")

  /** The (station, timestamp) key: as NULL it would mis-key every row or
    * drop it (F5), so a file without it fails the read instead. */
  val weatherRequired: Seq[String] = Seq("station_abbr", "reference_timestamp")

  private def same(names: String*): Seq[(String, String)] = names.map(n => n -> n)

  /** GTFS member → raw→silver column map ≙ 01_ingest_gtfs.py. */
  val gtfsRenames: Map[String, Seq[(String, String)]] = Map(
    "feed_info.txt" -> same("feed_version"),
    "agency.txt" -> same("agency_id", "agency_name"),
    "routes.txt" -> same("route_id", "route_short_name", "route_long_name", "route_type",
      "agency_id"),
    "trips.txt" -> same("trip_id", "route_id", "service_id", "direction_id", "trip_headsign"),
    "stop_times.txt" -> (same("trip_id", "stop_sequence", "stop_id") ++ Seq(
      "arrival_time" -> "arrival_time_planned", "departure_time" -> "departure_time_planned")),
    "stops.txt" -> (same("stop_id", "stop_name") ++ Seq("stop_lat" -> "lat", "stop_lon" -> "lon") ++
      same("location_type", "parent_station", "platform_code", "zone_id")))

  /** GTFS member → required raw columns (P1); `feed_info.txt` has none. */
  val gtfsRequired: Map[String, Seq[String]] = Map(
    "feed_info.txt" -> Nil,
    "agency.txt" -> Seq("agency_id", "agency_name"),
    "routes.txt" -> Seq("route_id", "route_type"),
    "trips.txt" -> Seq("trip_id", "route_id", "service_id"),
    "stop_times.txt" -> Seq("trip_id", "stop_sequence", "stop_id", "arrival_time", "departure_time"),
    "stops.txt" -> Seq("stop_id", "stop_name", "stop_lat", "stop_lon"))
}
