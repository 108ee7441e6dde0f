package graft.tpg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.functions.Macros
import graft.operators.Asof

/** Event-level feature build ≙ reference `src/10_build_features.py` (the
  * flagship analytical query): filtered ist_events → coalesced times +
  * bias flags → delay seconds/minutes → 10-minute bin → weather join
  * (strict equi-bin by default, AS-OF with 5-minute staleness behind a
  * flag) → gold projection + QC aggregate.
  *
  * The reference resolves its weather-station strategy by string-templating
  * SQL (`10:149-178`); here strategy is plain Scala building `Column`s —
  * same semantics, no templating, fully analyzable by Catalyst.
  */
object FeaturesEvents {

  /** Station resolution ≙ 10:83-147: explicit id > mapping table > dominant
    * station (most observations).
    */
  sealed trait StationStrategy
  case class ExplicitStation(id: String) extends StationStrategy
  case class MappingTable(mapping: DataFrame) extends StationStrategy
  case object DominantStation extends StationStrategy

  /** The station with the most observations, the smallest id on a tie. An
    * empty weather table has none: that is an `IllegalArgumentException`,
    * not a guess. */
  def dominantStation(weather: DataFrame): String =
    weather.groupBy(col("station_id")).count()
      .orderBy(desc("count"), col("station_id"))
      .limit(1).collect().headOption.map(_.getString(0)).getOrElse(
        throw new IllegalArgumentException("the weather table has no rows, so it has no " +
          "dominant station; name the station explicitly with --station-id <id> " +
          "(FeaturesEvents.ExplicitStation)"))

  /** C7: departure time first, arrival time when it is missing — the
    * `sched_ts` and `est_ts` of the feature build and the serving layer. */
  val schedTs: Column = coalesce(col("depart_time_sched"), col("arrival_time_sched"))
  val estTs: Column = coalesce(col("depart_time_est"), col("arrival_time_est"))

  /** C5: `delay_sec` = `est_ts − sched_ts` in whole seconds; `delay_min`
    * is it in fractional minutes (reference `10:244`: CAST(delay_sec AS
    * DOUBLE)/60.0, NOT the minute-boundary-crossing date_diff macro, which
    * is Macros.delayMinutes, used where the reference calls it). */
  val delaySec: Column = Macros.delaySeconds(col("est_ts"), col("sched_ts"))
  val delayMin: Column = col("delay_sec").cast(DoubleType) / 60.0

  /** The enrichment stage (base filters + C7 coalesce/flags + C5 delays +
    * C6 bin). Exposed separately for testing.
    */
  def enrich(events: DataFrame): DataFrame =
    IstdatenIngest.tpgBusTram(events)
      .filter(col("arrival_time_sched").isNotNull || col("depart_time_sched").isNotNull)
      .withColumn("sched_ts", schedTs)
      .withColumn("est_ts", estTs)
      .withColumn("used_arrival_sched",
        col("depart_time_sched").isNull && col("arrival_time_sched").isNotNull)
      .withColumn("used_arrival_est",
        col("depart_time_est").isNull && col("arrival_time_est").isNotNull)
      .withColumn("delay_sec", delaySec)
      .withColumn("delay_min", delayMin)
      .withColumn("sched_bin", Macros.floorBin10(col("sched_ts")))

  /** Attach the resolved station key to the event side: the mapping strategy
    * already carries `station_id` from the J3 mapping join; explicit/dominant
    * pin it as a literal. Every downstream weather join keys on it, so with
    * multi-station weather each event only ever matches its own station's
    * observations (reference `10:149-178`'s `AND w.station_id = sm.station_id`).
    */
  private def withStationKey(enriched: DataFrame, stationId: Option[String]): DataFrame =
    stationId.map(id => enriched.withColumn("station_id", lit(id))).getOrElse(enriched)

  /** J4: strict equi-join on (station, 10-minute bin). Weather is ~52k rows/
    * station/year → broadcast; zero shuffle of the event table.
    */
  def strictWeatherJoin(enriched: DataFrame, weather: DataFrame, stationId: Option[String]): DataFrame = {
    val w = stationId.map(id => weather.filter(col("station_id") === id)).getOrElse(weather)
      // project to the weather payload only — inputs read from partitioned
      // silver carry bookkeeping columns (ym) that must not leak into gold
      .select((Seq(col("station_id").as("weather_station_id"), col("ts_utc")) ++
        WeatherIngest.measures.map(col)): _*)
    val ev = withStationKey(enriched, stationId)
    ev.join(broadcast(w),
      ev("sched_bin") === w("ts_utc") && ev("station_id") === w("weather_station_id"),
      "left")
  }

  /** J5: AS-OF weather join — latest observation at or before the bin,
    * stale (>5 min) or missing → weather columns NULL (reference F6 deletes
    * those rows; we keep the row and null the weather, callers filter).
    *
    * Scale: keyed by (station_id, day bucket) via [[Asof.joinBucketed]] —
    * exact (staleness ≤ bucket), and the union+window shuffle stays hash-
    * partitioned however few stations there are; no single-task sort.
    */
  def asofWeatherJoin(enriched: DataFrame, weather: DataFrame,
      stationId: Option[String]): DataFrame = {
    val w = stationId.map(id => weather.filter(col("station_id") === id)).getOrElse(weather)
    val payload = WeatherIngest.measures.map(m => m -> m).toMap
    Asof.joinBucketed(
      withStationKey(enriched, stationId), w,
      keys = Seq("station_id"),
      leftTime = "sched_bin", rightTime = "ts_utc",
      payloadCols = payload,
      rightTieBreak = "ts_utc",
      toleranceUs = 300000000L // F6: a fixed 5 minutes
    ).withColumnRenamed("asof_ts", "weather_ts")
      .withColumn("weather_station_id",
        when(col("weather_ts").isNotNull, col("station_id")))
  }

  /** Full build. `asof=false` reproduces the reference default. */
  def build(events: DataFrame, weather: DataFrame,
      strategy: StationStrategy = DominantStation, asof: Boolean = false): DataFrame = {
    val enriched0 = enrich(events)
    val (enriched, stationId) = strategy match {
      case ExplicitStation(id) => (enriched0, Some(id))
      case DominantStation     => (enriched0, Some(dominantStation(weather)))
      case MappingTable(m) =>
        // J3: optional tiny mapping dim — broadcast left join
        (enriched0.join(broadcast(m), Seq("stop_code"), "left"), None)
    }
    if (asof) asofWeatherJoin(enriched, weather, stationId)
    else strictWeatherJoin(enriched, weather, stationId)
  }

  /** A5: QC aggregate ≙ 10:266-282. */
  def qc(features: DataFrame): DataFrame =
    features.agg(
      count(lit(1)).as("n_rows"),
      sum(col("used_arrival_sched").cast(IntegerType)).as("n_used_arrival_sched"),
      sum(col("used_arrival_est").cast(IntegerType)).as("n_used_arrival_est"),
      sum(when(col("delay_sec").isNull, 1).otherwise(0)).as("n_unusable"),
      sum(when(col("temp_c").isNotNull, 1).otherwise(0)).as("n_with_weather"))

  /** S8: gold ZSTD parquet export. */
  def write(df: DataFrame, path: String): Unit =
    df.write.option("compression", "zstd").mode("overwrite").parquet(path)
}
