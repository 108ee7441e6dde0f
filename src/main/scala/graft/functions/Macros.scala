package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, TimestampType}

/** Scalar function library — the engine's equivalent of the reference's
  * DuckDB macros and inline SQL expressions (reference: `src/common.py:200-257`,
  * `src/10_build_features.py:200-232`, `src/02_ingest_istdaten.py:210-268`).
  *
  * Every function here is a pure `Column => Column` built from
  * `org.apache.spark.sql.functions` and the engine's kernels (case mapping
  * is [[TextExprs.lower]]/[[TextExprs.upper]], Spark's `lower`/`upper` bit
  * for bit) — fully Catalyst-optimizable, codegen'd, zero UDFs. These
  * compose into whole-stage codegen spans, so at 100 TB they run at
  * vectorized-scan speed with no serialization boundary.
  */
object Macros {

  /** Epoch seconds of a timestamp, tolerant of TIMESTAMP_NTZ inputs (parquet
    * `isAdjustedToUTC=false`): NTZ values are interpreted in the session
    * time zone (always UTC for this engine), matching how DuckDB treats its
    * naive TIMESTAMPs. A direct cast to LONG on NTZ is illegal in Spark 4.
    */
  def epochSeconds(c: Column): Column = c.cast(TimestampType).cast(LongType)

  /** Minute difference with DuckDB `date_diff('minute', sched, est)` semantics:
    * counts minute-*boundary crossings*, not elapsed-time/60. NULL-safe
    * (NULL in → NULL out). Reference: `common.py:208-218`.
    */
  def delayMinutes(est: Column, sched: Column): Column =
    (floor(epochSeconds(est) / 60) - floor(epochSeconds(sched) / 60)).cast(DoubleType)

  /** Exact second difference (epoch diff). Reference: `10:210-224`. */
  def delaySeconds(est: Column, sched: Column): Column =
    (epochSeconds(est) - epochSeconds(sched))

  /** Rain intensity bin. Boundaries 0 / 0.5 / 2 / 5 mm. Reference: `common.py:221-232`.
    * Exactly `mm = 0` → no_rain (a negative sensor reading bins as 'drizzle',
    * matching the reference macro's WHEN chain).
    */
  def rainBin(mm: Column): Column =
    when(mm.isNull, lit(null).cast(StringType))
      .when(mm === 0.0, "no_rain")
      .when(mm < 0.5, "drizzle")
      .when(mm < 2.0, "light")
      .when(mm < 5.0, "moderate")
      .otherwise("heavy")

  /** Wind speed bin (m/s). Boundaries 4 / 8 / 14 / 21. Reference: `common.py:233-244`. */
  def windBin(ms: Column): Column =
    when(ms.isNull, lit(null).cast(StringType))
      .when(ms < 4.0, "calm")
      .when(ms < 8.0, "breeze")
      .when(ms < 14.0, "moderate")
      .when(ms < 21.0, "fresh")
      .otherwise("strong")

  /** Temperature bin (°C). Boundaries 0 / 10 / 20 / 30. Reference: `common.py:245-256`. */
  def tempBin(c: Column): Column =
    when(c.isNull, lit(null).cast(StringType))
      .when(c < 0.0, "<0")
      .when(c < 10.0, "0-10")
      .when(c < 20.0, "10-20")
      .when(c < 30.0, "20-30")
      .otherwise(">=30")

  /** Floor a timestamp onto an `binSeconds`-second grid, returned as a timestamp.
    * Reference 10-minute bin: `10:226-232`. Pure arithmetic — stays in codegen,
    * unlike a join against a calendar table.
    */
  def floorBin(ts: Column, binSeconds: Long): Column =
    timestamp_seconds(floor(epochSeconds(ts) / binSeconds) * binSeconds)

  /** 10-minute bin (the reference's grid). */
  def floorBin10(ts: Column): Column = floorBin(ts, 600L)

  /** Bin start as epoch seconds (BIGINT) — join/compare-friendly form. */
  def floorBinEpoch(ts: Column, binSeconds: Long): Column =
    (floor(epochSeconds(ts) / binSeconds) * binSeconds).cast(LongType)

  /** Robust boolean: trim+lower, then '1'/'true' → true, anything else
    * (incl. NULL) → false. Reference: `02:210-220`.
    */
  def robustBool(c: Column): Column =
    coalesce(TextExprs.lower(trim(c)).isin("1", "true"), lit(false))

  /** IstDaten status priority: REAL/IST → 3, GESCHAETZT → 2, PROGNOSE → 1,
    * other/NULL → 0. Reference: `02:263-268`.
    */
  def statusRank(c: Column): Column = {
    val u = TextExprs.upper(trim(c))
    when(u.isin("REAL", "IST"), 3)
      .when(u === "GESCHAETZT", 2)
      .when(u === "PROGNOSE", 1)
      .otherwise(0)
  }

  /** km/h → m/s. Reference: `03:149-156`. */
  def kmhToMs(kmh: Column): Column = kmh * (1000.0 / 3600.0)

  /** 'yyyy-MM' month key from a date/timestamp. Reference: `02:443,483`. */
  def monthKey(c: Column): Column = date_format(c, "yyyy-MM")

  /** ISO day of week (Mon=1 … Sun=7). Reference dashboards use pandas
    * Mon=0 (`app2:96-102`); we standardize on ISO. Spark `weekday` is Mon=0.
    */
  def isoDow(ts: Column): Column = weekday(ts) + 1

  /** Cyclic hour encodings. Reference DDL: `common.py:190`. */
  def sinHour(h: Column): Column = sin(h * (2.0 * math.Pi / 24.0))
  def cosHour(h: Column): Column = cos(h * (2.0 * math.Pi / 24.0))

  /** Composite key `a·b` (reference `stop_key`, `11:108`). */
  def dotKey(cols: Column*): Column = concat_ws("·", cols: _*)

  /** Null-tolerant numeric coercion (reference `pd.to_numeric(errors='coerce')`,
    * `03:147`): invalid strings → NULL, not error.
    */
  def toDoubleOrNull(c: Column): Column = c.try_cast(DoubleType)
}
