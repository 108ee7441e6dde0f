package graft.tpg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Macros
import graft.operators.Dedupe

/** IstDaten (realized-trip) ingest ≙ reference `src/02_ingest_istdaten.py`.
  *
  * Semicolon CSV (S4) → DE→EN renames (P2) → TPG + Bus/Tram filters (F3/F4,
  * kept at ingest because they change *stored contents*) → status default +
  * robust boolean casts (F7/C10) → day-first timestamp parse (C9) → the
  * 5-component priority dedupe (W3) → month-partitioned write (S10).
  *
  * Scale: the dedupe is the only shuffle — hash-partitioned on the business
  * key. Month partitioning makes re-ingest of a month an idempotent dynamic
  * partition overwrite, replacing the reference's per-month
  * DELETE+INSERT+COMMIT loop with no transaction machinery at all.
  */
object IstdatenIngest {

  /** S2: archive members that count as IstDaten CSVs (reference
    * `02:113-179` enumerates `*istdaten*.csv` case-insensitively, with a
    * fallback to any CSV member when the pattern matches nothing).
    */
  private val istdatenMember = "(?i).*istdaten.*\\.csv$".r
  def istdatenCsvMembers(zipPath: String): Seq[String] = {
    val csvs = Archives.listMembers(zipPath).filter(_.toLowerCase.endsWith(".csv"))
    val matching = csvs.filter(m => istdatenMember.pattern.matcher(m).matches)
    if (matching.nonEmpty) matching else csvs
  }

  /** S2/S3/S4: accept plain CSV paths and/or ZIP archives. Archives have
    * their IstDaten members extracted on the driver (commons-compress,
    * Deflate64-capable — the published opentransportdata ZIPs need it); each
    * resulting file is charset-probed and read with UTF-8 or ISO-8859-1
    * accordingly — the per-file retry semantics of the reference
    * (`02:184-207`), established up front because Spark's reader substitutes
    * U+FFFD instead of throwing. The extraction is driver-side but the data
    * volume lives in the CSV scans, which stay fully distributed.
    */
  def readRaw(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val csvPaths = paths.flatMap { p =>
      if (p.toLowerCase.endsWith(".zip"))
        Archives.extractMembers(p, istdatenCsvMembers(p).toSet.contains).map(_._2)
      else Seq(p)
    }
    require(csvPaths.nonEmpty, "no IstDaten CSV inputs found")
    val (utf8, latin1) = csvPaths.partition(Archives.isValidUtf8(_))
    def read(encoding: String, ps: Seq[String]) = spark.read
      .option("header", "true")
      .option("sep", ";")
      .option("encoding", encoding)
      .csv(ps: _*)
    Seq("UTF-8" -> utf8, "ISO-8859-1" -> latin1)
      .collect { case (enc, ps) if ps.nonEmpty => read(enc, ps) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** C9: day-first timestamp, seconds optional (`dd.MM.yyyy HH:mm[:ss]`).
    * Public so the catalog can put the exact production parse under the
    * DuckDB hash gate (q173) — unparseable strings yield NULL, never error.
    * Reference: `src/02_ingest_istdaten.py:221-233`.
    */
  def parseTs(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(
      try_to_timestamp(c, lit("dd.MM.yyyy HH:mm:ss")),
      try_to_timestamp(c, lit("dd.MM.yyyy HH:mm")))

  /** Normalize raw IstDaten to the ist_events schema (pre-dedupe). */
  def normalize(raw: DataFrame, operatorAbbr: String = "TPG"): DataFrame = {
    val present = raw.columns.toSet
    val selected = Schemas.istdatenRenames.map { case (from, to) =>
      (if (present.contains(from)) col(from) else lit(null).cast("string")).as(to)
    }
    raw.select(selected: _*)
      // F3 + F4: operator and product filters (stored-content semantics)
      .filter(col("operator_abbr") === operatorAbbr)
      .filter(col("product_id").isin("Bus", "Tram") || col("product_id").isNull)
      .withColumn("service_date", coalesce(
        try_to_timestamp(col("service_date"), lit("dd.MM.yyyy")),
        try_to_timestamp(col("service_date"), lit("yyyy-MM-dd"))).cast("date"))
      .withColumn("arrival_time_sched", parseTs(col("arrival_time_sched")))
      .withColumn("arrival_time_est", parseTs(col("arrival_time_est")))
      .withColumn("depart_time_sched", parseTs(col("depart_time_sched")))
      .withColumn("depart_time_est", parseTs(col("depart_time_est")))
      // F7: empty status → PROGNOSE
      .withColumn("arrival_status",
        when(col("arrival_status").isNull || trim(col("arrival_status")) === "", "PROGNOSE")
          .otherwise(col("arrival_status")))
      .withColumn("depart_status",
        when(col("depart_status").isNull || trim(col("depart_status")) === "", "PROGNOSE")
          .otherwise(col("depart_status")))
      // C10: robust booleans (NA → false)
      .withColumn("is_pass_through", Macros.robustBool(col("is_pass_through")))
      .withColumn("is_additional", Macros.robustBool(col("is_additional")))
      .withColumn("is_cancelled", Macros.robustBool(col("is_cancelled")))
  }

  /** W3: the reference's 5-component priority dedupe (`02:263-325`):
    * per business key (service_date, fahrt_bezeichner, stop_code,
    * coalesce(arrival_sched, depart_sched)) keep the row with
    *   1. highest status rank (REAL/IST > GESCHAETZT > PROGNOSE > other)
    *   2. has an estimated time
    *   3. not cancelled
    *   4. not pass-through
    *   5. latest estimated time
    * plus a deterministic final tiebreak (the reference relied on pandas
    * stable sort order; we pin line_text+stop_name to make runs reproducible
    * on any cluster — divergence documented in SURVEY §7 risk 1).
    */
  def dedupe(df: DataFrame): DataFrame = {
    val statRank = greatest(
      Macros.statusRank(col("arrival_status")),
      Macros.statusRank(col("depart_status")))
    val hasEst = col("arrival_time_est").isNotNull || col("depart_time_est").isNotNull
    // Reference dedupe's est_ts is arrival.combine_first(depart) — arrival
    // FIRST (unlike the features build, which coalesces depart first).
    val estTs = coalesce(col("arrival_time_est"), col("depart_time_est"))
    Dedupe.topOnePerKey(
      df.distinct(), // O6: exact duplicates first, as the reference does
      keys = Seq(
        col("service_date"), col("fahrt_bezeichner"), col("stop_code"),
        coalesce(col("arrival_time_sched"), col("depart_time_sched"))),
      priority = Seq(
        statRank.desc,
        hasEst.cast("int").desc,
        (!col("is_cancelled")).cast("int").desc,
        (!col("is_pass_through")).cast("int").desc,
        estTs.desc_nulls_last,
        col("line_text").asc_nulls_last,
        col("stop_name").asc_nulls_last))
  }

  def ingest(spark: SparkSession, paths: Seq[String]): DataFrame =
    dedupe(normalize(readRaw(spark, paths)))

  /** S10: month-partitioned idempotent sink. Dynamic overwrite is set on
    * the write, so re-ingesting a month replaces only that month in any
    * session. */
  def write(df: DataFrame, path: String): Unit =
    df.withColumn("ym", Macros.monthKey(col("service_date")))
      .write
      .partitionBy("ym")
      .option("compression", "zstd")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
}
