package graft

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlShims
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.tpg._

/** End-to-end ingest tests on hand-built TPG-shaped fixtures (FIXTURES.md). */
class TpgPipelineSpec extends SparkSpec {

  private def writeTemp(name: String, content: String): String = {
    val f = File.createTempFile(name, ".csv")
    f.deleteOnExit()
    Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  /** A ZIP of (member, bytes) pairs, in order. */
  private def zipOf(members: (String, Array[Byte])*): String = {
    val zip = File.createTempFile("feed", ".zip")
    zip.deleteOnExit()
    val zos = new ZipOutputStream(new FileOutputStream(zip))
    for ((name, bytes) <- members) {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    zip.getAbsolutePath
  }

  /** The charset [[Archives.probe]] reads `path` in. */
  private def charset(path: String, probeBytes: Int = 4 << 20): String =
    Archives.probe(path, Map.empty, caseSensitive = false, probeBytes)._1

  private def utf8(members: (String, String)*): Seq[(String, Array[Byte])] =
    members.map { case (n, c) => n -> c.getBytes("UTF-8") }

  /** The first half of `zipPath`'s bytes: the central directory is gone. */
  private def truncated(zipPath: String): String = {
    val bytes = Files.readAllBytes(new File(zipPath).toPath)
    val f = File.createTempFile("truncated", ".zip")
    f.deleteOnExit()
    Files.write(f.toPath, bytes.take(bytes.length / 2))
    f.getAbsolutePath
  }

  private val weatherHeader = "station_abbr;reference_timestamp;tre200s0;rre150z0;fu3010z0;" +
    "fu3010z1;dkl010z0;ure200s0;prestas0;gre000z0;sre000z0;tde200s0"

  /** A two-operator GTFS feed: TPG route r12 (trip t1, stops s1, s2) and an
    * SBB route the operator filter and semi-join cascade prune away. */
  private def gtfsFeed(stops: String = "stop_id,stop_name,stop_lat,stop_lon\n" +
      "s1,Bel-Air,46.204,6.141\ns2,Stand,46.205,6.142\ns9,Bern,46.949,7.439\nsX,Orphan,0,0\n")
      : Seq[(String, String)] = Seq(
    "feed_info.txt" -> "feed_publisher_name,feed_version\nopendata,2024-06\n",
    "agency.txt" -> "agency_id,agency_name\n881,Transports Publics Genevois\n11,SBB\n",
    "routes.txt" -> ("route_id,agency_id,route_short_name,route_long_name,route_type\n" +
      "r12,881,12,Bel-Air - Moillesulaz,0\nrIC,11,IC1,Intercity,2\n"),
    "trips.txt" -> "route_id,service_id,trip_id\nr12,wk,t1\nrIC,wk,t9\n",
    "stop_times.txt" -> ("trip_id,arrival_time,departure_time,stop_id,stop_sequence\n" +
      "t1,10:00:00,10:01:00,s1,1\nt1,25:10:00,25:11:00,s2,2\nt9,09:00:00,09:01:00,s9,1\n"),
    "stops.txt" -> stops)

  test("weather ingest: rename, '-' as NA, kmh→ms, median dedupe, bad rows dropped") {
    val csv =
      """station_abbr;reference_timestamp;tre200s0;rre150z0;fu3010z0;fu3010z1;dkl010z0;ure200s0;prestas0;gre000z0;sre000z0;tde200s0
        |GVE;01.06.2024 10:00;20.0;0.0;10.8;18.0;180;55;1013.2;350;10;12.0
        |GVE;01.06.2024 10:00;22.0;0.4;14.4;21.6;200;57;1013.0;340;10;12.4
        |GVE;01.06.2024 10:00;21.0;-;12.6;-;190;56;-;345;10;12.2
        |GVE;01.06.2024 10:10;19.5;1.2;7.2;10.8;170;60;1012.8;300;8;11.8
        |BER;01.06.2024 10:00;18.0;0.0;3.6;7.2;90;70;1010.0;200;5;10.0
        |GVE;not a timestamp;1;2;3;4;5;6;7;8;9;10""".stripMargin
    val got = WeatherIngest.ingest(spark, Seq(writeTemp("weather", csv)))
      .orderBy("station_id", "ts_utc").collect()
    assert(got.length == 3) // bad-ts row dropped, GVE 10:00 triple collapsed
    val gve = got(1) // BER first, then GVE 10:00
    assert(gve.getString(0) == "GVE")
    assert(gve.getAs[Double]("temp_c") == 21.0)   // median(20,22,21)
    assert(gve.getAs[Double]("rain_mm") == 0.2)   // median(0,0.4) NULL skipped
    assert(gve.getAs[Double]("wind_ms") == 3.5)   // median(3,4,3.5) after kmh→ms
    assert(gve.getAs[Double]("gust_ms") == 5.5)   // median(5,6)
  }

  test("istdaten ingest: filters, status default, booleans, priority dedupe") {
    val csv =
      """BETRIEBSTAG;FAHRT_BEZEICHNER;BETREIBER_ABK;PRODUKT_ID;LINIEN_TEXT;HALTESTELLEN_NAME;BPUIC;ANKUNFTSZEIT;AN_PROGNOSE;AN_PROGNOSE_STATUS;ABFAHRTSZEIT;AB_PROGNOSE;AB_PROGNOSE_STATUS;DURCHFAHRT_TF;ZUSATZFAHRT_TF;FAELLT_AUS_TF
        |01.06.2024;85:889:1;TPG;Bus;12;Bel-Air;8587057;01.06.2024 10:00:00;01.06.2024 10:02:00;REAL;01.06.2024 10:01:00;01.06.2024 10:03:00;REAL;0;0;0
        |01.06.2024;85:889:1;TPG;Bus;12;Bel-Air;8587057;01.06.2024 10:00:00;01.06.2024 10:02:00;REAL;01.06.2024 10:01:00;01.06.2024 10:03:00;REAL;0;0;0
        |01.06.2024;85:889:1;TPG;Bus;12;Bel-Air;8587057;01.06.2024 10:00:00;01.06.2024 10:01:30;GESCHAETZT;01.06.2024 10:01:00;01.06.2024 10:04:00;GESCHAETZT;0;0;0
        |01.06.2024;85:889:1;TPG;Bus;12;Bel-Air;8587057;01.06.2024 10:00:00;;;01.06.2024 10:01:00;;;0;0;0
        |01.06.2024;85:889:2;TPG;Tram;14;Stand;8587058;01.06.2024 11:00:00;01.06.2024 11:00:30;PROGNOSE;;;;1;0;true
        |01.06.2024;85:889:3;SBB;Zug;IC1;Gare;8501008;01.06.2024 12:00:00;;REAL;;;;0;0;0
        |01.06.2024;85:889:4;TPG;Zahnradbahn;Z1;Funi;8587059;01.06.2024 13:00:00;;REAL;;;;0;0;0""".stripMargin
    val got = IstdatenIngest.ingest(spark, Seq(writeTemp("ist", csv)))
      .orderBy("fahrt_bezeichner").collect()
    // SBB row (F3) and Zahnradbahn row (F4) filtered; key 85:889:1 deduped to
    // the REAL row (status rank beats GESCHAETZT despite later est)
    assert(got.length == 2)
    val r1 = got(0)
    assert(r1.getAs[String]("arrival_status") == "REAL")
    assert(r1.getAs[java.sql.Timestamp]("depart_time_est").toString == "2024-06-01 10:03:00.0")
    val r2 = got(1)
    assert(r2.getAs[String]("depart_status") == "PROGNOSE") // empty → default
    assert(r2.getAs[Boolean]("is_pass_through"))            // "1" → true
    assert(r2.getAs[Boolean]("is_cancelled"))                // "true" → true
    assert(!r2.getAs[Boolean]("is_additional"))              // "0" → false
  }

  private val istHeader =
    "BETRIEBSTAG;FAHRT_BEZEICHNER;BETREIBER_ABK;PRODUKT_ID;LINIEN_TEXT;HALTESTELLEN_NAME;BPUIC;" +
      "ANKUNFTSZEIT;AN_PROGNOSE;AN_PROGNOSE_STATUS;ABFAHRTSZEIT;AB_PROGNOSE;AB_PROGNOSE_STATUS;" +
      "DURCHFAHRT_TF;ZUSATZFAHRT_TF;FAELLT_AUS_TF"

  private def istRow(fahrt: String, stop: String) =
    s"01.06.2024;$fahrt;TPG;Bus;12;$stop;8587057;01.06.2024 10:00:00;01.06.2024 10:02:00;REAL;" +
      "01.06.2024 10:01:00;01.06.2024 10:03:00;REAL;0;0;0"

  test("istdaten ZIP ingest: regex member listing, byte-stream extraction") {
    val zip = zipOf(utf8(
      "readme.txt" -> "not a csv",
      "2024-06-01_IstDaten.csv" -> (istHeader + "\n" + istRow("85:889:1", "Bel-Air") + "\n"),
      "notes.csv" -> "a;b\n1;2\n", // CSV but not an IstDaten member → excluded
      "subdir/2024-06-02_istdaten.csv" ->
        (istHeader + "\n" + istRow("85:889:2", "Stand") + "\n")): _*)

    assert(Archives.extractMembers(zip, IstdatenIngest.istdatenCsvMembers).map(_._1).toSet ==
      Set("2024-06-01_IstDaten.csv", "subdir/2024-06-02_istdaten.csv"))
    val got = IstdatenIngest.ingest(spark, Seq(zip))
      .orderBy("fahrt_bezeichner").collect()
    assert(got.length == 2)
    assert(got.map(_.getAs[String]("stop_name")).sameElements(Array("Bel-Air", "Stand")))
  }

  test("encoding fallback: a Latin-1 file's accents survive next to UTF-8 files") {
    // same content, two encodings: the probe must route each file to the
    // right charset so 'Genève'/'Châtelaine' survive byte-identically
    val utf8Csv = istHeader + "\n" + istRow("85:889:1", "Genève, Bel-Air") + "\n"
    val latin1Csv = istHeader + "\n" + istRow("85:889:2", "Châtelaine") + "\n"
    val utf8Path = writeTemp("ist_utf8", utf8Csv)
    val f = File.createTempFile("ist_latin1", ".csv")
    f.deleteOnExit()
    Files.write(f.toPath, latin1Csv.getBytes("ISO-8859-1"))

    assert(charset(utf8Path) == "UTF-8")
    assert(charset(f.getAbsolutePath) == "ISO-8859-1")
    val got = IstdatenIngest.ingest(spark, Seq(utf8Path, f.getAbsolutePath))
      .orderBy("fahrt_bezeichner").collect()
    assert(got.length == 2)
    assert(got(0).getAs[String]("stop_name") == "Genève, Bel-Air")
    assert(got(1).getAs[String]("stop_name") == "Châtelaine")
    // utf-8-sig (FIXTURES.md): the byte-order mark is not part of BETRIEBSTAG
    val bom = File.createTempFile("ist_bom", ".csv")
    bom.deleteOnExit()
    Files.write(bom.toPath, Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ utf8Csv.getBytes("UTF-8"))
    assert(IstdatenIngest.ingest(spark, Seq(bom.getAbsolutePath))
      .select("stop_name").collect().map(_.getString(0)).toSeq == Seq("Genève, Bel-Air"))

    // weather: one UTF-8 and one Latin-1 station file in one ingest call,
    // named one by one or by a glob
    val wRow = ";01.06.2024 10:00;20.0;0.0;10.8;18.0;180;55;1013.2;350;10;12.0\n"
    val wDir = Files.createTempDirectory("graft_weather_")
    val wUtf8 = Files.writeString(wDir.resolve("zrh.csv"), weatherHeader + "\nZÜRICH" + wRow)
    val wLatin1 = Files.write(wDir.resolve("gve.csv"),
      (weatherHeader + "\nGENÈVE" + wRow).getBytes("ISO-8859-1"))
    for (paths <- Seq(Seq(wUtf8.toString, wLatin1.toString), Seq(s"$wDir/*.csv"))) {
      val stations = WeatherIngest.ingest(spark, paths)
        .select("station_id").collect().map(_.getString(0)).toSet
      assert(stations == Set("ZÜRICH", "GENÈVE"), s"$paths: $stations")
    }

    // GTFS: a feed whose stops.txt alone is Latin-1
    val feed = gtfsFeed(stops = "stop_id,stop_name,stop_lat,stop_lon\n" +
      "s1,Châtelaine,46.204,6.141\ns2,Genève-Plage,46.205,6.142\n")
    val zip = zipOf(feed.map { case (n, c) =>
      n -> c.getBytes(if (n == "stops.txt") "ISO-8859-1" else "UTF-8") }: _*)
    val gtfsStops = GtfsIngest.ingest(spark, zip)._4.orderBy("stop_id").collect()
    assert(gtfsStops.map(_.getAs[String]("stop_name")).toSeq == Seq("Châtelaine", "Genève-Plage"))
  }

  test("istdaten day files whose columns come in another order, or lack an optional one, map by name") {
    // The reference reads each day file by its own header (pandas); one
    // header applied by position to every file would shift the other's values.
    val names = istHeader.split(';').toSeq
    def row(fahrt: String, stop: String) = names.zip(istRow(fahrt, stop).split(';')).toMap
    def day(name: String, cols: Seq[String], r: Map[String, String]) =
      writeTemp(name, cols.mkString(";") + "\n" + cols.map(r).mkString(";") + "\n")
    val day1 = day("ist_day1", names, row("85:889:1", "Bel-Air"))
    val day2 = day("ist_day2", names.reverse.filterNot(_ == "ZUSATZFAHRT_TF"),
      row("85:889:2", "Stand"))
    val got = IstdatenIngest.ingest(spark, Seq(day1, day2)).orderBy("fahrt_bezeichner").collect()
    assert(got.map(r => (r.getAs[String]("fahrt_bezeichner"), r.getAs[String]("stop_name"),
        r.getAs[String]("line_text"), r.getAs[String]("stop_code"))).toSeq ==
      Seq(("85:889:1", "Bel-Air", "12", "8587057"), ("85:889:2", "Stand", "12", "8587057")))
    for (r <- got)
      assert(r.getAs[java.sql.Timestamp]("depart_time_est").toString == "2024-06-01 10:03:00.0")
  }

  test("malformed raw input: a missing required column fails the read, naming it") {
    // a comma-delimited IstDaten file reads as one column under ';'
    val commas = writeTemp("ist_commas",
      istHeader.replace(';', ',') + "\n" + istRow("85:889:1", "Bel-Air").replace(';', ',') + "\n")
    val ist = intercept[IllegalArgumentException](IstdatenIngest.ingest(spark, Seq(commas)))
    for (c <- Seq("BETRIEBSTAG", "FAHRT_BEZEICHNER", "BETREIBER_ABK", "BPUIC"))
      assert(ist.getMessage.contains(c), ist.getMessage)
    // a weather file without its timestamp column
    val noTs = writeTemp("w_no_ts", "station_abbr;tre200s0\nGVE;20.0\n")
    val w = intercept[IllegalArgumentException](WeatherIngest.ingest(spark, Seq(noTs)))
    assert(w.getMessage.contains("reference_timestamp"), w.getMessage)
    assert(!w.getMessage.contains("station_abbr"), w.getMessage)
  }

  test("malformed raw input: truncated GTFS and IstDaten ZIPs throw") {
    val gtfs = truncated(zipOf(utf8(gtfsFeed(): _*): _*))
    intercept[java.io.IOException](GtfsIngest.ingest(spark, gtfs))
    val ist = truncated(zipOf(utf8(
      "2024-06-01_istdaten.csv" -> (istHeader + "\n" + istRow("85:889:1", "Bel-Air") + "\n")): _*))
    intercept[java.io.IOException](IstdatenIngest.ingest(spark, Seq(ist)))
  }

  test("utf8 probe: multi-byte char straddling the probe boundary is not invalid") {
    // 'é' = 0xC3 0xA9: place it so the probe window ends between its bytes —
    // a REPORT decoder must treat the truncated tail as underflow, not error.
    // The header line ends inside the window: the probe also reads it.
    val f = File.createTempFile("probe", ".csv")
    f.deleteOnExit()
    val bytes = ("h\n" + "a" * 13).getBytes("UTF-8") ++ "é".getBytes("UTF-8") ++
      "tail".getBytes("UTF-8")
    Files.write(f.toPath, bytes)
    assert(charset(f.getAbsolutePath, probeBytes = 16) == "UTF-8") // cuts é in half
    assert(charset(f.getAbsolutePath) == "UTF-8")                  // whole file valid
    // a genuinely malformed byte inside the window is still caught
    val bad = File.createTempFile("probe_bad", ".csv")
    bad.deleteOnExit()
    Files.write(bad.toPath, ("x" * 8).getBytes("UTF-8") ++ Array(0xE9.toByte) ++ "y".getBytes("UTF-8"))
    assert(charset(bad.getAbsolutePath) == "ISO-8859-1")
  }

  test("gtfs ingest: member extraction, operator filter, semi-join cascade") {
    val zip = zipOf(utf8(gtfsFeed(): _*): _*)
    val (routes, trips, stopTimes, stops) = GtfsIngest.ingest(spark, zip)
    assert(routes.collect().map(_.getString(0)).sameElements(Array("r12")))
    assert(trips.collect().map(_.getString(0)).sameElements(Array("t1")))
    val st = stopTimes.orderBy("stop_sequence").collect()
    assert(st.length == 2)
    assert(st(1).getAs[String]("arrival_time_planned") == "25:10:00") // GTFS >24h stays TEXT
    assert(stops.orderBy("stop_id").collect().map(_.getString(0)).sameElements(Array("s1", "s2")))
    assert(routes.collect()(0).getAs[String]("feed_version") == "2024-06")
  }

  test("E2E capstone: generated raw formats (GTFS zip + IstDaten + weather CSVs) " +
    "through the full chain to training rows") {
    // The chain at tiny SF (1 day × 1k events): the same generate() and
    // Pipeline.run the 600k-row smoke run uses, so the raw-formats→training-
    // rows path cannot silently break between the hand-run smokes. Every
    // gold table must land non-empty and the training rows must carry the
    // label and the ASOF weather features.
    val work = java.nio.file.Files.createTempDirectory("graft_e2e_").toString
    val gold = s"$work/gold"
    val (inputs, _) = tools.E2E.generate(work, days = 1, rowsPerDay = 1000)
    assert(inputs.istPaths.size == 1 && inputs.weatherPaths.size == 2)
    assert(Pipeline.run(spark, inputs, gold).size == 6)
    assert(new File(gold).list().toSet == Pipeline.tables.toSet)
    def count(t: String) = Pipeline.read(spark, gold, t).count()
    assert(count("ist_events") == 1000L)
    assert(count("features") == 1000L)
    assert(count("by_stop_line") > 0L && count("training_rows") > 0L)
    assert(tools.E2E.serve(spark, gold) > 0L)
    val tr = Pipeline.read(spark, gold, "training_rows")
    val cols = tr.columns.toSet
    for (c <- Seq("delay_sec", "temp_c", "rain_mm", "med_delay_7d_sec",
        "rain_mm_lag10", "target_late_ge2"))
      assert(cols.contains(c), s"training_rows missing $c: $cols")
    // ASOF join actually attached weather: at least one row carries a value
    assert(tr.filter(org.apache.spark.sql.functions.col("temp_c").isNotNull)
      .limit(1).count() == 1L)
    // every silver table lands with exactly its Schemas fields (ym aside)
    for ((table, schema) <- Seq("gtfs_routes" -> Schemas.gtfsRoutes,
        "gtfs_trips" -> Schemas.gtfsTrips, "gtfs_stop_times" -> Schemas.gtfsStopTimes,
        "gtfs_stops" -> Schemas.gtfsStops, "ist_events" -> Schemas.istEvents,
        "weather_obs" -> Schemas.weatherObs)) {
      val got = Pipeline.read(spark, gold, table).schema.filter(_.name != "ym")
      assert(got.map(f => f.name -> f.dataType) == schema.map(f => f.name -> f.dataType),
        s"$table: $got")
    }
    // rerun law: the chain run again over the same inputs rewrites the
    // same gold (training_rows' row_id follows file position)
    def goldDigests() = Pipeline.tables.map { t =>
      t -> digests(Pipeline.read(spark, gold, t).drop("row_id"),
        org.apache.spark.sql.functions.lit(t))(t)
    }.toMap
    val first = goldDigests()
    Pipeline.run(spark, inputs, gold)
    assert(goldDigests() == first)
  }

  /** `Fingerprint` digest (n_rows, xor60, sum32) of the rows of each
    * `group` value, over every column but `ym`. Doubles are hashed to ten
    * significant digits, so summation order cannot change a digest. */
  private def digests(df: org.apache.spark.sql.DataFrame,
      group: org.apache.spark.sql.Column): Map[String, (Long, Long, Long)] = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, format_string, lit}
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val cells = df.schema.fields.filter(_.name != "ym").sortBy(_.name).toSeq.map { f =>
      val c = f.dataType match {
        case DoubleType | FloatType => format_string("%.9e", col(f.name))
        case _ => col(f.name).cast("string")
      }
      coalesce(c, lit("\u0000"))
    }
    operators.Fingerprint.datasetFingerprint(
      df.select(group.cast("string").as("g"), concat_ws("\u0001", cells: _*).as("row")),
      Seq("g"), Seq("row"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  /** `Fingerprint` digest of each `ym` partition. */
  private def monthDigests(path: String): Map[String, (Long, Long, Long)] =
    digests(spark.read.parquet(path), org.apache.spark.sql.functions.col("ym"))

  test("re-ingesting one month leaves every other month's partition untouched") {
    // The shared session leaves partitionOverwriteMode at Spark's static
    // default, so only the writers' own option keeps July alive here.
    def ist(day: String, fahrt: String) =
      s"$day;$fahrt;TPG;Bus;12;Bel-Air;8587057;$day 10:00:00;$day 10:02:00;REAL;" +
        s"$day 10:01:00;$day 10:03:00;REAL;0;0;0"
    def weather(day: String, temp: String) =
      s"GVE;$day 10:00;$temp;0.0;10.8;18.0;180;55;1013.2;350;10;12.0"
    def csv(header: String, rows: String*) = writeTemp("month", (header +: rows).mkString("\n"))
    for ((name, write, both, june) <- Seq(
        ("istdaten", (ps: Seq[String], out: String) =>
            IstdatenIngest.write(IstdatenIngest.ingest(spark, ps), out),
          Seq(csv(istHeader, ist("01.06.2024", "85:1:1"), ist("02.07.2024", "85:1:2"))),
          Seq(csv(istHeader, ist("01.06.2024", "85:1:1"), ist("03.06.2024", "85:1:3")))),
        ("weather", (ps: Seq[String], out: String) =>
            WeatherIngest.write(WeatherIngest.ingest(spark, ps), out),
          Seq(csv(weatherHeader, weather("01.06.2024", "20.0"), weather("02.07.2024", "25.0"))),
          Seq(csv(weatherHeader, weather("01.06.2024", "21.0"), weather("03.06.2024", "22.0")))))) {
      val out = Files.createTempDirectory(s"graft_rerun_$name").toString
      write(both, out)
      val before = monthDigests(out)
      assert(before.keySet == Set("2024-06", "2024-07"), s"$name: $before")
      write(june, out)
      val after = monthDigests(out)
      assert(after.get("2024-07") == before.get("2024-07"), s"$name: July changed: $after")
      assert(after("2024-06")._1 == 2L, s"$name: June not replaced: $after")
    }
  }

  test("re-ingesting part of a weather window keeps every other row") {
    // S11: a batch replaces only each station's [min,max] window — not the
    // rest of its month, and no other station's rows
    import org.apache.spark.sql.functions.{col, lit, when}
    def weather(station: String, day: String, time: String, temp: String) =
      s"$station;$day $time;$temp;0.0;10.8;18.0;180;55;1013.2;350;10;12.0"
    val out = Files.createTempDirectory("graft_window").toString
    def ingest(rows: Seq[String]): Unit = WeatherIngest.write(WeatherIngest.ingest(spark,
      Seq(writeTemp("window", (weatherHeader +: rows).mkString("\n")))), out)
    ingest(for (station <- Seq("GVE", "BER"); day <- Seq("01", "02", "03");
        time <- Seq("10:00", "10:10")) yield weather(station, s"$day.06.2024", time, "20.0"))
    def split() = {
      val df = spark.read.parquet(out)
      digests(df, when(col("station_id") === "GVE" &&
        col("ts_utc").cast("date") === lit("2024-06-02").cast("date"), "window")
        .otherwise("kept"))
    }
    val before = split()
    assert(before("kept")._1 == 10L && before("window")._1 == 2L, before)
    ingest(Seq(weather("GVE", "02.06.2024", "10:00", "25.0"),
      weather("GVE", "02.06.2024", "10:10", "26.0")))
    val after = split()
    assert(after.get("kept") == before.get("kept"), s"rows outside the window changed: $after")
    assert(after("window")._1 == 2L && after("window") != before("window"), after)
    val temps = spark.read.parquet(out).filter(col("station_id") === "GVE" &&
      col("ts_utc").cast("date") === lit("2024-06-02").cast("date"))
      .orderBy("ts_utc").collect().map(_.getAs[Double]("temp_c")).toSeq
    assert(temps == Seq(25.0, 26.0))
  }

  test("IngestGtfs leaves no extracted archive member behind when its JVM exits") {
    // the extracted members back lazy DataFrames, so they outlive the
    // ingest call; the JVM's exit must delete them
    val tmp = Files.createTempDirectory("graft_tmpdir").toFile
    val out = Files.createTempDirectory("graft_gtfs_gold").toString
    val log = File.createTempFile("ingest_gtfs", ".log")
    log.deleteOnExit()
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).filter(_.startsWith("--add-opens")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvm ++ Seq(
      "-Xmx1g", s"-Djava.io.tmpdir=$tmp", "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.tpg.IngestGtfs", out, zipOf(utf8(gtfsFeed(): _*): _*))
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val rc = pb.start().waitFor()
    def output = Files.readString(log.toPath)
    assert(rc == 0, output)
    assert(new File(out, "gtfs_routes").isDirectory, output)
    val left = tmp.listFiles().map(_.getName).filter(_.startsWith("graft_zip_"))
    assert(left.isEmpty, s"extraction dirs left in java.io.tmpdir: ${left.mkString(", ")}")
    // the session logs at WARN from the start: the only INFO lines are the
    // SparkContext's version, OS and Java banner, logged before any conf
    val info = output.linesIterator.filter(_.contains(" INFO ")).toSeq
    val banner = info.filter(_.matches(
      ".* INFO SparkContext: (Running Spark version|OS info|Java version) .*"))
    assert(banner.size == 3 && info == banner, info.mkString("\n"))
  }

  test("BuildFeatures: the gold directory, then only --asof and --station-id <id>") {
    // every CLI main checks its arguments in `parse`, before its session starts
    import FeaturesEvents.{DominantStation, ExplicitStation}
    type Parse = Seq[String] => Any
    for ((parse, args, parsed) <- Seq[(Parse, Seq[String], Any)](
        (BuildFeatures.parse, Seq("g"), ("g", false, DominantStation)),
        (BuildFeatures.parse, Seq("g", "--asof"), ("g", true, DominantStation)),
        (BuildFeatures.parse, Seq("g", "--station-id", "GVE", "--asof"),
          ("g", true, ExplicitStation("GVE"))),
        (IngestGtfs.parse, Seq("g", "feed.zip"), ("g", "feed.zip")),
        (IngestIstdaten.parse, Seq("g", "a.csv", "b.csv"), ("g", Seq("a.csv", "b.csv"))),
        (IngestWeather.parse, Seq("g", "w.csv"), ("g", Seq("w.csv"))),
        (BuildByStopLine.parse, Seq("g"), "g"),
        (BuildTrainingRows.parse, Seq("g"), "g")))
      assert(parse(args) == parsed, s"$args")
    val gtfs = "usage: IngestGtfs <gold> <gtfsZip>"
    val istdaten = "usage: IngestIstdaten <gold> <csv...>"
    val weather = "usage: IngestWeather <gold> <csv...>"
    val byStopLine = "usage: BuildByStopLine <gold>"
    val trainingRows = "usage: BuildTrainingRows <gold>"
    for ((parse, args, named) <- Seq[(Parse, Seq[String], String)](
        (BuildFeatures.parse, Seq("g", "--station-id"), "--station-id"),
        (BuildFeatures.parse, Seq("g", "--station-id", "--asof"), "--station-id"),
        (BuildFeatures.parse, Seq("g", "--staton-id", "GVE"), "--staton-id"),
        (BuildFeatures.parse, Seq("g", "--asof", "extra"), "extra"),
        (BuildFeatures.parse, Seq("--asof", "g"), "gold directory"),
        (BuildFeatures.parse, Seq.empty, "gold directory"),
        (IngestGtfs.parse, Seq.empty, gtfs),
        (IngestGtfs.parse, Seq("g"), gtfs),
        (IngestGtfs.parse, Seq("g", "feed.zip", "extra"), gtfs),
        (IngestIstdaten.parse, Seq.empty, istdaten),
        (IngestIstdaten.parse, Seq("g"), istdaten),
        (IngestWeather.parse, Seq.empty, weather),
        (IngestWeather.parse, Seq("g"), weather),
        (BuildByStopLine.parse, Seq.empty, byStopLine),
        (BuildByStopLine.parse, Seq("g", "extra"), byStopLine),
        (BuildTrainingRows.parse, Seq.empty, trainingRows),
        (BuildTrainingRows.parse, Seq("g", "extra"), trainingRows))) {
      val e = intercept[IllegalArgumentException](parse(args))
      assert(e.getMessage.contains(named), s"$args: ${e.getMessage}")
    }
  }

  /** Jobs, SQL executions and the CSV files each execution's plan scans
    * (by name), over what `body` submits. */
  private def counted(body: => Unit): (Int, Int, Seq[String]) = {
    val sc = spark.sparkContext
    GraftSqlShims.drainListeners(sc)
    val jobs = new AtomicInteger
    val executions = new AtomicInteger
    val scans = mutable.Buffer.empty[String]
    val listener = new SparkListener with AdaptiveSparkPlanHelper {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case end: SparkListenerSQLExecutionEnd =>
          GraftSqlShims.queryExecution(end).foreach { qe =>
            scans.synchronized {
              scans ++= collectWithSubqueries(qe.executedPlan) {
                case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[CSVFileFormat] =>
                  s.relation.location.rootPaths.map(_.getName)
              }.flatten
            }
          }
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try { body; GraftSqlShims.drainListeners(sc) } finally sc.removeSparkListener(listener)
    (jobs.get, executions.get, scans.synchronized(scans.toSeq))
  }

  test("readCsv over three files in two charsets submits no Spark job and no SQL execution") {
    val header = "A;B\n"
    val latin1 = File.createTempFile("latin1", ".csv")
    latin1.deleteOnExit()
    Files.write(latin1.toPath, (header + "3;é\n").getBytes("ISO-8859-1"))
    val paths = Seq(writeTemp("utf8_1", header + "1;x\n"), writeTemp("utf8_2", header + "2;y\n"),
      latin1.getAbsolutePath)
    var df: org.apache.spark.sql.DataFrame = null
    val (jobs, executions, _) = counted {
      df = Archives.readCsv(spark, paths, Map("sep" -> ";"), Seq("A" -> "a", "B" -> "b"),
        Seq("A", "B"))
    }
    assert((jobs, executions) == ((0, 0)))
    assert(df.orderBy("a").collect().map(_.getString(1)).toSeq == Seq("x", "y", "é"))
  }

  test("GtfsIngest: ingest and the four writes scan each member's CSV once") {
    val feed = gtfsFeed()
    val zip = zipOf(utf8(feed: _*): _*)
    val gold = Files.createTempDirectory("graft_gtfs_gold_").toString
    val (_, _, scans) = counted {
      val (routes, trips, stopTimes, stops) = GtfsIngest.ingest(spark, zip)
      for ((df, table) <- Seq(routes -> "routes", trips -> "trips",
          stopTimes -> "stop_times", stops -> "stops"))
        GtfsIngest.write(df, s"$gold/$table")
    }
    assert(scans.groupBy(identity).view.mapValues(_.size).toMap == feed.map(_._1 -> 1).toMap)
    assert(spark.read.parquet(s"$gold/stops").count() == 2L)
  }
}
