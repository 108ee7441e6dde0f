package graft

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.tpg._

/** End-to-end ingest tests on hand-built TPG-shaped fixtures (FIXTURES.md). */
class TpgPipelineSpec extends SparkSpec {

  private def writeTemp(name: String, content: String): String = {
    val f = File.createTempFile(name, ".csv")
    f.deleteOnExit()
    Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

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
    val zip = File.createTempFile("istdaten", ".zip")
    zip.deleteOnExit()
    val zos = new ZipOutputStream(new FileOutputStream(zip))
    def member(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    member("readme.txt", "not a csv")
    member("2024-06-01_IstDaten.csv", istHeader + "\n" + istRow("85:889:1", "Bel-Air") + "\n")
    member("notes.csv", "a;b\n1;2\n") // CSV but not an IstDaten member → excluded
    member("subdir/2024-06-02_istdaten.csv",
      istHeader + "\n" + istRow("85:889:2", "Stand") + "\n")
    zos.close()

    assert(IstdatenIngest.istdatenCsvMembers(zip.getAbsolutePath).toSet ==
      Set("2024-06-01_IstDaten.csv", "subdir/2024-06-02_istdaten.csv"))
    val got = IstdatenIngest.ingest(spark, Seq(zip.getAbsolutePath))
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

    assert(Archives.isValidUtf8(utf8Path))
    assert(!Archives.isValidUtf8(f.getAbsolutePath))
    val got = IstdatenIngest.ingest(spark, Seq(utf8Path, f.getAbsolutePath))
      .orderBy("fahrt_bezeichner").collect()
    assert(got.length == 2)
    assert(got(0).getAs[String]("stop_name") == "Genève, Bel-Air")
    assert(got(1).getAs[String]("stop_name") == "Châtelaine")
  }

  test("utf8 probe: multi-byte char straddling the probe boundary is not invalid") {
    // 'é' = 0xC3 0xA9: place it so the probe window ends between its bytes —
    // a REPORT decoder must treat the truncated tail as underflow, not error
    val f = File.createTempFile("probe", ".csv")
    f.deleteOnExit()
    val bytes = ("a" * 15).getBytes("UTF-8") ++ "é".getBytes("UTF-8") ++ "tail".getBytes("UTF-8")
    Files.write(f.toPath, bytes)
    assert(Archives.isValidUtf8(f.getAbsolutePath, probeBytes = 16)) // cuts é in half
    assert(Archives.isValidUtf8(f.getAbsolutePath))                  // whole file valid
    // a genuinely malformed byte inside the window is still caught
    val bad = File.createTempFile("probe_bad", ".csv")
    bad.deleteOnExit()
    Files.write(bad.toPath, ("x" * 8).getBytes("UTF-8") ++ Array(0xE9.toByte) ++ "y".getBytes("UTF-8"))
    assert(!Archives.isValidUtf8(bad.getAbsolutePath))
  }

  test("gtfs ingest: member extraction, operator filter, semi-join cascade") {
    val zip = File.createTempFile("gtfs", ".zip")
    zip.deleteOnExit()
    val zos = new ZipOutputStream(new FileOutputStream(zip))
    def member(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    member("feed_info.txt", "feed_publisher_name,feed_version\nopendata,2024-06\n")
    member("agency.txt", "agency_id,agency_name\n881,Transports Publics Genevois\n11,SBB\n")
    member("routes.txt",
      "route_id,agency_id,route_short_name,route_long_name,route_type\n" +
        "r12,881,12,Bel-Air - Moillesulaz,0\nrIC,11,IC1,Intercity,2\n")
    member("trips.txt",
      "route_id,service_id,trip_id\nr12,wk,t1\nrIC,wk,t9\n")
    member("stop_times.txt",
      "trip_id,arrival_time,departure_time,stop_id,stop_sequence\n" +
        "t1,10:00:00,10:01:00,s1,1\nt1,25:10:00,25:11:00,s2,2\nt9,09:00:00,09:01:00,s9,1\n")
    member("stops.txt",
      "stop_id,stop_name,stop_lat,stop_lon\ns1,Bel-Air,46.204,6.141\n" +
        "s2,Stand,46.205,6.142\ns9,Bern,46.949,7.439\nsX,Orphan,0,0\n")
    zos.close()

    val (routes, trips, stopTimes, stops) = GtfsIngest.ingest(spark, zip.getAbsolutePath)
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
    // The tools/E2E CLI chain at tiny SF (1 day × 1k events): the same
    // generate() + pipeline() entries the 600k-row smoke run uses, so the
    // raw-formats→training-rows path cannot silently break between the
    // hand-run smokes. Every gold table must land non-empty and the
    // training rows must carry the label and the ASOF weather features.
    val work = java.nio.file.Files.createTempDirectory("graft_e2e_").toString
    val (inputs, _) = tools.E2E.generate(work, days = 1, rowsPerDay = 1000)
    assert(inputs.istPaths.size == 1 && inputs.weatherPaths.size == 2)
    val (rows, nServe, _) = tools.E2E.pipeline(spark, work)
    val counts = rows.toMap
    assert(counts("ist_events") == 1000L, counts.toString)
    assert(counts("features") == 1000L)
    assert(counts("by_stop_line") > 0L && counts("training_rows") > 0L)
    assert(nServe > 0L)
    val tr = spark.read.parquet(s"$work/gold/training_rows")
    val cols = tr.columns.toSet
    for (c <- Seq("delay_sec", "temp_c", "rain_mm", "med_delay_7d_sec",
        "rain_mm_lag10", "target_late_ge2"))
      assert(cols.contains(c), s"training_rows missing $c: $cols")
    // ASOF join actually attached weather: at least one row carries a value
    assert(tr.filter(org.apache.spark.sql.functions.col("temp_c").isNotNull)
      .limit(1).count() == 1L)
  }

  /** `Fingerprint` digest (n_rows, xor60, sum32) of each `ym` partition. */
  private def monthDigests(path: String): Map[String, (Long, Long, Long)] = {
    import org.apache.spark.sql.functions.{coalesce, col, concat_ws, lit}
    val df = spark.read.parquet(path)
    val cells = df.columns.filter(_ != "ym").sorted.toSeq
      .map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    operators.Fingerprint.datasetFingerprint(
      df.select(col("ym").cast("string").as("ym"), concat_ws("\u0001", cells: _*).as("row")),
      Seq("ym"), Seq("row"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
  }

  test("re-ingesting one month leaves every other month's partition untouched") {
    // The shared session leaves partitionOverwriteMode at Spark's static
    // default, so only the writers' own option keeps July alive here.
    def ist(day: String, fahrt: String) =
      s"$day;$fahrt;TPG;Bus;12;Bel-Air;8587057;$day 10:00:00;$day 10:02:00;REAL;" +
        s"$day 10:01:00;$day 10:03:00;REAL;0;0;0"
    def weather(day: String, temp: String) =
      s"GVE;$day 10:00;$temp;0.0;10.8;18.0;180;55;1013.2;350;10;12.0"
    val weatherHeader = "station_abbr;reference_timestamp;tre200s0;rre150z0;fu3010z0;" +
      "fu3010z1;dkl010z0;ure200s0;prestas0;gre000z0;sre000z0;tde200s0"
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

  test("Logging: rotating file handler rotates, format matches, setup is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_logs_").toString
    // tiny rotation budget so a few records span generations
    val log = Logging.setup(name = "etl_test", logDir = dir,
      maxBytes = 512, backupCount = 2, toConsole = false)
    val again = Logging.setup(name = "etl_test", logDir = dir)
    assert(again eq log)
    assert(log.getHandlers.length == 1) // idempotent: no duplicate handlers
    (1 to 60).foreach(i => log.info(s"record $i with some padding to force rotation"))
    log.getHandlers.foreach(_.flush())
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.count(_.matches("log_etl_test\\.\\d\\.log")) >= 2, files.mkString(","))
    val first = scala.io.Source.fromFile(s"$dir/${files.head}").getLines().toSeq
    assert(first.exists(_.matches(
      "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2} \\[INFO\\] etl_test: record .*")))
  }
}
