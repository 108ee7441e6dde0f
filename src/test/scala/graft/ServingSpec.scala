package graft

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.tpg._

/** Serving façade over the gold tables: each method mirrors a query one of
  * the reference dashboards issues, asserted here against the same raw-CSV →
  * silver → gold fixtures the E2E pipeline spec drives.
  */
class ServingSpec extends SparkSpec {

  private def writeTemp(name: String, content: String): String = {
    val f = File.createTempFile(name, ".csv")
    f.deleteOnExit()
    Files.writeString(f.toPath, content)
    f.getAbsolutePath
  }

  private val weatherCsv =
    """station_abbr;reference_timestamp;tre200s0;rre150z0;fu3010z0;fu3010z1;dkl010z0;ure200s0;prestas0;gre000z0;sre000z0;tde200s0
      |GVE;01.06.2024 10:00;20.0;0.0;10.8;18.0;180;55;1013.2;350;10;12.0
      |GVE;01.06.2024 10:10;19.5;1.2;7.2;10.8;170;60;1012.8;300;8;11.8""".stripMargin

  // three TPG rows across two lines (one with a NULL product and a
  // coalesced-from-arrival schedule) plus one non-TPG row the dashboard
  // filter must drop
  private val istCsv =
    """BETRIEBSTAG;FAHRT_BEZEICHNER;BETREIBER_ABK;PRODUKT_ID;LINIEN_TEXT;HALTESTELLEN_NAME;BPUIC;ANKUNFTSZEIT;AN_PROGNOSE;AN_PROGNOSE_STATUS;ABFAHRTSZEIT;AB_PROGNOSE;AB_PROGNOSE_STATUS;DURCHFAHRT_TF;ZUSATZFAHRT_TF;FAELLT_AUS_TF
      |01.06.2024;85:889:1;TPG;Bus;12;Bel-Air;8587057;;;;01.06.2024 10:04:00;01.06.2024 10:06:00;REAL;0;0;0
      |01.06.2024;85:889:2;TPG;Bus;12;Bel-Air;8587057;;;;01.06.2024 10:05:00;01.06.2024 10:08:00;REAL;0;0;0
      |01.06.2024;85:889:3;TPG;;14;Stand;8587058;01.06.2024 10:15:00;01.06.2024 10:16:00;REAL;;;;0;0;0
      |01.06.2024;85:999:9;SBB;Zug;IC1;Gare;8500000;;;;01.06.2024 10:20:00;01.06.2024 10:21:00;REAL;0;0;0""".stripMargin

  private lazy val (ist, features, agg) = {
    val dir = Files.createTempDirectory("serving_").toFile.getAbsolutePath
    WeatherIngest.write(
      WeatherIngest.ingest(spark, Seq(writeTemp("wx0", weatherCsv))), s"$dir/weather")
    IstdatenIngest.write(
      IstdatenIngest.ingest(spark, Seq(writeTemp("ist", istCsv))), s"$dir/ist")
    val weather = spark.read.parquet(s"$dir/weather")
    val istDf = spark.read.parquet(s"$dir/ist")
    val f = FeaturesEvents.build(istDf, weather, FeaturesEvents.DominantStation)
    FeaturesEvents.write(f, s"$dir/features")
    val gold = spark.read.parquet(s"$dir/features")
    (istDf, gold, FeaturesByStopLine.build(gold))
  }

  test("latestEvents: dashboard filter, delay calc, newest-first limit") {
    val rows = Serving.latestEvents(ist, n = 2).collect()
    assert(rows.length == 2)
    // newest first: the 10:15 Stand trip leads, then the 10:05 Bel-Air one
    assert(rows(0).getAs[String]("stop_name") == "Stand")
    assert(rows(0).getAs[Int]("delay_sec") == 60)       // 10:16 est vs 10:15 sched
    assert(rows(0).getAs[Double]("delay_min") == 1.0)
    assert(rows(1).getAs[Int]("delay_sec") == 180)      // 10:08 vs 10:05
    // the NULL-product row passed the filter (coalesced from arrival);
    // the SBB row never appears at any n
    val all = Serving.latestEvents(ist, n = 10).collect()
    assert(all.length == 3 && !all.exists(_.getAs[String]("line_text") == "IC1"))
  }

  test("missingProfile: per-column NA percentages, descending") {
    val prof = Serving.missingProfile(features, topN = 50).collect()
    val pct = prof.map(r => r.getAs[String]("column") -> r.getAs[Double]("na_percent")).toMap
    // depart times exist on 2 of 3 gold rows (the Stand trip coalesced from
    // arrival): 33.3% missing; fully-populated columns report 0.0
    assert(pct("depart_time_sched") == 33.3)
    assert(pct("line_text") == 0.0)
    // descending order
    val ps = prof.map(_.getAs[Double]("na_percent")).toSeq
    assert(ps == ps.sorted.reverse)
  }

  test("kpiSlice: one-row QA KPIs match hand counts") {
    val k = Serving.kpiSlice(features).collect()(0)
    assert(k.getAs[Long]("rows_total") == 3L)
    assert(k.getAs[Long]("both_depart_present") == 2L)
    assert(k.getAs[Long]("n_coalesce_sched") == 1L)     // the Stand trip
    assert(k.getAs[Long]("n_any_coalesce") == 1L)
    assert(math.abs(k.getAs[Double]("pct_any_coalesce") - 100.0 / 3.0) < 1e-9)
    assert(k.getAs[Long]("unusable") == 0L)
    // 10:00-bin trips carry the full weather payload; the 10:10-bin Stand
    // trip matches the 10:10 observation — all three are fully joined
    assert(k.getAs[Long]("full_weather_rows") == 3L)
  }

  test("heatmap: bounded dow × hour cells, mean of bin means") {
    val cells = Serving.heatmap(agg).collect()
    // all fixture bins are Saturday (2024-06-01, isodow 6) hour 10
    assert(cells.length == 1)
    val c = cells(0)
    assert(c.getAs[Int]("dow") == 6 && c.getAs[Int]("hr") == 10)
    assert(c.getAs[Long]("n_trips") == 3L)
    // two bins: Bel-Air avg 2.5 min, Stand avg 1.0 → mean of means 1.75
    assert(math.abs(c.getAs[Double]("delay_avg_min") - 1.75) < 1e-9)
  }

  test("slice + sliceKpis: sidebar filters and header metrics") {
    val line12 = Serving.slice(agg, lines = Seq("12")).collect()
    assert(line12.length == 1 && line12(0).getAs[String]("stop_key") == "12·8587057")
    val kpis = Serving.sliceKpis(Serving.slice(agg, lines = Seq("12"))).collect()(0)
    assert(kpis.getAs[Long]("trips") == 2L)
    assert(math.abs(kpis.getAs[Double]("avg_delay_min") - 2.5) < 1e-9)
    // date-range slicing: the fixture date is inside, a later range is empty
    assert(Serving.slice(agg, fromDate = Some("2024-06-01"),
      toDate = Some("2024-06-01")).count() == 1 + 1)
    assert(Serving.slice(agg, fromDate = Some("2024-07-01")).count() == 0L)
    // stop-key filter composes with line filter
    assert(Serving.slice(agg, lines = Seq("12", "14"),
      stopKeys = Seq("14·8587058")).count() == 1L)
  }

  /** A stop×line gold slice over five days, with bins on both edges of
    * each day, read back from parquet as the dashboards read it. */
  private lazy val days: DataFrame = {
    val sp = spark
    import sp.implicits._
    val bins = for {
      d <- 1 to 5
      t <- Seq("00:00:00", "12:00:00", "23:50:00")
      line <- Seq("1", "2")
    } yield (line, s"${line}·85870${d}0", Timestamp.valueOf(s"2024-06-0$d $t"), d.toLong)
    val dir = Files.createTempDirectory("serving_days_").toFile.getAbsolutePath + "/by_stop_line"
    bins.toDF("line_text", "stop_key", "sched_bin", "n_trips").write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("slice: date windows equal the to_date formula, boundary days included") {
    def before(from: Option[String], to: Option[String]) = Seq(
      from.map(d => to_date(col("sched_bin")) >= to_date(lit(d))),
      to.map(d => to_date(col("sched_bin")) <= to_date(lit(d)))).flatten
      .foldLeft(days.filter(col("line_text") === "1"))(_ filter _).orderBy(col("sched_bin"))
    val windows = Seq(
      Some("2024-06-02") -> Some("2024-06-04"), Some("2024-06-03") -> Some("2024-06-03"),
      Some("2024-06-04") -> None, None -> Some("2024-06-01"),
      Some("2024-06-04") -> Some("2024-06-02"), Some("2024-07-01") -> None)
    for ((from, to) <- windows) {
      val got = Serving.slice(days, lines = Seq("1"), fromDate = from, toDate = to).collect().toSeq
      assert(got == before(from, to).collect().toSeq, (from, to))
    }
    // 2024-06-02 00:00 through 2024-06-04 23:50: three bins on each of three days
    assert(Serving.slice(days, lines = Seq("1"), fromDate = Some("2024-06-02"),
      toDate = Some("2024-06-04")).count() == 9L)
    assert(Serving.slice(days, fromDate = Some("2024-06-04"), toDate = Some("2024-06-02"))
      .count() == 0L)
  }

  test("slice: a new date window reuses the compiled classes") {
    def compiles(from: String, to: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Serving.slice(days, lines = Seq("2"), fromDate = Some(from), toDate = Some(to)).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles("2024-06-01", "2024-06-03")
    assert(compiles("2024-06-02", "2024-06-05") == 0L)
  }

  test("slice: an invalid date raises an error naming it") {
    for (bad <- Seq("2024-13-01", "01.06.2024", "")) {
      val e = intercept[IllegalArgumentException](Serving.slice(days, toDate = Some(bad)))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
