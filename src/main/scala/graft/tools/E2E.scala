package graft.tools

import java.io.{File, FileOutputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.SparkSession

import graft.tpg._

/** One-command END-TO-END pipeline run over generated raw-format inputs —
  * the system-level smoke the per-query bench can't give: GTFS ZIP +
  * semicolon IstDaten daily CSVs + '-'-as-NA weather CSVs are generated in
  * the reference's RAW formats (FIXTURES.md shapes, scaled up), then
  * [[graft.tpg.Pipeline.run]] runs the chain (the stages the CLI mains run
  * one each) into `<workDir>/gold`, and the serving queries read it:
  *
  *   ingest gtfs → ingest istdaten → ingest weather
  *     → build features (ASOF weather join) → by-stop-line aggregate
  *     → training rows → the serving queries
  *
  * Each stage is timed; one summary line prints at the end (recorded in
  * SCALE.md). Usage: `runMain graft.tools.E2E <workDir> [daysx1000rows]`.
  * Deterministic: all values are hash-derived (the [[GenData]] convention,
  * here a plain LCG over row indices — driver-side generation writes the
  * RAW text formats the ingests must parse, which Spark cannot emit).
  *
  * NOT part of the library surface (a tool, like [[Profile]]).
  */
object E2E {

  private def mix(seed: Long): Long = {
    var x = seed * 0x9E3779B97F4A7C15L
    x ^= (x >>> 32); x *= 0xBF58476D1CE4E5B9L; x ^= (x >>> 29); x
  }
  private def pick[A](seed: Long, xs: IndexedSeq[A]): A =
    xs(((mix(seed) % xs.size + xs.size) % xs.size).toInt)
  private def pct(seed: Long, n: Int): Int =
    ((mix(seed) % n + n) % n).toInt

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft_e2e")
    val rowsPerDayK = args.lift(1).map(_.toInt).getOrElse(20)
    val (inputs, tGen) = generate(work, days = 30, rowsPerDay = rowsPerDayK * 1000)
    val gold = s"$work/gold"
    val spark = Jobs.session("e2e")
    val stages = Pipeline.run(spark, inputs, gold)
    val t0 = System.nanoTime()
    val nServe = serve(spark, gold)
    val times = stages :+ ("serving queries" -> (System.nanoTime() - t0) / 1e9)
    times.foreach { case (name, dt) => println(f"[e2e] $name%-22s $dt%7.2f s") }
    val rows = Seq("ist_events", "features", "by_stop_line", "training_rows")
      .map(t => t -> Pipeline.read(spark, gold, t).count())
    println(f"[e2e] raw-input generation  $tGen%7.2f s (untimed, driver-side)")
    println(f"[e2e] TOTAL pipeline        ${times.map(_._2).sum}%7.2f s  " +
      rows.map { case (t, n) => s"$t=$n" }.mkString(" ") + s" serve_rows=$nServe")
    spark.stop()
  }

  /** Runs the serving queries over the gold tables under `gold`; returns
    * their summed row count. */
  def serve(spark: SparkSession, gold: String): Long = {
    def read(t: String) = Pipeline.read(spark, gold, t)
    val feats = read("features")
    Serving.latestEvents(read("ist_events")).count() +
      Serving.missingProfile(feats).count() +
      FeaturesByStopLine.qc(read("by_stop_line")).count() +
      FeaturesEvents.qc(feats).count()
  }

  /** Generate the three raw-format inputs (GTFS ZIP, per-day semicolon
    * IstDaten CSVs, '-'-as-NA weather CSVs) under `work`. Driver-side by
    * necessity: these are the RAW text formats the ingests must parse,
    * which Spark cannot emit. Returns the generated input paths and the
    * generation wall time.
    */
  def generate(work: String, days: Int, rowsPerDay: Int): (Pipeline.Inputs, Double) = {
    new File(work).mkdirs()

    // ---------------------------------------------------------- raw inputs
    val t0 = System.nanoTime()
    val lines = (1 to 30).map(_.toString)
    val stops = (1 to 400).map(i => (s"Stop $i", 8587000 + i))

    // GTFS zip: one matching agency + one non-matching (exercises F1)
    val gtfsZip = s"$work/gtfs.zip"
    locally {
      val zos = new ZipOutputStream(new FileOutputStream(gtfsZip))
      def member(name: String, content: String): Unit = {
        zos.putNextEntry(new ZipEntry(name))
        zos.write(content.getBytes("UTF-8")); zos.closeEntry()
      }
      member("feed_info.txt", "feed_version\n2024-06-E2E\n")
      member("agency.txt",
        "agency_id,agency_name\n881,Transports Publics Genevois\n11,Other Operator\n")
      member("routes.txt", "route_id,route_type,route_short_name,agency_id\n" +
        lines.map(l => s"R$l,3,$l,881").mkString("\n") + "\nRX,3,X1,11\n")
      member("trips.txt", "trip_id,route_id,service_id,direction_id\n" +
        (1 to 3000).map(t => s"T$t,R${pick(t.toLong, lines)},S1,${t % 2}")
          .mkString("\n") + "\nTX,RX,S1,0\n")
      member("stop_times.txt", "trip_id,stop_sequence,stop_id,arrival_time,departure_time\n" +
        (1 to 3000).flatMap { t =>
          (1 to 12).map { sq =>
            val h = 5 + pct(t * 100L + sq, 19)
            f"T$t,$sq,ST${pct(t * 31L + sq, 400) + 1},$h%02d:${pct(t + sq, 60)}%02d:00,$h%02d:${pct(t + sq, 60)}%02d:30"
          }
        }.mkString("\n") + "\n")
      member("stops.txt", "stop_id,stop_name,stop_lat,stop_lon\n" +
        stops.zipWithIndex.map { case ((nm, _), i) =>
          s"ST${i + 1},$nm,46.2${i % 10},6.1${i % 10}" }.mkString("\n") + "\n")
      zos.close()
    }

    // IstDaten: one semicolon CSV per day, dd.MM.yyyy timestamps
    val istHeader = "BETRIEBSTAG;FAHRT_BEZEICHNER;BETREIBER_ABK;PRODUKT_ID;" +
      "LINIEN_TEXT;HALTESTELLEN_NAME;BPUIC;ANKUNFTSZEIT;AN_PROGNOSE;" +
      "AN_PROGNOSE_STATUS;ABFAHRTSZEIT;AB_PROGNOSE;AB_PROGNOSE_STATUS;" +
      "DURCHFAHRT_TF;ZUSATZFAHRT_TF;FAELLT_AUS_TF"
    val istDir = s"$work/istdaten"; new File(istDir).mkdirs()
    val istPaths = (1 to days).map { d =>
      val date = f"2024-06-$d%02d"
      val dmy = f"$d%02d.06.2024"
      val sb = new StringBuilder(istHeader).append('\n')
      (1 to rowsPerDay).foreach { i =>
        val s = d * 1000000L + i
        val line = pick(s, lines)
        val (stopName, bpuic) = stops(pct(s + 1, 400))
        val hh = 5 + pct(s + 2, 19); val mm = pct(s + 3, 60)
        val delayS = pct(s + 4, 600) - 60
        val estMm = mm + (delayS / 60)
        val sched = f"$dmy $hh%02d:$mm%02d:00"
        val est = f"$dmy $hh%02d:${math.max(0, math.min(59, estMm))}%02d:${pct(s + 5, 60)}%02d"
        val prod = if (pct(s + 6, 5) == 0) "Tram" else "Bus"
        val status = pick(s + 7, IndexedSeq("REAL", "REAL", "REAL", "GESCHAETZT", "PROGNOSE"))
        sb.append(s"$date;85:881:$i-$d;TPG;$prod;$line;$stopName;$bpuic;" +
          s"$sched;$est;$status;$sched;$est;$status;0;0;0").append('\n')
      }
      val p = s"$istDir/$date" + "_istdaten.csv"
      Files.writeString(Paths.get(p), sb.toString); p
    }

    // Weather: 10-minute grid, '-' as NA, one CSV per station
    val wHeader = "station_abbr;reference_timestamp;tre200s0;rre150z0;" +
      "fu3010z0;fu3010z1;dkl010z0;ure200s0;prestas0;gre000z0;sre000z0;tde200s0"
    val wDir = s"$work/weather"; new File(wDir).mkdirs()
    val wPaths = Seq("GVE", "BER").map { st =>
      val sb = new StringBuilder(wHeader).append('\n')
      (1 to days).foreach { d =>
        val dmy = f"$d%02d.06.2024"
        for (h <- 0 until 24; m <- 0 until 60 by 10) {
          val s = st.hashCode.toLong * 100000 + d * 1440 + h * 60 + m
          val rain = if (pct(s + 1, 10) == 0) "-" else (pct(s + 1, 40) / 10.0).toString
          sb.append(f"$st;$dmy $h%02d:$m%02d;${10 + pct(s, 200) / 10.0}%.1f;$rain;" +
            f"${pct(s + 2, 400) / 10.0}%.1f;${pct(s + 3, 500) / 10.0}%.1f;${pct(s + 4, 360)};" +
            f"${40 + pct(s + 5, 60)};${980 + pct(s + 6, 50)};${pct(s + 7, 800)};" +
            f"${pct(s + 8, 10)};${5 + pct(s + 9, 150) / 10.0}%.1f").append('\n')
        }
      }
      val p = s"$wDir/weather_$st.csv"
      Files.writeString(Paths.get(p), sb.toString); p
    }
    val tGen = (System.nanoTime() - t0) / 1e9
    (Pipeline.Inputs(gtfsZip, istPaths, wPaths), tGen)
  }
}
