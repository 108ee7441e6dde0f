package graft

import org.apache.spark.sql.functions._
import graft.tpg._

class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val events = Seq(
    // (fahrt, stop_code, line, arr_sched, arr_est, dep_sched, dep_est)
    ("f1", "s1", "12", "2024-06-01 10:04:50", "2024-06-01 10:06:30", null, null),
    ("f2", "s1", "12", null, null, "2024-06-01 10:14:00", "2024-06-01 10:14:30"),
    ("f3", "s2", "14", "2024-06-01 10:25:00", null, "2024-06-01 10:26:00", "2024-06-01 10:27:00"))
    .toDF("fahrt_bezeichner", "stop_code", "line_text",
      "arr_s", "arr_e", "dep_s", "dep_e")
    .select(
      lit(java.sql.Date.valueOf("2024-06-01")).as("service_date"),
      $"fahrt_bezeichner", lit("TPG").as("operator_abbr"), lit("Bus").as("product_id"),
      $"line_text", concat(lit("stop_"), $"stop_code").as("stop_name"), $"stop_code",
      to_timestamp($"arr_s").as("arrival_time_sched"),
      to_timestamp($"arr_e").as("arrival_time_est"),
      lit("REAL").as("arrival_status"),
      to_timestamp($"dep_s").as("depart_time_sched"),
      to_timestamp($"dep_e").as("depart_time_est"),
      lit("REAL").as("depart_status"),
      lit(false).as("is_pass_through"), lit(false).as("is_additional"),
      lit(false).as("is_cancelled"))

  private val weather = Seq(
    ("GVE", "2024-06-01 10:00:00", 20.0, 0.0),
    ("GVE", "2024-06-01 10:08:00", 21.0, 0.5), // off-grid: only ASOF can use it
    ("GVE", "2024-06-01 10:20:00", 22.0, 1.0))
    .toDF("station_id", "ts", "temp_c", "rain_mm")
    .select($"station_id", to_timestamp($"ts").as("ts_utc"), $"temp_c", $"rain_mm",
      lit(null).cast("double").as("wind_ms"), lit(null).cast("double").as("gust_ms"),
      lit(null).cast("double").as("wind_dir_deg"), lit(null).cast("double").as("rel_humidity"),
      lit(null).cast("double").as("pressure_hpa"), lit(null).cast("double").as("global_rad_wm2"),
      lit(null).cast("double").as("sunshine_min"), lit(null).cast("double").as("dewpoint_c"))

  test("enrich: coalesce priority, bias flags, delay semantics, binning") {
    val e = FeaturesEvents.enrich(events).orderBy("fahrt_bezeichner").collect()
    val f1 = e(0)
    assert(f1.getAs[java.sql.Timestamp]("sched_ts") == ts("2024-06-01 10:04:50")) // arrival fallback
    assert(f1.getAs[Boolean]("used_arrival_sched"))
    assert(f1.getAs[Long]("delay_sec") == 100L)
    assert(math.abs(f1.getAs[Double]("delay_min") - 100.0 / 60.0) < 1e-12) // fractional minutes (10:244)
    assert(f1.getAs[java.sql.Timestamp]("sched_bin") == ts("2024-06-01 10:00:00"))
    val f3 = e(2)
    assert(f3.getAs[java.sql.Timestamp]("sched_ts") == ts("2024-06-01 10:26:00")) // depart preferred
    assert(!f3.getAs[Boolean]("used_arrival_sched"))
  }

  test("strict join hits only exact bins; asof join picks latest fresh obs") {
    val strict = FeaturesEvents.build(events, weather, FeaturesEvents.ExplicitStation("GVE"))
      .orderBy("fahrt_bezeichner").collect()
    // f1 bin 10:00 → weather 10:00; f2 bin 10:10 → no exact obs → null;
    // f3 bin 10:20 → weather 10:20
    assert(strict(0).getAs[Double]("temp_c") == 20.0)
    assert(strict(1).getAs[Any]("temp_c") == null)
    assert(strict(2).getAs[Double]("temp_c") == 22.0)

    val asof = FeaturesEvents.build(events, weather, FeaturesEvents.ExplicitStation("GVE"), asof = true)
      .orderBy("fahrt_bezeichner").collect()
    // f2 bin 10:10 → latest obs ≤ 10:10 is 10:08 (120 s stale ≤ 300) → 21.0
    assert(asof(0).getAs[Double]("temp_c") == 20.0)
    assert(asof(1).getAs[Double]("temp_c") == 21.0)
    assert(asof(2).getAs[Double]("temp_c") == 22.0)
  }

  test("empty weather: the dominant-station build names the fix; an explicit station gives NULL weather") {
    val none = weather.limit(0)
    for (asof <- Seq(false, true)) {
      val e = intercept[IllegalArgumentException](
        FeaturesEvents.build(events, none, FeaturesEvents.DominantStation, asof = asof))
      assert(e.getMessage.contains("weather table has no rows"), e.getMessage)
      assert(e.getMessage.contains("--station-id"), e.getMessage)
      val rows = FeaturesEvents.build(events, none, FeaturesEvents.ExplicitStation("GVE"), asof = asof)
        .collect()
      assert(rows.length == 3, s"asof=$asof")
      assert(rows.forall(r => r.isNullAt(r.fieldIndex("temp_c"))), s"asof=$asof")
    }
  }

  test("asof staleness edge: exactly 5 min is fresh, beyond is null") {
    val lateEvents = Seq(
      ("g1", "2024-06-01 10:13:00"), // bin 10:10; obs 10:08 → 120 s fresh
      ("g2", "2024-06-01 10:33:00")) // bin 10:30; obs 10:20 → 600 s stale
      .toDF("fahrt_bezeichner", "dep")
      .select(lit(java.sql.Date.valueOf("2024-06-01")).as("service_date"),
        $"fahrt_bezeichner", lit("TPG").as("operator_abbr"), lit("Bus").as("product_id"),
        lit("12").as("line_text"), lit("x").as("stop_name"), lit("s1").as("stop_code"),
        lit(null).cast("timestamp").as("arrival_time_sched"),
        lit(null).cast("timestamp").as("arrival_time_est"),
        lit("REAL").as("arrival_status"),
        to_timestamp($"dep").as("depart_time_sched"),
        to_timestamp($"dep").as("depart_time_est"),
        lit("REAL").as("depart_status"),
        lit(false).as("is_pass_through"), lit(false).as("is_additional"),
        lit(false).as("is_cancelled"))
    val got = FeaturesEvents.build(lateEvents, weather,
      FeaturesEvents.ExplicitStation("GVE"), asof = true)
      .orderBy("fahrt_bezeichner").collect()
    assert(got(0).getAs[Double]("temp_c") == 21.0)
    assert(got(1).getAs[Any]("temp_c") == null)
  }

  test("by-stop-line aggregation: exact percentiles and shares") {
    val manyEvents = (1 to 5).map { i =>
      (s"h$i", "2024-06-01 10:0%d:00".format(i), i.toDouble) // delays 1..5 min
    }.toDF("fahrt_bezeichner", "dep", "delay")
      .select(lit(java.sql.Date.valueOf("2024-06-01")).as("service_date"),
        $"fahrt_bezeichner", lit("TPG").as("operator_abbr"), lit("Bus").as("product_id"),
        lit("12").as("line_text"), lit("Bel-Air").as("stop_name"), lit("s1").as("stop_code"),
        lit(null).cast("timestamp").as("arrival_time_sched"),
        lit(null).cast("timestamp").as("arrival_time_est"),
        lit("REAL").as("arrival_status"),
        to_timestamp($"dep").as("depart_time_sched"),
        timestamp_seconds(to_timestamp($"dep").cast("long") + $"delay".cast("long") * 60)
          .as("depart_time_est"),
        lit("REAL").as("depart_status"),
        lit(false).as("is_pass_through"), lit(false).as("is_additional"),
        lit(false).as("is_cancelled"))
    val feats = FeaturesEvents.build(manyEvents, weather, FeaturesEvents.ExplicitStation("GVE"))
    val agg = FeaturesByStopLine.build(feats).collect()(0)
    assert(agg.getAs[Long]("n_trips") == 5L)
    assert(agg.getAs[Double]("delay_p50_min") == 3.0)  // exact median of 1..5
    assert(agg.getAs[Double]("delay_avg_min") == 3.0)
    assert(agg.getAs[Double]("share_late_ge2") == 0.8) // 4 of 5 ≥ 2 min
    assert(agg.getAs[String]("stop_key") == "12·s1")
    val qc = FeaturesByStopLine.qc(FeaturesByStopLine.build(feats)).collect()(0)
    assert(qc.getAs[Long]("n_bins") == 1L && qc.getAs[Long]("n_stop_keys") == 1L)
  }

  test("training rows: targets, calendar encodings, weather lags") {
    val feats = FeaturesEvents.build(events, weather, FeaturesEvents.ExplicitStation("GVE"))
    val rows = TrainingRow.build(feats, weather).orderBy("fahrt_bezeichner").collect()
    val f1 = rows(0)
    assert(!f1.getAs[Boolean]("target_late_ge2")) // 100 s = 1.67 min < 2 (fractional)
    assert(!f1.getAs[Boolean]("target_late_ge5"))
    assert(f1.getAs[Int]("hour") == 10)
    assert(f1.getAs[Int]("dow") == 6) // 2024-06-01 is a Saturday (ISO 6)
    assert(math.abs(f1.getAs[Double]("sin_hour") - math.sin(10 * 2 * math.Pi / 24)) < 1e-12)
    // f3 bin 10:20: lag10 = rain at previous grid obs (10:08 → 0.5)
    val f3 = rows(2)
    assert(f3.getAs[Double]("rain_mm_lag10") == 0.5)
  }

  test("training rows: lag join degrades from broadcast to shuffled join when over threshold") {
    val feats = FeaturesEvents.build(events, weather2, FeaturesEvents.MappingTable(mapping))
    val viaBroadcast = TrainingRow.build(feats, weather2)
    assert(viaBroadcast.queryExecution.executedPlan.toString.split("\n").exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("lag_station_id")))
    val broadcastRows = viaBroadcast.orderBy("fahrt_bezeichner")
      .drop("row_id").collect() // row_id is partition-layout-dependent

    // autoBroadcastJoinThreshold=-1 stops the planner broadcasting the
    // (tiny, test-sized) frame on its own stats — it emulates a fact-sized
    // lag frame
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaShuffle = TrainingRow.build(feats, weather2)
      val planStr = viaShuffle.queryExecution.executedPlan.toString
      // the LAG join must be the shuffled kind; `feats` itself may keep its
      // own (explicitly hinted) broadcast dim joins, so key on lag_station_id
      def lagJoinLines(p: String) = p.split("\n").filter(l =>
        l.contains("Join") && l.contains("lag_station_id"))
      assert(lagJoinLines(planStr).exists(_.contains("SortMergeJoin")))
      assert(!lagJoinLines(planStr).exists(_.contains("BroadcastHashJoin")))
      val shuffleRows = viaShuffle.orderBy("fahrt_bezeichner").drop("row_id").collect()
      assert(shuffleRows.toSeq == broadcastRows.toSeq)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  // Second station on the same timestamps but shifted measures: a join that
  // ignores station_id would fan rows out ×2 and/or attach ZRH's weather.
  private val weather2 = weather.unionByName(
    weather.select(
      (lit("ZRH").as("station_id") +: weather.columns.tail.map(c =>
        if (c == "temp_c") (col("temp_c") + 100).as("temp_c") else col(c))): _*))

  private val mapping = Seq(("s1", "GVE"), ("s2", "ZRH"))
    .toDF("stop_code", "station_id")

  test("mapping strategy: multi-station weather joins per-station, no fan-out") {
    val strict = FeaturesEvents.build(events, weather2, FeaturesEvents.MappingTable(mapping))
      .orderBy("fahrt_bezeichner").collect()
    assert(strict.length == 3) // no row multiplication
    assert(strict(0).getAs[Double]("temp_c") == 20.0)  // s1 → GVE
    assert(strict(2).getAs[Double]("temp_c") == 122.0) // s2 → ZRH (22 + 100)

    val asof = FeaturesEvents.build(events, weather2, FeaturesEvents.MappingTable(mapping), asof = true)
      .orderBy("fahrt_bezeichner").collect()
    assert(asof.length == 3)
    assert(asof(0).getAs[Double]("temp_c") == 20.0)    // GVE 10:00
    assert(asof(1).getAs[Double]("temp_c") == 21.0)    // GVE 10:08, 120 s fresh
    assert(asof(2).getAs[Double]("temp_c") == 122.0)   // ZRH 10:20
    assert(asof(2).getAs[String]("weather_station_id") == "ZRH")
  }

  test("asof plan shuffles on hash(station, bucket), not SinglePartition") {
    val plan = FeaturesEvents.build(events, weather,
      FeaturesEvents.ExplicitStation("GVE"), asof = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning"))
    assert(!plan.contains("SinglePartition"))
  }
}
