package graft

import org.apache.spark.sql.functions._
import graft.functions.Macros

class MacrosSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): T =
    Seq(1).toDF("x").select(c.as("r")).collect()(0).getAs[T]("r")

  test("delayMinutes counts minute-boundary crossings, not elapsed/60") {
    // 10:04:50 → 10:06:30 is 100 s elapsed but crosses 2 minute boundaries
    val d = Seq(("2024-06-01 10:04:50", "2024-06-01 10:06:30")).toDF("sched", "est")
      .select(Macros.delayMinutes(to_timestamp($"est"), to_timestamp($"sched")).as("m"))
      .collect()(0).getDouble(0)
    assert(d == 2.0)
    // 59 s elapsed but no boundary crossed
    val d2 = Seq(("2024-06-01 10:04:01", "2024-06-01 10:05:00")).toDF("sched", "est")
      .select(Macros.delayMinutes(to_timestamp($"est"), to_timestamp($"sched")).as("m"))
      .collect()(0).getDouble(0)
    assert(d2 == 1.0)
    // negative (early) direction
    val d3 = Seq(("2024-06-01 10:05:00", "2024-06-01 10:04:59")).toDF("sched", "est")
      .select(Macros.delayMinutes(to_timestamp($"est"), to_timestamp($"sched")).as("m"))
      .collect()(0).getDouble(0)
    assert(d3 == -1.0)
  }

  test("bin boundaries: rain 0/0.5/2/5, wind 4/8/14/21, temp 0/10/20/30") {
    def bin(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column, v: Double): String =
      Seq(v).toDF("v").select(f($"v").as("b")).collect()(0).getString(0)
    assert(bin(Macros.rainBin, 0.0) == "no_rain")
    assert(bin(Macros.rainBin, 0.4999) == "drizzle")
    assert(bin(Macros.rainBin, 0.5) == "light")
    assert(bin(Macros.rainBin, 2.0) == "moderate")
    assert(bin(Macros.rainBin, 5.0) == "heavy")
    assert(bin(Macros.windBin, 3.999) == "calm")
    assert(bin(Macros.windBin, 4.0) == "breeze")
    assert(bin(Macros.windBin, 8.0) == "moderate")
    assert(bin(Macros.windBin, 14.0) == "fresh")
    assert(bin(Macros.windBin, 21.0) == "strong")
    assert(bin(Macros.tempBin, -0.01) == "<0")
    assert(bin(Macros.tempBin, 0.0) == "0-10")
    assert(bin(Macros.tempBin, 10.0) == "10-20")
    assert(bin(Macros.tempBin, 20.0) == "20-30")
    assert(bin(Macros.tempBin, 30.0) == ">=30")
    // NULL propagates
    val n = Seq(Option.empty[java.lang.Double]).toDF("v")
      .select(Macros.rainBin($"v").as("b")).collect()(0)
    assert(n.isNullAt(0))
  }

  test("floorBin10 lands on :00/:10 boundaries inclusively") {
    val bins = Seq("2024-06-01 10:00:00", "2024-06-01 10:09:59", "2024-06-01 10:10:00")
      .toDF("ts")
      .select(date_format(Macros.floorBin10(to_timestamp($"ts")), "HH:mm").as("b"))
      .collect().map(_.getString(0))
    assert(bins.sameElements(Array("10:00", "10:00", "10:10")))
  }

  test("robustBool: 1/true → true; 0/false/other/null → false") {
    val got = Seq("1", " true ", "TRUE", " TRUE ", "0", "false", "x", null)
      .toDF("v").select(Macros.robustBool($"v").as("b")).collect().map(_.getBoolean(0))
    assert(got.sameElements(Array(true, true, true, true, false, false, false, false)))
  }

  test("statusRank: REAL/IST=3 GESCHAETZT=2 PROGNOSE=1 other=0") {
    // full case maps, as the reference's pandas `str.strip().str.upper()`:
    // dotless i (U+0131) → I, long s (U+017F) → S, the st ligature (U+FB06) → ST
    val got = Seq("REAL", "ist", " \u0131st ", "PROGNO\u017FE", "I\uFB06", "GESCHAETZT", "PROGNOSE",
        "UNBEKANNT", null)
      .toDF("v").select(Macros.statusRank($"v").as("r")).collect().map(_.getInt(0))
    assert(got.sameElements(Array(3, 3, 3, 1, 3, 2, 1, 0, 0)))
  }

  test("hamming_distance native expression: eval, codegen span") {
    import graft.functions.HammingDistance
    val df = Seq(("10100000", "10011000"), ("1010", "10"))
      .toDF("a", "b")
      .select(HammingDistance.hamming($"a", $"b").as("d"))
    assert(df.collect().map(_.getInt(0)).sameElements(Array(3, 2)))
    // null propagation
    val n = Seq((Option.empty[String], Some("x"))).toDF("a", "b")
      .select(HammingDistance.hamming($"a", $"b").as("d")).collect()(0)
    assert(n.isNullAt(0))
    // stays inside whole-stage codegen (LocalRelation would constant-fold,
    // so anchor on a range scan)
    val plan = spark.range(3)
      .select(HammingDistance.hamming(concat($"id", lit("a")), lit("1a")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected whole-stage codegen marker in:\n$plan")
  }

  test("jaro_winkler native expression: DuckDB-pinned values, edges, codegen span") {
    import graft.functions.JaroWinklerSim
    // values pinned to DuckDB jaro_winkler_similarity output (bit-exact):
    // classic pairs, boost-threshold gate (jaro<=0.7 stays unboosted),
    // prefix cap 4, and the byte basis on multi-byte code points
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abcdef", "abzzzz", 0.5555555555555555), // jaro<=0.7: no boost despite prefix 2
      ("prefixaaaa", "prefixbbbb", 0.8400000000000001), // prefix capped at 4
      ("ab", "ba", 0.0),   // window 0: no matches
      ("a", "", 0.0),      // empty side scores 0
      ("", "", 0.0),       // DuckDB convention: empty-vs-empty is 0, not 1
      ("abcd", "abcd", 1.0),
      ("aé", "ae", 0.611111111111111)) // byte basis: é is 2 UTF-8 bytes
    val got = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
      .select(JaroWinklerSim.jaroWinkler($"a", $"b").as("jw"))
      .collect().map(_.getDouble(0))
    cases.zip(got).foreach { case ((a, b, want), g) =>
      assert(g == want, s"jw($a, $b): got $g want $want (must be bit-exact)")
    }
    // null propagation
    val n = Seq((Option.empty[String], Some("x"))).toDF("a", "b")
      .select(JaroWinklerSim.jaroWinkler($"a", $"b").as("jw")).collect()(0)
    assert(n.isNullAt(0))
    // stays inside whole-stage codegen
    val plan = spark.range(3)
      .select(JaroWinklerSim.jaroWinkler(concat($"id", lit("a")), lit("1a")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected whole-stage codegen marker in:\n$plan")
  }

  test("kmhToMs and month key") {
    val r = Seq(("3.6", "2024-06-01 10:00:00")).toDF("kmh", "ts")
      .select(
        Macros.kmhToMs($"kmh".cast("double")).as("ms"),
        Macros.monthKey(to_timestamp($"ts")).as("ym"))
      .collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getString(1) == "2024-06")
  }
}
