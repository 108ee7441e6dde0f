package graft

import org.apache.spark.sql.functions._
import graft.operators.{Asof, Dedupe, Merge, Quantiles, SkewProfile}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("quantileCont ≡ built-in exact percentile (ties, dups, interpolation)") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 5000).map { i =>
      val g = "g" + (i % 3)
      // duplicates + ties on purpose: values drawn from a small grid
      val v = math.floor(rnd.nextDouble() * 40) / 4.0
      (g, v)
    }.toDF("g", "v")
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val viaOp = Quantiles.quantileCont(df, "g", "v", ps.map(p => p -> s"q$p"))
      .collect().map(r => r.getString(0) -> ps.indices.map(i => r.getDouble(i + 1))).toMap
    val viaBuiltin = df.groupBy($"g")
      .agg(ps.map(p => percentile($"v", lit(p)).as(s"q$p")).head,
        ps.map(p => percentile($"v", lit(p)).as(s"q$p")).tail: _*)
      .collect().map(r => r.getString(0) -> ps.indices.map(i => r.getDouble(i + 1))).toMap
    assert(viaOp.keySet == viaBuiltin.keySet)
    viaOp.keySet.foreach { g =>
      viaOp(g).zip(viaBuiltin(g)).foreach { case (a, b) => assert(a == b, s"$g: $a != $b") }
    }
  }

  test("topOnePerKey keeps the priority maximum, deterministically") {
    val df = Seq(
      ("k1", 1, "low"), ("k1", 3, "high"), ("k1", 2, "mid"),
      ("k2", 5, "only")).toDF("k", "p", "tag")
    val got = Dedupe.topOnePerKey(df, Seq($"k"), Seq($"p".desc, $"tag".asc))
      .orderBy("k").collect()
    assert(got.map(_.getString(2)).sameElements(Array("high", "only")))
  }

  test("topOnePerKey tie-break via final unique column is stable") {
    val df = Seq(("k", 1, "a"), ("k", 1, "b")).toDF("k", "p", "id")
    val got = Dedupe.topOnePerKey(df, Seq($"k"), Seq($"p".desc, $"id".asc)).collect()
    assert(got.length == 1 && got(0).getString(2) == "a")
  }

  test("topKPerKey caps each key at k, keeps priority order, plans a group limit") {
    val df = Seq(
      ("s1", 1L, 10L), ("s1", 2L, 30L), ("s1", 3L, 20L), ("s1", 4L, 30L),
      ("s2", 5L, 5L)).toDF("src", "id", "len")
    val capped = Dedupe.topKPerKey(
      df, Seq($"src"), Seq($"len".desc, $"id".asc), k = 2)
    // s1's top-2 by (len desc, id asc): id 2 (30) then id 4 (30); s2 intact
    assert(capped.orderBy("src", "id").select("id").as[Long].collect()
      .sameElements(Array(2L, 4L, 5L)))
    // k larger than any group is the identity
    assert(Dedupe.topKPerKey(df, Seq($"src"), Seq($"id".asc), k = 99)
      .count() == df.count())
    assert(intercept[IllegalArgumentException](
      Dedupe.topKPerKey(df, Seq($"src"), Seq($"id".asc), 0))
      .getMessage.contains("k >= 1"))
    // the scale claim: Catalyst turns the rank filter into a map-side
    // WindowGroupLimit so the exchange carries at most k rows per key per
    // input partition
    assert(capped.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"))
  }

  test("native percentile_array ≡ built-in percentile (incl. null groups)") {
    val rnd = new scala.util.Random(11)
    val df = ((1 to 5000).map { i =>
      val g = "g" + (i % 4)
      val v: java.lang.Double =
        if (i % 17 == 0) null else math.floor(rnd.nextDouble() * 80) / 8.0
      (g, v)
    } :+ (("gnull", null: java.lang.Double))).toDF("g", "v")
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val native = df.groupBy($"g")
      .agg(graft.functions.NativeAgg.percentileArray($"v", ps).as("pa"))
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[Double](1)).map(_.toSeq)).toMap
    val builtin = df.groupBy($"g")
      .agg(ps.map(p => percentile($"v", lit(p)).as(s"p$p")).head,
        ps.map(p => percentile($"v", lit(p)).as(s"p$p")).tail: _*)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(ps.indices.map(i => r.getDouble(i + 1)).toSeq))).toMap
    assert(native.keySet == builtin.keySet)
    native.keySet.foreach(g => assert(native(g) == builtin(g), s"group $g"))
    assert(native("gnull").isEmpty) // all-NULL group → NULL, like the built-in
  }

  test("medianDedupe: exact per-column median, NULLs skipped") {
    val df = Seq(
      ("s", "t", Some(20.0), Some(0.0)),
      ("s", "t", Some(22.0), Some(0.4)),
      ("s", "t", Some(21.0), None))
      .toDF("station", "ts", "temp", "rain")
    val got = Dedupe.medianDedupe(df, Seq("station", "ts"), Seq("temp", "rain")).collect()(0)
    assert(got.getDouble(2) == 21.0)
    assert(got.getDouble(3) == 0.2)
  }

  test("asof join: <= semantics, staleness edges inclusive, deterministic ties") {
    val left = Seq(
      (1L, "u", "2024-06-01 10:00:00"),
      (2L, "u", "2024-06-01 10:04:00"),
      (3L, "u", "2024-06-01 10:09:01"),
      (4L, "u", "2024-06-01 09:00:00"))
      .toDF("id", "k", "ts").withColumn("ts", to_timestamp($"ts"))
    val right = Seq(
      ("u", "2024-06-01 10:00:00", 100L),
      ("u", "2024-06-01 10:04:00", 200L),
      ("u", "2024-06-01 10:04:00", 201L))
      .toDF("k", "ts", "rid").withColumn("ts", to_timestamp($"ts"))
    val got = Asof.join(left, right, Seq("k"), "ts", "ts",
      Map("rid" -> "matched_rid"), rightTieBreak = "rid", toleranceUs = Some(300000000L))
      .orderBy("id")
      .select("id", "matched_rid")
      .collect()
    // id=1: right at exactly same ts matches (<=); id=2: tie on ts → max rid;
    // id=3: 10:04 is 301 s before 10:09:01 → stale → null; id=4: nothing before
    assert(got(0).getLong(1) == 100L)
    assert(got(1).getLong(1) == 201L)
    assert(got(2).isNullAt(1))
    assert(got(3).isNullAt(1))
  }

  test("asof join: NULL keys and NULL right times never match") {
    val left = Seq[(Long, String, String)](
      (1L, null, "2024-06-01 10:00:00"), // NULL-key left: preserved, NULL match
      (2L, "u", "2024-06-01 10:00:00"),  // only right row for u has a NULL time
      (3L, "w", "2024-06-01 10:00:00"))
      .toDF("id", "k", "ts").withColumn("ts", to_timestamp($"ts"))
    val right = Seq[(String, String, Long)](
      (null, "2024-06-01 09:59:00", 99L), // NULL-key right: never a match
      ("u", null, 98L),                   // NULL-time right: never a match
      ("w", "2024-06-01 09:30:00", 1L))
      .toDF("k", "ts", "rid").withColumn("ts", to_timestamp($"ts"))
    val got = Asof.join(left, right, Seq("k"), "ts", "ts",
        Map("rid" -> "m"), rightTieBreak = "rid")
      .orderBy("id").select("id", "m", "asof_ts").collect()
    assert(got.length == 3)
    assert(got(0).isNullAt(1) && got(0).isNullAt(2)) // NOT rid 99
    assert(got(1).isNullAt(1) && got(1).isNullAt(2)) // NOT rid 98
    assert(got(2).getLong(1) == 1L)
  }

  test("nearestJoin: two-sided min-distance, backward-preferred ties, tolerance") {
    val left = Seq(
      (1L, "u", "2024-06-01 10:00:00"), // fwd 30 s beats back 60 s
      (2L, "u", "2024-06-01 10:10:00"), // equal 30 s both ways → backward wins
      (3L, "u", "2024-06-01 11:00:00"), // two right rows at dt = 0 → min rid
      (4L, "u", "2024-06-01 13:00:00"), // nearest is 60 min away → out of tol
      (5L, "w", "2024-06-01 10:00:00")) // no right rows for key
      .toDF("id", "k", "ts").withColumn("ts", to_timestamp($"ts"))
    val right = Seq(
      ("u", "2024-06-01 09:59:00", 1L),
      ("u", "2024-06-01 10:00:30", 2L),
      ("u", "2024-06-01 10:09:30", 3L),
      ("u", "2024-06-01 10:10:30", 4L),
      ("u", "2024-06-01 11:00:00", 5L),
      ("u", "2024-06-01 11:00:00", 6L),
      ("u", "2024-06-01 12:00:00", 7L))
      .toDF("k", "ts", "rid").withColumn("ts", to_timestamp($"ts"))
    val got = Asof.nearestJoin(left, right, Seq("k"), "ts", "ts",
        Map("rid" -> "m_rid"), rightTieBreak = "rid",
        toleranceUs = Some(30L * 60 * 1000000))
      .orderBy("id")
      .select("id", "m_rid", "nearest_dt_us")
      .collect()
    assert((got(0).getLong(1), got(0).getLong(2)) == ((2L, 30000000L)))
    assert((got(1).getLong(1), got(1).getLong(2)) == ((3L, -30000000L)))
    assert((got(2).getLong(1), got(2).getLong(2)) == ((5L, 0L)))
    assert(got(3).isNullAt(1) && got(3).isNullAt(2))
    assert(got(4).isNullAt(1) && got(4).isNullAt(2))
  }

  test("nearestJoin: NULL timestamps — right rows excluded, left rows null-matched") {
    val left = Seq[(Long, String, String)](
      (1L, "u", "2024-06-01 10:00:00"),
      (2L, "u", null)) // NULL left ts → row preserved, match NULL
      .toDF("id", "k", "ts").withColumn("ts", to_timestamp($"ts"))
    val right = Seq[(String, String, Long)](
      ("u", null, 99L), // NULL right ts must never surface as a match
      ("u", "2024-06-01 10:01:00", 1L))
      .toDF("k", "ts", "rid").withColumn("ts", to_timestamp($"ts"))
    val got = Asof.nearestJoin(left, right, Seq("k"), "ts", "ts",
        Map("rid" -> "m"), rightTieBreak = "rid")
      .orderBy("id").select("id", "m", "nearest_ts").collect()
    assert(got(0).getLong(1) == 1L)                    // real match, not rid 99
    assert(got(1).isNullAt(1) && got(1).isNullAt(2))   // NULL-ts left row kept
  }

  test("nearestJoin: NULL keys never match (SQL equi-join semantics)") {
    val left = Seq[(Long, String, String)](
      (1L, null, "2024-06-01 10:00:00"), // NULL-key left: preserved, NULL match
      (2L, "u", "2024-06-01 10:00:00"))
      .toDF("id", "k", "ts").withColumn("ts", to_timestamp($"ts"))
    val right = Seq[(String, String, Long)](
      (null, "2024-06-01 10:00:00", 99L), // NULL-key right: never a match
      ("u", "2024-06-01 10:01:00", 1L))
      .toDF("k", "ts", "rid").withColumn("ts", to_timestamp($"ts"))
    val got = Asof.nearestJoin(left, right, Seq("k"), "ts", "ts",
        Map("rid" -> "m"), rightTieBreak = "rid")
      .orderBy("id").select("id", "m").collect()
    assert(got(0).isNullAt(1)) // NOT rid 99 — NULL keys group but never match
    assert(got(1).getLong(1) == 1L)
  }

  test("nearestJoin law: with only-backward candidates it agrees with asof join") {
    val left = Seq((1L, "u", "2024-06-01 10:05:00"), (2L, "u", "2024-06-01 10:20:00"))
      .toDF("id", "k", "ts").withColumn("ts", to_timestamp($"ts"))
    val right = Seq(("u", "2024-06-01 10:00:00", 10L), ("u", "2024-06-01 10:04:00", 20L))
      .toDF("k", "ts", "rid").withColumn("ts", to_timestamp($"ts"))
    val near = Asof.nearestJoin(left, right, Seq("k"), "ts", "ts",
        Map("rid" -> "m"), rightTieBreak = "rid")
      .orderBy("id").select("m").collect().map(_.getLong(0))
    val asof = Asof.join(left, right, Seq("k"), "ts", "ts",
        Map("rid" -> "m"), rightTieBreak = "rid")
      .orderBy("id").select("m").collect().map(_.getLong(0))
    assert(near.sameElements(asof))
  }

  test("upsertByKey replaces matched keys and is idempotent") {
    val existing = Seq((1, "old"), (2, "old"), (3, "old")).toDF("k", "v")
    val incoming = Seq((2, "new"), (4, "new")).toDF("k", "v")
    val once = Merge.upsertByKey(existing, incoming, Seq("k"))
    val twice = Merge.upsertByKey(once, incoming, Seq("k"))
    val gotOnce = once.orderBy("k").collect().map(r => (r.getInt(0), r.getString(1)))
    val gotTwice = twice.orderBy("k").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(gotOnce.sameElements(Array((1, "old"), (2, "new"), (3, "old"), (4, "new"))))
    assert(gotTwice.sameElements(gotOnce))
  }

  test("one-pass flagged set-op counts ≡ intersect/except/union-distinct") {
    // q38's single-shuffle formulation vs Spark's literal set operators
    val aSide = Seq(1, 2, 2, 3, 5, 5).toDF("k")   // with duplicates
    val bSide = Seq(2, 3, 4, 4).toDF("k")
    val viaOps = Map(
      "inter" -> aSide.intersect(bSide).count(),
      "bNotA" -> bSide.except(aSide).count(),
      "union" -> aSide.union(bSide).distinct().count())
    val flagged = aSide.select($"k", lit(1).as("a"), lit(0).as("b"))
      .union(bSide.select($"k", lit(0).as("a"), lit(1).as("b")))
      .groupBy($"k").agg(max($"a").as("a"), max($"b").as("b"))
      .agg(
        sum($"a" * $"b").as("inter"),
        sum($"b" * (lit(1) - $"a")).as("bNotA"),
        count(lit(1)).as("union"))
      .collect()(0)
    assert(flagged.getAs[Long]("inter") == viaOps("inter"))
    assert(flagged.getAs[Long]("bNotA") == viaOps("bNotA"))
    assert(flagged.getAs[Long]("union") == viaOps("union"))
  }

  test("upsertByKeyRange deletes only inside each key's incoming window") {
    val existing = Seq(
      ("a", "2024-06-01 10:00:00", 1), ("a", "2024-06-01 11:00:00", 2),
      ("b", "2024-06-01 10:00:00", 3))
      .toDF("k", "ts", "v").withColumn("ts", to_timestamp($"ts"))
    val incoming = Seq(("a", "2024-06-01 09:30:00", 10), ("a", "2024-06-01 10:30:00", 11))
      .toDF("k", "ts", "v").withColumn("ts", to_timestamp($"ts"))
    val got = Merge.upsertByKeyRange(existing, incoming, "k", "ts")
      .orderBy("k", "ts").collect().map(_.getInt(2))
    // a@10:00 falls inside [09:30,10:30] → replaced; a@11:00 survives; b untouched
    assert(got.sameElements(Array(10, 11, 2, 3)))
  }

  test("range join ≡ theta join for ANY bin width; boundaries inclusive") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(11)
    val points = (1 to 800).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.ofEpochSecond(rnd.nextInt(500000).toLong, 0,
          java.time.ZoneOffset.UTC)))
    }.toDF("pid", "ts")
    val intervals = (1 to 60).map { j =>
      val s = rnd.nextInt(450000).toLong
      (j.toLong,
        java.sql.Timestamp.valueOf(java.time.LocalDateTime.ofEpochSecond(s, 0, java.time.ZoneOffset.UTC)),
        java.sql.Timestamp.valueOf(java.time.LocalDateTime.ofEpochSecond(s + rnd.nextInt(50000), 0, java.time.ZoneOffset.UTC)))
    }.toDF("iid", "start", "end")

    val theta = points.join(intervals, $"ts" >= $"start" && $"ts" <= $"end")
      .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(theta.nonEmpty)
    // correctness must not depend on the bin width (it only tunes cost):
    // smaller than, comparable to, and larger than the longest interval
    for (bin <- Seq(1000L, 50000L, 1000000L)) {
      val got = RangeJoin.pointInInterval(points, "ts", intervals, "start", "end", bin)
        .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == theta, s"binSeconds=$bin diverged")
    }

    // inclusive bounds at both ends, exclusive just outside
    val p2 = Seq((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 01:00:00")),
      (3L, ts("2023-12-31 23:59:59")), (4L, ts("2024-01-01 01:00:01")))
      .toDF("pid", "ts")
    val i2 = Seq((9L, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00")))
      .toDF("iid", "start", "end")
    val hits = RangeJoin.pointInInterval(p2, "ts", i2, "start", "end", 60)
      .select($"pid").collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L))

    // keyed variant: containment additionally requires the equal key —
    // equivalent to the theta join with the key conjunct
    val kp = points.withColumn("k", ($"pid" % 3).cast("int"))
    val ki = intervals.withColumn("k", ($"iid" % 3).cast("int"))
    val keyedTheta = kp.join(ki,
        kp("k") === ki("k") && $"ts" >= $"start" && $"ts" <= $"end")
      .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val keyedGot = RangeJoin.pointInInterval(kp, "ts", ki, "start", "end", 50000, keys = Seq("k"))
      .select($"pid", $"iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keyedGot == keyedTheta)
    assert(keyedGot.nonEmpty && keyedGot != theta) // the key genuinely filters
  }

  test("interval overlap join ≡ theta join; each pair exactly once at any bin width") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(13)
    def mk(n: Int, span: Int, maxLen: Int, pfx: String) = (1 to n).map { j =>
      val s = rnd.nextInt(span).toLong
      (j.toLong,
        java.sql.Timestamp.valueOf(java.time.LocalDateTime.ofEpochSecond(s, 0, java.time.ZoneOffset.UTC)),
        java.sql.Timestamp.valueOf(java.time.LocalDateTime.ofEpochSecond(s + rnd.nextInt(maxLen), 0, java.time.ZoneOffset.UTC)))
    }.toDF(s"${pfx}id", s"${pfx}s", s"${pfx}e")
    val a = mk(50, 400000, 60000, "a")
    val b = mk(70, 400000, 40000, "b")
    val theta = a.join(b, $"as" <= $"be" && $"bs" <= $"ae")
      .select($"aid", $"bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(theta.nonEmpty)
    for (bin <- Seq(5000L, 60000L, 900000L)) {
      // collect as a LIST: any duplicated pair (multi-bin double count)
      // would fail the size comparison even though the set matches
      val got = RangeJoin.intervalOverlap(a, "as", "ae", b, "bs", "be", bin)
        .select($"aid", $"bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.size == theta.size, s"binSeconds=$bin duplicated or dropped pairs")
      assert(got.toSet == theta, s"binSeconds=$bin diverged")
    }
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("skewProfile: heavy keys ranked, shares exact, NULL keys excluded") {
    import org.apache.spark.sql.functions._
    // key 1 → 60 rows, key 2 → 30, keys 3..12 → 1 each; plus 5 NULL rows
    val rows = Seq.fill(60)(Option(1L)) ++ Seq.fill(30)(Option(2L)) ++
      (3L to 12L).map(Option(_)) ++ Seq.fill(5)(Option.empty[Long])
    val df = rows.toDF("k").repartition(7)
    val p = SkewProfile.profile(df, "k", topK = 3).orderBy($"rank").collect()
    assert(p.length == 3)
    assert(p.map(_.getAs[Long]("key")).toSeq == Seq(1L, 2L, 3L))
    assert(p.map(_.getAs[Long]("cnt")).toSeq == Seq(60L, 30L, 1L))
    // NULLs excluded: 100 rows, 12 keys
    assert(p(0).getAs[Long]("n_rows") == 100L && p(0).getAs[Long]("n_keys") == 12L)
    assert(p(0).getAs[Double]("share4") == 0.6)
    assert(p(1).getAs[Double]("cum_share4") == 0.9)
    assert(p(2).getAs[Double]("cum_share4") == 0.91)
    // per-key count distribution: [60,30,1×10] → p50 = 1.0
    assert(p(0).getAs[Double]("p50_cnt") == 1.0)
    // rank ties (keys 3..12 all cnt=1) break on the key: rank 3 is key 3
    assert(p(2).getAs[Long]("rank") == 3L)
  }

  test("scd2: run compression, null-safe runs, intervals, single exchange") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Scd
    val df = Seq(
      (1L, 10L, 100L, Some("a")), // run 1: a
      (1L, 20L, 101L, Some("a")), //   compressed
      (1L, 30L, 102L, Some("b")), // run 2: b
      (1L, 40L, 103L, None),      // run 3: NULL is a tracked state
      (1L, 50L, 104L, None),      //   consecutive NULLs compress
      (1L, 60L, 105L, Some("a")), // run 4: back to a (a new version)
      (2L, 10L, 200L, None)       // key 2: single NULL run, current
    ).toDF("k", "t", "id", "attr")
    val h = Scd.scd2(df, Seq("k"), "t", Seq("id"), "attr")
      .orderBy("k", "version").collect()
    assert(h.map(r => (r.getAs[Long]("k"), r.getAs[Int]("version"),
      r.getAs[String]("attr"), r.getAs[Long]("valid_from"),
      Option(r.get(r.fieldIndex("valid_to"))),
      r.getAs[Boolean]("is_current"))).toSeq == Seq(
      (1L, 1, "a", 10L, Some(30L), false),
      (1L, 2, "b", 30L, Some(40L), false),
      (1L, 3, null, 40L, Some(60L), false),
      (1L, 4, "a", 60L, None, true),
      (2L, 1, null, 10L, None, true)))
    // the filter between the two window passes preserves the key
    // partitioning: exactly ONE shuffle in the whole plan
    val plan = Scd.scd2(df.repartition(5), Seq("k"), "t", Seq("id"), "attr")
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("\n")
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 hash Exchange, plan:\n$plan")
  }

  test("mad outliers: hampel fence flags the spike, breakdown survives a wild tail") {
    import spark.implicits._
    import graft.operators.Robust
    // group g: values 1..9 plus a spike of 100 — med 5 (of the 10 values:
    // interpolated 5.5), MAD of devs; the spike must flag, the body not.
    // group h: HALF the values are absurd (1e9) — the median/MAD fence
    // still centers on the sane half (50% breakdown), flagging the giants
    val df = ((1 to 9).map(i => ("g", i.toDouble)) :+ ("g", 100.0)) ++
      ((1 to 6).map(i => ("h", i.toDouble)) ++ (1 to 5).map(_ => ("h", 1e9)))
    val out = Robust.madOutliers(df.toDF("k", "v"), Seq("k"), "v")
    val gRows = out.filter(col("k") === "g").collect()
    assert(gRows.count(_.getAs[Boolean]("is_outlier")) == 1)
    assert(gRows.find(_.getAs[Boolean]("is_outlier")).get.getAs[Double]("v") == 100.0)
    val hRows = out.filter(col("k") === "h").collect()
    assert(hRows.filter(_.getAs[Boolean]("is_outlier"))
      .forall(_.getAs[Double]("v") == 1e9))
    assert(hRows.count(_.getAs[Boolean]("is_outlier")) == 5)
    // nulls are excluded, not flagged
    val withNull = Seq(("g", Some(1.0)), ("g", Some(2.0)), ("g", Some(3.0)),
      ("g", None)).toDF("k", "v")
    assert(Robust.madOutliers(withNull, Seq("k"), "v").count() == 3)
    // MAD = 0 (majority exact dups): ANY deviation flags — the standard
    // Hampel degenerate case, and a single-row group never flags itself
    val degenerate = Seq(("d", 5.0), ("d", 5.0), ("d", 5.0), ("d", 9.0),
      ("one", 42.0)).toDF("k", "v")
    val dOut = Robust.madOutliers(degenerate, Seq("k"), "v").collect()
    assert(dOut.filter(_.getAs[String]("k") == "d")
      .count(_.getAs[Boolean]("is_outlier")) == 1)
    assert(dOut.find(r => r.getAs[String]("k") == "d" &&
      r.getAs[Boolean]("is_outlier")).get.getAs[Double]("v") == 9.0)
    assert(!dOut.find(_.getAs[String]("k") == "one").get
      .getAs[Boolean]("is_outlier"))
  }

  test("winsorize: tails clip to the band, body passes through, nulls excluded") {
    import spark.implicits._
    import graft.operators.Robust
    // 1..20 in one group: p05/p95 interpolated bounds (1.95, 19.05);
    // 1 clips up, 20 clips down, everything else passes through
    val df = (1 to 20).map(i => ("g", i.toDouble)).toDF("k", "v")
    val w = Robust.winsorize(df, Seq("k"), "v", pLo = 0.05, pHi = 0.95)
      .collect().map(r => r.getAs[Double]("v") -> r.getAs[Double]("v_w")).toMap
    assert(math.abs(w(1.0) - 1.95) < 1e-12 && math.abs(w(20.0) - 19.05) < 1e-12)
    assert((2 to 19).forall(i => w(i.toDouble) == i.toDouble))
    // null values drop (not clipped to a bound)
    val withNull = Seq(("g", Some(1.0)), ("g", Some(2.0)), ("g", None))
      .toDF("k", "v")
    assert(Robust.winsorize(withNull, Seq("k"), "v").count() == 2)
  }

  test("scd2 multi-attribute: any-attr change opens a version, null-safe tuples") {
    import spark.implicits._
    import graft.operators.Scd
    val df = Seq(
      (1L, 10L, 100L, Some("a"), Some(1)),  // run 1: (a, 1)
      (1L, 20L, 101L, Some("a"), Some(1)),  //   compressed
      (1L, 30L, 102L, Some("a"), Some(2)),  // run 2: second attr changed
      (1L, 40L, 103L, Some("b"), Some(2)),  // run 3: first attr changed
      (1L, 50L, 104L, Some("b"), None),     // run 4: NULL field is a state
      (1L, 60L, 105L, Some("b"), None),     //   both-NULL fields compress
      (1L, 70L, 106L, Some("b"), Some(2))   // run 5: NULL → value reopens
    ).toDF("k", "t", "id", "a1", "a2")
    val h = Scd.scd2(df, Seq("k"), "t", Seq("id"), Seq("a1", "a2"))
      .orderBy("k", "version").collect()
    assert(h.map(r => (r.getAs[Int]("version"), r.getAs[String]("a1"),
      Option(r.get(r.fieldIndex("a2"))), r.getAs[Long]("valid_from"),
      Option(r.get(r.fieldIndex("valid_to"))),
      r.getAs[Boolean]("is_current"))).toSeq == Seq(
      (1, "a", Some(1), 10L, Some(30L), false),
      (2, "a", Some(2), 30L, Some(40L), false),
      (3, "b", Some(2), 40L, Some(50L), false),
      (4, "b", None, 50L, Some(70L), false),
      (5, "b", Some(2), 70L, None, true)))
    // single-attr overload is the one-element multi form (q100 unchanged)
    val single = Scd.scd2(df, Seq("k"), "t", Seq("id"), "a1")
      .orderBy("k", "version").collect()
    assert(single.map(_.getAs[String]("a1")).toSeq == Seq("a", "b"))
    // still one shuffle with the struct-packed change test
    val plan = Scd.scd2(df.repartition(5), Seq("k"), "t", Seq("id"),
      Seq("a1", "a2")).queryExecution.executedPlan.toString
    assert(plan.split("\n").count(_.contains("Exchange hashpartitioning")) == 1)
  }

  test("robustScale: median/IQR standardization; zero-IQR → NULL; NULL group kept") {
    import graft.operators.Robust
    import spark.implicits._
    // g: values 1..5 → med 3, q1 2, q3 4, iqr 2; rz(5) = 1.0, rz(1) = −1.0
    // z: constant → iqr 0 → rz NULL; NULL group key: its own slice
    val df = Seq[(String, java.lang.Double)](
      ("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("g", 5.0),
      ("z", 7.0), ("z", 7.0),
      (null, 10.0), (null, 20.0), (null, 30.0)
    ).toDF("k", "v")
    val out = Robust.robustScale(df, Seq("k"), "v").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Double]("v")) ->
        (r.getAs[Double]("med"), r.getAs[Double]("iqr"), Option(r.get(r.fieldIndex("rz")))))
      .toMap
    assert(out(("g", 5.0)) == ((3.0, 2.0, Some(1.0))))
    assert(out(("g", 1.0))._3.get.asInstanceOf[Double] == -1.0)
    assert(out(("g", 3.0))._3.get.asInstanceOf[Double] == 0.0)
    assert(out(("z", 7.0))._3.isEmpty)
    assert(out((null, 30.0))._1 == 20.0) // NULL slice got its own median
    assert(out.size == 9) // no row dropped (two ("z",7.0) collapse in the map)
  }

  test("ngramNovelty: disjoint → 1.0, contained → 0.0, partial hand case") {
    import graft.llm.Decontam
    import spark.implicits._
    val base = Seq(("a b c d", 0)).toDF("text", "x")
    // s1: both 4-grams unseen → 2/2; s2: the base's own gram → 0/1;
    // s3: one seen, one new → 1/2
    val snap = Seq(
      ("s1", "p q r s t"), ("s2", "a b c d"), ("s3", "a b c d e")
    ).toDF("src", "text")
    val out = Decontam.ngramNovelty(base, snap, "text", "src", n = 4)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_new"),
          r.getAs[Double]("novelty"))).toMap
    assert(out("s1") == ((2L, 2L, 1.0)))
    assert(out("s2") == ((1L, 0L, 0.0)))
    assert(out("s3") == ((2L, 1L, 0.5)))
  }

  // ------------------------------------------------ Quantiles.weightedQuantile

  test("weightedQuantile: weight mass moves the order statistic; unit weights reduce to unweighted") {
    // tail-heavy: w = (1,1,1,7) on v = 1..4 → W = 10, ⌈W/2⌉ = 5 → wmed = 4
    // head-heavy: w = (7,1,1,1) → cum (7,8,9,10) → wmed = 1, p90 (thr 9) = 3
    val df = Seq(
      ("tail", 1.0, 1.0), ("tail", 2.0, 1.0), ("tail", 3.0, 1.0), ("tail", 4.0, 7.0),
      ("head", 1.0, 7.0), ("head", 2.0, 1.0), ("head", 3.0, 1.0), ("head", 4.0, 1.0)
    ).toDF("g", "v", "w")
    val out = Quantiles.weightedQuantile(df, Seq("g"), col("v"), col("w"),
        ps = Seq((1, 2, "wmed"), (9, 10, "wp90")))
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("tail").getAs[Double]("wmed") == 4.0)
    assert(out("head").getAs[Double]("wmed") == 1.0)
    assert(out("head").getAs[Double]("wp90") == 3.0)

    val unit = (1 to 10).map(i => ("g", i.toDouble, 1.0)).toDF("g", "v", "w")
    val Array(u) = Quantiles.weightedQuantile(unit, Seq("g"), col("v"),
      col("w"), ps = Seq((1, 2, "wmed"))).collect()
    assert(u.getAs[Double]("wmed") == 5.0) // lower weighted order statistic

    // zero/negative/null weights are excluded, not treated as tiny mass
    val noisy = df.union(Seq(("tail", 0.5, 0.0), ("tail", 0.5, -3.0))
      .toDF("g", "v", "w"))
    val again = Quantiles.weightedQuantile(noisy, Seq("g"), col("v"),
        col("w"), ps = Seq((1, 2, "wmed")))
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Double]("wmed")).toMap
    assert(again("tail") == 4.0)
  }

  test("weightedQuantile: bucketed prefix sum chains across buckets, null group, constant group") {
    // 1..1000 unit weights spans the full 256-bucket equi-width range —
    // the global cumsum must chain each bucket's local sums through the
    // exclusive per-bucket offsets (a wrong offset shifts every rank)
    val wide = (1 to 1000).map(i => (Option("g"), i.toDouble, 1.0))
    // NULL group key exercises the null-safe (<=>) bounds/offset joins
    val nullg = (1 to 10).map(i => (Option.empty[String], i.toDouble, 1.0))
    // constant-value group: mx == mn → the single-bucket degenerate path
    val const = Seq((Option("c"), 5.0, 2.0), (Option("c"), 5.0, 3.0))
    val df = (wide ++ nullg ++ const).toDF("g", "v", "w")
    val out = Quantiles.weightedQuantile(df, Seq("g"), col("v"), col("w"),
        ps = Seq((1, 2, "wmed"), (3, 4, "wp75")))
      .collect().map(r => Option(r.getAs[String]("g")) -> r).toMap
    assert(out(Some("g")).getAs[Double]("wmed") == 500.0)
    assert(out(Some("g")).getAs[Double]("wp75") == 750.0)
    assert(out(None).getAs[Double]("wmed") == 5.0)
    assert(out(None).getAs[Double]("wp75") == 8.0) // ⌈3·10/4⌉ = 8
    assert(out(Some("c")).getAs[Double]("wmed") == 5.0)
    assert(out(Some("c")).getAs[Double]("wp75") == 5.0)
  }

  test("weightedQuantile: exact past the old 2^53 FP-division headroom") {
    // Scaled group weight just under 2^53, so num·W4 for num ≥ 2 exceeds
    // double precision — the zone where the pre-r13 threshold (an
    // exact-multiple FP division) could land one distinct value off at a
    // BOUNDARY-EXACT threshold. The cross-multiplied DECIMAL compare
    // (`cum·den ≥ num·W4`) is exact at any magnitude. Per-row weight
    // chosen so its double and scale-4 fix-point are both exact:
    // w = 300239975158.0 → w4 = 3002399751580000; W4 = 3·w4 =
    // 9007199254740000 (2^53 − 992); 2·W4 = 1.8·10¹⁶ > 2^53.
    val w = 300239975158.0
    val third = 3002399751580000L
    val df = Seq((1.0, w), (2.0, w), (3.0, w)).toDF("v", "w")
      .withColumn("g", lit("g"))
    val out = Quantiles.weightedQuantile(df, Seq("g"), col("v"), col("w"),
      ps = Seq((1, 2, "wmed"), (2, 3, "wp66"), (1, 1, "wmax"))).collect()
    assert(out.length == 1)
    // ⌈W/2⌉ = 3·third/2 (exact) — strictly inside the second third
    assert(out(0).getAs[Double]("wmed") == 2.0)
    // ⌈2W/3⌉ = 2·third = cum(v = 2) EXACTLY — the boundary case where a
    // ±1 FP threshold error would flip the answer to 3.0
    assert(out(0).getAs[Double]("wp66") == 2.0)
    // p = 1: threshold is the full W4 = cum(v = 3), again boundary-exact
    assert(out(0).getAs[Double]("wmax") == 3.0)
    assert(third * 3 == 9007199254740000L) // construction sanity
  }

  // ------------------------------------------------------ Quantiles.medianCI

  test("medianCI: binomial bracket ranks and order-statistic picks") {
    // n = 100, v = 1..100: lo = ⌊(100 − 19.6)/2⌋ = 40, hi = 61 →
    // CI [40, 61], median = (50 + 51)/2
    val big = (1 to 100).map(i => ("g", i.toDouble)).toDF("g", "v")
    val Array(r) = Quantiles.medianCI(big, Seq("g"), col("v")).collect()
    assert(r.getAs[Long]("lo_rank") == 40L && r.getAs[Long]("hi_rank") == 61L)
    assert(r.getAs[Double]("ci_lo") == 40.0 && r.getAs[Double]("ci_hi") == 61.0)
    assert(r.getAs[Double]("median") == 50.5)

    // tiny n clamps to the extremes (conservative bracket, documented)
    val small = Seq(("s", 1.0), ("s", 2.0), ("s", 3.0)).toDF("g", "v")
    val Array(t) = Quantiles.medianCI(small, Seq("g"), col("v")).collect()
    assert(t.getAs[Long]("lo_rank") == 1L && t.getAs[Long]("hi_rank") == 3L)
    assert(t.getAs[Double]("ci_lo") == 1.0 && t.getAs[Double]("ci_hi") == 3.0)
    assert(t.getAs[Double]("median") == 2.0)
  }

  // -------------------------------------------- Quantiles.sampleQuantileAudit

  test("sampleQuantileAudit: k >= n degenerates to exact order statistics") {
    // v = 0..100 in one group; k=256 samples everything → m = 101 and the
    // p=0.5 estimate is the 51st smallest = 50 with rank_le = 51
    val df = (0 to 100).map(i => ("g", i.toDouble, i.toLong)).toDF("g", "v", "id")
    val out = Quantiles.sampleQuantileAudit(df, Seq("g"), col("v"), col("id"),
        k = 256, ps = Seq(0.5, 0.9))
      .collect().map(r => r.getAs[Double]("p") -> r).toMap
    val med = out(0.5)
    assert(med.getAs[Long]("m") == 101L && med.getAs[Long]("n") == 101L)
    assert(med.getAs[Double]("est") == 50.0)
    assert(med.getAs[Long]("rank_le") == 51L)
    assert(math.abs(med.getAs[Double]("rank_err") - (51.0 / 101 - 0.5)) < 1e-12)
    assert(out(0.9).getAs[Double]("est") == 90.0)
  }

  test("sampleQuantileAudit: k < n estimates land near true quantiles, deterministically") {
    val df = (1 to 2000).map(i => ("g", i.toDouble, i.toLong)).toDF("g", "v", "id")
    val run = () => Quantiles.sampleQuantileAudit(df, Seq("g"), col("v"),
        col("id"), k = 64).collect()
      .map(r => (r.getAs[Double]("p"), r.getAs[Double]("est"),
        r.getAs[Double]("rank_err"))).sortBy(_._1)
    val a = run()
    assert(a.length == 4 && a.sameElements(run())) // deterministic
    // uniform ids → expected rank error ~ 1/√64 ≈ 0.125; assert a loose 3σ
    a.foreach { case (p, est, err) =>
      assert(err < 0.3, s"p=$p est=$est rank_err=$err")
      assert(est >= 1.0 && est <= 2000.0 && est == math.floor(est))
    }
  }
}
