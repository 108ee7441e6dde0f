package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

import graft.operators.{Asof, Dedupe, Merge}
import graft.tpg.{IstdatenIngest, Schemas}

/** Property-style invariants (SURVEY §5.3) over a ScalaCheck-generated
  * dataset — one deterministic seed so failures are reproducible.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val gen = Gen.listOfN(400, for {
    k <- Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
    p <- Gen.choose(0, 5)
    ts <- Gen.choose(0L, 100000L)
    id <- Gen.choose(0, 1000000)
  } yield (k, p, ts, id))

  private val rows = gen.pureApply(Gen.Parameters.default, Seed(42L)).distinctBy(_._4)
  private lazy val df = rows.toDF("k", "p", "ts", "id")

  test("mixing: every realized copy count is floor(w) or floor(w)+1, totals within binomial bounds") {
    // weights spanning pure-down, identity, fractional-up, integer-up
    val weights = Seq("a" -> 0.3, "b" -> 1.0, "c" -> 1.7, "d" -> 3.0,
      "e" -> 0.0, "f" -> 2.2, "g" -> 0.9, "h" -> 1.5)
    val out = graft.llm.Mixing.upsampleMix(df, "id", "k", weights, defaultWeight = 1.0)
      .groupBy("id", "k").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("c")))
    val wMap = weights.toMap
    out.foreach { case (k, c) =>
      val base = math.floor(wMap(k)).toLong
      assert(c == base || c == base + 1, s"source $k realized $c copies for w=${wMap(k)}")
    }
    // every zero-weight row is gone; every w>=1 row survives
    val bySrc = out.groupBy(_._1).view.mapValues(_.length).toMap
    val inputBySrc = rows.groupBy(_._1).view.mapValues(_.length).toMap
    assert(!bySrc.contains("e"))
    Seq("b", "c", "d", "f", "h").foreach(k => assert(bySrc(k) == inputBySrc(k)))
  }

  test("sharding: positions are always a 1..n permutation and shards differ by at most one") {
    for (nShards <- Seq(1, 7, 16)) {
      val out = graft.llm.Sharding.shuffleShards(df, "id", nShards)
      val pos = out.select("pos").collect().map(_.getLong(0)).sorted
      assert(pos.toSeq == (1L to rows.length.toLong), s"broken permutation at $nShards shards")
      val sizes = out.groupBy("shard").count().collect().map(_.getAs[Long]("count"))
      assert(sizes.length == math.min(nShards, rows.length) && sizes.max - sizes.min <= 1)
    }
  }

  test("bottom-k: sample of a superset never swaps in a larger-hash member") {
    // growth stability: a member leaves the k-sample only because a
    // smaller-hash row arrived — so sample(small ∪ extra) ∩ small ⊆ sample(small)
    val small = df.filter($"id" % 2 === 0)
    val sampleSmall = graft.llm.Splits.bottomK(small, "id", "k", 5)
      .select("id").collect().map(_.getInt(0)).toSet
    val sampleAll = graft.llm.Splits.bottomK(df, "id", "k", 5)
      .select("id").collect().map(_.getInt(0)).toSet
    val smallIds = rows.filter(_._4 % 2 == 0).map(_._4).toSet
    assert((sampleAll & smallIds).subsetOf(sampleSmall))
  }

  test("dedupe: exactly one row per key, and it is a priority maximum") {
    val got = Dedupe.topOnePerKey(df, Seq($"k"),
      Seq($"p".desc, $"ts".desc, $"id".asc)).collect()
    val byKey = rows.groupBy(_._1)
    assert(got.length == byKey.size)
    got.foreach { r =>
      val (k, p, ts, id) = (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3))
      val expected = byKey(k).minBy { case (_, pp, tt, ii) => (-pp, -tt, ii) }
      assert((k, p, ts, id) == expected, s"wrong pick for key $k")
    }
  }

  test("istdaten dedupe keeps one of each exact copy without a distinct() pass") {
    // Small domains so rows often share a business key and tie on the early
    // priority terms; stop_name (the last term) is unique per distinct row,
    // so two rows tie on the key and every priority term only when they are
    // exact copies, and the pick is deterministic.
    def opt[T](g: Gen[T]): Gen[Option[T]] = Gen.frequency(3 -> g.map(Some(_)), 1 -> Gen.const(None))
    val minute = Gen.choose(0, 3).map(m => f"2024-06-01 10:0$m%d:00")
    val status = Gen.oneOf("REAL", "IST", "GESCHAETZT", "PROGNOSE", "UNBEKANNT")
    val baseGen = Gen.listOfN(300, for {
      day <- Gen.oneOf("2024-06-01", "2024-06-02")
      fahrt <- Gen.oneOf("85:889:1", "85:889:2")
      stop <- Gen.oneOf("8587057", "8587058")
      line <- opt(Gen.oneOf("12", "15"))
      arrSched <- opt(minute)
      arrEst <- opt(minute)
      arrStatus <- opt(status)
      depSched <- opt(minute)
      depEst <- opt(minute)
      depStatus <- opt(status)
      flags <- Gen.listOfN(3, Gen.oneOf(true, false))
    } yield (day, fahrt, line, stop, arrSched, arrEst, arrStatus, depSched, depEst,
      depStatus, flags))
    val base = baseGen.pureApply(Gen.Parameters.default, Seed(17L)).distinct
    val copies = Gen.listOfN(base.length, Gen.choose(1, 3))
      .pureApply(Gen.Parameters.default, Seed(18L))
    val withCopies = base.zipWithIndex.zip(copies).flatMap {
      case (((day, fahrt, line, stop, aS, aE, aSt, dS, dE, dSt, flags), i), n) =>
        Seq.fill(n)((day, fahrt, "TPG", "Bus", line, s"stop-$i", stop, aS, aE, aSt,
          dS, dE, dSt, flags(0), flags(1), flags(2)))
    }
    assert(withCopies.length > base.length)
    val events = withCopies.toDF(Schemas.istEvents.fieldNames.toSeq: _*)
      .transform(Schemas.project(Schemas.istEvents))
    val got = IstdatenIngest.dedupe(events)
    val distinctFirst = IstdatenIngest.dedupe(events.distinct())
    assert(got.count() == distinctFirst.count())
    assert(got.exceptAll(distinctFirst).isEmpty && distinctFirst.exceptAll(got).isEmpty)
  }

  test("upsert: run-twice ≡ run-once (idempotent), keys unioned exactly") {
    val existing = df.filter($"id" % 3 =!= 0).select($"id", $"p")
    val incoming = df.filter($"id" % 2 === 0).select($"id", ($"p" + 100).as("p"))
    val once = Merge.upsertByKey(existing, incoming, Seq("id"))
    val twice = Merge.upsertByKey(once, incoming, Seq("id"))
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
    // every incoming key carries the incoming value
    assert(once.join(incoming.select("id"), Seq("id"), "left_semi")
      .filter($"p" < 100).count() == 0)
  }

  test("bucketed asof ≡ unbucketed asof whenever tolerance ≤ bucket width") {
    val left = df.select($"k", timestamp_seconds($"ts").as("ts"), $"id")
    val right = df.filter($"p" >= 3)
      .select($"k", timestamp_seconds($"ts" - 10).as("ts"), $"id".as("rid"))
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select($"id", $"asof_ts".cast("long"), $"matched_rid")
        .collect().map(_.toString).sorted.toSeq
    for (tol <- Seq(60L, 600L, 3600L)) {
      val plain = Asof.join(left, right, Seq("k"), "ts", "ts",
        Map("rid" -> "matched_rid"), rightTieBreak = "rid", toleranceUs = Some(tol * 1000000L))
      val bucketed = Asof.joinBucketed(left, right, Seq("k"), "ts", "ts",
        Map("rid" -> "matched_rid"), rightTieBreak = "rid", toleranceUs = tol * 1000000L,
        bucketSeconds = tol)
      assert(norm(bucketed) == norm(plain), s"tolerance $tol diverged")
    }
  }

  test("packing: per-shard net waste under one budget quantum, rows conserved") {
    import graft.llm.Packing
    // skewed token counts across a few shards — boundary-crossing docs,
    // sub-budget docs, and docs larger than the whole budget all appear
    val docGen = Gen.listOfN(300, for {
      shard <- Gen.choose(0, 3)
      toks <- Gen.frequency(8 -> Gen.choose(1L, 400L), 2 -> Gen.choose(900L, 2600L))
    } yield (shard, toks))
    val docs = docGen.pureApply(Gen.Parameters.default, Seed(11L))
      .zipWithIndex.map { case ((sh, t), i) => (i.toLong, sh, t) }
      .toDF("doc_id", "shard", "toks")
    val budget = 1024L
    val packed = Packing.packGreedy(docs, "toks", budget, "shard", "doc_id")
    // every document lands in exactly one bin
    assert(packed.count() == 300 && packed.filter($"bin_seq".isNull).count() == 0)
    val stats = Packing.binStats(packed, "toks", budget, "shard").collect()
    val byShard = stats.groupBy(_.getAs[Int]("shard"))
    byShard.foreach { case (sh, bins) =>
      val total = bins.map(_.getAs[Long]("sum_tokens")).sum
      // bin count meets the capacity lower bound: nBins * budget < total + budget
      // ⟺ nBins ≤ ceil(total/budget) — net waste under one budget quantum
      assert(bins.length * budget < total + budget,
        s"shard $sh: ${bins.length} bins for $total tokens wastes ≥ one budget")
      // waste column = underfill, never negative, consistent with sum_tokens
      bins.foreach { b =>
        val w = b.getAs[Long]("waste")
        assert(w == math.max(0L, budget - b.getAs[Long]("sum_tokens")))
      }
    }
  }

  test("numeric-stats family: r4-rounded moments are partitioning-invariant") {
    // q47's stddev/var/corr/covar stay double (Welford-merged, so the raw
    // last-ulp depends on partition merge order); the r4 rounding is the
    // tolerance story. This pins it empirically: identical rounded results
    // across partitionings that force different merge trees, on seeded
    // money-shaped data (2-decimal values like the lineitem columns).
    val rnd = new scala.util.Random(4747L)
    val moneyRows = Seq.fill(3000)((
      "g" + rnd.nextInt(3),
      math.floor(rnd.nextDouble() * 5000 + 0.5) / 100.0,   // 2-dec "price"
      math.floor(rnd.nextDouble() * 10000 + 0.5) / 100.0)) // 2-dec "qty"
    val base = moneyRows.toDF("g", "x", "y")
    def stats(parts: Int) = base.repartition(parts)
      .groupBy($"g")
      .agg(
        (floor(stddev_samp($"x") * 10000 + 0.5) / 10000).as("sd"),
        (floor(var_samp($"y") * 10000 + 0.5) / 10000).as("vr"),
        (floor(corr($"x", $"y") * 10000 + 0.5) / 10000).as("co"),
        (floor(covar_samp($"x", $"y") * 10000 + 0.5) / 10000).as("cv"))
      .orderBy($"g").collect().toSeq.map(_.toSeq)
    val ref = stats(1) // single partition: one sequential Welford pass
    Seq(3, 8, 17).foreach { n =>
      assert(stats(n) == ref, s"moments drifted past r4 at $n partitions")
    }
    // exactly-on-the-boundary dyadics stay deterministic: var_samp({0,1})
    // is exactly 0.5, so x·10⁴ + 0.5 = 5000.5 exactly and floor is exact
    // in ANY engine — boundary values that are representable are safe;
    // only irrational moments rely on the merge-order argument above.
    val edge = Seq(("a", 0.0), ("a", 1.0)).toDF("g", "x")
      .groupBy($"g").agg((floor(var_samp($"x") * 10000 + 0.5) / 10000).as("v"))
      .collect()(0).getDouble(1)
    assert(edge == 0.5)
  }

  test("asof join preserves left row count exactly (left-join law)") {
    val left = df.select($"k", timestamp_seconds($"ts").as("ts"), $"id")
    val right = df.filter($"p" >= 3)
      .select($"k", timestamp_seconds($"ts" - 10).as("ts"), $"id".as("rid"))
    val joined = Asof.join(left, right, Seq("k"), "ts", "ts",
      Map("rid" -> "matched_rid"), rightTieBreak = "rid", toleranceUs = Some(1000000000L))
    assert(joined.count() == left.count())
    // every match is truly at-or-before and within tolerance
    val bad = joined.filter($"asof_ts".isNotNull &&
      ($"asof_ts" > $"ts" || unix_micros($"ts") - unix_micros($"asof_ts") > 1000000000L))
    assert(bad.count() == 0)
  }

  test("jaro-winkler kernel: range, symmetry, identity, monotone boost laws") {
    import graft.functions.JaroKernels
    import org.apache.spark.unsafe.types.UTF8String
    def jw(a: String, b: String): Double =
      JaroKernels.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))
    val strGen = Gen.listOfN(600, for {
      la <- Gen.choose(0, 10)
      lb <- Gen.choose(0, 10)
      a <- Gen.stringOfN(la, Gen.oneOf('a', 'b', 'c', 'x'))
      b <- Gen.stringOfN(lb, Gen.oneOf('a', 'b', 'c', 'x'))
    } yield (a, b))
    val pairs = strGen.pureApply(Gen.Parameters.default, Seed(7L))
    pairs.foreach { case (a, b) =>
      val s = jw(a, b)
      assert(s >= 0.0 && s <= 1.0, s"jw($a,$b)=$s out of range")
      assert(s == jw(b, a), s"jw not symmetric on ($a,$b)")
      // the jaro core (pre-boost) never exceeds the boosted score
      val j = JaroKernels.jaro(UTF8String.fromString(a), UTF8String.fromString(b))
      assert(s >= j, s"boost lowered the score on ($a,$b)")
      if (a.nonEmpty) assert(jw(a, a) == 1.0, s"jw($a,$a) != 1")
    }
  }

  test("triangles: compact-forward counts ≡ brute force on random graphs") {
    // 10 random graphs on ≤ 12 nodes (dense enough to force wedges through
    // every orientation case), each checked node-for-node against an O(n³)
    // enumeration; inputs include duplicate and reversed edges
    val graphs = Gen.listOfN(10, Gen.listOfN(30, for {
      a <- Gen.choose(1L, 12L)
      b <- Gen.choose(1L, 12L)
    } yield (a, b))).pureApply(Gen.Parameters.default, Seed(11L))
    graphs.zipWithIndex.foreach { case (edges, gi) =>
      val und = edges.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
      val nodes = adj.keys.toSeq.sorted
      val brute = scala.collection.mutable.Map.empty[Long, Long]
      for {
        i <- nodes; j <- nodes if i < j && adj(i)(j)
        l <- nodes if j < l && adj(i)(l) && adj(j)(l)
      } Seq(i, j, l).foreach(n => brute(n) = brute.getOrElse(n, 0L) + 1L)
      val got = graft.llm.GraphRank
        .triangleTopK(edges.toDF("src", "dst"), "src", "dst", k = 20)
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("tri_cnt"))
        .toMap
      assert(got == brute.toMap, s"graph $gi: $got != $brute (edges $und)")
    }
  }

  test("round-11 eval/drift statistics are partitioning-invariant (exact long paths)") {
    // ndcg/psi/kappa/brier/cusum all route their accumulations through
    // exact LONG arithmetic (scale-8/scale-4 fixed point, cleared
    // rationals), so unlike the r4-tolerance moments family above these
    // must be BIT-identical across merge trees — pin it on seeded data.
    val rnd = new scala.util.Random(1111L)
    val evalRows = Seq.fill(2000)((
      "g" + rnd.nextInt(4),
      rnd.nextInt(100000).toLong,                           // doc/tie id
      math.floor(rnd.nextDouble() * 10000 + 0.5) / 100.0,   // score / value
      rnd.nextInt(4).toDouble,                              // graded rel
      rnd.nextDouble() < 0.4,                               // boolean side
      math.floor(rnd.nextDouble() * 100 + 0.5) / 100.0      // probability
    )).distinctBy(t => (t._1, t._2))
    val base = evalRows.toDF("g", "id", "v", "rel", "flag", "p")
    def run(parts: Int): Seq[Seq[Any]] = {
      val d = base.repartition(parts)
      val ndcg = graft.operators.Eval.ndcgAtK(d, Seq("g"), col("v"),
        col("rel"), k = 10, tieCol = col("id"))
      val kappa = graft.operators.Eval.cohenKappa(d, Seq("g"),
        pmod(col("id"), lit(3L)), pmod(col("id"), lit(5L)))
      val brier = graft.operators.Eval.brierCalibration(d, Seq("g"),
        col("p"), col("flag"))
      val psi = graft.llm.Drift.psi(d, Seq("g"), col("v"), col("flag"))
      val cus = graft.llm.Drift.cusum(d, Seq("g"), col("id"), col("v"),
        tieCols = Seq(col("id")))
      (ndcg.orderBy("g").collect() ++ kappa.orderBy("g").collect() ++
        brier.orderBy("g", "bin").collect() ++ psi.orderBy("g").collect() ++
        cus.orderBy("g").collect()).toSeq.map(_.toSeq)
    }
    val ref = run(1)
    Seq(3, 8, 17).foreach { n =>
      assert(run(n) == ref, s"round-11 statistics drifted at $n partitions")
    }
  }

  test("continuation statistics (welch/chi2/MI/bootstrap/hellinger/KM/logrank/RBO) are partitioning-invariant") {
    // same discipline as above for the q150–q165 family: every
    // accumulation is exact LONG/DECIMAL fixed-point or an md5 ladder,
    // so outputs must be BIT-identical across merge trees
    val rnd = new scala.util.Random(2222L)
    val rows = Seq.fill(2000)((
      "g" + rnd.nextInt(4),
      rnd.nextInt(100000).toLong,
      math.floor(rnd.nextDouble() * 10000 + 0.5) / 100.0,
      rnd.nextDouble() < 0.5,
      1L + rnd.nextInt(500)
    )).distinctBy(t => (t._1, t._2))
    val base = rows.toDF("g", "id", "v", "flag", "dur")
    def run(parts: Int): Seq[Seq[Any]] = {
      val d = base.repartition(parts)
      val welch = graft.operators.Eval.welchT(d, Seq("g"), col("v"), col("flag"))
      val chi2 = graft.operators.Eval.chiSquare(d, Seq("g"),
        pmod(col("id"), lit(3L)), pmod(col("id"), lit(5L)))
      val mi = graft.operators.Eval.mutualInfo(d, Seq("g"),
        pmod(col("id"), lit(3L)), pmod(col("id"), lit(5L)))
      val boot = graft.operators.Bootstrap.meanCI(d, Seq("g"), col("v"),
        col("id"), reps = 20)
      val hel = graft.llm.Drift.hellinger(d, Seq("g"), col("v"), col("flag"))
      val km = graft.operators.Survival.kaplanMeier(d, Seq("g"), col("dur"),
        col("flag"))
      val lr = graft.operators.Survival.logRank(d, Seq("g"), col("dur"),
        col("flag"), pmod(col("id"), lit(2L)) === 0)
      val rboA = d.filter(col("flag"))
        .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
          .Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))))
        .filter(col("rk") <= 20).select(col("id"), col("rk"))
      val rboB = d.filter(!col("flag"))
        .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
          .Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))))
        .filter(col("rk") <= 20).select(col("id"), col("rk"))
      val rbo = graft.operators.Eval.rankBiasedOverlap(rboA, rboB, "id", "rk")
      (welch.orderBy("g").collect() ++ chi2.orderBy("g").collect() ++
        mi.orderBy("g").collect() ++ boot.orderBy("g").collect() ++
        hel.orderBy("g").collect() ++ km.orderBy("g", "t").collect() ++
        lr.orderBy("g").collect() ++ rbo.collect()).toSeq.map(_.toSeq)
    }
    val ref = run(1)
    Seq(3, 8, 17).foreach { n =>
      assert(run(n) == ref, s"continuation statistics drifted at $n partitions")
    }
  }

  test("round-12 continuation statistics (q186-q217 family) are partitioning-invariant") {
    // the agreement/rank/classification/time-series/lexicon additions all
    // accumulate through exact LONG/DECIMAL fixed point (or single double
    // tails of exact integers), so outputs must be BIT-identical across
    // merge trees — same discipline as the two laws above
    val rnd = new scala.util.Random(3333L)
    val rows = Seq.fill(2000)((
      "g" + rnd.nextInt(4),
      rnd.nextInt(100000).toLong,
      math.floor(rnd.nextDouble() * 10000 + 0.5) / 100.0,
      math.floor(rnd.nextDouble() * 10000 + 0.5) / 100.0,
      rnd.nextDouble() < 0.5,
      "l" + rnd.nextInt(3),
      1L + rnd.nextInt(200),
      (0 until 5).map(_ => "w" + rnd.nextInt(60)).mkString(" ")
    )).distinctBy(t => (t._1, t._2))
    val base = rows.toDF("g", "id", "v", "v2", "flag", "lvl", "dur", "text")
    val edgeRows = Seq.fill(600)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val commRows = (0L until 40L).map(n => (n, "c" + n % 5))
    def run(parts: Int): Seq[Seq[Any]] = {
      import graft.operators.{Eval, Profile, Smooth, Survival}
      val d = base.repartition(parts)
      val edges = edgeRows.toDF("src", "dst").repartition(parts)
      val comms = commRows.toDF("node", "comm")
      val outs = Seq(
        Eval.fleissKappa(d, Seq("g"), pmod(col("id"), lit(7L)),
          pmod(col("id"), lit(3L))).orderBy("g"),
        Eval.kruskalWallis(d, Seq("g"), col("v"), col("lvl")).orderBy("g"),
        Eval.wilcoxonSignedRank(d, Seq("g"), col("v"), col("v2")).orderBy("g"),
        Eval.brownForsythe(d, Seq("g"), col("v"), col("lvl")).orderBy("g"),
        Eval.kendallTauB(d, Seq("g"), floor(col("v") / 10).cast("long"),
          floor(col("v2") / 10).cast("long")).orderBy("g"),
        Eval.f1Scores(d, Seq("g"), col("lvl"),
          concat(lit("l"), pmod(col("id"), lit(3L)))).orderBy("g"),
        Eval.liftGains(d, Seq("g"), col("flag"), col("v"), col("id"),
          buckets = 5).orderBy("g", "bucket"),
        Eval.uncertaintyCoeff(d, Seq("g"), col("lvl"),
          pmod(col("id"), lit(4L))).orderBy("g"),
        Eval.oddsRatio(d, Seq("g"), col("flag"), col("v") >= 50).orderBy("g"),
        Eval.cohensD(d, Seq("g"), col("v"), col("flag")).orderBy("g"),
        Eval.cochranArmitage(d, Seq("g"), floor(col("v") / 25).cast("long"),
          col("flag")).orderBy("g"),
        Eval.twoProportionZ(d, Seq("g"), col("v") >= 50, col("flag"))
          .orderBy("g"),
        Smooth.ccf(d, Seq("g"), col("id"), col("v"), col("v2"),
          tieCols = Seq("id"), maxLag = 2).orderBy("g"),
        Smooth.durbinWatson(d, Seq("g"), col("id"), col("v"),
          tieCols = Seq("id")).orderBy("g"),
        Smooth.seasonalNaiveEval(d, Seq("g"), col("id"), col("v"),
          tieCols = Seq("id"), season = 7).orderBy("g"),
        Survival.nelsonAalen(d, Seq("g"), col("dur"), col("flag"))
          .orderBy("g", "t"),
        Profile.fdViolations(d, Seq("g"), pmod(col("id"), lit(17L)),
          pmod(col("id"), lit(5L))).orderBy("g"),
        Profile.abcClassification(d, Seq("g"), col("lvl"), col("v"))
          .orderBy("g", "rnk"),
        graft.llm.TextAnalysis.vocabOverlap(d, Seq("g"), col("text"),
          col("flag")).orderBy("g"),
        graft.llm.TextAnalysis.vocabRichness(d, Seq("g"), col("text"))
          .orderBy("g"),
        graft.llm.GraphRank.modularity(edges, "src", "dst", comms,
          "node", "comm"),
        graft.llm.GraphRank.degreeAssortativity(edges, "src", "dst"))
      outs.flatMap(_.collect().toSeq).map(_.toSeq)
    }
    val ref = run(1)
    Seq(3, 8, 17).foreach { n =>
      assert(run(n) == ref, s"round-12 continuation statistics drifted at $n partitions")
    }
  }
}
