package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.operators.{Bootstrap, Eval, RecordLinkage, Sessionize}
import graft.llm.SetSimJoin

/** Evaluation statistics (AUC / Spearman / Gini), gap sessionization, and
  * the exact prefix-filter Jaccard join.
  */
class EvalOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // ------------------------------------------------------------ rocAuc

  test("rocAuc: hand-computed AUC, perfect and inverted separators") {
    // g=perfect: all positives score above all negatives → AUC 1.
    // g=inverted: all positives below all negatives → AUC 0.
    // g=mixed: pos {3, 1}, neg {2, 0}: pairs won 3>2,3>0,1>0 = 3 of 4 → 0.75.
    val df = Seq(
      ("perfect", true, 10.0), ("perfect", true, 9.0),
      ("perfect", false, 1.0), ("perfect", false, 2.0),
      ("inverted", true, 1.0), ("inverted", false, 5.0),
      ("mixed", true, 3.0), ("mixed", true, 1.0),
      ("mixed", false, 2.0), ("mixed", false, 0.0)
    ).toDF("g", "label", "score")
    val out = Eval.rocAuc(df, Seq("g"), col("label"), col("score"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("perfect") == ((2L, 2L, 1.0)))
    assert(out("inverted") == ((1L, 1L, 0.0)))
    assert(out("mixed") == ((2L, 2L, 0.75)))
  }

  test("rocAuc: score ties count half; single-class groups are NULL") {
    // pos at 1.0, neg at 1.0 (tied) and neg at 0.0: pairs = tie(½) + win(1)
    // of 2 pairs → 0.75.
    val df = Seq(
      ("t", true, 1.0), ("t", false, 1.0), ("t", false, 0.0),
      ("onlypos", true, 1.0), ("onlypos", true, 2.0)
    ).toDF("g", "label", "score")
    val rows = Eval.rocAuc(df, Seq("g"), col("label"), col("score"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)))).toMap
    assert(rows("t") == ((1L, 2L, Some(0.75))))
    assert(rows("onlypos") == ((2L, 0L, None)))
  }

  test("rocAuc excludes null scores and labels") {
    val df = Seq[(String, java.lang.Boolean, java.lang.Double)](
      ("g", true, 2.0), ("g", false, 1.0),
      ("g", null, 9.0), ("g", true, null)
    ).toDF("g", "label", "score")
    val Array(r) = Eval.rocAuc(df, Seq("g"), col("label"), col("score")).collect()
    assert((r.getLong(1), r.getLong(2), r.getDouble(3)) == ((1L, 1L, 1.0)))
  }

  // ---------------------------------------------------------- spearman

  test("spearman: monotone nonlinear → 1, reversed → -1, ties averaged") {
    // y = x³ is monotone in x: rho = 1 even though Pearson(x, y) < 1.
    val mono = (1 to 8).map(i => ("m", i.toDouble, math.pow(i.toDouble, 3)))
    val rev = (1 to 8).map(i => ("r", i.toDouble, -i.toDouble))
    val df = (mono ++ rev).toDF("g", "x", "y")
    val out = Eval.spearman(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(out("m") - 1.0) < 1e-12)
    assert(math.abs(out("r") + 1.0) < 1e-12)
  }

  test("spearman: constant side → NULL; pairwise null exclusion") {
    val df = Seq[(String, java.lang.Double, java.lang.Double)](
      ("c", 1.0, 5.0), ("c", 2.0, 5.0), ("c", 3.0, 5.0),
      ("n", 1.0, 1.0), ("n", 2.0, 2.0), ("n", null, 9.0), ("n", 3.0, null)
    ).toDF("g", "x", "y")
    val out = Eval.spearman(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), Option(r.get(2)))).toMap
    assert(out("c") == ((3L, None))) // zero rank variance in y
    assert(out("n")._1 == 2L && out("n")._2.isDefined)
  }

  // -------------------------------------------------------------- gini

  test("gini: equality → 0, total concentration → (n-1)/n, hand case") {
    val df = Seq(
      ("eq", 5.0), ("eq", 5.0), ("eq", 5.0), ("eq", 5.0),
      ("conc", 0.0), ("conc", 0.0), ("conc", 0.0), ("conc", 12.0),
      // sorted 1,2,3,4: G = (2·(1+4+9+16) − 5·10) / (4·10) = 10/40 = 0.25
      ("hand", 3.0), ("hand", 1.0), ("hand", 4.0), ("hand", 2.0)
    ).toDF("g", "v")
    val out = Eval.gini(df, Seq("g"), col("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(out("eq")) < 1e-12)
    assert(math.abs(out("conc") - 0.75) < 1e-12) // (n-1)/n with n=4
    assert(math.abs(out("hand") - 0.25) < 1e-12)
  }

  test("gini: zero-sum group → NULL; tie order does not matter") {
    val df = Seq(("z", 0.0), ("z", 0.0), ("t", 1.0), ("t", 1.0), ("t", 4.0))
      .toDF("g", "v")
    val out = Eval.gini(df, Seq("g"), col("v"))
      .collect().map(r => r.getString(0) -> Option(r.get(2))).toMap
    assert(out("z").isEmpty)
    // ties 1,1,4: G = (2·(1+2+12) − 4·6)/(3·6) = 6/18
    assert(math.abs(out("t").get.asInstanceOf[Double] - 6.0 / 18.0) < 1e-12)
  }

  // -------------------------------------------------------- sessionize

  test("sessionize: gap opens sessions, boundary gap continues, ties ordered") {
    val gap = 60L * 1000000 // 1 min in us
    val events = Seq(
      // u1: 3 events 30s apart (one session), then a 61s gap (new session)
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:00:30"), 2L),
      (1L, ts("2024-01-01 10:01:00"), 3L),
      (1L, ts("2024-01-01 10:02:01"), 4L),
      // u2: exactly-60s gap CONTINUES the session
      (2L, ts("2024-01-01 09:00:00"), 5L),
      (2L, ts("2024-01-01 09:01:00"), 6L)
    ).toDF("user_id", "ts", "event_id")
    val tagged = Sessionize.sessionize(events, "user_id", "ts", gap, Seq("event_id"))
      .select("user_id", "event_id", "session_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(tagged((1L, 1L)) == 1 && tagged((1L, 2L)) == 1 && tagged((1L, 3L)) == 1)
    assert(tagged((1L, 4L)) == 2)
    assert(tagged((2L, 5L)) == 1 && tagged((2L, 6L)) == 1)

    val summary = Sessionize
      .sessionSummary(events, "user_id", "ts", gap, Seq("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(5))).toMap
    assert(summary((1L, 1L)) == ((3L, 60000000L)))
    assert(summary((1L, 2L)) == ((1L, 0L)))
    assert(summary((2L, 1L)) == ((2L, 60000000L)))
  }

  test("sessionize law: session count ≡ session_window on boundary-landing data") {
    // An event EXACTLY gap after its predecessor: Spark's session_window
    // MERGES touching windows (probed: [10:00, 10:30, 10:30:01] is ONE
    // 3-event session under session_window("30 minutes")), so Sessionize's
    // strict-> boundary is the correct twin. Testdata never lands a gap
    // exactly on the boundary, so this law is the only thing pinning it.
    val gapUs = 1800000000L
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:30:00"), 2L), // exactly gap → same session
      (1L, ts("2024-01-01 10:30:01"), 3L),
      (1L, ts("2024-01-01 11:00:02"), 4L), // > gap after 10:30:01 → new
      (2L, ts("2024-01-01 09:00:00"), 5L),
      (2L, ts("2024-01-01 09:30:00"), 6L), // exactly gap → same session
      (2L, ts("2024-01-01 11:00:00"), 7L)  // new
    ).toDF("user_id", "ts", "event_id")
    val bySessionWindow = rows
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .count()
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bySessionize = graft.operators.Sessionize
      .sessionSummary(rows, "user_id", "ts", gapUs, Seq("event_id"))
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bySessionWindow == bySessionize)
    assert(bySessionize == Map(1L -> 2L, 2L -> 2L))
  }

  test("sessionize: equal timestamps use the tie column deterministically") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 2L),
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 12:00:00"), 3L)
    ).toDF("user_id", "ts", "event_id")
    val out = Sessionize.sessionize(events, "user_id", "ts", 1000000L, Seq("event_id"))
    val opens = out.filter(col("session_open")).select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(opens == Set(1L, 3L)) // first-by-tie opens; the other continues
  }

  // ------------------------------------------- invariance law batteries

  test("laws: AUC/Spearman/KS invariant under monotone score transforms; Gini scale-invariant") {
    // Rank statistics must not move under strictly increasing transforms
    // (x³+7, exp) — the property that makes them robust eval choices; and
    // Gini is scale-free (G(c·x) = G(x)). Seeded money-shaped data.
    val rnd = new scala.util.Random(42)
    val rows = (1 to 400).map { i =>
      ("g" + (i % 3), rnd.nextBoolean(), math.floor(rnd.nextDouble() * 1e4) / 100)
    }
    val df = rows.toDF("g", "label", "score")
    def aucOf(score: org.apache.spark.sql.Column) =
      Eval.rocAuc(df, Seq("g"), col("label"), score)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    val base = aucOf(col("score"))
    assert(aucOf(col("score") * col("score") * col("score") + 7) == base)
    assert(aucOf(exp(col("score") / 100)) == base)

    def rhoOf(y: org.apache.spark.sql.Column) =
      Eval.spearman(df, Seq("g"), col("score"), y)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val rhoBase = rhoOf(col("label").cast("int") + col("score"))
    assert(rhoOf(exp((col("label").cast("int") + col("score")) / 50)) == rhoBase)

    import graft.llm.Drift
    def ksOf(v: org.apache.spark.sql.Column) =
      Drift.ksStatistic(df, Seq("g"), v, col("label"))
        .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(ksOf(col("score") * col("score") * col("score")) == ksOf(col("score")))

    def giniOf(v: org.apache.spark.sql.Column) =
      Eval.gini(df.filter(col("score") > 0), Seq("g"), v)
        .collect().map(r => r.getString(0) ->
          math.floor(r.getDouble(2) * 1e10)).toMap
    assert(giniOf(col("score") * 17) == giniOf(col("score")))
  }

  test("laws: setsim threshold monotonicity — pairs at 4/5 ⊆ pairs at 3/5 ⊆ pairs at 1/2") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"), (3L, "a b c g h"),
      (4L, "x y z w v"), (5L, "x y z w u"), (6L, "p q r s t")
    ).toDF("doc_id", "text")
    def pairsAt(num: Int, den: Int) = SetSimJoin
      .jaccardJoin(docs, "doc_id", split(col("text"), " "), num, den)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p45 = pairsAt(4, 5); val p35 = pairsAt(3, 5); val p12 = pairsAt(1, 2)
    assert(p45.subsetOf(p35) && p35.subsetOf(p12))
    assert(p12.nonEmpty)
  }

  // ---------------------------------------------------------- KS drift

  test("ksStatistic: disjoint supports → D=1, identical samples → D=0, hand case") {
    import graft.llm.Drift
    val df = Seq(
      // disjoint: A = {1,2}, B = {10,11} → D = 1
      ("dis", 1.0, true), ("dis", 2.0, true), ("dis", 10.0, false), ("dis", 11.0, false),
      // identical: A = B = {1,2,3} → D = 0
      ("same", 1.0, true), ("same", 2.0, true), ("same", 3.0, true),
      ("same", 1.0, false), ("same", 2.0, false), ("same", 3.0, false),
      // hand: A = {1,2,3,4}, B = {3,4,5,6}: max gap at v=2: |2/4 - 0/4| = 0.5
      ("hand", 1.0, true), ("hand", 2.0, true), ("hand", 3.0, true), ("hand", 4.0, true),
      ("hand", 3.0, false), ("hand", 4.0, false), ("hand", 5.0, false), ("hand", 6.0, false)
    ).toDF("g", "v", "a")
    val out = Drift.ksStatistic(df, Seq("g"), col("v"), col("a"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(out("dis") == ((2L, 2L, 1.0)))
    assert(out("same") == ((3L, 3L, 0.0)))
    assert(out("hand") == ((4L, 4L, 0.5)))
  }

  test("ksStatistic: ties evaluated at distinct values; empty side → NULL") {
    import graft.llm.Drift
    // A = {1,1,2}, B = {1,2,2}: at v=1 |2/3-1/3| = 1/3; at v=2 |1-1| = 0
    val df = Seq(
      ("t", 1.0, true), ("t", 1.0, true), ("t", 2.0, true),
      ("t", 1.0, false), ("t", 2.0, false), ("t", 2.0, false),
      ("onlya", 5.0, true)
    ).toDF("g", "v", "a")
    val out = Drift.ksStatistic(df, Seq("g"), col("v"), col("a"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    assert(out("t")._3 == 3L) // d_num = |2·3 − 1·3| = 3
    assert(out("t")._4.get.asInstanceOf[Double] == 3.0 / 9.0)
    assert(out("onlya") == ((1L, 0L, 0L, None)))
  }

  // ------------------------------------------------- target encoding

  test("targetEncode: hand-computed LOO means; m=0 singleton → NULL") {
    import graft.operators.TargetEncode
    // cat A: targets 10, 20, 30 (cents 1000/2000/3000), cat B: 40 alone
    val df = Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "A", 30.0), (4L, "B", 40.0))
      .toDF("id", "cat", "y")
    val m0 = TargetEncode.loo(df, Seq("cat"), col("y"), m = 0)
      .select("id", "te")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // id=1: (20+30)/2 = 25; id=4 singleton: NULL
    assert(m0(1L).get.asInstanceOf[Double] == 25.0)
    assert(m0(2L).get.asInstanceOf[Double] == 20.0)
    assert(m0(3L).get.asInstanceOf[Double] == 15.0)
    assert(m0(4L).isEmpty)
  }

  test("targetEncode: smoothing pulls toward the global prior exactly") {
    import graft.operators.TargetEncode
    val df = Seq((1L, "A", 10.0), (2L, "A", 20.0), (3L, "B", 100.0))
      .toDF("id", "cat", "y")
    // prior = 130/3; id=1 with m=2: (20 + 2·130/3)/(1+2) = (20·3 + 260)/9
    val out = TargetEncode.loo(df, Seq("cat"), col("y"), m = 2)
      .select("id", "te")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - (20.0 * 3 + 260.0) / 9) < 1e-12)
    // id=3 singleton with m=2: (0 + 2·prior)/(0+2) = prior
    assert(math.abs(out(3L) - 130.0 / 3) < 1e-12)
  }

  test("targetEncode: null targets excluded from stats and encoded NULL") {
    import graft.operators.TargetEncode
    val df = Seq[(Long, String, java.lang.Double)](
      (1L, "A", 10.0), (2L, "A", 20.0), (3L, "A", null)
    ).toDF("id", "cat", "y")
    val out = TargetEncode.loo(df, Seq("cat"), col("y"), m = 0)
      .select("id", "te")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).get.asInstanceOf[Double] == 20.0) // null row not in S/n
    assert(out(3L).isEmpty)
  }

  test("targetEncode.outOfFold: own fold fully excluded; equals hand complement") {
    import graft.operators.TargetEncode
    // cat A rows: fold0 = {10, 20}, fold1 = {40}; global fold0 also has B=100
    val df = Seq(
      (1L, "A", 10.0, 0), (2L, "A", 20.0, 0), (3L, "A", 40.0, 1),
      (4L, "B", 100.0, 0)
    ).toDF("id", "cat", "y", "fold")
    val out = TargetEncode.outOfFold(df, Seq("cat"), col("y"), col("fold"), m = 0)
      .select("id", "te_oof")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // id=1 (fold 0): complement stats for A = {40} → 40; its own 10 and
    // sibling 20 (same fold) both excluded
    assert(out(1L).get.asInstanceOf[Double] == 40.0)
    assert(out(2L).get.asInstanceOf[Double] == 40.0)
    // id=3 (fold 1): complement = {10, 20} → 15
    assert(out(3L).get.asInstanceOf[Double] == 15.0)
    // id=4: B exists only in fold 0 → empty complement with m=0 → NULL
    assert(out(4L).isEmpty)
  }

  test("targetEncode.outOfFold: m>0 pulls toward the OUT-OF-FOLD prior exactly") {
    import graft.operators.TargetEncode
    val df = Seq(
      (1L, "A", 10.0, 0), (2L, "A", 30.0, 1), (3L, "B", 50.0, 1)
    ).toDF("id", "cat", "y", "fold")
    val out = TargetEncode.outOfFold(df, Seq("cat"), col("y"), col("fold"), m = 2)
      .select("id", "te_oof")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // id=1: complement A = {30}, prior_-0 = (30+50)/2 = 40:
    // (30 + 2·40)/(1+2) = 110/3
    assert(math.abs(out(1L) - 110.0 / 3) < 1e-12)
    // id=3: complement B = {} (B only in fold 1), prior_-1 = 10:
    // (0 + 2·10)/(0+2) = 10
    assert(out(3L) == 10.0)
  }

  test("ndcgAtK: hand-computed DCG/IDCG at scale 8; MRR; degenerate groups") {
    import graft.operators.Eval
    // group "q": ranking d1(rel 3) > d2(rel 0) > d3(rel 1) > d4(rel 2)
    //   DCG@3  = 3/log2(2) + 0 + 1/log2(4)            = 3.5
    //   IDCG@3 = 3 + 2/log2(3) + 1/2 (ideal d1,d4,d3) = 4.76185951(e-8 floored)
    // group "z": all rel 0 -> idcg8 = 0 -> ndcg NULL, mrr NULL
    val df = Seq(
      ("q", "d1", 10.0, 3.0), ("q", "d2", 9.0, 0.0),
      ("q", "d3", 8.0, 1.0), ("q", "d4", 7.0, 2.0),
      ("z", "e1", 5.0, 0.0), ("z", "e2", 4.0, 0.0)
    ).toDF("qid", "doc", "score", "rel")
    val out = Eval.ndcgAtK(df, Seq("qid"), col("score"), col("rel"),
        k = 3, tieCol = col("doc"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)), Option(r.get(5)))).toMap
    val (n, dcg8, idcg8, ndcg, mrr) = out("q")
    assert(n == 4L && dcg8 == 350000000L && idcg8 == 476185951L)
    assert(ndcg.get.asInstanceOf[Double] == 350000000.0 / 476185951L)
    assert(mrr.get.asInstanceOf[Double] == 1.0)
    val (nz, dz, iz, ndz, mz) = out("z")
    assert(nz == 2L && dz == 0L && iz == 0L && ndz.isEmpty && mz.isEmpty)
    // first relevant below rank 1: mrr = 1/rank of it
    val df2 = Seq(("p", "a", 3.0, 0.0), ("p", "b", 2.0, 0.0),
      ("p", "c", 1.0, 2.0)).toDF("qid", "doc", "score", "rel")
    val m2 = Eval.ndcgAtK(df2, Seq("qid"), col("score"), col("rel"),
        k = 2, tieCol = col("doc")).collect().head
    assert(m2.getAs[Double]("mrr") == 1.0 / 3)
    assert(m2.getAs[Long]("dcg8") == 0L)    // relevant doc outside k
    assert(m2.getAs[Long]("idcg8") == 200000000L) // ideal puts it at rank 1
    // null scores/rels excluded from the candidate pool
    val df3 = Seq[(String, String, java.lang.Double, java.lang.Double)](
      ("r", "a", 2.0, 1.0), ("r", "b", null, 3.0), ("r", "c", 1.0, null)
    ).toDF("qid", "doc", "score", "rel")
    val m3 = Eval.ndcgAtK(df3, Seq("qid"), col("score"), col("rel"),
        k = 5, tieCol = col("doc")).collect().head
    assert(m3.getAs[Long]("n_cand") == 1L)
  }

  test("targetEncode: loo and outOfFold hand-computed on a two-category, two-fold frame") {
    import graft.operators.TargetEncode
    val df = Seq(
      (1L, "A", 10.0, 0), (2L, "A", 20.0, 0), (3L, "A", 40.0, 1),
      (4L, "B", 100.0, 0), (5L, "B", 60.0, 1)
    ).toDF("id", "cat", "y", "fold")
    def m(d: org.apache.spark.sql.DataFrame, c: String) =
      d.select("id", c).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // cents: S_A = 7000 (n 3), S_B = 16000 (n 2), S_g = 23000, n_g = 5;
    // te = ((S − y)·n_g + m·S_g) / ((n − 1 + m)·n_g·100)
    assert(m(TargetEncode.loo(df, Seq("cat"), col("y"), m = 3), "te") == Map(
      1L -> 99000.0 / 2500, 2L -> 94000.0 / 2500, 3L -> 84000.0 / 2500,
      4L -> 99000.0 / 2000, 5L -> 119000.0 / 2000))
    // fold 0 = {1, 2, 4} (S 13000, n 3), fold 1 = {3, 5} (S 10000, n 2);
    // te = ((S_c − S_cf)·n_gc + m·S_gc) / ((n_c − n_cf + m)·n_gc·100)
    // over the complement of the row's fold
    assert(m(TargetEncode.outOfFold(df, Seq("cat"), col("y"), col("fold"),
        m = 3), "te_oof") == Map(
      1L -> 38000.0 / 800, 2L -> 38000.0 / 800, 3L -> 48000.0 / 1500,
      4L -> 42000.0 / 800, 5L -> 69000.0 / 1200))
  }

  // ----------------------------------------------- sorted neighborhood

  test("sortedNeighborhood: pairs equal the rank-range definition, once each") {
    import graft.operators.SortedNeighborhood
    // block X: 6 records; block Y: 2; values with ties broken by id
    val df = Seq(
      ("X", 1L, 10.0), ("X", 2L, 11.0), ("X", 3L, 11.0), ("X", 4L, 20.0),
      ("X", 5L, 30.0), ("X", 6L, 31.0),
      ("Y", 7L, 1.0), ("Y", 8L, 2.0)
    ).toDF("blk", "id", "v")
    for (w <- Seq(1, 2, 3, 5)) {
      val got = SortedNeighborhood
        .pairs(df, Seq("blk"), "v", Seq("id"), "id", w)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(5)))
        .toSet
      // brute-force reference: rank by (v, id) per block, all 0<gap<=w
      val ranked = df.collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).toSeq.flatMap { case (blk, rows) =>
          rows.sortBy(t => (t._3, t._2)).zipWithIndex
            .map { case ((_, id, _), i) => (blk, id, i + 1) }
        }
      val want = (for {
        (blk, ia, ra) <- ranked; (blk2, ib, rb) <- ranked
        if blk == blk2 && rb - ra >= 1 && rb - ra <= w
      } yield (blk, ia, ib, (rb - ra).toLong)).toSet
      assert(got == want, s"w=$w")
    }
  }

  test("sortedNeighborhood: output is at most w·n pairs and carries sort values") {
    import graft.operators.SortedNeighborhood
    val df = (1L to 40L).map(i => ("b", i, i.toDouble * 2)).toDF("blk", "id", "v")
    val out = SortedNeighborhood.pairs(df, Seq("blk"), "v", Seq("id"), "id", 4)
    assert(out.count() <= 4 * 40)
    val r = out.filter(col("id_a") === 1L && col("id_b") === 3L).head
    assert(r.getAs[Double]("v_a") == 2.0 && r.getAs[Double]("v_b") == 6.0)
    assert(r.getAs[Long]("rank_gap") == 2L)
  }

  // ------------------------------------------------------- setsim join

  /** Reference brute force: exact Jaccard over ALL pairs. */
  private def bruteJaccard(
      sets: Map[Long, Set[String]], num: Int, den: Int): Set[(Long, Long, Int, Int)] =
    (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      union = (sets(a) | sets(b)).size
      if union > 0 && inter * den >= num * union
    } yield (a, b, inter, union)).toSet

  test("jaccardJoin equals brute force (lossless prefix filter)") {
    // overlapping token sets with hot tokens ("the") and rare ones
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox leaps"),
      (3L, "the quick brown fox jumps"),
      (4L, "a completely different document entirely"),
      (5L, "the and of to in"),
      (6L, "the and of to on")
    ).toDF("doc_id", "text")
    val sets = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    for ((num, den) <- Seq((1, 2), (3, 5), (4, 5))) {
      val got = SetSimJoin
        .jaccardJoin(docs, "doc_id", split(col("text"), " "), num, den)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt, r.getLong(3).toInt))
        .toSet
      assert(got == bruteJaccard(sets, num, den), s"threshold $num/$den")
    }
  }

  test("jaccardJoin: duplicate tokens collapse; empty tokens dropped; sim exact") {
    val docs = Seq(
      (1L, "x x y  z"), // duplicate x and a double space → set {x,y,z}
      (2L, "x y z"),
      (3L, "q r")
    ).toDF("doc_id", "text")
    val rows = SetSimJoin
      .jaccardJoin(docs, "doc_id", split(col("text"), " "), 1, 2).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 2L, 3L, 3L)))
    assert(r.getDouble(4) == 1.0)
  }

  /** Reference brute force: exact containment over all ORDERED pairs. */
  private def bruteContainment(
      sets: Map[Long, Set[String]], num: Int, den: Int): Set[(Long, Long, Int, Int)] =
    (for {
      a <- sets.keys; b <- sets.keys if a != b
      inter = (sets(a) & sets(b)).size
      na = sets(a).size
      if na > 0 && inter * den >= num * na
    } yield (a, b, inter, na)).toSet

  test("containmentJoin equals brute force; asymmetric pairs Jaccard misses") {
    // doc 1 ⊂ doc 2: containment(1→2) = 1 but Jaccard = 1/2 — the
    // subset-duplication case the symmetric join can't flag at t = 4/5
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta unrelated"),
      (4L, "totally different words here now")
    ).toDF("doc_id", "text")
    val sets = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    for ((num, den) <- Seq((4, 5), (1, 2), (1, 1))) {
      val got = SetSimJoin
        .containmentJoin(docs, "doc_id", split(col("text"), " "), num, den)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt, r.getLong(3).toInt))
        .toSet
      assert(got == bruteContainment(sets, num, den), s"threshold $num/$den")
    }
    // directionality at 4/5: (1→2) passes, (2→1) does not
    val strict = SetSimJoin
      .containmentJoin(docs, "doc_id", split(col("text"), " "), 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.contains((1L, 2L)) && !strict.contains((2L, 1L)))
    // and Jaccard at the same threshold misses the pair entirely
    val jac = SetSimJoin
      .jaccardJoin(docs, "doc_id", split(col("text"), " "), 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)))
  }

  test("jaccardJoin threshold validation") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      SetSimJoin.jaccardJoin(docs, "doc_id", split(col("text"), " "), 0, 5)
    }
    intercept[IllegalArgumentException] {
      SetSimJoin.jaccardJoin(docs, "doc_id", split(col("text"), " "), 6, 5)
    }
  }

  // --------------------------------------------------------------- psi

  test("psi: hand-built 2-bin case; symmetric in the samples; empty side NULL") {
    import graft.llm.Drift
    // A = {0, 0, 10}, B = {10, 10} over [0, 10] in 2 bins:
    //   bin0: ca=2 cb=0, bin1: ca=1 cb=2; Laplace over bins=2:
    //   pa = (3/5, 2/5), pb = (1/4, 3/4)
    val df = Seq(("g", 0.0, true), ("g", 0.0, true), ("g", 10.0, true),
      ("g", 10.0, false), ("g", 10.0, false)).toDF("g", "v", "a")
    val out = Drift.psi(df, Seq("g"), col("v"), col("a"), bins = 2)
      .collect().head
    val t0 = math.floor((0.25 - 0.6) * math.log(0.25 / 0.6) * 1e8 + 0.5).toLong
    val t1 = math.floor((0.75 - 0.4) * math.log(0.75 / 0.4) * 1e8 + 0.5).toLong
    assert(out.getAs[Long]("n_a") == 3L && out.getAs[Long]("n_b") == 2L)
    assert(out.getAs[Long]("psi8") == t0 + t1)
    assert(out.getAs[Double]("psi") > 0)
    // PSI's term (pb−pa)·ln(pb/pa) is symmetric under sample swap
    val swapped = Drift.psi(df, Seq("g"), col("v"), !col("a"), bins = 2)
      .collect().head
    assert(swapped.getAs[Long]("psi8") == out.getAs[Long]("psi8"))
    // one empty sample → psi NULL (counts still reported)
    val oneSided = Drift.psi(df.filter(col("a")), Seq("g"), col("v"),
      col("a"), bins = 2).collect().head
    assert(oneSided.getAs[Long]("n_b") == 0L && oneSided.isNullAt(
      oneSided.fieldIndex("psi")))
    // identical samples → every pa = pb → psi exactly 0
    val same = Seq(("g", 1.0, true), ("g", 1.0, false),
      ("g", 5.0, true), ("g", 5.0, false)).toDF("g", "v", "a")
    assert(Drift.psi(same, Seq("g"), col("v"), col("a"), bins = 2)
      .collect().head.getAs[Long]("psi8") == 0L)
    // against a frozen (0.5, 0.5) baseline over [0, 10): group w1 = {1, 9}
    // is balanced (psi8 0); w2 = {1, 1, 2} gives p = (4/5, 1/5)
    val windows = Seq(("w1", 1.0), ("w1", 9.0), ("w2", 1.0), ("w2", 1.0), ("w2", 2.0))
      .toDF("w", "v")
    val byWindow = Drift.psiAgainstBaseline(windows, Seq("w"), col("v"),
        mn = 0.0, mx = 10.0, bins = 2, baseline = Seq(0.5, 0.5))
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("psi8"))).toMap
    val b0 = math.floor((0.8 - 0.5) * math.log(0.8 / 0.5) * 1e8 + 0.5).toLong
    val b1 = math.floor((0.2 - 0.5) * math.log(0.2 / 0.5) * 1e8 + 0.5).toLong
    assert(byWindow == Map("w1" -> ((2L, 0L)), "w2" -> ((3L, b0 + b1))))
  }

  // --------------------------------------------------------- hellinger

  test("hellinger: identical = 0, disjoint = 1, hand-built middle case") {
    import graft.llm.Drift
    // identical samples → BC = Σ p_i = 1 → H = 0 exactly
    val same = Seq(("g", 1.0, true), ("g", 1.0, false),
      ("g", 5.0, true), ("g", 5.0, false)).toDF("g", "v", "a")
    val s = Drift.hellinger(same, Seq("g"), col("v"), col("a"), bins = 2)
      .collect().head
    assert(s.getAs[Long]("bc8") == 100000000L)
    assert(s.getAs[Double]("hellinger") == 0.0)
    // disjoint supports → BC = 0 → H = 1 exactly
    val disj = Seq(("g", 0.0, true), ("g", 10.0, false)).toDF("g", "v", "a")
    val d = Drift.hellinger(disj, Seq("g"), col("v"), col("a"), bins = 2)
      .collect().head
    assert(d.getAs[Long]("bc8") == 0L && d.getAs[Double]("hellinger") == 1.0)
    // A = {0,0,10}, B = {10,10}: bin0 (2,0) → 0; bin1 (1,2) → √(2/6)
    val df = Seq(("g", 0.0, true), ("g", 0.0, true), ("g", 10.0, true),
      ("g", 10.0, false), ("g", 10.0, false)).toDF("g", "v", "a")
    val m = Drift.hellinger(df, Seq("g"), col("v"), col("a"), bins = 2)
      .collect().head
    val bc8 = math.floor(math.sqrt(2.0 / 6.0) * 1e8 + 0.5).toLong
    assert(m.getAs[Long]("bc8") == bc8)
    assert(math.abs(m.getAs[Double]("hellinger") -
      math.sqrt(1 - bc8 / 1e8)) < 1e-12)
    // empty side → NULL
    val one = Drift.hellinger(df.filter(col("a")), Seq("g"), col("v"),
      col("a"), bins = 2).collect().head
    assert(one.isNullAt(one.fieldIndex("hellinger")))
  }

  // ------------------------------------------------------------- cusum

  test("cusum: level shift localized exactly; constant series peaks at 0") {
    import graft.llm.Drift
    // v = [1, 1, 5, 5]: mean 3, S = [−2, −4, −2, 0] → peak |S| = 4 at i=2
    // (×n·10⁴ units: d_peak = −160000)
    val df = Seq(("g", 1L, 1.0), ("g", 2L, 1.0), ("g", 3L, 5.0),
      ("g", 4L, 5.0)).toDF("g", "t", "v")
    val out = Drift.cusum(df, Seq("g"), col("t"), col("v"),
      tieCols = Seq(col("t"))).collect().head
    assert(out.getAs[Long]("n") == 4L)
    assert(out.getAs[Long]("cp_idx") == 2L)
    assert(out.getAs[Long]("cp_order") == 2L)
    assert(out.getAs[Long]("d_peak") == -160000L)
    assert(out.getAs[Double]("cusum") == 4.0)
    // constant series: every D = 0, earliest index wins the tie
    val flat = Seq(("g", 1L, 2.0), ("g", 2L, 2.0), ("g", 3L, 2.0))
      .toDF("g", "t", "v")
    val f = Drift.cusum(flat, Seq("g"), col("t"), col("v"),
      tieCols = Seq(col("t"))).collect().head
    assert(f.getAs[Long]("d_peak") == 0L && f.getAs[Long]("cp_idx") == 1L)
    assert(f.getAs[Double]("cusum") == 0.0)
    // Page's alarms, μ = 10, k = 0, h = 5 over v = [13, 9, 14, 20, 0, 0]:
    // g⁺ = 3, 2, 6 first crosses at i = 3 (and is not re-reported at 16);
    // g⁻ = 0, 1, 0, 0, 10 first crosses at i = 5
    val drift = Seq(13.0, 9.0, 14.0, 20.0, 0.0, 0.0).zipWithIndex
      .map { case (v, i) => ("g", i + 1L, v) }.toDF("g", "t", "v")
    val alarms = Drift.cusumAlarms(drift, Seq("g"), col("t"), col("v"),
        tieCols = Seq(col("t")), refMean = 10.0, slack = 0.0, threshold = 5.0)
      .collect().map(r => (r.getAs[String]("direction"), r.getAs[Long]("alarm_idx"),
        r.getAs[Long]("alarm_order"), r.getAs[Long]("stat4"))).toSet
    assert(alarms == Set(("up", 3L, 3L, 60000L), ("down", 5L, 5L, 100000L)))
  }

  // ------------------------------------------------------- cohen kappa

  test("cohenKappa: hand confusion table, perfect agreement, degenerate NULL") {
    // cells (a,a)=20 (a,b)=5 (b,a)=10 (b,b)=15: n=50 diag=35,
    // rows {a:25,b:25} cols {a:30,b:20}, Σrc=1250 → κ = 500/1250 = 0.4
    def rows(c: (String, String, Int)*) =
      c.flatMap { case (x, y, k) => Seq.fill(k)(("g", x, y)) }
        .toDF("g", "r1", "r2")
    val out = Eval.cohenKappa(
        rows(("a", "a", 20), ("a", "b", 5), ("b", "a", 10), ("b", "b", 15)),
        Seq("g"), col("r1"), col("r2"))
      .collect().head
    assert(out.getAs[Long]("n") == 50L && out.getAs[Long]("n_agree") == 35L)
    assert(out.getAs[Double]("kappa") == 0.4)
    // perfect agreement over 2 labels → κ = 1
    val perf = Eval.cohenKappa(rows(("a", "a", 3), ("b", "b", 2)),
      Seq("g"), col("r1"), col("r2")).collect().head
    assert(perf.getAs[Double]("kappa") == 1.0)
    // both raters constant → p_e = 1 → NULL
    val degen = Eval.cohenKappa(rows(("a", "a", 4)),
      Seq("g"), col("r1"), col("r2")).collect().head
    assert(degen.isNullAt(degen.fieldIndex("kappa")))
    // both-NULL labels count as agreement (null-safe <=>)
    val withNull = Seq[(String, String, String)](
      ("g", null, null), ("g", "a", "a"), ("g", "a", "b"))
      .toDF("g", "r1", "r2")
    val nOut = Eval.cohenKappa(withNull, Seq("g"), col("r1"), col("r2"))
      .collect().head
    assert(nOut.getAs[Long]("n") == 3L && nOut.getAs[Long]("n_agree") == 2L)
  }

  // ------------------------------------------------- brier calibration

  test("brierCalibration: exact sse8/bins; out-of-range probability fails loudly") {
    val df = Seq(("g", 0.8, true), ("g", 0.2, false),
      ("g", 0.5, true), ("g", 1.0, true)).toDF("g", "p", "y")
    val out = Eval.brierCalibration(df, Seq("g"), col("p"), col("y"))
      .collect().map(r => r.getAs[Long]("bin") -> r).toMap
    // err4: −2000, 2000, −5000, 0 → sse8 = 33e6; brier = 33e6/4e8
    assert(out.keySet == Set(8L, 2L, 5L, 9L)) // p=1.0 caps into bin 9
    out.values.foreach { r =>
      assert(r.getAs[Long]("sse8") == 33000000L)
      assert(r.getAs[Double]("brier") == 33000000.0 / 400000000L)
    }
    assert(out(8L).getAs[Double]("mean_p") == 0.8)
    assert(out(8L).getAs[Double]("frac_pos") == 1.0)
    assert(out(2L).getAs[Long]("n_pos") == 0L)
    val bad = Seq(("g", 1.2, true)).toDF("g", "p", "y")
    val boom = intercept[Exception] {
      Eval.brierCalibration(bad, Seq("g"), col("p"), col("y")).collect()
    }
    assert(boom.getMessage.contains("probability out of"))
  }

  // ------------------------------------------------------------ welchT

  test("welchT: hand-computed t and Welch–Satterthwaite df") {
    // A = {1,2,3}: mean 2, s² 1.  B = {2,4,6}: mean 4, s² 4.
    // t  = (2−4)/√(1/3 + 4/3) = −2/√(5/3) = −1.5491933…
    // df = (5/3)² / ((1/3)²/2 + (4/3)²/2) = (25/9)/(17/18) = 50/17
    val df = Seq(
      ("g", 1.0, true), ("g", 2.0, true), ("g", 3.0, true),
      ("g", 2.0, false), ("g", 4.0, false), ("g", 6.0, false)
    ).toDF("g", "v", "a")
    val Array(r) = Eval.welchT(df, Seq("g"), col("v"), col("a")).collect()
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("mean_a") == 2.0)
    assert(r.getAs[Double]("mean_b") == 4.0)
    assert(math.abs(r.getAs[Double]("t") - (-1.5491933384829668)) < 1e-9)
    assert(math.abs(r.getAs[Double]("df") - 50.0 / 17) < 1e-9)
  }

  test("welchT: identical samples give t = 0; null rows are excluded") {
    val df = Seq(
      ("g", Some(1.0), Some(true)), ("g", Some(3.0), Some(true)),
      ("g", Some(1.0), Some(false)), ("g", Some(3.0), Some(false)),
      ("g", None, Some(true)), ("g", Some(99.0), None)
    ).toDF("g", "v", "a")
    val Array(r) = Eval.welchT(df, Seq("g"), col("v"), col("a")).collect()
    assert(r.getAs[Long]("n_a") == 2L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("t") == 0.0)
  }

  test("welchT: single-row side and zero-variance pair yield NULL t/df") {
    val df = Seq(
      ("one", 1.0, true), ("one", 2.0, false), ("one", 3.0, false),
      ("flat", 5.0, true), ("flat", 5.0, true),
      ("flat", 5.0, false), ("flat", 5.0, false)
    ).toDF("g", "v", "a")
    val out = Eval.welchT(df, Seq("g"), col("v"), col("a"))
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("one").isNullAt(out("one").fieldIndex("t")))
    assert(out("flat").isNullAt(out("flat").fieldIndex("t")))
    assert(out("flat").getAs[Double]("mean_a") == 5.0)
  }

  // ---------------------------------------------------------- chiSquare

  test("chiSquare: hand-computed 2x2 table") {
    // o = [[10,20],[30,40]] → N=100, r=(30,70), c=(40,60), e=(12,18,28,42)
    // χ² = 4/12 + 4/18 + 4/28 + 4/42 = 50/63 = 0.793650…
    val rows = Seq(("a", "x", 10), ("a", "y", 20), ("b", "x", 30), ("b", "y", 40))
      .flatMap { case (r, c, n) => Seq.fill(n)(("g", r, c)) }
    val df = rows.toDF("g", "r", "c")
    val Array(out) = Eval.chiSquare(df, Seq("g"), col("r"), col("c")).collect()
    assert(out.getAs[Long]("n") == 100L)
    assert(out.getAs[Long]("n_rows") == 2L && out.getAs[Long]("n_cols") == 2L)
    assert(out.getAs[Long]("dof") == 1L)
    assert(out.getAs[Long]("chi28") == 79365079L) // Σ floor(term·1e8 + .5)
    assert(math.abs(out.getAs[Double]("chi2") - 50.0 / 63) < 1e-7)
  }

  test("chiSquare: structural zeros contribute their expected mass") {
    // perfectly associated diagonal 2×2 (5×(a,x), 5×(b,y)): true χ² = N = 10
    // — the two EMPTY off-diagonal cells each contribute e = 2.5
    val dep = (Seq.fill(5)(("g", "a", "x")) ++ Seq.fill(5)(("g", "b", "y")))
      .toDF("g", "r", "c")
    val Array(d) = Eval.chiSquare(dep, Seq("g"), col("r"), col("c")).collect()
    assert(d.getAs[Long]("chi28") == 1000000000L)
    assert(d.getAs[Double]("chi2") == 10.0)
  }

  test("chiSquare: perfect independence is 0; null category is a row") {
    val indep = Seq.fill(5)(("g", "a", "x")) ++ Seq.fill(5)(("g", "a", "y")) ++
      Seq.fill(5)(("g", "b", "x")) ++ Seq.fill(5)(("g", "b", "y"))
    val Array(i) = Eval.chiSquare(indep.toDF("g", "r", "c"),
      Seq("g"), col("r"), col("c")).collect()
    assert(i.getAs[Long]("chi28") == 0L && i.getAs[Double]("chi2") == 0.0)

    val withNull = Seq(("g", Some("a"), "x"), ("g", None, "x"),
      ("g", Some("a"), "y"), ("g", None, "y"))
    val Array(nr) = Eval.chiSquare(withNull.toDF("g", "r", "c"),
      Seq("g"), col("r"), col("c")).collect()
    assert(nr.getAs[Long]("n_rows") == 2L) // null is a first-class category
  }

  test("chiSquare: single-column table has dof 0 and NULL chi2") {
    val df = Seq(("g", "a", "x"), ("g", "b", "x")).toDF("g", "r", "c")
    val Array(out) = Eval.chiSquare(df, Seq("g"), col("r"), col("c")).collect()
    assert(out.getAs[Long]("dof") == 0L)
    assert(out.isNullAt(out.fieldIndex("chi2")))
  }

  // --------------------------------------------------------- mutualInfo

  test("mutualInfo: perfect dependence = ln 2 in scale-8; independence = 0") {
    // diagonal 2×2 (5/5): MI = 2 · ½·ln(5·10/25) = ln 2 →
    // mi8 = 2·⌊½·ln2·1e8 + .5⌋ = 69314718
    val dep = (Seq.fill(5)(("g", "a", "x")) ++ Seq.fill(5)(("g", "b", "y")))
      .toDF("g", "r", "c")
    val Array(d) = Eval.mutualInfo(dep, Seq("g"), col("r"), col("c")).collect()
    assert(d.getAs[Long]("mi8") == 69314718L)
    assert(math.abs(d.getAs[Double]("mi") - math.log(2.0)) < 1e-7)

    val indep = (Seq.fill(3)(("g", "a", "x")) ++ Seq.fill(3)(("g", "a", "y")) ++
      Seq.fill(3)(("g", "b", "x")) ++ Seq.fill(3)(("g", "b", "y"))).toDF("g", "r", "c")
    val Array(i) = Eval.mutualInfo(indep, Seq("g"), col("r"), col("c")).collect()
    assert(i.getAs[Long]("mi8") == 0L && i.getAs[Double]("mi") == 0.0)
  }

  test("mutualInfo: single-category table is NULL; null category is a cell") {
    val flat = Seq(("g", "a", "x"), ("g", "b", "x")).toDF("g", "r", "c")
    val Array(f) = Eval.mutualInfo(flat, Seq("g"), col("r"), col("c")).collect()
    assert(f.isNullAt(f.fieldIndex("mi")))
    val withNull = Seq(("g", Some("a"), "x"), ("g", None, "y")).toDF("g", "r", "c")
    val Array(n) = Eval.mutualInfo(withNull, Seq("g"), col("r"), col("c")).collect()
    assert(n.getAs[Long]("n_rows") == 2L) // null is a first-class category
  }

  // --------------------------------------------------- rankBiasedOverlap

  test("rankBiasedOverlap: identical lists give 1 − p^k; hand-computed swap") {
    val a = (1 to 5).map(i => (s"i$i", i)).toDF("item", "rk")
    val Array(same) = Eval.rankBiasedOverlap(a, a, "item", "rk",
      p = 0.5, k = 5).collect()
    assert(same.getAs[Long]("n_common") == 5L)
    assert(math.abs(same.getAs[Double]("rbo") - (1 - math.pow(0.5, 5))) < 1e-6)

    // a = [x, y], b = [y, x], p = .5, k = 2: each item enters at depth 2,
    // S[2] = p/2 = .25 exactly → rbo = (1−p)·0.5 = 0.25 exactly
    val ax = Seq(("x", 1), ("y", 2)).toDF("item", "rk")
    val bx = Seq(("y", 1), ("x", 2)).toDF("item", "rk")
    val Array(sw) = Eval.rankBiasedOverlap(ax, bx, "item", "rk",
      p = 0.5, k = 2).collect()
    assert(sw.getAs[Long]("rbo8") == 50000000L)
    assert(sw.getAs[Double]("rbo") == 0.25)
  }

  test("rankBiasedOverlap: disjoint lists are NULL; ranks beyond k ignored") {
    val a = Seq(("x", 1), ("deep", 9)).toDF("item", "rk")
    val b = Seq(("y", 1), ("deep", 9)).toDF("item", "rk")
    val Array(r) = Eval.rankBiasedOverlap(a, b, "item", "rk",
      p = 0.9, k = 5).collect()
    assert(r.getAs[Long]("n_common") == 0L)
    assert(r.isNullAt(r.fieldIndex("rbo")))
    intercept[IllegalArgumentException] { Eval.rboSuffix8(1.0, 5) }
  }

  // ------------------------------------------------------ RecordLinkage

  test("fsWeights: hand-computed log2 likelihood ratios; guards") {
    val (wa, wd) = RecordLinkage.fsWeights(0.9, 0.1)
    assert(math.abs(wa - math.log(9.0) / math.log(2.0)) < 1e-12)
    assert(math.abs(wd + math.log(9.0) / math.log(2.0)) < 1e-12)
    intercept[IllegalArgumentException] { RecordLinkage.fsWeights(0.1, 0.9) }
    intercept[IllegalArgumentException] { RecordLinkage.fsWeights(1.0, 0.5) }
  }

  test("fellegiSunter: fixed-order score sum, NULL field contributes 0, verdicts") {
    val (waN, wdN) = RecordLinkage.fsWeights(0.95, 0.05) // ±log2(19)
    val (waB, wdB) = RecordLinkage.fsWeights(0.9, 0.1)   // ±log2(9)
    val pairs = Seq(
      (1L, 2L, Some(true), Some(true)),   // waN + waB → match
      (3L, 4L, Some(false), Some(false)), // wdN + wdB → non_match
      (5L, 6L, Some(true), Some(false)),  // waN + wdB → possible
      (7L, 8L, None, Some(true))          // 0 + waB → possible
    ).toDF("id_a", "id_b", "name_ok", "bal_ok")
    val out = RecordLinkage.fellegiSunter(pairs,
        Seq(("name", col("name_ok"), 0.95, 0.05),
          ("bal", col("bal_ok"), 0.9, 0.1)),
        upper = 6.0, lower = -6.0)
      .collect().map(r => r.getAs[Long]("id_a") -> r).toMap
    assert(out(1L).getAs[Double]("score") == waN + waB)
    assert(out(1L).getAs[String]("verdict") == "match")
    assert(out(3L).getAs[Double]("score") == wdN + wdB)
    assert(out(3L).getAs[String]("verdict") == "non_match")
    assert(out(5L).getAs[Double]("score") == waN + wdB)
    assert(out(5L).getAs[String]("verdict") == "possible")
    assert(out(7L).getAs[Double]("score") == 0.0 + waB)
    assert(out(7L).isNullAt(out(7L).fieldIndex("agree_name")))
  }

  // ---------------------------------------------------------- Bootstrap

  test("Bootstrap.cutoffs: Poisson(1) CDF on the 2^32 keyspace") {
    val c = Bootstrap.cutoffs(8)
    assert(c.head == math.floor(math.exp(-1.0) * 4294967296.0).toLong)
    assert(c == c.sorted && c.distinct == c) // strictly increasing
    assert(c.last < 4294967296L)
    assert(c.last > (0.99998 * 4294967296.0).toLong) // P(X<=7) ≈ 1 − 1e-5
  }

  test("Bootstrap.poissonWeight: deterministic, bounded, mean ≈ 1") {
    val keys = (1 to 4000).map(i => (s"k$i", 0)).toDF("k", "b")
    val w = keys.select(Bootstrap.poissonWeight(col("k"), col("b")).as("w"))
    val rows = w.collect().map(_.getInt(0))
    assert(rows.forall(x => x >= 0 && x <= 8))
    val mean = rows.map(_.toDouble).sum / rows.length
    assert(math.abs(mean - 1.0) < 0.08, s"empirical Poisson mean $mean")
    val again = w.collect().map(_.getInt(0))
    assert(rows.sameElements(again))
  }

  test("Bootstrap.meanCI: constant group collapses; CI brackets are ordered") {
    val const = (1 to 60).map(i => ("const", 7.5, i.toLong))
    val varied = (1 to 60).map(i => ("varied", i.toDouble, 100L + i))
    val df = (const ++ varied).toDF("g", "v", "id")
    val out = Bootstrap.meanCI(df, Seq("g"), col("v"), col("id"),
        reps = 50, alpha = 0.1)
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    val c = out("const")
    assert(c.getAs[Long]("n") == 60L && c.getAs[Long]("m_reps") == 50L)
    assert(c.getAs[Double]("mean") == 7.5)
    assert(c.getAs[Double]("lo") == 7.5 && c.getAs[Double]("hi") == 7.5)
    val v = out("varied")
    assert(v.getAs[Double]("lo") <= v.getAs[Double]("mean") + 1e-9)
    assert(v.getAs[Double]("hi") >= v.getAs[Double]("mean") - 1e-9)
    assert(v.getAs[Double]("lo") < v.getAs[Double]("hi"))
  }

  // ------------------------------------------------------ mannWhitneyU

  test("mannWhitneyU: hand-computed U and tie-corrected z") {
    // g=plain: A={1,3}, B={2,4} → U_A = 1 (only 3>2), u2 = 2.
    //   varU = (2·2/12)·(5 − 0) = 5/3; z = (1−2)/√(5/3) = −0.774597.
    // g=tied: A={1,2}, B={2,3} → U_A = 0.5 (the 2–2 tie), u2 = 1.
    //   tsum = 2³−2 = 6; varU = (1/3)·(5 − 6/12) = 1.5;
    //   z = (0.5−2)/√1.5 = −1.224745.
    val df = Seq(
      ("plain", 1.0, true), ("plain", 3.0, true),
      ("plain", 2.0, false), ("plain", 4.0, false),
      ("tied", 1.0, true), ("tied", 2.0, true),
      ("tied", 2.0, false), ("tied", 3.0, false)
    ).toDF("g", "v", "a")
    val out = Eval.mannWhitneyU(df, Seq("g"), col("v"), col("a"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val (na1, nb1, u1, z1) = out("plain")
    assert((na1, nb1, u1) == ((2L, 2L, 2L)))
    assert(math.abs(z1 - (-1.0 / math.sqrt(5.0 / 3.0))) < 1e-12)
    val (na2, nb2, u2, z2) = out("tied")
    assert((na2, nb2, u2) == ((2L, 2L, 1L)))
    assert(math.abs(z2 - (-1.5 / math.sqrt(1.5))) < 1e-12)
  }

  test("mannWhitneyU: empty side or all-equal values → z NULL; nulls excluded") {
    val df = Seq[(String, java.lang.Double, java.lang.Boolean)](
      ("onlya", 1.0, true), ("onlya", 2.0, true),
      ("const", 5.0, true), ("const", 5.0, false), ("const", 5.0, false),
      ("nulls", 1.0, true), ("nulls", 2.0, false),
      ("nulls", null, true), ("nulls", 9.0, null)
    ).toDF("g", "v", "a")
    val out = Eval.mannWhitneyU(df, Seq("g"), col("v"), col("a"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(4)))).toMap
    assert(out("onlya") == ((2L, 0L, None)))    // empty B
    assert(out("const")._3.isEmpty)             // varU = 0
    assert(out("nulls") == ((1L, 1L, Some(-1.0)))) // A below B, n=2 kept rows
  }

  test("mannWhitneyU law: relation to rocAuc — u2 = 2·AUC·n_a·n_b") {
    val df = Seq(
      ("g", 3.0, true), ("g", 1.0, true), ("g", 2.0, false), ("g", 0.0, false),
      ("g", 2.5, true), ("g", 2.5, false)
    ).toDF("g", "v", "a")
    val Array(mw) = Eval.mannWhitneyU(df, Seq("g"), col("v"), col("a")).collect()
    val Array(auc) = Eval.rocAuc(df, Seq("g"), col("a"), col("v")).collect()
    val (na, nb) = (mw.getLong(1), mw.getLong(2))
    assert(mw.getLong(3).toDouble ==
      2.0 * auc.getDouble(3) * na * nb)
  }

  // -------------------------------------------------- averagePrecision

  test("averagePrecision: hand-computed AP; no-positive group is NULL") {
    // g=hand ranking by score desc: [pos, neg, pos] → AP = (1 + 2/3)/2.
    //   ap8 = 10^8 + floor(2/3·10^8 + 0.5) = 100000000 + 66666667.
    val df = Seq[(String, java.lang.Boolean, java.lang.Double, java.lang.Long)](
      ("hand", true, 3.0, 1L), ("hand", false, 2.0, 2L), ("hand", true, 1.0, 3L),
      ("nopos", false, 1.0, 4L), ("nopos", false, 2.0, 5L),
      ("nulls", true, 1.0, 6L), ("nulls", null, 9.0, 7L), ("nulls", true, null, 8L)
    ).toDF("g", "pos", "s", "id")
    val out = Eval.averagePrecision(df, Seq("g"), col("pos"), col("s"), col("id"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    assert(out("hand")._1 == 3L && out("hand")._2 == 2L)
    assert(out("hand")._3 == 166666667L)
    assert(math.abs(out("hand")._4.get.asInstanceOf[Double] - 166666667L / 1e8 / 2.0) < 1e-15)
    assert(out("nopos") == ((2L, 0L, 0L, None)))
    assert(out("nulls") == ((1L, 1L, 100000000L, Some(1.0)))) // null label/score dropped
  }

  test("averagePrecision: tie broken by tieCol — order is deterministic") {
    // Two rows tie at score 1.0; tieCol ascending puts the NEGATIVE first
    // (id 1 < id 2) → ranking [neg, pos] → AP = 1/2. Flipping ids gives 1.
    def ap(posId: Long, negId: Long): Double = {
      val df = Seq(("g", true, 1.0, posId), ("g", false, 1.0, negId))
        .toDF("g", "pos", "s", "id")
      Eval.averagePrecision(df, Seq("g"), col("pos"), col("s"), col("id"))
        .collect().head.getDouble(4)
    }
    assert(ap(2L, 1L) == 0.5)
    assert(ap(1L, 2L) == 1.0)
  }

  // --------------------------------------------------------- anovaF

  test("anovaF: classic two-level hand case F = 13.5") {
    // levels {1,2,3} vs {4,5,6}: SSB = 13.5, SSW = 4, F = 13.5/(4/4).
    // scale-8 units: ssb8 = 13.5e8, ssw8 = 4e8.
    val df = Seq(
      ("g", "x", 1.0), ("g", "x", 2.0), ("g", "x", 3.0),
      ("g", "y", 4.0), ("g", "y", 5.0), ("g", "y", 6.0)
    ).toDF("g", "lvl", "v")
    val Array(r) = Eval.anovaF(df, Seq("g"), col("v"), col("lvl")).collect()
    assert((r.getLong(1), r.getLong(2)) == ((6L, 2L)))
    assert(r.getLong(3) == 1350000000L && r.getLong(4) == 400000000L)
    assert(math.abs(r.getDouble(5) - 13.5) < 1e-9)
  }

  test("anovaF: q8 half-up division stays EXACT past the 2^53 double window") {
    // s1 = Σv4 large enough that s1² > 2⁵³ (where the old double path
    // could disagree with DuckDB's two-step HUGEINT→DOUBLE by 1 ulp —
    // caught by the generated-sf0.1 gate, r14) while q8 = s1²/nl still
    // fits the output LONG: values ≈ 4000 give v4 = 4·10⁷, s1 = 1.2·10⁸,
    // s1² = 1.44·10¹⁶ > 2⁵³ ≈ 9·10¹⁵, q8 ≈ 4.8·10¹⁵. The integral form
    // must equal BigInt arithmetic exactly.
    val big = 4000.0
    val df = Seq(
      ("g", "x", big), ("g", "x", big - 1.0), ("g", "x", big - 2.0),
      ("g", "y", 1.0), ("g", "y", 2.0)
    ).toDF("g", "lvl", "v")
    val Array(r) = Eval.anovaF(df, Seq("g"), col("v"), col("lvl")).collect()
    def v4(x: Double): BigInt = BigInt(math.floor(x * 10000 + 0.5).toLong)
    def q8(vs: Seq[Double]): BigInt = {
      val s1 = vs.map(v4).sum
      (2 * s1 * s1 + vs.size) / (2 * vs.size) // exact half-up
    }
    val xs = Seq(big, big - 1.0, big - 2.0); val ys = Seq(1.0, 2.0)
    assert(xs.map(v4).sum.pow(2) > BigInt(2).pow(53)) // really past 2^53
    val grand = {
      val s = (xs ++ ys).map(v4).sum; val n = 5
      (2 * s * s + n) / (2 * n)
    }
    assert(BigInt(r.getLong(3)) == q8(xs) + q8(ys) - grand) // ssb8 exact
  }

  test("anovaF: single level or zero within-variance → F NULL; NULL level is a level") {
    val df = Seq[(String, String, java.lang.Double)](
      ("onelvl", "x", 1.0), ("onelvl", "x", 2.0),
      ("zerossw", "x", 1.0), ("zerossw", "x", 1.0),
      ("zerossw", "y", 2.0), ("zerossw", "y", 2.0),
      ("nulllvl", null, 1.0), ("nulllvl", null, 2.0),
      ("nulllvl", "y", 4.0), ("nulllvl", "y", 6.0),
      ("nulllvl", "x", null) // null value dropped
    ).toDF("g", "lvl", "v")
    val out = Eval.anovaF(df, Seq("g"), col("v"), col("lvl"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(5)))).toMap
    assert(out("onelvl") == ((2L, 1L, None)))
    assert(out("zerossw")._3.isEmpty) // SSB > 0 but SSW = 0 → NULL, not ∞
    assert(out("nulllvl")._1 == 4L && out("nulllvl")._2 == 2L) // NULL level counted
    // nulllvl: means 1.5 vs 5, grand 3.25: SSB = 2·1.75²+2·1.75² = 12.25,
    // SSW = 0.5 + 2 = 2.5 → F = 12.25/(2.5/2) = 9.8
    assert(math.abs(out("nulllvl")._3.get.asInstanceOf[Double] - 9.8) < 1e-9)
  }

  // ------------------------------------------------- jsdCategorical

  test("jsdCategorical: identical mix → 0; disjoint categories → ln 2; hand case") {
    import graft.llm.Drift
    val df = Seq(
      // identical: both sides {a, b} uniformly
      ("same", "a", true), ("same", "b", true),
      ("same", "a", false), ("same", "b", false),
      // disjoint supports → JSD = ln 2
      ("dis", "x", true), ("dis", "y", false),
      // hand: A = {a, a}, B = {a, b}:
      //   cat a: p=1, q=½, m=¾ → ½(ln(4/3) + ½·ln(2/3)) = 0.04247468
      //   cat b: p=0, q=½, m=¼ → ½(½·ln 2)             = 0.17328680
      //   JSD ≈ 0.21576141
      ("hand", "a", true), ("hand", "a", true),
      ("hand", "a", false), ("hand", "b", false)
    ).toDF("g", "cat", "a")
    val out = Drift.jsdCategorical(df, Seq("g"), col("cat"), col("a"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    assert(out("same") == ((2L, 2L, 2L, 0.0)))
    assert(math.abs(out("dis")._4 - math.log(2.0)) < 1e-7)
    assert(out("hand")._1 == 2L && out("hand")._2 == 2L && out("hand")._3 == 2L)
    val expect = 0.5 * (math.log(4.0 / 3.0) + 0.5 * math.log(2.0 / 3.0)) +
      0.25 * math.log(2.0)
    assert(math.abs(out("hand")._4 - expect) < 1e-7)
  }

  test("jsdCategorical: one whole side empty → jsd/jsd8 NULL, not 0") {
    // The family's degenerate-denominator convention: an alerting consumer
    // must be able to tell "no baseline data" (NULL) from "no drift" (0).
    import graft.llm.Drift
    val df = Seq(
      ("only_a", "x", true), ("only_a", "y", true), // B side has zero rows
      ("both", "x", true), ("both", "x", false)     // identical mix → jsd 0
    ).toDF("g", "cat", "a")
    val out = Drift.jsdCategorical(df, Seq("g"), col("cat"), col("a"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("only_a").getLong(1) == 2L && out("only_a").getLong(2) == 0L)
    assert(out("only_a").isNullAt(4) && out("only_a").isNullAt(5)) // jsd8, jsd
    assert(out("both").getDouble(5) == 0.0) // real zero stays 0, not NULL
  }

  test("jsdCategorical: bounded by ln 2, symmetric in sides, nulls excluded") {
    import graft.llm.Drift
    val df = Seq[(String, String, java.lang.Boolean)](
      ("g", "a", true), ("g", "a", true), ("g", "b", true),
      ("g", "a", false), ("g", "c", false), ("g", "c", false),
      ("g", null, true), ("g", "a", null) // dropped rows
    ).toDF("g", "cat", "a")
    val Array(r) = Drift.jsdCategorical(df, Seq("g"), col("cat"), col("a")).collect()
    assert((r.getLong(1), r.getLong(2)) == ((3L, 3L)))
    assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= math.log(2.0) + 1e-9)
    // flip the side flag → identical JSD (symmetry)
    val Array(rf) = Drift.jsdCategorical(df, Seq("g"), col("cat"), !col("a")).collect()
    assert(rf.getLong(4) == r.getLong(4)) // jsd8 exactly equal
  }

  // -------------------------------------------------------- fleissKappa

  test("fleissKappa: hand case 0.25; perfect agreement is exactly 1") {
    // g=hand: item A rated [x,x,y] → P_A = 1/3; item B [y,y,y] → P_B = 1.
    //   P̄ = 2/3; c_x=2, c_y=4, N=6 → P̄e = 20/36 = 5/9;
    //   κ = (2/3 − 5/9)/(4/9) = 0.25.
    // g=perfect: [x,x] and [y,y] → P̄ = 1, P̄e = 1/2 → κ = 1 exactly.
    val df = Seq(
      ("hand", "A", "x"), ("hand", "A", "x"), ("hand", "A", "y"),
      ("hand", "B", "y"), ("hand", "B", "y"), ("hand", "B", "y"),
      ("perfect", "i1", "x"), ("perfect", "i1", "x"),
      ("perfect", "i2", "y"), ("perfect", "i2", "y")
    ).toDF("g", "item", "cat")
    val out = Eval.fleissKappa(df, Seq("g"), col("item"), col("cat"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val (ni, nr, nc, pi8, k) = out("hand")
    assert((ni, nr, nc) == ((2L, 6L, 2L)))
    assert(pi8 == 33333333L + 100000000L)
    assert(math.abs(k - 0.25) < 1e-7)
    assert(out("perfect")._5 == 1.0)
  }

  test("fleissKappa: single category → NULL; sub-2-rating items excluded") {
    val df = Seq(
      ("mono", "a", "x"), ("mono", "a", "x"), ("mono", "b", "x"), ("mono", "b", "x"),
      // mixed: item "solo" has 1 rating (dropped); items a,b carry the stats
      ("mix", "a", "x"), ("mix", "a", "x"), ("mix", "solo", "y"),
      ("mix", "b", "y"), ("mix", "b", "y"),
      // allsolo: every item has 1 rating → NO output row
      ("allsolo", "i", "x")
    ).toDF("g", "item", "cat")
    val out = Eval.fleissKappa(df, Seq("g"), col("item"), col("cat"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("mono").isNullAt(5)) // P̄e = 1 decided by exact integer compare
    assert(!out.contains("allsolo"))
    val m = out("mix")
    assert((m.getLong(1), m.getLong(2), m.getLong(3)) == ((2L, 4L, 2L)))
    assert(m.getDouble(5) == 1.0) // perfect agreement on the kept items
  }

  // --------------------------------------------------- calibrationError

  test("calibrationError: hand ECE/MCE; perfectly calibrated bin → 0") {
    // g=hand: bin0 = two misses at p=.05 (gap 1000/20000 = .05),
    //   bin9 = two hits at p=.95 (gap .05) → ece = 2000/40000 = .05.
    // g=cal: p=.5 with one hit one miss → gap 0.
    val df = Seq(
      ("hand", 0.05, false), ("hand", 0.05, false),
      ("hand", 0.95, true), ("hand", 0.95, true),
      ("cal", 0.5, true), ("cal", 0.5, false)
    ).toDF("g", "p", "y")
    val out = Eval.calibrationError(df, Seq("g"), col("p"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out("hand") == ((4L, 2L, 2000L, 0.05, 0.05)))
    assert(out("cal") == ((2L, 1L, 0L, 0.0, 0.0)))
  }

  test("calibrationError: p=1 lands in the top bin; out-of-range raises") {
    val ok = Seq(("g", 1.0, true), ("g", 0.0, false)).toDF("g", "p", "y")
    val Array(r) = Eval.calibrationError(ok, Seq("g"), col("p"), col("y")).collect()
    assert(r.getLong(1) == 2L && r.getLong(2) == 2L && r.getLong(3) == 0L)
    val bad = Seq(("g", 1.2, true)).toDF("g", "p", "y")
    intercept[Exception] {
      Eval.calibrationError(bad, Seq("g"), col("p"), col("y")).collect()
    }
  }

  // ---------------------------------------------------- kruskalWallis

  test("kruskalWallis: singleton levels give the textbook H; degenerates NULL") {
    // Three singleton levels, distinct values → ranks 1,2,3, each level
    // term r² exact: H = 12/(3·4)·(1+4+9) − 3·4 = 2.0, no tie correction.
    val df = Seq(
      ("g", "a", 1.0), ("g", "b", 2.0), ("g", "c", 3.0),
      // all-tied group: C = 0 → h NULL (decided by exact integer compare)
      ("tied", "a", 5.0), ("tied", "b", 5.0),
      // single level → k < 2 → NULL
      ("one", "a", 1.0), ("one", "a", 2.0)
    ).toDF("g", "lvl", "v")
    val out = Eval.kruskalWallis(df, Seq("g"), col("v"), col("lvl"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(4)))).toMap
    assert(out("g")._1 == 3L && out("g")._2 == 3L)
    assert(math.abs(out("g")._3.get.asInstanceOf[Double] - 2.0) < 1e-9)
    assert(out("tied")._3.isEmpty)
    assert(out("one")._3.isEmpty)
  }

  test("kruskalWallis: tie-corrected H matches the rq-rounded formula") {
    // A = {1,1}, B = {3,4}: midranks 1.5,1.5,3,4 → r2 = 3,3,6,8.
    // rq_A = floor(36/8 + .5) = 5, rq_B = floor(196/8 + .5) = 25 (the
    // documented nearest-integer level term; error vanishes as n² grows).
    // tsum = Σ(t³−t) = 6; H = 12/20·30 − 15 = 3, C = 1 − 6/60 = 0.9.
    val df = Seq(
      ("g", "A", 1.0), ("g", "A", 1.0), ("g", "B", 3.0), ("g", "B", 4.0)
    ).toDF("g", "lvl", "v")
    val Array(r) = Eval.kruskalWallis(df, Seq("g"), col("v"), col("lvl")).collect()
    assert(r.getLong(1) == 4L && r.getLong(2) == 2L && r.getLong(3) == 30L)
    assert(math.abs(r.getDouble(4) - 3.0 / 0.9) < 1e-9)
  }

  // ----------------------------------------------- wilcoxonSignedRank

  test("wilcoxonSignedRank: hand case, zero-diff exclusion, null pairs") {
    // d = {+1, −2, +3} → |d| ranks 1,2,3, W⁺ = 1+3 = 4 → w2p = 8,
    // z = (4 − 3)/√3.5 = 0.53452; the (5,5) zero pair and the null pair
    // are excluded (n = 3).
    val df = Seq[(String, java.lang.Double, java.lang.Double)](
      ("g", 2.0, 1.0), ("g", 1.0, 3.0), ("g", 7.0, 4.0),
      ("g", 5.0, 5.0), ("g", 9.0, null)
    ).toDF("g", "a", "b")
    val Array(r) = Eval.wilcoxonSignedRank(df, Seq("g"), col("a"), col("b")).collect()
    assert(r.getLong(1) == 3L && r.getLong(2) == 8L)
    assert(math.abs(r.getDouble(3) - 1.0 / math.sqrt(3.5)) < 1e-9)
  }

  test("wilcoxonSignedRank: symmetric magnitude ties give z = 0") {
    // d = {+1, −1}: midranks 1.5 each → W⁺ = 1.5 = n(n+1)/4 → z = 0;
    // Var = 2·3·5/24 − 6/48 = 1.125 > 0 so z is defined.
    val df = Seq(("g", 2.0, 1.0), ("g", 1.0, 2.0)).toDF("g", "a", "b")
    val Array(r) = Eval.wilcoxonSignedRank(df, Seq("g"), col("a"), col("b")).collect()
    assert(r.getLong(1) == 2L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 0.0)
  }

  // ----------------------------------------------------- cliffsDelta

  test("cliffsDelta: dominance ±1, tie-cancelling, and the U identity") {
    val df = Seq(
      // all of A above all of B → δ = 1
      ("dom", true, 3.0), ("dom", true, 4.0),
      ("dom", false, 1.0), ("dom", false, 2.0),
      // exact tie → U = eq/2 → δ = 0
      ("tie", true, 1.0), ("tie", false, 1.0),
      // one win one loss → δ = 0
      ("mix", true, 2.0), ("mix", false, 1.0), ("mix", false, 3.0)
    ).toDF("g", "a", "v")
    val out = Eval.cliffsDelta(df, Seq("g"), col("v"), col("a"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("dom") == ((2L, 2L, 8L, 1.0)))
    assert(out("tie") == ((1L, 1L, 1L, 0.0)))
    assert(out("mix") == ((1L, 2L, 2L, 0.0)))
  }

  // ------------------------------------------------- hosmerLemeshow

  test("hosmerLemeshow: calibrated 0, miscalibrated hand terms, degenerate buckets") {
    val rows =
      // calibrated: low bucket E=2 O=2, high bucket E=8 O=8 → HL = 0
      (1 to 10).map(i => ("cal", 0.2, i <= 2, i.toLong)) ++
      (11 to 20).map(i => ("cal", 0.8, i <= 18, i.toLong)) ++
      // uniform p=0.5, positives packed into the first tie-ordered bucket:
      // each bucket term = 2²/(2·0.5) = 4 → HL = 8
      (1 to 8).map(i => ("off", 0.5, i <= 4, i.toLong)) ++
      // p = 0 and p = 1 buckets are degenerate (term undefined) → counted
      (1 to 4).map(i => ("deg", 0.0, false, i.toLong)) ++
      (5 to 8).map(i => ("deg", 1.0, true, i.toLong))
    val df = rows.toDF("g", "p", "y", "id")
    val out = Eval.hosmerLemeshow(df, Seq("g"), col("p"), col("y"), col("id"),
        buckets = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    assert(out("cal") == ((2L, 0L, 0.0)))
    assert(out("off")._2 == 0L && math.abs(out("off")._3 - 8.0) < 1e-7)
    assert(out("deg") == ((2L, 2L, 0.0)))
  }

  // -------------------------------------------------- cochranArmitage

  test("cochranArmitage: exact z = 2 on a perfect dose ramp; degenerates NULL") {
    // doses 0,1,2 with (n,x) = (2,0),(2,1),(2,2): T=5, S1=6, S2=10,
    // num = 6·5−3·6 = 12, var = 3·3·24 = 216 → z = 12√6/√216 = 2 exactly.
    val df = Seq(
      ("g", 0L, false), ("g", 0L, false), ("g", 1L, true), ("g", 1L, false),
      ("g", 2L, true), ("g", 2L, true),
      ("allwin", 0L, true), ("allwin", 1L, true),
      ("onedose", 5L, true), ("onedose", 5L, false)
    ).toDF("g", "dose", "s")
    val out = Eval.cochranArmitage(df, Seq("g"), col("dose"), col("s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    assert(out("g")._1 == 6L && out("g")._2 == 3L && out("g")._3 == 3L)
    assert(math.abs(out("g")._4.get.asInstanceOf[Double] - 2.0) < 1e-12)
    assert(out("allwin")._4.isEmpty)  // X = N
    assert(out("onedose")._4.isEmpty) // N·S2 = S1²
  }

  // ------------------------------------------------------ kendallTauB

  test("kendallTauB: monotone ±1; tie-corrected hand case; constant NULL") {
    val df = Seq(
      ("up", 1L, 1L), ("up", 2L, 2L), ("up", 3L, 3L),
      ("down", 1L, 3L), ("down", 2L, 2L), ("down", 3L, 1L),
      // x = {1,1,2}, y = {1,2,2}: C = 1, D = 0, tie pairs 1 each side
      // → τ_b = 1/√(2·2)·2/2 = 0.5
      ("tie", 1L, 1L), ("tie", 1L, 2L), ("tie", 2L, 2L),
      ("const", 5L, 1L), ("const", 5L, 2L)
    ).toDF("g", "x", "y")
    val out = Eval.kendallTauB(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    // split-√ denominator: √6·√6 = 6−ulp, so ±1 lands within 2 ulp
    assert((out("up")._1, out("up")._2, out("up")._3) == ((3L, 3L, 0L)))
    assert(math.abs(out("up")._4.get.asInstanceOf[Double] - 1.0) < 1e-14)
    assert((out("down")._1, out("down")._2, out("down")._3) == ((3L, 0L, 3L)))
    assert(math.abs(out("down")._4.get.asInstanceOf[Double] + 1.0) < 1e-14)
    assert(out("tie")._2 == 1L && out("tie")._3 == 0L)
    assert(math.abs(out("tie")._4.get.asInstanceOf[Double] - 0.5) < 1e-14)
    assert(out("const")._4.isEmpty) // x constant → denominator 0
  }

  // --------------------------------------------------- twoProportionZ

  test("twoProportionZ: hand case; degenerate pooled rates are NULL") {
    // A: 2/4, B: 1/4 → p̂ = 3/8, z = 0.25/√(3/8·5/8·1/2)
    val df = Seq(
      ("g", true, true), ("g", true, true), ("g", false, true), ("g", false, true),
      ("g", true, false), ("g", false, false), ("g", false, false), ("g", false, false),
      ("allwin", true, true), ("allwin", true, false)
    ).toDF("g", "s", "a")
    val out = Eval.twoProportionZ(df, Seq("g"), col("s"), col("a"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), Option(r.get(5)))).toMap
    val (na, xa, nb, xb, z) = out("g")
    assert((na, xa, nb, xb) == ((4L, 2L, 4L, 1L)))
    val expected = 0.25 / math.sqrt(3.0 / 8 * 5.0 / 8 * 0.5)
    assert(math.abs(z.get.asInstanceOf[Double] - expected) < 1e-12)
    assert(out("allwin")._5.isEmpty) // p̂ = 1
  }

  // -------------------------------------------------------- oddsRatio

  test("oddsRatio: 2x2 hand case with Wald CI; zero cell → NULL") {
    // a=2, b=1, c=1, d=2: OR = 4, RR = 2, CI = exp(ln4 ± 1.96·√3)
    val df = Seq(
      ("g", true, true), ("g", true, true), ("g", true, false),
      ("g", false, true), ("g", false, false), ("g", false, false),
      ("z", true, true), ("z", false, true), ("z", false, false)
    ).toDF("g", "e", "y")
    val out = Eval.oddsRatio(df, Seq("g"), col("e"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val r = out("g")
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((2L, 1L, 1L, 2L)))
    assert(r.getDouble(5) == 4.0)
    assert(r.getDouble(6) == 2.0)
    assert(math.abs(r.getDouble(7) - math.exp(math.log(4.0) - 1.96 * math.sqrt(3.0))) < 1e-9)
    assert(math.abs(r.getDouble(8) - math.exp(math.log(4.0) + 1.96 * math.sqrt(3.0))) < 1e-9)
    assert(out("z").isNullAt(5)) // b = 0 cell
  }

  // ---------------------------------------------------------- cohensD

  test("cohensD: hand-computed pooled effect; Hedges correction; tiny arms NULL") {
    // A = {1,3}, B = {5,9}: s_p² = (2+8)/2 = 5, d = −5/√5 = −√5;
    // g = d·(1 − 3/(16−9)) = d·4/7
    val df = Seq(
      ("g", 1.0, true), ("g", 3.0, true), ("g", 5.0, false), ("g", 9.0, false),
      ("small", 1.0, true), ("small", 2.0, false), ("small", 3.0, false)
    ).toDF("g", "v", "a")
    val out = Eval.cohensD(df, Seq("g"), col("v"), col("a"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)), Option(r.get(4)))).toMap
    val (na, nb, d, gg) = out("g")
    assert((na, nb) == ((2L, 2L)))
    assert(math.abs(d.get.asInstanceOf[Double] + math.sqrt(5.0)) < 1e-9)
    assert(math.abs(gg.get.asInstanceOf[Double] + math.sqrt(5.0) * 4 / 7) < 1e-9)
    assert(out("small")._3.isEmpty) // n_a = 1 → NULL
  }

  // ------------------------------------------------ uncertaintyCoeff

  test("uncertaintyCoeff: perfect prediction = 1, independence = 0, constant Y NULL") {
    val df = Seq(
      // X = Y exactly → U = 1
      ("perf", "a", "a"), ("perf", "a", "a"), ("perf", "b", "b"), ("perf", "b", "b"),
      // uniform independent 2×2 → U = 0 (hy8 = hyx8 term-for-term)
      ("ind", "a", "x"), ("ind", "a", "y"), ("ind", "b", "x"), ("ind", "b", "y"),
      // Y constant → H(Y) = 0 → NULL
      ("const", "a", "z"), ("const", "b", "z")
    ).toDF("g", "x", "y")
    val out = Eval.uncertaintyCoeff(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(4), r.getLong(5), Option(r.get(6)))).toMap
    assert(out("perf")._1 == 2L * 34657359L) // 2·⌊½ln2·1e8+½⌋
    assert(out("perf")._2 == 0L)
    assert(out("perf")._3.get.asInstanceOf[Double] == 1.0)
    assert(out("ind")._1 == out("ind")._2) // identical terms → U = 0
    assert(out("ind")._3.get.asInstanceOf[Double] == 0.0)
    assert(out("const")._1 == 0L && out("const")._3.isEmpty)
  }

  // --------------------------------------------------- brownForsythe

  test("brownForsythe: hand-computed F on level deviations; even-n median") {
    // A = {0,2,4}: median 2 → |dev| = {2,0,2}; B = {10,10,10}: devs 0.
    // ANOVA on devs (×2 internally; F scale-invariant):
    // SSB = 32/3, SSW = 32/3, F = (32/3)/(32/12) = 4.
    val df = Seq(
      ("g", "A", 0.0), ("g", "A", 2.0), ("g", "A", 4.0),
      ("g", "B", 10.0), ("g", "B", 10.0), ("g", "B", 10.0),
      // even n: median of {1,3} is 2 → devs {1,1}, zero within-variance
      // and zero between → F NULL (SSW = 0 with equal level means is
      // k=1-like degeneracy: here both levels' dev means differ → fine)
      ("even", "A", 1.0), ("even", "A", 3.0),
      ("even", "B", 5.0), ("even", "B", 5.0)
    ).toDF("g", "lvl", "v")
    val out = Eval.brownForsythe(df, Seq("g"), col("v"), col("lvl"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(5)))).toMap
    assert(out("g")._1 == 6L && out("g")._2 == 2L)
    assert(math.abs(out("g")._3.get.asInstanceOf[Double] - 4.0) < 1e-6)
    // "even": devs A = {1,1}, B = {0,0} → SSW = 0 → F NULL
    assert(out("even")._3.isEmpty)
  }

  // ---------------------------------------------------- matthewsCorr

  test("matthewsCorr: perfect, inverted, uninformative, and NULL marginals") {
    val df = Seq(
      ("perf", true, true), ("perf", true, true),
      ("perf", false, false), ("perf", false, false),
      ("inv", true, false), ("inv", false, true),
      // tp=1, fp=1, tn=1, fn=1 → numerator 0 → MCC 0
      ("zero", true, true), ("zero", false, true),
      ("zero", false, false), ("zero", true, false),
      // all labels positive → tn+fp marginal = 0 → NULL
      ("onecls", true, true), ("onecls", true, false)
    ).toDF("g", "y", "p")
    val out = Eval.matthewsCorr(df, Seq("g"), col("y"), col("p"))
      .collect().map(r => r.getString(0) -> Option(r.get(5))).toMap
    assert(out("perf").get.asInstanceOf[Double] == 1.0)
    assert(out("inv").get.asInstanceOf[Double] == -1.0)
    assert(out("zero").get.asInstanceOf[Double] == 0.0)
    assert(out("onecls").isEmpty)
  }

  // ------------------------------------------------------- f1Scores

  test("f1Scores: hand-computed micro/macro; pred-only classes count") {
    // labels a,a,b; preds a,b,b → per-class F1 = 2/3 both; micro = 2/3.
    val df = Seq(
      ("g", "a", "a"), ("g", "a", "b"), ("g", "b", "b"),
      // label a twice, predicted b twice: both classes' F1 = 0, k = 2
      ("miss", "a", "b"), ("miss", "a", "b")
    ).toDF("g", "y", "p")
    val out = Eval.f1Scores(df, Seq("g"), col("y"), col("p"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    val (n, k, f8, microF1, macroF1) = out("g")
    assert(n == 3L && k == 2L && f8 == 2L * 66666667L)
    assert(math.abs(microF1 - 2.0 / 3.0) < 1e-9)
    assert(math.abs(macroF1 - 0.66666667) < 1e-9)
    assert(out("miss") == ((2L, 2L, 0L, 0.0, 0.0)))
  }

  test("f1Scores: NULL group keys stay one slice (null-safe class merge)") {
    // one group whose key is NULL: the label/pred marginal frames must
    // full-outer-merge per class WITHOUT splitting on the NULL key
    val df = Seq[(String, String, String)](
      (null, "a", "a"), (null, "a", "b"), (null, "b", "b")
    ).toDF("g", "y", "p")
    val rows = Eval.f1Scores(df, Seq("g"), col("y"), col("p")).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.isNullAt(0))
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L) // n = 3, k = 2, as non-null
    assert(r.getLong(3) == 2L * 66666667L)           // both classes F1 = 2/3
  }

  // --------------------------------------------------------- mcnemar

  test("mcnemar: discordant cells drive the statistic; concordant-only NULL") {
    val df = Seq(
      ("g", true, true), ("g", true, false), ("g", false, true),
      ("g", true, false),
      ("same", true, true), ("same", false, false)
    ).toDF("g", "a", "b")
    val out = Eval.mcnemar(df, Seq("g"), col("a"), col("b"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    val (n, b, c, chi2) = out("g")
    assert(n == 4L && b == 2L && c == 1L)
    assert(math.abs(chi2.get.asInstanceOf[Double] - 1.0 / 3.0) < 1e-12)
    assert(out("same")._4.isEmpty)
  }

  // ------------------------------------------------------- liftGains

  test("liftGains: top bucket captures all positives; ntile sizes uneven tails") {
    // scores 4,3,2,1,0 with positives on 4,3 → 2 buckets sized 3,2:
    // bucket 1 = {4,3,2}: pos 2, gain 1, lift = (2·5)/(3·2) = 5/3;
    // bucket 2 = {1,0}: pos 0, gain stays 1, lift 0.
    val df = Seq(
      ("g", true, 4.0, 1L), ("g", true, 3.0, 2L), ("g", false, 2.0, 3L),
      ("g", false, 1.0, 4L), ("g", false, 0.0, 5L)
    ).toDF("g", "y", "s", "id")
    val rows = Eval.liftGains(df, Seq("g"), col("y"), col("s"), col("id"), buckets = 2)
      .orderBy("bucket").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getLong(2)).toSeq == Seq(3L, 2L))
    assert(rows.map(_.getLong(4)).toSeq == Seq(2L, 2L))
    assert(rows.map(_.getDouble(5)).toSeq == Seq(1.0, 1.0))
    assert(math.abs(rows(0).getDouble(6) - 5.0 / 3.0) < 1e-12)
    assert(rows(1).getDouble(6) == 0.0)
  }
}
