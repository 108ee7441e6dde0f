package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.llm.LinkPredict
import graft.operators.Anomaly

/** Link prediction (neighborhood overlap) and calendar-baseline anomaly
  * detection.
  */
class GraphExtrasSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------ link predict

  test("predict: hand-computed scores on a path-and-square graph") {
    // Square 1-2-3-4-1 plus pendant 5-1.
    // Distance-2 non-edges: (1,3) via {2,4}, (2,4) via {1,3}, and the
    // pendant's wedges: (2,5) via 1, (4,5) via 1.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (5L, 1L))
      .toDF("src", "dst")
    val out = LinkPredict.predict(edges, "src", "dst", k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2)) ->
        (r.getInt(0), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(out.keySet == Set((1L, 3L), (2L, 4L), (2L, 5L), (4L, 5L)))
    // (1,3): cn=2 (via 2 and 4, deg 2 each), deg1=3, deg3=2
    val (r13, cn13, j13, aa13) = out((1L, 3L))
    assert(r13 == 1 && cn13 == 2L)
    assert(math.abs(j13 - 2.0 / 3.0) < 1e-12)
    assert(math.abs(aa13 - 2.0 / math.log(2.0)) < 1e-12)
    // (2,4): cn=2 (via 1 deg 3 and 3 deg 2)
    val (r24, cn24, j24, aa24) = out((2L, 4L))
    assert(r24 == 2 && cn24 == 2L)
    assert(math.abs(j24 - 2.0 / 2.0) < 1e-12)
    assert(math.abs(aa24 - (1.0 / math.log(3.0) + 1.0 / math.log(2.0))) < 1e-12)
    // pendant wedges via node 1 (deg 3)
    assert(out((2L, 5L))._2 == 1L && out((4L, 5L))._2 == 1L)
    assert(math.abs(out((2L, 5L))._4 - 1.0 / math.log(3.0)) < 1e-12)
  }

  test("predict: existing edges are excluded; messy input normalized") {
    // triangle with duplicate/reversed/self edges: every distance-2 pair
    // is already an edge → no predictions
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L), (2L, 3L))
      .toDF("src", "dst")
    assert(LinkPredict.predict(edges, "src", "dst", k = 5).count() == 0)
  }

  // ------------------------------------------------------------ k-core

  test("kCorePeel: 2-core strips pendants and trees, keeps the cycle") {
    // triangle 1-2-3 with pendant chain 3-4-5: 2-core = the triangle.
    // One round removes 5; the second removes 4 (degree fell to 1).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val r1 = graft.llm.KCore.kCorePeel(edges, "src", "dst", k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.keySet == Set(1L, 2L, 3L, 4L)) // 5 gone, 4 still present
    val r2 = graft.llm.KCore.kCorePeel(edges, "src", "dst", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // extra rounds past the fixpoint are no-ops
    val r5 = graft.llm.KCore.kCorePeel(edges, "src", "dst", k = 2, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r5 == r2)
  }

  test("kCorePeel: k above max degree empties the graph; input normalized") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    assert(graft.llm.KCore.kCorePeel(edges, "src", "dst", k = 3, rounds = 2).count() == 0)
    // the triangle (with dup/reversed/self edges collapsed) survives k=2
    val core = graft.llm.KCore.kCorePeel(edges, "src", "dst", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  // ------------------------------------------------------ product quant

  test("productQuant: codes reconstruct cluster structure; ADC exact on centroids") {
    import graft.llm.ProductQuant
    // 4-dim vectors, m=2 subspaces of 2 dims; two obvious clusters per
    // subspace → after a round, codes separate them and ADC distance to
    // a vector AT a centroid is 0 for the matching codes.
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f, 10.0f, 10.0f)),
      (1L, Array(0.1f, 0.0f, 10.1f, 10.0f)),
      (2L, Array(5.0f, 5.0f, 0.0f, 0.0f)),
      (3L, Array(5.1f, 5.0f, 0.1f, 0.0f)),
      (4L, Array(0.0f, 0.1f, 10.0f, 10.1f)),
      (5L, Array(5.0f, 5.1f, 0.0f, 0.1f))
    ).toDF("vec_id", "embedding")
    val bk = ProductQuant.fit(vecs, m = 2, k = 2, iters = 2)
    assert(bk.subDim == 2 && bk.books.length == 2)
    val codes = ProductQuant.encode(vecs, bk)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // the {0,1,4} and {2,3,5} families must share codes in BOTH subspaces
    assert(codes(0L) == codes(1L) && codes(1L) == codes(4L))
    assert(codes(2L) == codes(3L) && codes(3L) == codes(5L))
    assert(codes(0L) != codes(2L))
    // ADC: query 0 must rank its own family first
    val top = ProductQuant.adcTopK(
        ProductQuant.encode(vecs, bk), bk, vecs.filter(col("vec_id") === 0L), 5)
      .orderBy("rnk").collect().map(_.getLong(2))
    assert(top.take(2).toSet == Set(1L, 4L))
  }

  test("productQuant: exactL2TopK ranks by true squared distance, excludes self") {
    import graft.llm.ProductQuant
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(3.0f, 0.0f)), (3L, Array(0.0f, 2.0f))
    ).toDF("vec_id", "embedding")
    val out = ProductQuant.exactL2TopK(vecs, vecs.filter(col("vec_id") === 0L), 3)
      .orderBy("rnk").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1, 1L, 1.0), (2, 3L, 4.0), (3, 2L, 9.0)))
  }

  test("productQuant: dimension must divide by m; codes stay stable ids") {
    import graft.llm.ProductQuant
    val vecs = Seq((0L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      ProductQuant.seed(vecs, m = 2, k = 1)
    }
    // k > distinct clusters: empty codes drop but survivors keep ids < k0
    val v2 = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.0f, 0.1f)),
      (2L, Array(9.0f, 9.0f)), (3L, Array(9.1f, 9.0f))
    ).toDF("vec_id", "embedding")
    val bk = ProductQuant.fit(v2, m = 1, k = 4, iters = 2)
    val codes = ProductQuant.encode(v2, bk)
      .collect().map(_.getSeq[Int](1).head).toSet
    assert(codes.subsetOf((0 until 4).toSet))
    assert(bk.books.head.forall { case (code, _) => code >= 0 && code < 4 })
  }

  test("productQuant: booksFor memoizes per (dataset, params) and evicts on regeneration") {
    import graft.llm.ProductQuant
    ProductQuant.invalidateBooks()
    val dir = java.nio.file.Files.createTempDirectory("pqmemo").toString
    val path = s"$dir/emb.parquet"
    def write(shift: Float): Unit = Seq(
      (0L, Array(0.0f + shift, 0.0f)), (1L, Array(0.1f + shift, 0.0f)),
      (2L, Array(9.0f + shift, 9.0f)), (3L, Array(9.1f + shift, 9.0f))
    ).toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)
    write(0.0f)
    def corpus = spark.read.parquet(path)
    val b1 = ProductQuant.booksFor(path, corpus, m = 1, k = 2, iters = 1)
    val b2 = ProductQuant.booksFor(path, corpus, m = 1, k = 2, iters = 1)
    assert(b1 eq b2, "same dataset + params must serve the memoized artifact")
    assert(ProductQuant.booksCacheSize == 1)
    // different params → separate entry
    ProductQuant.booksFor(path, corpus, m = 2, k = 2, iters = 1)
    assert(ProductQuant.booksCacheSize == 2)
    // regenerated data under the same path → retrain, superseded entry evicted
    Thread.sleep(5) // ensure a distinct mtime for the fingerprint
    write(1.0f)
    val b3 = ProductQuant.booksFor(path, corpus, m = 1, k = 2, iters = 1)
    assert(!(b3 eq b1), "regenerated dataset must retrain, not serve stale books")
    assert(ProductQuant.booksCacheSize == 2, "superseded entry must be evicted")
    ProductQuant.invalidateBooks()
  }

  test("productQuant: empty corpus and non-integral query ids fail with contract errors") {
    import graft.llm.ProductQuant
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val boom = intercept[IllegalArgumentException] {
      ProductQuant.seed(empty, m = 1, k = 2)
    }
    assert(boom.getMessage.contains("empty"))
    val vecs = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val bk = ProductQuant.fit(vecs, m = 1, k = 2, iters = 1)
    val badQ = Seq(("x", Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val boom2 = intercept[IllegalArgumentException] {
      ProductQuant.adcTopK(ProductQuant.encode(vecs, bk), bk, badQ, 1)
    }
    assert(boom2.getMessage.contains("integral"))
  }

  // -------------------------------------------------- calendar anomaly

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("calendarAnomalies: slot-normal value passes, slot-abnormal flagged") {
    // hour-9 baseline = 100, hour-21 baseline = 10. A 100 at hour 21 is
    // a seasonal anomaly even though 100 is globally normal.
    val rows =
      (1 to 10).map(i => (i.toLong, "m", ts(f"2024-01-0${(i % 5) + 1} 09:00:00"), 100.0 + i * 0.01)) ++
      (11 to 20).map(i => (i.toLong, "m", ts(f"2024-01-0${(i % 5) + 1} 21:00:00"), 10.0 + i * 0.01)) :+
      (99L, "m", ts("2024-01-03 21:30:00"), 100.0)
    val df = rows.toDF("event_id", "event_type", "ts", "value")
    val out = Anomaly.calendarAnomalies(
      df, Seq("event_type"), Seq("hr" -> hour(col("ts"))), "value", k = 3.0)
    val flagged = out.filter(col("is_outlier")).select("event_id")
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(99L))
    // and the residual is ~90 against the hour-21 baseline, not ~0
    val r = out.filter(col("event_id") === 99L).select("resid").head.getDouble(0)
    assert(r > 85.0)
  }

  test("calendarAnomalies: multi-column slots and null exclusion") {
    val df = Seq[(Long, String, Timestamp, java.lang.Double)](
      (1L, "a", ts("2024-01-01 09:00:00"), 1.0), // Mon
      (2L, "a", ts("2024-01-08 09:00:00"), 1.0), // Mon
      (3L, "a", ts("2024-01-02 09:00:00"), 50.0), // Tue
      (4L, "a", ts("2024-01-09 09:00:00"), 50.0), // Tue
      (5L, "a", ts("2024-01-01 09:30:00"), null)
    ).toDF("event_id", "event_type", "ts", "value")
    val out = Anomaly.calendarAnomalies(
      df, Seq("event_type"),
      Seq("dow" -> dayofweek(col("ts")), "hr" -> hour(col("ts"))),
      "value", k = 3.0)
    assert(out.count() == 4) // null row excluded
    // per-(dow,hr) baselines absorb the Mon/Tue difference → no outliers
    assert(out.filter(col("is_outlier")).count() == 0)
    assert(out.filter(col("resid") =!= 0.0).count() == 0)
  }

  test("calendarAnomalies: NULL group/slot keys survive the baseline join") {
    // a NULL event_type is a legitimate slice: the baseline join is
    // null-safe (<=>), so its rows must come back out, not silently drop
    val df = Seq[(Long, String, Timestamp, java.lang.Double)](
      (1L, null, ts("2024-01-01 09:00:00"), 2.0),
      (2L, null, ts("2024-01-08 09:00:00"), 2.0),
      (3L, "a", ts("2024-01-01 09:00:00"), 5.0),
      (4L, "a", ts("2024-01-08 09:00:00"), 5.0)
    ).toDF("event_id", "event_type", "ts", "value")
    val out = Anomaly.calendarAnomalies(
      df, Seq("event_type"), Seq("hr" -> hour(col("ts"))), "value", k = 3.0)
    assert(out.count() == 4, "NULL-keyed rows must be retained")
    val nullSlice = out.filter(col("event_type").isNull).collect()
    assert(nullSlice.length == 2)
    assert(nullSlice.forall(_.getAs[Double]("baseline") == 2.0))
  }

  test("calendarAnomalies validates inputs") {
    val df = Seq((1L, "a", ts("2024-01-01 09:00:00"), 1.0))
      .toDF("event_id", "event_type", "ts", "value")
    intercept[IllegalArgumentException] {
      Anomaly.calendarAnomalies(df, Seq("event_type"), Seq.empty, "value")
    }
    intercept[IllegalArgumentException] {
      Anomaly.calendarAnomalies(df, Seq.empty, Seq("hr" -> hour(col("ts"))), "value")
    }
  }

  // --------------------------------------------- degree assortativity

  test("degreeAssortativity: star = -1 exactly; regular graph → NULL") {
    import graft.llm.GraphRank
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val Array(s) = GraphRank.degreeAssortativity(star, "src", "dst").collect()
    assert((s.getLong(0), s.getLong(1), s.getLong(2)) == ((4L, 3L, 6L)))
    assert(s.getDouble(3) == -1.0)
    // C4 cycle: degree-regular → denominator exactly 0 → NULL
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val Array(c) = GraphRank.degreeAssortativity(cyc, "src", "dst").collect()
    assert(c.getLong(1) == 4L && c.isNullAt(3))
  }

  // ------------------------------------------------------- TextRank

  test("TextRank.keywords: hub word outranks spokes; count floor prunes") {
    import graft.llm.TextRank
    // "hub x hub y hub z": pairs (hub,x)×2, (hub,y)×2, (hub,z)×1 —
    // minCount=2 prunes (hub,z); star center wins, spokes tie and rank
    // by word.
    val docs = Seq(("d1", "hub x hub y hub z")).toDF("doc_id", "text")
    val got = TextRank.keywords(docs, "text", minCount = 2, rounds = 1, k = 10)
      .orderBy("rnk").collect()
    assert(got.length == 3)
    assert(got(0).getString(1) == "hub")
    assert(got(1).getString(1) == "x" && got(2).getString(1) == "y")
    assert(got(1).getLong(2) == got(2).getLong(2)) // symmetric spokes tie
    // hand value: pr(hub) = 0.15/3 + 0.85·(⌊1/3·1e12⌋·2/1e12)
    val third = math.floor(1.0 / 3.0 * 1e12).toLong
    val prHub = 0.15 / 3.0 + 0.85 * (2 * third / 1e12)
    assert(got(0).getLong(2) == math.floor(prHub * 1e12 + 0.5).toLong)
  }

  test("TextRank.keywords: doubled spaces never mint an empty-string keyword") {
    import graft.llm.TextRank
    // every doc carries a doubled space: the "" artifact token would pass
    // any minCount floor if it entered the graph
    val docs = Seq.fill(6)("hub  spoke hub  other").toDF("text")
    val words = TextRank.keywords(docs, "text", minCount = 2, rounds = 1, k = 10)
      .collect().map(_.getString(1))
    assert(words.nonEmpty && !words.contains(""))
  }

  test("TextRank.keywords: repeated-word self-pairs dropped; empty graph → empty") {
    import graft.llm.TextRank
    val docs = Seq(("d1", "a a a a"), ("d2", "b c")).toDF("doc_id", "text")
    // only self-pairs (a,a) and one (b,c) under minCount → empty graph
    assert(TextRank.keywords(docs, "text", minCount = 2, rounds = 1, k = 5)
      .collect().isEmpty)
  }

  test("degreeAssortativity: triangle+pendant hand case; input normalization") {
    import graft.llm.GraphRank
    // triangle 1-2-3 plus pendant 3-4, with duplicate/reversed/self-loop
    // noise: degrees (2,2,3,1); r = -20/28.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 4L),
      (3L, 4L), (5L, 5L)).toDF("src", "dst")
    val Array(r) = GraphRank.degreeAssortativity(edges, "src", "dst").collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 4L, 8L)))
    assert(math.abs(r.getDouble(3) - (-20.0 / 28.0)) < 1e-15)
  }

  // ------------------------------------------------------- modularity

  test("modularity: two bridged triangles = 70/196; one community = 0") {
    import graft.llm.GraphRank
    // Triangles {1,2,3}, {4,5,6} + bridge 3–4: m = 7, e_c = 3 each,
    // d_c = 7 each → Q = 2·(4·7·3 − 49)/(4·49) = 70/196.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val comms = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"),
      (6L, "b")).toDF("node", "comm")
    val Array(r) = GraphRank.modularity(edges, "src", "dst", comms,
      "node", "comm").collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((6L, 7L, 2L)))
    assert(math.abs(r.getDouble(3) - 70.0 / 196.0) < 1e-15)

    // everything in ONE community is exactly 0 by construction
    val one = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "x"), (5L, "x"),
      (6L, "x")).toDF("node", "comm")
    val Array(o) = GraphRank.modularity(edges, "src", "dst", one,
      "node", "comm").collect()
    assert(o.getDouble(3) == 0.0)
  }

  test("modularity: unmapped nodes pool into a NULL community") {
    import graft.llm.GraphRank
    // one edge 1–2, only node 1 mapped: communities {x: d=1}, {NULL: d=1},
    // no intra edges → Q = ((0−1) + (0−1))/(4·1) = −0.5
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val comms = Seq((1L, "x")).toDF("node", "comm")
    val Array(r) = GraphRank.modularity(edges, "src", "dst", comms,
      "node", "comm").collect()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, 2L)))
    assert(r.getDouble(3) == -0.5)
  }
}
