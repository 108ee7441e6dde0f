package graft

import org.apache.spark.sql.functions._
import graft.llm._

/** Round-7 training-data operators: PII redaction, repetition profiling,
  * positional inverted index, weighted dataset mixing.
  */
class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("redaction: each class is found, counted, and replaced") {
    val df = Seq(
      (1L, "write to jane.doe+x@sub.example.org or call +41 79 555 12 from 192.168.0.7 now"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.co and c_d@e-f.io share one ip 10.0.0.1")).toDF("id", "t")
    val r = df.select(col("id") +:
        (Redaction.piiCounts(col("t")).map { case (n, c) => c.as(n) } :+
          Redaction.redact(col("t")).as("red")): _*)
      .orderBy("id").collect()

    assert(r(0).getAs[Long]("n_email") == 1L)
    assert(r(0).getAs[Long]("n_ipv4") == 1L)
    assert(r(0).getAs[Long]("n_phone") == 1L)
    assert(r(0).getAs[String]("red") ==
      "write to <EMAIL> or call <PHONE> from <IP> now")

    assert(r(1).getAs[Long]("n_email") + r(1).getAs[Long]("n_ipv4") +
      r(1).getAs[Long]("n_phone") == 0L)
    assert(r(1).getAs[String]("red") == "no pii here at all")

    assert(r(2).getAs[Long]("n_email") == 2L)
    assert(r(2).getAs[Long]("n_ipv4") == 1L)
    assert(r(2).getAs[String]("red") ==
      "two mails <EMAIL> and <EMAIL> share one ip <IP>")
  }

  test("redaction is idempotent: placeholders never re-match") {
    val once = Seq("mail x@y.org ip 1.2.3.4 tel +1 22 333 44").toDF("t")
      .select(Redaction.redact(col("t")).as("r1"))
      .select(col("r1"), Redaction.redact(col("r1")).as("r2"))
      .collect()(0)
    assert(once.getString(0) == once.getString(1))
  }

  test("topWordCount / distinctWordCount are exact") {
    val r = Seq("a b a c a b").toDF("t")
      .select(
        TextAnalysis.topWordCount(col("t")).as("top"),
        TextAnalysis.distinctWordCount(col("t")).as("d"),
        TextAnalysis.tokenCountWs(col("t")).as("n"))
      .collect()(0)
    assert(r.getAs[Int]("top") == 3) // 'a' appears 3 times
    assert(r.getAs[Int]("d") == 3)   // {a, b, c}
    assert(r.getAs[Int]("n") == 6)
  }

  test("inverted index: NULL doc ids count toward cf but never df (countDistinct parity)") {
    val docs = Seq((Some(1L), "x y"), (None, "x")).toDF("doc_id", "text")
    val idx = InvertedIndex.postings(docs, "doc_id", "text")
      .orderBy("term").collect().map(r => r.getAs[String]("term") -> r).toMap
    // the NULL-id doc's token raises cf but not df — the two-level rewrite
    // must preserve countDistinct's NULL exclusion
    assert(idx("x").getAs[Long]("df") == 1L)
    assert(idx("x").getAs[Long]("cf") == 2L)
    assert(idx("y").getAs[Long]("df") == 1L && idx("y").getAs[Long]("cf") == 1L)
  }

  test("inverted index: df, cf, and 1-based positions") {
    val docs = Seq((10L, "x y x"), (2L, "y z")).toDF("doc_id", "text")
    val idx = InvertedIndex.postings(docs, "doc_id", "text")
      .orderBy("term").collect()
    val byTerm = idx.map(r => r.getAs[String]("term") -> r).toMap

    assert(byTerm("x").getAs[Long]("df") == 1L)
    assert(byTerm("x").getAs[Long]("cf") == 2L)
    assert(byTerm("x").getAs[Long]("first_doc") == 10L)
    // postings_md5 digests the sorted comma-joined `doc:pos` list
    def md5Of(postings: String*) = java.security.MessageDigest.getInstance("MD5")
      .digest(postings.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(byTerm("x").getAs[String]("postings_md5") == md5Of("10:1", "10:3"))

    assert(byTerm("y").getAs[Long]("df") == 2L)
    assert(byTerm("y").getAs[Long]("cf") == 2L)
    assert(byTerm("y").getAs[Long]("first_doc") == 2L)
    // lexicographic posting order is the deterministic contract
    assert(byTerm("y").getAs[String]("postings_md5") == md5Of("10:2", "2:1"))

    assert(byTerm("z").getAs[Long]("cf") == 1L)
    assert(byTerm("z").getAs[String]("postings_md5") == md5Of("2:2"))
  }

  test("mixing: copy counts realize the weights; zero-weight drops; copy_ix enumerates") {
    val n = 2000
    val df = (0 until n).flatMap(i => Seq((i.toLong, "up"), (i.toLong + 100000, "down"),
      (i.toLong + 200000, "gone"))).toDF("k", "src")
    val weights = Seq("up" -> 2.5, "down" -> 0.25, "gone" -> 0.0)
    val out = Mixing.upsampleMix(df, "k", "src", weights, defaultWeight = 1.0)

    // per-row copy bounds: up ∈ {2,3}, down ∈ {0(absent),1}; gone absent
    val perRow = out.groupBy("k", "src").agg(count(lit(1)).as("c"), max("copy_ix").as("mx"),
      max("n_copies").as("nc")).collect()
    perRow.foreach { r =>
      val (src, c) = (r.getAs[String]("src"), r.getAs[Long]("c"))
      src match {
        case "up" => assert(c == 2L || c == 3L)
        case "down" => assert(c == 1L)
        case other => fail(s"unexpected source $other")
      }
      // copy_ix enumerates exactly 1..n_copies
      assert(r.getAs[Long]("mx") == r.getAs[Long]("nc"))
      assert(c == r.getAs[Long]("nc"))
    }

    // realized totals near expectation (md5 keyspace is uniform; 3σ margin)
    val tot = out.groupBy("src").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getAs[String]("src") -> r.getAs[Long]("c")).toMap
    assert(math.abs(tot("up") - 2.5 * n) < 4 * math.sqrt(0.25 * n))
    assert(math.abs(tot("down") - 0.25 * n) < 4 * math.sqrt(0.25 * n))
    assert(!tot.contains("gone"))

    // deterministic under repartitioning
    val again = Mixing.upsampleMix(df.repartition(13), "k", "src", weights, 1.0)
    assert(again.groupBy("src").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getAs[String]("src") -> r.getAs[Long]("c")).toMap == tot)
  }

  test("bloom kernels: zero false negatives, sane false-positive rate, merge across partitions") {
    import graft.functions.BloomSketch
    val n = 5000
    val inserted = (0 until n).map(i => i.toLong * 7919L)
    val sketchDf = inserted.toDF("x").repartition(8)
      .agg(BloomSketch.bloomAggFor(col("x"), n).as("bf"))

    // every inserted value probes true — regardless of which partition
    // built which buffer (the OR-merge is exact)
    val probeIn = inserted.toDF("x").crossJoin(broadcast(sketchDf))
      .filter(!BloomSketch.mightContain(col("bf"), col("x")))
    assert(probeIn.count() == 0L)

    // disjoint values probe mostly false (sized for ~1% FP at n items)
    val fp = (0 until n).map(i => i.toLong * 7919L + 1L).toDF("x")
      .crossJoin(broadcast(sketchDf))
      .filter(BloomSketch.mightContain(col("bf"), col("x"))).count()
    assert(fp < n / 20, s"false-positive count $fp out of $n is too high")
  }

  test("bloom decontamination output is identical to the exact join") {
    val docs = (0 until 60).map { i =>
      val base = s"w$i a b c d e f g h common tail piece here now ok fin$i"
      (i.toLong, if (i % 10 == 0) "a b c d e f g h common tail piece here" else base)
    }.toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val exact = Decontam.exactNgramOverlap(train, bench, "doc_id", "text", n = 6)
      .orderBy("a", "b").collect().toSeq
    val bloom = Decontam.bloomDecontaminate(train, bench, "doc_id", "text", n = 6,
        expectedBenchmarkGrams = 1024)
      .orderBy("a", "b").collect().toSeq
    assert(exact.nonEmpty)          // the fixture does overlap
    assert(bloom == exact)          // FP-only pre-filter: results identical

    // literalMaxBytes = 0 forces the LARGE-sketch path (broadcast variable
    // + BloomMightContainBroadcast instead of a plan literal): verdicts —
    // and therefore results — must be bit-identical to both other forms
    val bloomBc = Decontam.bloomDecontaminate(train, bench, "doc_id", "text", n = 6,
        expectedBenchmarkGrams = 1024, literalMaxBytes = 0)
      .orderBy("a", "b").collect().toSeq
    assert(bloomBc == exact)
  }

  test("bloom probe rejects malformed sketches with a descriptive error") {
    import graft.functions.BloomKernels
    // empty input previously read byte 0 out of bounds; a 1-byte sketch
    // previously divided by m = 0 inside codegen — both now name bloom_agg
    for (bad <- Seq(Array.emptyByteArray, Array[Byte](7))) {
      val e = intercept[IllegalArgumentException](BloomKernels.mightContain(bad, 42L))
      assert(e.getMessage.contains("bloom_agg"))
    }
    // and through the Column form on an executor
    val err = intercept[Exception] {
      Seq(1L).toDF("x")
        .select(graft.functions.BloomSketch.mightContain(lit("").cast("binary"), $"x")).collect()
    }
    assert(err.getMessage != null)
  }

  test("sharding: pos is a total permutation, shards balance, distributed form ≡ global window") {
    import org.apache.spark.sql.expressions.Window
    val n = 997 // prime, so round-robin leaves a ragged tail
    val df = (0 until n).map(i => (i.toLong, i * 3)).toDF("k", "payload")
    val out = Sharding.shuffleShards(df, "k", numShards = 16).cache()

    // pos is exactly 1..n
    val poss = out.select("pos").collect().map(_.getLong(0)).sorted
    assert(poss.toSeq == (1L to n.toLong))

    // shards balanced to ±1
    val sizes = out.groupBy("shard").count().collect().map(_.getAs[Long]("count"))
    assert(sizes.length == 16 && sizes.max - sizes.min <= 1)

    // distributed rank ≡ the naive single-task global window
    val sk = md5(concat(lit("shard|"), col("k").cast("string")))
    val naive = df.withColumn("pos2",
      row_number().over(Window.orderBy(sk, col("k"))).cast("long"))
    val mismatches = out.join(naive, "k")
      .filter(col("pos") =!= col("pos2")).count()
    assert(mismatches == 0L)

    // deterministic under input partitioning
    val again = Sharding.shuffleShards(df.repartition(7), "k", 16)
      .select("k", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = out.select("k", "pos").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == first)
    out.unpersist()
  }

  test("bottom-k sample: exactly k per stratum, mergeable, deterministic") {
    val df = (0 until 400).map(i => (i.toLong, if (i % 4 == 0) "a" else "b"))
      .toDF("k", "s")
    val sample = Splits.bottomK(df, "k", "s", k = 10)
    val sizes = sample.groupBy("s").count().collect()
      .map(r => r.getAs[String]("s") -> r.getAs[Long]("count")).toMap
    assert(sizes == Map("a" -> 10L, "b" -> 10L))

    // stratum smaller than k → keep all of it
    val tiny = Splits.bottomK(df.filter(col("k") < 6), "k", "s", k = 10)
    assert(tiny.count() == 6L)

    // mergeability: bottom-k of the union == bottom-k of per-part bottom-ks
    val partA = df.filter(col("k") < 200)
    val partB = df.filter(col("k") >= 200)
    val merged = Splits.bottomK(
      Splits.bottomK(partA, "k", "s", 10).unionByName(Splits.bottomK(partB, "k", "s", 10)),
      "k", "s", 10)
    def keys(d: org.apache.spark.sql.DataFrame) =
      d.select("k").collect().map(_.getLong(0)).toSet
    assert(keys(merged) == keys(sample))

    // deterministic under input partitioning
    assert(keys(Splits.bottomK(df.repartition(11), "k", "s", 10)) == keys(sample))
  }

  test("bigram LM: MLE counts and scale-4 log scores are exact") {
    val corpus = Seq((1L, "a b a"), (2L, "a b b")).toDF("doc_id", "text")
    val model = LanguageModel.bigramModel(corpus, "text")
    val m = model.collect().map(r =>
      r.getAs[String]("w12") -> (r.getAs[Long]("c12"), r.getAs[Long]("c1"))).toMap
    // bigrams: d1 = {a b, b a}, d2 = {a b, b b}
    assert(m == Map("a b" -> (2L, 2L), "b a" -> (1L, 2L), "b b" -> (1L, 2L)))

    val scored = LanguageModel.scoreBigrams(corpus, "doc_id", "text", model)
      .orderBy("doc_id").collect()
    // d1: ln(2/2)=0 and ln(1/2) → floor(-6931.47 + 0.5) = -6931
    assert(scored(0).getAs[Long]("n_bigrams") == 2L)
    assert(scored(0).getAs[Long]("logsum4") == -6931L)
    // -6931/1e4 is not exactly representable; the IEEE chain lands just
    // below -3465.0 before the floor, identically in any engine
    assert(scored(0).getAs[Double]("avg_logp") == -0.3466)
    // d2 has the same shape (ln(2/2) + ln(1/2))
    assert(scored(1).getAs[Long]("logsum4") == -6931L)
  }

  test("hard negatives: different-label only, dense ranks, similarity-sorted") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), 0), (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.8f, 0.2f), 1), (4L, Seq(0.0f, 1.0f), 1), (5L, Seq(0.7f, 0.3f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = Embeddings.hardNegatives(vecs, vecs.filter($"vec_id" === 1), k = 3)
      .orderBy("rank").collect()
    assert(out.forall(r => r.getAs[Int]("clabel") != r.getAs[Int]("qlabel")))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    // hardest negative first: vec 3 is most similar to vec 1 among labels != 0
    assert(out(0).getAs[Long]("cid") == 3L)
    val sims = out.map(_.getAs[Double]("sim"))
    assert(sims.sorted.reverse.toSeq == sims.toSeq)
  }

  test("q-gram kernel ≡ declarative charGrams+jaccardSets, bit-exact") {
    import graft.functions.QgramKernels
    val strs = Seq("", "a", "ab", "aa", "abcabc", "spark native engine",
      "engine native spark", "xyxyxyxyxy", "polished steel wheel", "steel wheel polish",
      "a b c", "identical", "identical",
      // supplementary planes (code-point gram basis, 21-bit packing) and
      // the truncated-vs-NUL-prefixed aliasing the sentinel prevents
      "a😀b", "😀😀", "𝒳y", "\u0000a")
    val pairs = for (x <- strs; y <- strs) yield (x, y)
    val df = pairs.toDF("x", "y")
    val r = df.select(
      QgramKernels.sortedCodesJaccard(
        QgramKernels.charGramCodes(col("x"), 2),
        QgramKernels.charGramCodes(col("y"), 2)).as("kernel"),
      TextAnalysis.jaccardSets(
        TextAnalysis.charGrams(col("x"), 2),
        TextAnalysis.charGrams(col("y"), 2)).as("hof")).collect()
    r.foreach(row => assert(row.getDouble(0) == row.getDouble(1),
      s"kernel ${row.getDouble(0)} != hof ${row.getDouble(1)}"))

    // the length sentinel keeps a short string's truncated gram distinct
    // from a NUL-prefixed full gram (the old 16-bit packing aliased these)
    val collide = Seq(("a", "\u0000a")).toDF("x", "y").select(
      QgramKernels.sortedCodesJaccard(
        QgramKernels.charGramCodes(col("x"), 2),
        QgramKernels.charGramCodes(col("y"), 2))).collect()(0).getDouble(0)
    assert(collide == 0.0)

    // q = 4 cannot pack supplementary-plane code points: loud rejection,
    // never a silent mis-gram
    val boom = intercept[Exception] {
      Seq(Tuple1("abc😀def")).toDF("s")
        .select(QgramKernels.charGramCodes(col("s"), 4)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(boom).exists(_.contains("supplementary")))
  }

  test("mixing SQL twin matches the Column form") {
    val df = (0 until 500).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "src")
    val weights = Seq("a" -> 1.5, "b" -> 0.4)
    val colForm = Mixing.upsampleMix(df, "k", "src", weights, 1.0)
      .groupBy("k").agg(count(lit(1)).as("c"))
    df.createOrReplaceTempView("mix_twin_in")
    // the twin targets DuckDB; Spark spells the string cast STRING
    val twin = Mixing.nCopiesSql("k", "src", weights, 1.0)
      .replace("AS VARCHAR)", "AS STRING)")
    val sqlForm = spark.sql(s"SELECT k, $twin AS c FROM mix_twin_in")
      .filter(col("c") > 0)
    val joined = colForm.as("l").join(sqlForm.as("r"), "k")
      .filter(col("l.c") =!= col("r.c")).count()
    assert(joined == 0L)
    assert(colForm.count() == sqlForm.count())
  }

  test("trigram backoff: every tier reachable, exact scale-4 sums, OOV counted") {
    val train = Seq((0L, "a b c a b c")).toDF("doc_id", "text")
    // model: c3("a b c")=2, c3("b c a")=1, c3("c a b")=1;
    //        c2("a b")=2, c2("b c")=2, c2("c a")=1; c1(a/b/c)=2 each, N=6
    val docs = Seq(
      (1L, "a b c x b c"), // tiers: MLE ln(2/2)=0; OOV("b c x"→x);
                           //        unigram ln(.16·2/6)=-29312; bigram ln(.4·2/2)=-9163
      (2L, "z z z")        // single all-OOV trigram
    ).toDF("doc_id", "text")
    val out = LanguageModel.trigramBackoffScores(train, docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_scored") == 3L)
    assert(out(0).getAs[Long]("n_oov") == 1L)
    assert(out(0).getAs[Long]("logsum4") == -38475L)
    assert(out(0).getAs[Double]("avg_logp") == -1.2825)
    assert(out(1).getAs[Long]("n_scored") == 0L)
    assert(out(1).getAs[Long]("n_oov") == 1L)
    assert(out(1).isNullAt(out(1).fieldIndex("logsum4")))
    assert(out(1).isNullAt(out(1).fieldIndex("avg_logp")))
  }

  test("rrf fusion: exact scale-8 scores, absent-list zeros, tie order") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id_a", "rank_a")
    val b = Seq((20L, 1), (40L, 2)).toDF("id_b", "rank_b")
    val out = HybridRetrieval.rrfFuse(a, "id_a", "rank_a", b, "id_b", "rank_b",
      k = 60, topK = 10).collect()
    // doc 20: 1/62 + 1/61 = 0.03252... → 3252387; doc 10: 1/61 → 1639344;
    // doc 40: 1/62 → 1612903; doc 30: 1/63 → 1587302 (floor(x·1e8+0.5))
    val byId = out.map(r => r.getAs[Long]("id") ->
      (r.getAs[Int]("rnk"), r.getAs[Long]("fused8"))).toMap
    assert(byId(20L) == (1, math.floor((1.0 / 62 + 1.0 / 61) * 1e8 + 0.5).toLong))
    assert(byId(10L) == (2, math.floor((1.0 / 61) * 1e8 + 0.5).toLong))
    assert(byId(40L) == (3, math.floor((1.0 / 62) * 1e8 + 0.5).toLong))
    assert(byId(30L) == (4, math.floor((1.0 / 63) * 1e8 + 0.5).toLong))
    // absent-side ranks are NULL
    val r40 = out.find(_.getAs[Long]("id") == 40L).get
    assert(r40.isNullAt(r40.fieldIndex("ra")) && r40.getAs[Int]("rb") == 2)
    // equal fused scores tie-break on id: two docs only in one list each
    // at the same rank
    val t1 = Seq((5L, 1)).toDF("i", "r")
    val t2 = Seq((3L, 1)).toDF("i", "r")
    val tie = HybridRetrieval.rrfFuse(t1, "i", "r", t2, "i", "r", 60, 10)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(tie == Seq(3L, 5L))
  }

  test("rrf fusion guards: duplicate ids collapse to best rank, non-positive rank raises") {
    // a duplicate id in one list must NOT fan out through the full-outer
    // join — it collapses to its best (minimum) rank before fusing
    val dup = Seq((10L, 3), (10L, 1), (20L, 2)).toDF("i", "r")
    val other = Seq((10L, 1)).toDF("i", "r")
    val out = HybridRetrieval.rrfFuse(dup, "i", "r", other, "i", "r",
      k = 60, topK = 10).collect()
    assert(out.length == 2) // one fused row per id, not three
    val d10 = out.find(_.getAs[Long]("id") == 10L).get
    assert(d10.getAs[Int]("ra") == 1) // min(3, 1)
    assert(d10.getAs[Long]("fused8") ==
      math.floor((1.0 / 61 + 1.0 / 61) * 1e8 + 0.5).toLong)
    // rank 0 / negative ranks violate the 1-based contract → loud failure
    // at execution (a rank of exactly -k would divide by zero)
    val bad = Seq((10L, 0)).toDF("i", "r")
    val boom = intercept[Exception] {
      HybridRetrieval.rrfFuse(bad, "i", "r", other, "i", "r", 60, 10).collect()
    }
    assert(boom.getMessage != null)
  }

  test("bm25: scale-4 exact scores, ranking, and no-match exclusion") {
    val docs = Seq(
      (1L, "join hash"),          // dl=2, matches join+hash
      (2L, "join join spark x"),  // dl=4, matches join(tf=2)+spark
      (3L, "foo bar")             // dl=2, no query term → excluded
    ).toDF("doc_id", "text")
    val out = Bm25.scoreTopK(docs, "doc_id", "text",
      Seq("join", "hash", "spark"), topK = 10).collect()
    assert(out.length == 2) // d3 has no matching term
    // Hand-computed with N=3, avgdl=8/3, k1=1.2, b=0.75 (IEEE double chain):
    // d1: c4(join)=5235 + c4(hash)=10926 → 16161; d2: 5666 + 8143 → 13809
    val r1 = out(0)
    assert(r1.getAs[Int]("rnk") == 1 && r1.getAs[Long]("doc_id") == 1L)
    assert(r1.getAs[Long]("n_terms") == 2L)
    assert(r1.getAs[Double]("score4") == 1.6161)
    val r2 = out(1)
    assert(r2.getAs[Int]("rnk") == 2 && r2.getAs[Long]("doc_id") == 2L)
    assert(r2.getAs[Long]("n_terms") == 2L)
    assert(r2.getAs[Double]("score4") == 1.3809)
  }

  test("bm25: top-k plans as TakeOrderedAndProject, ties break on doc id") {
    val docs = (0L until 200L).map(i => (i, "join")).toDF("doc_id", "text")
    val q = Bm25.scoreTopK(docs, "doc_id", "text", Seq("join"), topK = 5)
    assert(q.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    // every doc has identical tf/dl → identical score; tie order is doc_id
    assert(q.collect().map(_.getAs[Long]("doc_id")).toSeq == (0L to 4L))
    intercept[IllegalArgumentException] {
      Bm25.scoreTopK(docs, "doc_id", "text", Seq.empty)
    }
  }
}
