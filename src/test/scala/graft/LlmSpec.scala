package graft

import org.apache.spark.sql.functions._
import graft.llm._

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different content about spark engines and distributed queries here"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today")) // exact dup of 0
    .toDF("doc_id", "text")

  test("text analysis: tokens, occurrences, stopwords, langid, fingerprint") {
    val t = TextAnalysis
    val r = docs.filter($"doc_id" === 0)
      .select(
        t.tokenCountWs($"text").as("nws"),
        element_at(t.langMarkerCounts($"text"), 1).as("nthe"), // marker " the "
        t.stopwordRatio($"text").as("swr"),
        t.langIdFromScores(t.langScoresFromCounts(t.langMarkerCounts($"text"))).as("lang"),
        t.fingerprint($"text").as("fp"))
      .collect()(0)
    assert(r.getAs[Int]("nws") == 14)
    assert(r.getAs[Long]("nthe") == 3L)
    assert(r.getAs[String]("lang") == "en")
    assert(r.getAs[String]("fp").length == 32)
    // identical text → identical fingerprint
    val fps = docs.filter($"doc_id".isin(0L, 3L))
      .select(t.fingerprint($"text")).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = MinHashLsh.nearDupPairs(docs, "doc_id", "text")
      .orderBy("a", "b").collect()
    val pairSet = pairs.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairSet.contains((0L, 3L))) // exact dup always collides
    val exact = pairs.find(r => r.getAs[Long]("a") == 0L && r.getAs[Long]("b") == 3L).get
    assert(exact.getAs[Double]("jaccard") == 1.0)
    assert(exact.getAs[Long]("n_bands") == 4L)
    assert(!pairSet.exists { case (a, b) => a == 2L || b == 2L }) // unrelated never

    // externally-built (a, b)-only pair frames stay valid verify input:
    // the ReuseExchange tautology filter must only apply when the pairs
    // actually carry the pipeline's n_bands column
    val external = Seq((0L, 3L)).toDF("a", "b")
    val verified = MinHashLsh
      .jaccardVerifyDocs(external, docs, "doc_id", "text", MinHashLsh.Config())
      .collect()
    assert(verified.length == 1 && verified(0).getAs[Double]("jaccard") == 1.0)
  }

  test("simhash: deterministic, near-dups within small hamming distance") {
    val h = docs.select($"doc_id", SimHash.simhash32("text").as("sh")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h.values.forall(s => s.length == 32 && s.forall(c => c == '0' || c == '1')))
    assert(h(0L) == h(3L)) // identical docs
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(ham(h(0L), h(1L)) < ham(h(0L), h(2L))) // near-dup closer than unrelated
  }

  test("simhash: compiled kernel ≡ interpreted expression ≡ explode+agg") {
    val viaExpr = docs.select($"doc_id", SimHash.simhash32("text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaKernel = docs.select($"doc_id", SimHash.simhash32Kernel($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaAgg = SimHash.simhash32Agg(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaKernel == viaExpr)
    assert(viaKernel == viaAgg)
  }

  test("marker counts kernel ≡ replace-length occurrences") {
    val t = TextAnalysis
    val markers = t.allLangMarkers
    val viaKernel = docs.select($"doc_id", t.langMarkerCounts($"text").as("mc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val padded = concat(lit(" "), lower($"text"), lit(" "))
    // non-overlapping occurrences by the replace-length identity
    def occurrences(m: String) =
      ((length(padded) - length(replace(padded, lit(m), lit("")))) / m.length).cast("long")
    val viaReplace = docs.select(($"doc_id" +: markers.zipWithIndex.map {
      case (m, i) => occurrences(m).as(s"m$i") }): _*)
      .collect().map(r => r.getLong(0) -> markers.indices.map(i => r.getLong(i + 1))).toMap
    assert(viaKernel.view.mapValues(_.toSeq).toMap == viaReplace.view.mapValues(_.toSeq).toMap)
  }

  test("embeddings: cosine correctness and top-k ordering") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Embeddings.cosineTopK(vecs, vecs.filter($"vec_id" === 0), 3)
      .orderBy("rank").collect()
    assert(got.map(_.getAs[Long]("cid")).sameElements(Array(1L, 2L, 3L)))
    assert(math.abs(got(1).getAs[Double]("sim")) < 1e-12)       // orthogonal
    assert(math.abs(got(2).getAs[Double]("sim") + 1.0) < 1e-12) // opposite
  }

  test("ann lsh: identical vectors share a bucket and find each other") {
    val vecs = Seq(
      (0L, Array.fill(64)(0.5f)),
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val planes = Embeddings.hyperplanes(6, 64)
    assert(planes.length == 6 && planes.forall(_.length == 64))
    assert(planes == Embeddings.hyperplanes(6, 64)) // deterministic
    val got = Embeddings.annTopK(vecs, planes, 3).collect()
    val found = got.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(found.contains((0L, 1L)) && found.contains((1L, 0L)))
  }

  test("ivf: centroid assignment groups same-direction vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (3L, Array(0.1f, 0.9f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Embeddings.centroids(vecs)
    assert(cents.count() == 2)
    val assigned = Embeddings.ivfAssign(vecs, cents)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(assigned(0L) == 0 && assigned(1L) == 0)
    assert(assigned(2L) == 1 && assigned(3L) == 1)
    val topk = Embeddings.ivfTopK(vecs, cents, 3)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(topk == Set((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L))) // within-cell only
  }

  test("in-cell dedup ≡ all-pairs baseline on co-assigned pairs; no BNLJ") {
    import org.apache.spark.sql.expressions.Window
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.98f, 0.02f, 0.0f, 0.0f), 0),  // near-dup of 0, same cell
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 1),
      (3L, Array(0.02f, 0.98f, 0.0f, 0.0f), 1),  // near-dup of 2, same cell
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 0))   // anti-parallel: no dup
      .toDF("vec_id", "embedding", "label")
    val cents = Embeddings.centroids(vecs)
    val bucketed = Embeddings.dedupInCells(vecs, cents, 0.9)
      .collect().map(r => (r.getAs[Long]("dup_id"), r.getAs[Long]("kept_id"))).toSet
    // all-pairs exactness baseline (test-only: this join is quadratic),
    // restricted to pairs the quantizer co-assigns
    val assigned = Embeddings.ivfAssign(vecs, cents)
    val l = assigned.select(col("vec_id").as("kept_id"), col("vec").as("va"), col("cell").as("ca"))
    val r = assigned.select(col("vec_id").as("dup_id"), col("vec").as("vb"), col("cell").as("cb"))
    val w = Window.partitionBy(col("dup_id")).orderBy(col("sim").desc, col("kept_id").asc)
    val brute = l.join(r, col("kept_id") < col("dup_id"))
      .filter(col("ca") === col("cb"))
      .withColumn("sim", Embeddings.cosine(col("va"), col("vb")))
      .filter(col("sim") >= 0.9)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1)
      .collect().map(r => (r.getAs[Long]("dup_id"), r.getAs[Long]("kept_id"))).toSet
    assert(bucketed == brute)
    assert(bucketed == Set((1L, 0L), (3L, 2L)))
    // the production plan must candidate-generate via the cell equi-join,
    // never a nested-loop cross product
    val plan = Embeddings.dedupInCells(vecs, cents, 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("cross-corpus decontamination: benchmark overlap found, within-corpus pairs not reported") {
    val train = docs.filter($"doc_id".isin(0L, 1L, 2L)) // includes exact+near dup of each other
    val bench = docs.filter($"doc_id" === 3L)            // doc 3 = exact dup of train doc 0
    val pairs = MinHashLsh.crossNearDupPairs(train, bench, "doc_id", "text").collect()
    val pairSet = pairs.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    // contamination detected: benchmark doc 3 collides with train docs 0
    // (exact) and 1 (near); the unrelated train doc 2 is clean
    assert(pairSet.contains((0L, 3L)))
    assert(!pairSet.exists { case (a, _) => a == 2L })
    val exact = pairs.find(r => r.getAs[Long]("a") == 0L).get
    assert(exact.getAs[Double]("jaccard") == 1.0 && exact.getAs[Long]("n_bands") == 4L)
    // the within-train near-dup pair (0, 1) is NOT reported — cross join
    // only pairs across the corpora
    assert(pairSet.forall { case (_, b) => b == 3L })
  }

  test("xxhash64 minhash family: exact dups always collide, unrelated never") {
    val pairs = MinHashLsh.nearDupPairs(docs, "doc_id", "text",
        MinHashLsh.Config(hashFamily = MinHashLsh.Xx))
      .collect()
    val pairSet = pairs.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    // identical text → identical signature in ANY min-wise family → all
    // bands collide; Jaccard verification is family-independent
    val exact = pairs.find(r => r.getAs[Long]("a") == 0L && r.getAs[Long]("b") == 3L).get
    assert(exact.getAs[Long]("n_bands") == 4L)
    assert(exact.getAs[Double]("jaccard") == 1.0)
    assert(!pairSet.exists { case (a, b) => a == 2L || b == 2L }) // unrelated never
    // signatures are longs (seeded XXH64), not hex strings
    val sig = MinHashLsh.signatures(docs, "doc_id", "text",
        MinHashLsh.Config(hashFamily = MinHashLsh.Xx))
      .select("sig").collect()(0).getSeq[Long](0)
    assert(sig.length == 8)
  }

  test("band join on a deliberately skewed corpus: the hot bucket's full pair set") {
    // one hot bucket: 40 exact copies of the same text minhash identically
    // in EVERY band (plus the two unrelated docs) — the boilerplate shape
    // where one band key holds a quadratic pair count
    val skewed = ((0L until 40L).map(i => (i, "same boilerplate text repeated " +
      "across the whole corpus forever and ever amen")) ++ Seq(
      (100L, "completely different content about spark engines and queries"),
      (101L, "another unrelated document mentioning rivers and banks only")))
      .toDF("doc_id", "text")
    val pairs = MinHashLsh.nearDupPairs(skewed, "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
        r.getAs[Long]("n_bands"), r.getAs[Double]("jaccard"))).toSet
    assert(pairs.size == 40 * 39 / 2) // the hot bucket's full pair set
    assert(pairs.forall { case (a, b, nb, j) => a < 40 && b < 40 && nb == 4 && j == 1.0 })
  }

  test("in-cell dedup on a hot cell: each dup keeps its most-similar lower id") {
    // every vector lands in one cell (all same direction ± tiny noise)
    val hot = (0L until 30L).map { i =>
      (i, Array(1.0f, (i % 7) * 1e-4f, 0.0f, 0.0f), 0)
    }.toDF("vec_id", "embedding", "label")
    val cents = Embeddings.centroids(hot)
    val quant = Embeddings.trainQuantizer(cents)
    val kept = Embeddings.dedupInCells(hot, quant, 0.9)
      .collect().map(r => (r.getAs[Long]("dup_id"), r.getAs[Long]("kept_id"))).toSet
    // every non-zero id is a near-dup; its keeper is the most-similar
    // lower id (sim desc, kept_id asc): the lowest id sharing its noise
    // component (i % 7) when one exists below it, else the adjacent-noise
    // id one below
    val expected = (1L until 30L).map { i =>
      (i, if (i >= 7) i % 7 else i - 1)
    }.toSet
    assert(kept == expected)
  }

  test("quantizer memo: regeneration under the same path retrains and evicts the stale entry") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quant").toString
    def writeCorpus(shift: Float): Unit = Seq(
      (0L, Array(1.0f + shift, 0.0f), 0),
      (1L, Array(0.0f, 1.0f + shift), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(dir)

    Embeddings.invalidateQuantizers()
    writeCorpus(0.0f)
    def train() = Embeddings.quantizerFor(dir,
      Embeddings.centroids(spark.read.parquet(dir)))
    val q1 = train()
    assert(Embeddings.quantizerCacheSize == 1)
    assert(train() eq q1) // same fingerprint → memo hit, no retrain

    writeCorpus(1.0f) // regenerate: new files → new fingerprint
    val q2 = train()
    assert(!(q2 eq q1)) // retrained, not stale-served
    // the superseded entry is evicted, not leaked for the JVM lifetime
    assert(Embeddings.quantizerCacheSize == 1)

    Embeddings.invalidateQuantizers()
    assert(Embeddings.quantizerCacheSize == 0)
  }

  test("group split: cohesive per key, deterministic, threshold math exact") {
    assert(Splits.hexThreshold(0.5) == "80000000")
    assert(Splits.hexThreshold(0.0) == "00000000")
    // f=1.0 is the "g" sentinel: sorts above every hex string, so strict `<`
    // keeps even keys whose md5 prefix is exactly ffffffff
    assert(Splits.hexThreshold(1.0) == "g")
    assert("ffffffff" < Splits.hexThreshold(1.0))
    val rows = (1 to 500).flatMap(u => (1 to 3).map(i => (u.toLong, i)))
      .toDF("user_id", "seq")
    val split = Splits.byGroup(rows, "user_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // cohesion: every user's rows land in exactly one split
    assert(split.groupBy("user_id")
      .agg(countDistinct($"split").as("k")).filter($"k" =!= 1).count() == 0)
    // all three splits non-empty and roughly proportioned at 500 keys
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // deterministic: a second evaluation is identical row-for-row
    val again = Splits.byGroup(rows, "user_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.exceptAll(again).count() == 0 && again.exceptAll(split).count() == 0)
  }

  test("token packing: contiguous fill, oversized doc isolated, per-shard windows") {
    val docs2 = Seq(
      (1L, 0, 600L), (2L, 0, 600L), (3L, 0, 600L), // 600+600 fills bin 0, third spills
      (4L, 0, 2000L),                              // oversized: overflows its bin (contiguous fill)
      (5L, 1, 100L), (6L, 1, 100L))                // second shard packs independently
      .toDF("doc_id", "shard", "toks")
    val packed = Packing.packGreedy(docs2, "toks", 1024, "shard", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin_seq")).toMap
    // shard 0 prefix sums: 0, 600, 1200, 1800 → bins 0, 0, 1, 1
    assert(packed(1L) == 0 && packed(2L) == 0)
    assert(packed(3L) == 1 && packed(4L) == 1)
    // shard 1 restarts: 0, 100 → bin 0
    assert(packed(5L) == 0 && packed(6L) == 0)
    val stats = Packing.binStats(
        Packing.packGreedy(docs2, "toks", 1024, "shard", "doc_id"), "toks", 1024, "shard")
      .collect().map(r => (r.getAs[Int]("shard"), r.getAs[Long]("bin_seq")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("sum_tokens"))).toMap
    assert(stats((0, 0L)) == (2L, 1200L))
    assert(stats((0, 1L)) == (2L, 2600L))
    assert(stats((1, 0L)) == (2L, 200L))
  }

  test("multimodal: envelope metadata") {
    val media = Multimodal.fromDocuments(docs)
    val text0 = docs.filter($"doc_id" === 0).collect()(0).getString(1)
    val env = media.transform(Multimodal.envelope).orderBy("media_id").collect()
    assert(env.map(_.getAs[String]("kind")).toSeq == Seq("image", "audio", "video", "image"))
    assert(env(0).getAs[Int]("n_bytes") == text0.getBytes("UTF-8").length)
    val sha0 = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text0.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(env(0).getAs[String]("content_sha") == sha0)
    assert(env(3).getAs[String]("content_sha") == sha0) // doc 3 is doc 0's exact dup
  }

  test("chunking: full coverage, overlap, and the short-doc single chunk") {
    // 10 tokens, size 4, stride 3 → chunks at 0,3,6 (ceil((10-4)/3)+1 = 3)
    val doc = (0 until 10).map(i => s"w$i").mkString(" ")
    val out = Chunking.chunkByTokens(
        Seq((1L, doc)).toDF("doc_id", "text"), "text", size = 4, stride = 3)
      .orderBy("chunk_ix")
      .select("chunk_ix", "chunk_text", "chunk_tokens").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(out(0).getString(1) == "w0 w1 w2 w3")
    assert(out(1).getString(1) == "w3 w4 w5 w6")
    assert(out(2).getString(1) == "w6 w7 w8 w9") // clamped to doc end
    assert(out.map(_.getLong(2)).toSeq == Seq(4L, 4L, 4L))
    // every token appears in some chunk (coverage), adjacent chunks overlap
    val covered = out.flatMap(_.getString(1).split(" ")).toSet
    assert(covered == (0 until 10).map(i => s"w$i").toSet)
    // short doc → exactly one chunk, the whole doc
    val short = Chunking.chunkByTokens(
        Seq((1L, "a b c")).toDF("doc_id", "text"), "text", size = 4, stride = 3)
      .select("chunk_ix", "chunk_text", "chunk_tokens").collect()
    assert(short.length == 1 && short(0).getString(1) == "a b c" &&
      short(0).getLong(2) == 3L)
    // exact-multiple boundary: 7 tokens, size 4, stride 3 → chunks at 0,3
    val exact = Chunking.chunkByTokens(
        Seq((1L, (0 until 7).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text"),
        "text", size = 4, stride = 3)
      .orderBy("chunk_ix").select("chunk_text").collect().map(_.getString(0))
    assert(exact.toSeq == Seq("t0 t1 t2 t3", "t3 t4 t5 t6"))
    // NULL text rows are dropped (documented), not emitted as empty chunks
    val withNull = Chunking.chunkByTokens(
      Seq((1L, "a b"), (2L, null)).toDF("doc_id", "text"), "text", size = 4, stride = 3)
    assert(withNull.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // input columns colliding with the reserved outputs fail fast
    val clash = intercept[IllegalArgumentException] {
      Chunking.chunkByTokens(
        Seq((1L, "a b", 9L)).toDF("doc_id", "text", "chunk_ix"), "text", 4, 3)
    }
    assert(clash.getMessage.contains("chunk_ix"))
  }

  test("duplicated-passage profile: shared n-grams count, unique text scores 0") {
    // docs 1 and 2 share a verbatim 8-word passage inside otherwise
    // different text; doc 3 is fully novel
    val shared = "one two three four five six seven eight"
    val corpus = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"zeta eta theta $shared iota"),
      (3L, "wholly original text with no repeated passage at all today"))
      .toDF("doc_id", "text")
    val prof = TextAnalysis.duplicatedPassageProfile(corpus, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup"), r.getAs[Double]("dup_frac"))).toMap
    // doc 1: 12 words → 5 distinct 8-grams, exactly one (the shared run) duplicated
    assert(prof(1L)._1 == 5L && prof(1L)._2 == 1L && prof(1L)._3 == 0.2)
    assert(prof(2L)._2 == 1L)
    assert(prof(3L)._2 == 0L && prof(3L)._3 == 0.0)
    // docs shorter than n words contribute no grams and no row
    val short = TextAnalysis.duplicatedPassageProfile(
      Seq((9L, "too short")).toDF("doc_id", "text"), "doc_id", "text", n = 8)
    assert(short.count() == 0L)
  }

  test("duplicated-passage removal: cuts covered spans, keeps unique words in order") {
    val shared = "one two three four five six seven eight"
    val corpus = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"zeta eta theta $shared iota"),
      (3L, "wholly original text with no repeated passage at all today"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicatedPassages(corpus, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_removed"),
         r.getAs[String]("clean_text"))).toMap
    // doc 1: only the shared 8-gram is duplicated; its 8 words go, the
    // unique flanks stay in order
    assert(out(1L) == ((12L, 8L, "alpha beta gamma delta")))
    assert(out(2L) == ((12L, 8L, "zeta eta theta iota")))
    // fully novel doc unchanged
    assert(out(3L)._2 == 0L &&
      out(3L)._3 == "wholly original text with no repeated passage at all today")

    // a document that repeats ITS OWN 8-gram is deduplicated against itself:
    // both copies of "a b c d e f g h" are covered, the lone separator
    // word is not (no duplicated gram's 8-word span reaches position 8)
    val selfDup = "a b c d e f g h x a b c d e f g h"
    val self = TextAnalysis.removeDuplicatedPassages(
      Seq((7L, selfDup)).toDF("doc_id", "text"), "doc_id", "text", n = 8)
      .collect().head
    assert(self.getAs[Long]("n_words") == 17L &&
      self.getAs[Long]("n_removed") == 16L &&
      self.getAs[String]("clean_text") == "x")

    // docs shorter than n words pass through untouched (no grams, no row loss)
    val short = TextAnalysis.removeDuplicatedPassages(
      Seq((9L, "too short")).toDF("doc_id", "text"), "doc_id", "text", n = 8)
      .collect().head
    assert(short.getAs[Long]("n_words") == 2L &&
      short.getAs[Long]("n_removed") == 0L &&
      short.getAs[String]("clean_text") == "too short")
  }

  test("dedup clusters: transitive closure, multiple components, determinism") {
    // chain 1-2-3-4 plus pair 10-11 plus pair (20,21) sharing nothing
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("a", "b")
    val comps = DedupCluster.components(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L)) // chain collapses transitively
    assert(comps(10L) == 10L && comps(11L) == 10L)
    assert(comps(20L) == 20L && comps(21L) == 20L) // min id wins regardless of pair order
    val summary = DedupCluster.clusterSummary(pairs, "a", "b")
      .orderBy("rep").collect()
    assert(summary.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 4L, "1,2,3,4"), (10L, 2L, "10,11"), (20L, 2L, "20,21")))
    // storage stays flat across rounds: every superseded round's
    // localCheckpoint blocks are released — only the final labels (and
    // nothing per-iteration) may remain. The local tier is off, so this
    // runs the propagation rounds (diameter-9 chain) and, on the
    // diameter-59 chain, the propagation rounds plus the star escape.
    for (len <- Seq(9, 59)) {
      val before = spark.sparkContext.getPersistentRDDs.size
      val chain = (0 until len).map(i => (i.toLong, i + 1L)).toDF("a", "b")
      val chainComps = DedupCluster.components(chain, "a", "b",
        localSolveMaxEdges = 0L).collect()
      assert(chainComps.length == len + 1 && chainComps.forall(_.getLong(1) == 0L))
      val after = spark.sparkContext.getPersistentRDDs.size
      assert(after - before <= 1, s"chain $len leaked checkpoint RDDs: $before -> $after")
    }
  }

  /** Near-dup-shaped fixture: multi-cluster, reversed pairs, a duplicate
    * edge and a self-pair singleton, with its fixed labels. */
  private val nearDupPairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
    (21L, 20L), (2L, 1L), (30L, 30L))
  private val nearDupLabels = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
    10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L)

  test("dedup clusters: alternating-star escape hatch for adversarial chains") {
    // a 61-node path whose ids are permuted along it (node i of the path is
    // 37·i mod 61), local tier off: propagation needs ~60 rounds, retires
    // O(1) labels per round, stalls and must escape to the SEEDED star
    // fixpoint, which converges inside the 25-round budget
    val perm = (0 to 60).map(i => (37L * i) % 61)
    val path = perm.zip(perm.tail).toDF("a", "b")
    val escaped = DedupCluster.components(path, "a", "b", localSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(escaped.size == 61 && escaped.forall(_._2 == 0L))

    // propagation alone suffices on a near-dup-shaped (shallow) graph with
    // the local tier off — geometric change-shrink never trips the escape
    val shallow = DedupCluster.components(nearDupPairs.toDF("a", "b"), "a", "b",
        localSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(shallow == nearDupLabels)
  }

  test("dedup clusters: Auto tiering — local union-find, seeded star escape") {
    // sub-threshold edge list → local union-find: the same fixed labels
    // as the distributed tiers, self-pair singleton preserved
    val local = DedupCluster.components(nearDupPairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(local == nearDupLabels)

    // the local tier solves the adversarial diameter-59 chain without iteration
    val longChain = (0 until 59).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val localChain = DedupCluster.components(longChain, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(localChain.size == 60 && localChain.forall(_._2 == 0L))

    // local tier off: monitored propagation stalls on the same chain and
    // escapes to the seeded star fixpoint — the same labels
    val escalated = DedupCluster.components(longChain, "a", "b",
        localSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(escalated == localChain)
  }

  test("dedup clusters: NULL-endpoint pairs dropped in every tier; empty input; self-pair") {
    // a NULL id names no document: (NULL,5) and (7,NULL) link nothing and
    // add no node — no phantom (5,5), (7,7) or (NULL,NULL) rows
    val withNulls = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(5L)),
      (Some(7L), None), (Some(10L), Some(11L))).toDF("a", "b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    val expected = Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
      .map { case (i, r) => (Option[Any](i), Option[Any](r)) }
    for (gate <- Seq(100000L, 0L))
      assert(labels(DedupCluster.components(withNulls, "a", "b",
        localSolveMaxEdges = gate)) == expected, s"localSolveMaxEdges $gate")
    val summary = DedupCluster.clusterSummary(withNulls, "a", "b")
      .orderBy("rep").collect()
    assert(summary.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq((1L, 3L, "1,2,3"), (10L, 2L, "10,11")))

    // an empty pair list has no nodes and no clusters
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupCluster.components(empty, "a", "b").count() == 0)
    assert(DedupCluster.clusterSummary(empty, "a", "b").count() == 0)

    // a self-pair is a node with no edge: it labels itself
    val self = Seq((30L, 30L)).toDF("a", "b")
    for (gate <- Seq(100000L, 0L))
      assert(DedupCluster.components(self, "a", "b", localSolveMaxEdges = gate)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq == Seq(30L -> 30L))
  }

  test("stratified sample: deterministic, subset-monotone, rate-proportional") {
    val df = (0 until 2000).map(i => (i.toLong, if (i % 2 == 0) "en" else "fr"))
      .toDF("id", "lang")
    def sample(rEn: Double, rFr: Double) =
      Splits.stratifiedSample(df, "id", "lang", Seq("en" -> rEn, "fr" -> rFr), 0.0)
        .select("id").collect().map(_.getLong(0)).toSet
    val s1 = sample(0.5, 0.1)
    assert(s1 == sample(0.5, 0.1)) // pure function of the key: identical re-run
    // subset-monotone: raising rates only adds rows
    assert(s1.subsetOf(sample(0.8, 0.3)))
    // realized rates near targets (md5 keyspace is uniform; 1000/stratum)
    val en = s1.count(_ % 2 == 0) / 1000.0
    val fr = s1.count(_ % 2 == 1) / 1000.0
    assert(math.abs(en - 0.5) < 0.06, s"en rate $en")
    assert(math.abs(fr - 0.1) < 0.04, s"fr rate $fr")
    // unknown stratum falls to defaultRate 0 → dropped entirely
    val other = Splits.stratifiedSample(
      Seq((1L, "zz")).toDF("id", "lang"), "id", "lang", Seq("en" -> 1.0), 0.0)
    assert(other.count() == 0)
    // rate 1.0 keeps EVERY row — no 2⁻³² leak from a clamped hex threshold
    assert(Splits.stratifiedSample(df, "id", "lang",
      Seq("en" -> 1.0), 1.0).count() == 2000)
    // SQL twins escape quoted stratum names / salts instead of breaking
    val sql = Splits.stratifiedSampleSql("id", "lang", Seq("o'brien" -> 0.5), 0.1, salt = "s'1")
    assert(sql.contains("'o''brien'") && sql.contains("'s''1|'"))
    val caseSql = Splits.splitCaseSql("id", Seq("tr'ain" -> 0.5, "te'st" -> 0.5))
    assert(caseSql.contains("'tr''ain'") && caseSql.contains("'te''st'"))
  }

  test("tf-idf: hand-checked tf/df/N, slice-independent corpus stats") {
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "durian banana cherry")).toDF("doc_id", "text")
    val byName = TextAnalysis.tfIdf(corpus, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("word")) ->
        ((r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Double]("tfidf")))).toMap
    val apple = byName((1L, "apple"))
    assert(apple._1 == 2L && apple._2 == 1L)
    // Spark's Log expression evaluates via StrictMath — allow the last ulp
    assert(math.abs(apple._3 - 2.0 * math.log(3.0)) < 1e-12)
    assert(byName((2L, "banana"))._1 == 1L)
    assert(byName((2L, "banana"))._2 == 3L) // banana in all 3 docs
    assert(byName((2L, "banana"))._3 == 0.0) // ln(3/3) = 0
    // docFilter restricts output rows but NOT df/N
    val sliced = TextAnalysis.tfIdf(corpus, "doc_id", "text",
        docFilter = Some(col("doc_id") === 1L)).collect()
    assert(sliced.map(_.getAs[Long]("doc_id")).toSet == Set(1L))
    val sbanana = sliced.find(_.getAs[String]("word") == "banana").get
    assert(sbanana.getAs[Long]("df") == 3L) // still corpus-wide
  }

  test("decontam: verbatim quote scores containment 1.0, every boilerplate host flagged") {
    // benchmark item (6 words → 3 distinct 4-grams) quoted verbatim inside
    // a much longer training doc — symmetric Jaccard would be tiny
    val quote = "alpha beta gamma delta epsilon zeta"
    val host = ("lorem ipsum dolor sit amet " + quote + " consectetur adipiscing elit sed") // quote embedded
    val train = Seq(
      (100L, host),
      (101L, "completely unrelated training text with no shared phrases at all here")
    ).toDF("doc_id", "text")
    val bench = Seq((200L, quote)).toDF("doc_id", "text")
    val hits = Decontam.exactNgramOverlap(train, bench, "doc_id", "text", n = 4)
      .collect()
    assert(hits.length == 1)
    val h = hits(0)
    assert(h.getAs[Long]("a") == 100L && h.getAs[Long]("b") == 200L)
    assert(h.getAs[Long]("n_shared") == 3L && h.getAs[Long]("b_grams") == 3L)
    assert(h.getAs[Double]("containment") == 1.0)
    // minContainment filters
    assert(Decontam.exactNgramOverlap(train, bench, "doc_id", "text", n = 4,
      minContainment = 1.1).count() == 0)
    // boilerplate quoted by three training docs: every host is a full hit
    val boiler = "common header line one two three four"
    val train2 = Seq((1L, boiler + " body a"), (2L, boiler + " body b"),
      (3L, boiler + " body c")).toDF("doc_id", "text")
    val bench2 = Seq((9L, boiler)).toDF("doc_id", "text")
    val hosts = Decontam.exactNgramOverlap(train2, bench2, "doc_id", "text", n = 4)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Double]("containment"))).toMap
    assert(hosts.size == 3 && hosts.values.forall(_ == 1.0))
  }

  test("semanticOverlap: bucket-blocked cosine sweep; threshold + bucket misses") {
    // one sign plane on the x-axis: bucket '1' = x > 0
    val planes = Seq(Seq(1.0, 0.0))
    val corpus = Seq(
      (1L, Array(1.0f, 0.1f), true),   // eval, bucket 1
      (2L, Array(-1.0f, 0.0f), true),  // eval, bucket 0 — no train neighbor there
      (10L, Array(1.0f, 0.0f), false), // train, bucket 1: cos(e1) ≈ 0.995
      (11L, Array(0.1f, 1.0f), false), // train, bucket 1: cos(e1) ≈ 0.197 < τ
      (12L, Array(-1.0f, 0.1f), false) // train, bucket 0: near e2 but e2 has
                                       // no hit ABOVE τ? cos(e2,12) ≈ 0.985 — hit!
    ).toDF("vec_id", "embedding", "is_eval")
    val out = graft.llm.Decontam.semanticOverlap(
        corpus, "vec_id", "embedding", col("is_eval"), planes, threshold = 0.9)
      .collect().map(r => r.getAs[Long]("eval_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Long]("top_train_id"),
          r.getAs[Double]("top_sim"))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 1L && out(1L)._2 == 10L && out(1L)._3 > 0.99)
    assert(out(2L)._2 == 12L)
    // raise the bar: nothing clears 0.999 → clean sweep, empty frame
    assert(graft.llm.Decontam.semanticOverlap(
      corpus, "vec_id", "embedding", col("is_eval"), planes, 0.999).count() == 0)
    // bucket miss is a DESIGN property: a cross-plane near-duplicate is
    // not a candidate (eval e2 at x<0 never scans train vec 10 at x>0)
    val split = Seq(
      (1L, Array(0.001f, 1.0f), true),   // bucket 1 (x barely > 0)
      (20L, Array(-0.001f, 1.0f), false) // bucket 0, cosine ≈ 1 — missed
    ).toDF("vec_id", "embedding", "is_eval")
    assert(graft.llm.Decontam.semanticOverlap(
      split, "vec_id", "embedding", col("is_eval"), planes, 0.5).count() == 0)
    intercept[IllegalArgumentException] {
      graft.llm.Decontam.semanticOverlap(
        corpus, "vec_id", "embedding", col("is_eval"), planes, 0.0)
    }
  }

  test("normalized + char-gram jaccard: canonical forms and set similarity") {
    val t = TextAnalysis
    val r = Seq(
      ("The  QUICK, brown fox!", "quick brown fox"),
      ("a of to and the", ""),                       // all stopwords
      ("spark;engine", "sparkengine"))               // punctuation strip joins
      .toDF("raw", "want")
      .select(t.normalized(col("raw")).as("got"), col("want")).collect()
    r.foreach(row => assert(row.getString(0) == row.getString(1),
      s"normalized mismatch: got '${row.getString(0)}' want '${row.getString(1)}'"))
    val j = Seq(("night", "night"), ("night", "nacht"), ("abc", "xyz"))
      .toDF("a", "b")
      .select(t.jaccardSets(t.charGrams(col("a"), 2), t.charGrams(col("b"), 2)))
      .collect().map(_.getDouble(0))
    assert(j(0) == 1.0)             // identical
    assert(j(1) > 0 && j(1) < 1.0)  // night/nacht share "ht"
    assert(j(2) == 0.0)             // disjoint
    // sub-q strings: single truncated gram, never an empty set (matches SQL twin)
    val short = Seq(Tuple1("x")).toDF("s")
      .select(t.charGrams(col("s"), 2)).collect()(0).getSeq[String](0)
    assert(short == Seq("x"))
  }

  test("heavy hitters: certified two-pass top-k ≡ exact, any partitioning, both membership paths") {
    // skewed Zipf-ish corpus: token t{i} appears ~ 4000/i times, i in 1..200
    // — 200 distinct, capacity 64 < distinct so the sketch genuinely lossy
    val rnd = new scala.util.Random(7)
    val words = (1 to 200).flatMap(i => Seq.fill(4000 / i)(s"t$i"))
    val shuffled = rnd.shuffle(words)
    val exact = shuffled.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(10)
    for (parts <- Seq(1, 3, 8); inListMax <- Seq(1000, 0)) {
      // one "document" per 50 tokens so split() exercises the real path
      val docsDf = shuffled.grouped(50).map(_.mkString(" ")).toSeq
        .toDF("text").repartition(parts)
      val got = HeavyHitters.topKTokens(
        docsDf, col("text"), k = 10, capacity = 64, inListMax = inListMax)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == exact, s"parts=$parts inListMax=$inListMax")
    }
    // capacity >= distinct: sketch is lossless, err = 0, fewer-than-k path
    val tiny = Seq("a a a b b c").toDF("text")
    val all = HeavyHitters.topKTokens(tiny, col("text"), k = 10, capacity = 16)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(all == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
    // uncertifiable: uniform counts with a tiny sketch must refuse loudly,
    // not return plausible-but-unprovable ranks
    val uniform = (1 to 400).map(i => s"u$i").grouped(20)
      .map(_.mkString(" ")).toSeq.toDF("text")
    val e = intercept[IllegalArgumentException](
      HeavyHitters.topKTokens(uniform, col("text"), k = 10, capacity = 4))
    assert(e.getMessage.contains("raise capacity"))
  }

  test("naive bayes: local-math mirror, separability, unseen mass, ties, partitioning") {
    val train = Seq(
      (0L, "spam", "buy cheap pills now buy"),
      (1L, "spam", "cheap pills cheap deal"),
      (2L, "ham", "meeting notes for the team"),
      (3L, "ham", "team lunch notes today"))
      .toDF("doc_id", "lang", "text")
    def run(parts: Int): Map[Long, (String, Long)] = {
      val t = train.repartition(parts)
      val (m, s) = NaiveBayes.train(t, "lang", "text")
      NaiveBayes.predict(t, "doc_id", "text", m, s)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    }
    val got = run(4)
    // separable vocab: self-prediction recovers every label
    assert(got(0L)._1 == "spam" && got(1L)._1 == "spam")
    assert(got(2L)._1 == "ham" && got(3L)._1 == "ham")
    assert(run(1) == got) // partition-invariant integer scores

    // local mirror of the exact integer formula for doc 1 under "spam":
    // V = distinct tokens in train, T = spam token total
    val tokensOf = (s: String) => s.split(" ").toSeq
    val allTok = Seq("buy cheap pills now buy", "cheap pills cheap deal",
      "meeting notes for the team", "team lunch notes today").flatMap(tokensOf)
    val v = allTok.distinct.size
    val spamTok = Seq("buy cheap pills now buy", "cheap pills cheap deal").flatMap(tokensOf)
    val tTot = spamTok.size
    def l4(x: Double) = math.floor(math.log(x) * 10000 + 0.5).toLong
    val c = spamTok.groupBy(identity).view.mapValues(_.size).toMap
    val want = l4(2.0 / 4.0) + tokensOf("cheap pills cheap deal")
      .map(t => l4((c.getOrElse(t, 0) + 1.0) / (tTot + v))).sum
    assert(got(1L)._2 == want)

    // all-unseen doc: score is exactly prior4 + M * lp0 per class; with
    // equal priors and equal token totals... ham/spam differ, so just pin
    // the closed form for one class via score()
    val (m2, s2) = NaiveBayes.train(train, "lang", "text")
    val novel = Seq((9L, "zzz qqq xxx")).toDF("doc_id", "text")
    val sc = NaiveBayes.score(novel, "doc_id", "text", m2, s2)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val spamWant = l4(2.0 / 4.0) + 3L * l4(1.0 / (tTot + v))
    assert(sc("spam") == spamWant)

    // symmetric corpus → equal scores → tie broken by label asc
    val sym = Seq((0L, "a", "x y"), (1L, "b", "x y")).toDF("doc_id", "lang", "text")
    val (m3, s3) = NaiveBayes.train(sym, "lang", "text")
    val pred = NaiveBayes.predict(sym, "doc_id", "text", m3, s3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pred(0L) == "a" && pred(1L) == "a")
  }

  test("temperature resample: local mirror, cap path, budget-monotone, flattens skew") {
    // skewed strata: big=400 rows, mid=90, tiny=4
    val rows = (1 to 400).map(i => (i.toLong, "big")) ++
      (401 to 490).map(i => (i.toLong, "mid")) ++
      (491 to 494).map(i => (i.toLong, "tiny"))
    val df = rows.toDF("id", "src")

    // local mirror of the exact keep-set (same md5 keyspace draw)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def localKeep(budget: Long): Set[Long] = {
      val ns = rows.groupBy(_._2).view.mapValues(_.size).toMap
      val z = ns.values.map(n => math.sqrt(n.toDouble)).sum
      rows.filter { case (id, src) =>
        val rate = math.min(1.0, budget * math.sqrt(ns(src).toDouble) / z / ns(src))
        val th = if (rate >= 1.0) "g"
          else f"${math.floor(rate * 4294967296.0).toLong}%08x"
        md5hex(s"tmp|$id").substring(0, 8) < th
      }.map(_._1).toSet
    }
    val got100 = Mixing.temperatureResample(df, "id", "src", 0.5, 100)
      .select("id").as[Long].collect().toSet
    assert(got100 == localKeep(100))

    // temperature flattening: tiny stratum keeps a larger FRACTION than big
    val bySrc = Mixing.temperatureResample(df, "id", "src", 0.5, 100)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fracBig = bySrc.getOrElse("big", 0L).toDouble / 400
    val fracTiny = bySrc.getOrElse("tiny", 0L).toDouble / 4
    assert(fracTiny > fracBig)
    // tiny's rate caps at 1.0 under a large budget → all 4 kept ('g' path)
    val big = Mixing.temperatureResample(df, "id", "src", 0.5, 5000)
      .filter($"src" === "tiny").count()
    assert(big == 4L)

    // subset-monotone in the budget
    val got300 = Mixing.temperatureResample(df, "id", "src", 0.5, 300)
      .select("id").as[Long].collect().toSet
    assert(got100.subsetOf(got300))
    assert(got300 == localKeep(300))

    // reserved-column clash fails loudly
    val e = intercept[IllegalArgumentException](
      Mixing.temperatureResample(df.withColumn("__th", lit(1)), "id", "src", 0.5, 10))
    assert(e.getMessage.contains("__th"))
  }

  test("vocab truncation: OOV rewrite preserves order, counts, absolute ≡ relative") {
    val corpus = Seq(
      (0L, "the cat sat on the mat"),
      (1L, "the dog sat on the rug zyzzyva"),
      (2L, "the cat and the dog sat"))
      .toDF("doc_id", "text")
    // absolute threshold: words appearing >= 2 times
    val vocab = Vocab.build(corpus, col("text"), minCount = 2)
    val kept = vocab.select("token").as[String].collect().toSet
    assert(kept == Set("the", "cat", "sat", "on", "dog")) // mat/rug/zyzzyva/and are singletons
    val got = Vocab.truncateToVocab(corpus, "doc_id", col("text"), vocab)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(0L) == (("the cat sat on the <unk>", 6L, 1L)))
    assert(got(1L) == (("the dog sat on the <unk> <unk>", 7L, 2L)))
    assert(got(2L) == (("the cat <unk> the dog sat", 6L, 1L)))
    // relative threshold: 2/19 of total tokens ⇒ same vocabulary
    val rel = Vocab.buildRelative(corpus, col("text"), 2.0 / 19.0)
    assert(rel.select("token").as[String].collect().toSet == kept)
    // partition invariance of the rewrite
    val got4 = Vocab.truncateToVocab(corpus.repartition(4), "doc_id", col("text"), vocab)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got4 == got)
    // custom unk token
    val custom = Vocab.truncateToVocab(corpus, "doc_id", col("text"), vocab, unk = "[OOV]")
      .filter($"doc_id" === 0L).collect()(0).getString(1)
    assert(custom == "the cat sat on the [OOV]")
  }

  test("collocations: local word2phrase mirror, minCount gate, partition invariance") {
    val corpus = Seq(
      (0L, "new york is big new york is old"),
      (1L, "new york has new ideas"),
      (2L, "york is not new"))
      .toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame, minCount: Long) =
      Collocations.phraseScores(df, "text", minCount = minCount, delta = 1.0)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap

    // local mirror: token totals and pair counts by hand
    val texts = Seq("new york is big new york is old",
      "new york has new ideas", "york is not new")
    val toks = texts.flatMap(_.split(" "))
    val n = toks.size.toLong
    val uni = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairs = texts.flatMap(t => t.split(" ").sliding(2).map(p => (p(0), p(1))))
    val c12 = pairs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def score(a: String, b: String): Double =
      math.floor((c12((a, b)) - 1.0) * n /
        (uni(a).toDouble * uni(b).toDouble) * 10000 + 0.5) / 10000

    val got = run(corpus, 2)
    // only pairs with c12 >= 2 survive: "new york" (3×), "is" pairs? check
    val want = c12.filter(_._2 >= 2).keys.toSet
    assert(got.keySet == want)
    assert(want.contains(("new", "york")))
    val (g12, g1, g2, s4) = got(("new", "york"))
    assert(g12 == 3L && g1 == uni("new") && g2 == uni("york"))
    assert(s4 == score("new", "york"))
    // every surviving pair matches the local mirror's exact score
    assert(got.forall { case ((a, b), v) => v._4 == score(a, b) })

    // minCount = 1 admits every pair type
    assert(run(corpus, 1).keySet == c12.keys.toSet)
    // partition invariance (counts are exact; score is scalar arithmetic)
    assert(run(corpus.repartition(5), 2) == got)
  }

  test("kmeans: separates orthogonal clusters; assignment is a true argmax; deterministic") {
    // three tight clusters around orthogonal axes
    val vecs = (for {
      (axis, base) <- Seq(0, 1, 2).zipWithIndex
      j <- 0 until 4
    } yield {
      val v = Array.fill(4)(0.05f * j)
      v(axis) = 1.0f
      ((base * 4 + j).toLong, v)
    }).toDF("vec_id", "embedding")

    val quant = KMeans.fit(vecs, k = 3, iters = 2)
    assert(quant.size <= 3)
    val scored = KMeans.assignScored(vecs, quant).collect()
    val byCell = scored.groupBy(_.getAs[Int]("cell"))
      .map { case (c, rs) => c -> rs.map(_.getAs[Long]("vec_id") / 4).toSet }
    // each learned cell holds exactly one source cluster
    assert(byCell.values.forall(_.size == 1))
    assert(byCell.values.toSet.flatten == Set(0L, 1L, 2L))

    // argmax law: the winning sim is >= the cosine against every centroid
    val cents = quant.map(_._2)
    scored.foreach { r =>
      val v = r.getSeq[Double](r.fieldIndex("vec"))
      val win = r.getAs[Double]("sim")
      def cos(c: Seq[Double]) = {
        val dot = v.zip(c).map { case (a, b) => a * b }.sum
        dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(c.map(x => x * x).sum))
      }
      // tolerance only for the test mirror's own sum-order skew
      assert(cents.forall(c => win >= cos(c) - 1e-9))
    }

    // determinism: same corpus, same salt, same artifact
    assert(KMeans.fit(vecs, k = 3, iters = 2) == quant)
  }

  test("bpe: greedy left-to-right merge — fresh symbol joins the next comparison") {
    // pair (x,x) over xxxxx must give [xx, xx, x] (string replace would
    // give [xx, x, xx] — the exact bug the fold exists to avoid)
    val corpus = Seq(Tuple1("xxxxx")).toDF("text")
    val words = Bpe.wordSymbols(corpus, "text")
    val merged = Bpe.applyMerge(words, Bpe.topPair(Bpe.pairCounts(words)))
    assert(merged.select(col("syms")).collect()(0).getSeq[String](0)
      == Seq("xx", "xx", "x"))
  }

  test("bpe: merge table — corpus-weighted counts, lexical ties, chained rounds") {
    // "ab" appears 4 times (3 in one doc + 1 alone): round 1 must pick
    // ("a b", 4) over the once-per-doc pairs of "cd cd"
    val corpus = Seq("ab ab ab", "ab cd cd").toDF("text")
    val m = Bpe.merges(corpus, "text", rounds = 2)
      .orderBy(col("merge_ix")).collect()
    assert(m(0).getAs[String]("pair") == "a b" && m(0).getAs[Long]("c") == 4L)
    assert(m(0).getAs[String]("merged") == "ab")
    assert(m(1).getAs[String]("pair") == "c d" && m(1).getAs[Long]("c") == 2L)

    // ties break lexically: aaaaa after (a,a)→aa is [aa, aa, a] with pairs
    // "aa a"(1) and "aa aa"(1) — round 2 must pick "aa a"
    val t = Bpe.merges(Seq(Tuple1("aaaaa")).toDF("text"), "text", rounds = 2)
      .orderBy(col("merge_ix")).collect()
    assert(t(0).getAs[String]("pair") == "a a" && t(0).getAs[Long]("c") == 4L)
    assert(t(1).getAs[String]("pair") == "aa a" && t(1).getAs[Long]("c") == 1L)
  }

  test("int8 quantization: codes bounded, dequantize ≈ original, zero-vector safe, recall measured") {
    val rnd = new scala.util.Random(11)
    val vecs = ((0L until 40L).map { i =>
      (i, Array.fill(16)((rnd.nextDouble() * 2 - 1).toFloat))
    } :+ (40L, Array.fill(16)(0.0f))).toDF("vec_id", "embedding")

    val q8 = Embeddings.int8Quantize(vecs, "vec_id", "embedding").collect()
    q8.foreach { r =>
      val codes = r.getSeq[Int](r.fieldIndex("qvec"))
      assert(codes.forall(c => c >= -127 && c <= 127))
      if (r.getAs[Long]("vec_id") == 40L) {
        assert(codes.forall(_ == 0) && r.getAs[Double]("qscale") == 0.0)
      } else {
        // max-magnitude component quantizes to ±127 by construction
        assert(codes.map(math.abs).max == 127)
      }
    }

    // recall vs the exact ranking: with 8-bit codes the top-5 sets overlap
    // heavily (this pins the quantizer is actually preserving geometry,
    // not just type-checking)
    val qs = vecs.filter(col("vec_id") < 5)
    def top5(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    val exact = top5(Embeddings.cosineTopK(vecs, qs, 5))
    val quant = top5(Embeddings.int8TopK(vecs, qs, 5))
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall $recall collapsed")
  }

  test("bpe encode: applies every learned merge, including the last round's") {
    // rounds: (a,a) then (aa,a); encode must apply BOTH — "aaaaa" becomes
    // [aa, aaa] (merges() only applies rounds-1 merges; encodeWords applies all)
    val enc = Bpe.encodeWords(Seq(Tuple1("aaaaa")).toDF("text"), "text", rounds = 2)
      .collect()
    assert(enc.length == 1)
    assert(enc(0).getSeq[String](enc(0).fieldIndex("syms")) == Seq("aa", "aaa"))
  }

  test("bpe exhaustion: rounds past the last available pair are no-ops, not data loss") {
    // "ab" fuses in round 1; rounds 2..5 have NO adjacent pair anywhere.
    // applyMerge with an empty winner must keep the vocabulary intact
    // (a plain crossJoin would empty it), and encodeWords must return the
    // fully-merged vocab, not an empty frame.
    val corpus = Seq(Tuple1("ab ab")).toDF("text")
    val enc = Bpe.encodeWords(corpus, "text", rounds = 5).collect()
    assert(enc.length == 1)
    assert(enc(0).getSeq[String](enc(0).fieldIndex("syms")) == Seq("ab"))
    // merges(): exhausted rounds contribute zero rows — row count < rounds
    // is the caller-visible exhaustion signal
    val m = Bpe.merges(corpus, "text", rounds = 5).collect()
    assert(m.length == 1 && m(0).getAs[String]("pair") == "a b")
    // applyMerge against an explicitly empty winner frame: exact no-op
    val words = Bpe.wordSymbols(corpus, "text")
    val noop = Bpe.applyMerge(words, Bpe.topPair(Bpe.pairCounts(words)).filter(lit(false)))
    assert(noop.select("word", "cnt", "syms").collect().toSeq ==
      words.select("word", "cnt", "syms").collect().toSeq)
  }

  test("kl drift: NULL slice is its own group (null-safe totals join)") {
    val docs = Seq(
      (Some("a"), "x x y z"),
      (None: Option[String], "x y z z")).toDF("source", "text")
    val out = Drift.tokenKlDrift(docs, "text", "source").collect()
    assert(out.length == 2, "NULL slice must not be dropped by the totals join")
    val nullRow = out.find(_.isNullAt(0)).get
    assert(nullRow.getAs[Long]("n_tokens") == 4L)
    assert(nullRow.getAs[Long]("n_types") == 3L)
  }

  test("heavy hitters: returned frame IS the certified rows (local, no recount on reuse)") {
    val df = HeavyHitters.topKTokens(
      Seq("a a a b b c").toDF("text"), col("text"), k = 2, capacity = 16)
    // the certificate applies to the returned data only if the returned data
    // is the very execution that was certified — a lazy plan would re-run
    // the recount (and could diverge against a mutated source)
    assert(df.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 3L), ("b", 2L)))
  }

  test("slice keyness: over-represented token tops its slice; partition-invariant") {
    // slice A says 'zebra' constantly, slice B never does; shared filler is
    // proportionally distributed, so 'zebra' must top A by lift and the
    // filler must rank below it
    val docs = Seq(
      ("A", "zebra zebra zebra common words here"),
      ("A", "zebra zebra common words here too"),
      ("B", "common words here again and again"),
      ("B", "common words here more common words")).toDF("source", "text")
    val k = TextAnalysis.sliceKeyness(docs, "source", "text", minCount = 2L, topK = 3)
    val topA = k.filter($"source" === "A" && $"rn" === 1).collect()(0)
    assert(topA.getString(topA.fieldIndex("word")) == "zebra")
    val liftA = topA.getDouble(topA.fieldIndex("lift"))
    assert(liftA > 1.5, s"zebra lift $liftA should be strongly over-represented")
    // zebra never reaches minCount in B, so it cannot appear there at all
    assert(k.filter($"source" === "B" && $"word" === "zebra").isEmpty)
    // partition invariance: counts and correctly-rounded divisions cannot
    // depend on physical layout
    val k7 = TextAnalysis.sliceKeyness(docs.repartition(7), "source", "text",
      minCount = 2L, topK = 3)
    assert(k.orderBy("source", "rn").collect().toSeq ==
      k7.orderBy("source", "rn").collect().toSeq)
  }

  test("diversity profile: repetitive slice scores lower TTR, trigram edge cases") {
    val docs = Seq(
      ("rep", "spam spam spam spam spam spam"),   // 1 type / 6 tokens
      ("var", "one two three four five six"),     // 6 types / 6 tokens
      ("tiny", "a b")).toDF("source", "text")     // < 3 words: zero trigrams
    val p = TextAnalysis.diversityProfile(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(p("rep").getLong(p("rep").fieldIndex("n_words")) == 6)
    assert(p("rep").getLong(p("rep").fieldIndex("uniq_words")) == 1)
    assert(p("rep").getDouble(p("rep").fieldIndex("ttr")) == 1.0 / 6)
    assert(p("var").getDouble(p("var").fieldIndex("ttr")) == 1.0)
    // rep: 4 trigram tokens, all "spam spam spam" → 1 unique
    assert(p("rep").getLong(p("rep").fieldIndex("n_tris")) == 4)
    assert(p("rep").getLong(p("rep").fieldIndex("uniq_tris")) == 1)
    // a 2-word doc yields no trigrams, so the slice drops out of the
    // trigram aggregates entirely (inner join) — documented envelope
    assert(!p.contains("tiny"))
  }

  test("kl drift: zero for corpus-proportional slices, positive for skewed, partition-invariant") {
    // two slices with IDENTICAL token distributions → both P_s == Q → KL = 0
    val balanced = Seq(
      ("a", "x x y z"), ("a", "x y z z"),
      ("b", "x x y z"), ("b", "x y z z")).toDF("source", "text")
    val kb = Drift.tokenKlDrift(balanced, "text", "source").collect()
    assert(kb.forall(_.getAs[Long]("kl8") == 0L))
    assert(kb.forall(_.getAs[Long]("n_tokens") == 8L))

    // a slice concentrated on one token diverges; the balanced one moves less
    val skewed = Seq(
      ("a", "x x x x x x x x"),
      ("b", "x y z w x y z w")).toDF("source", "text")
    val ks = Drift.tokenKlDrift(skewed, "text", "source")
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("kl8")).toMap
    assert(ks("a") > 0L && ks("b") > 0L)
    assert(ks("a") > ks("b")) // all-mass-on-one-token drifts harder

    // exact long sums: any partitioning, same kl8
    val re = Drift.tokenKlDrift(skewed.repartition(7), "text", "source")
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("kl8")).toMap
    assert(re == ks)
  }

  test("kmeans: empty cells drop out; duplicate-point degeneracy converges") {
    val dup = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    // all three seeds are the same direction: every point ties at sim=1 and
    // breaks to the lowest cell — rounds collapse the quantizer to one cell
    val quant = KMeans.fit(dup, k = 3, iters = 2)
    assert(quant.size == 1)
    val cells = KMeans.assignScored(dup, quant)
      .collect().map(_.getAs[Int]("cell")).toSet
    assert(cells.size == 1)
  }

  test("pagerank: exact scale-12 ranks on a path graph, mass conserved") {
    import spark.implicits._
    // undirected path a—b—c, symmetrized: deg(a)=deg(c)=1, deg(b)=2, n=3
    val sym = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val r1 = GraphRank.pageRank(sym, "src", "dst", rounds = 1)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    // hand-computed with the scale-12 floor convention
    assert(r1 == Map("a" -> 191666666667L, "b" -> 616666666666L,
      "c" -> 191666666667L))
    val r2 = GraphRank.pageRank(sym, "src", "dst", rounds = 2)
    val m2 = r2.collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    assert(m2 == Map("a" -> 312083333333L, "b" -> 375833333334L,
      "c" -> 312083333333L))
    // partition invariance: the floored-long convention makes the rounds
    // independent of the merge tree
    val m2p = GraphRank.pageRank(sym.repartition(7), "src", "dst", rounds = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    assert(m2p == m2)
    val top = GraphRank.topK(r2, 2).collect()
    assert(top.map(_.getAs[Int]("rnk")).toSeq == Seq(1, 2))
    assert(top(0).getAs[String]("node") == "b")
    assert(top(1).getAs[String]("node") == "a") // tie a/c broken on node id
  }

  test("winnowing: overlap guarantee, short-doc vanishing, shared template pairs all") {
    import spark.implicits._
    // k=4, w=3 → any verbatim overlap of ≥ w+k-1 = 6 tokens MUST share a
    // fingerprint (the winnowing selection guarantee)
    val docs = Seq(
      (1L, "q w e r t y u i o p"),
      (2L, "z1 z2 q w e r t y x1 x2"), // shares exactly the 6-token run
      (3L, "a b c")                    // < k tokens → no fingerprints
    ).toDF("doc_id", "text")
    val fp = Winnowing.fingerprints(docs, "doc_id", "text", k = 4, w = 3)
    assert(fp.filter(col("doc_id") === 3L).count() == 0)
    val shared = fp.filter(col("doc_id") === 1L).select("f")
      .intersect(fp.filter(col("doc_id") === 2L).select("f")).count()
    assert(shared >= 1)
    val top = Winnowing.overlapTopK(docs, "doc_id", "text", k = 4, w = 3,
      topK = 5).collect()
    assert(top.length == 1)
    assert(top(0).getAs[Long]("d1") == 1L && top(0).getAs[Long]("d2") == 2L)
    assert(top(0).getAs[Long]("n_shared") == shared)

    // a template shared by all three docs witnesses all three pairs
    val tpl = "t1 t2 t3 t4 t5 t6"
    val hot = Seq((1L, tpl), (2L, tpl), (3L, tpl)).toDF("doc_id", "text")
    assert(Winnowing.overlapTopK(hot, "doc_id", "text", k = 4, w = 3,
      topK = 5).count() == 3)
  }

  test("personalized pagerank: seed teleport, uniform-seed law, source-only seeds, unknown seed") {
    import spark.implicits._
    // path a—b—c symmetrized, seeds = {a}; hand-computed with the
    // scale-12 floor convention (tele: a=1, b=c=0; r0 = tele)
    val sym = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val seedA = Seq("a").toDF("node")
    val r1 = GraphRank.personalizedPageRank(sym, "src", "dst", seedA, "node",
        rounds = 1)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    assert(r1 == Map("a" -> 150000000000L, "b" -> 850000000000L, "c" -> 0L))
    val r2 = GraphRank.personalizedPageRank(sym, "src", "dst", seedA, "node",
        rounds = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    assert(r2 == Map("a" -> 511250000000L, "b" -> 127500000000L,
      "c" -> 361250000000L))
    // uniform-seed law: seeding EVERY node reproduces plain pageRank
    val allSeeds = Seq("a", "b", "c").toDF("node")
    val uni = GraphRank.personalizedPageRank(sym, "src", "dst", allSeeds,
        "node", rounds = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    val plain = GraphRank.pageRank(sym, "src", "dst", rounds = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    assert(uni == plain)
    // a source-only SEED keeps feeding its out-neighbors every round
    // (directed c→a, a→b, b→a; seeds = {c}): round 2 of b's rank exists
    // only because a received c's teleport mass in round 1
    val e = Seq(("c", "a"), ("a", "b"), ("b", "a")).toDF("src", "dst")
    val seedC = Seq("c").toDF("node")
    val m2 = GraphRank.personalizedPageRank(e, "src", "dst", seedC, "node",
        rounds = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    assert(m2 == Map("a" -> 127500000000L, "b" -> 722500000000L,
      "c" -> 150000000000L))
    // an unknown seed fails loudly — its teleport mass would silently
    // vanish otherwise: the in-plan assert fires on EVERY execution
    def chainMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val boomLazy = intercept[Exception] {
      GraphRank.personalizedPageRank(sym, "src", "dst",
        Seq("zz").toDF("node"), "node", rounds = 1).collect()
    }
    assert(chainMsg(boomLazy).contains("seed"), chainMsg(boomLazy))
  }

  test("personalized pagerank: EMPTY seed set is the all-zero degenerate in every regime") {
    import spark.implicits._
    // the SQL twin's CASE never reaches its 1/ns division when no seed
    // matches, so every tele is 0 and every rank converges to 0 — and the
    // engine must not trip ANSI DIVIDE_BY_ZERO computing it (the sf0.001
    // q102 regression: a pushed-down pr≠0 filter evaluated 1.0/__ns on the
    // 1-row metadata frame even though the seed frame itself was empty)
    val sym = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val noSeeds = Seq.empty[String].toDF("node")
    for (symm <- Seq(false, true)) {
      val got = GraphRank.personalizedPageRank(sym, "src", "dst",
          noSeeds, "node", rounds = 2, symmetric = symm)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
      assert(got == Map("a" -> 0L, "b" -> 0L, "c" -> 0L), s"(symm=$symm): $got")
    }
  }

  test("pagerank execution modes agree bit-exactly: reuseFrames × symmetric") {
    import spark.implicits._
    val sym = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val seedA = Seq("a").toDF("node")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    val prs = for (reuse <- Seq(false, true); symm <- Seq(false, true))
      yield m(GraphRank.pageRank(sym, "src", "dst", rounds = 2,
        reuseFrames = reuse, symmetric = symm))
    assert(prs.forall(_ == prs.head), s"pageRank modes disagree: $prs")
    assert(prs.head == Map("a" -> 312083333333L, "b" -> 375833333334L,
      "c" -> 312083333333L)) // the hand-computed reference values
    val pprs = for (symm <- Seq(false, true))
      yield m(GraphRank.personalizedPageRank(sym, "src", "dst", seedA, "node",
        rounds = 2, symmetric = symm))
    assert(pprs.forall(_ == pprs.head), s"ppr modes disagree: $pprs")
    assert(pprs.head == Map("a" -> 511250000000L, "b" -> 127500000000L,
      "c" -> 361250000000L))
  }

  test("triangles: K4 counts, normalization of dups/reversed/self-loops, no-triangle graphs") {
    import spark.implicits._
    // K4 on 1..4 (4 triangles, each vertex in 3) + pendant 5; input is
    // deliberately messy: duplicates, reversed edges, a self-loop
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L), // reversed dups
      (1L, 2L),           // plain dup
      (3L, 3L),           // self-loop
      (4L, 5L)            // pendant — in no triangle
    ).toDF("src", "dst")
    val top = GraphRank.triangleTopK(e, "src", "dst", k = 10).collect()
    assert(top.map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("node"),
      r.getAs[Long]("tri_cnt"))).toSeq == Seq(
      (1, 1L, 3L), (2, 2L, 3L), (3, 3L, 3L), (4, 4L, 3L)))
    // total triangles = sum/3 = 4
    assert(top.map(_.getAs[Long]("tri_cnt")).sum == 12L)
    // a path has no triangles → empty frame
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(GraphRank.triangleTopK(path, "src", "dst").count() == 0)
    // partition invariance: exact integer counts on any layout
    val rep = GraphRank.triangleTopK(e.repartition(7), "src", "dst", k = 10)
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("tri_cnt"))).toSet
    assert(rep == Set((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("weighted pagerank: unit weights ≡ unweighted; mass follows weight; bad weights fail") {
    import spark.implicits._
    val sym = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    // all-ones weights must reproduce the unweighted ranks BIT-exactly
    val unw = m(GraphRank.pageRank(sym, "src", "dst", rounds = 2))
    val ones = m(GraphRank.pageRank(sym.withColumn("w", lit(1L)),
      "src", "dst", rounds = 2, weightCol = Some("w")))
    assert(ones == unw)
    // b splits mass 3:1 toward a: after round 1,
    //   a = 0.15/3 + 0.85·(⌊(1/3)·(3/4)·1e12+0.5⌋/1e12)  (b→a share)
    //   c gets the 1/4 share — strictly less than a.
    // IEEE order is pr·nw with nw = w/ws NORMALIZED ONCE on the edge
    // frame (the folded layout the SQL twins mirror)
    val w = Seq(("a", "b", 1L), ("b", "a", 3L), ("b", "c", 1L),
      ("c", "b", 1L)).toDF("src", "dst", "w")
    val wr = m(GraphRank.pageRank(w, "src", "dst", rounds = 1,
      weightCol = Some("w")))
    val expA = 0.15 / 3 + 0.85 *
      (math.floor((1.0 / 3) * (3.0 / 4) * 1e12 + 0.5) / 1e12)
    val expC = 0.15 / 3 + 0.85 *
      (math.floor((1.0 / 3) * (1.0 / 4) * 1e12 + 0.5) / 1e12)
    assert(wr("a") == math.floor(expA * 1e12 + 0.5).toLong)
    assert(wr("c") == math.floor(expC * 1e12 + 0.5).toLong)
    assert(wr("a") > wr("c"))
    // non-positive weight: loud in-plan failure
    val bad = Seq(("a", "b", 0L), ("b", "a", 1L)).toDF("src", "dst", "w")
    val boom = intercept[Exception] {
      GraphRank.pageRank(bad, "src", "dst", rounds = 1,
        weightCol = Some("w"), validate = false).collect()
    }
    assert(boom.getMessage.contains("positive long"))
  }

  test("pagerank fails loudly on dangling nodes") {
    import spark.implicits._
    val e = Seq(("a", "b")).toDF("src", "dst") // b never a source
    val boom = intercept[IllegalArgumentException] {
      GraphRank.pageRank(e, "src", "dst", rounds = 1)
    }
    assert(boom.getMessage.contains("dangling"))
    // validate = false skips the probe — construction succeeds lazily
    GraphRank.pageRank(e, "src", "dst", rounds = 1, validate = false)
  }

  test("pagerank: source-only nodes keep baseline rank and keep contributing") {
    import spark.implicits._
    // directed a→b, b→a, c→a: c has in-degree 0 — it must stay in the
    // output at its (1−d)/n baseline and keep feeding a every round
    // (round 2 of a's rank includes c's floor(0.05e12) contribution)
    val e = Seq(("a", "b"), ("b", "a"), ("c", "a")).toDF("src", "dst")
    val m1 = GraphRank.pageRank(e, "src", "dst", rounds = 1)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    assert(m1 == Map("a" -> 616666666666L, "b" -> 333333333333L,
      "c" -> 50000000000L))
    val m2 = GraphRank.pageRank(e, "src", "dst", rounds = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("pr12")).toMap
    // without the re-union, c would vanish after round 1 and a's round-2
    // rank would miss c's mass: 375833333333 includes both b and c
    assert(m2 == Map("a" -> 375833333333L, "b" -> 574166666666L,
      "c" -> 50000000000L))
  }

  test("zipfFit: two-point fit is exact; degenerate single type is NULL") {
    // one group: "a" ×4, "b" ×2 → (x, y) = (0, ln4), (ln2, ln2) —
    // slope −1 EXACTLY (the scale-8 floors cancel), r² = 1,
    // intercept = ln4; a single-type group fits nothing
    val docs = Seq(("g1", "a a b a b a"), ("g2", "only only only"))
      .toDF("src", "text")
    val out = TextAnalysis.zipfFit(docs, Seq("src"), "text")
      .collect().map(r => r.getAs[String]("src") -> r).toMap
    val g1 = out("g1")
    assert(g1.getAs[Long]("n_types") == 2L && g1.getAs[Long]("n_tokens") == 6L)
    assert(g1.getAs[Double]("slope") == -1.0)
    assert(g1.getAs[Double]("r2") == 1.0)
    assert(math.abs(g1.getAs[Double]("intercept") - math.log(4.0)) < 1e-7)
    val g2 = out("g2")
    assert(g2.getAs[Long]("n_types") == 1L)
    assert(g2.isNullAt(g2.fieldIndex("slope")))
  }

  // --------------------------------------------------- vocabRichness

  test("vocabRichness: hand frequency profile; empty tokens excluded") {
    // tokens: a×2, b×2, c×1, d×1 → N=6, D=4, f1=2, f2=2;
    // Chao1 = 4 + 2·1/(2·3) = 4⅓; p_unseen = 2/6. The double space in
    // doc 1 must not create an empty token.
    val df = Seq(("en", "a b  a c"), ("en", "d b")).toDF("lang", "text")
    val Array(r) = TextAnalysis.vocabRichness(df, Seq("lang"), col("text"))
      .collect()
    assert(r.getAs[Long]("n_tokens") == 6L)
    assert(r.getAs[Long]("d_types") == 4L)
    assert(r.getAs[Long]("f1") == 2L && r.getAs[Long]("f2") == 2L)
    assert(math.abs(r.getAs[Double]("chao1") - (4.0 + 1.0 / 3.0)) < 1e-12)
    assert(math.abs(r.getAs[Double]("p_unseen") - 1.0 / 3.0) < 1e-12)
  }

  test("vocabOverlap: type Jaccard and token-level OOV mass") {
    // A = {a,b,c}; B tokens = b,c,c,d → shared {b,c}, union 4, J = 0.5;
    // OOV mass = the one 'd' of B's 4 tokens = 0.25.
    val df = Seq(("g", true, "a b c"), ("g", false, "b c c d")).toDF("g", "a", "text")
    val Array(r) = TextAnalysis.vocabOverlap(df, Seq("g"), col("text"), col("a"))
      .collect()
    assert(r.getAs[Long]("v_a") == 3L && r.getAs[Long]("v_b") == 3L)
    assert(r.getAs[Long]("v_shared") == 2L)
    assert(r.getAs[Double]("jaccard") == 0.5)
    assert(r.getAs[Long]("oov_types_b") == 1L)
    assert(r.getAs[Long]("tokens_b") == 4L)
    assert(r.getAs[Double]("oov_mass_b") == 0.25)
  }

  test("vocabOverlap: one-sided corpora — empty B gives NULL mass rate") {
    val df = Seq(("g", true, "a b")).toDF("g", "a", "text")
    val Array(r) = TextAnalysis.vocabOverlap(df, Seq("g"), col("text"), col("a"))
      .collect()
    assert(r.getAs[Long]("v_b") == 0L && r.getAs[Long]("tokens_b") == 0L)
    assert(r.getAs[Double]("jaccard") == 0.0)
    assert(r.isNullAt(r.fieldIndex("oov_mass_b")))
  }

  test("vocabRichness: all-singletons corpus — Chao1 grows, p_unseen = 1") {
    val df = Seq(("x", "p q r s")).toDF("lang", "text")
    val Array(r) = TextAnalysis.vocabRichness(df, Seq("lang"), col("text"))
      .collect()
    assert(r.getAs[Long]("f1") == 4L && r.getAs[Long]("f2") == 0L)
    assert(r.getAs[Double]("chao1") == 4.0 + 4.0 * 3.0 / 2.0)
    assert(r.getAs[Double]("p_unseen") == 1.0)
  }
}
