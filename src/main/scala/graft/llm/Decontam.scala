package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact n-gram overlap decontamination — the inverted-index companion to
  * [[MinHashLsh.crossNearDupPairs]].
  *
  * Sketch-based (MinHash) decontamination measures symmetric Jaccard, which
  * goes to ZERO when a short benchmark item is quoted inside a long
  * training document — exactly the leak that matters most. The standard
  * fix (the published GPT-3/PaLM recipe) is exact long-n-gram collision:
  * explode both corpora into distinct word n-grams, equi-join on the
  * n-gram, and score each (train, benchmark) pair by CONTAINMENT —
  * shared n-grams over the benchmark item's n-gram count — an asymmetric
  * measure that is 1.0 for a verbatim quote regardless of the host
  * document's length.
  *
  * Scale shape: the explode is pipelined (never materialized per doc); the
  * join is a plain equi-join on `md5(n-gram)` — 16-byte keys on the wire
  * instead of raw n-gram strings — and long n (8 words here, 13 in the
  * GPT-3 recipe) makes collisions between unrelated documents vanishingly
  * rare, so join output ≈ true leaks, not |A|×|B|.
  */
object Decontam {

  /** Distinct word n-grams of `textCol`, exploded to one row per n-gram,
    * keyed by md5. Documents shorter than `n` words contribute nothing.
    */
  private def grams(df: DataFrame, idCol: String, outId: String,
      textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as(outId),
        explode(array_distinct(
          graft.functions.TextExprs.wordShingles(col(textCol), n))).as("g"))
      .select(col(outId), md5(col("g")).as("gid"))

  /** (train, benchmark) pairs sharing at least one exact word n-gram, with
    * `n_shared` (distinct shared n-grams) and `containment` =
    * n_shared / |benchmark n-gram set| ∈ (0, 1].
    */
  def exactNgramOverlap(
      train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      n: Int = 8,
      minContainment: Double = 0.0): DataFrame =
    overlapFromGrams(grams(train, idCol, "a", textCol, n),
      grams(benchmark, idCol, "b", textCol, n), minContainment)

  /** [[exactNgramOverlap]] with a Bloom pre-filter on the training side —
    * IDENTICAL output (spec-pinned), different 100 TB cost model.
    *
    * The plain equi-join shuffles BOTH gram streams by `gid`; at corpus
    * scale the training side is 10⁴–10⁶× the benchmark side, so that
    * shuffle is overwhelmingly wasted motion (almost no training gram
    * matches anything). Here the benchmark's gram set is first folded into
    * a Bloom sketch (`functions/BloomKernels`: distributed build,
    * OR-merged map-side — one row total, MBs for 10⁷⁺ benchmark grams),
    * broadcast, and probed INSIDE the training-side scan: only training
    * grams that might match ever reach the join's exchange. Zero false
    * negatives by construction, so no leak can slip past; false positives
    * (rate set by `bitsPerItem`, default ≈1%) only add join input rows
    * that the exact join then discards — results are bit-identical to the
    * exact form, which is why the same DuckDB oracle verifies both (q68).
    *
    * @param literalMaxBytes sketches at or below this size embed as a plan
    *                        literal (fastest probe: a codegen constant);
    *                        larger sketches switch to a broadcast variable
    *                        ([[graft.functions.BloomMightContainBroadcast]])
    *                        — a ~GB sketch serialized into every task binary
    *                        would bloat or break task shipping, while a
    *                        torrent broadcast ships it once per executor.
    *                        Verdicts are bit-identical on both paths
    *                        (spec-pinned). Default 8 MiB.
    */
  def bloomDecontaminate(
      train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      n: Int = 8,
      minContainment: Double = 0.0,
      expectedBenchmarkGrams: Long = 1L << 20,
      literalMaxBytes: Int = 8 << 20): DataFrame = {
    val bg = grams(benchmark, idCol, "b", textCol, n)
    // The sketch is a driver-sized MODEL ARTIFACT (one row, MBs), same
    // class as the IVF quantizer: built by a distributed aggregate, then
    // collected once and embedded as a binary LITERAL in the probe
    // expression. The literal matters: probing a broadcast-joined binary
    // COLUMN re-materializes the whole sketch out of the joined row for
    // every training gram (measured 1.0s vs 0.43s exact at sf0.1 —
    // gigabytes of memcpy); a literal is a codegen constant reference,
    // so the probe is k bit-tests per row — with it, the sketch pipeline
    // matches the plain join even at sf0.1's unfavorable 8:1 train:bench
    // ratio (0.365s vs 0.376s exact, min-of-3), the build job paying for
    // itself in pruned join input. Builder is therefore EAGER (one
    // driver action) — the catalog marks q68 eagerBuild so the bench
    // times it honestly.
    val sketchBytes = bg.agg(
      graft.functions.BloomSketch
        .bloomAggFor(xxhash64(col("gid")), expectedBenchmarkGrams).as("__bf"))
      .head().getAs[Array[Byte]](0)
    // Literal vs broadcast is purely a SHIPPING decision (see param doc):
    // the probe kernel and its verdicts are identical either way. The
    // broadcast's lifetime is tied to the returned plan: Spark's
    // ContextCleaner reclaims the blocks once the plan (the only holder of
    // the handle) becomes unreachable, so per-shard calls don't accumulate
    // sketches beyond the plans a caller actually keeps alive.
    val probe: Column => Column =
      if (sketchBytes.length <= literalMaxBytes)
        x => graft.functions.BloomSketch.mightContain(lit(sketchBytes), x)
      else {
        val bc = train.sparkSession.sparkContext.broadcast(sketchBytes)
        x => graft.functions.BloomSketch.mightContainBroadcast(bc, x)
      }
    val tg = grams(train, idCol, "a", textCol, n)
      .filter(probe(xxhash64(col("gid"))))
    overlapFromGrams(tg, bg, minContainment)
  }

  private def overlapFromGrams(
      tg: DataFrame, bg: DataFrame, minContainment: Double): DataFrame = {
    val bsize = bg.groupBy(col("b")).agg(count(lit(1)).as("b_grams"))
    tg.join(bg, "gid")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(bsize, "b")
      .withColumn("containment", col("n_shared") * lit(1.0) / col("b_grams"))
      .filter(col("containment") >= minContainment)
      .select(col("a"), col("b"), col("n_shared"), col("b_grams"), col("containment"))
  }

  /** N-gram NOVELTY rate per snapshot slice — the corpus-growth audit a
    * crawl pipeline runs before paying to process a new snapshot: what
    * fraction of each slice's distinct word n-grams has the base corpus
    * never seen? (Near-zero novelty = the snapshot re-crawls what is
    * already owned; the same gram machinery as the decontamination
    * sweeps, pointed at acquisition instead of leakage.)
    *
    * Plan: both sides collapse to DISTINCT-gram sets before the join
    * (types ≪ occurrences), the base set keyed once; membership is a
    * left join + null flag and the per-slice rate one exact-count
    * division. NULL slices are their own group (the convention).
    *
    * @return per slice: (byCol, n_grams, n_new, novelty) — slices with
    *         no extractable n-gram (all docs shorter than n) are absent
    */
  def ngramNovelty(
      base: DataFrame, snapshot: DataFrame,
      textCol: String, byCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val sg = snapshot.select(col(byCol).as("__slice"),
        explode(array_distinct(
          graft.functions.TextExprs.wordShingles(col(textCol), n))).as("g"))
      .select(col("__slice"), md5(col("g")).as("gid"))
      .distinct()
    val bg = base.select(explode(array_distinct(
        graft.functions.TextExprs.wordShingles(col(textCol), n))).as("g"))
      .select(md5(col("g")).as("gid"))
      .distinct()
      .withColumn("__hit", lit(1))
    sg.join(bg, Seq("gid"), "left")
      .groupBy(col("__slice"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_new"))
      .select(col("__slice").as(byCol), col("n_grams"), col("n_new"),
        (col("n_new").cast("double") / col("n_grams")).as("novelty"))
  }

  /** SEMANTIC decontamination — the embedding-space member of the family
    * ([[exactNgramOverlap]]/[[bloomDecontaminate]] catch verbatim
    * n-grams; a paraphrased benchmark answer shares no n-gram but sits
    * next to its source in embedding space): flag eval vectors whose
    * cosine similarity to some TRAIN vector clears `threshold`, with
    * candidates generated by the q27 sign-plane LSH bucket join — never
    * an eval×train all-pairs.
    *
    * The bucket key is [[Embeddings.lshBucket]]'s deterministic
    * md5-derived hyperplane signs, so both engines derive identical
    * candidates; the gate compares at the r4-floor convention
    * (`⌊sim·10⁴ + 0.5⌋ ≥ ⌊threshold·10⁴⌋`) so a boundary similarity
    * cannot flip between engines except at the documented ±1-ulp cosine
    * exposure. Recall caveat (the q129 "measure your sketch"
    * discipline): bucketing is approximate — a near-duplicate pair split
    * by a hyperplane is missed; raise `numPlanes` for precision or drop
    * to fewer planes for recall, and measure against [[Embeddings
    * .cosineTopK]] ground truth on a sample before trusting the sweep.
    *
    * @param corpus    (idCol, vecCol) rows for BOTH splits
    * @param inEvalCol boolean Column: true → eval/benchmark side,
    *                  false → train side; rows where the flag evaluates
    *                  to NULL are EXCLUDED from both sides (the Drift
    *                  family's null-flag convention) — coalesce a default
    *                  first if unknown-split rows must participate
    * @return one row per CONTAMINATED eval id: (eval_id, n_hits,
    *         top_train_id, top_sim) — top = highest similarity, train-id
    *         tie-break; eval vectors with no hit are absent (clean)
    */
  def semanticOverlap(
      corpus: DataFrame, idCol: String, vecCol: String,
      inEvalCol: org.apache.spark.sql.Column,
      planes: Seq[Seq[Double]], threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val v = corpus.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__vec"),
        inEvalCol.cast("boolean").as("__eval"))
      .filter(col("__eval").isNotNull)
      .withColumn("__bucket", Embeddings.lshBucket(col("__vec"), planes))
    val ev = v.filter(col("__eval"))
      .select(col("__id").as("eval_id"), col("__vec").as("__ve"),
        col("__bucket"))
    val tr = v.filter(!col("__eval"))
      .select(col("__id").as("train_id"), col("__vec").as("__vt"),
        col("__bucket"))
    val thr4 = math.floor(threshold * 10000).toLong
    val w = Window.partitionBy(col("eval_id"))
      .orderBy(col("__sim").desc, col("train_id").asc)
    ev.join(tr, Seq("__bucket"))
      .withColumn("__sim", Embeddings.cosine(col("__ve"), col("__vt")))
      .filter(floor(col("__sim") * 10000 + 0.5).cast("long") >= thr4)
      // vectors pruned BEFORE the per-eval ranking shuffle (ivfTopK rule)
      .select(col("eval_id"), col("train_id"), col("__sim"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_hits", count(lit(1)).over(Window.partitionBy(col("eval_id"))))
      .filter(col("__rn") === 1)
      .select(col("eval_id"), col("n_hits"),
        col("train_id").as("top_train_id"), col("__sim").as("top_sim"))
  }
}
