package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection:
  * shingle → k MinHash values → band keys → bucket self-join → exact
  * Jaccard verification on the candidates only.
  *
  * Scale design: the only shuffle is the band-key self-join, which is
  * hash-partitioned on the band key — the classic LSH join. Candidate volume
  * is controlled by (bands × rowsPerBand): verification (the expensive exact
  * Jaccard) runs only on bucket collisions, never all-pairs. At 100 TB the
  * signature stage is embarrassingly parallel map work; the join shuffles
  * only (id, bandKey) pairs, ~tens of bytes per document per band.
  */
object MinHashLsh {

  /** MinHash hash family. [[Md5]] is the cross-engine ORACLE family (md5 is
    * identical in Spark and DuckDB; DuckDB 1.0 has no xxhash64 SQL function,
    * verified round 2). [[Xx]] is the production family: seeded XXH64
    * straight over the shingle bytes — no hex rendering, no per-hash string
    * concat — with `xxhash64`-derived band keys. Same LSH guarantees; the
    * signatures are simply a different (cheaper) min-wise hash family.
    */
  sealed trait HashFamily
  case object Md5 extends HashFamily
  case object Xx extends HashFamily

  /** @param numHashes   MinHash signature length k (= bands * rowsPerBand)
    * @param shingleSize word n-gram size
    * @param bands       number of LSH bands
    * @param hashFamily  [[Md5]] (oracle-parity default) or [[Xx]]
    *                    (production speed; no DuckDB twin)
    */
  case class Config(numHashes: Int = 8, shingleSize: Int = 3, bands: Int = 4,
      hashFamily: HashFamily = Md5) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand: Int = numHashes / bands
  }

  /** id, shingles(array), sig(array of k minhashes).
    *
    * Performance notes (measured at sf0.1):
    *  - staged `withColumn`s keep `w`/`shingles`/`hx` as attribute
    *    references; inlining them would re-evaluate `split` for every
    *    `element_at` call because higher-order functions are interpreted,
    *    not codegen'd;
    *  - the k hash family is derived from k/4 md5 calls per shingle (each
    *    128-bit md5 yields four independent 32-bit slices), cutting the
    *    dominant md5 cost 4× versus one md5 per (seed, shingle).
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String, cfg: Config): DataFrame = {
    if (cfg.hashFamily == Md5)
      require(cfg.numHashes % 4 == 0, "numHashes must be a multiple of 4")
    val shingled = docs.select(
      col(idCol).as("id"),
      graft.functions.TextExprs.wordShingles(col(textCol), cfg.shingleSize).as("shingles"))
    cfg.hashFamily match {
      case Md5 => shingled.withColumn("sig",
        graft.functions.TextExprs.minhashSlices(col("shingles"), cfg.numHashes))
      case Xx => shingled.withColumn("sig",
        graft.functions.TextExprs.minhashXx(col("shingles"), cfg.numHashes))
    }
  }

  /** Exploded (id, band, band_key) rows: band_key = md5 of the band's
    * concatenated minhash rows (Md5 family; string key, reproducible in the
    * SQL oracle) or xxhash64 over the band's minhash longs (Xx family; long
    * key, 8 bytes on the shuffle wire instead of 32).
    */
  def bandKeys(sigs: DataFrame, cfg: Config): DataFrame = {
    val bandCols = (0 until cfg.bands).map { b =>
      val rows = (0 until cfg.rowsPerBand).map(r => col("sig")(b * cfg.rowsPerBand + r))
      // the two families produce different band_key TYPES (string vs long);
      // a run uses one family throughout, so the join key stays homogeneous
      val key = cfg.hashFamily match {
        case Md5 => md5(concat(rows: _*))
        case Xx  => xxhash64(rows: _*)
      }
      struct(lit(b).as("band"), key.as("band_key"))
    }
    sigs.select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Candidate pairs (a < b) with the number of colliding bands. */
  def candidatePairs(bandKeysDf: DataFrame): DataFrame = {
    val l = bandKeysDf.select(col("id").as("a"), col("band"), col("band_key"))
    val r = bandKeysDf.select(col("id").as("b"), col("band"), col("band_key"))
    l.join(r, Seq("band", "band_key"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Exact Jaccard where the shingle sets are rebuilt *behind a semi-join
    * on the candidate ids*: the expensive array materialization happens for
    * colliding documents only — at healthy LSH tuning a small fraction of
    * the corpus — instead of twice over every document.
    */
  def jaccardVerifyDocs(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, cfg: Config): DataFrame = {
    // `n_bands >= 1` is a tautology (every candidate collided in ≥1 band)
    // whose only job is to keep the count column REFERENCED on this branch:
    // without it, column pruning drops `n_bands` from this copy of the
    // candidate aggregation, the partial-agg subplans stop being canonically
    // equal, and ReuseExchange can no longer share the candidate pipeline's
    // shuffle between the verify stream and this broadcast build — the
    // whole signature pass (the dominant md5 cost) would run twice.
    // Measured round 8 (sf0.1, matched session): q24 0.61→0.48s. Applied
    // only when the column exists: externally-built (a, b) pair frames
    // remain valid input and simply don't have a pipeline to share.
    val keepRef = (p: DataFrame) =>
      if (p.columns.contains("n_bands")) p.filter(col("n_bands") >= 1) else p
    val candIds = keepRef(pairs).select(col("a").as("cid"))
      .union(keepRef(pairs).select(col("b").as("cid"))).distinct()
    val sets = docs
      .join(broadcast(candIds), col(idCol) === col("cid"), "left_semi")
      .select(col(idCol).as("id"),
        array_distinct(
          graft.functions.TextExprs.wordShingles(col(textCol), cfg.shingleSize)).as("sset"))
    jaccardOnSets(pairs, sets)
  }

  // Per-PAIR exact Jaccard via the compiled two-pointer kernel
  // (QgramKernels.jaccardStrings, `sorted_strings_jaccard`): each set is sorted ONCE
  // per row (array_sort = the same UTF8String binary order the kernel
  // merges by), replacing the boxed array_intersect/array_union HOF chain.
  // Bit-identical jaccard for non-empty unions (intersection/union counts
  // are exact string equality either way); for the empty-vs-empty pair the
  // kernel returns 1.0 where the HOF form's 0/0 division returned NULL —
  // banding can't produce such a pair (no shingles → no band collisions),
  // but public [[jaccardVerifyDocs]] callers passing
  // their own pairs should know the convention (two empty sets count as
  // identical, matching SimHash/embedding-dedup semantics).
  // Round-8 matched-session A/B (min-of-5 × 3 interleaved Bench sessions,
  // sf0.1): kernel q24 mins 0.527/0.527/0.639 vs HOF 0.567/0.639/0.666 —
  // kernel ≤ HOF on every paired session; the r7 driver-bench q24/q36
  // upticks tracked a HOST-wide small-query inflation (r6→r7 per-query
  // table shows +20–60% on most sub-0.2s queries with untouched code,
  // e.g. q22 +59%, q23 +47%, q30 +54%), not this commit. Kept because the
  // per-pair term is what GROWS with corpus duplication rate, and the
  // kernel's O(|A|+|B|) primitive merge bounds it.
  private def jaccardOnSets(pairs: DataFrame, sets: DataFrame): DataFrame = {
    val sorted = sets.select(col("id"), array_sort(col("sset")).as("sset"))
    pairs
      .join(sorted.select(col("id").as("a"), col("sset").as("sa")), Seq("a"))
      .join(sorted.select(col("id").as("b"), col("sset").as("sb")), Seq("b"))
      .withColumn("jaccard",
        graft.functions.QgramKernels.sortedStringsJaccard(col("sa"), col("sb")))
      .drop("sa", "sb")
  }

  /** Cross-corpus candidate pairs: documents of `bandKeysA` colliding with
    * documents of `bandKeysB` in at least one band — the DECONTAMINATION
    * shape (training corpus × held-out benchmark), a band equi-JOIN rather
    * than a self-join, so cost is |A∩buckets∩B| not |A∪B|². No `a < b`
    * filter: the sides are distinct corpora and every (a, b) collision is
    * reported once.
    */
  def crossCandidatePairs(bandKeysA: DataFrame, bandKeysB: DataFrame): DataFrame = {
    val l = bandKeysA.select(col("id").as("a"), col("band"), col("band_key"))
    val r = bandKeysB.select(col("id").as("b"), col("band"), col("band_key"))
    l.join(r, Seq("band", "band_key"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** End-to-end decontamination: near-duplicate (train, benchmark) pairs
    * with exact Jaccard, verified on candidates only. Shingle sets are
    * rebuilt behind semi-joins on the candidate ids, exactly like
    * [[jaccardVerifyDocs]].
    */
  def crossNearDupPairs(
      train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    val pairs = crossCandidatePairs(
      bandKeys(signatures(train, idCol, textCol, cfg), cfg),
      bandKeys(signatures(benchmark, idCol, textCol, cfg), cfg))
    val setsOf = (docs: DataFrame, side: Column) => {
      // tautology filter = ReuseExchange enabler, see jaccardVerifyDocs
      val candIds = pairs.filter(col("n_bands") >= 1).select(side.as("cid")).distinct()
      docs.join(broadcast(candIds), col(idCol) === col("cid"), "left_semi")
        .select(col(idCol).as("id"),
          array_sort(array_distinct(
            graft.functions.TextExprs.wordShingles(col(textCol), cfg.shingleSize))).as("sset"))
    }
    pairs
      .join(setsOf(train, col("a")).select(col("id").as("a"), col("sset").as("sa")), Seq("a"))
      .join(setsOf(benchmark, col("b")).select(col("id").as("b"), col("sset").as("sb")), Seq("b"))
      // compiled two-pointer kernel over the per-row-sorted sets (see
      // jaccardOnSets) — bit-identical to the HOF intersect/union form
      .withColumn("jaccard",
        graft.functions.QgramKernels.sortedStringsJaccard(col("sa"), col("sb")))
      .drop("sa", "sb")
  }

  /** End-to-end: docs → verified candidate pairs.
    *
    * The signature frame feeds three plan branches (band keys + both sides
    * of the Jaccard verify join) and is recomputed per branch. With the
    * original interpreted array expressions, persisting it was a 3× win;
    * after moving signatures into the compiled [[graft.functions.TextKernels]]
    * expressions, recompute is cheaper than caching the large shingle arrays
    * (measured 2.9s vs 3.2s at sf0.1) — so no persist. Revisit if the
    * corpus-to-memory ratio changes the trade-off at cluster scale.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    val sigs = signatures(docs, idCol, textCol, cfg)
    jaccardVerifyDocs(candidatePairs(bandKeys(sigs, cfg)),
      docs, idCol, textCol, cfg)
  }
}
