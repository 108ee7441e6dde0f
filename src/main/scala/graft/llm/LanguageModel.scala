package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical n-gram language-model scoring — the corpus-quality signal
  * real pipelines compute with a KenLM-style model: documents whose token
  * transitions are improbable under a reference model are gibberish,
  * boilerplate, or the wrong language, and get filtered or down-weighted.
  * Here the model is a bigram MLE trained ON a reference corpus (possibly
  * the corpus itself — self-scoring flags outlier documents), and scoring
  * is a pure DataFrame pipeline: the model IS a table, scoring IS a join.
  *
  * Scale shape: training = one explode into bigram shingles + two hash
  * aggregates (bigram counts, then prefix totals — both map-side
  * combinable). Scoring = re-explode the target docs, equi-join the model
  * on the bigram (a shuffle join by default — a real model is 10⁸⁺ rows
  * and not broadcastable; AQE demotes to broadcast when it is small),
  * then one per-document aggregate. No driver-side model artifact at all —
  * unlike the IVF quantizer there is no k-row bottleneck to collect;
  * the model stays distributed end to end.
  *
  * Determinism: per-bigram log-probabilities are rounded to scale-4 LONGS
  * (`floor(ln(p)·10⁴ + 0.5)`) BEFORE the per-document sum, so the sum is
  * exact integer arithmetic — order-independent on any merge tree — and
  * the cross-engine twin reproduces it bit-for-bit (same convention as
  * the catalog's money aggregates).
  */
object LanguageModel {

  /** Bigram model of `corpus`: one row per distinct bigram with
    * `w12` (the space-joined bigram), `c12` (its occurrence count) and
    * `c1` (occurrences of its prefix word as a bigram start — the MLE
    * denominator, so P(w2|w1) = c12/c1).
    */
  def bigramModel(corpus: DataFrame, textCol: String): DataFrame = {
    val bi = corpus.select(
      explode(graft.functions.TextExprs.wordShingles(col(textCol), 2)).as("w12"))
    val counts = bi.groupBy(col("w12")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", substring_index(col("w12"), " ", 1))
    val prefix = counts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    counts.join(prefix, "w1").select(col("w12"), col("c12"), col("c1"))
  }

  /** Stupid-backoff trigram scoring (Brants et al. 2007): the production
    * upgrade of [[scoreBigrams]] — higher-order context where the training
    * slice has evidence, graceful α-discounted fallback where it does not.
    * Per trigram position (w1 w2 w3) of a scored document:
    *
    *   S(w3|w1 w2) = c3(w1w2w3)/c2(w1w2)            if the trigram was seen
    *               = α · c2(w2w3)/c1(w2)             else if the bigram was
    *               = α² · c1(w3)/N                   else if the word was
    *               = OOV (excluded, counted)         otherwise
    *
    * Unlike self-scored bigrams, training on a SLICE (e.g. one language)
    * makes every backoff tier reachable — the score doubles as a
    * domain-shift measure (how "train-like" each document reads).
    *
    * Scale shape: training is three parallel hash aggregates over the
    * train slice's shingles (the q83 three-subtree idiom). Scoring pays
    * the model joins once per distinct trigram TYPE (Zipf: types ≪
    * tokens — the q91 lesson): the distinct-type frame is enriched by
    * five type-keyed model joins + a 1-row N broadcast into a per-type
    * `score4`, and the only token-volume stage is ONE equi-join of doc
    * trigrams against that scored-type table, followed by the per-doc
    * aggregate. Every model join is shuffle-by-design (a real trigram
    * model is 10⁹ rows); AQE demotes to broadcast when small.
    *
    * Determinism: per-type log-scores floor at scale 4 into longs before
    * the per-document sum (exact integer addition, any merge tree);
    * `ln` is the documented libm exposure (see [[scoreBigrams]]).
    * All-OOV documents keep NULL `logsum4`/`avg_logp` with `n_scored` 0
    * (both engines agree: SUM over no rows is NULL).
    */
  def trigramBackoffScores(
      train: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.4): DataFrame = {
    import graft.functions.TextExprs.wordShingles
    // ONE tokenize pass over `train` instead of three: the trigram,
    // bigram and unigram counts share a single explode over the
    // concatenated order-prefixed shingle arrays ("3|w1 w2 w3",
    // "2|w1 w2", "1|w") and ONE (key, count) aggregate — the prefix
    // disambiguates orders (words contain no spaces), so per-key counts
    // equal the three separate aggregates exactly. The five model joins
    // probe renamed copies of the same aggregate, whose exchange reuses
    // 5× (each leg infers the same isnotnull(key), kept explicit so the
    // copies stay canonically equal); `n` (the unigram total) rides the
    // same exchange as a conditional sum — a when() inside an aggregate
    // cannot be pushed below it, unlike the filter form.
    // (the prefix must attach per EXPLODED row, not per array element:
    // a lambda transform() evaluates interpreted per element — measured
    // 10 s → 55 s of executor time at sf1 — while posexplode + one
    // positional CASE + concat stays in whole-stage codegen)
    val grams = train
      .select(wordShingles(col(textCol), 3).as("__a3"),
        wordShingles(col(textCol), 2).as("__a2"),
        wordShingles(col(textCol), 1).as("__a1"))
      .select(size(col("__a3")).as("__s3"), size(col("__a2")).as("__s2"),
        posexplode(concat(col("__a3"), col("__a2"), col("__a1"))))
      .select(concat(
        when(col("pos") < col("__s3"), lit("3"))
          .when(col("pos") < col("__s3") + col("__s2"), lit("2"))
          .otherwise(lit("1")),
        lit("|"), col("col")).as("__k"))
      .filter(col("__k").isNotNull)
      .groupBy(col("__k")).agg(count(lit(1)).as("__c"))
    val n = grams.agg(sum(when(substring(col("__k"), 1, 2) === "1|",
      col("__c"))).as("n"))

    // per-TYPE scoring, ONE model probe (r16): the five per-type model
    // lookups fan out as five tagged probe keys per distinct trigram
    // (posexplode — the tag is the position) against ONE left join of the
    // gram model, then fold back to one row per type with a positional
    // max(when()) pivot. Each (type, pos) key matches at most one model
    // row (the model is an aggregate), so the pivot recovers exactly the
    // five columns the former five leg-joins produced — same values, same
    // NULL-miss semantics — while the model builds ONE broadcast instead
    // of five, and the pivot aggregate rides the distinct's existing
    // w123 exchange (the explode preserves its partitioning), adding no
    // shuffle. Five joins → one join + one in-stage aggregate.
    val types = docs.select(explode(wordShingles(col(textCol), 3)).as("w123"))
      .distinct()
    val probes = types
      .select(col("w123"), posexplode(array(
        concat(lit("3|"), col("w123")),
        concat(lit("2|"), substring_index(col("w123"), " ", 2)),
        concat(lit("2|"), substring_index(col("w123"), " ", -2)),
        concat(lit("1|"), element_at(split(col("w123"), " "), 2)),
        concat(lit("1|"), substring_index(col("w123"), " ", -1)))))
    def pick(p: Int, name: String) =
      max(when(col("pos") === p, col("__c"))).as(name)
    val scored = probes
      .join(grams.withColumnRenamed("__k", "__mk"),
        col("col") === col("__mk"), "left")
      .groupBy(col("w123"))
      .agg(pick(0, "c3"), pick(1, "c2a"), pick(2, "c2b"),
        pick(3, "c1b"), pick(4, "c1c"))
      .crossJoin(broadcast(n))
      .withColumn("__lp",
        when(col("c3").isNotNull,
          log(col("c3").cast("double") / col("c2a")))
        .when(col("c2b").isNotNull,
          log((lit(alpha) * col("c2b")) / col("c1b")))
        .when(col("c1c").isNotNull,
          log(((lit(alpha) * lit(alpha)) * col("c1c")) / col("n"))))
      .withColumn("score4", floor(col("__lp") * 10000 + 0.5).cast("long"))
      .select(col("w123"), col("score4"))

    // the ONE token-volume join: doc trigrams × scored types
    docs.select(col(idCol),
        explode(wordShingles(col(textCol), 3)).as("w123"))
      .join(scored, "w123")
      .groupBy(col(idCol))
      .agg(
        sum(when(col("score4").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("score4").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(col("score4")).as("logsum4"))
      .withColumn("avg_logp",
        floor((col("logsum4").cast("double") / 10000.0 / col("n_scored")) * 10000 + 0.5) / 10000)
  }

  /** Score `docs` under `model` ([[bigramModel]] output): one row per
    * document having ≥1 bigram — `n_bigrams`, `logsum4` (sum of scale-4
    * rounded bigram log-probs, exact long), and `avg_logp` (mean log-prob
    * per bigram, scale-4). Bigrams absent from the model are dropped by
    * the join, so `n_bigrams` counts SCORED bigrams (with a self-trained
    * model that is all of them); under a foreign model, compute each
    * document's total bigram count separately
    * (`size(wordShingles(text, 2))`) and gate on the coverage ratio
    * before trusting `avg_logp`.
    *
    * Cross-engine caveat: the scale-4 floor makes the SUM order-independent
    * (exact long addition), but each per-bigram term still passes through
    * `ln` — and IEEE 754 does not require correctly-rounded `ln`, so an
    * engine pair whose libm implementations disagree in the last ulp could
    * round a log-prob landing within an ulp of an integer scale-4 boundary
    * to adjacent longs. Java's `Math.log` and DuckDB's libm agree on every
    * value in the test corpora (q71 hash-matches at three SFs); a gate
    * comparing against a third engine should allow ±1 on `logsum4` rather
    * than assume bit equality.
    */
  def scoreBigrams(
      docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    val docBi = docs.select(col(idCol),
      explode(graft.functions.TextExprs.wordShingles(col(textCol), 2)).as("w12"))
    scoreJoin(docBi, idCol, model)
  }

  // (A w12-keyed repartition pin sharing ONE tokenize pass between the
  // model aggregate and the scoring join was tried and REJECTED on sf1
  // profile evidence: the model broadcasts (~answer-sized), so the plain
  // two-pass form never shuffles the exploded bigram stream at all — the
  // pin traded one map-side tokenize for a full raw-stream shuffle, 2.6×
  // the corpus bytes. Recompute-cheap-lineage beats shuffle, guide §2.)

  private def scoreJoin(
      docBi: DataFrame, idCol: String, model: DataFrame): DataFrame =
    docBi.join(model, "w12")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(floor(log(col("c12").cast("double") / col("c1").cast("double")) * 10000 + 0.5)
          .cast("long")).as("logsum4"))
      .withColumn("avg_logp",
        floor((col("logsum4").cast("double") / 10000.0 / col("n_bigrams")) * 10000 + 0.5) / 10000)
}
