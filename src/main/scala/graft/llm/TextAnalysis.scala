package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextExprs

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, shingling, quality features, marker-based language ID and
  * document fingerprinting.
  *
  * Everything is a pure `Column` expression (no UDFs): at 100 TB these run
  * inside whole-stage codegen directly over the parquet scan, shuffle-free —
  * the per-document cost is the only cost.
  */
object TextAnalysis {

  /** Whitespace word split (the corpus is single-space separated). */
  def words(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(words(text))

  /** BPE-ish token count: alpha runs, single digits, single non-alnum marks.
    * A cheap, deterministic proxy for subword token budgeting.
    */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit("[a-z]+|[0-9]|[^a-z0-9 ]"))

  /** Word n-gram shingles as an array column (empty array when the document
    * has fewer than n words). Array-expression form — no explode, no shuffle.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val w = words(text)
    val cnt = size(w) - (n - 1)
    when(cnt > 0,
      transform(sequence(lit(1), cnt),
        i => concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Marker vocabularies for the language-ID heuristic. Padded-space match
    * so only whole words count.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", " of "),
    "fr" -> Seq(" le ", " la ", " les "),
    "de" -> Seq(" der ", " und ", " die "),
    "es" -> Seq(" el ", " los ", " una "))

  /** All 12 language markers flattened in catalog order. */
  val allLangMarkers: Seq[String] = langMarkers.flatMap(_._2)

  /** One-pass compiled occurrence counts for every language marker (the
    * scan-speed path: one `MarkerCounts` kernel call per document instead of
    * 12 replace+length string rebuilds). Stage this as a column, then derive
    * scores with [[langScoresFromCounts]].
    */
  def langMarkerCounts(text: Column): Column =
    graft.functions.TextExprs.markerCounts(text, allLangMarkers)

  /** Per-language scores from a staged [[langMarkerCounts]] array. */
  def langScoresFromCounts(counts: Column): Seq[(String, Column)] = {
    val offsets = langMarkers.scanLeft(0) { case (acc, (_, ms)) => acc + ms.length }
    langMarkers.zip(offsets).map { case ((l, ms), off) =>
      l -> ms.indices.map(k => element_at(counts, off + k + 1)).reduce(_ + _)
    }
  }

  /** Deterministic argmax over per-language score columns: ties go to the
    * earlier language in catalog order, all-zero scores give 'und'. */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val maxScore = greatest(scores.map(_._2): _*)
    val pick = scores.foldLeft(when(maxScore === 0, "und")) {
      case (acc, (l, s)) => acc.when(s === maxScore, l)
    }
    pick.otherwise("und")
  }

  /** Word-count / word-length / stopword-density quality features. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")

  def stopwordRatio(text: Column): Column = {
    val w = words(text)
    size(filter(w, x => x.isin(stopwords.map(_.asInstanceOf[Any]): _*))) * lit(1.0) / size(w)
  }

  def avgWordLen(text: Column): Column =
    length(replace(text, lit(" "), lit(""))) * lit(1.0) / size(words(text))

  /** Coarse quality bin from length + stopword density (the shape of a
    * heuristic quality scorer; thresholds are illustrative).
    */
  def qualityBin(text: Column): Column = {
    val nw = tokenCountWs(text)
    val sw = stopwordRatio(text)
    when(nw < 20, "too_short")
      .when(sw > 0.4, "boilerplate")
      .when(sw < 0.02, "unnatural")
      .otherwise("ok")
  }

  /** Document fingerprint: min-md5 over word 5-gram shingles (winnowing-style
    * content signature; identical word sequences → identical fingerprint).
    */
  def fingerprint(text: Column): Column =
    array_min(transform(wordShingles(text, 5), s => md5(s)))

  /** Occurrence count of the document's single most frequent word — the
    * numerator of the Gopher-style "fraction of words that are the top
    * word" repetition filter (templated/spammy documents are dominated by
    * one token; natural prose is not). Exact, expression-level:
    * O(distinct·words) array work per document, shuffle-free — at a
    * bounded natural-language vocabulary per document this is cheap, and
    * it stays identical in the DuckDB twin's list-function rendering
    * (unlike an explode+window formulation, which would shuffle every
    * token).
    */
  def topWordCount(text: Column): Column = {
    val w = words(text)
    array_max(transform(array_distinct(w), x => size(filter(w, y => y === x))))
  }

  /** Distinct-word count — denominator of type/token diversity ratios. */
  def distinctWordCount(text: Column): Column =
    size(array_distinct(words(text)))

  /** Per-document duplicated-passage profile — the practical, distributed
    * form of exact-substring dedup (the suffix-array recipe of
    * "Deduplicating Training Data Makes Language Models Better" finds long
    * substrings repeated ACROSS documents; its working approximation at
    * corpus scale is long word n-grams, the same unit the GPT-3-style
    * decontamination uses): for every document, how many of its distinct
    * n-grams also occur in at least `minDf − 1` OTHER documents, and what
    * fraction of the document that is. High `dup_frac` = the document is
    * largely stitched from passages the corpus already contains —
    * boilerplate, mirrors, templated spam — the rows an exact-substring
    * dedup pass would cut.
    *
    * Scale shape: the distinct (doc, gram-md5) stream feeds both the gram
    * document-frequency aggregate (map-side combinable) and the join back
    * to the per-doc rows. The stream is pipelined map work off the scan
    * and is RECOMPUTED per consumer — materializing it behind its own
    * exchange would save one explode+md5 pass at the price of a third
    * full gram-volume shuffle, the wrong trade at corpus scale (both
    * existing shuffles carry 16-byte keys, never text). Same cost model
    * as [[tfIdf]]'s df join, deliberately: gram df IS term df at a longer
    * n. Hot boilerplate grams fan out in the join exactly as far as they
    * occur — which is the signal itself.
    */
  def duplicatedPassageProfile(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      n: Int = 8, minDf: Long = 2): org.apache.spark.sql.DataFrame = {
    val grams = docs.select(col(idCol),
      explode(array_distinct(
        graft.functions.TextExprs.wordShingles(col(textCol), n))).as("g"))
      .select(col(idCol), md5(col("g")).as("gid"))
    val dfreq = grams.groupBy(col("gid")).agg(count(lit(1)).as("gdf"))
    grams.join(dfreq, "gid")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum((col("gdf") >= minDf).cast("long")).as("n_dup"))
      .withColumn("dup_frac", col("n_dup") * lit(1.0) / col("n_grams"))
  }

  /** Exact-substring dedup as a TRANSFORM — the companion of
    * [[duplicatedPassageProfile]] that actually rewrites the corpus the way
    * Lee et al.'s suffix-array dedup does: rather than dropping whole
    * documents, remove the duplicated spans themselves. A word is removed
    * when it is covered by any n-gram occurring ≥ `minDf` times in the
    * corpus (total occurrences, within-doc repeats included — a doc that
    * repeats its own boilerplate is deduplicated against itself); every
    * document survives with its unique words, in original order.
    *
    * Scale shape: text never shuffles. The gram-occurrence stream
    * (id, start, md5) is map work off the scan; the duplicate-gram filter is
    * one 16-byte-key aggregate; covered starts come back as a per-document
    * integer array (collect_set over a semi-join — bounded by the document's
    * own gram count); the rewrite itself is a scan-time higher-order filter
    * over `split(text)` against that array (O(words × dup-starts-per-doc),
    * and dup starts are the rare case by construction). Compare the naive
    * shape — explode every word, anti-join covered positions, re-aggregate
    * with a sort — which shuffles the full text volume twice.
    */
  def removeDuplicatedPassages(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String,
      n: Int = 8, minDf: Long = 2): org.apache.spark.sql.DataFrame = {
    val occ = docs.select(col(idCol),
      posexplode(graft.functions.TextExprs.wordShingles(col(textCol), n)))
      .select(col(idCol), col("pos").as("start"), md5(col("col")).as("gid"))
    val dup = occ.groupBy(col("gid")).agg(count(lit(1)).as("gdf"))
      .where(col("gdf") >= minDf).select(col("gid"))
    val dupStarts = occ.join(dup, Seq("gid"), "left_semi")
      .groupBy(col(idCol)).agg(collect_set(col("start")).as("dup_starts"))
    val w = words(col(textCol))
    val starts = coalesce(col("dup_starts"), array().cast("array<int>"))
    val kept = filter(w, (word, i) =>
      !exists(starts, s => s <= i && i <= s + lit(n - 1)))
    docs.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol),
        size(w).cast("long").as("n_words"),
        (size(w) - size(kept)).cast("long").as("n_removed"),
        array_join(kept, " ").as("clean_text"))
  }

  /** Canonical text normalization for dedup keys: lowercase, strip
    * non-alphanumerics, collapse whitespace runs, trim, and drop stopwords.
    * Two documents that differ only in casing, punctuation, spacing or
    * stopword choice normalize to the same string — the usual first-line
    * dedup key in web-corpus pipelines (exact dedup after normalization
    * catches the large family of trivially-reformatted duplicates that
    * byte-exact hashing misses). Pure expression: runs at scan speed.
    */
  def normalized(text: Column): Column = {
    val cleaned = trim(regexp_replace(
      regexp_replace(TextExprs.lower(text), "[^a-z0-9 ]", ""), " +", " "))
    array_join(
      filter(split(cleaned, " "),
        w => !w.isin(stopwords.map(_.asInstanceOf[Any]): _*)),
      " ")
  }

  /** Slice-discriminating vocabulary: the top-k tokens most
    * OVER-represented in each slice (source/domain/snapshot) relative to
    * the whole corpus, ranked by lift = (a/n_slice) / (c/N) where `a` is
    * the token's count in the slice, `n_slice` the slice token volume, `c`
    * the corpus-wide token count and `N` total volume. This is the
    * per-token drill-down to [[Drift.tokenKlDrift]]'s per-slice scalar:
    * KL says a slice drifted, keyness says WHICH words did it.
    *
    * Lift deliberately replaces the usual log-odds/G² form: it ranks
    * identically for fixed slice priors and needs no `ln` — division and
    * multiplication are correctly-rounded IEEE ops, so computing in one
    * fixed order `(a·1.0/n_slice) / (c·1.0/N)` is BIT-identical on any
    * engine, making the cross-engine rank (and the r4-rounded report
    * value) exact rather than libm-exposed (the q71/q89 ln caveat).
    *
    * Scale shape: one explode; a (slice, word) agg, a slice agg
    * (answer-sized) and a word agg (vocabulary-sized — shuffle join by
    * design, the q59 argument); ranking is a per-slice window over the
    * ≥ minCount vocabulary, the same envelope as any top-k-per-group.
    * `minCount` floors the support so one-off tokens can't dominate lift.
    */
  def sliceKeyness(
      docs: org.apache.spark.sql.DataFrame,
      sliceCol: String,
      textCol: String,
      minCount: Long = 5L,
      topK: Int = 5): org.apache.spark.sql.DataFrame = {
    val t = docs
      .select(col(sliceCol), explode(words(col(textCol))).as("word"))
      .filter(col("word") =!= "")
    val sw = t.groupBy(col(sliceCol), col("word")).agg(count(lit(1)).as("a"))
    val stot = t.groupBy(col(sliceCol)).agg(count(lit(1)).as("__na"))
    val wtot = t.groupBy(col("word")).agg(count(lit(1)).as("__c"))
    val n = t.agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sliceCol))
      .orderBy(col("lift").desc, col("word"))
    sw.filter(col("a") >= minCount)
      .join(broadcast(stot), sliceCol)
      .join(wtot, "word")
      .crossJoin(broadcast(n))
      // fixed arithmetic order — see scaladoc: bit-identical cross-engine
      .withColumn("lift",
        (col("a") * lit(1.0) / col("__na")) / (col("__c") * lit(1.0) / col("__n")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .drop("__na", "__c", "__n")
  }

  /** Per-slice lexical diversity profile: type-token ratio at the word and
    * word-trigram level — the corpus-health metric that catches template
    * spam and synthetic-data collapse (low TTR = the slice repeats
    * itself; trigram TTR drops first because phrases repeat before
    * vocabularies shrink).
    *
    * Distinct counts are two-level aggregates (reduce to (slice, unit)
    * pairs, then count per slice) — never `count(DISTINCT …)`, whose
    * Expand duplicates the token stream per distinct column (the q65
    * lesson). Both ratios divide exact longs in one fixed order, so the
    * doubles are bit-identical cross-engine before r4.
    *
    * Scale shape: two explodes (words, trigrams — both pipelined), four
    * hash-aggregate shuffles whose reduce side is (slice, unit)-sized,
    * and answer-sized joins keyed by slice. The joins are inner: a slice
    * whose every document is shorter than three words has no trigram row
    * and drops from the profile (deliberate — such a slice needs a length
    * gate, not a diversity score).
    */
  def diversityProfile(
      docs: org.apache.spark.sql.DataFrame,
      sliceCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val ws = filter(words(col(textCol)), w => w =!= "")
    val f = docs.select(col(sliceCol), ws.as("__ws"))
    val tw = f.select(col(sliceCol), explode(col("__ws")).as("word"))
    // NB: Spark `sequence(1, 0)` is DESCENDING [1, 0], not empty like SQL
    // generate_series — docs under 3 words need the explicit empty branch
    val tris = when(size(col("__ws")) >= 3,
      transform(
        sequence(lit(1), size(col("__ws")) - 2),
        i => concat(element_at(col("__ws"), i), lit(" "),
          element_at(col("__ws"), i + 1), lit(" "),
          element_at(col("__ws"), i + 2))))
      .otherwise(array().cast("array<string>"))
    val tt = f.select(col(sliceCol), explode(tris).as("tri"))
    val wtot = tw.groupBy(col(sliceCol)).agg(count(lit(1)).as("n_words"))
    val wuniq = tw.groupBy(col(sliceCol), col("word")).agg(lit(1).as("__one"))
      .groupBy(col(sliceCol)).agg(count(lit(1)).as("uniq_words"))
    val ttot = tt.groupBy(col(sliceCol)).agg(count(lit(1)).as("n_tris"))
    val tuniq = tt.groupBy(col(sliceCol), col("tri")).agg(lit(1).as("__one"))
      .groupBy(col(sliceCol)).agg(count(lit(1)).as("uniq_tris"))
    wtot.join(wuniq, sliceCol).join(ttot, sliceCol).join(tuniq, sliceCol)
      .withColumn("ttr", col("uniq_words") * lit(1.0) / col("n_words"))
      .withColumn("tri_ttr", col("uniq_tris") * lit(1.0) / col("n_tris"))
  }

  /** TF-IDF term weights over a corpus: one row per (document, word) with
    * raw term frequency `tf`, document frequency `df`, and
    * `tfidf = tf · ln(N / df)`.
    *
    * Scale shape: one explode (pipelined, no materialization), one
    * (doc, word) agg and one (word) agg — both plain hash-aggregate
    * shuffles — and a word-keyed equi-join. The corpus size N is an
    * answer-sized (1-row) aggregate broadcast into the expression, never a
    * driver-side collect. The word join is a shuffle join by default
    * because a real vocabulary (10⁷–10⁸ subwords at corpus scale) is not
    * broadcastable; AQE converts it to broadcast when the vocab is small.
    *
    * `docFilter` restricts which documents appear in the OUTPUT (the tf
    * side) while df/N still see the whole corpus — document statistics must
    * never depend on which slice you asked to score.
    */
  def tfIdf(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      docFilter: Option[Column] = None): org.apache.spark.sql.DataFrame = {
    val wordsDf = docs.select(col(idCol), explode(words(col(textCol))).as("word"))
    // ONE explode feeds everything: the unfiltered (doc, word) aggregate is
    // both the tf table and — one rows-per-word count away — the document
    // frequency (df = rows per word, since tfAll is distinct on
    // (doc, word)). The previous formulation re-exploded the corpus and
    // count-distinct'ed it (an Expand over every token); this derives df
    // from tokens already reduced to (doc, word). Locally the two are
    // timing-indistinguishable (sf0.1 is job-floor-bound; A/B'd solo,
    // 0.26-0.36s both) — the win is structural: one token-volume stage
    // instead of two, and the df computation's shuffle shrinks from
    // |tokens| (under Expand duplication) to |(doc, word)| pairs, which is
    // what matters when tokens ≫ distinct pairs at corpus scale.
    // `docFilter` (a predicate over [idCol, word]) still only restricts
    // the OUTPUT side; df/N always see the whole corpus.
    val tfAll = wordsDf
      .groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tfAll.groupBy(col("word"))
      .agg(count(lit(1)).as("df"))
    val tf = docFilter.fold(tfAll)(tfAll.filter)
    val n = docs.agg(count(lit(1)).as("__n"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("__n").cast("double") / col("df")))
      .drop("__n")
  }

  /** Distinct character q-gram set of a (short) string — the record-linkage
    * similarity unit (q-gram Jaccard complements edit distance: insensitive
    * to transpositions, cheap to set-intersect). Strings shorter than q
    * yield the single truncated gram rather than an empty set, matching SQL
    * `generate_series(1, greatest(len-q+1, 1))` so the cross-engine twin is
    * exact.
    */
  def charGrams(s: Column, q: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(s) - (q - 1), lit(1))),
      i => substr(s, i, lit(q))))

  /** Exact Jaccard similarity of two array columns (treated as sets). */
  def jaccardSets(a: Column, b: Column): Column =
    size(array_intersect(a, b)) * lit(1.0) / size(array_union(a, b))

  /** Zipf-law fit per group — OLS of ln(freq) on ln(rank) over the token
    * frequency table: the corpus-health fingerprint (natural text sits
    * near slope −1; templated/boilerplate-heavy or synthetic corpora bow
    * away from it), and the vocabulary-growth input to tokenizer sizing.
    *
    * Determinism: both coordinates floor at scale 8
    * (`⌊ln(·)·10⁸ + 0.5⌋`, the q89/q93 convention — ln carries the
    * catalog's ±1-ulp caveat) and every OLS moment accumulates as exact
    * DECIMAL, so slope's numerator/denominator are exact integers cast
    * once to double; intercept and r² are fixed-order double expressions
    * mirrored verbatim by SQL twins.
    *
    * Plan: one (group, token) hash aggregate (map-side combined over the
    * token explode), a rank window over the VOCABULARY-sized frequency
    * frame only, then one answer-sized moment aggregate. Raw text never
    * shuffles.
    *
    * @return per group: (groupCols…, n_types, n_tokens, slope, intercept,
    *         r2) — slope/intercept in ln-ln space, NULL for degenerate
    *         single-type groups
    */
  def zipfFit(
      docs: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
      textCol: String): org.apache.spark.sql.DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val freq = docs
      .select(g :+ explode(words(col(textCol))).as("__t"): _*)
      .filter(col("__t") =!= "")
      .groupBy(g :+ col("__t"): _*)
      .agg(count(lit(1)).as("__c"))
    val wRank = Window.partitionBy(g: _*)
      .orderBy(col("__c").desc, col("__t").asc)
    val coords = freq
      .withColumn("__r", row_number().over(wRank).cast("long"))
      .withColumn("__x8",
        floor(log(col("__r").cast("double")) * lit(1e8) + 0.5).cast("long")
          .cast(DecimalType(19, 0)))
      .withColumn("__y8",
        floor(log(col("__c").cast("double")) * lit(1e8) + 0.5).cast("long")
          .cast(DecimalType(19, 0)))
    val m = coords.groupBy(g: _*).agg(
      count(lit(1)).as("n_types"),
      sum(col("__c")).as("n_tokens"),
      sum(col("__x8")).as("__sx"),
      sum(col("__y8")).as("__sy"),
      sum(col("__x8") * col("__y8")).as("__sxy"),
      sum(col("__x8") * col("__x8")).as("__sxx"),
      sum(col("__y8") * col("__y8")).as("__syy"))
    val nD = col("n_types").cast(DecimalType(38, 0))
    val dnum = (nD * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val dden = (nD * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val dvy = (nD * col("__syy") - col("__sy") * col("__sy")).cast("double")
    m.select(g ++ Seq(col("n_types"), col("n_tokens"),
        when(col("n_types") > 1 && dden > 0, dnum / dden).as("slope"),
        when(col("n_types") > 1 && dden > 0,
          (col("__sy").cast("double") / lit(1e8) -
            (dnum / dden) * (col("__sx").cast("double") / lit(1e8))) /
            col("n_types").cast("double")).as("intercept"),
        when(col("n_types") > 1 && dden > 0 && dvy > 0,
          dnum * dnum / (dden * dvy)).as("r2")): _*)
  }

  /** Vocabulary-richness estimators per group — how much vocabulary is the
    * corpus still MISSING? The acquisition-planning companion to the q82
    * vocab table: bias-corrected Chao1 estimates total type count from the
    * rare-type profile, and the Good–Turing mass estimates the probability
    * the NEXT token is unseen (the number that says whether more data
    * still buys new vocabulary):
    *
    *   Chao1 = D + f₁(f₁−1) / (2(f₂+1)),   p_unseen = f₁ / N
    *
    * with D observed types, N tokens, f₁/f₂ types seen exactly once/twice
    * (the bias-corrected Chao1 form is total — no f₂ = 0 special case).
    *
    * Exactness: everything up to the two final divisions is exact long
    * counts off the token frequency table; both tails are single double
    * divisions of exact integers. Empty-token artifacts of the
    * single-space convention are excluded (both engines split identically).
    *
    * Plan: one (group, token) count aggregate (map-side combined), one
    * answer-sized frequency-profile aggregate. The frequency table is the
    * same frame q79/q82/q157 aggregate — vocabulary-sized, never raw
    * tokens, after the first exchange.
    *
    * @return per group: (groupCols…, n_tokens, d_types, f1, f2, chao1,
    *         p_unseen) — chao1 ≥ d_types always; p_unseen NULL when the
    *         group has no tokens
    */
  def vocabRichness(
      df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
      textCol: Column): org.apache.spark.sql.DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val freq = df
      .filter(textCol.isNotNull)
      .select(g :+ explode(split(textCol, " ")).as("__tok"): _*)
      .filter(col("__tok") =!= "")
      .groupBy(g :+ col("__tok"): _*)
      .agg(count(lit(1)).as("__c"))
    freq.groupBy(g: _*).agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("d_types"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(g ++ Seq(col("n_tokens"), col("d_types"), col("f1"), col("f2"),
        (col("d_types").cast("double") +
          (col("f1").cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
            (col("f1").cast(org.apache.spark.sql.types.DecimalType(38, 0)) - 1))
            .cast("double") /
            (lit(2.0) * (col("f2") + 1).cast("double"))).as("chao1"),
        when(col("n_tokens") > 0,
          col("f1").cast("double") / col("n_tokens").cast("double"))
          .as("p_unseen")): _*)
  }

  /** Cross-corpus vocabulary overlap per group — before mixing corpus B
    * into corpus A (or grading a new acquisition against the owned set),
    * measure how much of B's LEXICON is new: type-level Jaccard, and the
    * token-level OOV MASS (what fraction of B's running text uses types A
    * has never seen — the number that predicts tokenizer/embedding
    * coverage, where a rare-type count would mislead).
    *
    * Exactness: everything is exact long presence/count arithmetic off
    * ONE (group, token) aggregate carrying both sides; the two rates are
    * single double divisions. Empty tokens of the single-space convention
    * are excluded; rows with a NULL side flag are excluded (the
    * [[graft.llm.Decontam]] null-flag convention).
    *
    * Plan: one token-volume hash aggregate (map-side combined), one
    * vocabulary-sized group aggregate. Text never shuffles — only
    * (group, token, counts).
    *
    * @param inACol boolean: true → corpus A, false → corpus B
    * @return per group: (groupCols…, v_a, v_b, v_shared, jaccard,
    *         oov_types_b, tokens_b, oov_mass_b) — rates NULL when the
    *         respective denominator is 0
    */
  def vocabOverlap(
      df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
      textCol: Column, inACol: Column): org.apache.spark.sql.DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val byType = df
      .filter(textCol.isNotNull && inACol.isNotNull)
      .select(g ++ Seq(inACol.cast("boolean").as("__a"),
        explode(split(textCol, " ")).as("__tok")): _*)
      .filter(col("__tok") =!= "")
      .groupBy(g :+ col("__tok"): _*)
      .agg(
        max(when(col("__a"), 1L).otherwise(0L)).as("__ina"),
        max(when(!col("__a"), 1L).otherwise(0L)).as("__inb"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    byType.groupBy(g: _*)
      .agg(
        sum(col("__ina")).as("v_a"),
        sum(col("__inb")).as("v_b"),
        sum(col("__ina") * col("__inb")).as("v_shared"),
        count(lit(1)).as("__union"),
        sum(col("__cb")).as("tokens_b"),
        sum(when(col("__ina") === 0, col("__cb")).otherwise(0L))
          .as("__oov_mass"))
      .select(g ++ Seq(col("v_a"), col("v_b"), col("v_shared"),
        when(col("__union") > 0,
          col("v_shared").cast("double") / col("__union").cast("double"))
          .as("jaccard"),
        (col("v_b") - col("v_shared")).as("oov_types_b"),
        col("tokens_b"),
        when(col("tokens_b") > 0,
          col("__oov_mass").cast("double") / col("tokens_b").cast("double"))
          .as("oov_mass_b")): _*)
  }
}
