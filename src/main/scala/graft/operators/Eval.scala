package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation aggregates over scored rows — the offline-eval side of
  * a training-data pipeline (score a heldout slice, grade the ranker /
  * quality gate that produced it) computed as distributed rank windows +
  * hash aggregates, never a per-group driver loop.
  *
  * All three statistics are built so everything up to the FINAL division
  * is exact integer (AUC) or r4-convention double-moment (Spearman)
  * arithmetic, making outputs engine-identical (AUC) or stable at the
  * catalog's 4-decimal convention.
  *
  * Scale: each statistic is one (or two) windows PARTITIONED BY GROUP plus
  * one hash aggregate — parallelism = number of groups × partitions, no
  * global sort, no collect. A single pathological group still sorts within
  * one partition chain (Spark range-partitions large window groups across
  * tasks only per-partition; for a billion-row single-group AUC use the
  * documented histogram-bucket approximation: bucket scores to k bins,
  * AUC from cumulative bin counts — an answer-sized aggregate).
  */
object Eval {

  /** Tie count of `v` within the groups `g`. */
  private def ties(g: Seq[Column], v: Column): Column =
    count(lit(1)).over(Window.partitionBy(g :+ v: _*))

  /** Doubled midrank of `v` within the groups `g`: `2·rank + ties − 1`,
    * a tied block's mean rank ×2 as an exact long. */
  private def midrank2(g: Seq[Column], v: Column): Column =
    lit(2L) * rank().over(Window.partitionBy(g: _*).orderBy(v)).cast("long") +
      ties(g, v) - lit(1L)

  /** ROC-AUC per group via the Mann–Whitney rank-sum identity:
    *
    *   AUC = (Σ_{i∈pos} R_i − n⁺(n⁺+1)/2) / (n⁺ · n⁻)
    *
    * with average ranks for score ties (the standard tie-corrected form:
    * a tied block's rows all take the block's mean rank, so AUC counts
    * each tied pos/neg pair as ½).
    *
    * Exactness: mean rank = (2·minrank + cnt − 1) / 2 is kept ×2 in LONG
    * arithmetic (`__r2 = 2·rank + cnt − 1`), so the numerator
    * Σ__r2 − n⁺(n⁺+1) and denominator 2·n⁺·n⁻ are exact integers and the
    * single final division is IEEE-identical cross-engine.
    *
    * @param labelCol boolean-valued Column (true = positive)
    * @param scoreCol numeric score (higher = more positive); null scores
    *                 and null labels are excluded
    * @return one row per group: (groupCols…, n_pos, n_neg, auc);
    *         auc is NULL for single-class groups
    */
  def rocAuc(
      df: DataFrame, groupCols: Seq[String],
      labelCol: Column, scoreCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val scored = df
      .filter(scoreCol.isNotNull && labelCol.isNotNull)
      .select(g ++ Seq(
        labelCol.cast("boolean").as("__pos"),
        midrank2(g, scoreCol).as("__r2")): _*)
    scored
      .groupBy(g: _*)
      .agg(
        sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("n_neg"),
        sum(when(col("__pos"), col("__r2")).otherwise(0L)).as("__rs2"))
      .select(g ++ Seq(
        col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("__rs2") - col("n_pos") * (col("n_pos") + 1)) /
            (lit(2L) * col("n_pos") * col("n_neg")))
          .as("auc")): _*)
  }

  /** Spearman rank correlation per group: Pearson correlation of the
    * tie-averaged ranks of x and y — the monotone-association signal that
    * survives outliers and nonlinear scales (is doc quality score
    * monotonically related to length?).
    *
    * Ranks use the same exact ×2-integer mean-rank construction as
    * [[rocAuc]]; the correlation is then the explicit moment ratio
    * (q118/q47 convention — `corr` THROWS under ANSI on zero-variance
    * groups; the moment form NULLs them). Output falls under the
    * catalog's r4 rounding convention (double moment partials).
    *
    * @return one row per group: (groupCols…, n, rho)
    */
  def spearman(
      df: DataFrame, groupCols: Seq[String],
      x: Column, y: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val ranked = df
      .filter(x.isNotNull && y.isNotNull)
      .select(g ++ Seq(midrank2(g, x).as("__rx2"), midrank2(g, y).as("__ry2")): _*)
    ranked
      .groupBy(g: _*)
      .agg(
        count(lit(1)).as("n"),
        covar_samp(col("__rx2"), col("__ry2")).as("__cxy"),
        var_samp(col("__rx2")).as("__vx"),
        var_samp(col("__ry2")).as("__vy"))
      .select(g ++ Seq(
        col("n"),
        when(col("__vx") > 0 && col("__vy") > 0,
          col("__cxy") / sqrt(col("__vx") * col("__vy")))
          .as("rho")): _*)
  }

  /** nDCG@k and MRR per query group — the RANKING-QUALITY member of the
    * eval family (AUC grades a classifier, Spearman a monotone fit; this
    * grades a RETRIEVAL ORDERING against graded relevance — the offline
    * metric for the BM25/RRF/ANN stack).
    *
    *   DCG@k  = Σ_{i≤k} rel_i / log₂(i+1)   (linear gains)
    *   IDCG@k = DCG@k of the relevance-descending ideal ordering
    *   nDCG   = DCG/IDCG (NULL when IDCG = 0 — no relevant candidate)
    *   MRR    = 1 / rank of the first candidate with rel > 0 (NULL if none)
    *
    * Exactness: each DCG term is floored to a SCALE-8 LONG
    * (`floor((rel / log₂(i+1))·10⁸ + 0.5)`, the [[graft.llm.LanguageModel]]
    * fixed-point convention), so both DCG sums are exact integer
    * additions on any merge tree and the single nDCG division is
    * IEEE-identical cross-engine. `log₂` carries the q71 ±1-ulp libm
    * caveat (a term flips only if it sits within an ulp of a 0.5·10⁻⁸
    * boundary; exact at ranks 2ᵏ−1 where log₂ is integral). The ideal
    * ordering's tie assignment does not affect IDCG (equal gains at
    * whichever of the tied positions), so only the SCORE ranking needs
    * the caller's deterministic tie-break.
    *
    * Scale: two rank windows over the same group partitioning (one
    * exchange, two sorts) + one hash aggregate — no global sort, no
    * collect; parallelism = queries × partitions, the q122 shape.
    *
    * @param scoreCol ranking score (higher = better); null-score or
    *                 null-relevance rows are excluded
    * @param relCol   graded relevance (≥ 0 for the standard reading)
    * @param tieCol   unique-per-(group, score) tie-break making the
    *                 ranking a total order (e.g. the document id)
    * @return one row per group: (groupCols…, n_cand, dcg8, idcg8, ndcg, mrr)
    */
  def ndcgAtK(
      df: DataFrame, groupCols: Seq[String],
      scoreCol: Column, relCol: Column, k: Int, tieCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(k >= 1, "k must be >= 1")
    val g = groupCols.map(col)
    val wScore = Window.partitionBy(g: _*).orderBy(scoreCol.desc, tieCol.asc)
    val wIdeal = Window.partitionBy(g: _*).orderBy(relCol.desc, tieCol.asc)
    val t = df.filter(scoreCol.isNotNull && relCol.isNotNull)
      .select(g ++ Seq(
        relCol.cast("double").as("__rel"),
        row_number().over(wScore).cast("long").as("__rnk"),
        row_number().over(wIdeal).cast("long").as("__irnk")): _*)
    def term8(rankCol: Column): Column =
      floor((col("__rel") / log2(rankCol + lit(1L))) * lit(1e8) + 0.5)
        .cast("long")
    t.groupBy(g: _*)
      .agg(
        count(lit(1)).as("n_cand"),
        sum(when(col("__rnk") <= k, term8(col("__rnk"))).otherwise(0L))
          .as("dcg8"),
        sum(when(col("__irnk") <= k, term8(col("__irnk"))).otherwise(0L))
          .as("idcg8"),
        min(when(col("__rel") > 0, col("__rnk"))).as("__frank"))
      .select(g ++ Seq(
        col("n_cand"), col("dcg8"), col("idcg8"),
        when(col("idcg8") > 0,
          col("dcg8").cast("double") / col("idcg8")).as("ndcg"),
        when(col("__frank").isNotNull, lit(1.0) / col("__frank")).as("mrr")): _*)
  }

  /** Cohen's kappa per group — chance-corrected agreement between two
    * categorical labelings (annotator vs annotator, model vs heuristic
    * gate): the data-labeling QA statistic.
    *
    *   κ = (p_o − p_e) / (1 − p_e)
    *     = (n·Σ_k d_k − Σ_k r_k·c_k) / (n² − Σ_k r_k·c_k)
    *
    * where d_k = diagonal (both said k), r_k/c_k = marginal counts. The
    * second form clears both divisions: numerator and denominator are
    * EXACT DECIMAL(38,0) arithmetic from confusion-cell counts (n², n·Σd
    * and Σr·c overflow LONG past ~3·10⁹ rows per group — the
    * [[welchT]]/chiSquare headroom convention), one IEEE division at the
    * end — engine-identical, the [[rocAuc]] discipline. Agreement
    * on labels is null-safe (both-NULL counts as agreement on the NULL
    * label — the `<=>` convention); rows where either label is null form
    * the NULL marginal rather than dropping.
    *
    * Scale: one (group, label, label) confusion aggregate (cells ≤
    * |labels|² per group — answer-sized) + marginal rollups derived from
    * it; nothing data-sized after the first aggregate.
    *
    * @return per group: (groupCols…, n, n_agree, kappa); kappa NULL when
    *         p_e = 1 (degenerate single-cell table)
    */
  def cohenKappa(
      df: DataFrame, groupCols: Seq[String],
      rater1: Column, rater2: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val cells = df
      .select(g ++ Seq(rater1.cast("string").as("__r1"),
        rater2.cast("string").as("__r2")): _*)
      .groupBy(g ++ Seq(col("__r1"), col("__r2")): _*)
      .agg(count(lit(1)).as("__c"))
    val rows = cells.groupBy(g :+ col("__r1"): _*)
      .agg(sum(col("__c")).as("__rs"))
    val cols = cells.groupBy(g :+ col("__r2").as("__r1"): _*)
      .agg(sum(col("__c")).as("__cs"))
    // Σ r_k·c_k: marginals joined per label, NULL-SAFE so the NULL label's
    // marginals pair up too
    val peCond = groupCols.map(c => col(c) <=> col(s"__x_$c"))
      .reduce(_ && _) && (col("__r1") <=> col("__x_r1"))
    val pe = rows.join(
        cols.select(groupCols.map(c => col(c).as(s"__x_$c")) ++
          Seq(col("__r1").as("__x_r1"), col("__cs")): _*),
        peCond, "inner")
      .groupBy(g: _*)
      .agg(sum(dec38(col("__rs")) * dec38(col("__cs"))).as("__rc"))
    val agg = cells.groupBy(g: _*)
      .agg(sum(col("__c")).as("n"),
        sum(when(col("__r1") <=> col("__r2"), col("__c")).otherwise(0L))
          .as("n_agree"))
    val aCond = groupCols.map(c => col(c) <=> col(s"__p_$c")).reduce(_ && _)
    agg.join(
        broadcast(pe.select(groupCols.map(c => col(c).as(s"__p_$c")) :+
          col("__rc"): _*)),
        aCond)
      .drop(groupCols.map(c => s"__p_$c"): _*)
      .select(g ++ Seq(
        col("n"), col("n_agree"),
        when(dec38(col("n")) * dec38(col("n")) =!= col("__rc"),
          (dec38(col("n")) * dec38(col("n_agree")) - col("__rc")).cast("double") /
            (dec38(col("n")) * dec38(col("n")) - col("__rc")).cast("double"))
          .as("kappa")): _*)
  }

  /** LONG → DECIMAL(38,0): the overflow-headroom cast for count products
    * (n², marginal products) that exceed 2⁶³ past ~3·10⁹-row groups.
    */
  private def dec38(c: Column): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(38, 0))

  /** Brier score + reliability (calibration) bins per group — "are the
    * model's probabilities honest?": the probability-quality check run
    * before a classifier's scores are trusted as sampling weights or
    * quality gates.
    *
    * Probabilities fix-point at scale 4 (`p4 = ⌊p·10⁴ + 0.5⌋`, the
    * catalog convention), so the squared error sum `Σ (p4 − y·10⁴)²` is
    * EXACT LONG arithmetic and the Brier mean one IEEE division.
    * Reliability bins are exact integer deciles of p4 (`min(bins−1,
    * ⌊p4·bins/10⁴⌋)` — integer ops only); per bin the mean prediction
    * and empirical positive rate are exact-count divisions.
    *
    * Scale: one (group, bin) hash aggregate — answer-sized output, the
    * [[rocAuc]] shape without even a window.
    *
    * @param probCol predicted probability in [0, 1] (validated: out-of-
    *                range p4 fails the run loudly rather than skewing)
    * @param labelCol boolean outcome
    * @return per (group, bin): (groupCols…, bin, n, n_pos, mean_p,
    *         frac_pos, sse8, brier) — `sse8`/`brier` are the GROUP
    *         totals repeated on each of the group's bins (≤ bins rows
    *         per group; slice one bin row to read the group scalar)
    */
  def brierCalibration(
      df: DataFrame, groupCols: Seq[String],
      probCol: Column, labelCol: Column, bins: Int = 10): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(bins >= 2, "bins must be >= 2")
    val g = groupCols.map(col)
    val p4 = floor(probCol.cast("double") * 10000 + 0.5).cast("long")
    val t = df
      .filter(probCol.isNotNull && labelCol.isNotNull)
      .select(g ++ Seq(p4.as("__p4"),
        labelCol.cast("boolean").as("__y")): _*)
      .withColumn("__p4", when(col("__p4") >= 0 && col("__p4") <= 10000,
        col("__p4")).otherwise(raise_error(concat(
          lit("brierCalibration: probability out of [0,1]: p4="),
          col("__p4").cast("string")))))
      .withColumn("__bin",
        least(lit(bins - 1L), (col("__p4") * bins - pmod(col("__p4") * bins,
          lit(10000L))) / 10000L).cast("long"))
      .withColumn("__e", col("__p4") -
        when(col("__y"), lit(10000L)).otherwise(lit(0L)))
    val byBin = t.groupBy(g :+ col("__bin").as("bin"): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("__p4")).as("__sp4"),
        sum(col("__e") * col("__e")).as("__sse8"))
    import org.apache.spark.sql.expressions.Window
    val wG = Window.partitionBy(g: _*) // over the ≤ bins-rows bin frame
    byBin
      .withColumn("__gn", sum(col("n")).over(wG))
      .withColumn("sse8", sum(col("__sse8")).over(wG))
      .select(g ++ Seq(
        col("bin"), col("n"), col("n_pos"),
        (col("__sp4").cast("double") / (col("n") * 10000)).as("mean_p"),
        (col("n_pos").cast("double") / col("n")).as("frac_pos"),
        col("sse8"),
        (col("sse8").cast("double") / (col("__gn") * 100000000L))
          .as("brier")): _*)
  }

  /** Welch's two-sample t statistic per group — "did the metric's MEAN
    * shift between slice A and slice B?": the mean-shift complement of
    * [[graft.llm.Drift.ksStatistic]] (which detects any distributional
    * change) used to grade A/B splits, before/after windows, and
    * control/treatment cohorts without assuming equal variances.
    *
    * Exactness: values fix-point at scale 4 (`v4 = ⌊v·10⁴ + 0.5⌋`, the
    * catalog convention) and both sides' first/second moments accumulate
    * as DECIMAL sums (`Σv4` at (29,0), `Σv4²` at (38,0)) — exact on any
    * merge tree, no FP-associativity drift between engines. The variance
    * numerator `n·Σv4² − (Σv4)²` stays exact DECIMAL; only the final
    * t/df arithmetic is double, in one fixed left-to-right expression
    * mirrored verbatim by the SQL twin. Headroom: v4 ≤ 10⁷ and n ≤ 10¹²
    * keeps `n·Σv4²` ≤ 10³⁸ — past that, pre-aggregate per shard.
    *
    *   t  = (m̄_A − m̄_B) / √(s²_A/n_A + s²_B/n_B)
    *   df = (s²_A/n_A + s²_B/n_B)² /
    *        ((s²_A/n_A)²/(n_A−1) + (s²_B/n_B)²/(n_B−1))   (Welch–Satterthwaite)
    *
    * Scale: ONE hash aggregate over (group) with conditional sums — no
    * window, no join; answer-sized output. Null values / null side flags
    * are excluded (they belong to neither sample).
    *
    * @param inSampleA boolean Column: true → sample A, false → sample B
    * @return per group: (groupCols…, n_a, n_b, mean_a, mean_b, t, df) —
    *         means in original units; t/df NULL unless both n > 1 and the
    *         pooled standard error is positive
    */
  def welchT(
      df: DataFrame, groupCols: Seq[String],
      valueCol: Column, inSampleA: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val zero19 = lit(0).cast(DecimalType(19, 0))
    val base = df.filter(valueCol.isNotNull && inSampleA.isNotNull)
      .select(g ++ Seq(
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long")
          .cast(DecimalType(19, 0)).as("__v4"),
        inSampleA.cast("boolean").as("__a")): _*)
    val m = base.groupBy(g: _*).agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("__a"), col("__v4")).otherwise(zero19)).as("__s1a"),
      sum(when(!col("__a"), col("__v4")).otherwise(zero19)).as("__s1b"),
      sum(when(col("__a"), col("__v4") * col("__v4")).otherwise(zero19))
        .as("__s2a"),
      sum(when(!col("__a"), col("__v4") * col("__v4")).otherwise(zero19))
        .as("__s2b"))
    // exact DECIMAL variance numerators, then one fixed double expression;
    // n ≤ 1 yields NULL (never divides) so ANSI mode can't trip
    def varD(n: Column, s1: Column, s2: Column): Column =
      when(n > 1,
        (n.cast(DecimalType(38, 0)) * s2 - s1 * s1).cast("double") /
          (n.cast("double") * (n.cast("double") - 1.0)))
    m.select(g ++ Seq(col("n_a"), col("n_b"),
        when(col("n_a") > 0,
          col("__s1a").cast("double") / col("n_a").cast("double") / 10000.0)
          .as("mean_a"),
        when(col("n_b") > 0,
          col("__s1b").cast("double") / col("n_b").cast("double") / 10000.0)
          .as("mean_b"),
        (varD(col("n_a"), col("__s1a"), col("__s2a")) /
          col("n_a").cast("double")).as("__va_n"),
        (varD(col("n_b"), col("__s1b"), col("__s2b")) /
          col("n_b").cast("double")).as("__vb_n"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("__s1a").cast("double") / col("n_a").cast("double") -
            col("__s1b").cast("double") / col("n_b").cast("double"))
          .as("__d4")): _*)
      .select(g ++ Seq(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        when(col("n_a") > 1 && col("n_b") > 1 &&
            col("__va_n") + col("__vb_n") > 0,
          col("__d4") / sqrt(col("__va_n") + col("__vb_n"))).as("t"),
        when(col("n_a") > 1 && col("n_b") > 1 &&
            col("__va_n") + col("__vb_n") > 0,
          ((col("__va_n") + col("__vb_n")) * (col("__va_n") + col("__vb_n"))) /
            (col("__va_n") * col("__va_n") / (col("n_a").cast("double") - 1.0) +
              col("__vb_n") * col("__vb_n") / (col("n_b").cast("double") - 1.0)))
          .as("df")): _*)
  }

  /** Shared contingency scaffold for [[chiSquare]] and [[mutualInfo]]:
    * one (group, r, c) cells aggregate with the group/row/column
    * marginals attached as windows over that answer-sized frame —
    * (groupCols…, __r, __c, __o, __n, __rm, __cm). NULL categories group
    * as first-class cells.
    */
  private def contingencyCells(
      df: DataFrame, groupCols: Seq[String],
      rowCat: Column, colCat: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    df.select(g ++ Seq(rowCat.cast("string").as("__r"),
        colCat.cast("string").as("__c")): _*)
      .groupBy(g ++ Seq(col("__r"), col("__c")): _*)
      .agg(count(lit(1)).as("__o"))
      .withColumn("__n", sum(col("__o")).over(Window.partitionBy(g: _*)))
      .withColumn("__rm",
        sum(col("__o")).over(Window.partitionBy(g :+ col("__r"): _*)))
      .withColumn("__cm",
        sum(col("__o")).over(Window.partitionBy(g :+ col("__c"): _*)))
  }

  /** Distinct-category counts over the cells frame, counting NULL as a
    * category: `(n_rows, n_cols)` aggregate expressions. Counted as the size
    * of a `collect_set`, not with `countDistinct`: two distinct aggregates
    * in one `agg` plan as an `Expand` whose group order follows expression
    * ids, so each new build of the query generated new source.
    */
  private def categoryCountAggs = Seq(
    (size(collect_set(col("__r"))).cast("long") +
      max(when(col("__r").isNull, 1L).otherwise(0L))).as("n_rows"),
    (size(collect_set(col("__c"))).cast("long") +
      max(when(col("__c").isNull, 1L).otherwise(0L))).as("n_cols"))

  /** Pearson chi-square test of independence per group — "are these two
    * categoricals associated?" (label×slice leakage probes, feature
    * screening before target encoding, annotator×category bias checks).
    * Relation to [[Association.categoricalAssociation]]: that one is the
    * GLOBAL two-column scan (single row, r4-convention doubles, nulls
    * excluded); this is the GROUP-SLICED hypothesis test with exact
    * fix-point sums and NULL as a first-class level — use Association
    * for a corpus-wide leakage sweep, this for per-slice dashboards and
    * cross-engine-exact pipelines:
    *
    *   χ² = Σ_cells (o − e)²/e,   e = r·c/N,   dof = (R−1)(C−1)
    *
    * computed in the cross-multiplied form (o·N − r·c)²/(N·r·c) so the
    * deviation numerator is EXACT integer (DECIMAL(38,0) here, HUGEINT in
    * the SQL twin — headroom to N ≈ 10¹⁵ before pre-aggregating shards);
    * each cell term is then one fixed double expression floored at scale
    * 8 (the [[graft.llm.Drift.psi]] convention), so the per-group sum is
    * exact LONG addition on any merge tree.
    *
    * EMPTY cells are NOT dropped: an unobserved (r, c) combination
    * contributes (0 − e)²/e = e, and Σ over all R·C expectations is N, so
    * the empty-cell mass equals `N − Σ_observed r·c/N` — one extra
    * aggregate over the observed cells, never a dense R×C cross join
    * (structural zeros are precisely where association lives; dropping
    * them halves χ² on a perfectly associated 2×2).
    *
    * NULL categories are first-class cells (they group, margin, and count
    * toward R/C via an explicit null-marker term), matching the repo's
    * null-safe-slice convention.
    *
    * Scale: ONE hash aggregate over (group, r, c), then every marginal
    * rides a window over that answer-sized cells frame (≤ R·C rows per
    * group) — raw rows are never windowed, nothing is collected.
    *
    * @return per group: (groupCols…, n, n_rows, n_cols, dof, chi28, chi2)
    *         — chi2 NULL when dof = 0 (a degenerate single-row or
    *         single-column table has no independence to test)
    */
  def chiSquare(
      df: DataFrame, groupCols: Seq[String],
      rowCat: Column, colCat: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val withM = contingencyCells(df, groupCols, rowCat, colCat)
      .withColumn("__d",
        (dec(col("__o")) * dec(col("__n")) -
          dec(col("__rm")) * dec(col("__cm"))).cast("double"))
      .withColumn("__t8",
        floor(col("__d") * col("__d") /
          (col("__n").cast("double") * col("__rm").cast("double") *
            col("__cm").cast("double")) * lit(1e8) + 0.5).cast("long"))
    withM.groupBy(g: _*)
      .agg(
        max(col("__n")).as("n"),
        categoryCountAggs ++ Seq(
          sum(col("__t8")).as("__obs8"),
          sum(dec(col("__rm")) * dec(col("__cm"))).as("__src")): _*)
      // empty-cell mass: Σ_all e − Σ_observed e = N − Σ_obs r·c/N
      .withColumn("__miss8",
        floor((col("n").cast("double") -
          col("__src").cast("double") / col("n").cast("double")) *
          lit(1e8) + 0.5).cast("long"))
      .withColumn("chi28", col("__obs8") + col("__miss8"))
      .withColumn("dof", (col("n_rows") - 1) * (col("n_cols") - 1))
      .select(g ++ Seq(col("n"), col("n_rows"), col("n_cols"), col("dof"),
        col("chi28"),
        when(col("dof") > 0, col("chi28").cast("double") / lit(1e8))
          .as("chi2")): _*)
  }

  /** Mutual information between two categoricals per group — the
    * effect-SIZE companion to [[chiSquare]] (χ² says "is there any
    * association"; MI says "how many nats of one variable the other
    * carries" — feature-relevance ranking, redundancy pruning before
    * target encoding, leakage magnitude). Same relation to
    * [[Association.categoricalAssociation]]'s global `mi_bits` as
    * [[chiSquare]]: group-sliced, exact scale-8 long sums (nats here,
    * bits there), NULL as a level:
    *
    *   MI = Σ_cells (o/N)·ln(o·N / (r·c))
    *
    * summed over OBSERVED cells only (o = 0 terms are 0). Exactness: the
    * log argument is a ratio of two exact DECIMAL products cast once to
    * double; each cell term floors at scale 8 (ln carries the catalog's
    * ±1-ulp caveat) so the group sum is exact LONG addition. NULL
    * categories are first-class cells. Same answer-sized plan as
    * [[chiSquare]]: one cells aggregate + marginal windows over it.
    *
    * @return per group: (groupCols…, n, n_rows, n_cols, mi8, mi) — mi in
    *         nats, NULL for degenerate single-category tables
    */
  def mutualInfo(
      df: DataFrame, groupCols: Seq[String],
      rowCat: Column, colCat: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val withM = contingencyCells(df, groupCols, rowCat, colCat)
      .withColumn("__t8",
        floor((col("__o").cast("double") / col("__n").cast("double")) *
          log((dec(col("__o")) * dec(col("__n"))).cast("double") /
            (dec(col("__rm")) * dec(col("__cm"))).cast("double")) *
          lit(1e8) + 0.5).cast("long"))
    withM.groupBy(g: _*)
      .agg(
        max(col("__n")).as("n"),
        categoryCountAggs :+ sum(col("__t8")).as("mi8"): _*)
      .select(g ++ Seq(col("n"), col("n_rows"), col("n_cols"), col("mi8"),
        when(col("n_rows") > 1 && col("n_cols") > 1,
          col("mi8").cast("double") / lit(1e8)).as("mi")): _*)
  }

  /** `S[m] = Σ_{d=m..k} p^{d−1}/d` floored at scale 8, for m = 1…k — the
    * per-item suffix weights of truncated RBO, computed ONCE here and
    * interpolated as integer literals into both engines.
    */
  private[graft] def rboSuffix8(p: Double, k: Int): Seq[Long] = {
    require(p > 0 && p < 1, s"persistence p out of (0,1): $p")
    require(k >= 1, s"depth k must be >= 1: $k")
    val terms = (1 to k).map(d => math.pow(p, d - 1) / d)
    terms.scanRight(0.0)(_ + _).init
      .map(s => math.floor(s * 1e8 + 0.5).toLong)
  }

  /** SQL `VALUES` twin of [[rboSuffix8]]: rows `(m, s8)`. */
  def rboSuffixSql(p: Double, k: Int): String =
    rboSuffix8(p, k).zipWithIndex
      .map { case (s, i) => s"(${i + 1}, $s)" }.mkString("VALUES ", ", ", "")

  /** Truncated rank-biased overlap (Webber et al., TOIS 2010) between two
    * top-k rankings — "how much did the ranking CHANGE?", the list-drift
    * companion to the value-drift family (KS/PSI grade distributions;
    * RBO grades leaderboards, retrieval runs, feature importances):
    *
    *   RBO@k = (1−p) Σ_{d≤k} p^{d−1}·|A_d ∩ B_d|/d
    *
    * rewritten per ITEM: an item first enters the intersection at depth
    * m = max(rank_A, rank_B), so it contributes the suffix weight
    * S[m] = Σ_{d=m..k} p^{d−1}/d — one join on item, one literal lookup,
    * one sum. No extrapolation tail (the truncated form; weights beyond
    * k are simply not awarded).
    *
    * Exactness: S comes from [[rboSuffix8]] as scale-8 integer literals,
    * so the sum is exact LONG addition; the final (1−p)·Σ/10⁸ is one
    * fixed double expression with the (1−p) literal computed once in
    * Scala and shared with the twin.
    *
    * Scale: both inputs are top-k frames (answer-sized by construction);
    * everything here is k-row work. The ranking windows that PRODUCE the
    * inputs run over aggregated frames upstream.
    *
    * @param a,b frames with (itemCol, rankCol), rank 1-based; rows with
    *            rank > k are ignored
    * @return one row: (n_common, rbo8, rbo) — rbo NULL when the
    *         intersection is empty
    */
  def rankBiasedOverlap(
      a: DataFrame, b: DataFrame, itemCol: String, rankCol: String,
      p: Double = 0.9, k: Int = 50): DataFrame = {
    val s8 = rboSuffix8(p, k)
    val sLit = array(s8.map(lit): _*)
    val aa = a.select(col(itemCol).as("__i"), col(rankCol).cast("long").as("__ra"))
      .filter(col("__ra") >= 1 && col("__ra") <= k)
    val bb = b.select(col(itemCol).as("__i"), col(rankCol).cast("long").as("__rb"))
      .filter(col("__rb") >= 1 && col("__rb") <= k)
    aa.join(bb, "__i")
      .select(element_at(sLit,
        greatest(col("__ra"), col("__rb")).cast("int")).as("__s8"))
      .agg(count(lit(1)).as("n_common"), sum(col("__s8")).as("rbo8"))
      .select(col("n_common"), col("rbo8"),
        (lit(1.0 - p) * (col("rbo8").cast("double") / lit(1e8))).as("rbo"))
  }

  /** Gini concentration coefficient per group, from the sorted-rank
    * identity over non-null values:
    *
    *   G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ)    (xᵢ ascending, i = 1..n)
    *
    * — the inequality / concentration profile of a distribution ("is this
    * source's token mass concentrated in a few documents?"). One
    * row_number window per group + one aggregate. The weighted sum is
    * invariant under permutations of equal values (equal xᵢ contribute
    * the same Σi·xᵢ for any tie order), so the window needs no unique
    * tie-break to be deterministic.
    *
    * Standard Gini assumes non-negative values; negative values are
    * accepted (the identity still evaluates, both engines identically)
    * but the [0,1] reading no longer applies — filter first if that
    * matters. NULL when the group sum is 0 (undefined). Double
    * accumulation ⇒ r4 convention.
    *
    * @return one row per group: (groupCols…, n, gini)
    */
  def gini(
      df: DataFrame, groupCols: Seq[String], valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(valueCol)
    df.filter(valueCol.isNotNull)
      .select(g ++ Seq(
        valueCol.cast("double").as("__v"),
        row_number().over(w).cast("long").as("__i")): _*)
      .groupBy(g: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("__v")).as("__s"),
        sum(col("__i") * col("__v")).as("__ws"))
      .select(g ++ Seq(
        col("n"),
        when(col("__s") =!= 0,
          (lit(2.0) * col("__ws") - (col("n") + 1) * col("__s")) /
            (col("n") * col("__s")))
          .as("gini")): _*)
  }

  /** Mann–Whitney U rank-sum test per group — the NONPARAMETRIC A/B
    * location test ([[welchT]]'s rank sibling): does sample A tend to
    * produce larger values than sample B, with no normality assumption?
    * The metric-skeptic's gate before trusting a mean delta on
    * heavy-tailed metrics (latency, token counts, revenue).
    *
    * Exactness: values fix-point at scale 4 (ties are then ENGINE-
    * IDENTICAL — a double compare never decides a tie), mean ranks use
    * the exact ×2-integer construction of [[rocAuc]], so `u2 = 2·U_A =
    * ΣA r2 − n_a(n_a+1)` is an exact LONG; the tie-correction sum
    * Σ(t³−t) accumulates per-row as `t²−1` in DECIMAL (each tie-group of
    * size t contributes t·(t²−1)); z is one fixed double expression over
    * those exact integers — the normal approximation with tie-corrected
    * variance Var(U) = n_a·n_b/12·((n+1) − Σ(t³−t)/(n(n−1))).
    * Relation to AUC: U_A = AUC·n_a·n_b — q122 reports the effect size,
    * this reports the TEST (z), same rank machinery.
    *
    * Plan: one rank window + one tie-count window over the same ordering
    * (one exchange), one hash aggregate. NULL value/flag rows excluded.
    *
    * @return per group: (groupCols…, n_a, n_b, u2, z) — z NULL when
    *         either side is empty or the tie-corrected variance is 0
    *         (all values equal)
    */
  def mannWhitneyU(
      df: DataFrame, groupCols: Seq[String],
      valueCol: Column, inSampleA: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val scored = df
      .filter(valueCol.isNotNull && inSampleA.isNotNull)
      .select(g ++ Seq(
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long").as("__v4"),
        inSampleA.cast("boolean").as("__a")): _*)
      .select(g ++ Seq(col("__a"),
        midrank2(g, col("__v4")).as("__r2"),
        ties(g, col("__v4")).as("__t")): _*)
    val m = scored.groupBy(g: _*).agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("__a"), col("__r2")).otherwise(0L)).as("__rs2"),
      sum(dec38(col("__t")) * dec38(col("__t")) - 1).as("__tsum"))
    val nD = (col("n_a") + col("n_b")).cast("double")
    val varU = col("n_a").cast("double") * col("n_b").cast("double") / 12.0 *
      ((nD + 1.0) - col("__tsum").cast("double") / (nD * (nD - 1.0)))
    m.select(g ++ Seq(
      col("n_a"), col("n_b"),
      (col("__rs2") - col("n_a") * (col("n_a") + 1)).as("u2"),
      when(col("n_a") > 0 && col("n_b") > 0 && col("n_a") + col("n_b") > 1 &&
          varU > 0,
        (col("__rs2") - col("n_a") * (col("n_a") + 1) -
          col("n_a") * col("n_b")).cast("double") / (lit(2.0) * sqrt(varU)))
        .as("z")): _*)
  }

  /** Average precision (the area under the precision–recall curve in its
    * standard step form) per group — the ranking-quality statistic for
    * IMBALANCED labels, where [[rocAuc]] saturates: AP = Σ_{k: rel}
    * P(k) / n_pos over the score-descending ranking. The retrieval /
    * hard-negative-mining grader (q73's mined pairs, q99's fused lists
    * feed exactly this).
    *
    * Determinism: ranking order is (score DESC, tieCol ASC) — the caller
    * supplies the unique tie-break, the q07/q49 total-order convention —
    * and each positive position's precision `cum_pos/k` (an exact
    * rational of two small ints) floors at scale 8 into a LONG before the
    * order-independent sum; `ap = ap8/1e8/n_pos` is one fixed double
    * tail. No ±ulp caveat anywhere (no libm).
    *
    * Plan: one ordered window (rank + running positive count in the same
    * frame), one hash aggregate. NULL label/score rows excluded.
    *
    * @return per group: (groupCols…, n, n_pos, ap8, ap) — ap NULL when
    *         the group has no positives
    */
  def averagePrecision(
      df: DataFrame, groupCols: Seq[String],
      labelCol: Column, scoreCol: Column, tieCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col("__s").desc, col("__tb").asc)
    val run = Window.partitionBy(g: _*).orderBy(col("__s").desc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = df
      .filter(labelCol.isNotNull && scoreCol.isNotNull)
      .select(g ++ Seq(labelCol.cast("boolean").as("__pos"),
        scoreCol.as("__s"), tieCol.as("__tb")): _*)
      .select(g ++ Seq(col("__pos"),
        row_number().over(w).cast("long").as("__k"),
        sum(col("__pos").cast("long")).over(run).as("__cp")): _*)
    scored.groupBy(g: _*).agg(
        count(lit(1)).as("n"),
        sum(col("__pos").cast("long")).as("n_pos"),
        sum(when(col("__pos"),
          floor(col("__cp").cast("double") / col("__k").cast("double") *
            lit(1e8) + 0.5).cast("long")).otherwise(0L)).as("ap8"))
      .select(g ++ Seq(col("n"), col("n_pos"), col("ap8"),
        when(col("n_pos") > 0,
          col("ap8").cast("double") / lit(1e8) / col("n_pos").cast("double"))
          .as("ap")): _*)
  }

  /** One-way ANOVA F per group — does a categorical factor explain a
    * numeric metric? ([[welchT]]'s k-level generalization: between-level
    * variance over within-level variance.) The feature-screening /
    * slice-effect test run before building per-level models.
    *
    *   F = (SSB/(k−1)) / (SSW/(n−k)),
    *   SSB = Σ_l S1_l²/n_l − S1²/n,  SSW = S2 − Σ_l S1_l²/n_l
    *
    * Exactness: per-level moments (n_l, S1_l, S2_l) are exact DECIMAL
    * over scale-4 longs; each level's S1_l²/n_l rounds to a scale-8 LONG
    * through an EXACT half-up integral division in DECIMAL(38,0) —
    * floor(S1_l²/n_l + ½) = (2·S1_l² + n_l) intdiv (2·n_l), division-free
    * since r14, no 2⁵³ caveat — so the level sum Q8 is engine-identical
    * at any scale; SSB/SSW and F are fixed double tails. Headroom: the
    * 2·S1_l² intermediate must fit DECIMAL(38,0), i.e. |S1_l| = |Σv4| per
    * level ≲ 7.07·10¹⁸ (√(10³⁸/2)); past that Spark raises an ANSI
    * DECIMAL-overflow error (never a silent wrong answer) — the DuckDB
    * HUGEINT twin's cliff sits slightly higher (≈9.2·10¹⁸, √(2¹²⁶)), so
    * Spark errors first. Pre-scale wider metrics (the [[welchT]] contract
    * family). NULL factor levels are first-class (their rows form a
    * level); NULL values are excluded.
    *
    * Plan: one (group, level) aggregate, one group aggregate — two
    * map-side-combined exchanges, nothing data-sized after the first.
    *
    * @return per group: (groupCols…, n, k, ssb8, ssw8, f) — f NULL when
    *         k < 2, n ≤ k, or SSW = 0
    */
  def anovaF(
      df: DataFrame, groupCols: Seq[String],
      valueCol: Column, levelCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val lvl = df.filter(valueCol.isNotNull)
      .select(g ++ Seq(levelCol.cast("string").as("__lvl"),
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long")
          .as("__v4")): _*)
      .groupBy(g :+ col("__lvl"): _*)
      .agg(count(lit(1)).as("__nl"),
        sum(dec(col("__v4"))).as("__s1"),
        sum(dec(col("__v4")) * dec(col("__v4"))).as("__s2"))
      // EXACT half-up division, no doubles: floor(s1²/nl + ½) =
      // (2·s1² + nl) intdiv (2·nl) — s1² ≥ 0 so truncation ≡ floor. The
      // former double path diverged cross-engine once s1² passed 2^53:
      // DuckDB's HUGEINT→DOUBLE converts in two steps (upper·2⁶⁴ + lower,
      // two roundings) while Spark's BigDecimal→double is correctly
      // rounded — caught by the generated sf0.1 oracle gate (r14), the
      // same class the weightedQuantile DECIMAL cross-multiply closed.
      .withColumn("__q8",
        expr("CAST((2 * __s1 * __s1 + CAST(__nl AS DECIMAL(38,0))) div " +
          "(2 * CAST(__nl AS DECIMAL(38,0))) AS BIGINT)"))
    val m = lvl.groupBy(g: _*).agg(
      count(lit(1)).as("k"),
      sum(col("__nl")).as("n"),
      sum(col("__s1")).as("__S1"),
      sum(col("__s2")).as("__S2"),
      sum(col("__q8")).as("__Q8"))
    val grand8 =
      expr("CAST((2 * __S1 * __S1 + CAST(n AS DECIMAL(38,0))) div " +
        "(2 * CAST(n AS DECIMAL(38,0))) AS BIGINT)")
    val ssb8 = col("__Q8") - grand8
    val ssw8 = (col("__S2") - dec(col("__Q8"))).cast("double")
    m.select(g ++ Seq(col("n"), col("k"),
      ssb8.as("ssb8"),
      floor(ssw8 + 0.5).cast("long").as("ssw8"),
      when(col("k") > 1 && col("n") > col("k") && ssw8 > 0,
        (ssb8.cast("double") / (col("k").cast("double") - 1.0)) /
          (ssw8 / (col("n").cast("double") - col("k").cast("double"))))
        .as("f")): _*)
  }

  /** Fleiss' kappa per group — chance-corrected agreement for MANY raters
    * ([[cohenKappa]]'s generalization from 2 raters to n, in the
    * variable-raters-per-item form): do the labelers of an annotation
    * batch agree beyond what their label frequencies predict? The
    * LLM-data use: grading redundant human/model labels before they
    * become training targets.
    *
    * Input is one row per RATING (item × rater); raters are anonymous
    * (Fleiss' design — only per-item category counts matter). Items with
    * fewer than 2 ratings carry no agreement signal and are EXCLUDED
    * (documented filter; n_items counts kept items only).
    *
    *   P_i = (Σ_k n_ik² − n_i) / (n_i·(n_i−1)),  P̄ = mean_i P_i,
    *   P̄e = Σ_k (c_k / N)²,  κ = (P̄ − P̄e) / (1 − P̄e)
    *
    * Exactness: per-item counts are exact longs; each P_i is ONE double
    * division of exact ints floored at scale 8 into a LONG before the
    * order-independent sum (the [[anovaF]] convention); P̄e's numerator
    * Σc_k² accumulates in DECIMAL(38,0); κ is a fixed double tail. The
    * degenerate P̄e = 1 case (single category) is decided by the EXACT
    * integer compare Σc_k² = N², never a double ≈1 — κ is NULL there.
    * NULL item/category rows are excluded (the family convention).
    *
    * Plan: one (group, item, category) count aggregate, an item-sized
    * window for n_i, then two answer-sized aggregates joined broadcast —
    * nothing data-sized after the first exchange.
    *
    * @return per group: (groupCols…, n_items, n_ratings, n_cats,
    *         sum_pi8, kappa) — kappa NULL when P̄e = 1; a group whose
    *         every item has < 2 ratings produces NO row (it has no
    *         agreement-bearing data at all)
    */
  def fleissKappa(
      df: DataFrame, groupCols: Seq[String],
      itemCol: Column, categoryCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val cells = df
      .filter(itemCol.isNotNull && categoryCol.isNotNull)
      .select(g ++ Seq(itemCol.cast("string").as("__it"),
        categoryCol.cast("string").as("__cat")): _*)
      .groupBy(g ++ Seq(col("__it"), col("__cat")): _*)
      .agg(count(lit(1)).as("__c"))
    val wItem = Window.partitionBy(g :+ col("__it"): _*)
    val kept = cells
      .withColumn("__ni", sum(col("__c")).over(wItem))
      .filter(col("__ni") >= 2)
    val items = kept.groupBy(g :+ col("__it"): _*)
      .agg(max(col("__ni")).as("__ni"),
        sum(dec38(col("__c")) * dec38(col("__c"))).as("__si"))
      .withColumn("__pi8",
        floor((col("__si") - col("__ni")).cast("double") /
          (dec38(col("__ni")) * (dec38(col("__ni")) - 1)).cast("double") *
          lit(1e8) + 0.5).cast("long"))
    val byGroup = items.groupBy(g: _*).agg(
      count(lit(1)).as("n_items"),
      sum(col("__ni")).as("n_ratings"),
      sum(col("__pi8")).as("sum_pi8"))
    val cats = kept.groupBy(g :+ col("__cat"): _*)
      .agg(sum(col("__c")).as("__ck"))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_cats"),
        sum(dec38(col("__ck")) * dec38(col("__ck"))).as("__q"))
    val jCond = groupCols.map(c => col(c) <=> col(s"__x_$c")).reduce(_ && _)
    val pbar = col("sum_pi8").cast("double") / lit(1e8) /
      col("n_items").cast("double")
    val pe = col("__q").cast("double") /
      (dec38(col("n_ratings")) * dec38(col("n_ratings"))).cast("double")
    byGroup.join(
        broadcast(cats.select(groupCols.map(c => col(c).as(s"__x_$c")) ++
          Seq(col("n_cats"), col("__q")): _*)),
        jCond)
      .drop(groupCols.map(c => s"__x_$c"): _*)
      .select(g ++ Seq(
        col("n_items"), col("n_ratings"), col("n_cats"), col("sum_pi8"),
        when(col("n_items") > 0 &&
            col("__q") =!= dec38(col("n_ratings")) * dec38(col("n_ratings")),
          (pbar - pe) / (lit(1.0) - pe)).as("kappa")): _*)
  }

  /** Expected / maximum calibration error per group — the ONE-NUMBER
    * summaries of [[brierCalibration]]'s reliability diagram: ECE is the
    * rating-weighted mean |empirical positive rate − mean predicted p|
    * over probability bins, MCE the worst bin's gap. The go/no-go scalar
    * for "can this classifier's probabilities be used as sampling
    * weights?".
    *
    * Exactness: with p4 fix-point probabilities (the [[brierCalibration]]
    * convention, same loud out-of-range guard) each bin's absolute gap
    * numerator |n_pos_b·10⁴ − Σp4_b| is an EXACT LONG, so the ECE
    * numerator `ece_num = Σ_b |…|` is an exact integer under the hash
    * and `ece = ece_num / (N·10⁴)` is one IEEE division. MCE takes a
    * double max over per-bin one-division gaps (exact inputs → identical
    * doubles → identical max, no tie hazard).
    *
    * Plan: one (group, bin) hash aggregate + one group aggregate —
    * answer-sized after the first exchange, no window at all.
    *
    * @return per group: (groupCols…, n, bins_used, ece_num, ece, mce)
    */
  def calibrationError(
      df: DataFrame, groupCols: Seq[String],
      probCol: Column, labelCol: Column, bins: Int = 10): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(bins >= 2, "bins must be >= 2")
    val g = groupCols.map(col)
    val p4 = floor(probCol.cast("double") * 10000 + 0.5).cast("long")
    val t = df
      .filter(probCol.isNotNull && labelCol.isNotNull)
      .select(g ++ Seq(p4.as("__p4"),
        labelCol.cast("boolean").as("__y")): _*)
      .withColumn("__p4", when(col("__p4") >= 0 && col("__p4") <= 10000,
        col("__p4")).otherwise(raise_error(concat(
          lit("calibrationError: probability out of [0,1]: p4="),
          col("__p4").cast("string")))))
      .withColumn("__bin",
        least(lit(bins - 1L), (col("__p4") * bins - pmod(col("__p4") * bins,
          lit(10000L))) / 10000L).cast("long"))
    val byBin = t.groupBy(g :+ col("__bin"): _*)
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 10000L).otherwise(0L)).as("__np4"),
        sum(col("__p4")).as("__sp4"))
      .withColumn("__gap", abs(col("__np4") - col("__sp4")))
    byBin.groupBy(g: _*).agg(
        sum(col("__n")).as("n"),
        count(lit(1)).as("bins_used"),
        sum(col("__gap")).as("ece_num"),
        max(col("__gap").cast("double") /
          (col("__n") * 10000L).cast("double")).as("mce"))
      .select(g ++ Seq(col("n"), col("bins_used"), col("ece_num"),
        (col("ece_num").cast("double") / (col("n") * 10000L).cast("double"))
          .as("ece"),
        col("mce")): _*)
  }

  /** Kruskal–Wallis H per group — the k-level RANK analogue of [[anovaF]]
    * (as [[mannWhitneyU]] is [[welchT]]'s two-sample rank analogue): does a
    * categorical factor shift a metric's LOCATION, judged on ranks so heavy
    * tails and outliers can't dominate? The slice-screening test run when
    * the metric is known non-normal (latencies, token counts).
    *
    * Over pooled midranks R (ties take the block mean rank):
    *
    *   H = 12/(n(n+1)) · Σ_l R_l²/n_l − 3(n+1),
    *   H_c = H / C,  C = 1 − Σ_t (t³−t) / (n³−n)
    *
    * Exactness: midranks are exact ×2 longs (`__r2 = 2·rank + tc − 1`, the
    * [[rocAuc]]/[[mannWhitneyU]] machinery); per-level rank sums and the
    * tie sum Σ(t³−t) (accumulated per ROW as Σ(t²−1), which telescopes to
    * the per-value t³−t) ride DECIMAL(38,0); each level's R_l²/n_l =
    * rs2²/(4n_l) is an EXACT half-up integral division in DECIMAL(38,0)
    * (the [[anovaF]] q8 convention, division-free since r14 — the former
    * double path had a 2⁵³ caveat AND a real cross-engine hazard:
    * DuckDB's HUGEINT→DOUBLE two-step conversion is not correctly
    * rounded), so `rq` is engine-identical at any scale; H and C are
    * fixed double tails. Headroom: the 2·rs2² intermediate must fit
    * DECIMAL(38,0) — |rs2| ≤ 2n per level, so n ≲ 3.5·10¹⁸ rows per
    * group before Spark raises an ANSI DECIMAL-overflow error (never a
    * silent wrong answer; the DuckDB HUGEINT cliff is slightly higher,
    * so Spark errors first).
    * The all-tied degenerate (C = 0) is decided by the EXACT integer
    * compare Σ(t³−t) = n³−n, never a double ≈0. NULL values are excluded;
    * NULL factor levels are first-class (the [[anovaF]] convention).
    *
    * Plan: one pooled rank window per group, one (group, level) aggregate,
    * one group aggregate — everything after the window is answer-sized.
    *
    * @return per group: (groupCols…, n, k, rq, h) — h NULL when k < 2,
    *         n < 2, or every value is tied (C = 0)
    */
  def kruskalWallis(
      df: DataFrame, groupCols: Seq[String],
      valueCol: Column, levelCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val scored = df
      .filter(valueCol.isNotNull)
      .select(g ++ Seq(levelCol.cast("string").as("__lvl"),
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long")
          .as("__v4")): _*)
      .select(g ++ Seq(col("__lvl"),
        midrank2(g, col("__v4")).as("__r2"),
        ties(g, col("__v4")).as("__t")): _*)
    val lvl = scored.groupBy(g :+ col("__lvl"): _*)
      .agg(count(lit(1)).as("__nl"),
        sum(dec38(col("__r2"))).as("__rs2"),
        sum(dec38(col("__t")) * dec38(col("__t")) - 1).as("__ts"))
      // EXACT half-up division (the r14 anovaF fix, same rationale):
      // floor(rs2²/(4·nl) + ½) = (2·rs2² + 4·nl) intdiv (8·nl), rs2² ≥ 0
      .withColumn("__rq",
        expr("CAST((2 * __rs2 * __rs2 + 4 * CAST(__nl AS DECIMAL(38,0))) " +
          "div (8 * CAST(__nl AS DECIMAL(38,0))) AS BIGINT)"))
    val m = lvl.groupBy(g: _*).agg(
      count(lit(1)).as("k"),
      sum(col("__nl")).as("n"),
      sum(col("__rq")).as("rq"),
      sum(col("__ts")).as("__tsum"))
    val nD = col("n").cast("double")
    val n3n = dec38(col("n")) * dec38(col("n")) * dec38(col("n")) -
      dec38(col("n"))
    val h = lit(12.0) / (nD * (nD + 1.0)) * col("rq").cast("double") -
      lit(3.0) * (nD + 1.0)
    val c = lit(1.0) - col("__tsum").cast("double") / n3n.cast("double")
    m.select(g ++ Seq(col("n"), col("k"), col("rq"),
      when(col("k") > 1 && col("n") > 1 && col("__tsum") =!= n3n, h / c)
        .as("h")): _*)
  }

  /** Wilcoxon signed-rank test per group — the PAIRED location test on
    * ranks ([[mannWhitneyU]]'s dependent-samples sibling): did a metric
    * shift within matched pairs (before/after, this-event vs the same
    * user's previous event), judged robustly? The A/B companion when each
    * unit is its own control.
    *
    * Pairs with either side NULL and zero differences are EXCLUDED (the
    * standard Wilcoxon convention; n counts kept pairs). Over ranks of
    * |d| with midranks for tied magnitudes:
    *
    *   W⁺ = Σ_{d>0} R_i,   z = (W⁺ − n(n+1)/4) / √Var,
    *   Var = n(n+1)(2n+1)/24 − Σ_t (t³−t)/48
    *
    * Exactness: differences are exact scale-4 longs; ranks ride the ×2
    * LONG midrank machinery so `w2p = 2·W⁺` is an exact BIGINT under the
    * hash (headroom: 2n² per group, the [[mannWhitneyU]] u2 contract);
    * the tie sum accumulates in DECIMAL(38,0); z is one mirrored double
    * tail. Sign ties (d = 0) are dropped BEFORE ranking (Wilcoxon's
    * exclusion), magnitude ties are midranked.
    *
    * Plan: one |d|-ordered rank window per group + one hash aggregate —
    * answer-sized after the window.
    *
    * @return per group: (groupCols…, n, w2p, z) — z NULL when n = 0 or
    *         Var ≤ 0 (all magnitudes tied in one block)
    */
  def wilcoxonSignedRank(
      df: DataFrame, groupCols: Seq[String],
      aCol: Column, bCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val d4 = floor(aCol.cast("double") * 10000 + 0.5).cast("long") -
      floor(bCol.cast("double") * 10000 + 0.5).cast("long")
    val scored = df
      .filter(aCol.isNotNull && bCol.isNotNull)
      .select(g :+ d4.as("__d4"): _*)
      .filter(col("__d4") =!= 0L)
      .withColumn("__ad", abs(col("__d4")))
      .select(g ++ Seq(col("__d4"),
        midrank2(g, col("__ad")).as("__r2"),
        ties(g, col("__ad")).as("__t")): _*)
    val m = scored.groupBy(g: _*).agg(
      count(lit(1)).as("n"),
      sum(when(col("__d4") > 0, col("__r2")).otherwise(0L)).as("w2p"),
      sum(dec38(col("__t")) * dec38(col("__t")) - 1).as("__tsum"))
    val nD = col("n").cast("double")
    val varW = nD * (nD + 1.0) * (lit(2.0) * nD + 1.0) / 24.0 -
      col("__tsum").cast("double") / 48.0
    m.select(g ++ Seq(col("n"), col("w2p"),
      when(col("n") > 0 && varW > 0,
        (col("w2p").cast("double") - nD * (nD + 1.0) / 2.0) /
          (lit(2.0) * sqrt(varW))).as("z")): _*)
  }

  /** Cliff's delta per group — the ordinal EFFECT SIZE companion to
    * [[mannWhitneyU]]'s significance z (q182 tells you the shift is real;
    * this tells you how BIG it is, on the [−1, 1] dominance scale):
    *
    *   δ = (#(a&gt;b) − #(a&lt;b)) / (n_a·n_b)
    *
    * Computed WITHOUT pair enumeration via the exact U identity
    * δ = (2·U_A − n_a·n_b) / (n_a·n_b) = (u2 − n_a·n_b) / (n_a·n_b)
    * — with ties, U_A = #(a&gt;b) + ½·#(a=b) and #(a&gt;b) − #(a&lt;b) =
    * 2·U_A − n_a·n_b, so the all-pairs dominance count collapses into the
    * rank machinery's one window + one aggregate. Same exactness contract
    * as [[mannWhitneyU]] (u2 an exact BIGINT, headroom 2n² per group); δ
    * is one double division of exact integers.
    *
    * @return per group: (groupCols…, n_a, n_b, u2, delta) — delta NULL
    *         when either sample is empty
    */
  def cliffsDelta(
      df: DataFrame, groupCols: Seq[String],
      valueCol: Column, inSampleA: Column): DataFrame = {
    val g = groupCols.map(col)
    mannWhitneyU(df, groupCols, valueCol, inSampleA)
      .select(g ++ Seq(col("n_a"), col("n_b"), col("u2"),
        when(col("n_a") > 0 && col("n_b") > 0,
          (col("u2").cast("double") -
            col("n_a").cast("double") * col("n_b").cast("double")) /
            (col("n_a").cast("double") * col("n_b").cast("double")))
          .as("delta")): _*)
  }

  /** Brown–Forsythe test per group — are the factor levels' VARIANCES
    * equal? (the robust Levene form: one-way ANOVA on absolute deviations
    * from each level's MEDIAN, so heavy tails don't masquerade as
    * heteroscedasticity). Run before trusting [[anovaF]]'s equal-variance
    * assumption, and as a drift check in its own right (a slice whose
    * spread doubled is broken even if its mean held).
    *
    * Exactness: the per-level median is the exact ×2 order statistic
    * `med2 = v4_(⌈n/2⌉) + v4_(⌊n/2⌋+1)` (two row_number probes — never a
    * float percentile), so the deviation `|2·v4 − med2|` is an exact LONG;
    * deviations then flow through [[anovaF]]'s DECIMAL moment machinery
    * (passed at scale 4, so anovaF's internal ×10⁴ round-trip reproduces
    * the integer exactly; F is scale-invariant so the residual ×2 factor
    * cancels). Output columns are anovaF's over the deviation variable.
    *
    * Plan: one per-level sort window (rank + the two median probes as
    * conditional window sums), then anovaF's two answer-sized aggregates.
    *
    * @return per group: (groupCols…, n, k, ssb8, ssw8, f) over the
    *         |deviation| variable — f NULL when k < 2, n ≤ k, or SSW = 0
    */
  def brownForsythe(
      df: DataFrame, groupCols: Seq[String],
      valueCol: Column, levelCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val wOrd = Window.partitionBy(g :+ col("__lvl"): _*).orderBy(col("__v4"))
    val wAll = Window.partitionBy(g :+ col("__lvl"): _*)
    val scored = df
      .filter(valueCol.isNotNull)
      .select(g ++ Seq(levelCol.cast("string").as("__lvl"),
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long")
          .as("__v4")): _*)
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("__nl", count(lit(1)).over(wAll))
    val lowR = floor((col("__nl").cast("double") + 1.0) / 2.0).cast("long")
    val upR = floor(col("__nl").cast("double") / 2.0).cast("long") + 1L
    val withMed = scored
      .withColumn("__med2",
        sum(when(col("__rn") === lowR, col("__v4")).otherwise(0L))
          .over(wAll) +
        sum(when(col("__rn") === upR, col("__v4")).otherwise(0L))
          .over(wAll))
      .withColumn("__z",
        abs(lit(2L) * col("__v4") - col("__med2")).cast("double") / 10000.0)
    anovaF(withMed, groupCols, valueCol = col("__z"),
      levelCol = col("__lvl"))
  }

  /** Theil's uncertainty coefficient U(Y|X) per group — [[mutualInfo]]
    * NORMALIZED into "what fraction of Y's entropy does knowing X
    * remove?" ∈ [0, 1] (the asymmetric, scale-free association measure —
    * unlike [[chiSquare]]'s V it reads directly as predictive power, the
    * feature-vs-target screen before a categorical feature earns a slot):
    *
    *   U(Y|X) = (H(Y) − H(Y|X)) / H(Y) = I(X;Y) / H(Y)
    *
    * over the same contingency cells as [[mutualInfo]]/[[chiSquare]]:
    * H(Y) = −Σ_cells (o/n)·ln(cm/n) and H(Y|X) = −Σ_cells (o/n)·ln(o/rm)
    * (summing the marginal entropy per CELL weights each column by its
    * own mass — algebraically identical to the per-column form).
    *
    * Exactness: both entropies accumulate as per-cell terms floored at
    * scale 8 into LONGs (the [[mutualInfo]] convention — cells are
    * category-pair-sized, so the ±1-ulp `ln` caveat touches answer-sized
    * sums only); U is one double division, NULL when H(Y) = 0 (Y is a
    * single category). NULL categories are first-class cells.
    *
    * Plan: one cell aggregate + marginal windows over the cell frame
    * (the shared contingency scaffold), one group aggregate.
    *
    * @return per group: (groupCols…, n, n_rows, n_cols, hy8, hyx8, u)
    */
  def uncertaintyCoeff(
      df: DataFrame, groupCols: Seq[String],
      rowCat: Column, colCat: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val withM = contingencyCells(df, groupCols, rowCat, colCat)
      .withColumn("__hy8",
        floor(-(col("__o").cast("double") / col("__n").cast("double")) *
          log(col("__cm").cast("double") / col("__n").cast("double")) *
          lit(1e8) + 0.5).cast("long"))
      .withColumn("__hyx8",
        floor(-(col("__o").cast("double") / col("__n").cast("double")) *
          log(col("__o").cast("double") / col("__rm").cast("double")) *
          lit(1e8) + 0.5).cast("long"))
    withM.groupBy(g: _*)
      .agg(
        max(col("__n")).as("n"),
        categoryCountAggs ++ Seq(sum(col("__hy8")).as("hy8"),
          sum(col("__hyx8")).as("hyx8")): _*)
      .select(g ++ Seq(col("n"), col("n_rows"), col("n_cols"),
        col("hy8"), col("hyx8"),
        when(col("hy8") > 0,
          (col("hy8") - col("hyx8")).cast("double") /
            col("hy8").cast("double")).as("u")): _*)
  }

  /** Hosmer–Lemeshow goodness-of-fit per group — [[calibrationError]]'s
    * hypothesis-test sibling on EQUAL-FREQUENCY bins (ECE's fixed-width
    * bins starve where scores cluster; HL deciles by rank so every bin
    * carries the same evidence):
    *
    *   HL = Σ_b (O_b − E_b)² / ( E_b·(1 − E_b/n_b) )   ~ χ²(buckets−2)
    *
    * with O_b observed positives and E_b = Σp̂ the expected count in
    * decile b of the (p̂ ASC, tieCol) ranking.
    *
    * Determinism: deciles are ntile over the caller-tie-broken total
    * order (the [[liftGains]] convention); O and E accumulate as exact
    * longs (p̂ at scale 4); each bucket's term is ONE double expression
    * of exact ints floored at scale 8 into the order-independent hl8.
    * Degenerate buckets (E = 0 or E = n_b — the term is undefined) are
    * EXCLUDED and counted in `n_degen`; judge the statistic only when
    * n_degen = 0. NULL prob/label rows are excluded.
    *
    * Plan: one rank window per group + two answer-sized aggregates.
    *
    * @return per group: (groupCols…, n, buckets_used, n_degen, hl8, hl)
    */
  def hosmerLemeshow(
      df: DataFrame, groupCols: Seq[String],
      probCol: Column, labelCol: Column, tieCol: Column,
      buckets: Int = 10): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col("__p4").asc, col("__tb").asc)
    val byBucket = df
      .filter(probCol.isNotNull && labelCol.isNotNull)
      .select(g ++ Seq(
        floor(probCol.cast("double") * 10000 + 0.5).cast("long").as("__p4"),
        labelCol.cast("boolean").as("__y"), tieCol.as("__tb")): _*)
      .withColumn("__bkt", ntile(buckets).over(w).cast("long"))
      .groupBy(g :+ col("__bkt"): _*)
      .agg(count(lit(1)).as("__nb"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__o"),
        sum(col("__p4")).as("__e4"))
    val nbD = col("__nb").cast("double")
    val e = col("__e4").cast("double") / 1e4
    val term = (col("__o").cast("double") - e) *
      (col("__o").cast("double") - e) / (e * (lit(1.0) - e / nbD))
    val ok = col("__e4") > 0 && col("__e4") < col("__nb") * 10000L
    byBucket
      .withColumn("__t8",
        when(ok, floor(term * lit(1e8) + 0.5).cast("long")).otherwise(0L))
      .groupBy(g: _*)
      .agg(sum(col("__nb")).as("n"),
        count(lit(1)).as("buckets_used"),
        sum(when(!ok, 1L).otherwise(0L)).as("n_degen"),
        sum(col("__t8")).as("hl8"))
      .withColumn("hl", col("hl8").cast("double") / lit(1e8))
  }

  /** Kendall's τ-b per group over PRE-BINNED pairs — the rank-concordance
    * association for ordinal data ([[spearman]]'s pair-counting sibling;
    * τ reads as "probability a random pair agrees in direction, minus
    * disagrees"). Input columns must already be DISCRETIZED to bounded
    * integer bins (deciles, value bands — the [[chiSquare]]/
    * [[mutualInfo]] contingency contract): concordance then collapses
    * into the JOINT-CELL table, so the all-pairs count is a self-join of
    * an ANSWER-SIZED frame (≤ bins² cells → ≤ bins⁴ cell pairs), never
    * row pairs.
    *
    *   C = Σ_{c,c': x'&gt;x, y'&gt;y} o_c·o_c',  D likewise with y'&lt;y,
    *   τ_b = (C − D) / √((n₀−n₁)(n₀−n₂)),
    *   n₀ = n(n−1)/2, n₁/n₂ = Σ marginal-tie pairs
    *
    * Exactness: cell counts are exact longs; C, D, and all pair counts
    * accumulate in DECIMAL(38,0); τ_b is one double division with a √ of
    * an exact product. NULL x/y rows are excluded (ordinal comparison
    * needs a value); τ_b is NULL when either variable is constant.
    *
    * Plan: one cell aggregate, one broadcast cell self-join per group
    * (bounded by contract), two marginal rollups — nothing row-sized
    * after the first aggregate.
    *
    * @return per group: (groupCols…, n, conc, disc, tau_b)
    */
  def kendallTauB(
      df: DataFrame, groupCols: Seq[String],
      xBinCol: Column, yBinCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val cells = df
      .filter(xBinCol.isNotNull && yBinCol.isNotNull)
      .select(g ++ Seq(xBinCol.cast("long").as("__x"),
        yBinCol.cast("long").as("__y")): _*)
      .groupBy(g :+ col("__x") :+ col("__y"): _*)
      .agg(count(lit(1)).as("__o"))
    val right = cells.select(
      groupCols.map(c => col(c).as(s"__b_$c")) ++
        Seq(col("__x").as("__x2"), col("__y").as("__y2"),
          col("__o").as("__o2")): _*)
    val cond = groupCols.map(c => col(c) <=> col(s"__b_$c")).reduce(_ && _)
    val pairs = cells.join(broadcast(right),
      cond && col("__x") < col("__x2") && col("__y") =!= col("__y2"))
    val cd = pairs.groupBy(g: _*).agg(
      sum(when(col("__y") < col("__y2"),
        dec38(col("__o")) * dec38(col("__o2"))).otherwise(dec38(lit(0))))
        .as("__conc"),
      sum(when(col("__y") > col("__y2"),
        dec38(col("__o")) * dec38(col("__o2"))).otherwise(dec38(lit(0))))
        .as("__disc"))
    val xm = cells.groupBy(g :+ col("__x"): _*).agg(sum(col("__o")).as("__nx"))
      .groupBy(g: _*).agg(
        sum(col("__nx")).as("__n"),
        sum(dec38(col("__nx")) * (dec38(col("__nx")) - 1)).as("__tx2"))
    val ym = cells.groupBy(g :+ col("__y"): _*).agg(sum(col("__o")).as("__ny"))
      .groupBy(g: _*).agg(
        sum(dec38(col("__ny")) * (dec38(col("__ny")) - 1)).as("__ty2"))
      .select(groupCols.map(c => col(c).as(s"__ym_$c")) :+ col("__ty2"): _*)
    val zm = cd.select(groupCols.map(c => col(c).as(s"__cd_$c")) ++
      Seq(col("__conc"), col("__disc")): _*)
    val n02 = dec38(col("__n")) * (dec38(col("__n")) - 1)
    val denA = (n02 - col("__tx2")).cast("double")
    val denB = (n02 - col("__ty2")).cast("double")
    xm.join(ym, groupCols.map(c => col(c) <=> col(s"__ym_$c")).reduce(_ && _))
      .join(zm, groupCols.map(c => col(c) <=> col(s"__cd_$c")).reduce(_ && _),
        "left")
      .select(g ++ Seq(col("__n").as("n"),
        coalesce(col("__conc"), dec38(lit(0))).cast("long").as("conc"),
        coalesce(col("__disc"), dec38(lit(0))).cast("long").as("disc"),
        when(denA > 0 && denB > 0,
          (coalesce(col("__conc"), dec38(lit(0))) -
            coalesce(col("__disc"), dec38(lit(0)))).cast("double") /
            (sqrt(denA) * sqrt(denB)) * 2.0).as("tau_b")): _*)
  }

  /** Two-proportion z-test per group — THE conversion A/B primitive:
    * did variant A's success rate differ from B's?
    *
    *   z = (x_a/n_a − x_b/n_b) / √( p̂(1−p̂)(1/n_a + 1/n_b) ),
    *   p̂ = (x_a+x_b)/(n_a+n_b)
    *
    * Exactness: the four counts are exact longs from one hash aggregate;
    * z is one fixed double expression of them, NULL when either arm is
    * empty or the pooled rate is degenerate (p̂ ∈ {0,1}, decided by exact
    * integer compares). NULL success/arm rows are excluded.
    *
    * @return per group: (groupCols…, n_a, x_a, n_b, x_b, z)
    */
  def twoProportionZ(
      df: DataFrame, groupCols: Seq[String],
      successCol: Column, inACol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val m = df
      .filter(successCol.isNotNull && inACol.isNotNull)
      .select(g ++ Seq(successCol.cast("boolean").as("__s"),
        inACol.cast("boolean").as("__a")): _*)
      .groupBy(g: _*).agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a") && col("__s"), 1L).otherwise(0L)).as("x_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("__a") && col("__s"), 1L).otherwise(0L)).as("x_b"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val p = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val z = (col("x_a").cast("double") / naD -
      col("x_b").cast("double") / nbD) /
      sqrt(p * (lit(1.0) - p) * (lit(1.0) / naD + lit(1.0) / nbD))
    m.select(g ++ Seq(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      when(col("n_a") > 0 && col("n_b") > 0 &&
        col("x_a") + col("x_b") > 0 &&
        col("x_a") + col("x_b") < col("n_a") + col("n_b"), z).as("z")): _*)
  }

  /** Odds ratio + relative risk with Wald 95% CI per group — the 2×2
    * exposure/outcome summary ("exposed users convert at 2.1× the odds,
    * CI [1.7, 2.6]") that a z-statistic alone doesn't communicate:
    *
    *   OR = (a·d)/(b·c),  RR = (a/(a+b)) / (c/(c+d)),
    *   CI = exp( ln OR ± 1.96·√(1/a + 1/b + 1/c + 1/d) )
    *
    * with a = exposed∧outcome, b = exposed∧¬outcome, c = unexposed∧
    * outcome, d = unexposed∧¬outcome.
    *
    * Exactness: cells are exact longs; OR's numerator/denominator
    * multiply in DECIMAL(38,0) before ONE division; RR is a ratio of two
    * single divisions; the CI carries the documented ln/exp ±1-ulp caveat
    * (absorbed by the r4 reporting convention). All four statistics are
    * NULL when ANY cell is 0 (the Wald CI is undefined there — add the
    * Haldane ½ upstream if you want the corrected estimate).
    *
    * @return per group: (groupCols…, a, b, c, d, odds_ratio, rr, or_lo,
    *         or_hi)
    */
  def oddsRatio(
      df: DataFrame, groupCols: Seq[String],
      exposedCol: Column, outcomeCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val m = df
      .filter(exposedCol.isNotNull && outcomeCol.isNotNull)
      .select(g ++ Seq(exposedCol.cast("boolean").as("__e"),
        outcomeCol.cast("boolean").as("__y")): _*)
      .groupBy(g: _*).agg(
        sum(when(col("__e") && col("__y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("__e") && !col("__y"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("__e") && col("__y"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("__e") && !col("__y"), 1L).otherwise(0L)).as("d"))
    val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    val or = (dec38(col("a")) * dec38(col("d"))).cast("double") /
      (dec38(col("b")) * dec38(col("c"))).cast("double")
    val rr = (col("a").cast("double") / (col("a") + col("b")).cast("double")) /
      (col("c").cast("double") / (col("c") + col("d")).cast("double"))
    val se = sqrt(lit(1.0) / col("a").cast("double") +
      lit(1.0) / col("b").cast("double") +
      lit(1.0) / col("c").cast("double") +
      lit(1.0) / col("d").cast("double"))
    m.select(g ++ Seq(col("a"), col("b"), col("c"), col("d"),
      when(ok, or).as("odds_ratio"),
      when(ok, rr).as("rr"),
      when(ok, exp(log(or) - lit(1.96) * se)).as("or_lo"),
      when(ok, exp(log(or) + lit(1.96) * se)).as("or_hi")): _*)
  }

  /** Cohen's d and Hedges' g per group — the EFFECT SIZE companion to
    * [[welchT]]'s significance (q150 says the shift is real; this says
    * how many pooled standard deviations wide it is — the number that
    * survives sample-size changes):
    *
    *   d = (m̄_a − m̄_b) / s_p,
    *   s_p² = ((n_a−1)s_a² + (n_b−1)s_b²) / (n_a+n_b−2),
    *   g = d·(1 − 3/(4(n_a+n_b) − 9))      (small-sample correction)
    *
    * Exactness: per-arm moments are exact DECIMAL sums over scale-4
    * longs (the [[welchT]] machinery); each variance numerator
    * n·S2 − S1² is exact DECIMAL; d and g are fixed double tails. NULL
    * when either arm has &lt; 2 rows or s_p = 0 (decided on the exact
    * integer numerators).
    *
    * @return per group: (groupCols…, n_a, n_b, d, g)
    */
  def cohensD(
      df: DataFrame, groupCols: Seq[String],
      valueCol: Column, inACol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val m = df
      .filter(valueCol.isNotNull && inACol.isNotNull)
      .select(g ++ Seq(
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long").as("__v4"),
        inACol.cast("boolean").as("__a")): _*)
      .groupBy(g: _*).agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("__a"), dec38(col("__v4"))).otherwise(dec38(lit(0))))
          .as("__s1a"),
        sum(when(col("__a"), dec38(col("__v4")) * dec38(col("__v4")))
          .otherwise(dec38(lit(0)))).as("__s2a"),
        sum(when(!col("__a"), dec38(col("__v4"))).otherwise(dec38(lit(0))))
          .as("__s1b"),
        sum(when(!col("__a"), dec38(col("__v4")) * dec38(col("__v4")))
          .otherwise(dec38(lit(0)))).as("__s2b"))
    val vnumA = dec38(col("n_a")) * col("__s2a") - col("__s1a") * col("__s1a")
    val vnumB = dec38(col("n_b")) * col("__s2b") - col("__s1b") * col("__s1b")
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    // (n−1)s² = vnum/n exactly; pooled variance in v4² units
    val sp2 = (vnumA.cast("double") / naD + vnumB.cast("double") / nbD) /
      (naD + nbD - 2.0)
    val dEff = (col("__s1a").cast("double") / naD -
      col("__s1b").cast("double") / nbD) / sqrt(sp2)
    val corr = lit(1.0) - lit(3.0) / (lit(4.0) * (naD + nbD) - 9.0)
    val ok = col("n_a") > 1 && col("n_b") > 1 &&
      (vnumA > 0 || vnumB > 0)
    m.select(g ++ Seq(col("n_a"), col("n_b"),
      when(ok, dEff).as("d"),
      when(ok, dEff * corr).as("g")): _*)
  }

  /** Cochran–Armitage trend test per group — does a BINARY outcome trend
    * monotonically across ORDERED doses (spend bands, retry counts,
    * model-size tiers)? The dose-response sharpening of [[chiSquare]]:
    * a χ² sees any association, this z sees the ordered one, with k−2
    * fewer degrees of freedom wasted.
    *
    * With per-dose (n_i, x_i) at integer dose scores d_i:
    *
    *   z = (N·T − X·S₁) · √N / √( X(N−X)(N·S₂ − S₁²) ),
    *   T = Σx_i·d_i,  S₁ = Σn_i·d_i,  S₂ = Σn_i·d_i²
    *
    * (the p̄-centered form multiplied through by N — every factor is an
    * exact integer before the one double tail).
    *
    * Exactness: dose cells are exact longs; T, S₁, S₂ and the
    * numerator/variance products accumulate in DECIMAL(38,0); z is one
    * mirrored double expression, NULL when X = 0, X = N (constant
    * outcome) or N·S₂ = S₁² (single dose) — all decided by exact integer
    * compares. NULL dose/outcome rows are excluded.
    *
    * Plan: one (group, dose) aggregate, one answer-sized group aggregate.
    *
    * @param doseCol integer-valued ordered score (cast to long) — bin
    *                first for continuous exposures
    * @return per group: (groupCols…, n, x, k_doses, z)
    */
  def cochranArmitage(
      df: DataFrame, groupCols: Seq[String],
      doseCol: Column, successCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val byDose = df
      .filter(doseCol.isNotNull && successCol.isNotNull)
      .select(g ++ Seq(doseCol.cast("long").as("__d"),
        successCol.cast("boolean").as("__s")): _*)
      .groupBy(g :+ col("__d"): _*)
      .agg(count(lit(1)).as("__ni"),
        sum(when(col("__s"), 1L).otherwise(0L)).as("__xi"))
    val m = byDose.groupBy(g: _*).agg(
      sum(col("__ni")).as("n"),
      sum(col("__xi")).as("x"),
      count(lit(1)).as("k_doses"),
      sum(dec38(col("__xi")) * dec38(col("__d"))).as("__t"),
      sum(dec38(col("__ni")) * dec38(col("__d"))).as("__s1"),
      sum(dec38(col("__ni")) * dec38(col("__d")) * dec38(col("__d")))
        .as("__s2"))
    val num = dec38(col("n")) * col("__t") - dec38(col("x")) * col("__s1")
    val varq = dec38(col("x")) * (dec38(col("n")) - dec38(col("x"))) *
      (dec38(col("n")) * col("__s2") - col("__s1") * col("__s1"))
    m.select(g ++ Seq(col("n"), col("x"), col("k_doses"),
      when(col("x") > 0 && col("x") < col("n") &&
          dec38(col("n")) * col("__s2") =!= col("__s1") * col("__s1"),
        num.cast("double") * sqrt(col("n").cast("double")) /
          sqrt(varq.cast("double"))).as("z")): _*)
  }

  /** Matthews correlation coefficient per group — the single-number
    * binary-classifier grade that stays honest under class imbalance
    * (accuracy and F1 both saturate when one class dominates; MCC is the
    * full-confusion correlation):
    *
    *   MCC = (tp·tn − fp·fn) / √((tp+fp)(tp+fn)(tn+fp)(tn+fn))
    *
    * Exactness: the four cells are exact longs from ONE hash aggregate;
    * numerator and the four marginals multiply in DECIMAL(38,0) (the
    * [[cohenKappa]] headroom convention — cell products overflow LONG past
    * ~3·10⁹-row groups); MCC is one double division with a √ of an exact
    * integer product. Any zero marginal → MCC NULL (the 0/0 convention),
    * decided by exact integer compares. NULL label/pred rows excluded.
    *
    * @return per group: (groupCols…, tp, fp, tn, fn, mcc)
    */
  def matthewsCorr(
      df: DataFrame, groupCols: Seq[String],
      labelCol: Column, predCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val m = df
      .filter(labelCol.isNotNull && predCol.isNotNull)
      .select(g ++ Seq(labelCol.cast("boolean").as("__y"),
        predCol.cast("boolean").as("__p")): _*)
      .groupBy(g: _*).agg(
        sum(when(col("__y") && col("__p"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("__y") && col("__p"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("__y") && !col("__p"), 1L).otherwise(0L)).as("tn"),
        sum(when(col("__y") && !col("__p"), 1L).otherwise(0L)).as("fn"))
    val num = dec38(col("tp")) * dec38(col("tn")) -
      dec38(col("fp")) * dec38(col("fn"))
    val d1 = dec38(col("tp")) + dec38(col("fp"))
    val d2 = dec38(col("tp")) + dec38(col("fn"))
    val d3 = dec38(col("tn")) + dec38(col("fp"))
    val d4 = dec38(col("tn")) + dec38(col("fn"))
    m.select(g ++ Seq(col("tp"), col("fp"), col("tn"), col("fn"),
      when(d1 > 0 && d2 > 0 && d3 > 0 && d4 > 0,
        num.cast("double") /
          sqrt((d1 * d2).cast("double") * (d3 * d4).cast("double")))
        .as("mcc")): _*)
  }

  /** Micro and macro F1 per group over a MULTICLASS (label, pred) pair —
    * the per-class quality summary a routing/tagging model is graded on.
    * Micro F1 aggregates cells globally (for single-label multiclass it
    * equals accuracy); macro F1 averages per-class F1 so rare classes
    * count equally.
    *
    * Per class c (classes = every value observed as a label OR a pred):
    * tp_c is the diagonal cell, fp_c = pred-marginal − tp_c, fn_c =
    * label-marginal − tp_c, F1_c = 2tp/(2tp+fp+fn) (denominator ≥ 1 by
    * construction — a class exists only if observed).
    *
    * Exactness: cells and marginals are exact longs; each F1_c is ONE
    * double division of exact ints floored at scale 8 into a LONG before
    * the order-independent macro sum (the [[averagePrecision]] ap8
    * convention); micro F1 is one double division of exact longs. NULL
    * labels/preds are excluded; macro = f1sum8/1e8/k is a fixed double
    * tail.
    *
    * Plan: one (group, label, pred) cell aggregate, two answer-sized
    * marginal rollups full-outer-joined per class, one group aggregate.
    *
    * @return per group: (groupCols…, n, k_classes, f1sum8, micro_f1,
    *         macro_f1)
    */
  def f1Scores(
      df: DataFrame, groupCols: Seq[String],
      labelCol: Column, predCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val cells = df
      .filter(labelCol.isNotNull && predCol.isNotNull)
      .select(g ++ Seq(labelCol.cast("string").as("__y"),
        predCol.cast("string").as("__p")): _*)
      .groupBy(g :+ col("__y") :+ col("__p"): _*)
      .agg(count(lit(1)).as("__c"))
    val byLabel = cells.groupBy(g :+ col("__y").as("__cls"): _*)
      .agg(sum(col("__c")).as("__nl"),
        sum(when(col("__y") === col("__p"), col("__c")).otherwise(0L))
          .as("__tp1"))
    val byPred = cells.groupBy(g :+ col("__p").as("__cls"): _*)
      .agg(sum(col("__c")).as("__np"))
    // full-outer merge on NULL-SAFE keys (a NULL group key must not split
    // each class into two half-rows — the oracle joins with IS NOT
    // DISTINCT FROM, and a using-columns join here would diverge from it)
    val byPredR = byPred.select(
      (groupCols.map(c => col(c).as(s"__p_$c")) ++
        Seq(col("__cls").as("__p_cls"), col("__np"))): _*)
    val joinCond = (groupCols.map(c => col(c) <=> col(s"__p_$c")) :+
      (col("__cls") <=> col("__p_cls"))).reduce(_ && _)
    val perClass = byLabel.join(byPredR, joinCond, "full_outer")
      .select((groupCols.map(c => coalesce(col(c), col(s"__p_$c")).as(c)) ++
        Seq(coalesce(col("__cls"), col("__p_cls")).as("__cls"),
          coalesce(col("__nl"), lit(0L)).as("__nl"),
          coalesce(col("__tp1"), lit(0L)).as("__tp1"),
          coalesce(col("__np"), lit(0L)).as("__np"))): _*)
      .withColumn("__f18",
        floor((lit(2.0) * col("__tp1").cast("double")) /
          (col("__nl") + col("__np")).cast("double") * 1e8 + 0.5)
          .cast("long"))
    perClass.groupBy(g: _*).agg(
        sum(col("__nl")).as("n"),
        count(lit(1)).as("k_classes"),
        sum(col("__tp1")).as("__tps"),
        sum(col("__f18")).as("f1sum8"))
      .select(g ++ Seq(col("n"), col("k_classes"), col("f1sum8"),
        (lit(2.0) * col("__tps").cast("double") /
          (lit(2.0) * col("n").cast("double"))).as("micro_f1"),
        (col("f1sum8").cast("double") / 1e8 /
          col("k_classes").cast("double")).as("macro_f1")): _*)
  }

  /** McNemar's test per group — do two classifiers DISAGREE asymmetrically
    * on the same rows? (the paired accuracy comparison: only the
    * discordant cells carry signal). The A/B gate for "is model B actually
    * better than model A on this slice", run on matched predictions.
    *
    *   b = A right ∧ B wrong,  c = A wrong ∧ B right,
    *   χ² = (b − c)² / (b + c)     (the uncorrected form; documented)
    *
    * Exactness: b and c are exact longs from one hash aggregate; (b−c)²
    * rides DECIMAL(38,0); the statistic is one double division of exact
    * integers, NULL when b + c = 0 (no discordant pairs — the models are
    * indistinguishable on this slice). NULL rows (either prediction or
    * the label) are excluded.
    *
    * @param aCorrect boolean Column: model A's prediction was correct
    * @param bCorrect boolean Column: model B's prediction was correct
    * @return per group: (groupCols…, n, b, c, chi2)
    */
  def mcnemar(
      df: DataFrame, groupCols: Seq[String],
      aCorrect: Column, bCorrect: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val m = df
      .filter(aCorrect.isNotNull && bCorrect.isNotNull)
      .select(g ++ Seq(aCorrect.cast("boolean").as("__a"),
        bCorrect.cast("boolean").as("__b")): _*)
      .groupBy(g: _*).agg(
        count(lit(1)).as("n"),
        sum(when(col("__a") && !col("__b"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("__a") && col("__b"), 1L).otherwise(0L)).as("c"))
    val diff = dec38(col("b")) - dec38(col("c"))
    m.select(g ++ Seq(col("n"), col("b"), col("c"),
      when(col("b") + col("c") > 0,
        (diff * diff).cast("double") / (col("b") + col("c")).cast("double"))
        .as("chi2")): _*)
  }

  /** Lift / cumulative-gains table per group — the campaign-targeting
    * read of a scored population: split the (score DESC)-ranked rows into
    * q quantile buckets; per bucket report the positive rate's LIFT over
    * the group base rate and the cumulative GAIN (share of all positives
    * captured so far). The business-facing rendering of the same ranking
    * [[rocAuc]] grades.
    *
    * Determinism: bucket assignment is ntile(q) over (score DESC, tieCol
    * ASC) — the caller supplies the unique tie-break (q183's convention),
    * and ntile's floor-based bucket sizing is specified identically in
    * Spark and ANSI SQL. Lift = (pos_b·n)/(n_b·pos) and gain =
    * cum_pos/pos are single double divisions of exact longs (products in
    * DECIMAL(38,0)); gain NULL-guards on pos = 0.
    *
    * Plan: one rank window per group + one (group, bucket) aggregate +
    * one answer-sized totals window — nothing data-sized after the
    * window.
    *
    * @return per (group, bucket): (groupCols…, bucket, n_b, pos_b,
    *         cum_pos, gain, lift)
    */
  def liftGains(
      df: DataFrame, groupCols: Seq[String],
      labelCol: Column, scoreCol: Column, tieCol: Column,
      buckets: Int = 10): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(buckets >= 2, "buckets must be >= 2")
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col("__s").desc, col("__tb").asc)
    val byBucket = df
      .filter(labelCol.isNotNull && scoreCol.isNotNull)
      .select(g ++ Seq(labelCol.cast("boolean").as("__y"),
        scoreCol.as("__s"), tieCol.as("__tb")): _*)
      .withColumn("bucket", ntile(buckets).over(w).cast("long"))
      .groupBy(g :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n_b"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("pos_b"))
    val wTot = Window.partitionBy(g: _*)
    val wCum = Window.partitionBy(g: _*).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byBucket
      .withColumn("__n", sum(col("n_b")).over(wTot))
      .withColumn("__pos", sum(col("pos_b")).over(wTot))
      .withColumn("cum_pos", sum(col("pos_b")).over(wCum))
      .select(g ++ Seq(col("bucket"), col("n_b"), col("pos_b"), col("cum_pos"),
        when(col("__pos") > 0,
          col("cum_pos").cast("double") / col("__pos").cast("double"))
          .as("gain"),
        when(col("__pos") > 0,
          (dec38(col("pos_b")) * dec38(col("__n"))).cast("double") /
            (dec38(col("n_b")) * dec38(col("__pos"))).cast("double"))
          .as("lift")): _*)
  }
}
