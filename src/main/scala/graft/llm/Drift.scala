package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-drift monitoring: per-slice token-distribution divergence — the
  * check a training pipeline runs when a new crawl snapshot, source, or
  * dedup/filter revision lands ("did the token mix move?").
  *
  * [[tokenKlDrift]] computes, for each value of `byCol` (source, snapshot,
  * shard...), the Kullback–Leibler divergence KL(P_s ‖ Q) of the slice's
  * unigram distribution P_s against the whole-corpus distribution Q:
  * Σ_w P_s(w)·ln(P_s(w)/Q(w)). Every slice token is by construction also a
  * corpus token (Q(w) > 0 wherever P_s(w) > 0), so no smoothing is needed
  * — the divergence is finite and zero iff the slice matches the corpus
  * mix exactly.
  *
  * Plan shape (the model-as-a-table idiom, cf. [[LanguageModel]]): one
  * token explode into a (slice, token)-keyed count aggregate with map-side
  * combine — the ONLY stage carrying token volume; slice totals, global
  * token counts, and the corpus total all DERIVE from that type-keyed
  * frame (types ≪ tokens by Heaps' law). The per-term KL contribution is
  * scalar arithmetic on the joined counts.
  *
  * Determinism (the q71 convention): each term is floored at scale 8
  * (`floor(t·10⁸ + 0.5)` as long) so the per-slice SUM is exact long
  * addition — order-independent on any merge tree. The per-term `ln` is
  * the one libm exposure (IEEE does not require correctly-rounded ln); Java
  * and DuckDB agree on every tested corpus, and a third-engine gate should
  * allow ±(distinct terms) on `kl8` rather than assume bit equality.
  */
object Drift {

  /** @param corpus  documents
    * @param textCol whitespace-tokenizable text column
    * @param byCol   slice column (source, snapshot, ...); NULL slices kept
    *                as their own group
    * @return one row per slice: `byCol`, `n_tokens`, `n_types`, `kl8`
    *         (scale-8 integer KL, exact long), `kl4` (double, derived from
    *         kl8 — deterministic)
    */
  def tokenKlDrift(corpus: DataFrame, textCol: String, byCol: String): DataFrame = {
    val tok = corpus.select(col(byCol).as("__slice"),
        explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
    val cs = tok.groupBy(col("__slice"), col("__w")).agg(count(lit(1)).as("__c"))
    val ns = cs.groupBy(col("__slice")).agg(sum(col("__c")).as("__n"))
    val cg = cs.groupBy(col("__w")).agg(sum(col("__c")).as("__cg"))
    val m = cs.agg(sum(col("__c")).as("__m"))
    // Null-safe (<=>) slice join: a NULL byCol value IS its own group —
    // groupBy keeps the NULL key, so the totals join must match it too, or
    // the NULL slice would silently vanish here (an equi-join never matches
    // NULL = NULL). The DuckDB twin uses IS NOT DISTINCT FROM for the same
    // reason.
    cs.join(cg, "__w")
      .join(broadcast(ns.withColumnRenamed("__slice", "__slice_n")),
        col("__slice") <=> col("__slice_n"))
      .drop("__slice_n")
      .crossJoin(broadcast(m))
      .withColumn("__t8",
        floor((col("__c").cast("double") / col("__n")) *
          log((col("__c").cast("double") / col("__n")) /
            (col("__cg").cast("double") / col("__m"))) * 100000000L + 0.5)
          .cast("long"))
      .groupBy(col("__slice"))
      .agg(
        max(col("__n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__t8")).as("kl8"))
      .withColumn("kl4",
        floor(col("kl8").cast("double") / 100000000L * 10000 + 0.5) / 10000)
      .withColumnRenamed("__slice", byCol)
  }

  /** Shared binning scaffold for the two-sample binned drift family
    * ([[psi]], [[hellinger]]): deterministic equi-width bins over each
    * group's [min, max] (answer-sized min/max aggregate, NULL-SAFE
    * broadcast attach — never a window over raw rows; a degenerate
    * mx = mn group bins to 0), then per-(group, bin) A/B counts with the
    * group totals as windows over the ≤ bins-rows-per-group frame —
    * (groupCols…, __bin, __ca, __cb, __na, __nb). The `mx == mn` and
    * `least(bins−1)` edge handling lives HERE, once.
    */
  private def binnedAbCounts(
      df: DataFrame, groupCols: Seq[String],
      valueCol: org.apache.spark.sql.Column,
      inBaseline: org.apache.spark.sql.Column,
      bins: Int): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(bins >= 2, "bins must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val base = df
      .filter(valueCol.isNotNull && inBaseline.isNotNull)
      .select(g ++ Seq(valueCol.cast("double").as("__v"),
        inBaseline.cast("boolean").as("__a")): _*)
    val mm = base.groupBy(g: _*)
      .agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"))
    val mmR = broadcast(mm.select(
      groupCols.map(c => col(c).as(s"__m_$c")) ++
        Seq(col("__mn"), col("__mx")): _*))
    val mmCond = groupCols.map(c => col(c) <=> col(s"__m_$c")).reduce(_ && _)
    val s = base.join(mmR, mmCond)
      .drop(groupCols.map(c => s"__m_$c"): _*)
      .withColumn("__bin",
        when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(lit(bins - 1L),
            floor((col("__v") - col("__mn")) * bins / (col("__mx") - col("__mn")))
              .cast("long"))))
    val wAll = Window.partitionBy(g: _*)
    s.groupBy(g :+ col("__bin"): _*)
      .agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("__cb"))
      .withColumn("__na", sum(col("__ca")).over(wAll))
      .withColumn("__nb", sum(col("__cb")).over(wAll))
  }

  /** Population Stability Index per group — the BINNED two-sample drift
    * statistic model-monitoring dashboards standardize on (PSI < 0.1
    * stable, > 0.25 action), complementing [[ksStatistic]] (max ECDF gap,
    * bin-free) and [[tokenKlDrift]] (categorical KL):
    *
    *   PSI = Σ_bins (p_B(i) − p_A(i)) · ln(p_B(i) / p_A(i))   ≥ 0
    *
    * Binning is EQUI-WIDTH over the group's combined [min, max] into
    * `bins` buckets (`⌊(v−min)·bins/(max−min)⌋` capped to bins−1; a
    * degenerate max = min group puts everything in bin 0) — deterministic
    * given the data, no quantile estimation. Proportions use ADD-ONE
    * (Laplace) smoothing over the nominal bin count,
    * `p(i) = (c_i + 1)/(n + bins)`, so a bin empty on one side
    * contributes a finite term instead of ±∞ (the standard
    * epsilon-handling, made exact and engine-identical); bins empty on
    * BOTH sides are not emitted and contribute nothing.
    *
    * Determinism: counts are exact longs; each bin term is floored at
    * scale 8 (`floor(t·10⁸ + 0.5)` as long, the [[tokenKlDrift]]
    * convention) so the per-group sum is exact long addition on any
    * merge tree; `ln` carries the q71 ±1-ulp caveat. Plan: an
    * answer-sized min/max aggregate broadcast-attached (null-safe) to
    * the rows, one (group, bin)-keyed count aggregate, and group totals
    * via a window over the ≤ bins-rows-per-group bin frame — no window
    * ever sees raw rows, no collect.
    *
    * @param inBaseline boolean Column: true → baseline sample A,
    *                   false → current sample B; null value/flag rows
    *                   are excluded
    * @return per group: (groupCols…, n_a, n_b, psi8, psi); psi NULL when
    *         either sample is empty
    */
  def psi(
      df: DataFrame, groupCols: Seq[String],
      valueCol: org.apache.spark.sql.Column,
      inBaseline: org.apache.spark.sql.Column,
      bins: Int = 10): DataFrame = {
    val g = groupCols.map(col)
    val c = binnedAbCounts(df, groupCols, valueCol, inBaseline, bins)
    val pa = (col("__ca") + 1).cast("double") / (col("__na") + bins)
    val pb = (col("__cb") + 1).cast("double") / (col("__nb") + bins)
    c.withColumn("__t8",
        floor(((pb - pa) * log(pb / pa)) * lit(1e8) + 0.5).cast("long"))
      .groupBy(g: _*)
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        sum(col("__t8")).as("psi8"))
      .select(g ++ Seq(
        col("n_a"), col("n_b"), col("psi8"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("psi8").cast("double") / lit(1e8)).as("psi")): _*)
  }

  /** Hellinger distance per group — the BOUNDED, SYMMETRIC member of the
    * binned drift family ([[psi]] is unbounded and sign-blind on heavy
    * re-weighting; KL is asymmetric; Hellinger lives in [0, 1] with a
    * metric's triangle inequality, the right knob for alert thresholds
    * that must mean the same thing across slices):
    *
    *   H(P, Q) = √(1 − BC),   BC = Σ_bins √(p_i·q_i)
    *
    * over the same deterministic equi-width bins as [[psi]]. No
    * smoothing is needed: a bin empty on either side contributes 0 to
    * BC (√0), exactly.
    *
    * Determinism: each bin's coefficient √(ca·cb/(na·nb)) is one fixed
    * double expression over exact DECIMAL/HUGEINT products (√ is
    * IEEE-correctly-rounded — unlike ln, NO ulp caveat), floored at
    * scale 8 → exact long sums; the final √(1−BC) is one more exact
    * operation. Same answer-sized plan as [[psi]].
    *
    * @return per group: (groupCols…, n_a, n_b, bc8, hellinger) —
    *         hellinger NULL when either sample is empty
    */
  def hellinger(
      df: DataFrame, groupCols: Seq[String],
      valueCol: org.apache.spark.sql.Column,
      inBaseline: org.apache.spark.sql.Column,
      bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val c = binnedAbCounts(df, groupCols, valueCol, inBaseline, bins)
    c.withColumn("__t8",
        when(col("__na") > 0 && col("__nb") > 0,
          floor(sqrt((dec(col("__ca")) * dec(col("__cb"))).cast("double") /
            (dec(col("__na")) * dec(col("__nb"))).cast("double")) *
            lit(1e8) + 0.5).cast("long"))
          .otherwise(0L))
      .groupBy(g: _*)
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        sum(col("__t8")).as("bc8"))
      .select(g ++ Seq(
        col("n_a"), col("n_b"), col("bc8"),
        when(col("n_a") > 0 && col("n_b") > 0,
          sqrt(greatest(lit(0.0),
            lit(1.0) - col("bc8").cast("double") / lit(1e8))))
          .as("hellinger")): _*)
  }

  /** PSI against a STATIC baseline — the streamable member of the PSI
    * family: [[psi]] bins over the data's own min/max (two-pass, batch
    * only); this one bins over GIVEN [mn, mx) bounds against GIVEN
    * baseline fractions, so a single stateful aggregate computes it —
    * the form a production monitor deploys (baseline frozen from a
    * reference sample, current traffic graded per time window).
    *
    * The whole statistic is ONE hash aggregate: per group, `bins`
    * conditional counts (bin index is a literal per term, so this is a
    * fixed-width projection, not a pivot), then Laplace-smoothed
    * `p_i = (c_i+1)/(n+bins)` against the baseline literal `b_i`, each
    * term floored at scale 8 and summed in a fixed Scala-ordered
    * expression — exact longs, engine-identical.
    *
    * Out-of-range values clamp into the edge bins (a monitor must count
    * tail excursions, not drop them).
    *
    * @param baseline per-bin expected fractions, all > 0 (smooth
    *                 upstream), length = bins
    * @return per group: (groupCols…, n, psi8, psi)
    */
  def psiAgainstBaseline(
      df: DataFrame, groupCols: Seq[String],
      valueCol: org.apache.spark.sql.Column,
      mn: Double, mx: Double, bins: Int,
      baseline: Seq[Double]): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    df.filter(valueCol.isNotNull)
      .select(g :+ binClamped(valueCol, mn, mx, bins).as("__bin"): _*)
      .groupBy(g: _*)
      .agg(baselineAggs(bins).head, baselineAggs(bins).tail: _*)
      .select(g ++ baselinePsiCols(bins, baseline): _*)
  }

  /** Clamped equi-width bin over static [mn, mx) bounds. */
  private[graft] def binClamped(
      v: org.apache.spark.sql.Column, mn: Double, mx: Double,
      bins: Int): org.apache.spark.sql.Column = {
    require(mx > mn, s"need mx > mn, got [$mn, $mx)")
    require(bins >= 2, "bins must be >= 2")
    least(lit(bins - 1L), greatest(lit(0L),
      floor((v.cast("double") - mn) * bins / (mx - mn)).cast("long")))
  }

  private[graft] def baselineAggs(bins: Int) =
    count(lit(1)).as("__n") +: (0 until bins).map(i =>
      sum(when(col("__bin") === i, 1L).otherwise(0L)).as(s"__c$i"))

  private[graft] def baselinePsiCols(bins: Int, baseline: Seq[Double]) = {
    require(baseline.length == bins, s"baseline length != $bins")
    require(baseline.forall(_ > 0), "baseline fractions must all be > 0")
    val terms = (0 until bins).map { i =>
      val p = (col(s"__c$i") + 1).cast("double") / (col("__n") + bins)
      floor(((p - baseline(i)) * log(p / baseline(i))) * lit(1e8) + 0.5)
        .cast("long")
    }
    val psi8 = terms.reduce(_ + _)
    Seq(col("__n").as("n"), psi8.as("psi8"),
      (psi8.cast("double") / lit(1e8)).as("psi"))
  }

  /** SQL twin of [[psiAgainstBaseline]] body for cross-engine oracles:
    * the `bins` conditional sums + term sum over `binExprSql` (a column
    * holding the clamped bin), as SELECT-list fragments
    * `n, psi8, psi`. */
  def psiAgainstBaselineSql(bins: Int, baseline: Seq[Double]): String = {
    require(baseline.length == bins && baseline.forall(_ > 0), "bad baseline")
    def c(i: Int) = s"sum(CASE WHEN __bin = $i THEN 1 ELSE 0 END)"
    def p(i: Int) = s"(CAST(${c(i)} + 1 AS DOUBLE) / (count(*) + $bins))"
    val terms = (0 until bins).map { i =>
      val b = s"CAST(${baseline(i)} AS DOUBLE)"
      s"CAST(floor(((${p(i)} - $b) * ln(${p(i)} / $b)) * 1e8 + 0.5) AS BIGINT)"
    }
    val psi8 = terms.mkString("(", " + ", ")")
    s"count(*) AS n, $psi8 AS psi8, CAST($psi8 AS DOUBLE) / 1e8 AS psi"
  }

  /** SQL twin of [[binClamped]]. */
  def binClampedSql(vSql: String, mn: Double, mx: Double, bins: Int): String =
    s"least(${bins - 1}, greatest(0, CAST(floor((CAST($vSql AS DOUBLE) - $mn) * $bins / ${mx - mn}) AS BIGINT)))"

  /** CUSUM change-point scan per group — the SEQUENTIAL drift member
    * ([[psi]]/[[ksStatistic]] compare two labeled samples; this finds
    * WHERE an unlabeled ordered series shifted): the classic cumulative
    * sum of deviations from the series mean,
    *
    *   S_i = Σ_{j≤i} (v_j − v̄),   change point = argmax_i |S_i|
    *
    * — S drifts away from 0 until the level shift and back after it, so
    * the peak marks the most likely single shift (Page 1954 / the
    * standard offline CUSUM segmentation step).
    *
    * Exactness: values fix-point at scale 4 and the statistic is kept in
    * ×n units — `D_i = n·C_i − i·T` with C_i the exact prefix sum of v4
    * and T the group total — so every compare (argmax, tie on earliest
    * index) is exact LONG arithmetic; the reported `cusum` double is one
    * IEEE division `D_peak / (n·10⁴)`. Overflow bound (documented
    * contract): |v|·10⁴·n² must fit a long — fine to ~10⁶-row groups at
    * |v| ≤ 10⁴; pre-aggregate (e.g. to time buckets) before scanning
    * longer series, which is also what makes the per-group window safe.
    *
    * Plan: one (group)-partitioned cumulative window over the ordered
    * series + an answer-sized total attach (null-safe) + one argmax
    * aggregate. The window IS per-group sequential by nature of the
    * statistic — bucket first at scale, as above.
    *
    * @param orderCol ordering column (time); `tieCols` must make the
    *                 order total for engine-identical prefix sums
    * @return per group: (groupCols…, n, cp_idx, cp_order, d_peak, cusum)
    *         — cp_idx the 1-based position of the peak, cp_order the
    *         orderCol value there, d_peak the exact ×n·10⁴ statistic
    *         (signed: > 0 = upward-then-down level shift), cusum the
    *         normalized double |peak| magnitude
    */
  def cusum(
      df: DataFrame, groupCols: Seq[String],
      orderCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column,
      tieCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val ties = tieCols.zipWithIndex.map { case (c, i) => c.as(s"__tie_$i") }
    val ord = col("__o").asc +: tieCols.indices.map(i => col(s"__tie_$i").asc)
    val wCum = Window.partitionBy(g: _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.filter(valueCol.isNotNull)
      .select(g ++ Seq(orderCol.as("__o"),
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long").as("__v4")) ++
        ties: _*)
      .withColumn("__i", count(lit(1)).over(wCum))
      .withColumn("__c", sum(col("__v4")).over(wCum))
      .drop(tieCols.indices.map(i => s"__tie_$i"): _*)
    val tot = base.groupBy(g: _*)
      .agg(count(lit(1)).as("__n"), sum(col("__v4")).as("__t"))
    val totR = broadcast(tot.select(
      groupCols.map(c => col(c).as(s"__t_$c")) ++
        Seq(col("__n"), col("__t")): _*))
    val cond = groupCols.map(c => col(c) <=> col(s"__t_$c")).reduce(_ && _)
    val d = base.join(totR, cond)
      .drop(groupCols.map(c => s"__t_$c"): _*)
      .withColumn("__d", col("__n") * col("__c") - col("__i") * col("__t"))
    val wPick = Window.partitionBy(g: _*)
      .orderBy(abs(col("__d")).desc, col("__i").asc)
    d.withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1)
      .select(g ++ Seq(
        col("__n").as("n"),
        col("__i").as("cp_idx"),
        col("__o").as("cp_order"),
        col("__d").as("d_peak"),
        (abs(col("__d")).cast("double") / (col("__n") * lit(10000L)))
          .as("cusum")): _*)
  }

  /** One-sided CUSUM ALARMS per group — the ONLINE-monitoring member
    * next to [[cusum]] (that one scans a finished series for its single
    * most likely shift; this is Page's sequential decision rule, the
    * form a production monitor runs row-by-row): with reference mean μ,
    * slack k and decision threshold h,
    *
    *   g⁺_i = max(0, g⁺_{i−1} + (v_i − μ − k)),  alarm when g⁺ ≥ h
    *   g⁻_i = max(0, g⁻_{i−1} + (μ − v_i − k)),  alarm when g⁻ ≥ h
    *
    * Computed WITHOUT the sequential recurrence via the running-minimum
    * identity `g_i = S_i − min(0, min_{j≤i} S_j)` (S the prefix sum of
    * the drift terms), so the whole scan is two cumulative windows over
    * one group partitioning. NO-RESTART semantics by contract: the
    * statistic keeps accumulating past h and the FIRST crossing per
    * (group, direction) is reported.
    *
    * Exactness: μ, k, h and the values fix-point at scale 4, so S, the
    * running min, g and the ≥ h compare are all exact LONG arithmetic —
    * bit-identical on any engine; no division anywhere.
    *
    * @return one row per ALARMED (group, direction): (groupCols…,
    *         direction 'up'|'down', alarm_idx 1-based, alarm_order the
    *         orderCol value at the crossing, stat4 the exact scale-4
    *         statistic there). Groups/directions that never cross are
    *         absent.
    */
  def cusumAlarms(
      df: DataFrame, groupCols: Seq[String],
      orderCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column,
      tieCols: Seq[org.apache.spark.sql.Column],
      refMean: Double, slack: Double, threshold: Double): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(threshold > 0, "threshold must be positive")
    require(slack >= 0, "slack must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val mu4 = math.floor(refMean * 10000 + 0.5).toLong
    val k4 = math.floor(slack * 10000 + 0.5).toLong
    val h4 = math.floor(threshold * 10000 + 0.5).toLong
    val g = groupCols.map(col)
    val ties = tieCols.zipWithIndex.map { case (c, i) => c.as(s"__tie_$i") }
    val ord = col("__o").asc +: tieCols.indices.map(i => col(s"__tie_$i").asc)
    val wCum = Window.partitionBy(g: _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scanned = df.filter(valueCol.isNotNull)
      .select(g ++ Seq(orderCol.as("__o"),
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long").as("__v4")) ++
        ties: _*)
      .withColumn("__i", count(lit(1)).over(wCum))
      .withColumn("__su", sum(col("__v4") - mu4 - k4).over(wCum))
      .withColumn("__sd", sum(lit(mu4) - col("__v4") - k4).over(wCum))
      .withColumn("__gu", col("__su") - least(lit(0L), min(col("__su")).over(wCum)))
      .withColumn("__gd", col("__sd") - least(lit(0L), min(col("__sd")).over(wCum)))
      .drop(tieCols.indices.map(i => s"__tie_$i"): _*)
    def firstAlarm(statCol: String, dir: String): DataFrame = {
      val wPick = Window.partitionBy(g: _*).orderBy(col("__i").asc)
      scanned.filter(col(statCol) >= h4)
        .withColumn("__rn", row_number().over(wPick))
        .filter(col("__rn") === 1)
        .select(g ++ Seq(lit(dir).as("direction"),
          col("__i").as("alarm_idx"), col("__o").as("alarm_order"),
          col(statCol).as("stat4")): _*)
    }
    firstAlarm("__gu", "up").unionAll(firstAlarm("__gd", "down"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic per group:
    * D = max_v |F_A(v) − F_B(v)| over the pooled distinct values — the
    * nonparametric NUMERIC-drift companion to [[tokenKlDrift]]'s token
    * drift ("did this metric's distribution move between snapshots /
    * slices?"), sensitive to location AND shape with no binning choices.
    *
    * EXACT cross-engine: ECDF differences are compared as the integer
    * cross-product |cumA·n_B − cumB·n_A| (never a float per step), so
    * `d_num` is exact long arithmetic and `d = d_num/(n_A·n_B)` is one
    * IEEE division. Ties are handled by evaluating at DISTINCT values
    * with inclusive cumulative counts — the mathematically correct ECDF
    * under ties.
    *
    * Plan: one (group, value) count aggregate (map-side combined — the
    * only stage carrying row volume), then windows PARTITIONED BY GROUP
    * over the distinct-value frame, then a bounded group aggregate. At
    * 100 TB the distinct-value frame is the only window input; a
    * continuous metric with data-sized distinct counts still windows per
    * group, never globally.
    *
    * @param inSampleA boolean Column: true → sample A, false → sample B;
    *                  null rows (either side) are excluded
    * @return per group: (groupCols…, n_a, n_b, d_num, d); d is NULL when
    *         either sample is empty
    */
  def ksStatistic(
      df: DataFrame, groupCols: Seq[String],
      valueCol: org.apache.spark.sql.Column,
      inSampleA: org.apache.spark.sql.Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val counts = df
      .filter(valueCol.isNotNull && inSampleA.isNotNull)
      .select(g ++ Seq(valueCol.as("__v"),
        inSampleA.cast("boolean").as("__a")): _*)
      .groupBy(g :+ col("__v"): _*)
      .agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("__cb"))
    val wCum = Window.partitionBy(g: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(g: _*)
    counts
      .select(g ++ Seq(
        sum(col("__ca")).over(wCum).as("__cuma"),
        sum(col("__cb")).over(wCum).as("__cumb"),
        sum(col("__ca")).over(wAll).as("__na"),
        sum(col("__cb")).over(wAll).as("__nb")): _*)
      .groupBy(g: _*)
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        max(abs(col("__cuma") * col("__nb") - col("__cumb") * col("__na")))
          .as("d_num"))
      .select(g ++ Seq(
        col("n_a"), col("n_b"), col("d_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("d_num") / (col("n_a") * col("n_b"))).as("d")): _*)
  }

  /** Jensen–Shannon divergence between two CATEGORICAL distributions per
    * group — the SYMMETRIC, always-finite member of the drift family
    * (KL [q89] blows up on categories one side lacks; JSD ∈ [0, ln 2]
    * no matter what): JSD(P‖Q) = ½·KL(P‖M) + ½·KL(Q‖M), M = ½(P+Q).
    * The drift number to alert on when either side can have novel
    * categories (new locales, new event types).
    *
    * Exactness: per-category A/B counts are exact longs; each category's
    * full term  ½·(p·ln(p/m) + q·ln(q/m))  is ONE fixed double
    * expression over those exact counts, floored at scale 8 into a LONG
    * before the order-independent sum (the [[hellinger]]/[[psi]]
    * convention; same ±1-ulp `ln` caveat as q89, r4-rounded downstream).
    * Zero-count sides contribute only through m (their p·ln(p/m) term is
    * 0 by continuity — the `when` guard, not a smoothing constant).
    * NULL categories and NULL flags are excluded (the family's null
    * convention). A group where ONE WHOLE SIDE has zero rows reports
    * jsd8/jsd as NULL, not 0 — the family's degenerate-denominator
    * convention, so an alerting consumer can tell "no baseline data"
    * from "no drift".
    *
    * Plan: one (group, category) A/B count aggregate, group totals ride
    * a window over the category frame, one final aggregate.
    *
    * @return per group: (groupCols…, n_a, n_b, n_cats, jsd8, jsd)
    */
  def jsdCategorical(
      df: DataFrame, groupCols: Seq[String],
      catCol: org.apache.spark.sql.Column,
      inACol: org.apache.spark.sql.Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val wAll = Window.partitionBy(g: _*)
    val cells = df
      .filter(catCol.isNotNull && inACol.isNotNull)
      .select(g ++ Seq(catCol.cast("string").as("__cat"),
        inACol.cast("boolean").as("__a")): _*)
      .groupBy(g :+ col("__cat"): _*)
      .agg(
        sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
      .select(g ++ Seq(col("__ca"), col("__cb"),
        sum(col("__ca")).over(wAll).as("__na"),
        sum(col("__cb")).over(wAll).as("__nb")): _*)
    val p = col("__ca").cast("double") / col("__na").cast("double")
    val q = col("__cb").cast("double") / col("__nb").cast("double")
    val m = (p + q) / 2.0
    val term =
      when(col("__ca") > 0, p * log(p / m)).otherwise(0.0) +
        when(col("__cb") > 0, q * log(q / m)).otherwise(0.0)
    cells
      .withColumn("__t8",
        when(col("__na") > 0 && col("__nb") > 0,
          floor(term / 2.0 * lit(1e8) + 0.5).cast("long")).otherwise(0L))
      .groupBy(g: _*)
      .agg(
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        count(lit(1)).as("n_cats"),
        sum(col("__t8")).as("__s8"))
      .select(g ++ Seq(col("n_a"), col("n_b"), col("n_cats"),
        when(col("n_a") > 0 && col("n_b") > 0, col("__s8")).as("jsd8"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("__s8").cast("double") / lit(1e8)).as("jsd")): _*)
  }
}
