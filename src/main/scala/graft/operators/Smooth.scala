package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exponentially-weighted moving average over ordered series — the
  * monitoring smoother (EWMA control charts, metric dashboards, drift
  * pre-filters) as an exact, engine-identical batch operator.
  *
  * The textbook recursion `z_i = α·x_i + (1−α)·z_{i−1}` is a sequential
  * float scan — not distributable, and not reproducible across engines
  * (every term's rounding depends on chain order). This operator computes
  * the NORMALIZED FIX-POINT form instead:
  *
  *   z_i = Σ_j w_j·v4_{i−j} / Σ_j w_j,   w_j = ⌊(1−α)^j·10⁸ + 0.5⌋
  *
  * truncated EXACTLY where the scale-8 integer weight underflows to 0
  * (w_j = 0 contributes nothing, so the truncation IS the fix-point
  * representation, not an approximation knob). Both numerator and
  * denominator are exact longs on any merge tree; the self-normalization
  * makes the warm-up exact too (z_1 = x_1, early terms renormalize over
  * the weights present). For i ≫ K this equals the recursion to within
  * the 10⁻⁸ weight quantization.
  *
  * Overflow contract (the [[graft.llm.Drift.cusum]] discipline): the
  * numerator is LONG arithmetic bounded by `Σw_j·max|v4| < 10⁸/α·|v|·10⁴`,
  * so |value| must stay under ~10⁶·α (≈ 2.7·10⁶ at α = 0.3) — pre-scale
  * wider-ranged metrics before smoothing.
  *
  * Plan: no sequential scan and no self-join — rows collapse into
  * length-K blocks (one array per (group, block)), each block reads its
  * predecessor through one `lag` window over the n/K-row block frame, and
  * a native codegen'd convolution ([[graft.functions.EwmaBlockConvolve]])
  * computes all K taps per position in a primitive loop. Three slower
  * formulations were MEASURED and rejected at sf0.1: a K-deep sliding
  * `collect_list` + higher-order reduce (2.2s — per-ROW array building),
  * Σ of K explicit `lag()` terms (5.4s — WindowExec runs one frame
  * processor per offset), and the ×K row-broadcast fan-out into one hash
  * aggregate (1.0s — 32 M combine-input rows; kept as the equality-law
  * witness [[Smooth.ewmaFanout]]). Per-group row_number is the only
  * raw-row window — pre-bucket extreme series, the
  * [[graft.llm.Drift.cusum]] contract.
  */
object Smooth {

  /** `w_j = ⌊(1−α)^j·10⁸ + 0.5⌋` until underflow — the single source of
    * truth interpolated into BOTH engines (the Spark frame and the SQL
    * VALUES list), so cross-engine parity never depends on `pow` ulps.
    */
  private[graft] def ewmaWeights(alpha: Double): Seq[Long] = {
    require(alpha > 0 && alpha < 1, s"alpha out of range: $alpha")
    Iterator.iterate(1.0)(_ * (1.0 - alpha))
      .map(p => math.floor(p * 1e8 + 0.5).toLong)
      .takeWhile(_ > 0).toSeq
  }

  /** SQL `VALUES` twin of [[ewmaWeights]] for cross-engine oracles:
    * `(VALUES (0, 100000000), (1, …), …)` rows `(j, wt)`.
    */
  def ewmaWeightsSql(alpha: Double): String =
    ewmaWeights(alpha).zipWithIndex
      .map { case (w, j) => s"($j, $w)" }.mkString("VALUES ", ", ", "")

  /** Per-group EWMA series at the catalog's scale-4 fix-point.
    *
    * Blocked two-phase plan (r12): rows get their per-group index from the
    * one ordered window, then collapse into LENGTH-K BLOCKS — per (group,
    * block) a position-sorted `array<long>` of values (and order keys).
    * Every output position needs sources at most K−1 back, so a block plus
    * its predecessor (one equi-join of the n/K-row block frame against its
    * own blk+1 shift — group-spread, unlike a per-group lag window)
    * covers all its taps; the K-tap convolution itself runs in
    * [[graft.functions.EwmaBlockConvolve]] — a codegen'd primitive loop,
    * exact LONG num/den, bit-identical divisions. Data amplification is
    * ×2 block arrays instead of the previous ×K row fan-out (54 at
    * α = 0.3, 32 M combine-input rows at sf0.1 — measured 1.0 s there;
    * this form ~0.3 s); [[ewmaFanout]] keeps the old shape as the
    * equality-law witness.
    *
    * @param orderCol ordering column; `tieCols` must make the order total
    *                 for an engine-identical index
    * @return one row per input row: (groupCols…, idx, <orderCol out>,
    *         v4, ewma) — `v4` the scale-4 long of the input, `ewma` the
    *         smoothed value in original units (one double division)
    */
  def ewma(
      df: DataFrame, groupCols: Seq[String], orderCol: Column,
      orderOut: String, valueCol: Column, tieCols: Seq[String],
      alpha: Double = 0.3): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val wts = ewmaWeights(alpha)
    val k = wts.length
    val base = ewmaBase(df, groupCols, orderCol, valueCol, tieCols)
    // (idx−1) div K / mod K: the div is exact double arithmetic for
    // idx < 2^53 (far past the per-group length bound of the overflow
    // contract); the mod stays in integer arithmetic
    // Each row lands in ITS OWN block and — for positions ≥ 1, the only
    // ones a successor's taps can reach — ALSO as a prev-tail element of
    // the NEXT block, via one explode: the predecessor attach costs ~×2
    // narrow-row amplification inside a single aggregate instead of a
    // join against the block frame's shifted self (which, collect_list
    // being nondeterminism-flagged, would rebuild the whole frame for the
    // build side — no exchange reuse). The explicit (g, blk) repartition
    // matters: the window's hash(g) output already *satisfies* (g, blk)
    // clustering, so without it the aggregate would run at one-task-per-
    // group parallelism (2 live tasks on the 5-series bench table).
    // Tail indexing stays exact: the kernel reads prev[|prev| + (i−j)],
    // and dropping position 0 shifts |prev| and the element indices by
    // one together.
    val tagged = base
      .withColumn("__blk0", floor((col("idx") - 1) / k).cast("long"))
      .withColumn("__pos", pmod(col("idx") - 1, lit(k.toLong)))
      .select(g ++ Seq(col("__o"), col("v4"), col("__pos"),
        explode(when(col("__pos") >= 1, array(
            struct(col("__blk0").as("__blk"), lit(false).as("__isPrev")),
            struct((col("__blk0") + 1).as("__blk"), lit(true).as("__isPrev"))))
          .otherwise(array(
            struct(col("__blk0").as("__blk"), lit(false).as("__isPrev")))))
          .as("__t")): _*)
    val blocks = tagged
      .select(g ++ Seq(col("__t.__blk").as("__blk"), col("__t.__isPrev").as("__isPrev"),
        col("__pos"), col("v4"), col("__o")): _*)
      .repartition(g :+ col("__blk"): _*)
      .groupBy(g :+ col("__blk"): _*)
      .agg(
        array_sort(collect_list(when(!col("__isPrev"),
          struct(col("__pos"), col("v4"), col("__o"))))).as("__arr"),
        array_sort(collect_list(when(col("__isPrev"),
          struct(col("__pos"), col("v4"))))).as("__parr"))
      // a group's last block spills prev rows into a phantom successor
      // with no rows of its own — drop it
      .filter(size(col("__arr")) > 0)
      .select(g ++ Seq(col("__blk"),
        transform(col("__arr"), x => x("v4")).as("__vals"),
        transform(col("__arr"), x => x("__o")).as("__os"),
        transform(col("__parr"), x => x("v4")).as("__prev")): _*)
    val conv = graft.functions.EwmaKernel.convolve(
      coalesce(col("__prev"), array().cast("array<long>")),
      col("__vals"), lit(wts.toArray))
    blocks
      .withColumn("__conv", conv)
      .select(g ++ Seq(col("__blk"), col("__os"), col("__vals"),
        posexplode(col("__conv")).as(Seq("__p", "ewma"))): _*)
      .select(g ++ Seq(
        (col("__blk") * k + col("__p") + 1).as("idx"),
        element_at(col("__os"), col("__p") + 1).as(orderOut),
        element_at(col("__vals"), col("__p") + 1).as("v4"),
        col("ewma")): _*)
  }

  /** Shared indexing front end of both EWMA forms: null-filtered rows,
    * scale-4 long values, per-group row index from the one ordered window.
    */
  private def ewmaBase(
      df: DataFrame, groupCols: Seq[String], orderCol: Column,
      valueCol: Column, tieCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val ord = col("__o").asc +: tieCols.map(c => col(c).asc)
    val wIdx = Window.partitionBy(g: _*).orderBy(ord: _*)
    df.filter(valueCol.isNotNull)
      .select(g ++ Seq(orderCol.as("__o"),
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long")
          .as("v4")) ++ tieCols.map(col): _*)
      .withColumn("idx", row_number().over(wIdx).cast("long"))
      .drop(tieCols: _*)
  }

  /** The superseded ×K row-fan-out formulation, kept as the equality-law
    * witness for [[ewma]] (TrendZorderSpec pins new ≡ old exactly): each
    * row broadcasts into the K future positions it influences (row i →
    * target i+j, weight w_j), ONE hash aggregate both sums the weighted
    * contributions and re-emits the target row's own identity through its
    * j = 0 leg; targets past the series end have no j = 0 leg and are
    * dropped by the filter.
    */
  private[graft] def ewmaFanout(
      df: DataFrame, groupCols: Seq[String], orderCol: Column,
      orderOut: String, valueCol: Column, tieCols: Seq[String],
      alpha: Double = 0.3): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val wts = ewmaWeights(alpha)
    val base = ewmaBase(df, groupCols, orderCol, valueCol, tieCols)
    val spark = df.sparkSession
    import spark.implicits._
    val wtsDf = broadcast(wts.zipWithIndex
      .map { case (w, j) => (j.toLong, w) }.toDF("__j", "__wt"))
    base.crossJoin(wtsDf)
      .groupBy(g :+ (col("idx") + col("__j")).as("idx2"): _*)
      .agg(
        sum(col("__wt") * col("v4")).as("__num"),
        sum(col("__wt")).as("__den"),
        max(when(col("__j") === 0, col("__o"))).as("__oo"),
        max(when(col("__j") === 0, col("v4"))).as("__v0"))
      .filter(col("__oo").isNotNull)
      .select(g ++ Seq(col("idx2").as("idx"), col("__oo").as(orderOut),
        col("__v0").as("v4"),
        (col("__num").cast("double") / col("__den").cast("double") / 10000.0)
          .as("ewma")): _*)
  }

  /** Inter-arrival statistics + burstiness per group — "does this stream
    * arrive regularly, randomly, or in bursts?": gaps between each
    * entity's consecutive events, aggregated per group into mean, sample
    * std, and the Goh–Barabási burstiness
    *
    *   B = (σ − μ)/(σ + μ)   ∈ [−1, 1):  B < 0 regular (σ ≪ μ),
    *       B ≈ 0 Poisson (σ ≈ μ),  B → 1 bursty
    *
    * — the traffic-shape check behind rate-limit sizing and the
    * session-gap choice (q121's 30-min gap presumes bursty arrivals; B
    * measures it).
    *
    * Exactness: gaps are exact micros longs; Σg and Σg² accumulate as
    * DECIMAL (merge-order-free); mean/σ/B are fixed-order double tails
    * over the exact sums (σ via the n·Σg² − (Σg)² numerator, the
    * [[graft.operators.Eval.welchT]] identity), mirrored verbatim in SQL.
    *
    * Plan: one per-(group, entity) lag window (entity-keyed — raw events
    * window per entity, the sessionize shape), one hash aggregate.
    *
    * @return per group: (groupCols…, n_gaps, mean_s, std_s, burstiness) —
    *         mean/std in SECONDS; std/burstiness NULL for n ≤ 1
    */
  def interArrival(
      df: DataFrame, groupCols: Seq[String], entityCol: String,
      orderCol: Column, tieCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val ord = col("__o").asc +: tieCols.map(c => col(c).asc)
    val w = Window.partitionBy(g :+ col(entityCol): _*).orderBy(ord: _*)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val gaps = df
      .select(g ++ Seq(col(entityCol), orderCol.as("__o")) ++
        tieCols.map(col): _*)
      .withColumn("__gap", col("__o") - lag(col("__o"), 1).over(w))
      .filter(col("__gap").isNotNull)
    val m = gaps.groupBy(g: _*).agg(
      count(lit(1)).as("n_gaps"),
      sum(dec(col("__gap"))).as("__s1"),
      sum(dec(col("__gap")) * dec(col("__gap"))).as("__s2"))
    val nD = col("n_gaps").cast("double")
    val s1d = col("__s1").cast("double")
    val vnum = (dec(col("n_gaps")) * col("__s2") - col("__s1") * col("__s1"))
      .cast("double")
    val muU = s1d / nD
    val sigmaU = sqrt(vnum / (nD * (nD - 1.0)))
    m.select(g ++ Seq(col("n_gaps"),
      (s1d / nD / 1e6).as("mean_s"),
      when(col("n_gaps") > 1, sigmaU / 1e6).as("std_s"),
      when(col("n_gaps") > 1 && sigmaU + muU > 0,
        (sigmaU - muU) / (sigmaU + muU)).as("burstiness")): _*)
  }

  /** Parallel per-group lag backbone shared by [[acf]], [[ccf]] and
    * [[durbinWatson]] — the scale fix for the family's one remaining
    * sequential stage. A lag window partitioned by the GROUP alone runs
    * one single-threaded ordered scan per group; with few groups (the
    * event_type regime) that is a handful of serial passes over every
    * row — the sf1 profile put 2.7 of q167's 2.9 s in that one stage.
    *
    * Scheme (the [[graft.operators.Quantiles.weightedQuantile]] bucket
    * idiom, extended to lags): split each group's ORDER range into 256
    * equi-width buckets — the bucket function is weakly monotone in the
    * order key, so buckets are CONTIGUOUS runs of the global (order, ties)
    * sort — take the lags inside each (group, bucket) window in parallel,
    * and repair the first `maxLag` rows of every bucket from a broadcast
    * "carry": per bucket, the lag values of the up-to-`maxLag` rows that
    * globally precede it (built from each bucket's last `maxLag` rows —
    * any needed predecessor is within the last `maxLag` rows of its own
    * bucket — concatenated in bucket order by one answer-sized window,
    * ≤ 256·|groups| rows). Row values and sums are exact longs/DECIMAL,
    * so the regrouped arithmetic is bit-identical to the single-window
    * form. Group totals ride the same bounds aggregate that supplies the
    * bucket range (one extra parquet scan, fully parallel — traded for
    * the serial window; the scan side is column-pruned to the series
    * columns). The bucket-tail branch re-executes the (group, bucket)
    * window once more over the same reused shuffle — both executions are
    * parallel, which is the point.
    *
    * @param totalAggs per-group aggregates (count/sums) broadcast back
    *        onto every row — the callers' demeaning constants
    * @return base columns + totalAggs columns + `__rl1..__rl⟨maxLag⟩`
    *         raw lag columns (NULL before the series start, exactly as
    *         the single-window lag produced)
    */
  private def laggedWithTotals(
      base: DataFrame, groupCols: Seq[String], tieCols: Seq[String],
      lagCol: String, maxLag: Int, totalAggs: Seq[Column]): DataFrame = {
    val g = groupCols.map(col)
    val buckets = 256
    val boundAggs = Seq(min(col("__o")).as("__mn"),
      max(col("__o")).as("__mx")) ++ totalAggs
    val bounds = base.groupBy(g: _*).agg(boundAggs.head, boundAggs.tail: _*)
    val bCond = groupCols.map(x => col(x) <=> col(s"__b_$x")).reduce(_ && _)
    val joined = base.join(
      broadcast(bounds.select(groupCols.map(x => col(x).as(s"__b_$x")) ++
        bounds.columns.drop(groupCols.size).map(col): _*)), bCond)
      .drop(groupCols.map(x => s"__b_$x"): _*)
    if (maxLag == 0) return joined.drop("__mn", "__mx")
    // monotone numeric image of the order key for the bucket arithmetic
    // (timestamps via unix_micros; anything else through double — weakly
    // monotone, which is all contiguity needs)
    val oNum = (c: Column) => base.schema("__o").dataType match {
      case _: org.apache.spark.sql.types.TimestampType => unix_micros(c)
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(c.cast("timestamp"))
      case _ => c.cast("double")
    }
    val withB = joined
      .withColumn("__bk",
        // NULL order keys sort FIRST under ASC — bucket 0 keeps them
        // contiguous at the front (least() would skip the null and
        // misfile them into the last bucket); a constant-order group
        // (mx = mn) degenerates to the single-window form in bucket 0
        when(col("__o").isNull || col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(lit(buckets - 1L),
            floor((oNum(col("__o")) - oNum(col("__mn"))).cast("double") *
              buckets /
              (oNum(col("__mx")) - oNum(col("__mn"))).cast("double"))
              .cast("long"))))
      .drop("__mn", "__mx")
    val ord = col("__o").asc +: tieCols.map(c => col(c).asc)
    val wB = Window.partitionBy(g :+ col("__bk"): _*).orderBy(ord: _*)
    val wBAll = Window.partitionBy(g :+ col("__bk"): _*)
    val withLag = (1 to maxLag).foldLeft(withB) { (d, k) =>
        d.withColumn(s"__rl$k", lag(col(lagCol), k).over(wB))
      }
      .withColumn("__rn", row_number().over(wB).cast("long"))
      .withColumn("__bn", count(lit(1)).over(wBAll))
    // carry: per bucket, the lag values of the ≤maxLag rows preceding it.
    // The collected struct carries EVERY payload column of the bucketed
    // frame (totals, any sibling series like ccf's x) — a GENUINE
    // reference column pruning cannot remove (dummy aggregates get
    // optimized out), so this branch's projection below the (group,
    // bucket) exchange stays identical to the main branch's and the scan +
    // full shuffle are reused instead of re-executed (the q97/q101
    // constraint-equalizing lesson, pruning edition). (o, ties) is unique,
    // so the extra trailing fields never affect the array_sort order.
    val keyNames = (groupCols ++ tieCols ++ Seq("__o", "__bk", lagCol)).toSet
    val restNames = withB.columns.toSeq.filterNot(keyNames.contains)
    val tails = withLag.filter(col("__bn") - col("__rn") < maxLag)
      .groupBy(g :+ col("__bk"): _*)
      .agg(array_sort(collect_list(struct(((col("__o") +: tieCols.map(col))
        :+ col(lagCol).as("__lv")) ++ restNames.map(col): _*))).as("__tl"))
    val wT = Window.partitionBy(g: _*).orderBy(col("__bk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = tails
      .withColumn("__cat", flatten(collect_list(col("__tl")).over(wT)))
      .withColumn("__cat", when(size(col("__cat")) > maxLag,
        slice(col("__cat"), -maxLag, maxLag)).otherwise(col("__cat")))
      .select(groupCols.map(x => col(x).as(s"__c_$x")) ++ Seq(
        col("__bk").as("__cbk"),
        transform(col("__cat"), x => x.getField("__lv")).as("__prev")): _*)
    val cCond = groupCols.map(x => col(x) <=> col(s"__c_$x")).reduce(_ && _) &&
      col("__bk") === col("__cbk")
    val repaired = (1 to maxLag).foldLeft(
      withLag.join(broadcast(carry), cCond)) { (d, k) =>
      // bucket-local lag is the global lag for rows with ≥k in-bucket
      // predecessors; the first k rows read (m − k + rn)-th of the carry
      // (1-indexed from its start; NULL off the series front, as before)
      d.withColumn(s"__rl$k",
        when(col("__rn") > k, col(s"__rl$k"))
          .otherwise(when(size(col("__prev")) - k + col("__rn") >= 1,
            element_at(col("__prev"),
              (size(col("__prev")) - k + col("__rn")).cast("int")))))
    }
    repaired.drop(groupCols.map(x => s"__c_$x"): _*)
      .drop("__cbk", "__prev", "__bk", "__rn", "__bn")
  }

  /** Per-group lag-k autocorrelation, k = 1…maxLag — "does this metric
    * remember itself?": the seasonality/momentum detector that decides
    * whether [[ewma]] smoothing or [[graft.llm.Drift.cusum]] alarms are
    * even meaningful on a slice, and the independence check before any
    * i.i.d.-assuming statistic (q150's t-test, q152's bootstrap).
    *
    *   ρ_k = Σᵢ (v_i − v̄)(v_{i+k} − v̄) / Σᵢ (v_i − v̄)²
    *
    * Exactness: deviations are kept ×n — `dl_i = n·v4_i − T` with T the
    * exact scale-4 group total — so every deviation is an exact LONG
    * (bound: n·|v|·10⁴ must fit a long, the cusum contract; pre-bucket
    * past ~10⁹·10⁴) and the num/den sums are exact DECIMAL on any merge
    * tree; each ρ_k is ONE double division of two exact integers (the
    * ×n² factors cancel).
    *
    * Plan: answer-sized totals broadcast-attached (null-safe), ONE
    * ordered window carrying all maxLag lag() offsets (small K — the
    * [[ewma]] A/B showed per-offset frame processors only hurt at K ≈
    * 50+), one moment aggregate. Per-group sequential by nature.
    *
    * @return per group: (groupCols…, n, rho1…rho<maxLag>) — ρ NULL for
    *         constant or too-short series
    */
  def acf(
      df: DataFrame, groupCols: Seq[String], orderCol: Column,
      valueCol: Column, tieCols: Seq[String], maxLag: Int = 5): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(maxLag >= 1 && maxLag <= 20, s"maxLag out of [1,20]: $maxLag")
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val base = df.filter(valueCol.isNotNull)
      .select(g ++ Seq(orderCol.as("__o"),
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long")
          .as("__v4")) ++ tieCols.map(col): _*)
    // Lags via the parallel bucket backbone ([[laggedWithTotals]]); totals
    // arrive on the same broadcast. Lags are taken on the RAW series and
    // demeaned afterwards: lag(n·v −Σ) = n·lag(v) − Σ within a group, so
    // the arithmetic (exact longs) is unchanged.
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val withLags = laggedWithTotals(base, groupCols, tieCols, "__v4", maxLag,
        Seq(count(lit(1)).as("__n"), sum(col("__v4")).as("__t")))
      .withColumn("__dl", col("__n") * col("__v4") - col("__t"))
    val lagged = (1 to maxLag).foldLeft(withLags) { (d, k) =>
      d.withColumn(s"__l$k", col("__n") * col(s"__rl$k") - col("__t"))
    }
    val aggs = sum(dec(col("__dl")) * dec(col("__dl"))).as("__den") +:
      (1 to maxLag).map(k =>
        sum(dec(col("__dl")) * dec(col(s"__l$k"))).as(s"__num$k"))
    lagged.groupBy(g: _*)
      .agg(max(col("__n")).as("n"), aggs: _*)
      .select(g ++ Seq(col("n")) ++ (1 to maxLag).map(k =>
        when(col("__den") > 0,
          col(s"__num$k").cast("double") / col("__den").cast("double"))
          .as(s"rho$k")): _*)
  }

  /** Cross-correlation function per group — [[acf]]'s two-series sibling:
    * does series y LEAD series x by k steps? ρ_k = corr(x_t, y_{t−k}) for
    * k = 0…maxLag over the (orderCol, tieCols)-ordered rows ("does an
    * error spike follow a deploy event three bins later?" — the
    * lead/lag diagnostic run before pairing metrics in a dashboard).
    *
    * Rows with EITHER value NULL are excluded first (pairwise-complete
    * series; the lag index runs over kept rows — document gaps by
    * resampling with [[resampleFill]] first when bins can be empty).
    *
    * Exactness (the [[acf]] trick, doubled): both series demean as exact
    * longs `dx = n·x4 − Σx4`, `dy = n·y4 − Σy4`; all Σdx·dy_{−k}, Σdx²,
    * Σdy² accumulate in DECIMAL(38,0); each ρ_k is one mirrored double
    * division with a √ of an exact product. The n-scaling cancels.
    *
    * Plan: one broadcast of the per-group totals, one ordered window for
    * the lags, one hash aggregate — nothing data-sized after the window.
    *
    * @return per group: (groupCols…, n, rho0, rho1…rho⟨maxLag⟩) — NULL
    *         when either series is constant
    */
  def ccf(
      df: DataFrame, groupCols: Seq[String], orderCol: Column,
      xCol: Column, yCol: Column, tieCols: Seq[String],
      maxLag: Int = 5): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(maxLag >= 0 && maxLag <= 20, s"maxLag out of [0,20]: $maxLag")
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val base = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select(g ++ Seq(orderCol.as("__o"),
        floor(xCol.cast("double") * 10000 + 0.5).cast("long").as("__x4"),
        floor(yCol.cast("double") * 10000 + 0.5).cast("long").as("__y4")) ++
        tieCols.map(col): _*)
    // Lags via the parallel bucket backbone ([[laggedWithTotals]] — the
    // [[acf]] scale rework); totals arrive on the same broadcast. Lags are
    // taken on the RAW y series and demeaned after: lag(n·y −Σy) =
    // n·lag(y) − Σy within a group — identical exact-long arithmetic. The
    // single-projection base keeps the per-row JSON extraction (q200's y
    // column) paid once per scan.
    val withD = laggedWithTotals(base, groupCols, tieCols, "__y4", maxLag,
        Seq(count(lit(1)).as("__n"), sum(col("__x4")).as("__tx"),
          sum(col("__y4")).as("__ty")))
      .withColumn("__dx", col("__n") * col("__x4") - col("__tx"))
      .withColumn("__dy", col("__n") * col("__y4") - col("__ty"))
    val lagged = (1 to maxLag).foldLeft(withD) { (d, k) =>
      d.withColumn(s"__yl$k", col("__n") * col(s"__rl$k") - col("__ty"))
    }
    val aggs =
      Seq(sum(dec(col("__dx")) * dec(col("__dx"))).as("__dxx"),
        sum(dec(col("__dy")) * dec(col("__dy"))).as("__dyy"),
        sum(dec(col("__dx")) * dec(col("__dy"))).as("__num0")) ++
      (1 to maxLag).map(k =>
        sum(dec(col("__dx")) * dec(col(s"__yl$k"))).as(s"__num$k"))
    lagged.groupBy(g: _*)
      .agg(max(col("__n")).as("n"), aggs: _*)
      .select(g ++ Seq(col("n")) ++ (0 to maxLag).map(k =>
        when(col("__dxx") > 0 && col("__dyy") > 0,
          col(s"__num$k").cast("double") /
            sqrt(col("__dxx").cast("double") * col("__dyy").cast("double")))
          .as(s"rho$k")): _*)
  }

  /** Durbin–Watson statistic per group — first-order serial correlation
    * in an ordered residual series:
    *
    *   DW = Σ_{t≥2} (e_t − e_{t−1})² / Σ_t e_t²   ∈ [0, 4]
    *
    * (≈2 independent, →0 positively autocorrelated, →4 alternating).
    * The regression-diagnostics companion to [[acf]]'s rho1 — run it on
    * the residuals of a fit (q166's harmonic residuals, a target-encode
    * residual) to decide whether "i.i.d. errors" is a lie.
    *
    * Exactness: residuals demean as exact longs `e = n·v4 − Σv4` (the
    * [[acf]] trick — DW is scale-invariant so the n-scaling cancels);
    * both sums accumulate in DECIMAL(38,0); DW is ONE double division of
    * exact integers. NULL values are excluded before ordering.
    *
    * @return per group: (groupCols…, n, dw) — dw NULL when n &lt; 2 or
    *         the series is constant
    */
  def durbinWatson(
      df: DataFrame, groupCols: Seq[String], orderCol: Column,
      valueCol: Column, tieCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val base = df.filter(valueCol.isNotNull)
      .select(g ++ Seq(orderCol.as("__o"),
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long")
          .as("__v4")) ++ tieCols.map(col): _*)
    // Lag-1 via the parallel bucket backbone ([[laggedWithTotals]] — the
    // [[acf]] scale rework); totals arrive on the same broadcast.
    // e − lag(e) = n·(v − lag(v)) within a group, computed here as exact
    // longs from the raw lag so the sums are bit-identical.
    laggedWithTotals(base, groupCols, tieCols, "__v4", 1,
        Seq(count(lit(1)).as("__n"), sum(col("__v4")).as("__t")))
      .withColumn("__e", col("__n") * col("__v4") - col("__t"))
      .withColumn("__pd", col("__e") - (col("__n") * col("__rl1") - col("__t")))
      .groupBy(g: _*)
      .agg(max(col("__n")).as("n"),
        sum(dec(col("__e")) * dec(col("__e"))).as("__den"),
        sum(dec(col("__pd")) * dec(col("__pd"))).as("__num"))
      .select(g ++ Seq(col("n"),
        when(col("n") > 1 && col("__den") > 0,
          col("__num").cast("double") / col("__den").cast("double"))
          .as("dw")): _*)
  }

  /** Gap-fill resample per key — regularize an irregular series onto a
    * fixed `stepSec` grid from each key's first to last observation,
    * forward-filling missing bins from the most recent value (the
    * pre-processing every windowed/convolutional operator here assumes:
    * [[ewma]], [[acf]], [[ccf]] index by ROW, so empty bins must become
    * rows first).
    *
    * Per (key, bin) the LAST observation wins, by (timeCol, tieCol) —
    * the caller supplies the unique tie-break (the q07 top-1 convention).
    * Bins are `⌊epoch/step⌋·step` longs (the [[graft.functions.Macros]]
    * floorBinEpoch convention); the grid is generated with `sequence()`
    * per key — grid size is span/step, so choose a step that bounds
    * rows-per-key (a year of 10-min bins ≈ 53k rows/key; for multi-year
    * spans at second granularity, bin coarser first — the
    * [[graft.llm.Drift.cusum]] bucket-first contract).
    *
    * Plan: one (key, bin) top-1 window, one answer-sized span aggregate,
    * one sequence-explode (the grid), one bin-keyed equi-join, one
    * forward-fill window per key. No shuffle is data-sized beyond the
    * grid itself; the fill value always exists (the grid starts at the
    * first OBSERVED bin).
    *
    * @param method "locf" carries the last observation forward (values
    *               pass through UNTOUCHED — no arithmetic); "linear"
    *               interpolates between the bracketing observations as
    *               one double expression of exact bin longs (every
    *               filled bin has both brackets by grid construction)
    * @return per (key, grid bin): (keyCols…, bin_epoch, value,
    *         is_filled) — value carried forward (or interpolated) where
    *         is_filled
    */
  def resampleFill(
      df: DataFrame, keyCols: Seq[String], timeCol: Column,
      valueCol: Column, stepSec: Long, tieCol: Column,
      method: String = "locf"): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(stepSec > 0, s"stepSec must be positive: $stepSec")
    require(method == "locf" || method == "linear",
      s"method must be locf|linear: $method")
    val k = keyCols.map(col)
    val wTop = Window.partitionBy(k :+ col("__bin"): _*)
      .orderBy(col("__ts").desc, col("__tb").desc)
    val obs = df
      .filter(timeCol.isNotNull && valueCol.isNotNull)
      .select(k ++ Seq(
        (floor(timeCol.cast("timestamp").cast("long") / stepSec) * stepSec)
          .cast("long").as("__bin"),
        timeCol.as("__ts"), tieCol.as("__tb"), valueCol.as("__v")): _*)
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") === 1)
      .select(k ++ Seq(col("__bin"), col("__v")): _*)
    val grid = obs.groupBy(k: _*)
      .agg(min(col("__bin")).as("__lo"), max(col("__bin")).as("__hi"))
      .select(k :+ explode(sequence(col("__lo"), col("__hi"),
        lit(stepSec))).as("__bin"): _*)
    val wFill = Window.partitionBy(k: _*).orderBy(col("__bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = grid.join(obs, keyCols :+ "__bin", "left")
      .withColumn("is_filled", col("__v").isNull)
    if (method == "locf") {
      joined
        .withColumn("value", last(col("__v"), ignoreNulls = true).over(wFill))
        .select(k ++ Seq(col("__bin").as("bin_epoch"), col("value"),
          col("is_filled")): _*)
    } else {
      // linear: interpolate between the bracketing observations. Every
      // filled bin HAS both brackets (the grid spans first..last observed
      // bin), so the expression below never sees a NULL side. The
      // interpolation is ONE double expression of the exact bin longs and
      // the two observed values — mirrorable verbatim in SQL.
      val wBack = Window.partitionBy(k: _*).orderBy(col("__bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val obsBin = when(col("__v").isNotNull, col("__bin"))
      val lerped = joined
        .withColumn("__pv",
          last(col("__v"), ignoreNulls = true).over(wFill).cast("double"))
        .withColumn("__pb", last(obsBin, ignoreNulls = true).over(wFill))
        .withColumn("__nv",
          last(col("__v"), ignoreNulls = true).over(wBack).cast("double"))
        .withColumn("__nb", last(obsBin, ignoreNulls = true).over(wBack))
      lerped
        .withColumn("value",
          when(!col("is_filled"), col("__v").cast("double"))
            .otherwise(col("__pv") + (col("__nv") - col("__pv")) *
              (col("__bin") - col("__pb")).cast("double") /
              (col("__nb") - col("__pb")).cast("double")))
        .select(k ++ Seq(col("__bin").as("bin_epoch"), col("value"),
          col("is_filled")): _*)
    }
  }

  /** Seasonal index per (group, season slot) — the ratio-to-overall
    * seasonality table (dow/hour-of-day multipliers: "Mondays run 1.18×
    * the average") that [[seasonalNaiveEval]]'s baseline implicitly
    * assumes and a capacity planner reads directly:
    *
    *   index_s = mean_s / mean = (S_s · n) / (n_s · S)
    *
    * Exactness: per-slot and overall sums are exact DECIMAL(38,0) over
    * scale-4 longs; the index is ONE double division of two exact DECIMAL
    * products — no intermediate means, no order dependence. NULL values
    * are excluded; NULL season slots are first-class. Index is NULL when
    * the overall sum is exactly 0 (decided in DECIMAL).
    *
    * Plan: one (group, season) aggregate + one answer-sized totals window
    * over the slot frame.
    *
    * @return per (group, season): (groupCols…, season, n_s, mean_s,
    *         index)
    */
  def seasonalIndex(
      df: DataFrame, groupCols: Seq[String],
      seasonCol: Column, valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val slots = df.filter(valueCol.isNotNull)
      .select(g ++ Seq(seasonCol.as("season"),
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long")
          .as("__v4")): _*)
      .groupBy(g :+ col("season"): _*)
      .agg(count(lit(1)).as("n_s"), sum(dec(col("__v4"))).as("__s4"))
    val wAll = Window.partitionBy(g: _*)
    // NB: the total must NOT be named "__S4" — Spark's default
    // case-insensitive resolution makes withColumn REPLACE "__s4" with it
    slots
      .withColumn("__n", sum(col("n_s")).over(wAll))
      .withColumn("__tot4", sum(col("__s4")).over(wAll))
      .select(g ++ Seq(col("season"), col("n_s"),
        (col("__s4").cast("double") / col("n_s").cast("double") / 1e4)
          .as("mean_s"),
        when(col("__tot4") =!= dec(lit(0)),
          (col("__s4") * dec(col("__n"))).cast("double") /
            (dec(col("n_s")) * col("__tot4")).cast("double")).as("index")): _*)
  }

  /** Seasonal-naive forecast scorecard per group — before any model earns
    * a slot, it must beat "the value one season ago": this scores that
    * baseline (or, by extension, flags series where even it fails) with
    * the four standard errors over an ordered series:
    *
    *   MAE, RMSE, SMAPE = mean 2|e|/(|a|+|f|),
    *   MASE = MAE / MAE(one-step naive)   (Hyndman & Koehler 2006)
    *
    * where f_t = v_{t−season} (rows with no seasonal predecessor are
    * excluded from the errors; n_eval counts kept rows) and MASE's
    * denominator is the in-sample one-step naive error — MASE &lt; 1
    * means the seasonal baseline beats last-value-carried-forward.
    *
    * Exactness: values are scale-4 longs, so errors are exact integers;
    * Σ|e| and Σe² accumulate in DECIMAL(38,0); each SMAPE term is one
    * double division of exact ints floored at scale 8 into a LONG (0/0
    * terms — both sides zero — count 0, documented); MAE/RMSE/SMAPE/MASE
    * are fixed double tails. Run [[resampleFill]] first when bins can be
    * missing — the lag index is ROW-based.
    *
    * Plan: one ordered window (two lags in the same frame), one hash
    * aggregate.
    *
    * @return per group: (groupCols…, n, n_eval, mae, rmse, smape, mase)
    *         — NULLs when n_eval = 0 (mase also when the naive error
    *         sum is 0)
    */
  def seasonalNaiveEval(
      df: DataFrame, groupCols: Seq[String], orderCol: Column,
      valueCol: Column, tieCols: Seq[String], season: Int): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(season >= 1, s"season must be >= 1: $season")
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val ord = col("__o").asc +: tieCols.map(c => col(c).asc)
    val w = Window.partitionBy(g: _*).orderBy(ord: _*)
    val lagged = df.filter(valueCol.isNotNull)
      .select(g ++ Seq(orderCol.as("__o"),
        floor(valueCol.cast("double") * 10000 + 0.5).cast("long")
          .as("__v4")) ++ tieCols.map(col): _*)
      .withColumn("__f4", lag(col("__v4"), season).over(w))
      .withColumn("__p4", lag(col("__v4"), 1).over(w))
      .withColumn("__e", col("__v4") - col("__f4"))
      .withColumn("__sm8",
        when(abs(col("__v4")) + abs(col("__f4")) > 0,
          floor(lit(2.0) * abs(col("__e")).cast("double") /
            (abs(col("__v4")) + abs(col("__f4"))).cast("double") *
            lit(1e8) + 0.5).cast("long"))
          .otherwise(lit(0L)))
    val m = lagged.groupBy(g: _*).agg(
      count(lit(1)).as("n"),
      sum(when(col("__f4").isNotNull, 1L).otherwise(0L)).as("n_eval"),
      sum(abs(dec(col("__e")))).as("__sae"),
      sum(dec(col("__e")) * dec(col("__e"))).as("__se2"),
      sum(when(col("__f4").isNotNull, col("__sm8")).otherwise(0L)).as("__sm8"),
      sum(when(col("__p4").isNotNull, 1L).otherwise(0L)).as("__n1"),
      sum(abs(dec(col("__v4") - col("__p4")))).as("__sad"))
    val ne = col("n_eval").cast("double")
    m.select(g ++ Seq(col("n"), col("n_eval"),
      when(col("n_eval") > 0,
        col("__sae").cast("double") / ne / 1e4).as("mae"),
      when(col("n_eval") > 0,
        sqrt(col("__se2").cast("double") / ne) / 1e4).as("rmse"),
      when(col("n_eval") > 0,
        col("__sm8").cast("double") / lit(1e8) / ne).as("smape"),
      when(col("n_eval") > 0 && col("__n1") > 0 && col("__sad") > 0,
        (col("__sae").cast("double") / ne) /
          (col("__sad").cast("double") / col("__n1").cast("double")))
        .as("mase")): _*)
  }
}
