package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

/** Data-quality profiling (reference A7 missing-value profile,
  * `app/streamlit_app.py:142-148`).
  */
object Profile {

  /** Per-column null fraction, one output row per column:
    * (column_name, n_null, null_frac). One pass: a single partial+final
    * aggregate over all columns at once (NOT one job per column) that keeps
    * the row count and one null count per column, k + 1 buffer fields for
    * k columns, so up to 99 columns stay inside whole-stage codegen (Spark's
    * limit is 100 fields). `null_frac = n_null / n` divides two exact
    * counts, so it equals `avg(isNull)` bit for bit; an empty frame gives
    * NULL for both.
    */
  def missingProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +: cols.map(c => sum(col(c).isNull.cast(LongType)).as(s"__n_$c"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    // pivot the single row to long form with a stack expression
    val stackArgs = cols.flatMap(c =>
      Seq(lit(c), col(s"__n_$c"), try_divide(col(s"__n_$c"), col("__n"))))
    one.select(stack(lit(cols.size) +: stackArgs: _*).as(Seq("column_name", "n_null", "null_frac")))
  }

  /** Dataset card: per-column completeness + exact cardinality in ONE
    * pass — the table-level profile a training-data release ships
    * (datasheet/data-card row: how complete and how diverse is each
    * field), extending [[missingProfile]] with exact distinct counts.
    * Output one row per column: (column_name, n_rows, n_null,
    * null_frac, n_distinct); `n_distinct` excludes NULL (the SQL
    * COUNT(DISTINCT) convention).
    *
    * Scale: one aggregate with k exact count-distincts — Catalyst plans
    * multi-distinct via Expand (rows × k before the map-side combine),
    * the standard profile-pass cost, still a single job with no window
    * and no collect; swap in [[Hll]] sketches when an estimate is
    * acceptable and k·rows is too hot.
    */
  def datasetCard(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val aggs = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c =>
      Seq(sum(col(c).isNull.cast(LongType)).as(s"__nn_$c"),
        count_distinct(col(c)).as(s"__nd_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.flatMap(c => Seq(lit(c), col(s"__nn_$c"), col(s"__nd_$c")))
    one.select(col("__n"),
        stack(lit(cols.size) +: stackArgs: _*).as(Seq("column_name", "n_null", "n_distinct")))
      .select(col("column_name"), col("__n").as("n_rows"), col("n_null"),
        (col("n_null").cast(DoubleType) / col("__n")).as("null_frac"),
        col("n_distinct"))
  }

  /** Per-group Shannon entropy (bits) of a categorical column — the
    * dataset-composition diversity metric ("how mixed is each source's
    * language distribution"): 0 = all one value, log₂(#values) = uniform.
    * Output: (groupCols…, n, n_values, entropy_bits, norm_entropy) where
    * `norm_entropy = entropy / log₂(n_values)` (null when n_values = 1).
    *
    * Computed as `log₂(n) − (Σ c·log₂(c)) / n` over the per-(group, value)
    * counts c — algebraically equal to −Σ p·log₂p but with one log per
    * DISTINCT value instead of one division per value, and exact integer
    * (n, c) inputs to every log.
    *
    * Plan shape (scale story): two chained hash aggregates —
    * (group, value) counts, then per-group combine — the q22/q94 two-level
    * shape: no Expand, no window, shuffle volume bounded by
    * |groups × values| after map-side combine, not by row count.
    *
    * Determinism: Σ c·log₂(c) is a double sum whose last-ulp value is
    * association-dependent; the catalog's r4 rounding absorbs it (the q47
    * moments convention — see that scaladoc for the boundary analysis and
    * the DECIMAL escape hatch).
    */
  def categoricalEntropy(
      df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    df.filter(col(valueCol).isNotNull)
      .groupBy((g :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(g: _*)
      .agg(
        sum(col("__c")).as("n"),
        count(lit(1)).as("n_values"),
        sum(col("__c").cast(DoubleType) * log2(col("__c"))).as("__clc"))
      .select((g ++ Seq(
        col("n"), col("n_values"),
        (log2(col("n")) - col("__clc") / col("n")).as("entropy_bits"),
        when(col("n_values") > 1,
          (log2(col("n")) - col("__clc") / col("n")) / log2(col("n_values")))
          .as("norm_entropy"))): _*)
  }

  /** Benford first-significant-digit audit per group — the
    * fabricated-or-truncated-numbers smoke test (naturally occurring
    * multi-scale positive values follow P(d) = log₁₀(1 + 1/d); capped,
    * synthesized, or unit-collapsed columns don't): per digit 1–9,
    * observed share vs the Benford expectation and their signed gap.
    *
    * Determinism AND full-magnitude coverage: the value is normalized
    * into [1, 10¹¹) by a FOLD over exact powers of ten — `/10²²` while
    * ≥ 10²² (14 steps cover DoubleMax), `×10²²` while < 1 (15 steps
    * reach the smallest subnormal), one `/10¹¹` tail — so EVERY finite
    * positive double participates with its true first significant digit.
    * The fold uses ONLY IEEE multiply/divide by the exactly-representable
    * constants 10²²/10¹¹ (no `pow`, no `log10` in the digit path — libm
    * `pow(10, e)` differs between JVM and C at e = 23 and e = 210,
    * measured on this host, which would flip boundary digits), so the
    * normalized mantissa is BIT-IDENTICAL cross-engine by construction.
    * The digit is then integer string rendering of `floor(m)` (long →
    * string, no double-format divergence). `expected` is log₁₀(1 + 1/d)
    * computed in-engine on 9 literal digits (±1-ulp caveat, r4-rounded
    * downstream like every ln-family statistic).
    *
    * Magnitude contract: any finite positive double. The ≤31 IEEE
    * normalization steps each carry ≤½ ulp, so a value within a few ulp
    * of a decade boundary can report the neighboring digit — identically
    * in both engines (shared constants, shared op order); there is no
    * engine-divergence caveat. NaN, ±Inf, zero and negatives are
    * excluded (Benford is defined on positive magnitudes).
    *
    * Scale: one (group, digit) hash aggregate; the group total rides a
    * window over the ≤9-rows-per-group digit frame. Answer-sized. The
    * fold is a runtime loop (constant-size expression tree), not an
    * unrolled CASE nest.
    *
    * @return per (group, digit): (groupCols…, digit, n, n_d, frac,
    *         expected, dev) — dev = frac − expected
    */
  def benford(
      df: DataFrame, groupCols: Seq[String],
      valueCol: org.apache.spark.sql.Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val wG = Window.partitionBy(g: _*)
    val v = valueCol.cast(DoubleType)
    val down = aggregate(sequence(lit(1), lit(14)), v,
      (acc, _) => when(acc >= lit(1e22), acc / lit(1e22)).otherwise(acc))
    val up = aggregate(sequence(lit(1), lit(15)), down,
      (acc, _) => when(acc < lit(1.0), acc * lit(1e22)).otherwise(acc))
    df.filter(valueCol.isNotNull && v > 0 &&
        v <= lit(java.lang.Double.MAX_VALUE))
      .select(g :+ up.as("__m22"): _*)
      .withColumn("__m", when(col("__m22") >= lit(1e11),
        col("__m22") / lit(1e11)).otherwise(col("__m22")))
      .withColumn("digit",
        substring(floor(col("__m")).cast(LongType).cast(StringType), 1, 1)
          .cast(IntegerType))
      .groupBy(g :+ col("digit"): _*)
      .agg(count(lit(1)).as("n_d"))
      .withColumn("n", sum(col("n_d")).over(wG))
      .withColumn("frac",
        col("n_d").cast(DoubleType) / col("n").cast(DoubleType))
      .withColumn("expected",
        log10(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType)))
      .withColumn("dev", col("frac") - col("expected"))
      .select(g ++ Seq(col("digit"), col("n"), col("n_d"), col("frac"),
        col("expected"), col("dev")): _*)
  }

  /** ABC (Pareto) classification per group — rank keys by their value
    * share and class them A/B/C at cumulative thresholds (the inventory/
    * revenue-concentration triage: "which 20% of parts carry 80% of
    * spend?"). The per-key rendering of the concentration [[Eval.gini]]
    * summarizes into one number.
    *
    * Determinism: keys rank by (value DESC, key ASC) — a total order.
    * Class boundaries are EXACT integer comparisons of the cumulative
    * rational: key is A while cum·100 ≤ aPct·total (in DECIMAL — never a
    * double ≥-threshold at a boundary), B while ≤ bPct·total, else C; the
    * key that CROSSES a threshold takes the next class. Values are
    * scale-4 longs and must be non-negative (negative values would make
    * the cumulative share non-monotone — not checked, documented).
    *
    * Plan: one (group, key) aggregate, one ranked window per group, one
    * totals window — nothing beyond the key-sized frame after the first
    * exchange.
    *
    * @return per (group, key): (groupCols…, key, rnk, value4, cum4,
    *         share, abc_class)
    */
  def abcClassification(
      df: DataFrame, groupCols: Seq[String],
      keyCol: org.apache.spark.sql.Column,
      valueCol: org.apache.spark.sql.Column,
      aPct: Int = 80, bPct: Int = 95): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(0 < aPct && aPct < bPct && bPct <= 100,
      s"need 0 < aPct < bPct <= 100: $aPct, $bPct")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val g = groupCols.map(col)
    val dec = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val byKey = df
      .filter(keyCol.isNotNull && valueCol.isNotNull)
      .select(g ++ Seq(keyCol.cast(StringType).as("key"),
        floor(valueCol.cast(DoubleType) * 10000 + 0.5).cast(LongType)
          .as("__v4")): _*)
      .groupBy(g :+ col("key"): _*)
      .agg(sum(col("__v4")).as("value4"))
    val wRank = Window.partitionBy(g: _*)
      .orderBy(col("value4").desc, col("key").asc)
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(g: _*)
    byKey
      .withColumn("rnk", row_number().over(wRank).cast(LongType))
      .withColumn("cum4", sum(col("value4")).over(wCum))
      .withColumn("__tot", sum(col("value4")).over(wTot))
      .select(g ++ Seq(col("key"), col("rnk"), col("value4"), col("cum4"),
        when(col("__tot") > 0,
          col("cum4").cast(DoubleType) / col("__tot").cast(DoubleType))
          .as("share"),
        when(dec(col("cum4")) * 100 <= dec(col("__tot")) * aPct, "A")
          .when(dec(col("cum4")) * 100 <= dec(col("__tot")) * bPct, "B")
          .otherwise("C").as("abc_class")): _*)
  }

  /** Foreign-key health audit — how many child rows reference a parent
    * that doesn't exist? The referential-integrity gate run after every
    * ingest/upsert (a nonzero orphan rate after q15's month upsert means
    * the merge dropped parents it shouldn't have).
    *
    * NULL child keys are counted separately (`n_null_key`) — a NULL FK is
    * "intentionally unparented", not an orphan; rows with any NULL key
    * component are excluded from the orphan check (the SQL FK semantics).
    *
    * Plan: one LEFT SEMI-shaped aggregate — child keys aggregate FIRST
    * (map-side combined, key-sized), then one equi-join against the
    * distinct parent keys, then one scalar aggregate. The child table
    * never shuffles raw; broadcast the parent side when it is
    * dimension-sized (Spark's planner does, under the threshold).
    *
    * @param keys child-column → parent-column name pairs
    * @return ONE row: (n_child, n_null_key, n_orphans, n_distinct_missing,
    *         orphan_rate) — orphan_rate over non-NULL-key child rows
    */
  def fkAudit(
      child: DataFrame, parent: DataFrame,
      keys: Seq[(String, String)]): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    val ck = keys.map { case (c, _) => col(c) }
    val nonNull = ck.map(_.isNotNull).reduce(_ && _)
    val childKeys = child
      .select((ck :+ nonNull.as("__ok")): _*)
      .groupBy((keys.map { case (c, _) => col(c) } :+ col("__ok")): _*)
      .agg(count(lit(1)).as("__n"))
    val parentKeys = parent
      .select(keys.map { case (c, p) => col(p).as(s"__p_$c") }: _*)
      .distinct()
    val cond = keys.map { case (c, _) => col(c) === col(s"__p_$c") }
      .reduce(_ && _)
    childKeys
      .join(parentKeys, cond, "left")
      .agg(
        sum(col("__n")).as("n_child"),
        sum(when(!col("__ok"), col("__n")).otherwise(0L)).as("n_null_key"),
        sum(when(col("__ok") && col(s"__p_${keys.head._1}").isNull,
          col("__n")).otherwise(0L)).as("n_orphans"),
        sum(when(col("__ok") && col(s"__p_${keys.head._1}").isNull, 1L)
          .otherwise(0L)).as("n_distinct_missing"))
      .select(col("n_child"), col("n_null_key"), col("n_orphans"),
        col("n_distinct_missing"),
        when(col("n_child") - col("n_null_key") > 0,
          col("n_orphans").cast(DoubleType) /
            (col("n_child") - col("n_null_key")).cast(DoubleType))
          .as("orphan_rate"))
  }

  /** Functional-dependency audit — "does A determine B?" (is station_id →
    * station_name actually a function, or did two ingests disagree?). The
    * schema-inference / normalization check a curation pipeline runs
    * before trusting a column as a lookup key.
    *
    * A determinant VALUE violates when it maps to ≥ 2 distinct dependent
    * values (NULL counts as a value — two rows (k, NULL) and (k, 'x')
    * disagree). Output is the per-group audit summary plus the violation
    * mass, all exact longs.
    *
    * Plan: one (group, lhs, rhs) distinct-pair aggregate (map-side
    * combined), one (group, lhs) aggregate, one group aggregate — each
    * step strictly smaller; nothing row-sized after the first exchange.
    *
    * @return per group: (groupCols…, n_rows, n_lhs, n_violating_lhs,
    *         n_violating_rows, max_rhs_per_lhs, fd_holds)
    */
  def fdViolations(
      df: DataFrame, groupCols: Seq[String],
      lhsCol: org.apache.spark.sql.Column,
      rhsCol: org.apache.spark.sql.Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val pairs = df
      .select(g ++ Seq(lhsCol.cast(StringType).as("__l"),
        rhsCol.cast(StringType).as("__r")): _*)
      .groupBy(g ++ Seq(col("__l"), col("__r")): _*)
      .agg(count(lit(1)).as("__n"))
    val byLhs = pairs.groupBy(g :+ col("__l"): _*)
      .agg(count(lit(1)).as("__k"), sum(col("__n")).as("__rows"))
    byLhs.groupBy(g: _*)
      .agg(
        sum(col("__rows")).as("n_rows"),
        count(lit(1)).as("n_lhs"),
        sum(when(col("__k") > 1, 1L).otherwise(0L)).as("n_violating_lhs"),
        sum(when(col("__k") > 1, col("__rows")).otherwise(0L))
          .as("n_violating_rows"),
        max(col("__k")).as("max_rhs_per_lhs"))
      .withColumn("fd_holds", col("n_violating_lhs") === 0L)
  }
}
