package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** AS-OF join: for each left row, attach the latest right row with
  * `rightTime <= leftTime` within the same key, optionally bounded by a
  * staleness tolerance (reference J5, `src/10_build_features.py:168-178` +
  * staleness post-filter `10:254-259`).
  *
  * One contract for [[join]], [[joinBucketed]] and [[nearestJoin]]: keys
  * match with SQL equi-join semantics (NULL never matches NULL), right
  * rows with a NULL time never match, every left row is kept, ties among
  * right rows at one timestamp are broken by a required column, and
  * tolerances are exact microsecond intervals (`unix_micros`).
  *
  * Spark has no built-in AS-OF join. The naive theta-join
  * (`l.join(r, r.ts <= l.ts)`) is a per-key cartesian product — quadratic,
  * dead at scale. This implementation uses the *union + ordered window*
  * technique instead: tag both sides, union, and run
  * `last(value, ignoreNulls).over(partitionBy(key).orderBy(ts, side).rowsBetween(-inf, 0))`.
  * Cost = one hash shuffle + one sort over (|L|+|R|) rows — the same
  * complexity class as a sort-merge join, linear in data size, fully
  * parallel per key. This is the plan a native engine's ASOF operator
  * produces, expressed with built-in operators so Catalyst/AQE still apply.
  */
object Asof {

  /** @param left        left (probe) side; all its columns are preserved
    * @param right       right (reference) side
    * @param keys        equi-join key column names (present on both sides)
    * @param leftTime    event-time column on `left`
    * @param rightTime   event-time column on `right`
    * @param payloadCols right columns to carry (renamed as given)
    * @param rightTieBreak column ordering right rows that share a timestamp;
    *                      the *last* under this ordering wins (deterministic)
    * @param toleranceUs if set, matches more than this many MICROSECONDS
    *                    older than the left row are nulled out (reference
    *                    staleness rule F6)
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      payloadCols: Map[String, String],
      rightTieBreak: String,
      toleranceUs: Option[Long] = None): DataFrame = {

    val unioned = sides(left, right, keys, leftTime, rightTime, payloadCols,
      rightTieBreak, "__ts", identity, "__asof_ts")

    // Right rows sort before left rows at equal ts (side 0 < 1) so a right
    // row at exactly leftTime matches (<= semantics). Among right ties the
    // last under __tb wins via last(ignoreNulls).
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc, col("__tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = unioned
      .withColumn("__m", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)

    val fresh = toleranceUs.fold(col("__m"))(tol => when(col("__m").isNotNull &&
      (unix_micros(col("__ts")) - unix_micros(col("__m.__asof_ts"))) <= tol, col("__m")))

    val withPayload = payloadCols.toSeq.sortBy(_._1).foldLeft(
      matched.withColumn("__f", fresh)
        .withColumn("asof_ts", col("__f.__asof_ts"))) {
      case (df, (_, to)) => df.withColumn(to, col(s"__f.$to"))
    }

    withPayload.drop("__ts", "__side", "__tb", "__rv", "__m", "__f")
  }

  /** Tolerance-bounded AS-OF join with an additional *time-bucket* partition
    * key — the scale shape for low-cardinality (or empty) key sets, where
    * [[join]]'s per-key window would otherwise funnel all rows through a
    * handful of tasks.
    *
    * Left rows land in bucket `floor(ts / bucketSeconds)`; right rows are
    * replicated into their own bucket and the next one, so a left row near a
    * bucket's start still sees the latest right row from the tail of the
    * previous bucket. Because every match farther than `toleranceUs` in the
    * past is nulled anyway, a tolerance of at most `bucketSeconds` makes the
    * result EXACTLY equal to the unbucketed join — while the shuffle is hash-
    * partitioned on (keys, bucket): parallelism grows with the time span of
    * the data instead of collapsing to one task per key.
    */
  def joinBucketed(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      payloadCols: Map[String, String],
      rightTieBreak: String,
      toleranceUs: Long,
      bucketSeconds: Long = 86400L): DataFrame = {
    require(toleranceUs <= bucketSeconds * 1000000L,
      s"bucketed ASOF is only exact when toleranceUs ($toleranceUs) <= bucketSeconds ($bucketSeconds) in µs")
    def bucketOf(c: Column) = floor(c.cast(TimestampType).cast(LongType) / bucketSeconds)
    val lb = left.withColumn("__bucket", bucketOf(col(leftTime)))
    val rb0 = right.withColumn("__bucket", bucketOf(col(rightTime)))
    val rb = rb0.unionByName(rb0.withColumn("__bucket", col("__bucket") + 1))
    join(lb, rb, keys :+ "__bucket", leftTime, rightTime, payloadCols,
      rightTieBreak, Some(toleranceUs))
      .drop("__bucket")
  }

  /** NEAREST join: for each left row, the right row with the MINIMUM
    * absolute time distance within the same key — [[join]]'s two-sided
    * sibling (AS-OF looks only backward; sensor/price alignment often
    * wants "closest reading either way"). Same union + ordered window
    * technique, run in BOTH directions over ONE union frame (two windows
    * share the exchange; only the sort differs), so cost stays one hash
    * shuffle + two sorts over |L|+|R| rows — never the per-key cartesian
    * of the naive `abs(dt) <= tol` theta-join.
    *
    * Deterministic choice, mirrorable in ANSI SQL: candidates rank by
    * (|dt| ASC, backward-before-forward at equal distance, tieBreak ASC
    * among equal-timestamp right rows); dt compares in exact MICROSECOND
    * longs (`unix_micros`), never truncated seconds.
    *
    * @param rightTieBreak column ordering right rows that share a
    *                      timestamp; the SMALLEST under this ordering
    *                      wins. NULL-timestamp left rows are preserved
    *                      with a NULL match
    * @param toleranceUs matches farther than this many MICROSECONDS (in
    *                    either direction) are nulled out
    * @return left columns + `nearest_ts` + `nearest_dt_us` (signed,
    *         right − left, negative = matched backward) + payloadCols
    */
  def nearestJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      payloadCols: Map[String, String],
      rightTieBreak: String,
      toleranceUs: Option[Long] = None): DataFrame = {

    val unioned = sides(left, right, keys, leftTime, rightTime, payloadCols,
      rightTieBreak, "__us", unix_micros, "__n_ts")

    // Backward scan: right rows sort before left at equal __us (side 0 <
    // 1) so dt = 0 matches; among right rows tied on __us, __tb DESC puts
    // the SMALLEST tieBreak last, which is what last(ignoreNulls) picks.
    val wBack = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__us").asc, col("__side").asc, col("__tb").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Forward scan: same frame over the REVERSED time ordering — last
    // non-null is the right row with the smallest __us >= left's.
    val wFwd = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__us").desc, col("__side").asc, col("__tb").desc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val both = unioned
      .withColumn("__prev", last(col("__rv"), ignoreNulls = true).over(wBack))
      .withColumn("__next", last(col("__rv"), ignoreNulls = true).over(wFwd))
      .filter(col("__side") === 1)
    val dPrev = col("__us") - unix_micros(col("__prev.__n_ts"))
    val dNext = unix_micros(col("__next.__n_ts")) - col("__us")
    // a NULL-timestamp LEFT row has no defined distance to anything: its
    // match is NULL (the row itself is preserved — left rows always are)
    val chosen = when(col("__us").isNull, lit(null))
      .when(col("__prev").isNotNull && col("__next").isNotNull,
        when(dPrev <= dNext, col("__prev")).otherwise(col("__next")))
      .otherwise(coalesce(col("__prev"), col("__next")))
    val inTol = toleranceUs.fold(col("__c"))(tol => when(col("__c").isNotNull &&
      abs(unix_micros(col("__c.__n_ts")) - col("__us")) <= tol, col("__c")))
    val withPayload = payloadCols.toSeq.sortBy(_._1).foldLeft(
      both.withColumn("__c", chosen)
        .withColumn("__f", inTol)
        .withColumn("nearest_ts", col("__f.__n_ts"))
        .withColumn("nearest_dt_us",
          unix_micros(col("__f.__n_ts")) - col("__us"))) {
      case (df, (_, to)) => df.withColumn(to, col(s"__f.$to"))
    }
    withPayload.drop("__us", "__side", "__tb", "__rv", "__prev", "__next",
      "__c", "__f")
  }

  /** The frame both scans window over: `left` tagged side 1 with its time
    * as `t`, unioned with `right`'s keys, its time as `t`, side 0, the
    * tie-break as `__tb` and `__rv` = struct(right time as `rvTs`, payload
    * columns renamed). `time` maps a time column to the scanned order.
    *
    * Right rows with a NULL time or a NULL key are dropped first. A NULL
    * time sorts nulls-first into the scan, and the window partition groups
    * NULL keys together, so either would surface as a phantom match. Keys
    * match with SQL equi-join semantics instead, NULL never matching NULL
    * (the oracles' `p.user_id = v.user_id`): a NULL-key left row finds no
    * right rows in its partition and keeps a NULL match.
    */
  private def sides(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, payloadCols: Map[String, String],
      rightTieBreak: String, t: String, time: Column => Column,
      rvTs: String): DataFrame = {
    val payload = struct(
      (col(rightTime).as(rvTs) +:
        payloadCols.toSeq.sortBy(_._1).map { case (from, to) => col(from).as(to) }): _*)
    val rightU = right
      .filter(col(rightTime).isNotNull &&
        keys.map(col(_).isNotNull).foldLeft(lit(true))(_ && _))
      .select((keys.map(col) :+ time(col(rightTime)).as(t) :+
        payload.as("__rv") :+ col(rightTieBreak).as("__tb")): _*)
      .withColumn("__side", lit(0))
    val leftU = left
      .withColumn(t, time(col(leftTime)))
      .withColumn("__side", lit(1))
      .withColumn("__tb", lit(null).cast(rightU.schema("__tb").dataType))
    leftU.unionByName(rightU, allowMissingColumns = true)
  }
}
