package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization with ROW-LEVEL session ids — the batch
  * complement of the q45 `session_window` AGGREGATE (which only emits
  * per-window rollups): here every event row keeps its identity and gains
  * a (entity, session_idx) key, so downstream per-session sequence work
  * (funnels within a session, transition matrices per session, packing a
  * session into one training example) can group on it.
  *
  * Construction is the classic gap-and-island: per entity, `lag(ts)`
  * marks a session OPEN when the gap to the previous event exceeds
  * `gapUs` (or there is no previous event), and the session index is the
  * running sum of open-markers — one window partitioned BY ENTITY with a
  * deterministic (ts, tie…) ordering, evaluated twice over the SAME
  * partitioning (lag then running sum ⇒ a single hash Exchange on the
  * entity key; both window passes ride it).
  *
  * Boundary semantics: an event exactly `gapUs` after its predecessor
  * CONTINUES the session (strict `>` opens) — matching
  * `session_window`'s [start, start+gap) half-open convention, so q45's
  * window count and this operator's session count agree on the same data.
  *
  * Determinism: ordering is (ts, tieCols…) — callers supply a tie column
  * (e.g. the event id) that makes the order total; with equal timestamps
  * and no tie-break the LAG is nondeterministic across engines. Session
  * indices are 1-based in first-event order.
  *
  * Scale: parallelism = entities × partitions; no global window, no
  * driver state. A single entity's stream sorts within its partition
  * chain — entity keys are the natural high-cardinality case. 100 TB
  * story: identical shape, the entity-hash Exchange is the only shuffle.
  */
object Sessionize {

  /** Tag every row with `session_idx` (1-based per entity) and
    * `session_open` (true on each session's first event).
    *
    * @param gapUs inactivity gap in MICROSECONDS that closes a session
    * @param tieCols columns making (ts, tie…) a total order per entity
    */
  def sessionize(
      df: DataFrame, entityCol: String, tsCol: String,
      gapUs: Long, tieCols: Seq[String]): DataFrame = {
    require(gapUs > 0, "gapUs must be positive")
    val order = (col(tsCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col(entityCol)).orderBy(order: _*)
    val ts = unix_micros(col(tsCol))
    val prev = lag(ts, 1).over(w)
    val open = prev.isNull || (ts - prev > gapUs)
    df.withColumn("session_open", open)
      .withColumn("session_idx",
        sum(when(col("session_open"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** One row per (entity, session): event count, start/end epoch-us,
    * duration — the per-session rollup over [[sessionize]]'s tagging.
    * The groupBy re-uses the entity-keyed shuffle AQE-locally; output is
    * session-sized (answer-sized relative to the event stream).
    */
  def sessionSummary(
      df: DataFrame, entityCol: String, tsCol: String,
      gapUs: Long, tieCols: Seq[String]): DataFrame = {
    val tagged = sessionize(df, entityCol, tsCol, gapUs, tieCols)
    tagged
      .groupBy(col(entityCol), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col(tsCol))).as("start_us"),
        max(unix_micros(col(tsCol))).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }
}
