package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) history build: compress a keyed
  * event/snapshot stream into validity-interval rows — one row per
  * (key, attribute-run), carrying `valid_from`/`valid_to`/`version`/
  * `is_current`. The lakehouse "dimension history" op the reference's
  * month-wise upserts (S10/S11, `operators/Merge`) stop short of: Merge
  * answers "what is the latest row", SCD2 answers "what was true WHEN".
  *
  * Change detection is null-safe (`<=>`): a NULL attribute value is a
  * legitimate tracked state, opening and closing intervals like any other
  * value; consecutive NULLs compress into one run.
  *
  * Scale shape: one shuffle on the dimension key, then two window passes
  * over the SAME partitioning (lag to find run starts, lead on the
  * filtered run-start frame to close intervals) — the filter between them
  * preserves distribution and ordering, so Catalyst plans a single
  * Exchange and reuses its Sort (plan-pinned in OperatorsSpec). Per-key
  * state is one row in flight per window frame — no driver state, no
  * multi-pass joins; skewed keys are bounded by per-key history length,
  * the same envelope as any per-key window (q07/q10).
  *
  * Determinism: `(orderCol, tieCols…)` must be a per-key total order —
  * the same contract as priority dedupe (`Dedupe.topOnePerKey`); given
  * that, output is bit-identical on any partitioning. Timestamps are
  * returned as-is; callers project to epoch_us at the edge (catalog
  * convention).
  */
object Scd {

  /** Build the SCD2 history of `attrCol` per `keyCols` (single tracked
    * attribute — delegates to the multi-attribute form).
    */
  def scd2(
      df: DataFrame, keyCols: Seq[String], orderCol: String,
      tieCols: Seq[String], attrCol: String): DataFrame =
    scd2(df, keyCols, orderCol, tieCols, Seq(attrCol))

  /** Build the SCD2 history of `attrCols` per `keyCols` — the shape real
    * dimension tables need: a new version opens when ANY tracked attribute
    * changes. The change test struct-packs the attributes so `<=>` stays
    * one null-safe comparison (NULL fields compare equal when both NULL,
    * distinct otherwise — verified in OperatorsSpec); the output carries
    * each attribute as its own column, unpacked.
    *
    * @param orderCol the event-time column (becomes `valid_from`)
    * @param tieCols  extra columns making the per-key order total
    * @return key cols + `version` (1-based per key), `attrCols`…,
    *         `valid_from`, `valid_to` (NULL = open), `is_current`
    */
  def scd2(
      df: DataFrame, keyCols: Seq[String], orderCol: String,
      tieCols: Seq[String], attrCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(attrCols.nonEmpty, "attrCols must be non-empty")
    val keys = keyCols.map(col)
    val order = (orderCol +: tieCols).map(col)
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    val attr = struct(attrCols.map(col): _*)
    val runStarts = df
      .withColumn("__prev", lag(attr, 1).over(w))
      // null-safe: a run starts where the attribute tuple IS DISTINCT FROM
      // the previous row's (first row: lag is NULL and we can't distinguish
      // an all-NULL tuple — use a presence flag instead of a sentinel)
      .withColumn("__first", row_number().over(w) === 1)
      .filter(col("__first") || !(attr <=> col("__prev")))
    runStarts
      .withColumn("version", row_number().over(w))
      .withColumn("valid_from", col(orderCol))
      .withColumn("valid_to", lead(col(orderCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keys :+ col("version")) ++ attrCols.map(col) ++
        Seq(col("valid_from"), col("valid_to"), col("is_current")): _*)
  }
}
