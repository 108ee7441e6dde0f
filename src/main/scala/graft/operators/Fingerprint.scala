package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Dataset content fingerprinting: a per-group digest of ROW CONTENT that
  * is order-independent and mergeable — the "did this 100 TB copy/rebuild
  * produce byte-identical data" check that neither row counts (misses
  * corruption) nor file checksums (break under re-partitioning/re-encoding)
  * can answer. Two jobs writing the same logical rows in any partitioning,
  * file layout, or order produce the same fingerprint.
  *
  * Digest = (n_rows, XOR of per-row 60-bit content hashes, SUM of per-row
  * 32-bit content hashes). XOR and + are commutative/associative, so both
  * combine identically under any merge tree (and shard fingerprints merge:
  * xor the xors, add the sums, add the counts). The SUM component exists
  * because XOR alone annihilates any row duplicated an even number of
  * times; with both, a multiset difference needs to collide a 60-bit XOR
  * and a 32-bit sum simultaneously. The sum is exact while
  * `n_rows < 2³¹` PER GROUP (long headroom); beyond that, fingerprint
  * finer shards and merge — the intended pattern at corpus scale anyway.
  *
  * Hashes are md5 of the chr(1)-joined column values (the engine's
  * cross-engine-stable hash convention) — columns must be made non-null
  * by the caller (coalesce to a sentinel) since null propagation through
  * string concat differs across engines.
  *
  * Plan shape: one scan-time projection + one hash aggregate; map-side
  * combine reduces each partition to one row per group before the
  * (answer-sized) shuffle.
  */
object Fingerprint {

  /** 60-bit content hash of the joined columns (15 md5 hex digits — stays
    * clear of signed-64 overflow in any engine's hex parse). */
  def contentHash60(cols: Seq[Column]): Column =
    conv(substring(md5(concat_ws("\u0001", cols: _*)), 1, 15), 16, 10)
      .cast(LongType)

  /** 32-bit companion hash (different digest window, so independent). */
  def contentHash32(cols: Seq[Column]): Column =
    conv(substring(md5(concat_ws("\u0001", cols: _*)), 17, 8), 16, 10)
      .cast(LongType)

  /** SQL twins for cross-engine oracles (DuckDB dialect); `colsSql` are the
    * pre-coalesced column expressions. */
  def contentHash60Sql(colsSql: Seq[String]): String =
    s"CAST(('0x' || substr(md5(${colsSql.mkString(" || chr(1) || ")}), 1, 15)) AS BIGINT)"
  def contentHash32Sql(colsSql: Seq[String]): String =
    s"CAST(('0x' || substr(md5(${colsSql.mkString(" || chr(1) || ")}), 17, 8)) AS BIGINT)"

  /** One row per group: (groupCols…, n_rows, xor60, sum32). */
  def datasetFingerprint(
      df: DataFrame, groupCols: Seq[String], hashCols: Seq[String]): DataFrame = {
    require(hashCols.nonEmpty, "hashCols must be non-empty")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    df.select((g :+ contentHash60(hashCols.map(col)).as("__h60")
        :+ contentHash32(hashCols.map(col)).as("__h32")): _*)
      .groupBy(g: _*)
      .agg(
        count(lit(1)).as("n_rows"),
        bit_xor(col("__h60")).as("xor60"),
        sum(col("__h32")).as("sum32"))
  }
}
