package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007), built
  * DETERMINISTICALLY on the engine's md5-keyspace convention so the same
  * data yields the bit-identical register table and estimate in any
  * engine, under any partitioning — unlike `approx_count_distinct`, whose
  * sketch is engine-private (its Spark and DuckDB values can never be
  * cross-checked).
  *
  * Why a sketch when `countDistinct` exists: the exact distinct of a
  * 100 TB corpus column shuffles every distinct VALUE (token types grow
  * with the corpus — q39's Expand analysis); the HLL register table is a
  * CONSTANT `m` rows per group, mergeable by cell-wise MAX — per-shard
  * sketches union into a corpus-wide cardinality without ever colocating
  * values. Standard error ≈ 1.04/√m (m = 256 → ~6.5%).
  *
  * Construction: the 32-bit md5 draw splits into the top `b` bits (bucket)
  * and remaining `32−b` bits (suffix); a register holds the max of
  * `rank = #leading-zeros(suffix) + 1`. The rank is computed by an exact
  * integer threshold chain (never `floor(log2)` — libm last-ulp behavior
  * is engine-specific), and `2^(−M)` terms are built as
  * `1.0 / (1L << M)` — exact dyadic rationals under correctly-rounded
  * IEEE division, so the harmonic sum's terms are bit-identical
  * cross-engine (the sum's association-order ulps fall under the
  * catalog's r4 convention, q47).
  *
  * Plan shape: one scan-time projection + one (group, bucket) MAX
  * aggregate — map-side combine caps every partition's shuffle output at
  * `m` rows per group — + one per-group fold of the answer-sized register
  * table. No Expand, no distinct, no window.
  */
object Hll {

  /** Number of registers per group for precision `b` (m = 2^b). */
  def registers(b: Int): Int = 1 << b

  private def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** Exact leading-zero rank of a `bits`-wide suffix: first r with
    * `suffix ≥ 2^(bits−r)`, else `bits + 1` (suffix = 0). */
  private def rankOf(suffix: Column, bits: Int): Column =
    (1 to bits).foldLeft(Option.empty[Column]) { (acc, r) =>
      val cond = suffix >= lit(1L << (bits - r))
      Some(acc.fold(when(cond, r))(_.when(cond, r)))
    }.get.otherwise(bits + 1)

  private def rankSql(suffixSql: String, bits: Int): String = {
    val whens = (1 to bits)
      .map(r => s"WHEN $suffixSql >= ${1L << (bits - r)} THEN $r").mkString(" ")
    s"CASE $whens ELSE ${bits + 1} END"
  }

  /** Register table: one row per non-empty register —
    * (groupCols…, bucket ∈ [0, 2^b), m_rank). Merge sketches of corpus
    * parts by unioning and re-taking MAX per (group, bucket).
    */
  def sketch(
      df: DataFrame, groupCols: Seq[String], itemCol: String,
      b: Int = 8, salt: String = "hll"): DataFrame = {
    require(b >= 4 && b <= 16, s"precision b must be in [4,16], got $b")
    val g = groupCols.map(col)
    val bits = 32 - b
    val h = conv(substring(md5(concat(lit(s"$salt|"),
      col(itemCol).cast("string"))), 1, 8), 16, 10).cast("long")
    df.select((g :+ h.as("__h")): _*)
      .select((g :+ expr(s"__h div ${1L << bits}").as("bucket")
        :+ (col("__h") % lit(1L << bits)).as("__suffix")): _*)
      .groupBy((g :+ col("bucket")): _*)
      .agg(max(rankOf(col("__suffix"), bits)).as("m_rank"))
  }

  /** One-pass register table for several SUBSETS of the same stream —
    * the set-algebra shape (q162): instead of sketching each subset in
    * its own scan + aggregate, every tag contributes a conditional
    * register column to ONE (group, bucket) MAX aggregate over one pass
    * of the input. A tag's column is NULL where no tagged row hashed
    * into the bucket — [[estimateComponents]] folds exactly as if the
    * absent registers were absent rows, so `estimate(sketch(subset))`
    * and this fused form are value-identical. An always-true tag yields
    * the UNION sketch (cell-wise max over all rows of the parts).
    *
    * @param tags (outputColumn, rowPredicate) per subset
    * @return (groupCols…, bucket, one nullable rank column per tag)
    */
  def sketchTagged(
      df: DataFrame, groupCols: Seq[String], itemCol: String,
      tags: Seq[(String, Column)], b: Int = 8,
      salt: String = "hll"): DataFrame = {
    require(b >= 4 && b <= 16, s"precision b must be in [4,16], got $b")
    require(tags.nonEmpty, "tags must be non-empty")
    val g = groupCols.map(col)
    val bits = 32 - b
    val h = conv(substring(md5(concat(lit(s"$salt|"),
      col(itemCol).cast("string"))), 1, 8), 16, 10).cast("long")
    val tagCols = tags.zipWithIndex.map { case ((_, c), i) =>
      c.as(s"__tag_$i")
    }
    val tagRefs = tags.indices.map(i => col(s"__tag_$i"))
    val aggs = tags.zipWithIndex.map { case ((name, _), i) =>
      max(when(col(s"__tag_$i"), rankOf(col("__suffix"), bits))).as(name)
    }
    df.select((g ++ tagCols :+ h.as("__h")): _*)
      .select((g ++ tagRefs :+ expr(s"__h div ${1L << bits}")
        .as("bucket") :+ (col("__h") % lit(1L << bits)).as("__suffix")): _*)
      .groupBy((g :+ col("bucket")): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The estimate formula over a folded register table's components —
    * shared by [[estimate]] and the one-pass multi-sketch path so the
    * small-range linear-counting branch can never drift between them.
    * `nz` = non-empty register count, `s` = Σ 2^(−m_rank).
    */
  private[graft] def estimateExpr(nz: Column, s: Column, b: Int): Column = {
    val m = registers(b)
    val v = lit(m) - nz // zero registers contribute 2^0 = 1 each
    val raw = lit(alpha(m) * m * m) / (s + v.cast("double"))
    when(raw <= lit(2.5 * m) && v > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
      .otherwise(raw)
  }

  /** `Σ 2^(−rankCol)` summand (NULL rank ⇒ NULL ⇒ skipped by sum) —
    * exact dyadic rationals, the [[estimate]] convention. */
  private[graft] def pow2negExpr(rankCol: String): Column =
    expr(s"1.0 / cast(shiftleft(cast(1 as bigint), $rankCol) as double)")

  /** Cardinality estimate from a register table: one row per group —
    * (groupCols…, est). Applies the standard small-range linear-counting
    * correction (`m·ln(m/V)` when the raw estimate ≤ 2.5m and zero
    * registers exist).
    */
  def estimate(
      sketchDf: DataFrame, groupCols: Seq[String], b: Int = 8): DataFrame = {
    require(b >= 4 && b <= 16, s"precision b must be in [4,16], got $b")
    val g = groupCols.map(col)
    val agg = sketchDf.groupBy(g: _*)
      .agg(count(lit(1)).as("__nz"), sum(pow2negExpr("m_rank")).as("__s"))
    agg.select((g :+
      estimateExpr(col("__nz"), col("__s"), b).as("est")): _*)
  }

  /** SQL twin of sketch + estimate for cross-engine oracles (DuckDB):
    * returns a query text producing (groupColsSql…, est) from `fromSql`
    * (a relation exposing the group columns and `itemExprSql`). */
  def estimateSql(
      fromSql: String, groupColsSql: Seq[String], itemExprSql: String,
      b: Int = 8, salt: String = "hll"): String = {
    val m = registers(b)
    val bits = 32 - b
    val gl = groupColsSql.mkString(", ")
    val h = s"CAST(('0x' || substr(md5('$salt|' || $itemExprSql), 1, 8)) AS BIGINT)"
    s"""WITH __hll_sk AS (
       |  SELECT $gl, __bucket, max(__rank) AS m_rank FROM (
       |    SELECT $gl, __h // ${1L << bits} AS __bucket,
       |           ${rankSql(s"(__h % ${1L << bits})", bits)} AS __rank
       |    FROM (SELECT $gl, $h AS __h FROM $fromSql) __hll_h
       |  ) __hll_b GROUP BY ${(1 to groupColsSql.size + 1).mkString(", ")}
       |),
       |__hll_agg AS (
       |  SELECT $gl, count(*) AS __nz, sum(1.0 / CAST((CAST(1 AS BIGINT) << m_rank) AS DOUBLE)) AS __s
       |  FROM __hll_sk GROUP BY ${(1 to groupColsSql.size).mkString(", ")}
       |)
       |SELECT $gl,
       |  CASE WHEN (${alpha(m) * m * m} / (__s + ($m - __nz))) <= ${2.5 * m}
       |            AND ($m - __nz) > 0
       |       THEN ${m.toDouble} * ln(${m.toDouble} / ($m - __nz))
       |       ELSE ${alpha(m) * m * m} / (__s + ($m - __nz)) END AS est
       |FROM __hll_agg""".stripMargin
  }
}
