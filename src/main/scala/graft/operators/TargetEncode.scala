package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Leave-one-out target encoding with additive smoothing — the standard
  * high-cardinality categorical feature for tabular models, built to be
  * LEAKAGE-FREE and ENGINE-EXACT:
  *
  *   te(row) = (S_cat − y_row + m·prior) / (n_cat − 1 + m)
  *
  * where S_cat/n_cat are the row's category target sum/count, prior is
  * the global target mean, and m is the smoothing pseudo-count. The
  * row's OWN target is subtracted (leave-one-out: the encoding never
  * contains the label it will be asked to predict), and m pulls sparse
  * categories toward the prior (a singleton category with m = 0 has
  * nothing to average — NULL).
  *
  * Exactness: targets are fixed-pointed to integer units (`scale`, the
  * catalog's cents-as-long convention), and the smoothed mean is
  * computed as ONE rational with the nested prior division cleared:
  *
  *   ((S − y)·n_g + m·S_g) / ((n − 1 + m)·n_g·scale)
  *
  * Each PART (S, y, n, S_g, n_g) is an exact long < 2⁵³ (the money-cents
  * headroom contract), so its double conversion is exact on both
  * engines; the products/sums above are then IEEE doubles evaluated in
  * the same order cross-engine. (The products are deliberately NOT long
  * arithmetic: (S − y)·n_g overflowed long at generated sf1, and routing
  * the exact 128-bit value through DuckDB's two-step HUGEINT→DOUBLE
  * conversion is the r14 divergence hazard — doubles-from-exact-parts
  * avoids both. No float ACCUMULATES anywhere: sums stay long.)
  *
  * Plan shape: one category aggregate (answer-sized → broadcast join
  * back) + one 1-row global aggregate (broadcast cross) + scalar row
  * arithmetic — two scans' worth of work, zero data-sized shuffles
  * beyond the category agg's own exchange. The stats frames always
  * broadcast, so the category domain must be dimension-sized; a
  * billion-category id would need the shuffle join back, selected from
  * the domain size. Out-of-fold variants compose: run per fold over
  * `Splits.foldColumn` slices.
  */
object TargetEncode {

  /** Input columns + `te` (the smoothed leave-one-out encoding, in the
    * target's original units). NULL targets are excluded from the
    * statistics and receive a NULL encoding.
    *
    * @param m     smoothing pseudo-count (≥ 0; with m = 0 singleton
    *              categories encode as NULL)
    * @param scale fixed-point scale of the target (100 = 2-decimal money)
    */
  def loo(
      df: DataFrame, catCols: Seq[String], targetCol: Column,
      m: Int = 10, scale: Int = 100): DataFrame = {
    require(catCols.nonEmpty, "catCols must be non-empty")
    require(m >= 0, "m must be >= 0")
    require(scale > 0, "scale must be positive")
    val t = df.withColumn("__y",
      floor(targetCol * scale + 0.5).cast("long"))
    val cat = t.filter(col("__y").isNotNull)
      .groupBy(catCols.map(col): _*)
      .agg(sum(col("__y")).as("__s"), count(lit(1)).as("__n"))
    val g = t.filter(col("__y").isNotNull)
      .agg(sum(col("__y")).as("__sg"), count(lit(1)).as("__ng"))
    // The rational's PRODUCTS are computed in IEEE double from the exact
    // integer parts, not in long: (S−y)·n_g overflowed long at generated
    // sf1 (~6.8·10¹⁸ — the r14 scale-gate find). Every PART (S, y, n, sg,
    // ng — sums of fixed-point targets and counts) is < 2⁵³ by the money-
    // cents contract, so each long→double conversion is exact on both
    // engines, and identical IEEE ops in identical order stay
    // engine-identical — without the long-overflow cliff and without
    // routing a >2⁵³ 128-bit value through DuckDB's two-step
    // HUGEINT→DOUBLE conversion (see the Catalog header hazard note).
    val denom = (col("__n") - 1 + m).cast("double") *
      col("__ng").cast("double") * lit(scale.toDouble)
    t.join(broadcast(cat), catCols, "left")
      .crossJoin(broadcast(g))
      .withColumn("te",
        when(col("__y").isNotNull && denom > 0,
          ((col("__s") - col("__y")).cast("double") *
            col("__ng").cast("double") +
            lit(m.toDouble) * col("__sg").cast("double"))
            / denom))
      .drop("__y", "__s", "__n", "__sg", "__ng")
  }

  /** OUT-OF-FOLD target encoding — the cross-validation-correct variant:
    * each row's encoding uses ONLY statistics from the other folds
    * (its own fold's rows, including itself, are excluded), so a model
    * evaluated fold-wise never sees its own labels through the feature.
    *
    *   te = (S_c − S_cf + m·prior_−f) / (n_c − n_cf + m)
    *   prior_−f = (S_g − S_gf) / (n_g − n_gf)
    *
    * with the prior division cleared into one exact long rational
    * (the [[loo]] algebra, fold-subtracted): no per-fold loop, no
    * leakage — ONE (cat, fold) aggregate + answer-sized rollups give
    * every fold's complement by subtraction.
    *
    * Plan: category totals derive from the (cat, fold) frame (one
    * data-sized aggregate carries row volume); all four stat frames are
    * answer-sized and broadcast. NULL when the complement is empty
    * (single-fold data, or m = 0 with a fold-exclusive category).
    *
    * @param foldCol integer fold assignment (e.g. `Splits.foldColumn`)
    */
  def outOfFold(
      df: DataFrame, catCols: Seq[String], targetCol: Column,
      foldCol: Column, m: Int = 10, scale: Int = 100): DataFrame = {
    require(catCols.nonEmpty, "catCols must be non-empty")
    require(m >= 0, "m must be >= 0")
    require(scale > 0, "scale must be positive")
    val t = df
      .withColumn("__y", floor(targetCol * scale + 0.5).cast("long"))
      .withColumn("__f", foldCol.cast("long"))
    val nn = t.filter(col("__y").isNotNull)
    val catFold = nn.groupBy((catCols.map(col) :+ col("__f")): _*)
      .agg(sum(col("__y")).as("__scf"), count(lit(1)).as("__ncf"))
    val cat = catFold.groupBy(catCols.map(col): _*)
      .agg(sum(col("__scf")).as("__sc"), sum(col("__ncf")).as("__nc"))
    val gFold = nn.groupBy(col("__f").as("__gf"))
      .agg(sum(col("__y")).as("__sgf"), count(lit(1)).as("__ngf"))
    val g = nn.agg(sum(col("__y")).as("__sg"), count(lit(1)).as("__ng"))
    val ngc = col("__ng") - col("__ngf") // complement global count
    val sgc = col("__sg") - col("__sgf")
    // double products over exact sub-2⁵³ parts — the [[loo]] overflow fix,
    // fold-subtracted (each difference of in-range longs is in range)
    val denom = (col("__nc") - coalesce(col("__ncf"), lit(0L)) + m)
      .cast("double") * ngc.cast("double") * lit(scale.toDouble)
    // rename the (cat, fold) frame's keys to avoid post-join ambiguity;
    // NULL categories get NULL stats (equi-join), hence a NULL encoding —
    // same convention as [[loo]]
    val catFoldR = catFold.select(
      (catCols.map(c => col(c).as(s"__cf_$c")) ++
        Seq(col("__f").as("__cff"), col("__scf"), col("__ncf"))): _*)
    t.join(broadcast(cat), catCols, "left")
      .join(broadcast(catFoldR),
        catCols.map(c => col(c) === col(s"__cf_$c")).reduce(_ && _) &&
          col("__f") === col("__cff"), "left")
      .join(broadcast(gFold), col("__f") === col("__gf"), "left")
      .crossJoin(broadcast(g))
      .withColumn("te_oof",
        when(col("__y").isNotNull && ngc > 0 && denom > 0,
          ((col("__sc") - coalesce(col("__scf"), lit(0L))).cast("double") *
            ngc.cast("double") +
            lit(m.toDouble) * sgc.cast("double")) / denom))
      .drop((Seq("__y", "__f", "__scf", "__ncf", "__sc", "__nc",
        "__sgf", "__ngf", "__sg", "__ng", "__gf", "__cff") ++
        catCols.map(c => s"__cf_$c")): _*)
  }
}
