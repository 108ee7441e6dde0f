package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Association strength between two categorical columns: Pearson χ²,
  * Cramér's V, and mutual information — the slice-leakage scan of a
  * training corpus ("is `label` independent of `source`? is `lang`
  * confounded with `split`?"). A large V / MI between a metadata column
  * and the label is exactly how source-leakage and annotation-artifact
  * bugs surface; complements [[Profile.categoricalEntropy]] (one
  * column's mix) with the two-column dependence number. For the
  * GROUP-SLICED, cross-engine-exact variants of the same statistics see
  * [[Eval.chiSquare]] / [[Eval.mutualInfo]] (per-slice fix-point tests;
  * NULL kept as a level there, excluded here).
  *
  *   χ² = Σ_ab (c_ab − e_ab)²/e_ab,  e_ab = r_a·c_b / n
  *      = Σ_ab c_ab²/e_ab − n        (the computed form: UNOBSERVED cells
  *                                    contribute (0−e)²/e = e to the first
  *                                    sum but 0 to Σc²/e, and Σ_all e = n —
  *                                    so the identity needs only the
  *                                    observed-cell frame the aggregate
  *                                    actually produces)
  *   V  = √(χ² / (n · min(|A|−1, |B|−1)))          (0 = independent, 1 = determined)
  *   MI = Σ_ab (c_ab/n)·log₂(c_ab·n / (r_a·c_b))   (bits; H(A)+H(B)−H(A,B))
  *
  * Plan shape (scale story): ONE data-sized aggregate — the (a, b) cell
  * counts, map-side combined to ≤|A×B| rows per partition — then margins
  * and the final statistics are aggregates/joins OVER THE CELL FRAME
  * (answer-sized; the margin frames are broadcast). The raw table is
  * scanned once; no window, no Expand, no distinct. Double sums over
  * ≤|A×B| cells fall under the catalog's r4 convention (q47).
  */
object Association {

  /** One row per pair analysis: (n, n_a, n_b, dof, chi2, cramers_v,
    * mi_bits). Null values in either column are excluded (a null category
    * is a missing observation, not a level).
    */
  def categoricalAssociation(
      df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val ra = cells.groupBy(col("__a")).agg(sum(col("__c")).as("__ra"))
    val cb = cells.groupBy(col("__b")).agg(sum(col("__c")).as("__cb"))
    // Category counts as set sizes: two countDistinct in one agg plan as an
    // Expand whose group order follows expression ids, so each new build of
    // the query generated new source.
    val tot = cells.agg(
      sum(col("__c")).as("__n"),
      size(collect_set(col("__a"))).cast("long").as("__na"),
      size(collect_set(col("__b"))).cast("long").as("__nb"))
    // Margins are broadcast by hint: left to AQE, the build side of each
    // join followed whichever small stage finished first, so a rerun could
    // plan (and compile) the other side.
    val j = cells.join(broadcast(ra), "__a").join(broadcast(cb), "__b")
      .crossJoin(broadcast(tot))
    val e = col("__ra").cast("double") * col("__cb") / col("__n")
    val c = col("__c").cast("double")
    j.agg(
        max(col("__n")).as("n"),
        max(col("__na")).as("n_a"),
        max(col("__nb")).as("n_b"),
        (sum(c * c / e) - max(col("__n"))).as("__chi2"),
        sum((c / col("__n")) *
          log2(c * col("__n") / (col("__ra") * col("__cb"))))
          .as("__mi"))
      .select(
        col("n"), col("n_a"), col("n_b"),
        ((col("n_a") - 1) * (col("n_b") - 1)).as("dof"),
        col("__chi2").as("chi2"),
        when(col("n_a") > 1 && col("n_b") > 1,
          sqrt(col("__chi2") / (col("n") *
            least(col("n_a") - 1, col("n_b") - 1))))
          .as("cramers_v"),
        col("__mi").as("mi_bits"))
  }
}
