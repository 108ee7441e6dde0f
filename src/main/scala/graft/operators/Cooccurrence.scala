package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence mining: which items appear TOGETHER in the
  * same basket more often than chance — support / confidence / lift over
  * item pairs, the association-rule primitives (Agrawal & Srikant 1994)
  * behind "frequently bought together", co-viewed-documents, and
  * co-occurring-tag analyses.
  *
  *   support(a,b) = |baskets ⊇ {a,b}| / N
  *   confidence(a→b) = |{a,b}| / |{a}|
  *   lift(a,b) = N·|{a,b}| / (|{a}|·|{b}|)   (1 = independent, >1 = affinity)
  *
  * Plan shape (scale story): pair generation is a SELF-EQUI-JOIN ON THE
  * BASKET KEY — cost Σ k_b² over per-basket sizes k_b, never |items|²
  * (the basket key is the blocking key; the q48/q60 blocked-join idiom).
  * A/B results at sf0.1 (min-of-3 bench): this join form ≈ the window
  * size-cap form (0.91s vs 0.86s, noise) and ~25% faster than the
  * join-free alternative (collect_set per basket + array-HOF pair
  * expansion, 1.15s — the set aggregate is an off-codegen
  * ObjectHashAggregate, so "fewer shuffles" loses). The skew risk is a
  * single giant basket (k² blowup), so `maxBasketSize` excludes oversized
  * baskets, found by one bounded driver action over the basket sizes —
  * never a per-basket window sort; at corpus scale a 10⁵-item basket is a
  * data bug, not signal (the cap is standard Apriori practice). Counts are
  * map-side-combined aggregates; the vocabulary-sized item-count frame
  * broadcasts, so the pair frame never shuffles for its statistics joins
  * and the item vocabulary must be dimension-sized; statistics are
  * exact-integer-count divisions (IEEE, engine-identical).
  *
  * One execution regime: the deduped (basket, item) frame is materialized
  * ONCE (localCheckpoint — the call is eager): it feeds ≥4 consumers
  * (basket sizes, N, item counts, both self-join legs), and lazily each
  * broadcast subtree re-executed its |rows|-sized dedupe exchange
  * (measured at sf0.1: ~3 extra executions of a 600k-row distinct per
  * run, q116).
  */
object Cooccurrence {

  /** Distinct-item pair counts with association statistics: one row per
    * unordered pair (a < b) — (`a`, `b`, `n_ab`, `n_a`, `n_b`, `support`,
    * `conf_a_b`, `lift`). `n_a`/`n_b` are basket counts of each item
    * alone; N is the total distinct-basket count.
    *
    * @param hashSelfJoin opt-in SHUFFLE_HASH for the pair self-join: both
    *        legs share the reused `__bk` exchange, so sort-merge pays two
    *        per-leg sorts for a join whose key is already co-located — a
    *        hash build is less work (measured win at sf0.1). MEMORY
    *        CONTRACT: the hash build side is the task's ENTIRE `__bk`
    *        shuffle partition (many baskets — the per-basket cap does NOT
    *        bound it) and Spark's shuffled-hash build does not spill, so
    *        this is safe only where rows-per-partition are known to fit
    *        executor memory (size `spark.sql.shuffle.partitions`
    *        accordingly). False (default) keeps the spillable sort-merge —
    *        the safe-by-default shape for library users at unknown scale,
    *        which PlanShapeSpec pins; only q116, whose partition sizing is
    *        known, opts in.
    */
  def pairStats(
      df: DataFrame,
      basketCol: String,
      itemCol: String,
      maxBasketSize: Int = 1000,
      hashSelfJoin: Boolean = false): DataFrame = {
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    // ONE basket-keyed exchange serves the whole bk-clustered pipeline:
    // hashpartitioning(__bk) satisfies the (__bk, __it) dedupe's clustered
    // distribution (bk ⊆ the grouping keys ⇒ equal pairs co-located), both
    // self-join legs, and the basket count — so dedupe, join and N all run
    // without re-shuffling. Only the pair and item aggregates (different
    // keys) pay their own exchanges.
    val items = df.select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .filter(col("__it").isNotNull)
      .repartition(col("__bk"))
      .distinct()
      .localCheckpoint()
    // ONE basket-size aggregate (map-side on the __bk exchange) serves
    // BOTH the oversized-offender count and N.
    val basketSizes = items.groupBy(col("__bk")).agg(count(lit(1)).as("__bsz"))
    // Oversized-basket cap + N: ONE bounded driver action over the
    // basket-size aggregate yields N and the offender COUNT (two longs).
    // The offender LIST is collected only on the nonzero path, gated by an
    // exact ≤100k count first (the DedupCluster gated-collect discipline;
    // oversized baskets are data bugs by contract, so the healthy path
    // collects nothing but the two longs).
    val meta = basketSizes.agg(
      sum(when(col("__bsz") <= maxBasketSize, 1L).otherwise(0L)).as("n"),
      sum(when(col("__bsz") > maxBasketSize, 1L).otherwise(0L)).as("nbad"))
      .collect()(0)
    val n = Option(meta.getAs[Long]("n")).getOrElse(0L)
    val nbad = Option(meta.getAs[Long]("nbad")).getOrElse(0L)
    val sized = if (nbad == 0L) items else {
      require(nbad <= 100000L,
        s"pairStats: $nbad baskets exceed maxBasketSize=$maxBasketSize — " +
          "that is no longer a data-bug-sized offender set; raise the cap " +
          "or pre-filter the input")
      val bad = basketSizes.filter(col("__bsz") > maxBasketSize)
        .select(col("__bk")).collect().map(_.get(0)).toSeq
      // coalesce(..., false): a NULL __bk makes isInCollection NULL, and
      // bare negation would DROP that row — NULL never equi-matches an
      // offender key, so NULL-key rows stay and count in n_a/n_b/N
      items.filter(!coalesce(col("__bk").isInCollection(bad), lit(false)))
    }
    val itemCounts = sized.groupBy(col("__it")).agg(count(lit(1)).as("__ni"))
      .withColumn("__n", lit(n))
    // ONE broadcast item-keyed frame (__it, __ni, __n), attached to the
    // deduped rows BEFORE the self-join — each pair row then carries both
    // endpoints' counts and N, so the statistics fall out of the pair
    // AGGREGATE itself (max over group-constant longs) and the Σk²-sized
    // pair frame pays ZERO post-aggregate joins. The attach join is
    // map-side on the smaller pre-pair frame (|distinct items-in-baskets|
    // rows, ≪ Σk²) — the r13 completion of the r11 one-broadcast ask.
    val sizedNi = sized.join(broadcast(itemCounts), Seq("__it"))
    val rightLeg0 = sizedNi.select(col("__bk").as("__bkr"),
      col("__it").as("__itr"), col("__ni").as("__nir"))
    val rightLeg = if (hashSelfJoin) rightLeg0.hint("shuffle_hash")
      else rightLeg0
    sizedNi
      .join(rightLeg,
        col("__bk") === col("__bkr") && col("__it") < col("__itr"))
      .groupBy(col("__it").as("a"), col("__itr").as("b"))
      .agg(count(lit(1)).as("n_ab"),
        max(col("__ni")).as("n_a"), max(col("__nir")).as("n_b"),
        max(col("__n")).as("__nn"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        (col("n_ab").cast("double") / col("__nn")).as("support"),
        (col("n_ab").cast("double") / col("n_a")).as("conf_a_b"),
        (col("n_ab").cast("double") * col("__nn") /
          (col("n_a") * col("n_b"))).as("lift"))
  }
}
