package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair list — the step between
  * "find near-dup PAIRS" ([[MinHashLsh.nearDupPairs]]) and "dedup the
  * CORPUS": transitive closure groups pairs into clusters, and keep-one-per-
  * cluster (the minimum id as the canonical representative) is what actually
  * shrinks the training set. Without it, A≈B and B≈C dedup to {A, C} even
  * when A≈C transitively.
  *
  * One tiered solve:
  *  1. an edge list at or under `localSolveMaxEdges` (100k) is collected
  *     and solved with an in-memory union–find. The collect is BOUNDED BY CONSTRUCTION at the
  *     threshold (the k-means-centroid/heavy-hitter-candidate contract) and
  *     skips every per-round job floor: a 70-edge graph costs 2 jobs, not
  *     8 rounds × 6 stages;
  *  2. above it, iterative min-label propagation: every node starts with
  *     `rep = id`, each round every node takes the min rep over itself and
  *     its neighbors. Rounds = graph diameter, and near-dup clusters are
  *     small and dense, so 2–4 rounds is typical at any corpus size. Each
  *     round is one equi-join + one key agg; the per-round changed-label
  *     count is monitored;
  *  3. if those counts stop shrinking geometrically (the long-chain
  *     signature: a chain retires O(1) labels per round), the loop escapes
  *     to the large-star/small-star alternation of Kiveris et al.
  *     ("Connected Components in MapReduce and Beyond", SoCC'14) seeded
  *     with the partial labels: rounds grow with log² of the longest chain
  *     instead of its length.
  * Both loops keep the graph in frames only, and each round's frame is
  * `localCheckpoint`ed so lineage stays O(1) instead of O(rounds). A round
  * budget of 25 bounds each loop: propagation escapes to the star at it,
  * and the star fails loudly past it rather than silently emitting
  * partial clusters.
  *
  * A pair with a NULL endpoint is dropped before the solve: a NULL id names
  * no document, so it is no node and links nothing (the explicit contract
  * of [[GraphRank.pageRank]]).
  */
object DedupCluster {

  /** Round budget of the propagation tier and of the star fixpoint. */
  private val maxIters = 25

  /** Free the block-manager storage behind a `localCheckpoint`ed frame.
    * Local checkpoints live as persisted RDD blocks outside the SQL
    * CacheManager (`df.unpersist()` is a no-op on them) and are otherwise
    * only reclaimed when the RDD is GC'd — explicit release keeps storage
    * flat across propagation rounds instead of growing linearly with them.
    * [[KCore]]'s peel rounds free theirs with it too.
    */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Component representative (min reachable id) for every node appearing
    * in a pair without a NULL endpoint. Output: (`id`, `rep`) — one row
    * per distinct node; a self-pair's node labels itself, and singleton
    * documents (no pair) are their own representative by definition and
    * are simply absent here. The result is `localCheckpoint`-backed.
    */
  def components(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    components(pairs, aCol, bCol, localSolveMaxEdges = 100000L)

  /** The tiering with its local-tier threshold exposed, so a spec can force
    * the distributed tiers. The local tier's collect is threshold-gated
    * (never data-sized: the gate is an exact count of the canonical deduped
    * edge list), and a sub-threshold component graph is answer-sized by the
    * same argument as a centroid set — at 100 TB a real near-dup pair list
    * blows the gate and the distributed tiers run.
    */
  private[graft] def components(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      localSolveMaxEdges: Long): DataFrame = {
    val a = col(aCol).cast("long")
    val b = col(bCol).cast("long")
    // the pair list is often the tail of an expensive pipeline (LSH,
    // blocking); cache its 2-long projection ONCE so the gate count, the
    // node set, and the solve all read the cache instead of re-running it
    val base = pairs.select(a.as("u"), b.as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .persist()
    val canonical = base
      .select(greatest(col("u"), col("v")).as("hi"),
        least(col("u"), col("v")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
    val nEdges = canonical.count()
    val nodes = base.select(col("u").as("id"))
      .union(base.select(col("v").as("id"))).distinct()
    // both tiers return a localCheckpoint-backed frame, so the base cache
    // can be dropped without downstream consumers re-deriving the pairs
    val out =
      if (nEdges <= localSolveMaxEdges) localUnionFind(canonical, nodes).localCheckpoint()
      else propagateLabels(canonical, nodes)
    base.unpersist(blocking = false)
    out
  }

  /** Driver union–find over a threshold-bounded canonical edge list.
    * Union-by-min + path-halving; reps are the component minimum by
    * construction (unions always root at the smaller id), so the output
    * set is deterministic regardless of edge order. Singletons (self-pair
    * nodes with no real edge) never leave the cluster — they ride the
    * left join's coalesce.
    */
  private def localUnionFind(canonical: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = canonical.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        val gp = parent.getOrElse(p, p)
        parent(x) = gp // path halving
        x = gp
      }
      x
    }
    canonical.select(col("hi"), col("lo")).collect().foreach { r =>
      val (rh, rl) = (find(r.getLong(0)), find(r.getLong(1)))
      if (rh != rl) {
        val root = math.min(rh, rl)
        parent(math.max(rh, rl)) = root
        parent.getOrElseUpdate(root, root)
      }
    }
    // snapshot keys BEFORE mapping: find() path-halves (mutates the map),
    // which would corrupt a live keysIterator
    val labels = parent.keys.toArray.map(id => (id, find(id))).toSeq
      .filter { case (id, rep) => id != rep }
    // broadcast the (tiny) non-trivial labels; every absent node is its own rep
    val labelDf = broadcast(labels.toDF("id", "__rep"))
    nodes.join(labelDf, Seq("id"), "left")
      .select(col("id"), coalesce(col("__rep"), col("id")).as("rep"))
  }

  /** Distributed tier: min-label propagation with the per-round
    * changed-label count monitored. A near-dup graph's count collapses
    * geometrically (diameter 2–4); a chain retires O(1) labels per round.
    * When a round fails to shrink the count below `0.7×` the previous
    * round's (after a 2-round grace), the loop escapes to the star
    * fixpoint SEEDED with the partial labels (edges ∪ id→rep links — the
    * links stay within components, so the merged graph has identical
    * components and the star starts from the propagation's progress).
    */
  private def propagateLabels(canonical: DataFrame, nodes: DataFrame): DataFrame = {
    val edges = canonical.select(col("hi").as("x"), col("lo").as("y"))
      .union(canonical.select(col("lo").as("x"), col("hi").as("y")))
      .persist()
    var labels = edges.groupBy(col("x").as("id"))
      .agg(min(col("y")).as("__my"))
      .select(col("id"), least(col("id"), col("__my")).as("rep"))
      .localCheckpoint()
    var iters = 1
    var prevChanged = Long.MaxValue
    var result: DataFrame = null
    while (result == null) {
      val prop = edges
        .join(labels.withColumnRenamed("id", "y"), "y")
        .select(col("x").as("id"), col("rep"), lit(null).cast("long").as("__old"))
      val next = labels.select(col("id"), col("rep"), col("rep").as("__old"))
        .unionByName(prop)
        .groupBy(col("id"))
        .agg(min(col("rep")).as("rep"), min(col("__old")).as("__old"))
        .localCheckpoint()
      val changed = next.filter(col("rep") < col("__old")).count()
      freeCheckpoint(labels)
      labels = next.select("id", "rep")
      iters += 1
      if (changed == 0L) {
        // join back to the full node set: canonical edges dropped self-pair
        // singletons, which label themselves; checkpoint (the output
        // contract) so the caller can drop the pair cache
        result = nodes
          .join(labels.select(col("id"), col("rep").as("__rep")), Seq("id"), "left")
          .select(col("id"), coalesce(col("__rep"), col("id")).as("rep"))
          .localCheckpoint()
        freeCheckpoint(labels)
      } else if ((iters > 3 && changed > (prevChanged * 7) / 10) || iters >= maxIters) {
        // stalled (or out of propagation budget): hand the partial labels
        // to the star fixpoint — strictly fewer rounds than restarting
        val seeded = canonical.unionByName(
            labels.filter(col("id") =!= col("rep"))
              .select(col("id").as("hi"), col("rep").as("lo")))
          .distinct()
          .localCheckpoint()
        freeCheckpoint(labels)
        val star = starFixpoint(seeded)
        result = nodes
          .join(star.select(col("hi").as("id"), col("lo").as("__rep")), Seq("id"), "left")
          .select(col("id"), coalesce(col("__rep"), col("id")).as("rep"))
          .localCheckpoint()
        freeCheckpoint(star)
      }
      prevChanged = changed
    }
    edges.unpersist(blocking = false)
    result
  }

  /** Large-star/small-star alternation (Kiveris et al., SoCC'14) — the
    * escape tier, seeded with partial propagation labels.
    *
    * The edge set is kept CANONICAL — (hi, lo) with hi > lo, distinct,
    * `localCheckpoint`ed — and each round applies:
    *
    *  - large-star: over the symmetric adjacency, every node u computes
    *    m = min(u ∪ Γ(u)) and re-points every LARGER neighbor v > u at m
    *    (emits (v, m); v > u ≥ m keeps the canonical orientation);
    *  - small-star: per hi-node, m = min of its smaller neighbors, every
    *    other smaller neighbor and hi itself re-point at m.
    *
    * Both phases strictly shrink a component's potential (sum of
    * node-to-root distances), and at the fixpoint the edge set is exactly
    * the star {(v, min of v's component)}, returned checkpoint-backed —
    * so labels fall out of the last edge set with no extra pass.
    * Convergence is detected by an order-independent fingerprint (count +
    * xor of per-edge xxhash64) of the canonical set.
    */
  private def starFixpoint(edges0: DataFrame): DataFrame = {
    var edges = edges0

    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent and overflow-free under ANSI mode
      // (edges are distinct, so xor cancellation needs a hash collision)
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("hi"), col("lo")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // Both phases need "min over my neighborhood" joined back to every
    // row of that neighborhood. The natural agg + self-join spelling costs
    // 3 exchanges per phase (group, both join legs) plus a dedupe exchange
    // — 14 stages/round measured, every one paying the local stage floor.
    // A window min over the SAME partition key delivers the value to every
    // row in ONE exchange, and the two small-star outputs fold into one
    // pass via explode; with large-star's intra-phase distinct dropped
    // (duplicates cannot change any later min, and small-star ends in the
    // canonicalizing distinct) a round is 6 stages, not 14 — measured
    // 8.3s → 2.6s on the q74 adversarial fixture. The per-u neighborhood
    // sort a window implies is the same work the SMJ join was paying.
    import org.apache.spark.sql.expressions.Window

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      sym
        .withColumn("m", least(col("u"), min(col("v")).over(Window.partitionBy(col("u")))))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
    }

    def smallStar(e: DataFrame): DataFrame =
      e.withColumn("m", min(col("lo")).over(Window.partitionBy(col("hi"))))
        // one pass emits both outputs: every smaller neighbor re-points at
        // m, and hi itself re-points at m (duplicated per row; the distinct
        // collapses it)
        .select(explode(array(
          struct(col("lo").as("hi"), col("m").as("lo")),
          struct(col("hi"), col("m").as("lo")))).as("e"))
        .select(col("e.hi"), col("e.lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()

    var fp = fingerprint(edges)
    var iters = 0
    var done = false
    while (!done) {
      if (iters >= maxIters)
        throw new IllegalStateException(
          s"DedupCluster.components: the star fixpoint did not converge in " +
            s"$maxIters rounds")
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextFp = fingerprint(next)
      freeCheckpoint(edges)
      edges = next
      iters += 1
      done = nextFp == fp
      fp = nextFp
    }
    edges
  }

  /** Per-cluster summary: representative (min id), member count, and the
    * sorted comma-joined member list (canonical string form so the result
    * is engine-comparable). Only multi-member clusters appear — singletons
    * never entered the pair list — apart from a self-pair's node, which
    * labels itself; pairs with a NULL endpoint are dropped (see
    * [[components]]).
    */
  def clusterSummary(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    components(pairs, aCol, bCol)
      .groupBy(col("rep"))
      .agg(
        count(lit(1)).as("n_members"),
        array_join(array_sort(collect_set(col("id"))), ",").as("members"))
}
