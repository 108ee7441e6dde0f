package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded k-core peeling over an undirected graph: repeatedly delete
  * nodes of degree < k and restrict the graph to survivors — the
  * standard "dense cohesive region" extractor (spam/bot rings in link
  * graphs, tight duplicate families in similarity graphs, community
  * nuclei) run the way distributed engines actually run it: one degree
  * aggregate + two semi-joins per round.
  *
  * The round budget is EXPLICIT (`rounds`), not run-to-convergence:
  * convergence needs a graph-dependent number of peels (this repo's
  * co-occurrence fixture needs 4–9 depending on SF and k). At 100 TB
  * you either pick the budget from the known degeneracy bound or wrap
  * the call in a loop that stops when the per-round survivor COUNT
  * (one answer-sized aggregate) stops falling — the per-round cost
  * model does not change. Extra rounds past the fixpoint are no-ops
  * (peeling is monotone), so a generous budget is safe, just not free.
  *
  * Each round `localCheckpoint`s the restricted adjacency (the q61
  * lineage discipline): a round references its input THREE times
  * (degree agg + two semi-join probes), so a lazy unroll re-executes
  * the upstream subtree ~3^rounds times — measured 12s for 4 rounds vs
  * 1.2s checkpointed on the q128 fixture. The previous round's blocks
  * are freed explicitly, keeping storage one-adjacency-sized. The
  * operator therefore runs eager actions at build time — catalog
  * entries mark it `eagerBuild` so benches time the full rebuild.
  *
  * Determinism: pure integer degree counting and equi-joins — exact
  * cross-engine, no floats anywhere.
  */
object KCore {

  /** Surviving nodes after `rounds` peels at threshold `k`, with their
    * degree in the peeled subgraph. Edges are treated as undirected and
    * normalized (self-loops dropped, duplicates/reversals collapsed).
    *
    * @return (node, coredeg) — after a CONVERGED peel every coredeg ≥ k;
    *         under a short budget some nodes may still sit below k
    *         (they would fall in later rounds)
    */
  def kCorePeel(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val und = edges
      .select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    var adj = und.select(col("u").as("n"), col("v").as("m"))
      .unionAll(und.select(col("v").as("n"), col("u").as("m")))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = adj.groupBy(col("n")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("n"))
      val next = adj
        .join(keep, Seq("n"), "left_semi")
        .join(keep.select(col("n").as("m")), Seq("m"), "left_semi")
        .localCheckpoint()
      DedupCluster.freeCheckpoint(adj)
      adj = next
    }
    adj.groupBy(col("n")).agg(count(lit(1)).as("coredeg"))
      .select(col("n").as("node"), col("coredeg"))
  }
}
