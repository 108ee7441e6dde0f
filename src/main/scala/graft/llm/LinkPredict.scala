package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Neighborhood-overlap link prediction over an undirected graph:
  * common-neighbor count, neighborhood Jaccard, and Adamic–Adar
  * (Σ 1/ln deg(w) over shared neighbors w — rare shared neighbors weigh
  * more) for node pairs at distance 2 — "which items/docs/users LOOK
  * connected but aren't yet": recommendation candidates, or a dedup
  * reviewer's "these two clusters probably belong together" signal.
  *
  * Plan shape: normalize edges (dedupe, drop self-loops, canonical
  * u<v) → wedge self-join on the CENTER node (each wedge a–w–b emits the
  * candidate pair (a,b)) → one pair-keyed aggregate → degree joins →
  * anti-join against existing edges (predict only NEW links). No
  * cartesian anywhere; cost = Σ_w deg(w)² wedges, the same term q101's
  * triangle count pays.
  *
  * Determinism: counts and Jaccard are exact integer / single-division
  * arithmetic. Adamic–Adar sums `1/ln(deg)` doubles — r4 convention
  * (`ln` agrees bit-for-bit across engines on the q109/q115 evidence;
  * deg(w) ≥ 2 always, since w is adjacent to both a and b, so ln > 0).
  */
object LinkPredict {

  /** Top-k predicted links. Input edges are treated as UNDIRECTED and
    * are normalized (self-loops dropped, duplicates and reversals
    * collapsed).
    *
    * The node-sized degree frame broadcasts into its three join sites
    * (the q97 broadcast-rank precedent; saves three shuffle+sort pairs),
    * so the node set must be dimension-sized. A billion-node graph would
    * need the shuffle joins back, selected from the node count.
    *
    * @return (rnk, u, v, cn, jaccard, aa) — ordered by (cn desc, u, v);
    *         jaccard = cn/(deg u + deg v − cn)
    */
  def predict(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val und = edges
      .select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    // symmetric adjacency + degrees. Explode, not a two-projection union:
    // the union's legs (and the degree consumer, which never reads `m`)
    // prune `und` to one column each, so the expensive edge-normalize
    // distinct exchange canonicalizes differently per consumer and the
    // whole upstream edge build re-executes for each — explode keeps every
    // consumer's `und` subtree identical and ReuseExchange materializes it
    // once (the q101/q188 explode-degree lesson).
    val adj = und
      .select(explode(array(
        struct(col("u").as("n"), col("v").as("m")),
        struct(col("v").as("n"), col("u").as("m")))).as("__e"))
      .select(col("__e.n").as("n"), col("__e.m").as("m"))
    val deg = broadcast(adj.groupBy(col("n")).agg(count(lit(1)).as("d")))

    // wedges a–w–b (a<b), centered on w
    val centers = adj.join(deg, "n").select(col("n"), col("m"), col("d"))
    val wedges = centers.as("x")
      .join(centers.as("y"),
        col("x.n") === col("y.n") && col("x.m") < col("y.m"))
      .select(col("x.m").as("a"), col("y.m").as("b"), col("x.d").as("dw"))

    val pairScores = wedges
      .groupBy(col("a"), col("b"))
      .agg(
        count(lit(1)).as("cn"),
        sum(lit(1.0) / log(col("dw").cast("double"))).as("aa"))

    val newLinks = pairScores.join(und,
      pairScores("a") === und("u") && pairScores("b") === und("v"),
      "left_anti")

    val scored = newLinks
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(col("a").as("u"), col("b").as("v"), col("cn"),
        (col("cn") / (col("da") + col("db") - col("cn"))).as("jaccard"),
        col("aa"))

    // rank order is (cn desc, u, v) — integer-only, so cross-engine rank
    // agreement is exact; aa (an association-ordered double SUM) is a
    // reported score, never a sort key
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("cn").desc, col("u"), col("v"))
    // answer-sized by construction: only the top-k survive the rank filter,
    // and Spark plans a TakeOrdered-style WindowGroupLimit, not a global sort
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col("u"), col("v"), col("cn"), col("jaccard"), col("aa"))
  }
}
