package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT Jaccard similarity self-join under a threshold, via prefix
  * filtering (the AllPairs / PPJoin family, Bayardo et al. WWW'07;
  * Chaudhuri et al. ICDE'06) — the exact complement to the MinHash+LSH
  * approximate path ([[MinHashLsh]]): LSH answers "probably similar,
  * tunable recall"; this answers "provably EVERY pair with J ≥ num/den,
  * zero misses", which is what a dedup audit or a recall measurement of
  * the LSH tables needs.
  *
  * Why it scales — the lossless prefix filter: order every document's
  * distinct tokens by a single GLOBAL total order (document frequency
  * ascending, token as tie-break — rarest first) and keep only each
  * document's first `n − ⌈t·n⌉ + 1` tokens as its PREFIX. Any pair with
  * Jaccard ≥ t = num/den satisfies `|A∩B| ≥ t·|A|` (since
  * `union ≥ |A|`), so the globally-first common token sits within both
  * prefixes — the prefix×prefix equi-join loses NOTHING while joining
  * only on each document's rarest tokens: the df-ascending order IS the
  * skew defense (stopwords land at the END of the order and never enter
  * short prefixes; no hot posting lists, no salting needed). Verification
  * then touches candidates only.
  *
  * Exactness: threshold is a RATIONAL num/den; prefix length and the
  * final gate (`inter·den ≥ num·union`) are pure integer arithmetic —
  * bit-identical cross-engine, no floating-point threshold edge. The
  * reported `sim` is one IEEE division of two small exact integers
  * (deterministic), emitted raw.
  *
  * Cost model at 100 TB: token explode is corpus-token-bounded; the df
  * frame is vocabulary-sized; candidates = Σ per-prefix-token df² over
  * RARE tokens only (the filter's entire point); verification is two
  * id-keyed equi-joins fanning candidates by set size. No all-pairs
  * stage anywhere (PlanShapeSpec-style: no BNLJ/cartesian).
  */
object SetSimJoin {

  /** floor(a / b) for non-negative integer Columns, in exact integer
    * arithmetic: `(a − a mod b) / b` — the subtraction makes the numerator
    * an exact multiple, so the double division is exact. Avoids
    * `floor(a/b)` FP edges and keeps SQL twins (`//`) bit-identical.
    */
  private def floorDiv(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b))) / lit(b)).cast("long")

  /** The shared front half of both joins, as ONE id-keyed index frame:
    * per doc, the distinct non-empty tokens SORTED by the global
    * (df asc, token asc) order (`__arr`), the set size (`__n`), and the
    * df-ascending prefix of length `n − ⌈num·n/den⌉ + 1` (`__pre`,
    * all-integer) — the lossless-prefix invariant lives HERE, once, for
    * both the symmetric and the containment gate.
    *
    * r15 shape (was: row_number + count windows per doc, then candidate
    * verification by fanning each candidate out over its token rows and
    * counting matches): the per-doc order/size/prefix now come out of one
    * `collect_list` + `array_sort` aggregate — same (df, token) total
    * order, same prefix SET — and verification intersects the two docs'
    * sorted arrays directly. One hash aggregate replaces two window
    * passes, and every downstream consumer (prefix explode a/b,
    * verification a/b) hangs off the aggregate's single id-keyed
    * exchange (ReuseExchange shares it; measured at sf0.1 the corpus
    * tokenize+explode ran 4× in the window form, 2× now — the df count
    * build and the index probe). Per-doc arrays are bounded by document
    * size (the same bound the SQL twin's list_transform carries), never
    * corpus-sized.
    */
  private def docIndex(
      docs: DataFrame, idCol: String, tokens: Column,
      num: Int, den: Int): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      s"threshold num/den must be in (0, 1], got $num/$den")
    val tok = docs
      .select(col(idCol).as("__id"), explode(array_distinct(tokens)).as("token"))
      .filter(col("token") =!= "")
    val dfc = tok.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    // The id-keyed exchange under the index aggregate is the one every
    // consumer (prefix explode a/b, verification a/b) hangs off — and the
    // stage above it does the round's CPU-dense work (collect+sort,
    // candidate join, distinct, array_intersect verification: 9.2 s of
    // executor time in ONE 8-task stage under the bench's byte-sized
    // shuffle default, r16 profile). Partition it at the core-count floor
    // (graft.Par.wide) so the verification stage always has a partition
    // per core; same shuffle either way, only the width changes.
    val sorted = tok.join(dfc, "token")
      .repartition(graft.Par.wide(docs.sparkSession), col("__id"))
      .groupBy(col("__id"))
      .agg(array_sort(collect_list(struct(col("__df"), col("token"))))
        .as("__st"))
    val n = size(col("__st")).cast("long")
    val prefLen =
      n - floorDiv(lit(num.toLong) * n + lit(den - 1L), den) + 1
    // __pre keeps the df-ascending order (the lossless-prefix invariant);
    // the full token array is re-sorted into PLAIN string order (__av) so
    // verification can run the compiled two-pointer intersect kernel —
    // one array_sort per document replaces a hash-set build + result
    // array per CANDIDATE pair (the set the intersection counts is
    // order-independent, so the count is the identical integer)
    sorted.select(col("__id"),
      transform(col("__st"), x => x.getField("token")).as("__arr"),
      n.as("__n"),
      prefLen.cast("int").as("__plen"))
      .select(col("__id"), array_sort(col("__arr")).as("__av"), col("__n"),
        slice(col("__arr"), lit(1), col("__plen")).as("__pre"))
    // (An id-keyed repartition pin here is a no-op: the aggregate's output
    // is already hashpartitioning(__id), so the optimizer elides the
    // exchange — the index agg's single id-keyed exchange below it is
    // what the four consumers share via ReuseExchange; the per-consumer
    // re-run of the answer-side collect_list tail is the residual cost.)
  }

  /** All pairs (id_a < id_b) with Jaccard(tokens_a, tokens_b) ≥ num/den.
    *
    * @param docs   input frame
    * @param idCol  unique document id column name
    * @param tokens array<string> expression (need not be distinct; empty
    *               strings are dropped, mirroring SQL `string_split`
    *               artifacts from repeated separators)
    * @param num/den similarity threshold as a rational in (0, 1]
    * @return (id_a, id_b, inter, union_n, sim) — sim = inter/union_n
    */
  def jaccardJoin(
      docs: DataFrame, idCol: String, tokens: Column,
      num: Int, den: Int): DataFrame = {
    val idx = docIndex(docs, idCol, tokens, num, den)

    val pa = idx.select(col("__id").as("id_a"), col("__n").as("__na"),
      explode(col("__pre")).as("token"))
    val pb = idx.select(col("__id").as("id_b"), col("__n").as("__nb"),
      explode(col("__pre")).as("token"))
    val cand = pa
      .join(pb, pa("token") === pb("token") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__na"), col("__nb"))
      .distinct()

    // verification: two id-keyed joins attach the string-sorted token
    // arrays; |A∩B| is the compiled two-pointer merge count — identical
    // integer to array_intersect over the same distinct sets, with no
    // per-candidate hash-set/result-array allocation.
    // The count is emitted through explode(array(…)) — a 1-row Generate
    // whose output the threshold filter references, so Catalyst CANNOT
    // inline the alias and push the predicate into the join condition.
    // Without the barrier the executed plan evaluated the O(|A|+|B|)
    // kernel THREE times per candidate pair (twice inside the pushed BHJ
    // condition `inter·den ≥ (na+nb−inter)·num`, once more in the output
    // projection — join-condition and downstream Project do not share
    // codegen subexpressions); with it the kernel runs ONCE (r16 profile:
    // the verification stage held 20.2 of q125's 26.3 s executor time).
    val inter = cand
      .join(idx.select(col("__id").as("id_a"), col("__av").as("__aa")), "id_a")
      .join(idx.select(col("__id").as("id_b"), col("__av").as("__ab")), "id_b")
      .select(col("id_a"), col("id_b"), col("__na"), col("__nb"),
        explode(array(graft.functions.QgramKernels
          .sortedStringsIntersect(col("__aa"), col("__ab")))).as("inter"))

    val unionN = col("__na") + col("__nb") - col("inter")
    inter
      .filter(col("inter") * den >= lit(num.toLong) * unionN)
      .select(col("id_a"), col("id_b"), col("inter"),
        unionN.as("union_n"),
        (col("inter") / unionN).as("sim"))
  }

  /** All ORDERED pairs (a ≠ b) with containment
    * `|A∩B| / |A| ≥ num/den` — the ASYMMETRIC near-dup relation Jaccard
    * misses: a short document wholly embedded in a long one has tiny
    * Jaccard but containment ≈ 1 (quote extraction, boilerplate wrappers,
    * subset-scrape dedup — the Broder containment coefficient).
    *
    * Prefix filtering adapts one-sided: `|A∩B| ≥ t·|A|` bounds only A's
    * share, so only the CONTAINED side can be prefix-pruned
    * (len `n_a − ⌈t·n_a⌉ + 1` under the same global df-ascending order);
    * the containing side must index ALL its tokens. Still lossless, and
    * still skew-safe — candidates pair A's RAREST tokens against the full
    * posting lists, so Σ df over rare tokens bounds the candidate count;
    * stopwords never enter a prefix.
    *
    * Exactness: gate `inter·den ≥ num·n_a` is pure integer; `containment`
    * is one IEEE division of two exact integers.
    *
    * @return (id_a, id_b, inter, n_a, containment) — directional: id_a is
    *         the contained side
    */
  def containmentJoin(
      docs: DataFrame, idCol: String, tokens: Column,
      num: Int, den: Int): DataFrame = {
    val idx = docIndex(docs, idCol, tokens, num, den)

    val pa = idx.select(col("__id").as("id_a"), col("__n").as("__na_"),
      explode(col("__pre")).as("token"))
    // containing side indexes ALL its tokens (one-sided prefix filter) —
    // exploded off the same index frame, so it shares the aggregate's
    // exchange instead of re-tokenizing the corpus (the token SET is
    // order-independent, so exploding the string-sorted copy is identical)
    val tb = idx.select(col("__id").as("id_b"), explode(col("__av")).as("token"))
    val cand = pa
      .join(tb, pa("token") === tb("token") && col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("__na_").as("__na"))
      .distinct()

    // explode(array(…)) barrier = single kernel evaluation per candidate —
    // see jaccardJoin (the pushed join condition was re-evaluating the
    // two-pointer intersect per pair on top of the output projection)
    val inter = cand
      .join(idx.select(col("__id").as("id_a"), col("__av").as("__aa")), "id_a")
      .join(idx.select(col("__id").as("id_b"), col("__av").as("__ab")), "id_b")
      .select(col("id_a"), col("id_b"), col("__na"),
        explode(array(graft.functions.QgramKernels
          .sortedStringsIntersect(col("__aa"), col("__ab")))).as("inter"))

    inter
      .filter(col("inter") * den >= lit(num.toLong) * col("__na"))
      .select(col("id_a"), col("id_b"), col("inter"),
        col("__na").as("n_a"),
        (col("inter") / col("__na")).as("containment"))
  }
}
