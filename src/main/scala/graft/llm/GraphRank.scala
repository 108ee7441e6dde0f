package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank-style link centrality, fully in-plan — the quality-weighting
  * signal a web-crawl curation pipeline computes over its link graph
  * (PageRank-weighted sampling is the canonical "which pages are worth
  * keeping" prior; the same rounds serve citation graphs and near-dup
  * cluster graphs).
  *
  * r_{k+1}(v) = (1−d)/n + d · Σ_{u→v} r_k(u)/outdeg(u), r_0 = 1/n.
  *
  * Scale shape (the q61/q84 iterative idiom): outdegree is ONE hash
  * aggregate, and the rank frame every round consumes and produces is a
  * pure `(node, pr)` pair. Unweighted, each round precomputes the
  * per-source share pr/outdeg on the broadcast side and probes the raw
  * edge frame; weighted, the normalized weight rides ON THE EDGE FRAME
  * (attached once at build time). Either way a round is exactly one
  * node-keyed equi-join (broadcast × edges on src), one hash aggregate by
  * dst, and a free union of the static in-degree-0 frame — the graph
  * lives in frames only. `n` is a 1-row broadcast in the
  * lazy form; under `reuseFrames` it is counted ONCE off the materialized
  * outdegree frame and embedded as a literal (one bounded driver long),
  * which deletes the per-round 1-row broadcast builds. Rank and degree
  * frames are |V|-sized and broadcast, so the node set must be
  * dimension-sized; edge frames are |E|-sized and never shuffle inside a
  * round. For rounds ≫ a handful,
  * localCheckpoint the rank frame on a cadence (the q61 lineage
  * discipline) — at the 2–3 rounds a curation prior needs, plain lineage
  * is cheaper.
  *
  * Node universe and dangling nodes: the node set is the set of edge
  * SOURCES. Source-only nodes (in-degree 0) are first-class — each round
  * re-unions the per-dst sums onto the full node list, so a node nobody
  * links to keeps its (1−d)/n baseline and keeps feeding its
  * out-neighbors. Destination-only nodes (out-degree 0, true dangling
  * sinks) remain OUT OF SCOPE by contract: they would absorb mass that
  * then drains from the total each round — symmetrize an undirected graph
  * first, or add self-loops. With `validate = true` (the default)
  * `pageRank` fails loudly if any destination never appears as a source;
  * pass `validate = false` to skip that one-time probe (two extra edge
  * scans) when the caller constructs the graph to satisfy the contract
  * (e.g. by symmetrizing) or has already validated it once.
  *
  * Determinism: per-edge contributions floor at scale 12 into longs
  * before the per-node sum (exact integer addition on any merge tree /
  * partitioning); everything else is fixed-order correctly-rounded IEEE
  * arithmetic (division, one multiply-add per node) — no libm at all, so
  * ranks are bit-identical cross-engine with no ±ulp caveat.
  */
object GraphRank {

  /** Ranks after `rounds` power-iteration rounds over directed `edges`.
    *
    * One execution regime: every round joins the rank frame into the edge
    * frame as a BROADCAST, so the edge frame never shuffles inside a round —
    * each round is a map-side hash join + partial aggregate + one
    * ≤|V|-sized exchange. The node set must therefore be dimension-sized
    * (it fits an executor: up to tens of millions of nodes). A
    * billion-node graph needs the shuffle-join round, which comes back only
    * with a caller that needs it, selected from the node count.
    *
    * @param edges one row per directed edge; duplicates count as parallel
    *              edges (they add outdegree and contribute twice — dedupe
    *              first if that is not intended)
    * @param validate the graph's input contract, checked: when true
    *                 (default), probe once that every destination also
    *                 appears as a source (the no-dangling-sink contract)
    *                 and fail loudly otherwise; set false to skip the probe
    *                 for graphs validated once or correct by construction
    *                 (symmetrized / self-looped)
    * @param reuseFrames when true, the frames every round reads — the edge
    *                    input, outdegree `od` and (weighted) the
    *                    weight-attached edge frame `se` — are EAGERLY
    *                    localCheckpoint'd once, `n` is counted once into
    *                    a literal, and every intermediate rank frame is
    *                    checkpointed (the q61 discipline; the call stops
    *                    being lazy). False
    *                    (default) keeps ONE lazy plan with zero driver
    *                    actions. Callers differ, each on measurement: q97
    *                    and q146 run lazy (one prepared plan, so a rerun
    *                    pays execution, not re-analysis); q190's vocabulary
    *                    graph runs eager, where the lazy form measured +16%
    *                    (r16 — its pinned `__s` exchange costs more than the
    *                    checkpoint rebuild).
    * @param symmetric the graph's input contract, declared: the edge set is
    *                  symmetric BY CONSTRUCTION (every (u,v) has its (v,u) —
    *                  e.g. built as `e ∪ reverse(e)`). Then dst set ≡ src
    *                  set, so the dangling-sink probe is vacuous (skipped
    *                  even under `validate`) and the in-degree-0 frame is
    *                  empty by construction — skipping its |E|-sized
    *                  dst-distinct and the per-round unionAll. Declaring
    *                  this falsely silently drains mass (the sink contract
    *                  above) — only pass true for symmetrize-first callers.
    * @param weightCol optional POSITIVE LONG edge-weight column (e.g.
    *        click/order counts): contributions become `pr·nw` with the
    *        NORMALIZED weight `nw = w/outstrength` (outstrength = Σw per
    *        source) computed ONCE on the edge frame — the weighted
    *        PageRank of link graphs with multiplicity, with the
    *        normalization folded out of the per-round loop (the SQL twins
    *        mirror the same `nw` CTE, so the IEEE order `pr·(w/ws)` is
    *        engine-identical). Non-positive weights fail
    *        loudly in-plan (a zero weight silently deletes an edge; a
    *        negative one corrupts mass). None (default) = every edge
    *        weighs 1, bit-identical to the unweighted form.
    * @return one row per node: `node`, `pr` (double), `pr12` (the exact
    *         scale-12 long the next round would consume — the
    *         deterministic sort/compare key)
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int, damping: Double = 0.85,
      validate: Boolean = true, reuseFrames: Boolean = false,
      symmetric: Boolean = false,
      weightCol: Option[String] = None): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    def ck(df: DataFrame): DataFrame =
      if (reuseFrames) df.localCheckpoint() else df
    // under reuseFrames the INPUT lineage runs exactly once: everything
    // below (outdegree, the attached edge frame, the in-degree-0 probe)
    // derives from this one materialized |E|-sized base, not from
    // re-executions of however expensive the caller's edge build was
    // NULL endpoints are dropped EXPLICITLY (r15). Two reasons: (1) the
    // contract — a NULL node id was never coherent (the probe joins
    // dropped it while the degree aggregate counted it); (2) plan reuse —
    // every branch now carries the SAME not-null filters, so Catalyst's
    // per-branch constraint inference (which adds isnotnull(src) above a
    // probe branch but isnotnull(src) AND isnotnull(dst) above a branch
    // whose aggregate output feeds a join) can no longer make the shared
    // |E|-sized subtrees canonically UNEQUAL — the r15 profile showed that
    // asymmetry defeating ReuseExchange and re-executing the
    // dedupe+explode edge build once per consumer at sf1.
    val base0 = edges.select(
      Seq(col(srcCol).as(srcCol), col(dstCol).as(dstCol)) ++
        weightCol.map(w =>
          when(col(w).cast("long") > 0, col(w).cast("long"))
            .otherwise(raise_error(concat(
              lit("pageRank: edge weight must be a positive long, got "),
              col(w).cast("string")))).as("__w")): _*)
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
    // Lazy form (r15): NO pinned |E|-sized exchange. The per-round probes
    // are broadcast joins — they require no particular partitioning — so
    // cross-consumer reuse rides the caller's LAST exchange (the
    // edge-dedupe shuffle in every catalog caller); each consumer re-runs
    // only the narrow post-exchange tail (dedupe-final + explode) inline,
    // which the r15 sf1 profile measured cheaper than writing + reading
    // the extra full-|E| src-hash exchange the pin cost. Unpinned,
    // groupBy(src) also gains a partial-aggregate ENSURE_REQUIREMENTS
    // exchange of its own — a |V|·partitions-sized boundary all degree
    // consumers (w builds, rank init, n) reuse. A caller whose edge build
    // has NO exchange at all should pass reuseFrames = true instead.
    val base = ck(base0)
    val src = col(srcCol)
    val dst = col(dstCol)
    // count(dst), not count(1): identical under the explicit not-null
    // endpoint filter, but it keeps BOTH edge columns required below the
    // partial aggregate — so when a caller pins the edge frame behind one
    // exchange, the degree branch does not get column-pruned into a
    // canonically different (1-column) copy of that exchange, which would
    // defeat ReuseExchange and re-run the edge build per branch (r15)
    val od = base.groupBy(src.as("node"))
      .agg(weightCol.fold(count(dst))(_ => sum(col("__w"))).as("deg"))
    if (validate && !symmetric) {
      // loud dangling-sink check: a dst that is never a src absorbs mass
      // that then drains from the total each round
      val dangling = base.select(dst.as("node")).distinct()
        .join(od, Seq("node"), "left_anti").limit(1).collect()
      require(dangling.isEmpty,
        s"dangling node '${dangling.headOption.map(_.get(0)).orNull}': every " +
          "destination must also appear as an edge source (symmetrize first)")
    }
    // n: a 1-row broadcast in the lazy form; under reuseFrames, counted
    // once off the materialized base and embedded as a LITERAL (one
    // bounded driver long), which deletes every per-round 1-row broadcast
    // build + crossJoin. `oneMinusD / n` is one IEEE double division
    // either way — identical bits to the SQL twins' `(1e0 - d) / n.n`.
    // count(when(deg > 0, …)), not count(1)/count(deg): deg is a positive
    // count/sum by construction so the value is identical, but a bare
    // count(deg) gets rewritten to count(1) by NullPropagation (deg is
    // non-nullable), after which column pruning manufactures a deg-less
    // od copy below this branch — a canonically different subtree that
    // defeats exchange reuse and re-runs the |E|-sized pass (r15)
    val nFrame =
      od.agg(count(when(col("deg") > 0, true)).as("n"))
    val nLit: Option[Long] = if (reuseFrames) Some(od.count()) else None
    val oneMinusD = 1.0 - damping // IEEE once, embedded as a literal
    def withBaseline(df: DataFrame, psumTerm: Column): DataFrame =
      nLit match {
        case Some(nv) => df.select(col("node"),
          (lit(oneMinusD / nv.toDouble) + psumTerm).as("pr"))
        case None => df.crossJoin(broadcast(nFrame)).select(col("node"),
          (lit(oneMinusD) / col("n") + psumTerm).as("pr"))
      }
    // Weighted layout: the normalized weight `__nw` = w/outstrength rides
    // ON the edge frame (normalization folded once, not per round), so the
    // rank frame stays a pure (node, pr) pair and NO round re-attaches deg.
    // Built with one broadcast od join, checkpointed under reuseFrames.
    val odSrc = od.select(col("node").as("__on"), col("deg"))
    // lazy val: the unweighted form never builds the decorated copy at
    // all — its per-source share moves to the broadcast side of each
    // round (below), and the probe side stays raw `base`. (The weighted
    // share w/outstrength is PER-EDGE, so it needs the decoration.)
    lazy val se = {
      val seRaw = base.join(broadcast(odSrc), src === col("__on"))
        .select(src.as("__s"), dst.as("__d"),
          (col("__w").cast("double") / col("deg")).as("__nw"))
      // lazy weighted form: pin the decorated edge frame behind ONE
      // __s-keyed exchange — every round's probe (and the final save) then
      // READS it via ReuseExchange instead of re-running the |E|-sized
      // decorate join per consumer (the r15 q97/q102 post-explode-pin
      // lesson applied to the weighted form). Under reuseFrames the
      // localCheckpoint is already the barrier.
      if (reuseFrames) seRaw.localCheckpoint() else seRaw.repartition(col("__s"))
    }
    // in-degree-0 nodes are STATIC: nobody ever links to them, so their
    // rank is pinned at the (1−d)/n baseline every round — computed once
    // and re-unioned per round (cheaper than a per-round left join), which
    // keeps them in the output and keeps their mass feeding out-neighbors.
    // On a symmetric graph (dst set ≡ src set) this frame is EMPTY by
    // construction — skip its |E|-sized dst-distinct and the per-round
    // unionAll entirely (the r11 job-count trim, cf. personalizedPageRank)
    val noIn: Option[DataFrame] = if (symmetric) None else {
      val dstNodes = base.select(dst.as("node")).distinct()
      Some(withBaseline(od.select(col("node"))
        .join(broadcast(dstNodes), Seq("node"), "left_anti"), lit(0.0)))
    }
    // Round-1 fold (r15): r0 is the UNIFORM 1/n for every node, so round 1
    // never builds a rank frame at all — the share reads `initPr` in place
    // of `pr`. (1/n)/deg (and (1/n)·nw weighted) is the same IEEE op pair
    // the explicit r0 frame produced, so psums are bit-identical; what
    // disappears is the |V|-sized init frame, its broadcast build, the
    // round-1 join, and the column-pruned od copy the init's deg-less
    // projection used to manufacture under a pinned edge exchange.
    val initPr: Column = nLit.map(nv => lit(1.0 / nv.toDouble))
      .getOrElse(lit(1.0) / col("n"))
    def withN(df: DataFrame): DataFrame =
      if (nLit.isDefined) df else df.crossJoin(broadcast(nFrame))
    var r: DataFrame = null
    var ranks: DataFrame = null
    for (k <- 1 to rounds) {
      // one map-side equi-join (edges × broadcast ranks on src) + one hash
      // aggregate by dst; the only exchange is the ≤|V|-sized
      // partially-aggregated contribution frame
      ranks = if (weightCol.isEmpty) {
        // the per-edge share floor((pr/deg)·1e12 + 0.5) is CONSTANT per
        // source, so precompute it ON THE BROADCAST SIDE (`__c`) and probe
        // the raw 2-column edge frame — bit-identical psums, no decorated
        // |E| copy (the r14 personalizedPageRank round shape, applied to
        // the dense unweighted rank frame, which is ≤|V|)
        val w = if (k == 1) {
          withN(odSrc).select(col("__on").as("__r"),
            floor((initPr / col("deg")) * lit(1e12) + 0.5)
              .cast("long").as("__c"))
        } else odSrc
          .join(broadcast(r.select(col("node").as("__rn"), col("pr"))),
            col("__on") === col("__rn"))
          .select(col("__on").as("__r"),
            floor((col("pr") / col("deg")) * lit(1e12) + 0.5)
              .cast("long").as("__c"))
        withBaseline(
          base.join(broadcast(w), src === col("__r"))
            .groupBy(dst.as("node"))
            .agg(sum(col("__c")).as("__psum")),
          lit(damping) * (col("__psum").cast("double") / lit(1e12)))
      } else {
        val joined =
          if (k == 1) withN(se).withColumn("pr", initPr)
          else se.join(broadcast(r.withColumnRenamed("node", "__r")),
            col("__s") === col("__r"))
        // weighted per-edge mass share pr·nw (nw precomputed on the edge
        // frame — the order the SQL twins mirror)
        withBaseline(
          joined.groupBy(col("__d").as("node"))
            .agg(sum(floor(col("pr") * col("__nw") * lit(1e12) + 0.5)
              .cast("long")).as("__psum")),
          lit(damping) * (col("__psum").cast("double") / lit(1e12)))
      }
      ranks = noIn.fold(ranks)(ranks.unionAll)
      // checkpoint intermediate rounds under reuseFrames so round k+1
      // (and its broadcast build) never re-executes round k's lineage —
      // the final round is consumed once by the caller, so it stays lazy
      if (k < rounds) r = ck(ranks)
    }
    ranks.withColumn("pr12", floor(col("pr") * lit(1e12) + 0.5).cast("long"))
  }

  /** Personalized PageRank: power iteration whose teleport mass lands on
    * a SEED SET instead of uniformly — the topic-conditioned quality
    * prior ("pages close to these trusted/topical seeds") a curation
    * pipeline uses where [[pageRank]] gives the global one.
    *
    *   r_{k+1}(v) = (1−d)·tele(v) + d · Σ_{u→v} r_k(u)/outdeg(u),
    *   tele(v) = 1/|S| for v ∈ S, else 0;  r_0 = tele.
    *
    * One execution regime: ONE lazy plan with zero driver actions (the
    * regime a resident engine serves — at sf1 the per-build Catalyst
    * analysis of an eager build cost 2× the execution, r14), and SPARSE
    * broadcast rounds: each round broadcasts only the nonzero-rank nodes,
    * with the per-edge share precomputed on the broadcast side, and probes
    * the raw 2-column edge frame. Rank, degree and seed frames must be
    * dimension-sized (as for [[pageRank]]). Nodes unreachable from the
    * seeds converge to rank 0 and are still emitted (a complete frame,
    * deterministic). Same contracts as [[pageRank]]: node set = edge
    * sources; dst ⊆ src guarded when `validate` (skipped when
    * `symmetric`); seeds must appear as sources — unknown seeds fail every
    * execution loudly, with their count (their teleport mass would
    * silently vanish).
    *
    * Determinism: identical to [[pageRank]] — scale-12 floored
    * contributions, no libm.
    */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String,
      rounds: Int, damping: Double = 0.85,
      validate: Boolean = true, symmetric: Boolean = false): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // explicit not-null endpoint filter: contract + ReuseExchange
    // canonical equality across branches — see [[pageRank]] (r15).
    // NO pinned |E|-sized exchange: the probes are broadcast joins with no
    // partitioning requirement, so reuse rides the caller's edge-dedupe
    // exchange and groupBy(src) gains its own reusable partial-aggregate
    // boundary (see [[pageRank]]; the r15 sf1 profile measured the pin's
    // extra full-|E| exchange write + reads costlier than the inline
    // dedupe-final re-runs).
    val base = edges.select(col(srcCol).as(srcCol), col(dstCol).as(dstCol))
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
    val src = col(srcCol)
    val dst = col(dstCol)
    // count(dst) = count(1) under the not-null filter; keeps the pinned
    // edge exchange canonically identical across branches — see [[pageRank]]
    val od = base.groupBy(src.as("node")).agg(count(dst).as("deg"))
    val sd = seeds.select(col(seedCol).as("node")).distinct()
    if (validate && !symmetric) {
      val dangling = base.select(dst.as("node")).distinct()
        .join(od, Seq("node"), "left_anti").limit(1).collect()
      require(dangling.isEmpty,
        s"dangling node '${dangling.headOption.map(_.get(0)).orNull}': every " +
          "destination must also appear as an edge source (symmetrize first)")
    }
    val oneMinusD = 1.0 - damping
    // seed flag rides next to deg in the node frame
    val odF = od
      .join(broadcast(sd.withColumn("__isSeed", lit(1))), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("__isSeed"), lit(0)).as("__isSeed"))
    // |S| and the seed-presence guard. A dropped seed silently deletes
    // teleport mass (the PPR analog of a dangling sink), so a mismatch
    // must fail loudly: ONE 1-row aggregate over one sd-side probe (r15 —
    // previously two separate frames cost an extra broadcast-build job and
    // an extra od-keys pass per execution) carries |S| (`1.0/__ns` is the
    // same IEEE division as a literal) and an in-plan `assert_true` whose
    // 1.0 result multiplies tele (x·1.0 ≡ x for every double) — a missing
    // seed fails every run loudly, with the missing COUNT in the message.
    // An EMPTY seed set is a legal degenerate: every tele is 0 and every
    // rank converges to 0 — the same all-zero frame the SQL form yields
    // (its CASE never reaches the 1/ns division).
    val metaF = sd
      // deg (never NULL) doubles as the presence flag so this probe does
      // not column-prune od into a separate deg-less copy (r15)
      .join(od.select(col("node"), col("deg").as("__in")), Seq("node"), "left")
      .agg(count(lit(1)).cast("double").as("__ns"),
        count(when(col("__in").isNull, true)).as("__miss"))
      .select(col("__ns"), coalesce(
        assert_true(col("__miss") === 0,
          concat(lit("personalizedPageRank: "), col("__miss"),
            lit(" seed(s) are not edge sources: every seed must be a " +
              "node of the graph"))).cast("double"),
        lit(1.0)).as("__guard"))
    // Seeds-only teleport frame: tele over JUST the |S| seed rows, built
    // from `sd` directly — bit-identical to odT.filter(tele > 0) (tele > 0
    // ⇔ seed; same (1.0/ns)·guard IEEE ops) but its lineage never touches
    // the |E|-sized degree aggregate, deleting one od pass (round-1 w
    // build) and one more (intermediate completion) per execution — the
    // r15 sf1 trim.
    // The division is guarded by `__ns > 0`: with a NON-empty seed set the
    // branch is the identical (1.0/ns)·guard IEEE ops (CaseWhen evaluates
    // the taken branch only — bit-identical), and with an EMPTY seed set the
    // frame has zero rows anyway — but Catalyst pushes round-1's
    // `pr =!= 0.0` filter through the crossJoin onto the 1-row metaF side,
    // where an unguarded 1.0/0.0 is an ANSI DIVIDE_BY_ZERO even though no
    // seed row ever materializes (found by the sf0.001 oracle gate: nation-7
    // has zero suppliers there, r15).
    val seedTeleF = sd.crossJoin(broadcast(metaF))
      .select(col("node"),
        when(col("__ns") > 0.0, lit(1.0) / col("__ns") * col("__guard"))
          .otherwise(lit(0.0)).as("tele"))
    val odT = odF.crossJoin(broadcast(metaF))
      .select(col("node"), col("deg"),
        (when(col("__isSeed") === 1, lit(1.0) / col("__ns"))
          .otherwise(lit(0.0)) * col("__guard")).as("tele"))

    // init rides the |S|-sized seed frame: round 1's w filters to pr ≠ 0
    // anyway, so seeding with the nonzero rows alone is the same frame
    // with the |E|-sized odT lineage cut out of its plan.
    var r: DataFrame = seedTeleF.select(col("node"), col("tele").as("pr"))
    var ranks: DataFrame = null
    for (k <- 1 to rounds) {
      // SPARSE round (the PPR-specific win): teleport-seeded rank frames
      // are mostly EXACT zeros (tele = 0 off-seed, and a zero rank
      // contributes floor(0·1e12/deg + 0.5) = 0 to every psum), so the
      // join side filters to pr ≠ 0 — round 1 broadcasts |S| rows, not
      // |V| — and a left-join COMPLETION against the node frame restores
      // the all-nodes output with psum = 0, which is bit-identical to
      // aggregating the zero contributions (x + d·0 = x). The completion
      // join also subsumes the in-degree-0 re-union: those nodes simply
      // have no aggregate row. Both joins are map-side.
      // The per-edge share floor((pr/deg)·1e12 + 0.5) is CONSTANT per
      // source, so it is precomputed ON THE BROADCAST SIDE (`__c`, one
      // row per nonzero-rank node) — bit-identical psums, and the probe
      // side stays the raw 2-column edge frame: no decorated |E|-sized
      // copy is built, and each round scans 2 longs per edge.
      // The share divisor comes from the BARE degree frame (w never reads
      // tele, and joining odT instead was pulling the whole
      // seed-decoration lineage into every round's broadcast build — r15).
      // The prior rank frame is consumed exactly once per round (by this
      // broadcast build), so round k executes once inside round k+1's
      // lineage and needs no checkpoint.
      val w = od
        .join(broadcast(r.filter(col("pr") =!= 0.0)
            .select(col("node").as("__rn"), col("pr"))),
          col("node") === col("__rn"))
        .select(col("node").as("__r"),
          floor((col("pr") / col("deg")) * lit(1e12) + 0.5)
            .cast("long").as("__c"))
      val contrib = base
        .join(broadcast(w), src === col("__r"))
        .groupBy(dst.as("__an"))
        .agg(sum(col("__c")).as("__psum"))
      ranks = if (k < rounds) {
        // Intermediate rounds skip the |V|-sized completion: the next
        // round refilters to pr ≠ 0, and pr ≠ 0 ⇔ psum ≠ 0 ∨ tele > 0
        // (every term is ≥ 0), so completing contrib against the
        // |S|-sized seed frame alone is exact — a node in neither frame
        // has pr exactly 0.0 and feeds nothing forward. contrib is
        // already hash-partitioned on the join key by its aggregate, so
        // the full-outer costs one |S|-sized exchange, not a |V| scan.
        contrib.join(seedTeleF, col("__an") === col("node"), "full_outer")
          .select(coalesce(col("node"), col("__an")).as("node"),
            (lit(oneMinusD) * coalesce(col("tele"), lit(0.0)) +
              lit(damping) *
              (coalesce(col("__psum"), lit(0L)).cast("double") / lit(1e12)))
              .as("pr"))
      } else odT
        .join(broadcast(contrib), col("node") === col("__an"), "left")
        .select(col("node"),
          (lit(oneMinusD) * col("tele") + lit(damping) *
            (coalesce(col("__psum"), lit(0L)).cast("double") / lit(1e12)))
            .as("pr"))
      r = ranks
    }
    ranks.select(col("node"), col("pr"))
      .withColumn("pr12", floor(col("pr") * lit(1e12) + 0.5).cast("long"))
  }

  /** Top-`k` nodes by rank: `rnk`, `node`, `pr12` — TakeOrderedAndProject
    * on the exact scale-12 key, ties broken on node id.
    */
  def topK(ranks: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = ranks.orderBy(col("pr12").desc, col("node")).limit(k)
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("pr12").desc, col("node"))))
      .select(col("rnk"), col("node"), col("pr12"))
  }

  /** Top-`k` nodes by TRIANGLE participation over an undirected graph —
    * the local-clustering signal a link-graph curation pipeline uses to
    * tell genuine communities from spam farms (triangles are what link
    * rings can't cheaply fake).
    *
    * Algorithm: compact-forward triangle enumeration under DEGREE-ORDERED
    * orientation. Edges normalize to undirected distinct pairs (self-loops
    * and duplicate/reversed inputs collapse); each edge orients from its
    * lower (degree, id) endpoint to its higher one; wedges come from the
    * oriented adjacency self-joined on the source; a wedge (u; a, b) is a
    * triangle iff the oriented edge a→b exists (one equi-join probe). Each
    * triangle is found EXACTLY once, at its minimum-(degree, id) vertex.
    *
    * Scale shape — why this survives hub nodes: a naive adjacency
    * self-join blows up as Σ deg(v)² (a 10⁶-degree hub alone yields 10¹²
    * wedge rows). Degree-ordered orientation caps every ORIENTED
    * out-degree at O(√(2·|E|)) (a node can only point to neighbors of
    * equal-or-higher degree, and there are at most √(2E) nodes of degree
    * ≥ √(2E)), so wedge volume is bounded by |E|^1.5 in the worst case
    * and by arboricity·|E| on real graphs — no salting needed, the
    * orientation IS the skew defense. All three stages are equi-joins on
    * node keys; nothing is ever all-pairs.
    *
    * Determinism: pure integer counting — no floats anywhere. The
    * orientation key packs (degree, id) into one long (`deg·2³² + id`),
    * a total order because ids are distinct.
    *
    * @param edges one row per edge, either direction, duplicates fine
    *              (normalized away); node ids must be integral, distinct
    *              ids < 2³² and degrees < 2³¹ (the packed-key domain)
    * @return `rnk`, `node`, `tri_cnt` — only nodes in ≥ 1 triangle
    *         appear; ties break on node id
    */
  def triangleTopK(
      edges: DataFrame, srcCol: String, dstCol: String,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val s = col(srcCol)
    val d = col(dstCol)
    val und = edges.filter(s =!= d)
      .select(least(s, d).cast("long").as("u"),
        greatest(s, d).cast("long").as("v"))
      // no-op semantically (least/greatest of non-null keys), but it
      // EQUALIZES constraints across consumers: the deg-join side of `oe`
      // otherwise gets isnotnull(least/greatest(...)) INFERRED into its
      // join condition while the explode-degree side does not, making the
      // pair-distinct exchange canonically unequal — each consumer then
      // re-executes the whole edge build (the r15 GraphRank lesson)
      .filter(col("u").isNotNull && col("v").isNotNull)
      .distinct()
    // degrees via explode(array(u, v)), not a two-projection union: the
    // union's legs prune `und` to one column each, making the expensive
    // pair-distinct exchange canonically unequal to the `oe` consumer's —
    // each union leg then re-executed the full edge build (the
    // degreeAssortativity lesson, measured there 0.72 → 0.53 s)
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val uOrd = col("du") * lit(4294967296L) + col("u")
    val vOrd = col("dv") * lit(4294967296L) + col("v")
    // sort-merge is deliberately kept for these node-keyed equi-joins: the
    // three consumers of `oe` share canonical exchange subtrees, so
    // ReuseExchange pays each sort once across the whole plan (an A/B with
    // shuffle_hash hints measured 0.54→0.79s — per-consumer hash builds
    // cost more than the shared sorts)
    val oe = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(uOrd <= vOrd, col("u")).otherwise(col("v")).as("s"),
        when(uOrd <= vOrd, col("v")).otherwise(col("u")).as("t"),
        when(uOrd <= vOrd, vOrd).otherwise(uOrd).as("t_ord"))
    // wedges at the min-(deg,id) vertex; t_ord < t_ord2 picks each
    // unordered neighbor pair once
    val wedges = oe
      .join(oe.select(col("s").as("s2"), col("t").as("t2"),
          col("t_ord").as("t_ord2")),
        col("s") === col("s2") && col("t_ord") < col("t_ord2"))
      .select(col("s").as("w_u"), col("t").as("w_a"), col("t2").as("w_b"))
    val tri = wedges
      .join(oe.select(col("s").as("c_a"), col("t").as("c_b")),
        col("w_a") === col("c_a") && col("w_b") === col("c_b"))
      .select(col("w_u").as("n1"), col("w_a").as("n2"), col("w_b").as("n3"))
    val counts = tri
      .select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
    val top = counts.orderBy(col("tri_cnt").desc, col("node")).limit(k)
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("tri_cnt").desc, col("node"))))
      .select(col("rnk"), col("node"), col("tri_cnt"))
  }

  /** Degree assortativity coefficient of an undirected graph — Newman's
    * r: the Pearson correlation of the degrees at the two ends of every
    * edge. Positive = hubs link to hubs (social/citation shape), negative
    * = hubs link to leaves (star/spam-farm shape) — the one-number
    * structural fingerprint a link-graph curation pipeline reads next to
    * [[triangleTopK]]'s clustering signal.
    *
    * Over the 2|E| ordered edge-end pairs (each undirected edge counted
    * both directions — the standard convention, which makes the two
    * marginals identical):
    *
    *   r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²),   M = 2|E|
    *
    * Exactness: degrees are exact longs; all four moments accumulate in
    * DECIMAL(38,0) (Σdeg² products overflow LONG past ~3·10⁹-degree
    * hubs); r is ONE double division of exact integers — no
    * order-dependence anywhere, so the statistic is engine-identical
    * before its final r4 rounding. r is NULL for degree-regular graphs
    * (denominator exactly 0, decided in DECIMAL).
    *
    * Plan: edge normalization (1 distinct), one degree aggregate, two
    * node-keyed equi-joins back to edges (the [[triangleTopK]] reuse
    * shape), one scalar aggregate + a broadcast of the 1-row node count.
    * Nothing all-pairs, nothing data-sized after the joins.
    *
    * @param edges one row per edge, either direction; duplicates and
    *              self-loops normalized away
    * @return ONE row: (n_nodes, m_edges, sum_deg, r)
    */
  def degreeAssortativity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val s = col(srcCol)
    val d = col(dstCol)
    // explicit not-null endpoint filters (no-ops semantically: u/v are
    // least/greatest of join keys): the degree joins below infer
    // isnotnull(u)/isnotnull(v) on THEIR copy of `und` and Catalyst pushes
    // them under the distinct, making that copy canonically unequal to the
    // explode branch's — each consumer then re-executed the whole
    // self-join + pair-distinct (the q97/q101 constraint-equalizing
    // lesson; sf1 profile showed the 390 MB edge input scanned twice)
    val und = edges.filter(s =!= d)
      .select(least(s, d).cast("long").as("u"),
        greatest(s, d).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .distinct()
    // degrees via explode(array(u, v)) rather than a two-projection union:
    // every consumer of `und` then requires BOTH columns, so the expensive
    // pair-distinct exchange canonicalizes identically across branches and
    // Spark's exchange reuse materializes it ONCE (the union form pruned
    // to one column per branch and recomputed the self-join per use —
    // measured 0.72 → 0.53s on q188 at sf0.1)
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .filter(col("node").isNotNull)
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val j = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val m = j.agg(
      count(lit(1)).as("m_edges"),
      sum(dec(col("du")) + dec(col("dv"))).as("__sx"),
      sum(dec(col("du")) * dec(col("du")) +
        dec(col("dv")) * dec(col("dv"))).as("__sxx"),
      sum(dec(col("du")) * dec(col("dv"))).as("__sxy"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("deg")).as("sum_deg"))
    val num = dec(lit(4)) * dec(col("m_edges")) * col("__sxy") -
      col("__sx") * col("__sx")
    val den = dec(lit(2)) * dec(col("m_edges")) * col("__sxx") -
      col("__sx") * col("__sx")
    m.crossJoin(broadcast(nn))
      .select(
        col("n_nodes"), col("m_edges"), col("sum_deg"),
        when(den =!= dec(lit(0)),
          num.cast("double") / den.cast("double")).as("r"))
  }

  /** Newman modularity of a GIVEN node partition over an undirected graph
    * — "do these communities actually capture the edge structure?" (the
    * grade for any clustering of a link/co-occurrence graph: components,
    * domains, brands):
    *
    *   Q = Σ_c ( e_c/m − (d_c/2m)² )
    *     = Σ_c (4m·e_c − d_c²) / (4m²)
    *
    * with e_c intra-community edges, d_c the community degree sum, m all
    * edges. Q ≈ 0 means the partition is no better than random wiring at
    * the same degree sequence; Q ≳ 0.3 is substantive structure.
    *
    * Exactness: the second form is ONE exact rational — e_c, d_c, m are
    * longs, each community's 4m·e_c − d_c² accumulates in DECIMAL(38,0)
    * (headroom: 8m² ≲ 10³⁸, any real graph), Q is one final double
    * division. No per-community floats anywhere.
    *
    * Nodes absent from `communities` group as ONE NULL community
    * (null-safe comparisons both sides — the [[graft.operators.Eval]]
    * contingency convention); `communities` must be one row per node
    * (duplicates would double-count degrees — not checked, documented).
    *
    * Plan: edge normalization (1 distinct), degree aggregate, two
    * node-keyed equi-joins of the community map (the
    * [[degreeAssortativity]] shape), then everything is community-sized:
    * one e_c aggregate, one d_c aggregate, a full-outer merge, one scalar
    * aggregate with the broadcast 1-row m.
    *
    * @param edges one row per edge, either direction; duplicates and
    *              self-loops normalized away
    * @return ONE row: (n_nodes, m_edges, n_comms, q)
    */
  def modularity(
      edges: DataFrame, srcCol: String, dstCol: String,
      communities: DataFrame, nodeCol: String, commCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val s = col(srcCol)
    val d = col(dstCol)
    val und = edges.filter(s =!= d)
      .select(least(s, d).cast("long").as("u"),
        greatest(s, d).cast("long").as("v"))
      .distinct()
    val comm = communities.select(col(nodeCol).cast("long").as("__node"),
      col(commCol).cast("string").as("__comm"))
    // explode(array(…)) degree form — see [[degreeAssortativity]]: keeps
    // the pair-distinct exchange reusable across the deg/e_c/m branches
    val deg = und.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dC = deg
      .join(comm, col("node") === col("__node"), "left")
      .groupBy(col("__comm")).agg(
        sum(col("deg")).as("__dc"), count(lit(1)).as("__nodes"))
    val withC = und
      .join(comm.select(col("__node").as("__nu"), col("__comm").as("__cu")),
        col("u") === col("__nu"), "left")
      .join(comm.select(col("__node").as("__nv"), col("__comm").as("__cv")),
        col("v") === col("__nv"), "left")
    val eC = withC.filter(col("__cu") <=> col("__cv"))
      .groupBy(col("__cu").as("__comm")).agg(count(lit(1)).as("__ec"))
    val m = und.agg(count(lit(1)).as("m_edges"))
    val perComm = dC.join(eC, dC("__comm") <=> eC("__comm"), "left")
      .select(dC("__comm"), col("__dc"), col("__nodes"),
        coalesce(col("__ec"), lit(0L)).as("__ec"))
      .crossJoin(broadcast(m))
    val num = dec(lit(4)) * dec(col("m_edges")) * dec(col("__ec")) -
      dec(col("__dc")) * dec(col("__dc"))
    perComm.agg(
        sum(col("__nodes")).as("n_nodes"),
        max(col("m_edges")).as("m_edges"),
        count(lit(1)).as("n_comms"),
        sum(num).as("__qnum"))
      .select(col("n_nodes"), col("m_edges"), col("n_comms"),
        when(col("m_edges") > 0,
          col("__qnum").cast("double") /
            (lit(4.0) * col("m_edges").cast("double") *
              col("m_edges").cast("double"))).as("q"))
  }
}
