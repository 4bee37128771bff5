package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames — the Pregel shape
  * expressed relationally: per superstep, one join (ranks onto
  * edges) plus one aggregate (contributions by destination), both
  * hash-partitioned on the node id, so every iteration is a single
  * co-partitioned shuffle round. Complements the min-label-propagation
  * connected components in [[graft.llmdata.Dedup]].
  */
object Graph {

  /** PageRank with INTEGER-EXACT arithmetic (Page et al. 1999, the
    * public algorithm, on the un-normalized per-node form): ranks are
    * scaled longs, contributions are floor divisions, and the damping
    * update is
    *
    *   r'(v) = ((den-num)*scale + num * Σ_{u→v} (r(u) div deg(u))) div den
    *
    * — every step integer, so the whole trajectory is replayable
    * bit-for-bit by any engine (the q169 oracle unrolls the
    * iterations as CTEs). Floating-point PageRank would diverge
    * across engines in the last ulp and make the ranking
    * unverifiable; the quantization error is ≤ deg(u) ulps of 1/scale
    * per node per step — invisible at scale=1e12.
    *
    * Scale shape: edges and degrees are computed once and cached;
    * each of the `iters` supersteps is one join on the node id plus
    * one partial-aggregated groupBy(dst) — the canonical distributed
    * PageRank round. Nodes with no in-edges keep the base mass via
    * the left join. The node set is src ∪ dst, so SINK nodes (in-edges
    * only, common in directed graphs) get a rank row too: they receive
    * contributions and base mass but contribute nothing (deg 0 —
    * mass flowing into a sink stays there un-redistributed, the
    * un-normalized-form contract). Overflow contract: num * Σcontrib
    * must stay under 2^63, i.e. nodes * scale * num < 2^63 — at a
    * billion nodes drop scale to 1e8 (still 8 exact digits of rank).
    *
    * `edges` must carry long columns `src`, `dst` (pre-symmetrized by
    * the caller if the graph is undirected). Returns (node, rank).
    *
    * `symmetric = true` asserts the input already carries both
    * directions of every edge (the [[GraphFixtures.purchaseEdges]]
    * contract, the q328 `canonical` precedent): then src-set ==
    * dst-set == node universe and no sinks exist, so the node frame
    * IS the degree table — the union ∪ distinct exchange and the
    * deg left-join are rebuilding a frame the degree aggregate
    * already produced (r15; the q287 rebuild-not-compute lesson).
    * The rank trajectory is bit-identical: same node set, same deg,
    * same integer recurrence. The flag is an UNCHECKED caller
    * contract (a check would cost exactly the exchange it saves): on
    * a graph that is NOT fully symmetrized, dst-only nodes silently
    * vanish from the node universe and sink handling is wrong —
    * WRONG RANKS, NO ERROR. Pass true only for fixtures constructed
    * symmetric by unioning both directions.
    */
  def pageRankInt(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampNum: Long = 85L,
      dampDen: Long = 100L, symmetric: Boolean = false): DataFrame = {
    require(iters >= 1, s"pageRankInt: iters $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"pageRankInt: damping $dampNum/$dampDen")
    // edges and degrees are read every superstep — pin both
    // (graft.Caches registry; the caller's Verify/Bench release hook
    // frees the blocks once results materialize)
    val e = graft.Caches.pin(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
    val deg = graft.Caches.pin(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    // node universe = src ∪ dst, so sinks keep a rank row
    // the STATIC degree rides inside the rank frame (r14): the
    // per-superstep ranks⋈deg join is a node-sized exchange that
    // carried no new information — deg never changes. One pinned
    // (node, deg) frame (left join: sinks keep a rank row with null
    // deg, and since a sink never appears as `src` the null never
    // reaches `rank div deg`), and every superstep drops to ONE join
    // + one aggregate. Trajectory bit-identical (same expressions,
    // same integer ops).
    val nodes =
      if (symmetric) deg
      else graft.Caches.pin(
        e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .join(deg, Seq("node"), "left"))
    var ranks = nodes.select(col("node"), col("deg"),
      lit(scale).as("rank"))
    val base = (dampDen - dampNum) * scale
    for (_ <- 1 to iters) {
      val contribs = e
        .join(ranks, e("src") === col("node"))
        .select(col("dst").as("node"),
          expr("rank div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("csum"))
      // NO localCheckpoint here (unlike duplicateClusters/kHop):
      // pageRank runs a FIXED small superstep count inside one final
      // job whose adaptive plan REUSES the edges exchange across
      // supersteps (PLANS.md evidence) — truncating lineage per
      // round would trade that reuse for per-round materialization
      // and measured slower
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .withColumn("__m",
          lit(base) + lit(dampNum) * coalesce(col("csum"), lit(0L)))
        .select(col("node"), col("deg"),
          expr(s"__m div ${dampDen}L").as("rank"))
    }
    ranks.select(col("node"), col("rank"))
  }

  /** PERSONALIZED PageRank (integer-exact, like [[pageRankInt]]):
    * restart mass returns to the `sources` node set instead of
    * everywhere, so ranks measure proximity TO THE SEED COHORT —
    * "what does this customer segment's neighborhood look like"
    * rather than global centrality. Same fixed-superstep fused plan
    * as pageRankInt (edges/degrees/nodes pinned, the edges exchange
    * reused across rounds — the q169 measurement); the only change is
    * the teleport term: (1−d)·scale lands on source nodes only
    * (unnormalized — a constant factor of |S| that cancels in
    * ranking), everything else receives pure propagated mass.
    * `sources` is joined as a broadcast semi/flag — cohort-sized by
    * contract, never data-sized. Rank zero rows (nodes the seed
    * cannot reach in `iters` hops) are kept: reachability is signal.
    */
  def pprInt(edges: DataFrame, sources: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampNum: Long = 85L,
      dampDen: Long = 100L, symmetric: Boolean = false): DataFrame = {
    require(iters >= 1, s"pprInt: iters $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"pprInt: damping $dampNum/$dampDen")
    val e = graft.Caches.pin(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
    val deg = graft.Caches.pin(
      e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")))
    val srcSet = sources.select(col("node").cast("long").as("node"))
      .distinct()
    // teleport flag + STATIC degree materialized once on the node
    // universe (the pageRankInt r14 discipline: deg rides in the
    // rank frame, so each superstep is ONE join + one aggregate).
    // symmetric = true: the degree table IS the node universe (the
    // pageRankInt r15 note), so the union ∪ distinct pin and the
    // deg join drop out.
    val tele =
      if (symmetric) graft.Caches.pin(deg
        .join(broadcast(srcSet.withColumn("__isSrc", lit(1L))),
          Seq("node"), "left")
        .na.fill(0L, Seq("__isSrc")))
      else {
        val nodes = graft.Caches.pin(
          e.select(col("src").as("node"))
            .union(e.select(col("dst").as("node"))).distinct())
        graft.Caches.pin(nodes
          .join(broadcast(srcSet.withColumn("__isSrc", lit(1L))),
            Seq("node"), "left")
          .na.fill(0L, Seq("__isSrc"))
          .join(deg, Seq("node"), "left"))
      }
    val base = (dampDen - dampNum) * scale
    var ranks = tele.select(col("node"), col("deg"),
      (col("__isSrc") * scale).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = e
        .join(ranks, e("src") === col("node"))
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("csum"))
      ranks = tele
        .join(contribs, Seq("node"), "left")
        .withColumn("__m", lit(base) * col("__isSrc") +
          lit(dampNum) * coalesce(col("csum"), lit(0L)))
        .select(col("node"), col("deg"),
          expr(s"__m div ${dampDen}L").as("rank"))
    }
    ranks.select(col("node"), col("rank"))
  }

  /** COMMUNITY DETECTION by deterministic synchronous LABEL
    * PROPAGATION (Raghavan et al. 2007, made order-free): every node
    * starts with its own id as label; each round it adopts the most
    * frequent label among its neighbors, ties to the SMALLEST label
    * (the min-label convention that makes the round a pure function
    * of the previous labeling — no visit-order nondeterminism to
    * leak into the oracle). A fixed `rounds` budget, not a fixpoint:
    * synchronous LPA can 2-cycle on bipartite structure, so
    * production use reads the round budget as a resolution dial
    * (more rounds = coarser communities), exactly like pageRank's
    * iteration count. Per round: one edges⋈labels join + one
    * (node, label) count + one argmax — the same fused fixed-
    * superstep shape as [[pageRankInt]] (edges pinned, exchange
    * reused; no per-round checkpoint for a small fixed budget).
    * Returns (node, label) — callers aggregate to community sizes.
    *
    * `canonical = true` asserts the input is ALREADY the symmetric
    * distinct self-loop-free edge set (both directions present,
    * no dups) — the [[graft.ops.GraphFixtures.purchaseEdges]]
    * contract — and skips the re-canonicalization entirely. The
    * r15 phase split showed the default path spending ~2s of
    * q328's ~6s re-deriving (distinct exchange) and re-pinning
    * (union materialization) an edge frame byte-identical to the
    * caller's already-pinned fixture: the q287/q253 rebuild-not-
    * compute lesson. The flag is a caller-owned contract, not a
    * checked one — a full symmetry check would cost exactly the
    * exchange it saves; q328's DuckDB oracle replays the full
    * canonicalization and hash-pins the equivalence.
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
      canonical: Boolean = false): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds $rounds")
    // both directions so "neighbors of n" is one join on src
    val e = if (canonical) edges else {
      val und = edges
        .select(least(col("src"), col("dst")).cast("long").as("a"),
          greatest(col("src"), col("dst")).cast("long").as("b"))
        .where(col("a") =!= col("b"))
        .distinct()
      graft.Caches.pin(
        und.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(und.select(col("b").as("src"), col("a").as("dst"))))
    }
    // round 1 fused (r15): with identity initial labels, the label a
    // neighbor contributes IS its node id — joining an identity
    // (node, node) frame onto the edges only re-derives e.src. Feed
    // round 1 from the edge list directly and the node-universe
    // distinct exchange + the round-1 join disappear; rounds >= 2
    // join the previous labeling as before. Same (node, label)
    // multiset enters every round's aggregate — trajectory identical.
    var labels: DataFrame = null
    // majority-with-min-tiebreak over a SORTED label array in one
    // aggregate HOF pass: equal runs keep the earlier (= smaller)
    // label via the strict '>'. A (node, label)-keyed count would be
    // EDGE-sized in round 1 (every label distinct), costing a full
    // extra exchange + a partial-agg-proof 12M-group aggregate — the
    // first sf1 capture of that shape read 14x for 10x data; this
    // one-exchange form restored ~linear.
    val bestLabel = expr(
      """aggregate(__ls,
           named_struct('cur', CAST(NULL AS BIGINT), 'run', 0L,
                        'best', CAST(NULL AS BIGINT), 'bestRun', 0L),
           (s, x) -> named_struct(
             'cur', x,
             'run', IF(x = s.cur, s.run + 1L, 1L),
             'best', IF(IF(x = s.cur, s.run + 1L, 1L) > s.bestRun,
                        x, s.best),
             'bestRun', IF(IF(x = s.cur, s.run + 1L, 1L) > s.bestRun,
                           IF(x = s.cur, s.run + 1L, 1L), s.bestRun)),
           s -> s.best)""")
    for (r <- 1 to rounds) {
      val contrib =
        if (r == 1) e.select(col("dst").as("node"),
          col("src").as("__l"))
        else e
          .join(labels.select(col("node").as("src"),
            col("label").as("__l")), Seq("src"))
          .select(col("dst").as("node"), col("__l"))
      labels = contrib
        .groupBy(col("node"))
        .agg(array_sort(collect_list(col("__l"))).as("__ls"))
        .select(col("node"), bestLabel.as("label"))
        // two dataframes-deep lineage per round even in this shape —
        // truncate like duplicateClusters/kHop (planning, not tasks)
        .localCheckpoint()
    }
    labels
  }

  /** Per-node TRIANGLE counts with DEGREE ORIENTATION (the standard
    * distributed-triangle trick, e.g. Suri & Vassilvitskii 2011):
    * edges clean to undirected distinct pairs, then orient every
    * edge from the (degree, id)-SMALLER endpoint to the larger, so
    * each triangle is enumerated exactly once and — the scale
    * property — wedge fan-out at any node is bounded by its
    * ORIENTED out-degree, O(sqrt(m)) on any graph, instead of its
    * raw degree (a celebrity node stops being a quadratic bomb).
    * Wedge join + closing-edge join, both hash joins on node ids;
    * every count exact integer, the whole derivation replayable (the
    * q227 oracle runs the same orientation in SQL).
    *
    * `edges` carries long `src`, `dst` (either direction, dups ok,
    * self-loops dropped). Returns (node, triangles) for nodes in >=
    * 1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = graft.Caches.pin(edges
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .where(col("a") =!= col("b"))
      .distinct())
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
    // orient low (d, id) -> high (d, id)
    val dirE = graft.Caches.pin(withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        col("a")).otherwise(col("b")).as("u"),
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        col("b")).otherwise(col("a")).as("v")))
    val tri = dirE.as("e1")
      .join(dirE.as("e2"), col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"),
        col("e2.v").as("z"))
      .join(dirE.as("e3"),
        col("x") === col("e3.u") && col("z") === col("e3.v"))
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(col("x"), col("y"), col("z")))
        .as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }

  /** COMMON-NEIGHBORS link prediction over an adjacency list
    * (node, nbr): candidate pairs sharing >= `minCommon` neighbors
    * that are NOT already adjacent, scored by the shared count —
    * the baseline every link-prediction paper starts from. The
    * [[PairCensus]] wedge join through the neighbor (fan-out
    * quadratic ONLY in per-neighbor degree), then an anti-join
    * against the existing adjacency. Exact integers throughout.
    *
    * Hub policy (`maxDegree` + `hubPolicy`, the [[PairCensus]]
    * policies):
    *   - "refuse" (default): a neighbor whose degree exceeds the
    *     cap REFUSES the query before the wedge join runs (the
    *     fuzzyMatch census rule).
    *   - "drop": hubs past the cap are DROPPED — a neighbor shared by
    *     everyone certifies a link by ~1/ln(deg) ≈ nothing.
    *   - "sample": every neighbor keeps its `maxDegree` lowest nodes
    *     by the portable node hash (coordinated sampling). The r12
    *     sf1 capture is why: the drop policy still paid 2.4e9 wedges
    *     through 8k-degree attribute tokens.
    * Under "drop"/"sample" the answer is a SUBSET relation to the
    * exact one (every retained pair's n_common <= exact, no pair
    * added). The existing-link anti-join always uses the UNPRUNED
    * adjacency.
    */
  def commonNeighbors(adj: DataFrame, minCommon: Long,
      maxDegree: Int = 10000, hubPolicy: String = "refuse")
      : DataFrame = {
    val e = adjacency(adj)
    PairCensus("commonNeighbors", e.select(col("nbr").as("key"),
        col("node").as("member")), minCommon, maxDegree, hubPolicy,
        "prune hubs (hubPolicy drop/sample) or raise the cap")
      .toDF("node_a", "node_b", "n_common")
      .join(e.toDF("node_a", "node_b"), Seq("node_a", "node_b"),
        "left_anti")
  }

  /** Distinct, non-null (node, nbr) long adjacency, pinned: the pair
    * census and the existing-link anti-join both read it.
    */
  private def adjacency(adj: DataFrame): DataFrame =
    graft.Caches.pin(adj
      .select(col("node").cast("long").as("node"),
        col("nbr").cast("long").as("nbr"))
      .where(col("node").isNotNull && col("nbr").isNotNull)
      .distinct())

  /** ADAMIC-ADAR and RESOURCE-ALLOCATION link scores (Adamic & Adar
    * 2003; Zhou et al. 2007) — the weighted refinements of
    * [[commonNeighbors]]: a shared neighbor z contributes 1/ln(deg z)
    * (AA) or 1/deg z (RA), so promiscuous hubs certify a link less
    * than selective neighbors. Scores are QUANTIZED per neighbor
    * BEFORE the sum — ra_q = raScale div deg(z) is pure integer
    * division, aa_q = floor(aaScale / ln(deg z)) computed once per
    * neighbor from the pinned degree census — so each pair's score is
    * an order-free SUM OF LONGS, exact under any shuffle order and
    * replayable by any engine (a float Σ1/ln(d) would drift in the
    * last ulp per fold order). aaScale stays at 1e6: the cross-engine
    * ln ulp (~1e-16 relative) then moves floor's argument by ~1e-10,
    * far from any flip; at 1e12 it would be ~1e-4 — a real tie risk.
    * Same [[PairCensus]] wedges and hub guard as [[commonNeighbors]]
    * (refuses past `maxDegree`), same anti-join against existing
    * adjacency. Returns (node_a, node_b, n_common, aa_q, ra_q).
    */
  def linkScores(adj: DataFrame, minCommon: Long,
      maxDegree: Int = 10000, aaScale: Long = 1000000L,
      raScale: Long = 1000000000000L): DataFrame = {
    val e = adjacency(adj)
    PairCensus("linkScores", e.select(col("nbr").as("key"),
        col("node").as("member")), minCommon, maxDegree,
        remedy = "prune hubs or raise the cap", weights = Seq(
          "aa_q" -> ((d: Column) => floor(lit(aaScale.toDouble) /
            log(d.cast("double"))).cast("long")),
          "ra_q" -> ((d: Column) => call_function("div", lit(raScale), d))))
      .toDF("node_a", "node_b", "n_common", "aa_q", "ra_q")
      .join(e.toDF("node_a", "node_b"), Seq("node_a", "node_b"),
        "left_anti")
  }

  /** K-CORE at a fixed k (Seidman 1983): iteratively remove nodes
    * with degree < k until fixpoint; emit surviving nodes with their
    * in-core degree (all >= k by construction). The peel order is
    * irrelevant — the k-core is the unique maximal subgraph with
    * min degree >= k — so the result is round-count invariant and an
    * oracle may unroll MORE rounds than the fixpoint needs (extra
    * rounds are identities). The cohesion primitive under community
    * detection and graph-degeneracy sampling.
    *
    * Scale shape: each round is ONE partial-aggregated degree count
    * plus TWO semi-joins, all hash-partitioned on the node id; the
    * surviving-node list is materialized once per round and the edge
    * set is `localCheckpoint`ed so Catalyst planning stays O(1) per
    * round (the duplicateClusters lesson). Rounds are bounded by the
    * peel depth (degeneracy), guarded by `maxRounds`. `edges` must be
    * symmetrized (src, dst) by the caller.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 40)
      : DataFrame = {
    require(k >= 1, s"kCore: k $k")
    require(maxRounds >= 1, s"kCore: maxRounds $maxRounds")
    var e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .localCheckpoint(true)
    // fixpoint test fused into the degree pass (r15): peeling is
    // MONOTONE (nodes only ever leave), so "no node below k" IS the
    // fixpoint — the old edge-count probe paid one extra full
    // semi-join round just to observe nothing changed, plus a final
    // edges-wide re-aggregate for the output. Now each round runs
    // ONE edges-wide degree aggregate (checkpointed node-sized), an
    // `isEmpty` probe on it (a `limit(1).count()` there named a fresh
    // limit counter, so compiled new classes, every round), and — only
    // when peeling continues — the two semi-joins; the terminal degree
    // frame is returned directly (all its degrees are >= k by the very
    // test that ended the loop). Same unique k-core, one fewer
    // edges-wide pass per run.
    var rounds = 0
    while (true) {
      val deg = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("__d"))
        .localCheckpoint(true)
      if (deg.where(col("__d") < k).isEmpty)
        return deg.select(col("node"), col("__d").as("deg_in_core"))
      require(rounds < maxRounds,
        s"kCore: no fixpoint within $maxRounds rounds")
      val keep = deg.where(col("__d") >= k).select(col("node"))
      e = e.join(keep.select(col("node").as("src")), Seq("src"),
          "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"),
          "left_semi")
        .localCheckpoint(true)
      rounds += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** K-HOP BFS from a seed set: minimum hop distance <= k for every
    * reachable node — k co-partitioned frontier-edge joins with an
    * anti-join against the settled set per round (so each node is
    * expanded once; state is the settled table, frontier shrinks as
    * the reachable set saturates). Distances are small integers; the
    * q229 oracle unrolls the supersteps as CTEs.
    */
  def kHopDistances(edges: DataFrame, seeds: DataFrame,
      k: Int, bcastRows: Long = 4000000L): DataFrame = {
    require(k >= 1 && k <= 10, s"kHopDistances: k $k")
    val e = graft.Caches.pin(edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
    var settled = seeds.select(col("node").cast("long").as("node"),
      lit(0L).as("dist")).distinct().localCheckpoint(true)
    var frontier = settled
    // frontier/settled row counts are near-free on the checkpointed
    // frames and let each hop pick its join strategy (r15 verdict
    // item 6, guide §3.1): while the frontier is small, BROADCAST it
    // into the edge join — the edge table (the big side) is then
    // never shuffled — and broadcast the settled set into the
    // anti-join; past `bcastRows` (~64 MB of longs, far under the
    // 8 GB broadcast cap but sized so every executor holds it
    // comfortably) fall back to the shuffled joins. Hints only —
    // results are join-strategy-invariant.
    var frontierRows = frontier.count()
    var settledRows = frontierRows
    for (h <- 1 to k) {
      // localCheckpoint per hop: the frontier feeds its successor, so
      // lineage would deepen per superstep otherwise and Catalyst
      // planning — not tasks — starts to dominate (the
      // duplicateClusters lesson)
      val f = if (frontierRows <= bcastRows) broadcast(frontier)
        else frontier
      val s = if (settledRows <= bcastRows) broadcast(settled)
        else settled
      val next = f
        .join(e, f("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(s, Seq("node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
        .localCheckpoint(true)
      // the union of per-hop CHECKPOINTED pieces needs no checkpoint
      // of its own (lineage depth k over materialized leaves); the
      // old per-hop re-checkpoint copied the whole settled set again
      // every superstep — O(k·|settled|) extra materialization
      frontierRows = next.count()
      settledRows += frontierRows
      settled = settled.unionByName(next)
      frontier = next
    }
    settled
  }

  /** LOCAL CLUSTERING COEFFICIENT (Watts & Strogatz 1998) —
    * per-node cliquishness: lcc = 2·T(v) / (d(v)·(d(v)-1)) for
    * nodes of degree >= 2, in integer ppm (floor division — exact
    * on any engine). Triangles come from [[triangleCounts]]'s
    * degree-oriented enumeration (wedge fan-out bounded by oriented
    * out-degree, so hubs can't go quadratic); degree is one
    * aggregate over the deduped undirected adjacency. Nodes in no
    * triangle report 0, nodes of degree < 2 are excluded (the
    * coefficient is undefined there). Emits (node, degree,
    * triangles, lcc_ppm).
    */
  def clusteringCoeff(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(edges)
    deg.where(col("degree") >= 2)
      .join(tri, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
      .withColumn("lcc_ppm",
        expr("2 * triangles * 1000000 div (degree * (degree - 1))"))
  }

  /** DEGREE ASSORTATIVITY (Newman 2002) — the Pearson correlation of
    * endpoint degrees over every directed edge instance (each
    * undirected edge counted in both directions, the standard
    * convention): positive = hubs attach to hubs, negative = hub-
    * and-spoke. Degrees are exact integers, all five correlation
    * sums are exact integer aggregates, and r collapses by the
    * closed form (M·Sxy - Sx·Sy) / sqrt((M·Sxx - Sx²)(M·Syy - Sy²))
    * in one fixed double operation order, rounded 6dp. Two
    * co-partitioned joins (degrees onto endpoints) + one aggregate;
    * no quadratic stage. Emits one row: n_nodes, n_edges, r.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("n"))
      .unionAll(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val dirPairs = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(col("da").as("x"), col("db").as("y"))
    val both = dirPairs.unionAll(
      dirPairs.select(col("y").as("x"), col("x").as("y")))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    both.agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
      .crossJoin(broadcast(nn))
      .select(col("n_nodes"),
        (col("m") / lit(2)).cast("long").as("n_edges"),
        round(
          (col("m").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          sqrt((col("m").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            (col("m").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))),
          6).as("r"))
  }
}
