package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-analysis over an edge list — damped PageRank by K synchronous
  * power-iteration steps, the canonical "iterative joins over a static
  * relation" shape (web-graph authority scoring, citation ranking,
  * crawl-frontier prioritization for a training-data pipeline).
  *
  * Scale posture: the edge list is scanned once per iteration and
  * shuffled on `src` for the contribution join and on `dst` for the
  * incoming sum — the same two exchanges GraphX's Pregel emits per
  * superstep. Ranks (one row per node) re-shuffle on the node key each
  * round; with edges pre-bucketed by src the contribution join becomes
  * shuffle-free. Per-node out-degree and the iteration count are the
  * only state. Each iteration ends in `localCheckpoint` — without it
  * the plan doubles per round and Catalyst re-optimizes an
  * exponentially growing tree (the q72 CC lesson); storage from the
  * previous round is released via [[Checkpoints.release]]. The two
  * driver-side scalars per round (node count once, dangling mass each
  * round) are single aggregate values, never row data.
  */
object Graph {

  /** Byte gate for the driver-local small-graph regimes (r19): an
    * integer-exact iterative operator (k-core peel, BFS) whose
    * checkpointed edge table fits this budget is solved in one local
    * pass ([[LocalGraph]]) instead of ~peel-depth/diameter Spark rounds —
    * the identical unique fixpoint (both are integer computations with
    * one answer, so unlike the float operators there is no summation
    * order to preserve; GraphSpec pins regime equality). 0 forces the
    * distributed loop. Same cost-based-regime design as the CC
    * union-find gate and PrefixJoin's brute/index gate.
    */
  private def localRegime(op: String, e: DataFrame, nEdges: => Long): Boolean =
    LocalGraph.accepts(e) && graft.GraftConf.gate(e.sparkSession, op, ("local", "loop"),
      "spark.graft.graph.localEdgesBytes", 64L << 20, "count")(nEdges * LocalGraph.BytesPerEdge)

  /** PageRank/HITS pre-partition gate: true when the edge table (two
    * longs a row) is past `spark.graft.graph.prepartitionEdgesBytes`. */
  private def prepartitioned(op: String, e: DataFrame): Boolean =
    !graft.GraftConf.gate(e.sparkSession, op, ("plain", "prepartitioned"),
      "spark.graft.graph.prepartitionEdgesBytes", 8L << 20, "count")(
      e.count() * 2 * java.lang.Long.BYTES)

  /** K power-iteration steps of PageRank over `edges(src, dst)`.
    * Multi-edges act as weights (a node's contribution splits over edge
    * OCCURRENCES, not distinct targets). Dangling mass (nodes with no
    * out-edge) is redistributed uniformly, so total rank stays 1 every
    * round (asserted in spec). Returns (node, rank), staged to parquet so
    * no checkpoint storage outlives the call (the [[Dedup.stage]]
    * contract).
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // consumed by the node set, the degree table, and every iteration's
    // rank join — checkpoint once so the caller's edge-derivation
    // subtree doesn't re-execute iters+2 times
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    // r19 (guide §2.4): past the byte gate, one src-partitioned
    // checkpoint up front means neither the contribution join nor the
    // degree aggregate ever exchanges the edge table again
    // (ranks/deg/nodes are node-partitioned from their own aggregates,
    // and localCheckpoint preserves hash partitioning) — edge shuffles
    // per 3-iteration call: 3 → 1. That holds only with adaptive
    // execution off: under AQE the checkpoint reports unknown
    // partitioning, the loop joins exchange anyway and the call pays
    // 4 (PlanShapeSpec pins both). Below the gate the extra checkpoint
    // JOB costs more than the tiny in-join exchanges it saves (measured
    // at sf0.1, 100k edges: q132 1.80 → 1.88 s pre-partitioned; at the
    // sf1 shape, 1M edges: 6.41 → 5.52 s — the crossover sits between
    // ~2 MB and ~16 MB of edges, so the default splits it at 8 MiB).
    val prepartition = prepartitioned("pageRank", e)
    val eSrc = if (prepartition) e.repartition(col("src")).localCheckpoint()
               else e
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    if (prepartition) Checkpoints.release(e)
    val deg = eSrc.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val n = nodes.count()
    if (n == 0) { // empty edge list: no nodes, and 1.0/n below would blow up
      val out = Dedup.stage(nodes.select(col("node"), lit(1.0).as("rank")), "pagerank")
      Checkpoints.release(nodes)
      Checkpoints.release(deg)
      Checkpoints.release(eSrc)
      return out
    }
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("rank"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      // r18 (guide §1.2 step 1 / §5): the dangling-mass scalar used to be
      // a driver round-trip (`agg(...).first()`) — one extra job per
      // iteration. It now rides the next-rank plan as a broadcast one-row
      // cross join; `ranks` is checkpointed, so re-running the anti-join
      // aggregate inside the next checkpoint's job scans cached rows
      // only. 2 jobs/iteration → 1; identical double arithmetic (same
      // aggregate, same (1−d)/n + d·(inr + dangling/n) fold — q132's
      // oracle hash is the pin).
      val danglingDf = ranks.join(deg, ranks("node") === deg("src"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dangling"))
      val incoming = eSrc.join(ranks, eSrc("src") === ranks("node"))
        .join(deg, "src")
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("inr"))
      val next = nodes.join(incoming, Seq("node"), "left")
        .crossJoin(broadcast(danglingDf))
        .select(col("node"),
          (lit((1 - damping) / n) + lit(damping) *
            (coalesce(col("inr"), lit(0.0)) + col("__dangling") / n)).as("rank"))
        .localCheckpoint()
      Checkpoints.release(ranks)
      ranks = next
    }
    val out = Dedup.stage(ranks, "pagerank")
    Checkpoints.release(ranks)
    Checkpoints.release(nodes)
    Checkpoints.release(deg)
    Checkpoints.release(eSrc)
    out
  }

  /** K iterations of HITS (hubs & authorities) over `edges(src, dst)`
    * — the bipartite-reinforcement companion to [[pageRank]]: a good
    * hub points at good authorities and vice versa (link-spam triage,
    * hub-page discovery for crawl seeding). Classic sequential update
    * per iteration: auth ← Eᵀ·hub, L1-normalize, then hub ← E·auth,
    * L1-normalize.
    *
    * Scale posture mirrors pageRank exactly: two shuffles per
    * iteration (join on src for the auth sum, on dst for the hub sum),
    * multi-edges act as weights, scores localCheckpoint each round with
    * [[Checkpoints.release]] on the previous generation, and the only
    * driver values are the two L1 norms per round (single aggregates).
    * Nodes with no in-edges carry auth 0 (resp. hub 0 for no
    * out-edges) — kept as rows so the output covers every node.
    */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // the edge list is consumed twice per iteration (auth and hub
    // joins) plus once for the node set — checkpoint it or the caller's
    // edge-derivation subtree (often a window over a raw event scan)
    // re-executes 2×iters+1 times.
    // r19 (guide §2.4): past the byte gate, TWO pre-partitioned
    // checkpoints (one per join key — localCheckpoint preserves hash
    // partitioning) mean the loop joins never re-exchange the edge
    // table: edge shuffles per 3-iteration call 6 → 2, paid once up
    // front (with adaptive execution off; under AQE the loop joins still
    // exchange and the call pays 8 — see pageRank). Below the gate the
    // two extra checkpoint JOBS cost more
    // than the tiny exchanges they save (same crossover as pageRank's —
    // measured there at sf0.1 vs the sf1 shape; shared 8 MiB default).
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val prepartition = prepartitioned("hits", e)
    val eSrc = if (prepartition) e.repartition(col("src")).localCheckpoint()
               else e
    val eDst = if (prepartition) e.repartition(col("dst")).localCheckpoint()
               else e
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    if (prepartition) Checkpoints.release(e)
    if (nodes.isEmpty) { // empty edge list: sum(a) is NULL and getDouble NPEs
      val out = Dedup.stage(
        nodes.select(col("node"), lit(1.0).as("hub"), lit(1.0).as("auth")), "hits")
      Checkpoints.release(nodes)
      Checkpoints.release(eSrc)
      if (prepartition) Checkpoints.release(eDst)
      return out
    }
    var scores = nodes
      .select(col("node"), lit(1.0).as("hub"), lit(1.0).as("auth"))
      .localCheckpoint()
    // L1 norms stay > 0 for any nonempty edge list (every edge carries
    // hub/auth 1.0 into the first round and the norms renormalize to 1
    // after), but guard the divide anyway so a degenerate graph yields
    // zeros rather than NaN rank corruption. The guard is IN-PLAN since
    // r18: the norm scalar no longer crosses the driver at all.
    def safeNorm(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(coalesce(v, lit(0.0)) === 0.0, lit(1.0)).otherwise(v)
    // r18 (guide §1.2 step 1 / §5): the norm scalars used to be driver
    // round-trips (`agg(...).first()`), and the per-iteration job count
    // was 5 (two checkpoints, two scalar fetches, the recombine
    // checkpoint). The norms now ride each consumer's plan as a
    // broadcast one-row cross join over the ALREADY-CHECKPOINTED raw
    // table — re-running that one-row aggregate inside a consumer costs
    // a cheap scan of cached rows, never a recompute of the joins — and
    // the recombined (node, hub, auth) table is assembled lazily from
    // the two checkpoints (next round's auth join reads `withAuth`
    // directly). 5 jobs/iteration → 2. Same float arithmetic: the same
    // partial-sum aggregate produces the norm, and hub/auth divide by
    // it exactly as before (q199's oracle hash is the pin).
    var withAuthCk: DataFrame = null
    var withHubCk: DataFrame = null
    for (_ <- 0 until iters) {
      val authRaw = eSrc.join(scores.select(col("node"), col("hub")),
          eSrc("src") === col("node"))
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("a"))
      val withAuth = nodes.join(authRaw, Seq("node"), "left")
        .select(col("node"), coalesce(col("a"), lit(0.0)).as("a"))
        .localCheckpoint()
      val anDf = withAuth.agg(safeNorm(sum(col("a"))).as("__an"))
      val normAuth = withAuth.crossJoin(broadcast(anDf))
        .select(col("node"), (col("a") / col("__an")).as("auth"))
      val hubRaw = eDst.join(normAuth.select(col("node"), col("auth")),
          eDst("dst") === col("node"))
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("h"))
      val withHub = nodes.join(hubRaw, Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0.0)).as("h"))
        .localCheckpoint()
      val hnDf = withHub.agg(safeNorm(sum(col("h"))).as("__hn"))
      // next round's scores, assembled LAZILY over the two checkpoints
      val next = withHub.crossJoin(broadcast(hnDf))
        .join(withAuth.crossJoin(broadcast(anDf)), Seq("node"))
        .select(col("node"), (col("h") / col("__hn")).as("hub"),
          (col("a") / col("__an")).as("auth"))
      Checkpoints.release(scores)
      if (withAuthCk != null) Checkpoints.release(withAuthCk)
      if (withHubCk != null) Checkpoints.release(withHubCk)
      withAuthCk = withAuth
      withHubCk = withHub
      scores = next
    }
    val out = Dedup.stage(scores, "hits")
    Checkpoints.release(scores)
    if (withAuthCk != null) Checkpoints.release(withAuthCk)
    if (withHubCk != null) Checkpoints.release(withHubCk)
    Checkpoints.release(nodes)
    Checkpoints.release(eSrc)
    if (eDst ne eSrc) Checkpoints.release(eDst)
    out
  }

  /** Bounded multi-source BFS over a directed edge list `edges(src,
    * dst)`: the minimal hop count from any node of `sources(node)` to
    * every node reachable within `maxHops` (sources themselves at hop
    * 0). The k-hop-neighborhood primitive behind crawl frontier
    * expansion, contamination blast-radius queries ("everything within
    * 3 links of a flagged page"), and feature propagation.
    *
    * Level-synchronous frontier expansion: each round joins the current
    * frontier (nodes first reached last round) against the edge list on
    * the node key — one shuffle per hop, the Pregel superstep shape —
    * then anti-joins the visited set so a node is emitted at its FIRST
    * (= minimal) hop only. Frontier and visited are `localCheckpoint`ed
    * per round with [[Checkpoints.release]] on the previous generation,
    * so neither the plan nor executor storage grows with depth; the one
    * driver scalar per round (frontier size) drives early exit. The
    * bounded depth is the contract, not a cap on correctness: within
    * `maxHops` the distances are exact (per-pair minimality asserted in
    * spec against a brute-force oracle).
    */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // consumed once per hop — checkpoint so the caller's edge subtree
    // executes once, not maxHops times. Null-keyed edges and source
    // nodes are dropped once, before the regime split (narrow filters,
    // no extra job): a null node has no hop distance in either regime,
    // so neither walk needs a per-row null check.
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull).localCheckpoint()
    val srcNodes = sources.select(col("node")).filter(col("node").isNotNull)
    // r19 local regime: BFS hop distances are a unique integer function
    // of (edges, sources, maxHops) — a graph whose edge table fits the
    // byte gate walks locally in one pass instead of one join + one
    // count per hop (GraphSpec pins regime equality, incl. across the
    // deep-walk compaction).
    if (LocalGraph.accepts(srcNodes) && localRegime("bfsHops", e, e.count())) {
      val sources = LocalGraph.collect(srcNodes.distinct()).flatten
      val staged = LocalGraph.emit(e.sparkSession,
        LocalGraph.hops(LocalGraph.collect(e), sources, maxHops), ("node", "hops"), "bfs_hops")
      Checkpoints.release(e)
      return staged
    }
    // r18 (guide §1.2 step 1): `visited` is a LAZY union of the
    // checkpointed per-hop frontiers instead of a re-materialized table
    // per hop — the anti-join scans h small cached tables rather than
    // paying a third job per hop (3 jobs/hop → 2). The union is
    // compacted to a fresh checkpoint every 8 hops so a deep walk's
    // plan (and the anti-join's input list) stays bounded; frontiers
    // are released only once a compaction (or the final stage) no
    // longer references them.
    val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var visited = srcNodes.distinct()
      .select(col("node"), lit(0L).as("hops")).localCheckpoint()
    live += visited
    var frontier = visited
    var hop = 0L
    var lazyDepth = 0
    var frontierSize = frontier.count()
    while (hop < maxHops && frontierSize > 0) {
      hop += 1
      val next = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(hop).as("hops"))
        .localCheckpoint()
      live += next
      visited = visited.unionAll(next)
      lazyDepth += 1
      if (lazyDepth >= 8) {
        visited = visited.localCheckpoint()
        // release everything EXCEPT `next`: the frontier just
        // checkpointed this hop is read again below (count) and by the
        // next hop's join — releasing it truncates a lineage-free cached
        // RDD and the read dies with "Checkpoint block not found"
        // (r18 ADVICE, reproduced in spec at maxHops > 8)
        live.filter(_ ne next).foreach(Checkpoints.release)
        live.clear()
        live += visited
        live += next
        lazyDepth = 0
      }
      frontierSize = next.count()
      frontier = next
    }
    val out = Dedup.stage(visited, "bfs_hops")
    live.foreach(Checkpoints.release)
    Checkpoints.release(e)
    out
  }

  /** The k-core of an undirected graph `edges(a, b)` (each unordered
    * pair once): iteratively peel nodes of degree < k until fixpoint —
    * the maximal subgraph with minimum degree ≥ k. The standard
    * community-density filter (dedup-cluster triage, spam-graph
    * pruning) and, with the chain of k values, the degeneracy ordering.
    *
    * Each round is one degree aggregate plus two semi-joins keyed on
    * node ids — the same two-exchange superstep as [[pageRank]] — with
    * per-round `localCheckpoint` + [[Checkpoints.release]] so neither
    * the plan nor executor storage grows with round count. The loop
    * early-exits on edge-count fixpoint (one driver scalar per round);
    * total rounds are bounded by the graph's peel depth. Extra rounds
    * past convergence are no-ops, which is what lets a fixed-depth
    * unrolled SQL replay (the oracle) match the converged answer.
    *
    * Returns surviving (node, deg) with degrees in the core subgraph;
    * empty when the k-core is empty.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // Null-endpoint edges are dropped once, before the regime split (a
    // narrow filter, no extra job): a null node has no degree in either
    // regime, so neither needs a per-row null check.
    var e = edges.select(col("a"), col("b"))
      .filter(col("a").isNotNull && col("b").isNotNull).localCheckpoint()
    var n = e.count()
    // r19 local regime: the k-core is the UNIQUE maximal subgraph of min
    // degree ≥ k — any peel order converges to it, so a driver-side
    // queue peel returns exactly the loop's answer (node, core-degree),
    // integer-exact. Multi-edge degrees are preserved (adjacency is a
    // multiset, matching the loop's count(1) over edge rows).
    if (localRegime("kCore", e, n)) {
      val staged = LocalGraph.emit(e.sparkSession,
        LocalGraph.core(LocalGraph.collect(e), k), ("v", "deg"), "kcore")
      Checkpoints.release(e)
      return staged
    }
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds && n > 0) {
      val deg = e.select(col("a").as("v"))
        .unionAll(e.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("v"))
      val next = e
        .join(keep.select(col("v").as("a")), Seq("a"), "semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "semi")
        .select(col("a"), col("b"))
        .localCheckpoint()
      val n2 = next.count()
      Checkpoints.release(e)
      e = next
      converged = n2 == n
      n = n2
      rounds += 1
    }
    require(converged || n == 0,
      s"k-core did not converge within $maxRounds rounds")
    val out = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val staged = Dedup.stage(out, "kcore")
    Checkpoints.release(e)
    staged
  }

  /** Degree-oriented triangle count over an undirected edge list
    * `edges(a, b)` (each unordered pair once, a ≠ b). Every edge is
    * oriented from its lower-(degree, id) endpoint to its higher one;
    * wedges are enumerated only out of each edge's SMALLER endpoint and
    * closed against the oriented edge set, so each triangle is counted
    * exactly once and the wedge fan-out per node is bounded by its
    * oriented out-degree ≤ O(√m) — the standard trick that keeps
    * Σ outdeg² tractable on skewed graphs where Σ deg² explodes
    * (a hub of degree d contributes d² naive wedges but ~m oriented
    * ones). Three hash joins on node keys, no driver-side state; the
    * orientation rank is compared as the (deg, id) tuple, never packed
    * into one integer, so arbitrary 64-bit node ids can't overflow.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // The edge frame feeds the degree aggregate, the orientation join,
    // and the edge count — and `oriented` feeds both wedge sides plus
    // the closing join. DataFrame references get no CSE (each consumer
    // re-executes the whole subplan), so stage both exactly once: an
    // edge list built from an expensive upstream (e.g. a co-occurrence
    // self-join) must not be recomputed five times. (r19 tried
    // localCheckpoint here to skip the parquet round-trips and measured
    // q163 2.9 → 5.2 s solo: RDD-backed frames report unknown stats, so
    // every downstream join lost its broadcast strategy — parquet
    // staging is what keeps the deg/adjacency joins broadcast. Kept.)
    val e = Dedup.stage(edges.select(col("a"), col("b")), "tri_edges")
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = Dedup.stage(withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst")), "tri_oriented")
    // "Forward" counting: a triangle x<y<z (in (deg,id) order) orients as
    // x→y, x→z, y→z and is found exactly once — as a common out-neighbor
    // of edge (x,y)'s endpoints. Materializing the Σ outdeg² wedge rows
    // through a shuffle (the join formulation) moves tens of millions of
    // rows for a graph of a million edges; intersecting the two
    // endpoints' out-adjacency ARRAYS does the same element-touches
    // scan-locally, so only the |E| edge rows and the |V| adjacency rows
    // ever cross the network. Out-lists are O(√m)-bounded by the
    // orientation, so no row is hub-sized.
    val adj = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("nbrs"))
    val tris = oriented
      .join(adj.select(col("src"), col("nbrs").as("ns")), Seq("src"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nd")), Seq("dst"))
      .select(size(array_intersect(col("ns"), col("nd"))).as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    broadcast(nNodes).crossJoin(broadcast(nEdges)).crossJoin(broadcast(tris))
  }
}
