package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge-list DataFrames — the second
  * fixpoint operator family after [[Components]] (reference has no graphs;
  * north-star extension: rank/centrality over corpus- or trade-derived
  * graphs, e.g. link-graph quality priors for web-scale training data).
  *
  * PageRank here is EXACT-INTEGER fixed point: ranks are maintained as
  * 1e-9-scaled longs and every update uses only integer multiply and
  * integer division (`div`), so the result is bit-identical across engines
  * — a DuckDB oracle re-derives the same trajectory with `//` arithmetic
  * and hash-matches. No libm, no float accumulation order, no rounding
  * boundaries (the x35/x56 fixed-point trick, taken further: the whole
  * iteration is integer-exact, not just quantized-at-the-end).
  *
  * Scale (100 TB): the expensive stage is building the aggregated edge
  * list (caller-owned — typically a multi-way join + groupBy, fully
  * distributed); each iteration is then one keyed shuffle: join ranks to
  * edges on `src` (AQE broadcasts ranks when the aggregated graph is
  * small), aggregate contributions on `dst`, left-join back to the node
  * set. Iterations are a driver loop like [[Components]] — for deep
  * products use `localCheckpoint` lineage truncation (cheap here: the
  * per-iteration state is one (node, rank) row per node).
  *
  * Overflow rail: contributions compute `85 * rank_fp * w` in long
  * arithmetic; with total mass 1e9 that bounds total edge weight at
  * ~1e8 per source. Pre-normalize weights (e.g. divide the whole edge
  * list by a constant) if a source's out-weight can exceed that.
  */
object Graph {

  /** Total rank mass, 1e-9 fixed point. */
  val MassFp = 1000000000L

  /** Weighted PageRank with damping 0.85 over a directed edge list.
    *
    * @param nodes one column `node` (the rank domain; must cover every
    *              edge endpoint)
    * @param edges columns `src`, `dst`, `w` (positive long weights,
    *              already aggregated per (src,dst))
    * @param iters fixed iteration count (the oracle unrolls the same
    *              number — PageRank converges geometrically, so small
    *              fixed budgets are the standard deployment shape)
    * @return (node, rank_fp) — rank_fp sums to ~MassFp (minus flooring
    *         dust); rank_fp/1e9 is the usual probability. Dangling-node
    *         mass (nodes with no out-edges) is redistributed uniformly,
    *         the standard correction. */
  /** k-CORE decomposition membership: the maximal subgraph in which every
    * node has degree ≥ k, computed by the standard peeling fixpoint —
    * drop nodes with degree < k, recompute degrees, repeat. Converges in
    * ≤ |V| rounds (usually far fewer: each round peels a whole "shell").
    * Used on near-dup graphs to find densely duplicated cores (template
    * farms) that min-label components lump into one blob.
    *
    * @param edges undirected edge list, columns `a`, `b` (a ≠ b)
    * @return (node, degree) for members of the k-core, degree within it.
    *         Same driver-loop + localCheckpoint shape as [[pageRank]];
    *         each round is one degree aggregation + two semi-joins. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // distinct() after symmetrization: duplicate (a,b) rows — or input that
    // already carries both orientations — would inflate degrees and wrongly
    // keep nodes in the core. The contract is SIMPLE-graph degrees.
    var sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var n = sym.count()
    var iter = 0
    var stable = false
    while (!stable && iter < maxIter) {
      val pruned = kCoreStep(sym, k).localCheckpoint(true)
      val n2 = pruned.count()
      stable = n2 == n
      sym = pruned
      n = n2
      iter += 1
    }
    require(stable, s"kCore: no fixpoint within $maxIter rounds")
    sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** One peeling round of [[kCore]] — the loop body: degree aggregation →
    * keep-set → two semi-joins (per-round plan recorded in PLANS.md). */
  private def kCoreStep(sym: DataFrame, k: Int): DataFrame = {
    val keep = sym.groupBy("src").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select(col("src").as("node"))
    sym
      .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
  }

  /** pageRank over the node set implied by the edges (every endpoint) —
    * avoids a second materialization of the edge pipeline when the caller
    * has no isolated nodes to add. */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    val e0 = edges.localCheckpoint(true)
    val nd = e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node"))).distinct()
    pageRank(nd, e0, iters)
  }

  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    // Materialize both inputs ONCE — they are typically the tail of an
    // expensive aggregation pipeline, and the loop below references them
    // iters+2 times (without this, each reference re-runs the upstream
    // joins — measured 3× the whole query's cost on the x63 trade graph).
    val nd = nodes.localCheckpoint(true)
    val e0 = edges.localCheckpoint(true)
    val n = nd.count()
    require(n > 0, "pageRank: empty node set")
    val initFp = MassFp / n
    val baseFp = (MassFp * 15 / 100) / n // (1-d)/N, floored once, constant
    val outw = e0.groupBy("src").agg(sum("w").as("outw"))
    val e = e0.join(outw, "src").localCheckpoint(true)
    val dangling = nd.join(outw.select(col("src").as("node")), Seq("node"), "left_anti")
      .localCheckpoint(true)
    // skip the per-iteration dangling-mass job entirely on graphs with
    // none (one cheap probe on checkpointed data)
    val hasDangling = !dangling.isEmpty
    var ranks = nd.select(col("node"), lit(initFp).as("rank_fp"))
    for (_ <- 1 to iters) {
      // one driver-side scalar per iteration (like Components' convergence
      // count): total rank stranded on dangling nodes this step.
      val dangFp: Long =
        if (!hasDangling) 0L
        else dangling.join(ranks, "node")
          .agg(coalesce(sum("rank_fp"), lit(0L))).head.getLong(0)
      val shareFp = 85L * dangFp / (100L * n) // uniform dangling share, floored
      ranks = pageRankStep(nd, e, ranks, lit(baseFp + shareFp))
        .localCheckpoint(true)
    }
    ranks
  }

  /** One rank-update round of [[pageRank]]/[[personalizedPageRank]] — the
    * loop body: edge ⋈ ranks keyed on src, contribution aggregation keyed
    * on dst, left join back onto the node set.
    * @param e      edges with `outw` already joined (src, dst, w, outw)
    * @param addCol the per-node teleport term for this round, resolvable
    *               against `nd`: a constant column (uniform base mass +
    *               dangling share) or `is_seed · base` (personalized) */
  private def pageRankStep(nd: DataFrame, e: DataFrame, ranks: DataFrame,
                           addCol: org.apache.spark.sql.Column): DataFrame = {
    val inc = e.join(ranks.withColumnRenamed("node", "src"), "src")
      .select(col("dst"), expr("(85 * rank_fp * w) div (100 * outw)").as("c"))
      .groupBy("dst").agg(sum("c").as("inc"))
    nd.join(inc.withColumnRenamed("dst", "node"), Seq("node"), "left")
      .select(col("node"),
        (addCol + coalesce(col("inc"), lit(0L))).as("rank_fp"))
  }

  /** Multi-source BFS hop distance: the minimum number of edges from any
    * source to each reachable node. Exact by construction (level-synchronous
    * frontier expansion visits every node at its true minimum hop — pure
    * integer labels, nothing to round), so a DuckDB recursive-CTE oracle
    * taking `min(hop)` over the same bounded walk hash-matches.
    *
    * Scale (100 TB): each level is one equi-join frontier ⋈ edges on `src`
    * plus an anti-join against the visited set — all keyed shuffles (AQE
    * broadcasts the frontier while it is small). The driver loop runs
    * O(diameter) rounds with `localCheckpoint` lineage truncation, the same
    * shape as [[Components]]/[[kCore]]; per-round state is one (node, hop)
    * row per visited node. Deep/elongated graphs pay diameter rounds —
    * that is inherent to BFS, not to this formulation.
    *
    * @param sources one column `node` (hop-0 seeds; need not appear in edges)
    * @param edges   columns `src`, `dst` (directed; symmetrize for undirected)
    * @param maxHops safety rail — throws if the frontier is still growing
    *                after this many levels (diameter exceeded the budget) */
  def bfsHops(sources: DataFrame, edges: DataFrame, maxHops: Int = 30): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var visited = sources.select(col("node")).distinct()
      .withColumn("hop", lit(0)).localCheckpoint(true)
    var frontier = visited.select(col("node"))
    var hop = 0
    var exhausted = false
    while (!exhausted && hop < maxHops) {
      hop += 1
      val next = bfsStep(frontier, e, visited).localCheckpoint(true)
      if (next.isEmpty) exhausted = true
      else {
        visited = visited.unionByName(next.withColumn("hop", lit(hop)))
          .localCheckpoint(true)
        frontier = next
      }
    }
    require(exhausted, s"bfsHops: frontier still expanding after $maxHops hops")
    visited
  }

  /** One frontier expansion of [[bfsHops]] — the loop body: frontier ⋈
    * edges on src, distinct new nodes, anti-join against the visited set. */
  private def bfsStep(frontier: DataFrame, e: DataFrame,
                             visited: DataFrame): DataFrame =
    frontier.join(e, frontier("node") === e("src"))
      .select(e("dst").as("node")).distinct()
      .join(visited.select("node"), Seq("node"), "left_anti")

  /** Personalized PageRank — the seed-restart variant of [[pageRank]], same
    * exact-integer fixed point: ALL mass starts on the seed set and the
    * (1−d) teleport returns to the seeds each round, so ranks measure
    * proximity TO THE SEEDS rather than global centrality (the
    * related-entity / local-recommendation operator). Dangling mass is
    * dropped (the lazy variant — deterministic, identical in the unrolled
    * oracle; the symmetric graphs this repo builds have no dangling nodes).
    * Scale: identical per-round join budget to [[pageRank]] — one keyed
    * join + one aggregation + a left join onto the node set. */
  /** personalizedPageRank over the node set implied by the edges — the
    * [[pageRank]] single-materialization shape: the edge pipeline (usually
    * an expensive multi-way join) is checkpointed ONCE and the node frame
    * is derived from the checkpoint, instead of the caller deriving nodes
    * from the un-checkpointed pipeline and paying the upstream joins twice
    * (measured: x104_ppr at 16.4s vs x63_pagerank's 2.0s on the SAME
    * graph and iteration count — the whole gap was the double build). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int): DataFrame = {
    val e0 = edges.localCheckpoint(true)
    val nd = e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node"))).distinct()
    pprImpl(nd.localCheckpoint(true), e0, seeds, iters)
  }

  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
                           seeds: DataFrame, iters: Int): DataFrame =
    pprImpl(nodes.localCheckpoint(true), edges.localCheckpoint(true),
      seeds, iters)

  /** Shared PPR body. Both public overloads checkpoint `edges` exactly
    * ONCE before calling this (ADVICE r9: the edges-only overload used to
    * re-checkpoint its already-checkpointed frame here, materializing the
    * edge set twice per call); `e0`/`nd` arrive checkpoint-backed. */
  private def pprImpl(nd: DataFrame, e0: DataFrame,
                      seeds: DataFrame, iters: Int): DataFrame = {
    val sd = seeds.select(col("node")).distinct().localCheckpoint(true)
    val ns = sd.count()
    require(ns > 0, "personalizedPageRank: empty seed set")
    val initFp = MassFp / ns
    val baseFp = (MassFp * 15 / 100) / ns
    val outw = e0.groupBy("src").agg(sum("w").as("outw"))
    val e = e0.join(outw, "src").localCheckpoint(true)
    val seedFlag = nd
      .join(sd.withColumn("s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0L)).as("is_seed"))
      .localCheckpoint(true)
    var ranks = seedFlag
      .select(col("node"), (col("is_seed") * initFp).as("rank_fp"))
    // the SAME step as pageRank, teleport gated to seed rows — one loop
    // body to keep in sync, one audited plan shape
    for (_ <- 1 to iters)
      ranks = pageRankStep(seedFlag, e, ranks, col("is_seed") * baseFp)
        .localCheckpoint(true)
    ranks
  }

  /** Weighted single-source (or multi-source) shortest paths by
    * Bellman-Ford relaxation to a FIXPOINT — exact by construction: path
    * costs are integer sums of positive long weights, each round takes the
    * elementwise min, and min/sum never round. A DuckDB oracle unrolls the
    * same relaxation a fixed number of rounds; a round at the fixpoint is
    * IDEMPOTENT (relaxing a settled table changes nothing), so the oracle
    * may unroll MORE rounds than the data needs — the x68 k-core margin
    * trick. Convergence is detected by the (count, Σd) signature: a
    * relaxation either adds a reachable node (count grows) or lowers some
    * distance (Σd strictly shrinks), so an unchanged signature IS the
    * fixpoint.
    *
    * Scale (100 TB): each round is one dist ⋈ edges equi-join on `src` +
    * one min-aggregation on `node` — the same keyed-shuffle budget as a
    * [[pageRank]] round; driver loop with `localCheckpoint` truncation,
    * O(shortest-path-diameter) rounds. Unreachable nodes are absent from
    * the output (mirror of the recursive-walk semantics).
    *
    * @param sources one column `node` (distance-0 seeds)
    * @param edges   columns `src`, `dst`, `w` (positive long weights;
    *                symmetrize for undirected)
    * @param maxIter safety rail — throws if still relaxing after this */
  def sssp(sources: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w")).localCheckpoint(true)
    var dist = sources.select(col("node")).distinct()
      .withColumn("d", lit(0L)).localCheckpoint(true)
    var sig = (0L, -1L) // impossible initial signature
    var stable = false
    var iter = 0
    while (!stable && iter < maxIter) {
      val nxt = ssspStep(dist, e).localCheckpoint(true)
      val row = nxt.agg(count(lit(1)), coalesce(sum("d"), lit(0L))).head()
      val nsig = (row.getLong(0), row.getLong(1))
      stable = nsig == sig
      dist = nxt
      sig = nsig
      iter += 1
    }
    require(stable, s"sssp: still relaxing after $maxIter rounds")
    dist
  }

  /** One Bellman-Ford relaxation of [[sssp]] — the loop body: dist ⋈ edges
    * on src producing (dst, d+w) candidates, unioned with the current
    * table, min per node. */
  private def ssspStep(dist: DataFrame, e: DataFrame): DataFrame =
    dist.unionByName(
      e.join(dist.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("d") + col("w")).as("d")))
      .groupBy("node").agg(min("d").as("d"))

  /** HITS hubs & authorities over a weighted DIRECTED edge list — kept
    * EXACT by running the UNNORMALIZED power iteration in decimal(38,0)
    * (the oracle's HUGEINT): h₀ = 1, aₖ(v) = Σ_{u→v} w·hₖ₋₁(u),
    * hₖ(u) = Σ_{u→v} w·aₖ(v). Skipping the per-round normalization is the
    * standard trick for a fixed small iteration budget — the ranking (and
    * any ratio of scores) is invariant to the global scale factor, and
    * integer growth stays under 38 digits for iters ≤ 2 up to ~SF100
    * (scores grow as (Σw)^(2·iters)); callers normalize once at the end.
    *
    * @return (node, auth, hub) with decimal(38,0) scores; nodes with no
    *         in-(resp. out-)edges score 0. */
  def hits(edges: DataFrame, iters: Int): DataFrame = {
    val dec = "decimal(38,0)"
    val e = edges
      .select(col("src"), col("dst"), col("w").cast(dec).as("w"))
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    var h = nodes.select(col("node"), lit(1).cast(dec).as("hub"))
    var a = nodes.select(col("node"), lit(0).cast(dec).as("auth"))
    for (_ <- 1 to iters) {
      a = hitsHalfStep(nodes, e, h, fromCol = "src", toCol = "dst",
        inName = "hub", outName = "auth").localCheckpoint(true)
      h = hitsHalfStep(nodes, e, a, fromCol = "dst", toCol = "src",
        inName = "auth", outName = "hub").localCheckpoint(true)
    }
    a.join(h, "node")
  }

  /** One half-sweep of [[hits]] (authority update when from=src→to=dst,
    * hub update when reversed): scores ⋈ edges on the `from` endpoint,
    * w·score contributions aggregated on the `to` endpoint, left-joined
    * onto the node set with 0 for no-edge nodes. */
  private def hitsHalfStep(nodes: DataFrame, e: DataFrame,
                           scores: DataFrame, fromCol: String,
                           toCol: String, inName: String,
                           outName: String): DataFrame = {
    val contrib = e.join(scores.withColumnRenamed("node", fromCol), fromCol)
      .select(col(toCol).as("node"), (col("w") * col(inName)).as("c"))
      .groupBy("node").agg(sum(col("c")).as(outName))
    nodes.join(contrib, Seq("node"), "left")
      .select(col("node"),
        coalesce(col(outName), lit(0)).cast("decimal(38,0)").as(outName))
  }
}
