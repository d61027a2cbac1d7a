package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over edge-list DataFrames (the representation every
  * pairs-producing operator here already emits — LSH candidates, simhash
  * bands, fuzzy matches). Complements the component finders
  * ([[Dedup.connectedComponents]], [[StarComponents]]) with local
  * structure: triangles and degree.
  *
  * == Lazy-checkpoint trade-off (all iterative loops in this file) ==
  * Every loop round ends in `localCheckpoint(eager = false)`: the logical
  * plan flattens to a LogicalRDD leaf immediately. "Lazy" covers only the
  * round's final stage. Creating the checkpoint executes the round's
  * physical plan, and under AQE that runs every shuffle and broadcast
  * stage of the round as Spark jobs right there, inside the loop; only
  * the last stage (the partitions of the persisted RDD) waits for the
  * next driver action. Convergence-gated loops (BFS, CC, dagLongestPath,
  * …) also run their per-round count/sum gate. FIXED-iteration loops with
  * no gate (the PageRank family, [[Behavior.markovStationary]], Katz,
  * hits, labelPropagation, lubyMis, jonesPlassmann, deepwalkVisits,
  * Similarity.powerIteration) therefore still pay at least one job per
  * round while the query is being built: q_pagerank runs 21 jobs while
  * its 20-round loop is constructed and 1 in the caller's action (22 in
  * all at sf0.01). What the lazy form saves is the separate
  * materialization job of each round's output. Two costs on a cluster,
  * accepted deliberately: (a) peak storage memory briefly pins several
  * rounds' frames at once (the ContextCleaner unpersists superseded
  * rounds only after their references drop); (b) localCheckpoint
  * truncates lineage, so losing an executor mid-chain is unrecoverable —
  * the job fails and restarts, it does not recompute. Deployments that prefer the eager per-round
  * profile (smaller peak, one driver round trip per iteration) or durable
  * recovery should swap `localCheckpoint(false)` → `(true)` /
  * `checkpoint()`; at bench scale lazy measured 15-30 % fewer jobs per
  * query (OPTIMIZATION_r12.md §1). Three shared kernels hold the round
  * checkpoint for eleven loops, so the swap is made once per family:
  *   - [[propagate]] — the power-iteration round (five PageRank variants,
  *     [[Behavior.markovStationary]], q_katz_centrality);
  *   - [[frontierBfs]] — the frontier BFS ([[bfsLevels]],
  *     [[multiSourceBfs]] and everything built on them);
  *   - [[relaxBounded]] — bounded path relaxation ([[shortestPaths]],
  *     [[widestPaths]]).
  * The other loops (hits, labelPropagation, lubyMis, jonesPlassmann,
  * deepwalkVisits, kCore, kTruss, bridges, minimumSpanningForest,
  * sccMinLabel, dagLongestPath, betweenness' σ layers) keep their own.
  */
object Graph {

  /** Canonical undirected edge list: (a < b), deduplicated, no loops. */
  def canonical(edges: DataFrame): DataFrame =
    edges.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") < col("b")).distinct()

  /** Both directions of an undirected (a, b) edge list as (u, v) rows —
    * the adjacency every wedge, degree and neighbor join here starts from. */
  private def bidirected(e: DataFrame): DataFrame =
    e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))

  /** Per-node degree over the canonical edge list. */
  def degrees(edges: DataFrame): DataFrame =
    canonical(edges)
      .select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))

  /** Fixed-point integer PageRank over a directed edge list (`src`, `dst`)
    * with damping 0.85 and `iters` synchronous rounds. Ranks are e6-scaled
    * integers (1.0 → 1,000,000) and every step is integer arithmetic
    * (`div` truncation), so the result is bit-exact across engines — the
    * same portability trick as the BM25 fixed-point log. Nodes with no
    * out-edges leak their mass (classic dangling-node simplification);
    * callers that care should pre-add self-loops.
    *
    * Scale: per round, one join (ranks ⋈ edges on src) and one aggregate
    * (sum by dst), the distributed PageRank round of [[propagate]]: on a
    * small graph at default settings it plans 1 shuffle + 2 broadcasts,
    * and 4 shuffles with broadcast joins off (GraphRoundGateSpec). Edges
    * with out-degree are checkpointed once and reused every round;
    * `localCheckpoint` truncates the growing lineage
    * so round N's plan does not replay rounds 1..N-1 (on a cluster this
    * would be `checkpoint` to reliable storage). Rank state stays
    * partitioned by id; AQE coalesces the tiny per-round aggregates.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    pageRankWeighted(nodes,
      edges.select(col("src"), col("dst")).distinct().withColumn("w", lit(1L)),
      iters)

  /** The PageRank update on top of a per-node teleport term: 0.85 of the
    * truncated incoming mass, `in_mass` as summed by [[propagate]]. */
  private val damped = "(85 * coalesce(in_mass, 0L)) div 100"

  /** Deduplicated (src, dst) edges carrying the source's out-degree
    * `outdeg` — the uniform-split edge frame of the PageRank variants,
    * checkpointed once and reused by every round. */
  private def outDegreeEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    e.join(deg, "src").localCheckpoint(false)
  }

  /** ONE propagation round — the shared body of every power-iteration
    * loop (the PageRank family, [[Behavior.markovStationary]], Katz):
    * `state` ⋈ `edges` on `src` = `state(keys.head)`, the per-edge
    * `share` (over the edge and state columns) summed by `dst` and the
    * remaining `keys` into `in_mass`, left-joined back onto `base` (which
    * carries every key, so nodes without in-mass survive), and `combine`
    * (over the `base` columns and `in_mass`) becomes the new state column
    * `out`. Two joins and one aggregate are the round's whole plan.
    *
    * The round ends in the lazy `localCheckpoint(false)` of the header:
    * this line is where the checkpoint policy of every fixed-iteration
    * rank loop lives. Extra keys are renamed `m_<key>` on the mass side,
    * since `base` carries the same names. */
  private[graft] def propagate(edges: DataFrame, base: DataFrame,
                               keys: Seq[String], share: Column,
                               combine: Column, out: String)(
                               state: DataFrame): DataFrame = {
    val extra = keys.tail
    val mass = extra.foldLeft(
      edges.join(state, edges("src") === state(keys.head))
        .select(col("dst") +: extra.map(col) :+ share.as("c"): _*)
        .groupBy(col("dst") +: extra.map(col): _*)
        .agg(sum(col("c")).as("in_mass")))(
      (m, k) => m.withColumnRenamed(k, s"m_$k"))
    val on = extra.foldLeft(base(keys.head) === mass("dst"))(
      (c, k) => c && base(k) === mass(s"m_$k"))
    base.join(mass, on, "left")
      .select(keys.map(base(_)) :+ combine.as(out): _*)
      .localCheckpoint(false)
  }

  /** Fixed-iteration driver: `iters` applications of `round` (a
    * [[propagate]] round) to `init`, with no driver action in between. */
  private[graft] def propagateFor(iters: Int, init: DataFrame)(
      round: DataFrame => DataFrame): DataFrame =
    (1 to iters).foldLeft(init)((s, _) => round(s))

  /** Weight-proportional PageRank: each round a node's mass splits over
    * its out-edges as `(pr · w) div Σ_src w` instead of uniformly —
    * the same round shape as [[pageRank]], same all-integer e6 exactness.
    * [[pageRank]] is the w ≡ 1 special case. Edges must carry positive
    * integer `w`; duplicate (src, dst) edges are NOT collapsed (their
    * weights both count, matching a multigraph). */
  def pageRankWeighted(nodes: DataFrame, edges: DataFrame,
                       iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val e = edges.select(col("src"), col("dst"), col("w"))
    val sw = e.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    val ew = e.join(sw, "src").localCheckpoint(false)
    propagateFor(iters, nodes.select(col("id"), lit(1000000L).as("pr_e6")))(
      propagate(ew, nodes, Seq("id"), expr("(pr_e6 * w) div sw"),
        expr(s"150000L + $damped"), "pr_e6"))
  }

  /** Personalized PageRank: teleport mass restarts only at the source set
    * (nodes where `sourceCol` is true) instead of uniformly — the standard
    * "relevance to these seeds" ranking. Restart vector v_i = 1e6 for
    * sources, 0 otherwise; each round pr = 0.15·v + 0.85·incoming, all in
    * truncating integer arithmetic like [[pageRank]]. Non-source nodes
    * hold rank only while mass flows to them, so sinks far from the seeds
    * decay to 0 — exactly the PPR locality property.
    *
    * Same round shape as [[pageRankWeighted]]; the per-node base
    * term rides the node frame (no extra join).
    */
  def pageRankPersonalized(nodes: DataFrame, edges: DataFrame,
                           sourceCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val ed = outDegreeEdges(edges)
    val n = nodes.select(col("id"),
      when(col(sourceCol), lit(150000L)).otherwise(lit(0L)).as("base"))
      .localCheckpoint(false)
    propagateFor(iters, n.select(col("id"),
        when(col("base") > 0L, lit(1000000L)).otherwise(lit(0L)).as("pr_e6")))(
      propagate(ed, n, Seq("id"),
        expr("pr_e6 div outdeg"), expr(s"base + $damped"), "pr_e6"))
  }

  /** Multi-seed personalized PageRank in ONE pass: computes the PPR of
    * every node with respect to EACH seed simultaneously — "related items
    * for N seeds" without N sequential runs. State is long-format
    * (id, seed, pr_e6), so each round is the same join + aggregate as
    * [[pageRank]], just on the (id, seed) grain: the shuffle carries
    * |seeds|× the edge contributions, the natural cost of asking |seeds|
    * questions at once, still partial-aggregable and skew-free (seed is a
    * uniform secondary key). For seed sets beyond ~dozens, switch to
    * forward-push/sketched PPR — this shape is for the dashboard-panel
    * case where a handful of seed entities are compared.
    *
    * `seeds`: one column `seed` of node ids. Restart vector per seed s:
    * v_i = 1e6·[i = s], so each seed's column is an independent PPR.
    */
  def pageRankMultiSeed(nodes: DataFrame, edges: DataFrame,
                        seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val ed = outDegreeEdges(edges)
    val base = nodes.select(col("id"))
      .crossJoin(broadcast(seeds.select(col("seed"))))
      .withColumn("base",
        when(col("id") === col("seed"), lit(150000L)).otherwise(lit(0L)))
      .localCheckpoint(false)
    propagateFor(iters, base.select(col("id"), col("seed"),
        when(col("base") > 0L, lit(1000000L)).otherwise(lit(0L)).as("pr_e6")))(
      propagate(ed, base, Seq("id", "seed"),
        expr("pr_e6 div outdeg"), expr(s"base + $damped"), "pr_e6"))
  }

  /** Personalized PageRank with a WEIGHTED teleport vector: restart mass
    * is distributed over the seed set per `seeds` (columns `seed`,
    * `w_e6` — e6-scaled restart weights, typically normalized so the
    * seeds' w_e6 sum to ≈ 1e6), so "importance relative to this
    * portfolio" instead of each seed counting equally. Round:
    * pr = (15·w) div 100 + 0.85·incoming, all truncating integer
    * arithmetic; seeds start at pr = w_e6, every other node at 0.
    * [[pageRankPersonalized]] is the special case w_e6 = 1e6 for EVERY
    * seed (so k seeds sum to k·1e6, not 1e6): then both the start vector
    * and the per-node teleport term (15·1e6) div 100 = 150000 match it
    * exactly, round for round. A normalized vector (w_e6 = 1e6 / k)
    * scales every rank by ≈ 1/k instead, with different truncation.
    *
    * Same round shape as [[pageRank]]; the teleport vector is
    * broadcast onto the node frame ONCE before the loop (seeds are tiny
    * by definition — a dashboard's portfolio, not a table).
    */
  def pageRankWeightedTeleport(nodes: DataFrame, edges: DataFrame,
                               seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, "iters must be in [1, 50]")
    val ed = outDegreeEdges(edges)
    val n = nodes.select(col("id"))
      .join(broadcast(seeds.select(col("seed"), col("w_e6"))),
        col("id") === col("seed"), "left")
      .select(col("id"), coalesce(col("w_e6"), lit(0L)).as("v"))
      .withColumn("base", expr("(15 * v) div 100"))
      .localCheckpoint(false)
    propagateFor(iters, n.select(col("id"), col("v").as("pr_e6")))(
      propagate(ed, n, Seq("id"), expr("pr_e6 div outdeg"),
        expr(s"base + $damped"), "pr_e6"))
  }

  /** Minimum-hop BFS distance from a seed set (nodes where `sourceCol` is
    * true), to `maxDepth` hops. Classic frontier expansion: round k joins
    * the depth-(k−1) frontier against the edge list and anti-joins the
    * visited set, so each edge is traversed at most once per endpoint
    * discovery — total work O(E · diameter-capped), not O(E · V).
    * Unreachable-within-maxDepth nodes are absent from the result.
    *
    * Scale: per round one equi-join (frontier ⋈ edges on src) + one
    * distinct + one anti-join against visited — all hash-partitioned by
    * node id, so successive rounds reuse the same partitioning. The
    * frontier is checkpoint-truncated (lineage would otherwise replay
    * every earlier round). Early exit when a frontier is empty: the
    * driver-side count per round is the synchronous-superstep heartbeat
    * every distributed BFS has.
    */
  def bfsLevels(nodes: DataFrame, edges: DataFrame, sourceCol: String,
                maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64, "maxDepth must be in [1, 64]")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    frontierBfs(nodes.filter(col(sourceCol)).select(col("id")), e, Seq("id"),
      maxDepth)
  }

  /** The frontier BFS loop behind [[bfsLevels]] and [[multiSourceBfs]],
    * over an edge frame `e` (`src`, `dst`) the CALLER already deduped
    * and checkpointed — so multi-sweep callers (double-sweep diameter,
    * bowtie, betweenness' σ layers) pay the edge scan once instead of
    * per sweep. `seeds` holds the depth-0 rows as exactly the `keys`
    * columns, node id last: `Seq("id")` for one BFS, `Seq("seed", "id")`
    * for one labeled BFS per seed. Output: the keys plus `dist`.
    *
    * Round shape — MEASURED optimal; three r12 alternatives all LOST,
    * recorded here so they are not re-chased:
    *   - Fusing the expansion into the visited-union checkpoint (one
    *     materialization job per round instead of two): ~2x the tasks —
    *     the fused job rescans the visited set three times.
    *   - Size-gated `broadcast()` of edges + visited (kills both
    *     per-round exchanges): 1.6-1.9x SLOWER at min-of-6 — each
    *     BroadcastExchange build/ship costs more than the AQE-coalesced
    *     local shuffles it replaces, every round.
    *   - Pinning small edges as a driver LocalRelation + lazy-union
    *     visited with periodic folds: 25% fewer scheduler jobs but
    *     still ~1.6x slower wall (q_diameter_sweep 6.6 s vs 3.5 s,
    *     q_bowtie 10.6 s vs 6.7 s min-of-6 at sf0.1).
    *   - r13: TWO-HOP rounds (n1 = N(F)\V, n2 = N(n1)\V\n1 inside one
    *     action, both frontier sizes off a single 2-row aggregate) —
    *     a same-session env-guarded A/B was a WASH (q_bowtie med 5.75
    *     one-hop vs 5.83 two-hop, q_diameter_sweep 3.43 vs 3.41; jobs
    *     201 vs 204): with AQE each shuffle stage is its own job, so
    *     halving the driver ACTIONS leaves the per-depth stage-job
    *     count unchanged and only complicates the loop. Don't re-chase
    *     action-count reductions here; the job floor is the exchange
    *     count per depth.
    *   - r13: pinning the EDGE side's partitioning once before the loop
    *     (repartition(8, src) + checkpoint, hoping the preserved
    *     LogicalRDD outputPartitioning lets every round's expansion
    *     join skip the edge exchange) did NOT remove the exchange
    *     (jobs 201 → 202) and grew tasks 770 → 988 (fixed-width stages
    *     replace AQE-coalesced 1-2-task stages); wall ~flat-to-worse
    *     (q_bowtie 5.10 → 5.26, q_diameter_sweep 2.79 → 3.01). The same
    *     mechanism would be needed for the betweenness σ-layer reuse
    *     idea — measured dead on arrival at this scale.
    * Checkpointing the visited set each round keeps the anti-join plan a
    * single flat leaf; a lazy union of frontiers WITHOUT the checkpoint
    * was measured SLOWER (analyzer cost grows with the round count).
    *
    * r12 optimization-round refinement (guide §1/§7.3 — the per-round
    * driver sync IS the cost at the small end): the checkpoints are now
    * LAZY (`localCheckpoint(false)` still swaps the logical plan for a
    * flat LogicalRDD leaf immediately, so the analyzer sees exactly the
    * same flat shape), and the one per-round `count()` gate is the
    * materializing action for the round's frontier — 3 driver-blocking
    * jobs per round (eager frontier cp, isEmpty, eager visited-union cp)
    * collapse into 1; the visited union materializes inside the NEXT
    * round's anti-join job. Before/after numbers: OPTIMIZATION_r12.md
    * (plan shape and oracle hashes unchanged). */
  private[graft] def frontierBfs(seeds: DataFrame, e: DataFrame,
                                 keys: Seq[String], maxDepth: Int): DataFrame = {
    var dist = seeds.withColumn("dist", lit(0L)).localCheckpoint(false)
    var frontier = dist.select(keys.map(col): _*)
    var depth = 0
    var done = false
    while (depth < maxDepth && !done) {
      depth += 1
      val next = graft.PlanTap.tap(
        frontier.join(e, frontier("id") === e("src"))
          .select(keys.init.map(col) :+ e("dst").as("id"): _*).distinct()
          .join(dist, keys, "left_anti"),
        "bfs.round_expansion_pre_checkpoint")
        .localCheckpoint(false)
      if (next.count() == 0L) done = true
      else {
        dist = dist.unionByName(next.withColumn("dist", lit(depth.toLong)))
          .localCheckpoint(false)
        frontier = next
      }
    }
    dist
  }

  /** Friend-of-friend recommendations: unordered pairs (a, b) at graph
    * distance exactly 2 (NOT already adjacent), scored by their number of
    * common neighbors — the classic link-prediction baseline. Input is an
    * undirected edge list via [[canonical]]; output pairs are canonical
    * (a < b) with `n_common >= minCommon`.
    *
    * Scale: one self-join of the bidirected adjacency on the wedge pivot
    * (shuffle bounded by Σ deg² like [[triangleCount]] — degree-cap or
    * sample hub nodes first at 100 TB), one count aggregate, one
    * anti-join against the edge list. All equi-joins on node ids.
    */
  def commonNeighbors(edges: DataFrame, minCommon: Long): DataFrame = {
    val und = canonical(edges).localCheckpoint(false)
    val adj = bidirected(und)
    val wedge = adj.as("l").join(adj.as("r"),
        col("l.v") === col("r.u") && col("l.u") < col("r.v"))
      .select(col("l.u").as("a"), col("r.v").as("b"))
    wedge.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
      .join(und, Seq("a", "b"), "left_anti")
      .filter(col("n_common") >= minCommon)
  }

  /** Convergence-detected PageRank: same integer round as [[pageRank]],
    * but the loop stops once the L1 delta Σ|pr_k − pr_{k−1}| falls to
    * `epsE6` or below (or at `maxIters`). The per-round cost of detection
    * is one co-partitioned join of two rank frames plus a scalar aggregate
    * — the PageRank analogue of the CC label-sum trick (BASELINE.md), paid
    * only because ranks are not monotone so a pure aggregate can't see
    * convergence. Returns (id, pr_e6, n_rounds); n_rounds is constant
    * across rows — the audit trail of how many rounds ran.
    *
    * The scalar delta is a driver-side action per round — the same
    * synchronous-superstep structure every distributed PageRank has; the
    * data never leaves the executors except that one long.
    */
  def pageRankConverged(nodes: DataFrame, edges: DataFrame,
                        epsE6: Long, maxIters: Int): DataFrame = {
    require(maxIters >= 1 && maxIters <= 100, "maxIters must be in [1, 100]")
    require(epsE6 >= 0L, "epsE6 must be non-negative")
    val ed = outDegreeEdges(edges)
    val n = nodes.select(col("id")).localCheckpoint(false)
    val round = propagate(ed, n, Seq("id"), expr("pr_e6 div outdeg"),
      expr(s"150000L + $damped"), "pr_e6") _
    var pr = n.select(col("id"), lit(1000000L).as("pr_e6"))
      .localCheckpoint(false)
    var rounds = 0
    var converged = false
    while (rounds < maxIters && !converged) {
      val next = round(pr)
      rounds += 1
      val delta = next.as("b").join(pr.as("a"), col("a.id") === col("b.id"))
        .agg(sum(abs(col("b.pr_e6") - col("a.pr_e6"))).as("d"))
        .first().getLong(0)
      pr = next
      converged = delta <= epsE6
    }
    pr.withColumn("n_rounds", lit(rounds.toLong))
  }

  /** Resource-allocation link prediction (Zhou–Lü–Zhang): distance-2
    * pairs scored Σ_z 1/deg(z) over common neighbors z — hubs contribute
    * less than tight mutual friends, which beats the raw count when
    * degree is skewed. The per-term reciprocal is the e6 truncating
    * integer 1e6 div deg(z), summed — portable, no FP. Returns canonical
    * pairs (a < b, not adjacent) with both `n_common` and `ra_e6`.
    *
    * Same wedge join as [[commonNeighbors]] plus one pre-join of the
    * degree table onto the pivot side (degree rides the wedge row, so no
    * post-aggregation join).
    */
  def resourceAllocation(edges: DataFrame, minCommon: Long): DataFrame = {
    val und = canonical(edges).localCheckpoint(false)
    val adj = bidirected(und)
    val deg = adj.groupBy(col("u").as("z")).agg(count(lit(1)).as("degz"))
    val wedge = adj.as("l")
      .join(adj.as("r"), col("l.v") === col("r.u") && col("l.u") < col("r.v"))
      .join(deg, col("l.v") === col("z"))
      .select(col("l.u").as("a"), col("r.v").as("b"),
        expr("1000000L div degz").as("ra"))
    wedge.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("ra")).as("ra_e6"))
      .join(und, Seq("a", "b"), "left_anti")
      .filter(col("n_common") >= minCommon)
  }

  /** Single-source-set WEIGHTED shortest path cost, bounded at `maxHops`
    * edges — iterative relaxation: round h improves every node reachable
    * by an h-edge path, so after H rounds the result is exactly
    * "cheapest cost using ≤ H hops" (equal to the true shortest path
    * once H ≥ the hop count of the optimal path — Bellman-Ford without
    * the negative-cycle worry: weights must be positive integers).
    *
    * Scale: per round one join (dist ⋈ edges on src) + one min-aggregate
    * by node — the same round shape as [[pageRank]], with
    * checkpoint-truncated lineage. Early exit when a round improves
    * nothing (one scalar count action per round).
    */
  def shortestPaths(nodes: DataFrame, edges: DataFrame, sourceCol: String,
                    maxHops: Int): DataFrame =
    relaxBounded(nodes, edges, sourceCol, maxHops, "cost", 0L,
      _ + _, min(_), _ < _)

  /** The bounded relaxation loop of [[shortestPaths]] and [[widestPaths]],
    * over the path semiring (`extend`, `pick`, `better`): parallel edges
    * collapse to their `pick`ed weight, sources start at `init`, and
    * round h sets `v`(dst) = `pick` over `v`(dst) and `extend`(`v`(src),
    * w) for every edge — so after H rounds `v` is the best value over
    * paths of ≤ H edges. The round is one join (state ⋈ edges on src) +
    * one `pick` aggregate by node, checkpoint-truncated; its one driver
    * action counts the nodes whose value got strictly `better` (or that
    * are new), and the loop stops early when none did. */
  private def relaxBounded(nodes: DataFrame, edges: DataFrame,
                           sourceCol: String, maxHops: Int, v: String,
                           init: Long, extend: (Column, Column) => Column,
                           pick: Column => Column,
                           better: (Column, Column) => Column): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64, "maxHops must be in [1, 64]")
    val e = edges.select(col("src"), col("dst"), col("w"))
      .groupBy(col("src"), col("dst")).agg(pick(col("w")).as("w"))
      .localCheckpoint(false)
    var best = nodes.filter(col(sourceCol))
      .select(col("id"), lit(init).as(v)).localCheckpoint(false)
    var hops = 0
    var done = false
    while (hops < maxHops && !done) {
      hops += 1
      val relaxed = best.join(e, best("id") === e("src"))
        .select(e("dst").as("id"), extend(col(v), col("w")).as(v))
        .unionByName(best)
        .groupBy(col("id")).agg(pick(col(v)).as(v))
        .localCheckpoint(false)
      val improved = relaxed.as("n").join(best.as("o"),
          col("n.id") === col("o.id"), "left")
        .filter(col(s"o.$v").isNull || better(col(s"n.$v"), col(s"o.$v")))
        .count()
      if (improved == 0L) done = true
      best = relaxed
    }
    best
  }

  /** k-core of the undirected graph: the maximal subgraph where every
    * node keeps degree ≥ k — the standard "dense enough to matter"
    * filter before community detection or as a spam/bot screen.
    * Iterative peeling: drop nodes under degree k, recompute, repeat;
    * deletion cascades down chains, and the fixpoint is reached in at
    * most diameter-ish rounds. Peeling is idempotent at the fixpoint, so
    * an oracle unrolling MORE rounds than convergence took computes the
    * identical core — the same fixed-unroll trick as the PageRank
    * oracles. Returns surviving (id, deg) — degrees WITHIN the core.
    *
    * Scale: per round one degree aggregate + two semi-joins, all keyed
    * by node id; edges checkpoint per round (lineage truncation), early
    * exit on a stable edge count (one scalar action per round).
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1 && maxRounds >= 1 && maxRounds <= 64,
      "need k >= 1 and maxRounds in [1, 64]")
    var e = canonical(edges).localCheckpoint(false)
    var n = e.count()
    var rounds = 0
    var done = n == 0L
    while (rounds < maxRounds && !done) {
      rounds += 1
      val deg = e.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("id"))
        .localCheckpoint(false)
      val e2 = e
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(false)
      val n2 = e2.count()
      done = n2 == n
      e = e2
      n = n2
    }
    e.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
  }

  /** MAXIMAL triangles: the triangles {x<y<z} that are maximal cliques —
    * no fourth vertex adjacent to all three — i.e. genuine closed
    * triads, not faces of larger communities. The bounded-size slice of
    * maximal-clique mining that stays fully declarative: the wedge join
    * of [[triangleCount]] plus ONE anti-join against the common-
    * neighbor extension (a triangle extends iff some w wedges onto all
    * three vertices).
    *
    * Scale: wedge join (Σ deg² — degree-orient at 100 TB) + an
    * anti-join keyed on the triangle's vertices against the
    * triangle-extension frame. For unbounded clique mining, k-core
    * prefilter + per-component Bron–Kerbosch in `mapPartitions` is the
    * documented escape hatch; the bounded form covers the common "find
    * isolated triads" ask with an exact oracle.
    */
  def maximalTriangles(edges: DataFrame): DataFrame = {
    val e = canonical(edges).localCheckpoint(false)
    val adj = bidirected(e)
    val tri = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .join(e.as("e3"),
        col("x") === col("e3.a") && col("z") === col("e3.b"))
      .select(col("x"), col("y"), col("z"))
      .localCheckpoint(false)
    // a triangle extends iff some w is adjacent to x, y AND z
    val ext = tri
      .join(adj.as("wx"), col("x") === col("wx.u"))
      .join(adj.as("wy"),
        col("y") === col("wy.u") && col("wx.v") === col("wy.v"))
      .join(adj.as("wz"),
        col("z") === col("wz.u") && col("wx.v") === col("wz.v"))
      .select(col("x"), col("y"), col("z")).distinct()
    tri.join(ext, Seq("x", "y", "z"), "left_anti")
  }

  /** WIDEST path (maximum bottleneck capacity) from a seed set, bounded
    * at `maxHops` edges: the max over paths of the minimum edge weight —
    * bandwidth planning, max-flow lower bounds, "best guaranteed
    * throughput to each node". The relax step swaps [[shortestPaths]]'
    * (min, +) semiring for (max, min): cap′(v) = max(cap(v),
    * max over in-edges min(cap(src), w)); seeds start at Long.MaxValue
    * (unconstrained until an edge bounds them). Same round shape,
    * checkpoint-truncated lineage, early exit when nothing widens.
    */
  def widestPaths(nodes: DataFrame, edges: DataFrame, sourceCol: String,
                  maxHops: Int): DataFrame =
    relaxBounded(nodes, edges, sourceCol, maxHops, "cap", Long.MaxValue,
      least(_, _), max(_), _ > _)

  /** k-truss of the undirected graph: the maximal subgraph where every
    * EDGE sits in at least k−2 triangles (of the truss itself) — the
    * edge-grained sharpening of [[kCore]], the standard community-core
    * filter that survives hub spam (an edge needs mutual friends, not
    * just endpoints with high degree). Iterative support peeling, same
    * idempotent-fixpoint unroll trick for the oracle as [[kCore]].
    * Returns surviving canonical edges with their in-truss support.
    *
    * Scale: per round, support is one wedge join (edges ⋈ adjacency ⋈
    * adjacency on the two endpoints — bounded by Σ deg² like
    * [[triangleCount]], degree-orient first at 100 TB) + a filter;
    * edges checkpoint per round; early exit on stable edge count.
    */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 2 && maxRounds >= 1 && maxRounds <= 64,
      "need k >= 2 and maxRounds in [1, 64]")
    def support(e: DataFrame): DataFrame = {
      val adj = bidirected(e)
      e.join(adj.as("na"), col("a") === col("na.u"))
        .join(adj.as("nb"),
          col("b") === col("nb.u") && col("na.v") === col("nb.v"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    var e = canonical(edges).localCheckpoint(false)
    var n = e.count()
    var rounds = 0
    var done = n == 0L
    while (rounds < maxRounds && !done) {
      rounds += 1
      val e2 = support(e).filter(col("support") >= k - 2)
        .select(col("a"), col("b")).localCheckpoint(false)
      val n2 = e2.count()
      done = n2 == n
      e = e2
      n = n2
    }
    if (n == 0L) e.withColumn("support", lit(0L)).filter(lit(false))
    else support(e)
  }

  /** Exact triangle count. Each triangle {x<y<z} is counted exactly once
    * by wedging its two lowest edges and checking the closing edge:
    * (x,y)⋈(y,z) exists ∧ (x,z) exists.
    *
    * Scale: two self-joins on the canonical edge list, both equi-joins on
    * node ids — shuffle is bounded by Σ deg², dominated by hub nodes. The
    * standard hardening at 100 TB is degree orientation (point each edge
    * at its higher-DEGREE endpoint so every wedge pivot has bounded
    * out-degree ≤ √E); id-orientation is used here because the test graphs
    * are degree-uniform, and the join shape is identical. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = canonical(edges).localCheckpoint(false)
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    wedges.join(e.as("e3"),
        col("x") === col("e3.a") && col("z") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** HITS hubs & authorities (Kleinberg) over a directed edge list
    * (`src`, `dst`): `iters` synchronous rounds of
    *   auth(v) = Σ_{u→v} hub(u),   hub(u) = Σ_{u→v} auth(v),
    * each half-round ∞-norm-normalized to the e6 fixed point (top score
    * = 1,000,000) with truncating integer division — all-integer, so
    * bit-exact across engines (the [[pageRank]] portability trick; the
    * usual L2 norm has no exact integer form, and ∞-norm preserves the
    * same ranking). Nodes with no in-edges (resp. out-edges) get
    * authority (resp. hub) 0.
    *
    * Scale: each half-round is one join (scores ⋈ edges) + one keyed
    * aggregate + a broadcast of the scalar max — the join + aggregate
    * round of [[pageRank]] plus that broadcast, with checkpoint-truncated
    * lineage.
    * Raw sums are ≤ maxdeg·1e6 and the rescale multiplies by 1e6, so
    * values stay ≤ ~1e15 — inside long for any feasible degree. */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20, "iters must be in [1, 20]")
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false)
    def normalize(raw: DataFrame, c: String): DataFrame = {
      val mx = raw.agg(max(col(c)).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"), expr(s"$c * 1000000L div mx").as(c))
    }
    var hub = nodes.select(col("id"), lit(1000000L).as("h"))
    var auth = nodes.select(col("id"), lit(0L).as("a"))
    for (_ <- 1 to iters) {
      auth = normalize(
        e.join(hub, e("src") === hub("id"))
          .groupBy(e("dst").as("id")).agg(sum(col("h")).as("a")), "a")
        .localCheckpoint(false)
      hub = normalize(
        e.join(auth, e("dst") === auth("id"))
          .groupBy(e("src").as("id")).agg(sum(col("a")).as("h")), "h")
        .localCheckpoint(false)
    }
    nodes.select(col("id"))
      .join(hub, Seq("id"), "left").join(auth, Seq("id"), "left")
      .select(col("id"), coalesce(col("h"), lit(0L)).as("hub_e6"),
        coalesce(col("a"), lit(0L)).as("auth_e6"))
  }

  /** Minimum spanning forest by distributed Borůvka. Each round every
    * component selects its cheapest OUTGOING edge (weights must be
    * DISTINCT — that makes the MSF unique and every round conflict-free:
    * two components picking the same edge simply merge through it),
    * selected edges join the forest, and components are recomputed on
    * the accumulated forest with the O(log n) star CC
    * ([[StarComponents.connectedComponents]]). The component count at
    * least halves per round, so ⌈log₂ n⌉ rounds suffice.
    *
    * Correctness is graded against a completely INDEPENDENT oracle
    * formulation — the cut property under distinct weights: e = (u,v,w)
    * is in the MSF iff the minimax (bottleneck) path cost between u and
    * v equals w, which plain SQL evaluates by all-pairs path-doubling
    * relaxation.
    *
    * Scale per round: two label joins + one per-component min (all
    * keyed shuffles on node/component ids) + star CC over the
    * CONTRACTED cluster graph — the selected edges collapsed to their
    * endpoints' current cluster roots
    * ([[StarComponents.incrementalConnectedComponents]]), a frame that
    * shrinks with the component count instead of growing with the
    * forest, so the per-round CC cost falls geometrically (r12: the
    * original form re-ran full star CC over the ACCUMULATED forest
    * every round — O(V) CC input per round and ~2x the star rounds;
    * labels are identical because merging clusters through new edges is
    * exactly connectivity on the cluster graph, and min-of-mins is the
    * global component min). Lineage is checkpoint-truncated (lazily —
    * the selected-edge count gate is each round's one driver action,
    * the synchronous-superstep check every distributed Borůvka
    * performs); the forest itself accumulates as a lazy union read only
    * by the caller. Output: (a, b, w). */
  def minimumSpanningForest(nodes: DataFrame, edges: DataFrame,
                            maxRounds: Int): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 30, "maxRounds must be in [1, 30]")
    val e = edges.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("w"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .localCheckpoint(false)
    val n = nodes.select(col("id")).distinct().localCheckpoint(false)
    var comp = n.select(col("id"), col("id").as("cluster_id"))
    val forestParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      val la = comp.select(col("id").as("a"), col("cluster_id").as("ca"))
      val lb = comp.select(col("id").as("b"), col("cluster_id").as("cb"))
      val out = e.join(la, "a").join(lb, "b").filter(col("ca") =!= col("cb"))
      val cand = out.select(col("ca").as("c"),
          struct(col("w"), col("a"), col("b")).as("edge"))
        .unionByName(out.select(col("cb").as("c"),
          struct(col("w"), col("a"), col("b")).as("edge")))
      val sel = graft.PlanTap.tap(
        cand.groupBy(col("c")).agg(min(col("edge")).as("edge"))
          .select(col("edge.a").as("a"), col("edge.b").as("b"),
            col("edge.w").as("w"))
          .distinct(), "msf.round_selection_pre_checkpoint")
        .localCheckpoint(false)
      if (sel.count() == 0L) done = true
      else {
        forestParts += sel
        comp = StarComponents
          .incrementalConnectedComponents(comp, sel)
          .localCheckpoint(false)
      }
      round += 1
    }
    forestParts.foldLeft(e.filter(lit(false)))(_ unionByName _)
  }

  /** Adamic–Adar link prediction: distance-2 pairs scored
    * Σ_z 1e6/log₂(deg z) over common neighbors z, with the reciprocal
    * log as the e6 truncating integer 1e12 div log2E6(deg z) — between
    * raw counting ([[commonNeighbors]]) and the harsher 1/deg of
    * [[resourceAllocation]], and portable via the shared fixed-point
    * log₂ ([[Bm25.log2E6]]). A wedge pivot always has degree ≥ 2 (it
    * needs an edge to each endpoint), so log₂(deg z) > 0 and the
    * division is safe with no filter.
    *
    * Same wedge join as [[commonNeighbors]] with the degree table
    * pre-joined onto the pivot side. */
  def adamicAdar(edges: DataFrame, minCommon: Long): DataFrame = {
    val und = canonical(edges).localCheckpoint(false)
    val adj = bidirected(und)
    val deg = adj.groupBy(col("u").as("z")).agg(count(lit(1)).as("degz"))
    val wedge = adj.as("l")
      .join(adj.as("r"), col("l.v") === col("r.u") && col("l.u") < col("r.v"))
      .join(deg, col("l.v") === col("z"))
      .withColumn("lg", Bm25.log2E6(col("degz")))
      .select(col("l.u").as("a"), col("r.v").as("b"),
        expr("1000000000000L div lg").as("aa"))
    wedge.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("aa")).as("aa_e6"))
      .join(und, Seq("a", "b"), "left_anti")
      .filter(col("n_common") >= minCommon)
  }

  /** Per-vertex local clustering coefficient: lcc(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1)) as a truncating e6 integer, with T(v) the
    * triangles through v. Same wedge-join shape as [[commonNeighbors]]
    * but pivot-centric: wedges (u−v−w, u < w) closed by an edge (u, w).
    * Output for every vertex of degree ≥ 1: (id, degree, triangles,
    * lcc_e6); degree-1 vertices score 0.
    *
    * Scale: the wedge join is the standard triangle-counting shape
    * (adjacency self-join on the pivot, closure semi-join against the
    * canonical edge list) — all keyed shuffles, no all-pairs. */
  def localClustering(edges: DataFrame): DataFrame = {
    val und = canonical(edges).localCheckpoint(false)
    val adj = bidirected(und)
    val deg = adj.groupBy(col("u").as("id")).agg(count(lit(1)).as("degree"))
    val tri = adj.as("l")
      .join(adj.as("r"), col("l.u") === col("r.u") && col("l.v") < col("r.v"))
      .select(col("l.u").as("id"), col("l.v").as("a"), col("r.v").as("b"))
      .join(und, Seq("a", "b"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc_e6",
        when(col("degree") >= 2L,
          expr("2 * triangles * 1000000L div (degree * (degree - 1))"))
          .otherwise(lit(0L)))
  }

  /** Degree assortativity: the Pearson correlation of (deg(u), deg(v))
    * over all DIRECTED realizations of the undirected edges (each edge
    * counted both ways, the standard Newman convention — it makes the
    * two marginals identical). Exact DECIMAL(38,0) moment sums, one
    * final IEEE ratio rounded to 6 (the [[TimeSeries.autocorr]]
    * determinism recipe). Output one row: (n_dir, r). */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = canonical(edges).localCheckpoint(false)
    val adj = bidirected(und)
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
    adj.join(deg, "u")
      .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
      .selectExpr("CAST(d AS DECIMAL(38,0)) AS x",
        "CAST(dv AS DECIMAL(38,0)) AS y")
      .agg(count(lit(1)).as("n_dir"),
        sum(col("x")).as("s1"), sum(col("y")).as("s2"),
        sum(col("x") * col("x")).as("s11"),
        sum(col("y") * col("y")).as("s22"),
        sum(col("x") * col("y")).as("s12"))
      .selectExpr("n_dir",
        """CASE WHEN n_dir * s11 - s1 * s1 = 0 OR n_dir * s22 - s2 * s2 = 0
          |     THEN NULL
          |     ELSE round(CAST(n_dir * s12 - s1 * s2 AS DOUBLE) /
          |                sqrt(CAST(n_dir * s11 - s1 * s1 AS DOUBLE) *
          |                     CAST(n_dir * s22 - s2 * s2 AS DOUBLE)), 6)
          |END AS r""".stripMargin)
  }

  /** Synchronous label propagation community detection: every vertex
    * starts labeled with its own id; each round it adopts the most
    * frequent label among its NEIGHBORS (deterministic tie-break:
    * highest count, then smallest label — the argmax is a
    * min-on-struct(−cnt, lbl), the repo's standard trick), isolated
    * vertices keep their label. Synchronous update + deterministic
    * ties make every round — and therefore the oracle's unrolled SQL
    * replay — exactly reproducible. Output after `iters` rounds:
    * (id, label).
    *
    * Scale per round: one adjacency⋈labels join + one (v, label) count
    * + one per-vertex argmax — all keyed shuffles, lineage
    * checkpoint-truncated each round. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20, "iters must be in [1, 20]")
    val adj = bidirected(canonical(edges)).localCheckpoint(false)
    val n = nodes.select(col("id")).distinct().localCheckpoint(false)
    var lbl = n.select(col("id"), col("id").as("label"))
    for (_ <- 1 to iters) {
      val win = adj.join(lbl.select(col("id").as("u"), col("label")), "u")
        .groupBy(col("v"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("v").as("id"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("best"))
        .select(col("id"), col("best.l").as("nl"))
      lbl = lbl.join(win, Seq("id"), "left")
        .select(col("id"), coalesce(col("nl"), col("label")).as("label"))
        .localCheckpoint(false)
    }
    lbl
  }

  /** Bridge (cut-edge) detection by the tree-XOR technique (the SURVEY
    * §7.4j plan, unblocked by [[minimumSpanningForest]]):
    *
    *  1. build the unique MSF of the graph (weights must be DISTINCT —
    *     uniqueness is what lets an independent oracle reconstruct the
    *     same forest);
    *  2. every NON-forest edge gets a deterministic 64-bit label
    *     (`xxhash64(a, b)`) XORed into both endpoints;
    *  3. peel the forest leaf-by-leaf, each pruned leaf folding its
    *     accumulated XOR into its neighbor. When leaf `l` is pruned over
    *     forest edge (l, p), its accumulator equals the XOR of labels of
    *     non-forest edges with EXACTLY ONE endpoint on l's side (edges
    *     with both endpoints inside cancel) — so the edge is a bridge
    *     iff that cut-XOR is 0. A spurious zero needs a non-empty label
    *     subset XORing to 0 (probability ≈ 2⁻⁶⁴ per edge, and
    *     deterministic across runs since the labels are hashes).
    *
    * Every forest edge is eventually a leaf edge, so every forest edge
    * gets a verdict; non-forest edges are never bridges by definition.
    * A tree with ≥2 vertices always has ≥2 leaves, so each round
    * strictly shrinks every remaining tree: rounds ≤ the largest tree
    * radius (`maxRounds` bounds it, same contract as [[bfsLevels]]'
    * bounded hops). Per round: one degree aggregate, one leaf join, and
    * one accumulator merge — all keyed shuffles on node ids, with
    * checkpoint-truncated lineage. The scale path for deep trees is the
    * documented Euler-tour pointer-doubling variant; event-graph radii
    * make bounded peeling the right default.
    *
    * Input: `edges` as canonical (a < b, w) with distinct weights over
    * `nodes` (id). Output: (a, b, is_bridge) for every forest edge. */
  def bridges(nodes: DataFrame, edges: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 60, "maxRounds must be in [1, 60]")
    val und = edges.select(col("a"), col("b"), col("w"))
    val forest = minimumSpanningForest(nodes, und, maxRounds)
      .select(col("a"), col("b")).localCheckpoint(false)
    val nonForest = und.select(col("a"), col("b"))
      .join(forest, Seq("a", "b"), "left_anti")
      .withColumn("lbl", xxhash64(col("a"), col("b")))
    val acc0 = nonForest.select(col("a").as("id"), col("lbl"))
      .unionByName(nonForest.select(col("b").as("id"), col("lbl")))
      .groupBy(col("id")).agg(expr("bit_xor(lbl)").as("acc"))
    var acc = nodes.select(col("id")).distinct()
      .join(acc0, Seq("id"), "left")
      .select(col("id"), coalesce(col("acc"), lit(0L)).as("acc"))
      .localCheckpoint(false)
    var rem = forest
    // r12: verdict rows are only READ after the loop, so they accumulate
    // as a lazy union of the (cached) per-round pruned frames instead of
    // re-materializing a growing verdict frame every round; the one
    // rem.count() gate is the round's single driver-blocking action
    // (pruned/acc/rem are lazy checkpoints materialized by it or by the
    // next round's consumer job — guide §1/§7.3, see OPTIMIZATION_r12.md).
    val verdicts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    while (round < maxRounds && rem.count() > 0L) {
      val adj = bidirected(rem)
      val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
      // leaves; when BOTH endpoints are leaves (a 2-vertex tree) only the
      // smaller id acts, so the edge is pruned exactly once
      val pruned = adj.join(deg.filter(col("d") === 1L).select(col("u")), "u")
        .join(deg.select(col("u").as("v"), col("d").as("dv")), "v")
        .filter(col("dv") > 1L || col("u") < col("v"))
        .select(col("u").as("leaf"), col("v").as("parent"))
        .join(acc.select(col("id").as("leaf"), col("acc")), "leaf")
        .localCheckpoint(false)
      verdicts += pruned.select(least(col("leaf"), col("parent")).as("a"),
        greatest(col("leaf"), col("parent")).as("b"),
        col("acc").as("cut_xor"))
      val fold = pruned.groupBy(col("parent").as("id"))
        .agg(expr("bit_xor(acc)").as("dx"))
      acc = acc.join(fold, Seq("id"), "left")
        .select(col("id"),
          coalesce(expr("acc ^ dx"), col("acc")).as("acc"))
        .localCheckpoint(false)
      rem = rem.join(pruned
          .select(least(col("leaf"), col("parent")).as("a"),
            greatest(col("leaf"), col("parent")).as("b")),
          Seq("a", "b"), "left_anti")
        .localCheckpoint(false)
      round += 1
    }
    val verdict = verdicts.foldLeft(
      forest.filter(lit(false)).withColumn("cut_xor", lit(0L)))(
      _ unionByName _)
    verdict.select(col("a"), col("b"), (col("cut_xor") === 0L).as("is_bridge"))
  }

  /** Multi-source BFS: min-hop distance from EVERY seed to every node it
    * reaches, labeled by seed — one frontier loop carries all seeds at
    * once ((seed, id) keyed state), so s sources cost the same rounds as
    * one. Directed edges, same contract as [[bfsLevels]].
    * Output: (seed, id, dist). */
  def multiSourceBfs(nodes: DataFrame, edges: DataFrame, seedCol: String,
                     maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64, "maxDepth must be in [1, 64]")
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    frontierBfs(nodes.filter(col(seedCol)).select(col("id").as("seed"), col("id")),
      e, Seq("seed", "id"), maxDepth)
  }

  /** Closeness centrality of the seed nodes over their reachable sets:
    * (n_reached − 1)·10⁶ div Σ dist — the standard harmonic-free form,
    * integer-exact. Disconnected remainders simply don't contribute
    * (Wasserman–Faust would rescale; callers can from n_reached).
    * Output: (seed, n_reached, sum_dist, closeness_e6). */
  def closeness(nodes: DataFrame, edges: DataFrame, seedCol: String,
                maxDepth: Int): DataFrame =
    multiSourceBfs(nodes, edges, seedCol, maxDepth)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"), sum(col("dist")).as("sum_dist"))
      .withColumn("closeness_e6",
        expr("CASE WHEN sum_dist = 0 THEN NULL ELSE (n_reached - 1L) * 1000000L div sum_dist END"))

  /** Bounded-hop HARMONIC centrality of the seed nodes: Σ 1e6 div d over
    * reached nodes at distance d > 0 — closeness's robust cousin
    * (disconnected nodes contribute 0 instead of poisoning the mean), the
    * form surveys recommend for web-scale graphs. Shares
    * [[multiSourceBfs]]'s one labeled frontier for all seeds. Output:
    * (seed, n_reached, harmonic_e6) — n_reached EXCLUDES the seed. */
  def harmonic(nodes: DataFrame, edges: DataFrame, seedCol: String,
               maxDepth: Int): DataFrame =
    multiSourceBfs(nodes, edges, seedCol, maxDepth)
      .filter(col("dist") > 0)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000L div dist")).as("harmonic_e6"))

  /** Neighborhood Jaccard per EXISTING edge — the classic link-prediction
    * feature (and a triangle-density audit): j = |N(a)∩N(b)| /
    * |N(a)∪N(b)| in e6. Common neighbours count by the wedge join
    * (edge ⋈ adj(a) ⋈ adj(b) on the shared endpoint) — the same
    * triangle-enumeration shape as Adamic–Adar, never an all-pairs
    * product; at 100 TB the high-degree hubs would be handled by the
    * standard degree-ordered orientation. Output:
    * (a, b, deg_a, deg_b, common, j_e6). */
  def neighborJaccard(edges: DataFrame): DataFrame = {
    val und = canonical(edges).localCheckpoint(false)
    val adj = bidirected(und).localCheckpoint(false)
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val common = und
      .join(adj.select(col("u").as("a"), col("v").as("w")), Seq("a"))
      .join(adj.select(col("u").as("b"), col("v").as("w")), Seq("b", "w"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    und.join(common, Seq("a", "b"), "left")
      .na.fill(0L, Seq("common"))
      .join(deg.select(col("u").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("deg").as("deg_b")), Seq("b"))
      .withColumn("j_e6",
        expr("common * 1000000L div (deg_a + deg_b - common)"))
      .select(col("a"), col("b"), col("deg_a"), col("deg_b"),
        col("common"), col("j_e6"))
  }

  /** Bounded-hop eccentricity of the seed nodes: the FARTHEST min-hop
    * distance each seed reaches within `maxDepth` — the per-node half of
    * the diameter question, sharing [[multiSourceBfs]]'s one labeled
    * frontier for all seeds. Output: (seed, n_reached, ecc). */
  def eccentricity(nodes: DataFrame, edges: DataFrame, seedCol: String,
                   maxDepth: Int): DataFrame =
    multiSourceBfs(nodes, edges, seedCol, maxDepth)
      .groupBy(col("seed"))
      .agg(count(lit(1)).as("n_reached"), max(col("dist")).as("ecc"))

  /** Double-sweep diameter LOWER bound (Magnien–Latapy–Habib): BFS from
    * the root, hop to the farthest node u it reaches (ties → smallest
    * id), BFS again from u — ecc(u) lower-bounds the diameter and is
    * exact on trees. Two BFS passes total regardless of |V|, which is
    * the whole point versus |V|-source exact eccentricity at scale; the
    * u-selection is a one-row argmax aggregate joined back (never
    * collected). Edges are taken as given — pass a bidirected view for
    * undirected semantics. One row: (u, ecc_root, diameter_lb,
    * n_reached) with n_reached counting u's BFS cover. */
  def doubleSweepDiameter(nodes: DataFrame, edges: DataFrame,
                          rootCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64, "maxDepth must be in [1, 64]")
    // Dedup + checkpoint the edges ONCE — both sweeps reuse the frame.
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    val d0 = frontierBfs(nodes.filter(col(rootCol)).select(col("id")), e,
      Seq("id"), maxDepth)
    val far = d0
      .agg(max(struct(col("dist"), (-col("id")).as("ni"))).as("f"))
      .select((-col("f.ni")).as("u"), col("f.dist").as("ecc_root"))
      .localCheckpoint(false)
    val seeded = nodes.crossJoin(broadcast(far))
      .withColumn("is_far", col("id") === col("u"))
    frontierBfs(seeded.filter(col("is_far")).select(col("id")), e,
      Seq("id"), maxDepth)
      .agg(max(col("dist")).as("diameter_lb"), count(lit(1)).as("n_reached"))
      .crossJoin(broadcast(far))
      .select(col("u"), col("ecc_root"), col("diameter_lb"), col("n_reached"))
  }

  /** Exact betweenness centrality (ordered-pair convention) via the
    * pair-dependency identity: bc(v) = Σ_{s≠v≠t} σ_sv·σ_vt·10⁶ div σ_st
    * over ordered pairs with dist(s,v) + dist(v,t) = dist(s,t).
    * Three stages, all joins on node ids:
    *   1. the labeled [[multiSourceBfs]] frontier from EVERY node, over
    *      the same deduped edge frame the σ layers reuse;
    *   2. shortest-path COUNTS σ by layered accumulation — layer d sums
    *      predecessor σ over edges from layer d−1, exactly Brandes'
    *      forward pass, one join per BFS round;
    *   3. the (s, v, t) triple join, filtered to tight triangles.
    * Integer contributions (truncating div, positive operands) keep the
    * result bit-deterministic and oracle-replayable.
    *
    * Scale: stages 1–2 are |V| simultaneous BFS labels — the exact
    * all-sources regime, right when betweenness is computed WITHIN
    * components/communities of bounded size (the usual production
    * shape after clustering). For one huge component, pass `seedCol`:
    * a boolean column marking SAMPLED pivots — the SAME plan runs with
    * the BFS seeded only there, so both pair endpoints (s, t) range
    * over the sample and the result is the exact pair-dependency sum
    * over sampled ordered pairs (the pair-sampling estimator; callers
    * rescale by n(n−1)/(k(k−1)) for an unbiased full-graph estimate —
    * deterministic, so the rescale lives in the query AND its oracle).
    * This is the §7.4k escape hatch: the k-sample variant IS this code
    * path behind the parameter, not a different algorithm.
    * Pass a bidirected edge view for undirected semantics; undirected
    * bc is the ordered-pair result halved. Output: (v, bc_e6). */
  def betweenness(nodes: DataFrame, edges: DataFrame,
                  maxDepth: Int, seedCol: Option[String] = None): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64, "maxDepth must be in [1, 64]")
    // Dedup + checkpoint the edges ONCE — the BFS and the σ layers share it.
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(false)
    val seeds = seedCol.fold(nodes)(c => nodes.filter(col(c)))
      .select(col("id").as("seed"), col("id"))
    val dist = frontierBfs(seeds, e, Seq("seed", "id"), maxDepth)
      .localCheckpoint(false) // reused by every layer filter below
    var front = dist.filter(col("dist") === 0L)
      .select(col("seed"), col("id"), lit(1L).as("sig"))
      .localCheckpoint(false)
    var sig = front.withColumn("d", lit(0L))
    var d = 0
    var done = false
    while (d < maxDepth && !done) {
      d += 1
      val layer = dist.filter(col("dist") === d.toLong)
        .select(col("seed"), col("id"))
      val next = front.join(e, front("id") === e("src"))
        .select(col("seed"), e("dst").as("id"), col("sig"))
        .join(layer, Seq("seed", "id")) // keeps only min-dist-d nodes
        .groupBy(col("seed"), col("id")).agg(sum(col("sig")).as("sig"))
        .localCheckpoint(false)
      if (next.count() == 0L) done = true
      else {
        sig = sig.unionByName(next.withColumn("d", lit(d.toLong)))
          .localCheckpoint(false)
        front = next
      }
    }
    val a = sig.select(col("seed").as("s"), col("id").as("v"),
      col("sig").as("sa"), col("d").as("da"))
    val b = sig.select(col("seed").as("t"), col("id").as("v"),
      col("sig").as("sb"), col("d").as("db"))
    val c = sig.select(col("seed").as("s"), col("id").as("t"),
      col("sig").as("sc"), col("d").as("dc"))
    val contrib = a.join(b, "v")
      .filter(col("s") =!= col("t") && col("v") =!= col("s") &&
        col("v") =!= col("t"))
      .join(c, Seq("s", "t"))
      .filter(col("dc") === col("da") + col("db"))
      .groupBy(col("v"))
      .agg(sum(expr("sa * sb * 1000000L div sc")).as("bc_e6"))
    nodes.select(col("id").as("v")).join(contrib, Seq("v"), "left")
      .select(col("v"), coalesce(col("bc_e6"), lit(0L)).as("bc_e6"))
  }

  /** Strongly connected components by min-label over the MUTUAL
    * transitive closure: reach pairs (u, v) grow by pointer-doubling
    * self-joins (log₂ diameter rounds, not diameter rounds), then a
    * node's SCC label is min{v : u⇝v ∧ v⇝u} (reflexive pairs make every
    * node labeled; tree tails off a cycle become singletons).
    *
    * Scale: closure cardinality is Σ|reachable set| — quadratic on one
    * giant dense component, fine on the bounded components /
    * condensation inputs SCC is actually run on (same contract as
    * [[betweenness]]); each round is one equi-join + distinct, both on
    * node keys. Output: (id, scc_id). */
  def sccMinLabel(nodes: DataFrame, edges: DataFrame,
                  rounds: Int): DataFrame = {
    var r = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(nodes.select(col("id").as("u"), col("id").as("v")))
      .distinct().localCheckpoint(false)
    var n = r.count()
    var i = 0
    var grown = true
    while (i < rounds && grown) {
      i += 1
      r = r.as("a").join(r.as("b"), col("a.v") === col("b.u"))
        .select(col("a.u").as("u"), col("b.v").as("v"))
        .unionByName(r).distinct().localCheckpoint(false)
      val n2 = r.count()
      grown = n2 > n
      n = n2
    }
    r.join(r.select(col("v").as("u"), col("u").as("v")), Seq("u", "v"))
      .groupBy(col("u").as("id")).agg(min(col("v")).as("scc_id"))
  }

  /** Longest WEIGHTED path ending at each node of a DAG (edges
    * (src, dst, w), positive longs): bounded-round label relaxation —
    * each round joins the improved frontier to the edges, takes the
    * per-node max, and merges only strict improvements into the best
    * map, so settled subgraphs drop out of later rounds (the
    * anti-chain of critical-path scheduling / dataflow depth).
    * Terminates in ≤ longest-path-hops rounds; on a DAG every
    * relaxation is exact, no cycle guard needed. Output: (id, dist)
    * with dist = 0 for sources.
    *
    * Scale: per round one edge join + one per-node max aggregate —
    * both keyed on node id, frontier-sized not graph-sized;
    * localCheckpoint truncates the growing lineage. */
  def dagLongestPath(nodes: DataFrame, edges: DataFrame,
                     maxDepth: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w")).localCheckpoint(false)
    var best = nodes.select(col("id"), lit(0L).as("dist")).localCheckpoint(false)
    var front = best
    var d = 0
    var done = false
    while (d < maxDepth && !done) {
      d += 1
      val cand = front.join(e, front("id") === e("src"))
        .select(e("dst").as("id"), (col("dist") + col("w")).as("dist"))
        .groupBy(col("id")).agg(max(col("dist")).as("dist"))
      val improved = cand.as("c")
        .join(best.as("b"), Seq("id"))
        .filter(col("c.dist") > col("b.dist"))
        .select(col("id"), col("c.dist").as("dist"))
        .localCheckpoint(false)
      if (improved.count() == 0L) done = true
      else {
        best = best.as("b").join(improved.as("i"), Seq("id"), "left")
          .select(col("id"),
            greatest(col("b.dist"), coalesce(col("i.dist"), col("b.dist")))
              .as("dist"))
          .localCheckpoint(false)
        front = improved
      }
    }
    best
  }

  /** Two-colorability (bipartiteness) check by BFS parity from `rootCol`
    * over the bidirected view of canonical undirected `edges` (a, b):
    * color = dist % 2; any edge with same-colored endpoints certifies an
    * odd cycle. One row: (n_reached, n_edges_reached, n_violating,
    * is_bipartite) — counts restricted to the root's component. */
  def bipartiteCheck(nodes: DataFrame, edges: DataFrame, rootCol: String,
                     maxDepth: Int): DataFrame = {
    val adj = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
    val color = bfsLevels(nodes, adj, rootCol, maxDepth)
      .select(col("id"), (col("dist") % 2).as("c")).localCheckpoint(false)
    edges
      .join(color.select(col("id").as("a"), col("c").as("ca")), Seq("a"))
      .join(color.select(col("id").as("b"), col("c").as("cb")), Seq("b"))
      .agg(count(lit(1)).as("n_edges_reached"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("n_violating"))
      .crossJoin(broadcast(color.agg(count(lit(1)).as("n_reached"))))
      .select(col("n_reached"), col("n_edges_reached"), col("n_violating"),
        (col("n_violating") === 0L).as("is_bipartite"))
  }

  /** Neighborhood Jaccard similarity of ADJACENT node pairs — the edge
    * embeddedness score used for tie-strength / community-edge
    * classification: for edge (a, b), |N(a)∩N(b)|·10⁶ div
    * |N(a)∪N(b)| with |N(a)∪N(b)| = deg(a)+deg(b)−common. Edges whose
    * endpoints share nothing score 0 (kept via left join). Same wedge
    * self-join bound as [[triangleCount]] (Σ deg²).
    * Output: (a, b, n_common, jac_e6). */
  def edgeJaccard(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a"), col("b")).distinct().localCheckpoint(false)
    val adj = bidirected(und)
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val common = adj.select(col("u").as("p"), col("v").as("x"))
      .join(adj.select(col("u").as("p"), col("v").as("y")), Seq("p"))
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("c"))
    und.join(common, Seq("a", "b"), "left")
      .withColumn("n_common", coalesce(col("c"), lit(0L)))
      .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("n_common"),
        expr("n_common * 1000000L div (da + db - n_common)").as("jac_e6"))
  }

  /** DeepWalk-style walk corpus, HASH-DERANDOMIZED: one `steps`-long
    * walk starts at every node of the canonical undirected `edges`; at
    * step s from node u the walk moves to u's neighbor of rank
    * hash48(start:s) mod deg(u) (neighbors ranked by id — so the
    * "random" choice is a pure function of (start, step), reproducible
    * in any engine, the [[graft.ops.Experiment]] bootstrap convention).
    * Isolated nodes walk nowhere and emit nothing. Output one row per
    * hop: (start, step, node), steps × |V| rows — the sentence corpus a
    * skip-gram embedding trains on.
    *
    * Scale: each step is ONE equi-join of the |V|-row frontier against
    * the ranked adjacency (keyed on the current node) — no per-walk
    * state, no driver loop over nodes; `steps` is the only sequential
    * dimension. */
  def deepwalkVisits(edges: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1 && steps <= 64)
    val adj = bidirected(canonical(edges))
    val ranked = adj
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("u")).orderBy(col("v"))))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("u"))))
      .localCheckpoint(false)
    var frontier = adj.select(col("u")).distinct()
      .select(col("u").as("start"), col("u").as("cur"))
    val hops = (1 to steps).map { s =>
      val choice = Dedup.hash48(
        concat(col("start").cast("string"), lit(":"), lit(s.toString)),
        lit("walk")) % col("deg")
      frontier = frontier.join(ranked, col("cur") === col("u"))
        .filter(col("rk") === choice + 1L)
        .select(col("start"), col("v").as("cur"))
        .localCheckpoint(false)
      frontier.select(col("start"), lit(s.toLong).as("step"),
        col("cur").as("node"))
    }
    hops.reduce(_ unionByName _)
  }

  /** Two-hop mean feature aggregation — one GraphSAGE-style message-
    * passing layer applied twice over the canonical undirected `edges`:
    * h1(v) = mean of x(u) over v's neighbors (e6 truncating integer),
    * h2(v) = mean of h1(u) over v's neighbors (div by a second 10⁶ to
    * stay in e6). `feats` carries (id, x) non-negative longs; isolated
    * nodes emit nothing (no neighborhood to average). Output:
    * (id, deg, h1_e6, h2_e6).
    *
    * Scale: each hop is ONE adjacency⋈features equi-join + one keyed
    * mean aggregate — the canonical message-passing shape; k hops cost
    * k joins, never materializing multi-hop neighborhoods. */
  def gnnAggregate(edges: DataFrame, feats: DataFrame): DataFrame = {
    val adj = bidirected(canonical(edges)).localCheckpoint(false)
    val h1 = adj.join(feats.select(col("id").as("v"), col("x")), "v")
      .groupBy(col("u").as("id"))
      .agg(count(lit(1)).as("deg"), sum(col("x")).as("sx"))
      .selectExpr("id", "deg", "sx * 1000000 div deg AS h1_e6")
      .localCheckpoint(false)
    adj.join(h1.select(col("id").as("v"), col("h1_e6").as("hn")), "v")
      .groupBy(col("u").as("id"))
      .agg(count(lit(1)).as("deg"), sum(col("hn")).as("sh"))
      .join(h1.select(col("id"), col("h1_e6")), "id")
      .selectExpr("id", "deg", "h1_e6", "sh div deg AS h2_e6")
  }

  /** Luby's maximal independent set, HASH-DERANDOMIZED: each round,
    * every undecided node draws priority hash48(id:round) (ties broken
    * by id — total order), joins the MIS iff its (priority, id) beats
    * every undecided neighbor's, and winners' neighbors drop out; the
    * classic O(log n)-round symmetry-breaking primitive behind
    * distributed coloring and scheduling, here a pure function of the
    * graph (reproducible in SQL). Nodes still undecided after `rounds`
    * emit state −1 (callers pick rounds ≥ expected O(log n)). Output:
    * (id, state) — 1 in the MIS, 0 excluded, −1 undecided. The result
    * is independent (no two 1s adjacent) and, when no −1 remain,
    * maximal.
    *
    * Scale: each round is one adjacency⋈undecided join + one per-node
    * max aggregate + keyed anti-joins, all on node keys; frontiers are
    * checkpointed so no lineage blowup. Isolated nodes win round 1. */
  def lubyMis(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 32)
    val und0 = nodes.select(col("id")).distinct()
    val adj = bidirected(canonical(edges)).localCheckpoint(false)
    var und = und0.localCheckpoint(false)
    var decided = und0.sparkSession.emptyDataFrame
    var haveDecided = false
    (1 to rounds).foreach { r =>
      val pri = und.withColumn("p", Dedup.hash48(
        concat(col("id").cast("string"), lit(":"), lit(r.toString)),
        lit("mis")))
      val nbrBest = adj
        .join(pri.select(col("id").as("u")), "u") // u undecided
        .join(pri.select(col("id").as("v"), col("p").as("pv")), "v")
        .groupBy(col("u")).agg(max(struct(col("pv"), col("v"))).as("best"))
      val winners = pri.join(nbrBest, col("id") === col("u"), "left")
        .filter(col("best").isNull ||
          struct(col("p"), col("id")) > col("best"))
        .select(col("id")).localCheckpoint(false)
      val dropped = adj.join(winners.select(col("id").as("u")), "u")
        .select(col("v").as("id")).distinct()
        .join(und, Seq("id"), "left_semi") // only still-undecided drop
        .localCheckpoint(false)
      val newDecided = winners.select(col("id"), lit(1L).as("state"))
        .unionByName(dropped.select(col("id"), lit(0L).as("state")))
      decided = if (haveDecided) decided.unionByName(newDecided) else newDecided
      haveDecided = true
      und = und.join(winners, Seq("id"), "left_anti")
        .join(dropped, Seq("id"), "left_anti").localCheckpoint(false)
    }
    decided.unionByName(und.select(col("id"), lit(-1L).as("state")))
  }

  /** Jones–Plassmann greedy graph coloring, `rounds` synchronous
    * hash-derandomized rounds: a node colors itself when its STATIC
    * priority (hash48 of the id — drawn once, unlike Luby's per-round
    * draws) beats every still-uncolored neighbor, taking the smallest
    * color its already-colored neighbors don't hold (the mex, read off
    * a SUM(DISTINCT 1<<color) bitmask — colors are bounded by degree).
    * Nodes still uncolored after the horizon emit color −1. Output:
    * (id, color, round_colored).
    *
    * Scale: per round one adjacency⋈uncolored join + one per-node max,
    * one mask aggregate against the colored set, keyed anti-joins;
    * every frontier localCheckpoints so lineage stays flat — the
    * q_luby_mis shape plus one bounded mask join. */
  def jonesPlassmann(nodes: DataFrame, edges: DataFrame,
                     rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16)
    val mex = (0 to 15).foldRight(
      lit(16L): org.apache.spark.sql.Column) { (b, acc) =>
      when(expr(s"mask div ${1L << b} % 2") === 0, lit(b.toLong))
        .otherwise(acc)
    }
    val adj = bidirected(canonical(edges)).localCheckpoint(false)
    val pri0 = nodes.select(col("id")).distinct()
      .withColumn("p", Dedup.hash48(col("id").cast("string"), lit("jp")))
      .localCheckpoint(false)
    var und = pri0
    var colored = und.sparkSession.emptyDataFrame
    var haveColored = false
    (1 to rounds).foreach { r =>
      val nbrBest = adj
        .join(und.select(col("id").as("u")), "u")
        .join(und.select(col("id").as("v"), col("p").as("pv")), "v")
        .groupBy(col("u")).agg(max(struct(col("pv"), col("v"))).as("best"))
      val winners = und.join(nbrBest, col("id") === col("u"), "left")
        .filter(col("best").isNull ||
          struct(col("p"), col("id")) > col("best"))
        .select(col("id")).localCheckpoint(false)
      val masks =
        if (!haveColored) winners.withColumn("mask", lit(0L))
        else adj.join(winners.select(col("id").as("u")), "u")
          .join(colored.select(col("id").as("v"), col("color")), "v")
          .groupBy(col("u"))
          .agg(sum_distinct(expr("CAST(shiftleft(1L, CAST(color AS INT)) AS BIGINT)"))
            .as("m"))
          .join(winners, col("u") === col("id"), "right")
          .select(col("id"), coalesce(col("m"), lit(0L)).as("mask"))
      val newColored = masks
        .select(col("id"), mex.as("color"), lit(r.toLong).as("round_colored"))
        .localCheckpoint(false)
      colored = if (haveColored) colored.unionByName(newColored)
        else newColored
      haveColored = true
      und = und.join(winners, Seq("id"), "left_anti").localCheckpoint(false)
    }
    colored.unionByName(und.select(col("id"), lit(-1L).as("color"),
      lit(-1L).as("round_colored")))
  }

  /** Newman modularity of a community `labels` (id, label) assignment
    * over the canonical undirected `edges`: Q = Σ_c [in_c/m −
    * (deg_c/2m)²], computed ALL-INTEGER on the directed adjacency
    * (A = 2m rows): Q = Σ_c (A·in2_c − deg_c²) / A² with in2_c the
    * directed intra-community row count — ONE global numerator, ONE
    * e6-scaled division with the sign factored out (Spark `div`
    * truncates, DuckDB `//` floors; they agree only on non-negatives).
    * Output one row: (n_comms, m_edges, q_e6).
    *
    * Scale: two label-keyed aggregates off one adjacency⋈labels join
    * (labels join on node keys); the epilogue is scalar. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val adj = bidirected(canonical(edges))
    val lab = labels.select(col("id"), col("label"))
    val j = adj
      .join(lab.select(col("id").as("u"), col("label").as("lu")), "u")
      .join(lab.select(col("id").as("v"), col("label").as("lv")), "v")
    val perC = j.groupBy(col("lu"))
      .agg(count(lit(1)).cast(dec).as("deg_c"),
        sum(when(col("lu") === col("lv"), 1L).otherwise(0L)).cast(dec)
          .as("in2_c"))
      .localCheckpoint(false) // community axis: tiny
    val tot = perC.agg(sum(col("deg_c")).as("aa"))
    perC.crossJoin(broadcast(tot))
      .agg(count(lit(1)).as("n_comms"),
        max(col("aa")).as("aa"),
        sum(col("aa") * col("in2_c") - col("deg_c") * col("deg_c")).as("num"))
      .selectExpr("CAST(n_comms AS BIGINT) AS n_comms",
        "CAST(aa div 2 AS BIGINT) AS m_edges",
        """CAST(CASE WHEN num < 0
          |       THEN -((-num) * 1000000 div (aa * aa))
          |       ELSE num * 1000000 div (aa * aa) END AS BIGINT)
          |AS q_e6""".stripMargin)
  }

  /** Rich-club coefficient sweep: for each degree threshold k, the
    * subgraph induced on nodes of degree > k has density
    * φ(k) = 2·E_k / (N_k·(N_k−1)) — do high-degree nodes preferentially
    * link to each other ([[assortativity]]'s mixing coefficient
    * summarizes one number; the rich-club CURVE localizes where the
    * elite tightens). Output per threshold: (k, n_nodes, n_edges,
    * phi_e6) — 0 when fewer than 2 qualifying nodes.
    *
    * Scale: one degree aggregate, two node-keyed degree joins onto the
    * canonical edge list (AQE broadcasts them when small), and a
    * |ks|-row rollup — the candidate-k frame is a broadcast literal. */
  def richClub(edges: DataFrame, ks: Seq[Int]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = canonical(edges).localCheckpoint(false)
    val deg = degrees(e).localCheckpoint(false)
    val kdf = ks.map(_.toLong).toDF("k")
    val nk = deg.crossJoin(broadcast(kdf)).filter(col("degree") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_nodes"))
    val ek = e
      .join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
      .crossJoin(broadcast(kdf))
      .filter(col("da") > col("k") && col("db") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    nk.join(ek, Seq("k"), "left")
      .withColumn("n_edges", coalesce(col("n_edges"), lit(0L)))
      .selectExpr("k", "n_nodes", "n_edges",
        """CASE WHEN n_nodes < 2 THEN 0
          |     ELSE 2 * n_edges * 1000000 div (n_nodes * (n_nodes - 1))
          |END AS phi_e6""".stripMargin)
  }

  /** Global transitivity 3·triangles/wedges — the whole-graph companion
    * of [[localClustering]] (the mean of local coefficients over-weights
    * low-degree nodes; transitivity weights every wedge equally).
    * Output one row: (n_triangles, n_wedges, transitivity_e6).
    *
    * Scale: the [[triangleCount]] wedge joins plus one degree
    * aggregate — wedges come from degrees in closed form, not from
    * materializing the wedge set twice. */
  def transitivity(edges: DataFrame): DataFrame = {
    val e = canonical(edges).localCheckpoint(false)
    val wed = degrees(e).agg(sum(expr("degree * (degree - 1)")).as("w2"))
    triangleCount(e).crossJoin(broadcast(wed))
      .selectExpr("n_triangles", "w2 div 2 AS n_wedges",
        """CASE WHEN w2 = 0 THEN 0
          |     ELSE 6 * n_triangles * 1000000 div w2
          |END AS transitivity_e6""".stripMargin)
  }

  /** SALSA authority scores over a bipartite (`hub`, `auth`) edge list
    * in CLOSED FORM (Lempel–Moran): the stationary authority weight is
    * π_j = (|A_c|/|A|) · d_in(j)/Σ_{k∈c} d_in(k), with c the connected
    * component of j — no power iteration at all, which is what makes
    * SALSA the scalable cousin of [[hits]] (same hub/authority idea,
    * but the random-walk stationary distribution has a degree formula).
    * Components come from [[StarComponents]] over the bipartite graph
    * with hubs and authorities disjointly encoded (2h / 2a+1). Scores
    * are e9 truncating divisions (they sum to ~10⁹ across all
    * authorities). Output per authority: (auth, din, comp_sz,
    * score_e9).
    *
    * Scale: one distinct-edge aggregate, the O(log n) star-contraction
    * rounds, then degree/component rollups on the authority axis —
    * never a co-citation pair join (which squares on hub degree). */
  def salsa(edges: DataFrame): DataFrame = {
    val ed = edges.select(col("hub"), col("auth")).distinct()
      .localCheckpoint(false)
    val enc = ed.select((col("hub") * 2).as("a"), (col("auth") * 2 + 1).as("b"))
    val nodes = enc.select(col("a").as("id"))
      .unionByName(enc.select(col("b").as("id"))).distinct()
    val cc = StarComponents.connectedComponents(nodes, enc)
    val authComp = cc.filter(col("id") % 2 === 1)
      .select(expr("(id - 1) div 2").as("auth"), col("cluster_id"))
    val din = ed.groupBy(col("auth")).agg(count(lit(1)).as("din"))
    val j = din.join(authComp, "auth")
    val comp = j.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("comp_sz"), sum(col("din")).as("s_c"))
    val tot = comp.agg(sum(col("comp_sz")).as("a_tot"))
    j.join(broadcast(comp), "cluster_id").crossJoin(broadcast(tot))
      .selectExpr("auth", "din", "comp_sz",
        "(comp_sz * din * 1000000000) div (a_tot * s_c) AS score_e9")
  }

  /** Bowtie decomposition of a directed graph around a SEED known to
    * sit in the core: forward BFS from the seed covers core ∪ OUT,
    * backward BFS (edges reversed) covers core ∪ IN, and the two
    * reachability bits classify every node — core (both), in (backward
    * only), out (forward only), other (neither) — the classic
    * web-graph / dependency-graph structure report WITHOUT computing
    * all SCCs (two bounded BFS sweeps instead of an SCC fixpoint; the
    * seed stands for the giant SCC, the standard double-sweep trick).
    * Output: (cls, n_nodes).
    *
    * Scale: ONE fused [[bfsLevels]] run carries both sweeps — the
    * forward graph lives on even ids (2·id), the reversed graph on odd
    * ids (2·id+1), their edge lists union, and the seed appears on both
    * parities — so every BFS round's frontier⋈edges join advances both
    * directions in one Spark job and the round count is
    * max(fwd, bwd) instead of fwd + bwd (halves the per-round driver
    * synchronization that dominates an iterative query's wall clock).
    * Plus two membership joins and one 4-row rollup. Requires
    * non-negative node ids < 2⁶² (the parity encoding) — ENFORCED: node
    * ids are cast to long like the edge endpoints, and a row-level
    * `assert_true` fails the job on a negative id instead of silently
    * corrupting the parity classification. */
  def bowtie(nodes: DataFrame, edges: DataFrame, seedCol: String,
             maxDepth: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val doubled = e.select((col("src") * 2).as("src"), (col("dst") * 2).as("dst"))
      .unionByName(
        e.select((col("dst") * 2 + 1).as("src"), (col("src") * 2 + 1).as("dst")))
    val n = nodes.select(col("id").cast("long").as("id"), col(seedCol).as("s"))
      .filter(assert_true(col("id") >= 0,
        lit("bowtie requires non-negative node ids (parity encoding)")).isNull)
    val dn = n.select((col("id") * 2).as("id"), col("s"))
      .unionByName(n.select((col("id") * 2 + 1).as("id"), col("s")))
    val reach = bfsLevels(dn, doubled, "s", maxDepth).localCheckpoint(false)
    val fwd = reach.filter(col("id") % 2 === 0)
      .select(expr("id div 2").as("id"), lit(1L).as("f"))
    val bwd = reach.filter(col("id") % 2 === 1)
      .select(expr("(id - 1) div 2").as("id"), lit(1L).as("b"))
    nodes.select(col("id"))
      .join(fwd, Seq("id"), "left").join(bwd, Seq("id"), "left")
      .withColumn("cls",
        when(col("f").isNotNull && col("b").isNotNull, "core")
          .when(col("b").isNotNull, "in")
          .when(col("f").isNotNull, "out")
          .otherwise("other"))
      .groupBy(col("cls")).agg(count(lit(1)).as("n_nodes"))
  }

  /** Holland–Leinhardt dyad census of a directed graph: every unordered
    * node pair is MUTUAL (edges both ways), ASYMMETRIC (one way), or
    * NULL — the triad-census' tractable little sibling and the standard
    * reciprocity readout (2M/(2M+A), the probability the reverse edge
    * exists given an edge). Self-loops dropped, edges deduped. Output
    * one row: (n_nodes, n_edges, mutual, asym, null_dyads,
    * reciprocity_e6).
    *
    * Scale: one distinct over the edge list, then ONE exchange on the
    * canonical (lo, hi) pair key — never a node-pair cross join; the
    * null count is closed-form n(n−1)/2 − M − A. */
  def dyadCensus(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst")).distinct()
      .localCheckpoint(false) // reused by pairs/nodes/count: ONE raw scan
    val pairs = e.select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"))
      .groupBy(col("lo"), col("hi")).agg(count(lit(1)).as("dirs"))
      .agg(sum(when(col("dirs") === 2L, 1L).otherwise(0L)).as("mutual"),
        sum(when(col("dirs") === 1L, 1L).otherwise(0L)).as("asym"))
    val nn = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    pairs.crossJoin(nn).crossJoin(ne)
      .selectExpr("n_nodes", "n_edges",
        "coalesce(mutual, CAST(0 AS BIGINT)) AS mutual",
        "coalesce(asym, CAST(0 AS BIGINT)) AS asym")
      .selectExpr("n_nodes", "n_edges", "mutual", "asym",
        "n_nodes * (n_nodes - 1) div 2 - mutual - asym AS null_dyads",
        """CASE WHEN 2 * mutual + asym = 0 THEN NULL
          |     ELSE CAST(2 * mutual * 1000000 div (2 * mutual + asym)
          |       AS BIGINT)
          |END AS reciprocity_e6""".stripMargin)
  }
}
