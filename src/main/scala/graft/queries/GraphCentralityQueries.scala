package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.Graph
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph centrality and influence: PageRank variants, HITS/SALSA, Katz,
  * closeness, harmonic, betweenness, and seed selection. */
object GraphCentralityQueries extends QueryCatalog {

  import Fixtures._

  /** Unrolled-iteration DuckDB twin of [[Graph.pageRank]] on the test
    * graph: nodes = partkey mod 100; every node points at +1 (mod 100) and
    * even nodes also at 7·id+3 (mod 100) — connected, aperiodic, and
    * out-degree-skewed so ranks are nonuniform. CASTs keep DuckDB's
    * HUGEINT sum promotion off the output schema. */
  private def pageRankSql(iters: Int): String = {
    val head =
      s"""WITH nodes AS (${RingGraph.nodesSql}),
        |e AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
        |      UNION ALL
        |      SELECT id AS src, (id * 7 + 3) % 100 AS dst FROM nodes WHERE id % 2 = 0),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""p$k AS (SELECT n.id, CAST(150000 + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS pr
         |       FROM nodes n LEFT JOIN (SELECT ed.dst, sum(p.pr // ed.outdeg) AS s
         |                               FROM ed JOIN p${k - 1} p ON p.id = ed.src
         |                               GROUP BY ed.dst) m ON m.dst = n.id)""".stripMargin
    }
    (head +: its).mkString(",\n") + s"\nSELECT id, pr AS pr_e6 FROM p$iters"
  }

  /** Weighted twin of [[pageRankSql]]: the +1 ring edge carries weight 3,
    * the even-node chord weight 1, so mass splits 3:1 instead of 1:1. */
  private def pageRankWeightedSql(iters: Int): String = {
    val head =
      s"""WITH nodes AS (${RingGraph.nodesSql}),
        |e AS (SELECT id AS src, (id + 1) % 100 AS dst, 3 AS w FROM nodes
        |      UNION ALL
        |      SELECT id AS src, (id * 7 + 3) % 100 AS dst, 1 AS w FROM nodes WHERE id % 2 = 0),
        |sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, e.w, sw.sw FROM e JOIN sw USING (src)),
        |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""p$k AS (SELECT n.id, CAST(150000 + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS pr
         |       FROM nodes n LEFT JOIN (SELECT ed.dst, sum((p.pr * ed.w) // ed.sw) AS s
         |                               FROM ed JOIN p${k - 1} p ON p.id = ed.src
         |                               GROUP BY ed.dst) m ON m.dst = n.id)""".stripMargin
    }
    (head +: its).mkString(",\n") + s"\nSELECT id, pr AS pr_e6 FROM p$iters"
  }

  /** Unrolled DuckDB twin of [[Graph.pageRankPersonalized]]: the
    * circulant graph of q_pagerank (ring + even-node chords), restart mass concentrated
    * on ids divisible by 10. */
  private def pprSql(iters: Int): String = {
    val head =
      s"""WITH nodes AS (${RingGraph.nodesSql}),
        |e AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
        |      UNION ALL
        |      SELECT id AS src, (id * 7 + 3) % 100 AS dst FROM nodes WHERE id % 2 = 0),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |p0 AS (SELECT id, CAST(CASE WHEN id % 10 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS pr
        |       FROM nodes)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""p$k AS (SELECT n.id, CAST(CASE WHEN n.id % 10 = 0 THEN 150000 ELSE 0 END
         |                         + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS pr
         |       FROM nodes n LEFT JOIN (SELECT ed.dst, sum(p.pr // ed.outdeg) AS s
         |                               FROM ed JOIN p${k - 1} p ON p.id = ed.src
         |                               GROUP BY ed.dst) m ON m.dst = n.id)""".stripMargin
    }
    (head +: its).mkString(",\n") + s"\nSELECT id, pr AS pr_e6 FROM p$iters"
  }

  /** Pure-Scala fixed-point simulation of the convergence-detected run on
    * the (SF-independent) 100-node asymmetric graph — computes how many
    * rounds the L1-delta loop executes, so the oracle can unroll exactly
    * that many CTEs. Mirrors [[Graph.pageRankConverged]] bit for bit:
    * truncating division on non-negative longs. */
  private def simulatedRounds(epsE6: Long, maxIters: Int): Int = {
    val nodes = 0 until 100
    val edges = (nodes.map(i => (i, (i + 1) % 100)) ++
      nodes.filter(_ % 3 == 0).map(i => (i, (i * i + 7) % 100))).distinct
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var pr = Array.fill(100)(1000000L)
    var k = 0
    var done = false
    while (k < maxIters && !done) {
      val mass = Array.fill(100)(0L)
      edges.foreach { case (s, d) => mass(d) += pr(s) / outdeg(s) }
      val next = Array.tabulate(100)(i => 150000L + (85L * mass(i)) / 100L)
      k += 1
      done = nodes.map(i => math.abs(next(i) - pr(i))).sum <= epsE6
      pr = next
    }
    k
  }

  /** Unrolled DuckDB twin of [[Graph.pageRankConverged]] on the asymmetric
    * graph (ring + every-third-node quadratic chords — NOT measure-
    * preserving, so the uniform start actually has to converge). */
  private def prConvergedSql(iters: Int): String = {
    val head =
      s"""WITH nodes AS (${RingGraph.nodesSql}),
        |e AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
        |      UNION
        |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""p$k AS (SELECT n.id, CAST(150000 + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS pr
         |       FROM nodes n LEFT JOIN (SELECT ed.dst, sum(p.pr // ed.outdeg) AS s
         |                               FROM ed JOIN p${k - 1} p ON p.id = ed.src
         |                               GROUP BY ed.dst) m ON m.dst = n.id)""".stripMargin
    }
    (head +: its).mkString(",\n") +
      s"\nSELECT id, pr AS pr_e6, CAST($iters AS BIGINT) AS n_rounds FROM p$iters"
  }

  /** Unrolled (id, seed)-grain DuckDB twin of [[Graph.pageRankMultiSeed]]
    * on the asymmetric graph with seeds {0, 30, 60}. */
  private def multiSeedSql(iters: Int): String = {
    val head =
      s"""WITH nodes AS (${RingGraph.nodesSql}),
        |e AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
        |      UNION
        |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0),
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |seeds AS (SELECT 0 AS seed UNION ALL SELECT 30 UNION ALL SELECT 60),
        |b AS (SELECT n.id, s.seed FROM nodes n CROSS JOIN seeds s),
        |p0 AS (SELECT id, seed,
        |              CAST(CASE WHEN id = seed THEN 1000000 ELSE 0 END AS BIGINT) AS pr
        |       FROM b)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""p$k AS (SELECT b.id, b.seed,
         |         CAST(CASE WHEN b.id = b.seed THEN 150000 ELSE 0 END
         |              + (85 * COALESCE(m.s2, 0)) // 100 AS BIGINT) AS pr
         |       FROM b LEFT JOIN (SELECT ed.dst, p.seed, sum(p.pr // ed.outdeg) AS s2
         |                         FROM ed JOIN p${k - 1} p ON p.id = ed.src
         |                         GROUP BY ed.dst, p.seed) m
         |         ON m.dst = b.id AND m.seed = b.seed)""".stripMargin
    }
    (head +: its).mkString(",\n") + s"\nSELECT id, seed, pr AS pr_e6 FROM p$iters"
  }

  /** Unrolled DuckDB twin of [[Graph.pageRankWeightedTeleport]] with
    * portfolio weights 50/30/20 on seeds {0, 30, 60}. */
  private def wtPprSql(iters: Int): String = {
    val head = ringEdgesSql +
      """,
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |v AS (SELECT id, CAST(CASE id WHEN 0 THEN 500000 WHEN 30 THEN 300000
        |                              WHEN 60 THEN 200000 ELSE 0 END AS BIGINT) AS w
        |      FROM nodes),
        |p0 AS (SELECT id, w AS pr FROM v)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""p$k AS (SELECT v.id, CAST((15 * v.w) // 100
         |                         + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS pr
         |       FROM v LEFT JOIN (SELECT ed.dst, sum(p.pr // ed.outdeg) AS s
         |                         FROM ed JOIN p${k - 1} p ON p.id = ed.src
         |                         GROUP BY ed.dst) m ON m.dst = v.id)""".stripMargin
    }
    (head +: its).mkString(",\n") + s"\nSELECT id, pr AS pr_e6 FROM p$iters"
  }

  /** Unrolled 2-iteration HITS oracle: each half-round is a sum along
    * edges + an ∞-norm rescale to e6 (scalar-subquery max). */
  private def hitsSql(iters: Int): String = {
    require(iters >= 1)
    val rounds = (1 to iters).flatMap { i =>
      val hPrev = if (i == 1) "h0" else s"h${i - 1}"
      Seq(
        s"""a${i}r AS (SELECT dst AS id, CAST(sum(h) AS BIGINT) AS ar
           |        FROM e JOIN $hPrev ON $hPrev.id = e.src GROUP BY dst)""".stripMargin,
        s"""a$i AS MATERIALIZED (SELECT id, ar * 1000000 // (SELECT max(ar) FROM a${i}r) AS a
           |        FROM a${i}r)""".stripMargin,
        s"""h${i}r AS (SELECT src AS id, CAST(sum(a) AS BIGINT) AS hr
           |        FROM e JOIN a$i ON a$i.id = e.dst GROUP BY src)""".stripMargin,
        s"""h$i AS MATERIALIZED (SELECT id, hr * 1000000 // (SELECT max(hr) FROM h${i}r) AS h
           |        FROM h${i}r)""".stripMargin)
    }
    (ringEdgesMatSql +: ",\nh0 AS (SELECT id, 1000000 AS h FROM nodes)" +:
      rounds.map("," + _)).mkString("\n") +
      s"""
         |SELECT n.id, CAST(coalesce(h$iters.h, 0) AS BIGINT) AS hub_e6,
         |       CAST(coalesce(a$iters.a, 0) AS BIGINT) AS auth_e6
         |FROM nodes n LEFT JOIN h$iters ON h$iters.id = n.id
         |             LEFT JOIN a$iters ON a$iters.id = n.id""".stripMargin
  }

  /** Layered-σ betweenness oracle body through the `contrib` CTE
    * (expects `nodes` and `und` CTEs in scope): recursive BFS distances
    * seeded where `seedPred` holds, `layers` unrolled σ CTEs, the
    * tight-triangle triple join. Callers append their final SELECT
    * (exact: coalesce join-back; sampled: the pair-count rescale). */
  private def betweennessBodySql(layers: Int,
                                          seedPred: String = "TRUE"): String = {
    val sigs = (1 to layers).map { k =>
      s"""sig$k AS MATERIALIZED (
         |  SELECT f.s, adj.v, CAST(sum(f.sig) AS BIGINT) AS sig, $k AS d
         |  FROM sig${k - 1} f JOIN adj ON adj.u = f.v
         |  JOIN md ON md.s = f.s AND md.v = adj.v AND md.dist = $k
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""adj AS (SELECT a AS u, b AS v FROM und UNION SELECT b, a FROM und),
       |bfs AS (
       |  SELECT id AS s, id AS v, 0 AS dd FROM nodes WHERE $seedPred
       |  UNION
       |  SELECT bfs.s, adj.v, bfs.dd + 1 AS dd
       |  FROM bfs JOIN adj ON adj.u = bfs.v WHERE bfs.dd < $layers),
       |md AS MATERIALIZED (SELECT s, v, min(dd) AS dist FROM bfs GROUP BY 1, 2),
       |sig0 AS (SELECT s, v, CAST(1 AS BIGINT) AS sig, 0 AS d FROM md WHERE dist = 0),
       |$sigs,
       |sigd AS MATERIALIZED (${(0 to layers).map(k => s"SELECT * FROM sig$k").mkString(" UNION ALL ")}),
       |contrib AS (
       |  SELECT a.v AS v, CAST(sum(a.sig * b.sig * 1000000 // c.sig) AS BIGINT) AS bc_e6
       |  FROM sigd a
       |  JOIN sigd b ON b.v = a.v AND b.s <> a.s AND a.v <> a.s AND a.v <> b.s
       |  JOIN sigd c ON c.s = a.s AND c.v = b.s AND c.d = a.d + b.d
       |  GROUP BY 1)""".stripMargin
  }

  private def betweennessSql(layers: Int): String =
    betweennessBodySql(layers) +
      s"""
         |SELECT CAST(n.id AS BIGINT) AS v,
         |       CAST(coalesce(bc.bc_e6, 0) AS BIGINT) AS bc_e6
         |FROM nodes n LEFT JOIN contrib bc ON bc.v = n.id""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── 4 rounds of integer PageRank on a 100-node directed circulant-ish
    //    graph with skewed out-degrees. The oracle unrolls the iterations
    //    as chained CTEs — same joins, same truncating division.
    QueryDef("q_pagerank",
      (s, d) => {
        val nodes = RingGraph.nodes(s, d)
        val edges = nodes
          .select(col("id").as("src"), ((col("id") + 1) % 100).as("dst"))
          .unionByName(nodes.filter(col("id") % 2 === 0)
            .select(col("id").as("src"), ((col("id") * 7 + 3) % 100).as("dst")))
        Graph.pageRank(nodes, edges, 4)
      },
      Some(pageRankSql(4))),

    // ── Weight-proportional PageRank on the same 100-node graph: ring
    //    edges carry weight 3, chords weight 1 — mass splits 3:1.
    QueryDef("q_pagerank_weighted",
      (s, d) => {
        val nodes = RingGraph.nodes(s, d)
        val edges = nodes
          .select(col("id").as("src"), ((col("id") + 1) % 100).as("dst"),
            lit(3L).as("w"))
          .unionByName(nodes.filter(col("id") % 2 === 0)
            .select(col("id").as("src"), ((col("id") * 7 + 3) % 100).as("dst"),
              lit(1L).as("w")))
        Graph.pageRankWeighted(nodes, edges, 4)
      },
      Some(pageRankWeightedSql(4))),

    // ── Personalized PageRank: restart vector concentrated on ids % 10 = 0
    //    — relevance-to-seeds ranking; sinks far from the seeds decay to 0.
    QueryDef("q_pagerank_personalized",
      (s, d) => {
        val nodes = RingGraph.nodes(s, d)
          .withColumn("is_src", col("id") % 10 === 0)
        val edges = nodes
          .select(col("id").as("src"), ((col("id") + 1) % 100).as("dst"))
          .unionByName(nodes.filter(col("id") % 2 === 0)
            .select(col("id").as("src"), ((col("id") * 7 + 3) % 100).as("dst")))
        Graph.pageRankPersonalized(nodes, edges, "is_src", 4)
      },
      Some(pprSql(4))),

    // ── Convergence-detected PageRank: loop until the L1 delta falls to
    //    5e6 e6-units (7 rounds on this graph — the oracle unroll count
    //    comes from a pure-Scala simulation of the same integer fixpoint).
    QueryDef("q_pagerank_converged",
      (s, d) => {
        val (nodes, edges) = RingGraph.multi(s, d)
        Graph.pageRankConverged(nodes, edges, 5000000L, 50)
      },
      Some(prConvergedSql(simulatedRounds(5000000L, 50)))),

    // ── Multi-seed PPR: relevance of every node to seeds {0, 30, 60}
    //    computed in one pass on the (id, seed) grain — 3 PPR questions,
    //    one round-shape. Oracle unrolls the same grain.
    QueryDef("q_pagerank_multiseed",
      (s, d) => {
        val (nodes, edges) = RingGraph.multi(s, d)
        val seeds = nodes.filter(col("id").isin(0, 30, 60))
          .select(col("id").as("seed"))
        Graph.pageRankMultiSeed(nodes, edges, seeds, 3)
      },
      Some(multiSeedSql(3))),

    // ── PPR with a weighted teleport vector: portfolio mass 50/30/20 over
    //    seeds {0, 30, 60} — "importance relative to this portfolio".
    QueryDef("q_pagerank_teleport",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        val seeds = s.createDataFrame(
          Seq((0L, 500000L), (30L, 300000L), (60L, 200000L))).toDF("seed", "w_e6")
        Graph.pageRankWeightedTeleport(nodes, edges, seeds, 6)
      },
      Some(wtPprSql(6))),

    // ── HITS hubs & authorities, 2 synchronous rounds, ∞-norm e6
    //    integers: chord targets accumulate authority, chord sources
    //    hub mass — all-integer, so the unrolled SQL replays it exactly.
    QueryDef("q_hits",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        Graph.hits(nodes, edges, 2)
      },
      Some(hitsSql(2))),

    // ── Bounded-hop (≤ 20) closeness centrality of the 4 seed nodes,
    //    all seeds carried by ONE labeled frontier loop.
    QueryDef("q_closeness",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        Graph.closeness(nodes.withColumn("is_seed", col("id") % 25 === 0),
          edges, "is_seed", 20)
      },
      Some((ringSeedDistSql +
        """
          |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
          |       CAST(sum(dist) AS BIGINT) AS sum_dist,
          |       CAST(CASE WHEN sum(dist) = 0 THEN NULL
          |            ELSE (count(*) - 1) * 1000000 // sum(dist)
          |            END AS BIGINT) AS closeness_e6
          |FROM md GROUP BY 1""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── Exact betweenness centrality (ordered-pair, e6) on the
    //    chain-with-chords graph: |V|-source BFS + layered σ counts +
    //    the tight-triangle pair-dependency join. Chain interiors score
    //    high, chord-bypassed nodes low, isolated endpoints zero.
    QueryDef("q_betweenness",
      (s, d) => {
        val (nodes, und) = chainGraph(s, d)
        val adj = und.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        Graph.betweenness(nodes, adj, 10)
      },
      Some("WITH RECURSIVE " + chainGraphSql + ",\n" + betweennessSql(8))),

    // ── Harmonic centrality of seeds id%10=0 on the bidirected ring
    //    graph: Σ 1e6 div d over nodes at distance d ≤ 12.
    QueryDef("q_harmonic",
      (s, d) => {
        val (nodes, edges) = RingGraph.simple(s, d)
        val adj = edges.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
        Graph.harmonic(nodes.withColumn("is_seed", col("id") % 10 === 0),
          adj, "is_seed", 12)
      },
      Some((RingGraph.sql +
        """,
          |bfs AS (
          |  SELECT id AS seed, id, 0 AS d FROM nodes WHERE id % 10 = 0
          |  UNION
          |  SELECT bfs.seed, adj.v AS id, bfs.d + 1 AS d
          |  FROM bfs JOIN adj ON adj.u = bfs.id WHERE bfs.d < 12),
          |md AS (SELECT seed, id, min(d) AS dist FROM bfs GROUP BY 1, 2)
          |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
          |       CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_e6
          |FROM md WHERE dist > 0 GROUP BY 1""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── SALSA over the sparse customer→part purchase slice
    //    (every-97th order): component-weighted in-degree shares,
    //    components via star contraction on disjointly-encoded ids.
    QueryDef("q_salsa",
      (s, d) => Graph.salsa(
        Tables.lineitem(s, d)
          .filter(col("l_orderkey") % 97 === 0)
          .join(Tables.orders(s, d)
            .filter(col("o_orderkey") % 97 === 0)
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("hub"), col("l_partkey").as("auth"))),
      Some("""WITH RECURSIVE ed AS (
             |  SELECT DISTINCT o_custkey AS hub, l_partkey AS auth
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE l_orderkey % 97 = 0),
             |enc AS (SELECT hub * 2 AS a, auth * 2 + 1 AS b FROM ed),
             |ids AS (SELECT a AS id FROM enc UNION SELECT b FROM enc),
             |e2 AS (SELECT a, b FROM enc UNION ALL SELECT b, a FROM enc),
             |reach(id, label) AS (
             |  SELECT id, id FROM ids
             |  UNION
             |  SELECT e2.b, r.label FROM reach r JOIN e2 ON e2.a = r.id),
             |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
             |ac AS (SELECT (id - 1) // 2 AS auth, cluster_id FROM cc
             |       WHERE id % 2 = 1),
             |din AS (SELECT auth, CAST(count(*) AS BIGINT) AS din
             |        FROM ed GROUP BY 1),
             |j AS (SELECT auth, din, cluster_id FROM din JOIN ac USING (auth)),
             |comp AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS comp_sz,
             |                CAST(sum(din) AS BIGINT) AS s_c
             |         FROM j GROUP BY 1),
             |tot AS (SELECT CAST(sum(comp_sz) AS BIGINT) AS a_tot FROM comp)
             |SELECT auth, din, comp_sz,
             |       CAST((comp_sz * din * 1000000000) // (a_tot * s_c)
             |            AS BIGINT) AS score_e9
             |FROM j JOIN comp USING (cluster_id) CROSS JOIN tot""".stripMargin)),

    // ── Influence seeds: greedy max-marginal-coverage on the closed
    //    neighborhoods of the event digraph, 3 unrolled steps.
    QueryDef("q_influence_seeds",
      (s, d) => {
        val und = Tables.events(s, d)
          .select(least(col("user_id") % 500, col("event_id") % 500).as("a"),
            greatest(col("user_id") % 500, col("event_id") % 500).as("b"))
          .where(col("a") =!= col("b")).distinct()
        val nodes = und.select(col("a").as("v"))
          .union(und.select(col("b").as("v"))).distinct()
        val adj = und.select(col("a").as("v"), col("b").as("n"))
          .unionByName(und.select(col("b").as("v"), col("a").as("n")))
          .unionByName(nodes.select(col("v"), col("v").as("n")))
          .localCheckpoint(false) // reused by all 3 greedy steps
        var covered = adj.sparkSession.emptyDataFrame
          .sparkSession.range(0).select(col("id").as("n"))
        var out: org.apache.spark.sql.DataFrame = null
        var coveredCount = 0L
        for (step <- 1 to 3) {
          val gain = adj.join(covered, Seq("n"), "left_anti")
            .groupBy(col("v")).agg(count(lit(1)).as("gain"))
            .withColumn("rk", row_number().over(
              Window.orderBy(col("gain").desc, col("v"))))
            .where(col("rk") === 1)
            .select(lit(step.toLong).as("step"), col("v").as("seed"),
              col("gain"))
            .localCheckpoint(false)
          val seedN = adj.join(
            gain.select(col("seed").as("v")), "v").select(col("n"))
          covered = covered.union(seedN).distinct().localCheckpoint(false)
          coveredCount = covered.count()
          val row = gain.withColumn("covered_total", lit(coveredCount))
          out = if (out == null) row else out.unionByName(row)
        }
        out
      },
      Some {
        def step(k: Int, prevCov: String) =
          s"""g$k AS (SELECT v, CAST(count(*) AS BIGINT) AS gain
             |        FROM adj WHERE n NOT IN (SELECT n FROM $prevCov)
             |        GROUP BY 1),
             |s$k AS (SELECT CAST($k AS BIGINT) AS step, v AS seed, gain
             |        FROM (SELECT *, row_number() OVER (ORDER BY gain DESC,
             |                v) AS rk FROM g$k)
             |        WHERE rk = 1),
             |cov$k AS (SELECT n FROM cov${k - 1}
             |          UNION SELECT adj.n FROM adj JOIN s$k
             |                ON adj.v = s$k.seed),
             |r$k AS (SELECT step, seed, gain,
             |               (SELECT CAST(count(*) AS BIGINT) FROM cov$k)
             |                 AS covered_total
             |        FROM s$k)""".stripMargin
        s"""WITH und AS (
           |  SELECT DISTINCT least(user_id % 500, event_id % 500) AS a,
           |         greatest(user_id % 500, event_id % 500) AS b
           |  FROM events WHERE user_id % 500 <> event_id % 500),
           |nodes AS (SELECT a AS v FROM und UNION SELECT b FROM und),
           |adj AS MATERIALIZED (
           |  SELECT a AS v, b AS n FROM und
           |  UNION ALL SELECT b, a FROM und
           |  UNION ALL SELECT v, v FROM nodes),
           |cov0(n) AS (SELECT CAST(NULL AS BIGINT) WHERE 1 = 0),
           |${step(1, "cov0")},
           |${step(2, "cov1")},
           |${step(3, "cov2")}
           |SELECT * FROM r1 UNION ALL SELECT * FROM r2
           |UNION ALL SELECT * FROM r3""".stripMargin
      }),

    // ── Katz: x ← 1e6·1 + (Aᵀx) div 10, three unrolled rounds over the
    //    event digraph; every frame after the edge dedup is node-sized.
    QueryDef("q_katz_centrality",
      (s, d) => {
        val e = Tables.events(s, d)
          .select((col("user_id") % 500).as("src"),
            (col("event_id") % 500).as("dst"))
          .where(col("src") =!= col("dst")).distinct()
          .localCheckpoint(false) // reused by all 3 rounds
        val nodes = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct()
        Graph.propagateFor(3, nodes.withColumn("x", lit(1000000L)))(
          Graph.propagate(e, nodes, Seq("id"), col("x"),
            expr("1000000L + coalesce(in_mass, 0L) div 10"), "x"))
          .select(col("id"), col("x").as("katz_e6"))
      },
      Some {
        def round(k: Int) =
          s"""x$k AS (SELECT n.id,
             |              1000000 + coalesce(i.sx, 0) // 10 AS x
             |       FROM nodes n LEFT JOIN (
             |         SELECT e.dst AS id, CAST(sum(p.x) AS BIGINT) AS sx
             |         FROM e JOIN x${k - 1} p ON p.id = e.src
             |         GROUP BY 1) i ON n.id = i.id)""".stripMargin
        s"""WITH e AS (
           |  SELECT DISTINCT user_id % 500 AS src, event_id % 500 AS dst
           |  FROM events WHERE user_id % 500 <> event_id % 500),
           |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
           |x0 AS (SELECT id, CAST(1000000 AS BIGINT) AS x FROM nodes),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT id, CAST(x AS BIGINT) AS katz_e6 FROM x3"""
          .stripMargin
      }),

    /* Sampled-pivot betweenness — the §7.4k escape hatch
     * from q_betweenness's all-sources regime, exercised on a FIXED
     * deterministic seed set so the pair-sampling estimator itself is
     * oracle-checked (same layered-σ code path, BFS seeded only at the
     * pivots, pair sum rescaled by n(n−1)/(k(k−1))). */

    // ── Sampled betweenness: pivots = ids ≡ 0 (mod 7) (15 of 100 — a
    //    fixed, replayable "sample"); both pair endpoints range over the
    //    pivots, so bc_sampled is the exact sum over sampled ordered
    //    pairs and bc_est the unbiased full-graph rescale. At 100 TB the
    //    pivot predicate is the ONLY thing that changes — BFS state is
    //    k·|V| instead of |V|², the plan is identical.
    QueryDef("q_betweenness_sampled",
      (s, d) => {
        val (nodes, und) = chainGraph(s, d)
        val adj = und.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        val seeded = nodes.withColumn("is_pivot", col("id") % 7 === 0)
        val stats = seeded.agg(count(lit(1)).as("n"),
          sum(when(col("is_pivot"), 1L).otherwise(0L)).as("k"))
        Graph.betweenness(seeded, adj, 10, Some("is_pivot"))
          .crossJoin(broadcast(stats))
          .selectExpr("v", "bc_e6 AS bc_sampled_e6",
            "bc_e6 * (n * (n - 1)) div (k * (k - 1)) AS bc_est_e6")
      },
      Some("WITH RECURSIVE " + chainGraphSql + ",\n" +
        betweennessBodySql(8, "id % 7 = 0") +
        s""",
           |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |               CAST(sum(CASE WHEN id % 7 = 0 THEN 1 ELSE 0 END)
           |                 AS BIGINT) AS k
           |        FROM nodes)
           |SELECT CAST(n.id AS BIGINT) AS v,
           |       CAST(coalesce(bc.bc_e6, 0) AS BIGINT) AS bc_sampled_e6,
           |       CAST(coalesce(bc.bc_e6, 0) * (c.n * (c.n - 1))
           |         // (c.k * (c.k - 1)) AS BIGINT) AS bc_est_e6
           |FROM nodes n CROSS JOIN cnt c
           |LEFT JOIN contrib bc ON bc.v = n.id""".stripMargin)
    ),

    /* Freeman centralization (`q_centralization`): how star-like the
     * co-event graph is — Σ(c_max − c_i) normalized by the star
     * graph's (n−1)(n−2), on degree centrality. The single-number
     * companion to q_degree_hist / q_degree_entropy. */
    // ── Freeman degree centralization of the co-event graph.
    QueryDef("q_centralization",
      (s, d) => {
        val e = Tables.events(s, d)
          .selectExpr("least(user_id % 500, event_id % 500) AS a",
            "greatest(user_id % 500, event_id % 500) AS b")
          .where(col("a") =!= col("b")).distinct()
        val deg = e.select(col("a").as("v"))
          .unionByName(e.select(col("b").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        val m = deg.agg(count(lit(1)).as("n"), max(col("deg")).as("mx"),
          sum(col("deg")).as("sd"))
        m.selectExpr("CAST(n AS BIGINT) AS n_vertices",
            "mx AS max_degree", "sd div n AS mean_degree",
            "n * mx - sd AS centralization_num",
            """CASE WHEN n <= 2 THEN NULL
              |ELSE (n * mx - sd) * 1000000
              |  div ((n - 1) * (n - 2)) END
              | AS centralization_e6""".stripMargin)
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT least(user_id % 500, event_id % 500)
             |           AS a,
             |         greatest(user_id % 500, event_id % 500) AS b
             |  FROM events WHERE user_id % 500 <> event_id % 500),
             |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
             |        FROM (SELECT a AS v FROM e
             |              UNION ALL SELECT b FROM e)
             |        GROUP BY 1),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |             max(deg) AS mx,
             |             CAST(sum(deg) AS BIGINT) AS sd
             |      FROM deg)
             |SELECT n AS n_vertices, mx AS max_degree,
             |       sd // n AS mean_degree,
             |       n * mx - sd AS centralization_num,
             |       CASE WHEN n <= 2 THEN NULL
             |       ELSE (n * mx - sd) * 1000000
             |         // ((n - 1) * (n - 2)) END AS centralization_e6
             |FROM m""".stripMargin)),

    /* Global efficiency (`q_global_efficiency`): Σ 1/d over sampled
     * source pairs of the ring graph div (seeds·(n−1)) — the
     * one-number connectivity readout on top of [[Graph.multiSourceBfs]]
     * (unreached pairs contribute 0, the standard convention). */
    // ── Global efficiency of the ring graph over sampled sources.
    QueryDef("q_global_efficiency",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        val meta = nodes.agg(count(lit(1)).as("n_nodes"),
          sum(when(col("id") % 5 === 0, 1L).otherwise(0L)).as("n_seeds"))
        Graph.multiSourceBfs(
            nodes.withColumn("is_seed", col("id") % 5 === 0),
            edges, "is_seed", 20)
          .filter(col("dist") > 0)
          .agg(count(lit(1)).as("n_reached"),
            sum(expr("1000000 div dist")).as("sum_inv"))
          .crossJoin(broadcast(meta))
          .selectExpr("n_nodes", "n_seeds", "n_reached",
            "sum_inv div (n_seeds * (n_nodes - 1)) AS eff_e6")
      },
      Some(("""WITH nodes AS (SELECT DISTINCT p_partkey % 100 AS id
             |              FROM part),
             |e AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
             |      UNION
             |      SELECT id AS src, (id * id + 7) % 100 AS dst
             |      FROM nodes WHERE id % 3 = 0),
             |bfs AS (
             |  SELECT id AS seed, id, 0 AS d FROM nodes WHERE id % 5 = 0
             |  UNION
             |  SELECT bfs.seed, e.dst AS id, bfs.d + 1 AS d
             |  FROM bfs JOIN e ON e.src = bfs.id WHERE bfs.d < 20),
             |md AS (SELECT seed, id, CAST(min(d) AS BIGINT) AS dist
             |       FROM bfs GROUP BY 1, 2),
             |meta AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             |           CAST(sum(CASE WHEN id % 5 = 0 THEN 1 ELSE 0 END)
             |             AS BIGINT) AS n_seeds
             |         FROM nodes),
             |r AS (SELECT CAST(count(*) AS BIGINT) AS n_reached,
             |        CAST(sum(1000000 // dist) AS BIGINT) AS sum_inv
             |      FROM md WHERE dist > 0)
             |SELECT n_nodes, n_seeds, n_reached,
             |       sum_inv // (n_seeds * (n_nodes - 1)) AS eff_e6
             |FROM r CROSS JOIN meta""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE ")))
  )
}
