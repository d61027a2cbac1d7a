package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Graph, StarComponents}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph structure: components, cores, trusses, triangles, coloring,
  * independent sets, bridges, DAG paths, shortest and widest paths, and
  * structural summaries. */
object GraphStructureQueries extends QueryCatalog {

  import Fixtures._

  /** The broken-ring graph: ring edges except from multiples of 7
    * (chains with loose ends) + the quadratic chords, as raw (a, b)
    * pairs (duplicates and self-loops kept). */
  private def brokenRing(s: org.apache.spark.sql.SparkSession, d: String) = {
    val nodes = RingGraph.nodes(s, d)
    nodes.filter(col("id") % 7 =!= 0)
      .select(col("id").as("a"), ((col("id") + 1) % 100).as("b"))
      .unionByName(nodes.filter(col("id") % 3 === 0)
        .select(col("id").as("a"), ((col("id") * col("id") + 7) % 100).as("b")))
  }

  /** DuckDB twin of [[brokenRing]], canonicalized: CTEs `nodes`, `raw`,
    * `e0` (a < b pairs). */
  private val brokenRingSql =
    s"""WITH nodes AS (${RingGraph.nodesSql}),
      |raw AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes WHERE id % 7 <> 0
      |        UNION
      |        SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0),
      |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |       FROM raw WHERE src <> dst)""".stripMargin

  /** Unrolled k-core peeling oracle on the broken-ring graph: ring edges
    * except multiples of 7 (chains with loose ends) + the quadratic
    * chords; `rounds` must be ≥ the peeling convergence depth. */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val head = brokenRingSql
    // MATERIALIZED: each CTE is referenced 3-4 times; default inlining
    // would expand the chain exponentially (DuckDB runs out of file
    // handles re-opening the base parquet ~4^rounds times)
    val its = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT id FROM (SELECT id, count(*) AS c FROM (
         |          SELECT a AS id FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) u
         |        GROUP BY id) d WHERE c >= $k),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |        JOIN k$i x ON x.id = e.a JOIN k$i y ON y.id = e.b)""".stripMargin
    }
    (head +: its).mkString(",\n") +
      s"""\nSELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds) u
         |GROUP BY id""".stripMargin
  }

  /** Unrolled k-truss peeling oracle on the broken-ring graph (same
    * graph as q_kcore); MATERIALIZED against exponential CTE inlining.
    * Support of edge (a,b) = common in-truss neighbors of a and b. */
  private def kTrussSql(k: Int, rounds: Int): String = {
    val head = brokenRingSql
    def supSql(i: Int): String =
      s"""(SELECT e.a, e.b, count(*) AS support
         | FROM e$i e
         | JOIN (SELECT a AS u, b AS v FROM e$i UNION ALL SELECT b, a FROM e$i) na
         |   ON e.a = na.u
         | JOIN (SELECT a AS u, b AS v FROM e$i UNION ALL SELECT b, a FROM e$i) nb
         |   ON e.b = nb.u AND na.v = nb.v
         | GROUP BY e.a, e.b)""".stripMargin
    val its = (1 to rounds).map { i =>
      s"""e$i AS MATERIALIZED (SELECT a, b FROM ${supSql(i - 1)} s
         |       WHERE support >= ${k - 2})""".stripMargin
    }
    (head +: its).mkString(",\n") +
      s"\nSELECT a, b, CAST(support AS BIGINT) AS support FROM ${supSql(rounds)} s"
  }

  /** [[Fixtures.chainGraphSql]] MATERIALIZED, with CTE `e` and the edge
    * weights `we`: the dedicated test graph WITH bridges (the ring graph
    * is 2-edge-connected, so it has none). Odd chains keep five
    * uncovered chain edges each (25 bridges total); even chains are
    * fully cycle-covered. */
  private val bridgeGraphSql =
    s"""nodes AS MATERIALIZED (${RingGraph.nodesSql}),
      |e AS MATERIALIZED (
      |  SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 10 <> 9
      |  UNION SELECT id, id + 4 FROM nodes WHERE id % 10 = 0
      |  UNION SELECT id, id + 5 FROM nodes WHERE id % 10 = 4 AND (id // 10) % 2 = 0),
      |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |     FROM e WHERE src <> dst),
      |we AS MATERIALIZED (SELECT a, b, a * 1000 + b AS w FROM und)""".stripMargin

  private def bridgeGraph(s: org.apache.spark.sql.SparkSession, d: String) = {
    val (nodes, und) = chainGraph(s, d)
    (nodes, und.withColumn("w", col("a") * 1000 + col("b")))
  }

  /** [[Fixtures.chainGraphSql]] with the edge CTE named `e`. Unlike the
    * ring graph — whose every cycle is EVEN (ring steps and chords both
    * flip id parity) — the (c, c+4) chord closes a 5-cycle, so this
    * graph certifies the NON-bipartite branch. */
  private val chainUndSql =
    s"""nodes AS (${RingGraph.nodesSql}),
      |e AS (
      |  SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 10 <> 9
      |  UNION SELECT id, id + 4 FROM nodes WHERE id % 10 = 0
      |  UNION SELECT id, id + 5 FROM nodes WHERE id % 10 = 4 AND (id // 10) % 2 = 0),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e WHERE src <> dst)""".stripMargin

  /** [[Fixtures.chainEdges]] deduplicated: a DAG (edges run low → high). */
  private def chainDag(s: org.apache.spark.sql.SparkSession, d: String) = {
    val (nodes, edges) = chainEdges(s, d)
    (nodes, edges.distinct())
  }

  /** Unrolled Jones–Plassmann oracle on the shared ring graph: STATIC
    * hash48 priorities, per-round winner = local max among uncolored
    * neighbors, color = mex of colored neighbors via a Σ DISTINCT 2^c
    * bitmask. */
  private def jpSql(rounds: Int): String = {
    val pr = PortableSql.hash48("CAST(id AS VARCHAR)", "'jp'")
    val mex = "(CASE " + (0 to 15).map(b =>
      s"WHEN m // ${1L << b} % 2 = 0 THEN $b").mkString(" ") +
      " ELSE 16 END)"
    val rs = (1 to rounds).map { r =>
      val mask =
        if (r == 1) s"SELECT id, CAST(0 AS BIGINT) AS m FROM win$r"
        else
          s"""SELECT w.id, coalesce(sum(DISTINCT (1 << c.color)), 0) AS m
             |       FROM win$r w
             |       LEFT JOIN adj a ON a.u = w.id
             |       LEFT JOIN col${r - 1} c ON c.id = a.v
             |       GROUP BY w.id""".stripMargin
      val colPrev = if (r == 1) "" else s"SELECT * FROM col${r - 1} UNION ALL "
      s"""win$r AS MATERIALIZED (
         |  SELECT u0.id, u0.p FROM und${r - 1} u0
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM adj a JOIN und${r - 1} un ON un.id = a.v
         |    WHERE a.u = u0.id
         |      AND (un.p > u0.p OR (un.p = u0.p AND un.id > u0.id)))),
         |mask$r AS MATERIALIZED ($mask),
         |col$r AS MATERIALIZED (
         |  ${colPrev}SELECT id, $mex AS color,
         |         CAST($r AS BIGINT) AS round_colored
         |  FROM mask$r),
         |und$r AS MATERIALIZED (
         |  SELECT * FROM und${r - 1}
         |  WHERE id NOT IN (SELECT id FROM win$r))""".stripMargin
    }.mkString(",\n")
    s"""${RingGraph.sql},
       |und0 AS MATERIALIZED (SELECT id, $pr AS p FROM nodes),
       |$rs
       |SELECT CAST(id AS BIGINT) AS id, CAST(color AS BIGINT) AS color,
       |       round_colored
       |FROM col$rounds
       |UNION ALL
       |SELECT CAST(id AS BIGINT), CAST(-1 AS BIGINT),
       |       CAST(-1 AS BIGINT)
       |FROM und$rounds""".stripMargin
  }

  /** Directed bowtie test graph over part keys 0..99: core = 30-cycle
    * on 30..59 (+5-strided core→out spokes), IN = chain 0..29 feeding
    * the core, OUT = chain 60..89 fed by it, OTHER = isolated chain
    * 90..99. */
  private def bowtieEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    val nodes = RingGraph.nodes(s, d)
    val e = nodes.filter(col("id").between(30, 59))
      .select(col("id").as("src"), (lit(30) + (col("id") - 29) % 30).as("dst"))
      .unionByName(nodes.filter(col("id").between(0, 29))
        .select(col("id").as("src"), (col("id") + 30).as("dst")))
      .unionByName(nodes.filter(col("id").between(0, 28))
        .select(col("id").as("src"), (col("id") + 1).as("dst")))
      .unionByName(nodes.filter(col("id").between(30, 59) && col("id") % 5 === 0)
        .select(col("id").as("src"), (col("id") + 30).as("dst")))
      .unionByName(nodes.filter(col("id").between(60, 88))
        .select(col("id").as("src"), (col("id") + 1).as("dst")))
      .unionByName(nodes.filter(col("id").between(90, 98))
        .select(col("id").as("src"), (col("id") + 1).as("dst")))
      .distinct()
    (nodes, e)
  }

  private val bowtieGraphSql =
    s"""nodes AS (${RingGraph.nodesSql}),
      |e AS (SELECT id AS src, 30 + (id - 29) % 30 AS dst FROM nodes
      |      WHERE id BETWEEN 30 AND 59
      |      UNION SELECT id, id + 30 FROM nodes WHERE id BETWEEN 0 AND 29
      |      UNION SELECT id, id + 1 FROM nodes WHERE id BETWEEN 0 AND 28
      |      UNION SELECT id, id + 30 FROM nodes
      |            WHERE id BETWEEN 30 AND 59 AND id % 5 = 0
      |      UNION SELECT id, id + 1 FROM nodes WHERE id BETWEEN 60 AND 88
      |      UNION SELECT id, id + 1 FROM nodes WHERE id BETWEEN 90 AND 98)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Large-star/small-star connected components on a LONG-CHAIN graph
    //    (doc_id → doc_id+1, broken every 50 ids): component diameter ≈ 49
    //    exceeds min-label propagation's practical round budget, while the
    //    star algorithm closes it in O(log n) rounds ([[StarComponents]]).
    //    Observed as per-cluster size + id range.
    QueryDef("q_cc_star",
      (s, d) => {
        val ids = Tables.documents(s, d).select(col("doc_id").as("id"))
        val edges = ids.as("x").join(ids.as("y"), col("y.id") === col("x.id") + 1)
          .filter(col("x.id") % 50 =!= 49)
          .select(col("x.id").as("a"), col("y.id").as("b"))
        StarComponents.connectedComponents(ids, edges)
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"),
            max(col("id")).as("max_id"))
      },
      Some("""WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
             |e AS (SELECT x.id AS a, x.id + 1 AS b FROM ids x JOIN ids y ON y.id = x.id + 1
             |      WHERE x.id % 50 <> 49),
             |e2 AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
             |reach(id, label) AS (
             |  SELECT id, id FROM ids
             |  UNION
             |  SELECT e2.b, r.label FROM reach r JOIN e2 ON e2.a = r.id),
             |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
             |SELECT cluster_id, count(*) AS n_nodes, min(id) AS min_id, max(id) AS max_id
             |FROM cc GROUP BY 1""".stripMargin)),

    // ── Exact triangle count ([[Graph.triangleCount]]) on a deterministic
    //    circulant graph over customer ids mod 100 (edges to +1 and +2 mod
    //    100 — every consecutive triple closes a triangle).
    QueryDef("q_triangle_count",
      (s, d) => {
        val nodes = Tables.customer(s, d)
          .select((col("c_custkey") % 100).as("id")).distinct()
        val edges = nodes.select(col("id").as("a"), ((col("id") + 1) % 100).as("b"))
          .unionByName(nodes.select(col("id").as("a"), ((col("id") + 2) % 100).as("b")))
        val nn = nodes.agg(count(lit(1)).as("n_nodes"))
        val ne = Graph.canonical(edges).agg(count(lit(1)).as("n_edges"))
        nn.crossJoin(ne).crossJoin(Graph.triangleCount(edges))
      },
      Some("""WITH nodes AS (SELECT DISTINCT c_custkey % 100 AS id FROM customer),
             |raw AS (SELECT id AS a, (id + 1) % 100 AS b FROM nodes
             |        UNION ALL SELECT id AS a, (id + 2) % 100 AS b FROM nodes),
             |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b),
             |tri AS (SELECT count(*) AS n_triangles
             |        FROM e e1 JOIN e e2 ON e2.a = e1.b
             |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
             |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
             |       (SELECT count(*) FROM e) AS n_edges,
             |       tri.n_triangles
             |FROM tri""".stripMargin)),

    // ── 2-core of the broken-ring graph: chain tails peel away in
    //    cascading rounds; only cycle-supported structure survives.
    QueryDef("q_kcore",
      (s, d) => {
        val edges = brokenRing(s, d)
        Graph.kCore(edges, 2, 16)
      },
      Some(kCoreSql(2, 16))),

    // ── BFS minimum-hop distance from the seed set {ids % 25 = 0} to
    //    depth 6; the oracle is a recursive CTE taking min over paths.
    QueryDef("q_bfs_levels",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        Graph.bfsLevels(nodes.withColumn("is_src", col("id") % 25 === 0),
          edges, "is_src", 6)
      },
      Some((ringEdgesSql +
        """,
          |bfs AS (
          |  SELECT id, CAST(0 AS BIGINT) AS d FROM nodes WHERE id % 25 = 0
          |  UNION
          |  SELECT e.dst AS id, bfs.d + 1 AS d
          |  FROM bfs JOIN e ON e.src = bfs.id WHERE bfs.d < 6)
          |SELECT id, min(d) AS dist FROM bfs GROUP BY id""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── Bounded-hop weighted shortest paths from the seed set
    //    {id % 25 = 0}: edge cost 1 on ring edges, 3 on chords; ≤ 8 hops.
    QueryDef("q_shortest_paths",
      (s, d) => {
        val nodes = RingGraph.nodes(s, d)
          .withColumn("is_src", col("id") % 25 === 0)
        val edges = nodes
          .select(col("id").as("src"), ((col("id") + 1) % 100).as("dst"),
            lit(1L).as("w"))
          .unionByName(nodes.filter(col("id") % 3 === 0)
            .select(col("id").as("src"),
              ((col("id") * col("id") + 7) % 100).as("dst"), lit(3L).as("w")))
        Graph.shortestPaths(nodes, edges, "is_src", 8)
      },
      Some((s"""WITH nodes AS (${RingGraph.nodesSql}),
             |e AS (SELECT src, dst, min(w) AS w FROM (
             |        SELECT id AS src, (id + 1) % 100 AS dst, 1 AS w FROM nodes
             |        UNION ALL
             |        SELECT id AS src, (id * id + 7) % 100 AS dst, 3 AS w
             |        FROM nodes WHERE id % 3 = 0) u
             |      GROUP BY src, dst),
             |sp AS (
             |  SELECT id, CAST(0 AS BIGINT) AS cost, 0 AS hops
             |  FROM nodes WHERE id % 25 = 0
             |  UNION
             |  SELECT e.dst AS id, sp.cost + e.w AS cost, sp.hops + 1 AS hops
             |  FROM sp JOIN e ON e.src = sp.id WHERE sp.hops < 8)
             |SELECT id, min(cost) AS cost FROM sp GROUP BY id""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── 3-truss of the broken-ring graph: each surviving edge needs at
    //    least one in-truss triangle (support ≥ k−2 = 1), so
    //    chord-crossings survive and triangle-free chains evaporate.
    QueryDef("q_ktruss",
      (s, d) => {
        val edges = brokenRing(s, d)
        Graph.kTruss(edges, 3, 8)
      },
      Some(kTrussSql(3, 8))),

    // ── Maximal triangles on the broken-ring graph: triads no fourth
    //    vertex completes — wedge join + one maximality anti-join.
    QueryDef("q_maximal_triangles",
      (s, d) => {
        val edges = brokenRing(s, d)
        Graph.maximalTriangles(edges)
      },
      Some(s"""WITH nodes AS (${RingGraph.nodesSql}),
             |raw AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes WHERE id % 7 <> 0
             |        UNION
             |        SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0),
             |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
             |      FROM raw WHERE src <> dst),
             |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
             |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
             |        FROM e e1 JOIN e e2 ON e1.b = e2.a
             |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
             |SELECT t.x, t.y, t.z FROM tri t
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM adj wx
             |  JOIN adj wy ON wy.u = t.y AND wy.v = wx.v
             |  JOIN adj wz ON wz.u = t.z AND wz.v = wx.v
             |  WHERE wx.u = t.x)""".stripMargin)),

    // ── Widest (maximum-bottleneck) paths from seeds {0, 50} over the
    //    variable-width ring + width-4 chords, ≤ 8 hops.
    QueryDef("q_widest_paths",
      (s, d) => {
        val nodes = RingGraph.nodes(s, d)
          .withColumn("is_src", col("id") % 50 === 0)
        val edges = nodes
          .select(col("id").as("src"), ((col("id") + 1) % 100).as("dst"),
            (lit(1L) + col("id") % 5).as("w"))
          .unionByName(nodes.filter(col("id") % 3 === 0)
            .select(col("id").as("src"),
              ((col("id") * col("id") + 7) % 100).as("dst"), lit(4L).as("w")))
        Graph.widestPaths(nodes, edges, "is_src", 8)
      },
      Some((s"""WITH nodes AS (${RingGraph.nodesSql}),
             |e AS (SELECT src, dst, max(w) AS w FROM (
             |        SELECT id AS src, (id + 1) % 100 AS dst, 1 + id % 5 AS w FROM nodes
             |        UNION ALL
             |        SELECT id AS src, (id * id + 7) % 100 AS dst, 4 AS w
             |        FROM nodes WHERE id % 3 = 0) u
             |      GROUP BY src, dst),
             |wp AS (
             |  SELECT id, CAST(9223372036854775807 AS BIGINT) AS cap, 0 AS hops
             |  FROM nodes WHERE id % 50 = 0
             |  UNION
             |  SELECT e.dst AS id, least(wp.cap, CAST(e.w AS BIGINT)) AS cap,
             |         wp.hops + 1 AS hops
             |  FROM wp JOIN e ON e.src = wp.id WHERE wp.hops < 8)
             |SELECT id, max(cap) AS cap FROM wp GROUP BY id""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── Minimum spanning forest by distributed Borůvka over the shared
    //    graph with unique weights w = a·1000 + b. The oracle is an
    //    INDEPENDENT formulation: the cut property under distinct
    //    weights — e ∈ MSF iff the minimax bottleneck path cost between
    //    its endpoints equals its own weight — evaluated by all-pairs
    //    path-doubling relaxation (7 rounds cover paths ≤ 128 edges).
    QueryDef("q_msf",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        Graph.minimumSpanningForest(nodes,
          edges.filter(col("src") =!= col("dst"))
            .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
            .distinct()
            .withColumn("w", col("a") * 1000 + col("b")),
          10)
      },
      Some {
        val head = ringEdgesMatSql +
          """,
            |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            |       FROM e WHERE src <> dst),
            |we AS MATERIALIZED (SELECT a, b, a * 1000 + b AS w FROM und),
            |d0 AS MATERIALIZED (SELECT a AS u, b AS v, w AS d FROM we
            |      UNION ALL SELECT b, a, w FROM we)""".stripMargin
        val rounds = (1 to 7).map { i =>
          s"""d$i AS MATERIALIZED (SELECT u, v, min(d) AS d FROM (
             |      SELECT u, v, d FROM d${i - 1}
             |      UNION ALL
             |      SELECT x.u, y.v, greatest(x.d, y.d) AS d
             |      FROM d${i - 1} x JOIN d${i - 1} y ON x.v = y.u AND x.u <> y.v)
             |      GROUP BY u, v)""".stripMargin
        }
        (head +: rounds.map("," + _)).mkString("\n") +
          """
            |SELECT we.a, we.b, CAST(we.w AS BIGINT) AS w
            |FROM we JOIN d7 ON d7.u = we.a AND d7.v = we.b
            |WHERE d7.d = we.w""".stripMargin
      }),

    // ── Bridges via tree-XOR leaf peeling over the unique MSF. The
    //    oracle shares only the graph + the cut-property forest
    //    reconstruction (proven independently by q_msf) and then uses a
    //    COMPLETELY different bridge criterion: root each tree
    //    (recursive BFS walk), build the ancestor-or-self closure, and
    //    count for each tree edge the non-forest edges whose endpoints
    //    lie on opposite sides (exactly one endpoint has the edge's
    //    child as ancestor-or-self). Bridge ⟺ count = 0.
    QueryDef("q_bridges",
      (s, d) => {
        val (nodes, edges) = bridgeGraph(s, d)
        Graph.bridges(nodes, edges, 15)
      },
      Some {
        val head = "WITH RECURSIVE\n" + bridgeGraphSql +
          """,
            |d0 AS MATERIALIZED (SELECT a AS u, b AS v, w AS d FROM we
            |      UNION ALL SELECT b, a, w FROM we)""".stripMargin
        val rounds = (1 to 4).map { i =>
          s"""d$i AS MATERIALIZED (SELECT u, v, min(d) AS d FROM (
             |      SELECT u, v, d FROM d${i - 1}
             |      UNION ALL
             |      SELECT x.u, y.v, greatest(x.d, y.d) AS d
             |      FROM d${i - 1} x JOIN d${i - 1} y ON x.v = y.u AND x.u <> y.v)
             |      GROUP BY u, v)""".stripMargin
        }
        (head +: rounds.map("," + _)).mkString("\n") +
          """,
            |forest AS MATERIALIZED (SELECT we.a, we.b FROM we
            |      JOIN d4 ON d4.u = we.a AND d4.v = we.b WHERE d4.d = we.w),
            |nf AS MATERIALIZED (SELECT u.a, u.b FROM und u
            |      LEFT JOIN forest f ON f.a = u.a AND f.b = u.b WHERE f.a IS NULL),
            |fadj AS MATERIALIZED (SELECT a AS u, b AS v FROM forest
            |      UNION ALL SELECT b, a FROM forest),
            |root AS MATERIALIZED (SELECT n.id AS v, least(n.id, coalesce(min(d4.v), n.id)) AS r
            |      FROM nodes n LEFT JOIN d4 ON d4.u = n.id GROUP BY n.id),
            |walk AS (
            |  SELECT v, CAST(NULL AS BIGINT) AS parent FROM root WHERE r = v
            |  UNION ALL
            |  SELECT fadj.v, w.v FROM walk w JOIN fadj ON fadj.u = w.v
            |  WHERE w.parent IS NULL OR fadj.v <> w.parent),
            |anc AS (
            |  SELECT v AS dn, v AS an FROM walk
            |  UNION ALL
            |  SELECT anc.dn, w.parent FROM anc JOIN walk w ON w.v = anc.an
            |  WHERE w.parent IS NOT NULL),
            |straddle AS (
            |  SELECT t.x, t.y, t.an AS c FROM (
            |    SELECT nf.a AS x, nf.b AS y, anc.an FROM nf JOIN anc ON anc.dn = nf.a
            |    UNION ALL
            |    SELECT nf.a, nf.b, anc.an FROM nf JOIN anc ON anc.dn = nf.b) t
            |  GROUP BY t.x, t.y, t.an HAVING count(*) = 1),
            |cov AS MATERIALIZED (SELECT c, CAST(count(*) AS BIGINT) AS k
            |      FROM straddle GROUP BY c),
            |te AS MATERIALIZED (SELECT v AS c, parent AS p FROM walk WHERE parent IS NOT NULL)
            |SELECT CAST(least(te.c, te.p) AS BIGINT) AS a,
            |       CAST(greatest(te.c, te.p) AS BIGINT) AS b,
            |       coalesce(cov.k, 0) = 0 AS is_bridge
            |FROM te LEFT JOIN cov ON cov.c = te.c""".stripMargin
      }),

    // ── Per-vertex local clustering coefficient on the ring graph.
    QueryDef("q_local_clustering",
      (s, d) => {
        val (_, edges) = RingGraph.simple(s, d)
        Graph.localClustering(edges)
      },
      Some(RingGraph.sql +
        """,
          |deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY u),
          |tri AS (SELECT l.u AS id, CAST(count(*) AS BIGINT) AS triangles
          |        FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
          |        JOIN und ON und.a = l.v AND und.b = r.v
          |        GROUP BY l.u)
          |SELECT d.id, d.degree, coalesce(t.triangles, 0) AS triangles,
          |       CAST(CASE WHEN d.degree >= 2
          |            THEN 2 * coalesce(t.triangles, 0) * 1000000 // (d.degree * (d.degree - 1))
          |            ELSE 0 END AS BIGINT) AS lcc_e6
          |FROM deg d LEFT JOIN tri t ON t.id = d.id""".stripMargin)),

    // ── Degree assortativity of the ring graph (Newman convention:
    //    every undirected edge counted both ways).
    QueryDef("q_assortativity",
      (s, d) => {
        val (_, edges) = RingGraph.simple(s, d)
        Graph.assortativity(edges)
      },
      Some(RingGraph.sql +
        """,
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
          |pairs AS (SELECT du.d AS x, dv.d AS y
          |          FROM adj JOIN deg du ON du.u = adj.u
          |                   JOIN deg dv ON dv.u = adj.v),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n_dir,
          |             CAST(sum(x) AS HUGEINT) AS s1, CAST(sum(y) AS HUGEINT) AS s2,
          |             CAST(sum(x * x) AS HUGEINT) AS s11,
          |             CAST(sum(y * y) AS HUGEINT) AS s22,
          |             CAST(sum(x * y) AS HUGEINT) AS s12
          |      FROM pairs)
          |SELECT n_dir,
          |       CASE WHEN n_dir * s11 - s1 * s1 = 0 OR n_dir * s22 - s2 * s2 = 0
          |            THEN NULL
          |            ELSE round(CAST(n_dir * s12 - s1 * s2 AS DOUBLE) /
          |                       sqrt(CAST(n_dir * s11 - s1 * s1 AS DOUBLE) *
          |                            CAST(n_dir * s22 - s2 * s2 AS DOUBLE)), 6)
          |       END AS r
          |FROM m""".stripMargin)),

    // ── Bipartiteness certificate on the chain graph (whose 5-cycles
    //    make it NON-bipartite, unlike the all-even-cycle ring): BFS
    //    parity coloring from node 0, then count same-color edges in
    //    the root's component.
    QueryDef("q_bipartite",
      (s, d) => {
        val (nodes, und) = chainGraph(s, d)
        Graph.bipartiteCheck(nodes.withColumn("is_root", col("id") === 0),
          und, "is_root", 64)
      },
      Some(("WITH RECURSIVE " + chainUndSql +
        """,
          |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
          |bfs AS (
          |  SELECT id, 0 AS d FROM nodes WHERE id = 0
          |  UNION
          |  SELECT adj.v AS id, bfs.d + 1 AS d
          |  FROM bfs JOIN adj ON adj.u = bfs.id WHERE bfs.d < 64),
          |md AS (SELECT id, min(d) % 2 AS c FROM bfs GROUP BY 1),
          |j AS (SELECT und.a, und.b, ca.c AS ca, cb.c AS cb
          |      FROM und JOIN md ca ON ca.id = und.a
          |               JOIN md cb ON cb.id = und.b)
          |SELECT (SELECT CAST(count(*) AS BIGINT) FROM md) AS n_reached,
          |       CAST(count(*) AS BIGINT) AS n_edges_reached,
          |       CAST(count(*) FILTER (WHERE ca = cb) AS BIGINT) AS n_violating,
          |       count(*) FILTER (WHERE ca = cb) = 0 AS is_bipartite
          |FROM j""".stripMargin))),

    // ── Degree histogram of the undirected ring graph — the first plot
    //    of any graph audit; one degree aggregate + one histogram
    //    aggregate, both map-side combinable.
    QueryDef("q_degree_hist",
      (s, d) => {
        val (_, edges) = RingGraph.directed(s, d)
        val und = edges.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct().localCheckpoint(false) // edge axis: tiny; ONE raw scan
        und.select(col("a").as("u")).unionByName(und.select(col("b").as("u")))
          .groupBy(col("u")).agg(count(lit(1)).as("degree"))
          .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      },
      Some(ringEdgesSql +
        """,
          |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |        FROM e WHERE src <> dst),
          |adj AS (SELECT a AS u FROM und UNION ALL SELECT b FROM und),
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY 1)
          |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
          |FROM deg GROUP BY 1""".stripMargin)),

    // ── Bounded-hop (≤ 20) eccentricity of the 4 seed nodes over the
    //    directed ring graph: farthest min-hop reach per seed, one
    //    labeled multi-source frontier for all seeds.
    QueryDef("q_eccentricity",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        Graph.eccentricity(nodes.withColumn("is_seed", col("id") % 25 === 0),
          edges, "is_seed", 20)
      },
      Some((ringSeedDistSql +
        """
          |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
          |       CAST(max(dist) AS BIGINT) AS ecc
          |FROM md GROUP BY 1""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── Double-sweep diameter lower bound on the UNDIRECTED ring graph:
    //    BFS from node 0, re-BFS from its farthest reach u (ties →
    //    smallest id); ecc(u) ≥ radius and lower-bounds the diameter.
    QueryDef("q_diameter_sweep",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        val adj = edges
          .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
        Graph.doubleSweepDiameter(nodes.withColumn("is_root", col("id") === 0),
          adj, "is_root", 64)
      },
      Some((ringEdgesSql +
        """,
          |adj AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
          |b0 AS (
          |  SELECT CAST(0 AS BIGINT) AS id, 0 AS d
          |  UNION
          |  SELECT adj.v AS id, b0.d + 1 AS d
          |  FROM b0 JOIN adj ON adj.u = b0.id WHERE b0.d < 64),
          |m0 AS (SELECT id, min(d) AS dist FROM b0 GROUP BY 1),
          |far AS MATERIALIZED (SELECT id AS u, dist AS ecc_root FROM m0
          |       ORDER BY dist DESC, id LIMIT 1),
          |b1 AS (
          |  SELECT (SELECT u FROM far) AS id, 0 AS d
          |  UNION
          |  SELECT adj.v AS id, b1.d + 1 AS d
          |  FROM b1 JOIN adj ON adj.u = b1.id WHERE b1.d < 64),
          |m1 AS (SELECT id, min(d) AS dist FROM b1 GROUP BY 1)
          |SELECT (SELECT CAST(u AS BIGINT) FROM far) AS u,
          |       (SELECT CAST(ecc_root AS BIGINT) FROM far) AS ecc_root,
          |       CAST(max(dist) AS BIGINT) AS diameter_lb,
          |       CAST(count(*) AS BIGINT) AS n_reached
          |FROM m1""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── Longest weighted path ending at each node of the chain DAG
    //    (edges directed low→high id, so acyclic; w = id gap). The
    //    critical-path / dataflow-depth primitive, by bounded-round
    //    max-relaxation.
    QueryDef("q_dag_longest",
      (s, d) => {
        val (nodes, dag) = chainDag(s, d)
        Graph.dagLongestPath(nodes,
          dag.withColumn("w", col("dst") - col("src")), 10)
      },
      Some(s"""WITH RECURSIVE $chainEdgesSql,
              |e AS (SELECT src, dst, dst - src AS w FROM ce),
              |reach(v, dd) AS (
              |  SELECT id, CAST(0 AS BIGINT) FROM nodes
              |  UNION
              |  SELECT e.dst, r.dd + e.w FROM reach r JOIN e ON e.src = r.v)
              |SELECT CAST(v AS BIGINT) AS id, CAST(max(dd) AS BIGINT) AS dist
              |FROM reach GROUP BY 1""".stripMargin)),

    // ── Strongly connected components of the functional graph
    //    id → (7·id + 3) mod 100: cycle nodes share a component, tree
    //    tails are singletons. Pointer-doubling closure (log rounds).
    QueryDef("q_scc",
      (s, d) => {
        val nodes = RingGraph.nodes(s, d)
        val edges = nodes.select(col("id").as("src"),
          ((col("id") * 7 + 3) % 100).as("dst"))
        Graph.sccMinLabel(nodes, edges, 8)
      },
      Some(s"""WITH RECURSIVE
             |nodes AS (${RingGraph.nodesSql}),
             |e AS (SELECT id AS u, (id * 7 + 3) % 100 AS v FROM nodes),
             |reach(u, v) AS (
             |  SELECT u, v FROM e
             |  UNION
             |  SELECT r.u, e.v FROM reach r JOIN e ON e.u = r.v),
             |r2 AS (SELECT u, v FROM reach UNION SELECT id, id FROM nodes)
             |SELECT CAST(a.u AS BIGINT) AS id, CAST(min(a.v) AS BIGINT) AS scc_id
             |FROM r2 a JOIN r2 b ON b.u = a.v AND b.v = a.u
             |GROUP BY 1""".stripMargin)),

    // ── Luby MIS on the ring graph, 6 hash-derandomized rounds: the
    //    oracle replays the identical priority draws, so the engine's
    //    winner/loser sets must match bit-for-bit.
    QueryDef("q_luby_mis",
      (s, d) => {
        val (nodes, edges) = RingGraph.simple(s, d)
        Graph.lubyMis(nodes, edges, 6)
      },
      Some {
        val head = RingGraph.sql +
          ",\nund0 AS MATERIALIZED (SELECT id FROM nodes)"
        val rounds = (1 to 6).map { r =>
          val h = PortableSql.hash48(
            s"concat(CAST(id AS VARCHAR), ':', '$r')", "'mis'")
          s"""pri$r AS MATERIALIZED (SELECT id, $h AS p FROM und${r - 1}),
             |win$r AS MATERIALIZED (
             |  SELECT pr.id FROM pri$r pr
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM adj a JOIN pri$r pn ON pn.id = a.v
             |    WHERE a.u = pr.id
             |      AND (pn.p > pr.p OR (pn.p = pr.p AND pn.id > pr.id)))),
             |drop$r AS MATERIALIZED (
             |  SELECT DISTINCT a.v AS id FROM adj a JOIN win$r w ON w.id = a.u
             |  WHERE a.v IN (SELECT id FROM und${r - 1})),
             |und$r AS MATERIALIZED (
             |  SELECT id FROM und${r - 1}
             |  EXCEPT SELECT id FROM win$r
             |  EXCEPT SELECT id FROM drop$r)""".stripMargin
        }
        val unions = (1 to 6).flatMap { r =>
          Seq(s"SELECT CAST(id AS BIGINT) AS id, CAST(1 AS BIGINT) AS state FROM win$r",
            s"SELECT CAST(id AS BIGINT) AS id, CAST(0 AS BIGINT) AS state FROM drop$r")
        } :+ "SELECT CAST(id AS BIGINT) AS id, CAST(-1 AS BIGINT) AS state FROM und6"
        (head +: rounds.map("," + _)).mkString("\n") + "\n" +
          unions.mkString("\nUNION ALL\n")
      }),

    // ── Greedy coloring, 6 synchronous rounds on the ring graph; the
    //    oracle replays every round bit-for-bit.
    QueryDef("q_graph_coloring",
      (s, d) => {
        val (nodes, edges) = RingGraph.simple(s, d)
        Graph.jonesPlassmann(nodes, edges, 6)
      },
      Some(jpSql(6))),

    // ── Bowtie classes around seed 45 (in the core cycle): expected
    //    core=30, in=30, out=30, other=10 at every SF.
    QueryDef("q_bowtie",
      (s, d) => {
        val (nodes, e) = bowtieEdges(s, d)
        Graph.bowtie(nodes.withColumn("is_seed", col("id") === 45), e,
          "is_seed", 40)
      },
      Some(s"""WITH RECURSIVE $bowtieGraphSql,
              |fwd AS (SELECT 45 AS id
              |        UNION SELECT e.dst FROM fwd JOIN e ON e.src = fwd.id),
              |bwd AS (SELECT 45 AS id
              |        UNION SELECT e.src FROM bwd JOIN e ON e.dst = bwd.id)
              |SELECT cls, CAST(count(*) AS BIGINT) AS n_nodes FROM (
              |  SELECT n.id,
              |         CASE WHEN f.id IS NOT NULL AND b.id IS NOT NULL THEN 'core'
              |              WHEN b.id IS NOT NULL THEN 'in'
              |              WHEN f.id IS NOT NULL THEN 'out'
              |              ELSE 'other' END AS cls
              |  FROM nodes n LEFT JOIN fwd f ON n.id = f.id
              |       LEFT JOIN bwd b ON n.id = b.id)
              |GROUP BY 1""".stripMargin)),

    // ── Rich-club curve at k ∈ {2, 3, 4} over the quadratic-chord ring
    //    (ring degree 2, chord endpoints 3–5 — the sweep crosses the
    //    elite boundary).
    QueryDef("q_rich_club",
      (s, d) => {
        val nodes = Tables.customer(s, d)
          .select((col("c_custkey") % 100).as("id")).distinct()
        val edges = nodes.select(col("id").as("a"), ((col("id") + 1) % 100).as("b"))
          .unionByName(nodes.filter(col("id") % 3 === 0)
            .select(col("id").as("a"),
              ((col("id") * col("id") + 7) % 100).as("b")))
        Graph.richClub(edges, Seq(2, 3, 4))
      },
      Some("""WITH nodes AS (SELECT DISTINCT c_custkey % 100 AS id FROM customer),
             |raw AS (SELECT id AS a, (id + 1) % 100 AS b FROM nodes
             |        UNION ALL SELECT id, (id * id + 7) % 100 FROM nodes
             |                  WHERE id % 3 = 0),
             |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
             |      FROM raw WHERE a <> b),
             |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
             |        FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
             |        GROUP BY 1),
             |ks AS (SELECT unnest([2, 3, 4]) AS k),
             |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
             |       FROM deg CROSS JOIN ks WHERE degree > k GROUP BY 1),
             |ek AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges
             |       FROM e JOIN deg da ON e.a = da.id
             |            JOIN deg db ON e.b = db.id
             |            CROSS JOIN ks
             |       WHERE da.degree > k AND db.degree > k GROUP BY 1)
             |SELECT CAST(k AS BIGINT) AS k, n_nodes,
             |       coalesce(n_edges, 0) AS n_edges,
             |       CASE WHEN n_nodes < 2 THEN 0
             |            ELSE 2 * coalesce(n_edges, 0) * 1000000
             |                 // (n_nodes * (n_nodes - 1))
             |       END AS phi_e6
             |FROM nk LEFT JOIN ek USING (k)""".stripMargin)),

    // ── Global transitivity of the same graph: 3·triangles / wedges,
    //    wedges in closed form from degrees.
    QueryDef("q_transitivity",
      (s, d) => {
        val nodes = Tables.customer(s, d)
          .select((col("c_custkey") % 100).as("id")).distinct()
        val edges = nodes.select(col("id").as("a"), ((col("id") + 1) % 100).as("b"))
          .unionByName(nodes.select(col("id").as("a"), ((col("id") + 2) % 100).as("b")))
        Graph.transitivity(edges)
      },
      Some("""WITH nodes AS (SELECT DISTINCT c_custkey % 100 AS id FROM customer),
             |raw AS (SELECT id AS a, (id + 1) % 100 AS b FROM nodes
             |        UNION ALL SELECT id, (id + 2) % 100 FROM nodes),
             |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
             |      FROM raw WHERE a <> b),
             |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
             |        FROM e e1 JOIN e e2 ON e2.a = e1.b
             |             JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
             |        FROM (SELECT a AS id FROM e UNION ALL SELECT b FROM e)
             |        GROUP BY 1),
             |w AS (SELECT CAST(sum(degree * (degree - 1)) AS BIGINT) AS w2 FROM deg)
             |SELECT n_triangles, w2 // 2 AS n_wedges,
             |       CASE WHEN w2 = 0 THEN 0
             |            ELSE 6 * n_triangles * 1000000 // w2
             |       END AS transitivity_e6
             |FROM tri CROSS JOIN w""".stripMargin)),

    // ── Dyad census over the deterministic event digraph
    //    (user bucket → event bucket, mod 500).
    QueryDef("q_dyad_census",
      (s, d) => Graph.dyadCensus(
        Tables.events(s, d).select((col("user_id") % 500).as("src"),
          (col("event_id") % 500).as("dst"))),
      Some("""WITH e AS (SELECT DISTINCT user_id % 500 AS src,
             |                  event_id % 500 AS dst
             |           FROM events WHERE user_id % 500 <> event_id % 500),
             |pairs AS (SELECT least(src, dst) AS lo, greatest(src, dst) AS hi,
             |                 CAST(count(*) AS BIGINT) AS dirs
             |          FROM e GROUP BY 1, 2),
             |a AS (SELECT CAST(coalesce(sum(CASE WHEN dirs = 2 THEN 1
             |                                    ELSE 0 END), 0) AS BIGINT)
             |               AS mutual,
             |             CAST(coalesce(sum(CASE WHEN dirs = 1 THEN 1
             |                                    ELSE 0 END), 0) AS BIGINT)
             |               AS asym
             |      FROM pairs),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes
             |       FROM (SELECT src AS id FROM e UNION SELECT dst FROM e)),
             |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
             |SELECT n_nodes, n_edges, mutual, asym,
             |       CAST(n_nodes * (n_nodes - 1) // 2 - mutual - asym
             |         AS BIGINT) AS null_dyads,
             |       CASE WHEN 2 * mutual + asym = 0 THEN NULL
             |            ELSE CAST(2 * mutual * 1000000 //
             |                   (2 * mutual + asym) AS BIGINT)
             |       END AS reciprocity_e6
             |FROM a CROSS JOIN nn CROSS JOIN ne""".stripMargin)),

    // ── Robustness: remove the top-k hubs (degree desc, id asc) from
    //    the undirected event graph; track fragmentation.
    QueryDef("q_graph_robustness",
      (s, d) => {
        val und = Tables.events(s, d)
          .select(least(col("user_id") % 500, col("event_id") % 500).as("a"),
            greatest(col("user_id") % 500, col("event_id") % 500).as("b"))
          .where(col("a") =!= col("b")).distinct()
          .localCheckpoint(false) // reused by degrees + 3 removal rounds
        val deg = und.select(col("a").as("id"))
          .union(und.select(col("b").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("dg"))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("dg").desc, col("id"))))
        val ids = deg.select(col("id"), col("rn")).localCheckpoint(false)
        // ONE star-CC run over the disjoint union of the three
        // removal variants (variant i lives on ids offset by i*1000 —
        // node ids are < 500 by construction) instead of three
        // sequential iterative CC loops; rounds = max over variants,
        // not their sum, and per-variant labels/sizes are unchanged
        // (components never cross the offset blocks).
        val variants = Seq(0L, 50L, 200L)
        val shifted = variants.zipWithIndex.map { case (kk, i) =>
          val off = i * 1000L
          val keep = ids.where(col("rn") > kk)
            .select((col("id") + off).as("id"))
          val edges = und
            .join(ids.where(col("rn") > kk).select(col("id").as("a")), "a")
            .join(ids.where(col("rn") > kk).select(col("id").as("b")), "b")
            .select((col("a") + off).as("a"), (col("b") + off).as("b"))
          (keep, edges)
        }
        val allKeep = shifted.map(_._1).reduce(_ unionByName _)
        val allEdges = shifted.map(_._2).reduce(_ unionByName _)
        // A removal variant that leaves ZERO nodes must
        // still emit its row — the oracle's per-variant aggregate is
        // unconditional (n_components = 0, null n_nodes/largest_cc),
        // while a groupBy over an empty group emits nothing. Left-join
        // the aggregate onto the literal variant frame so each
        // k_removed always yields exactly one row. Identical on any
        // input where every variant keeps ≥ 1 node (all current SFs).
        import s.implicits._
        val variantFrame = variants.zipWithIndex
          .map { case (kk, i) => (i.toLong, kk) }
          .toDF("variant", "k_removed")
        val agg = StarComponents.connectedComponents(allKeep, allEdges)
          .withColumn("variant", expr("id div 1000"))
          .groupBy(col("variant"), col("cluster_id"))
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("variant"))
          .agg(count(lit(1)).as("n_components"),
            sum(col("sz")).as("n_nodes"), max(col("sz")).as("largest_cc"))
        variantFrame.join(broadcast(agg), Seq("variant"), "left")
          .select(col("k_removed"), col("n_nodes"),
            coalesce(col("n_components"), lit(0L)).as("n_components"),
            col("largest_cc"))
      },
      Some {
        def piece(kk: Int) =
          s"""reach$kk(id, label) AS (
             |  SELECT id, id FROM keep$kk
             |  UNION
             |  SELECT s.b, r.label FROM reach$kk r JOIN sym$kk s ON s.a = r.id),
             |cc$kk AS (SELECT id, min(label) AS cl FROM reach$kk GROUP BY 1),
             |sz$kk AS (SELECT cl, CAST(count(*) AS BIGINT) AS sz
             |          FROM cc$kk GROUP BY 1),
             |row$kk AS (SELECT CAST($kk AS BIGINT) AS k_removed,
             |                  CAST(sum(sz) AS BIGINT) AS n_nodes,
             |                  CAST(count(*) AS BIGINT) AS n_components,
             |                  CAST(max(sz) AS BIGINT) AS largest_cc
             |           FROM sz$kk)""".stripMargin
        def prelude(kk: Int) =
          s"""keep$kk AS (SELECT id FROM deg WHERE rn > $kk),
             |e$kk AS (SELECT a, b FROM und
             |         WHERE a IN (SELECT id FROM keep$kk)
             |           AND b IN (SELECT id FROM keep$kk)),
             |sym$kk AS (SELECT a, b FROM e$kk
             |           UNION ALL SELECT b AS a, a AS b FROM e$kk)""".stripMargin
        s"""WITH RECURSIVE und AS (
           |  SELECT DISTINCT least(user_id % 500, event_id % 500) AS a,
           |         greatest(user_id % 500, event_id % 500) AS b
           |  FROM events WHERE user_id % 500 <> event_id % 500),
           |deg AS (
           |  SELECT id, row_number() OVER (ORDER BY dg DESC, id) AS rn
           |  FROM (SELECT id, count(*) AS dg
           |        FROM (SELECT a AS id FROM und
           |              UNION ALL SELECT b FROM und)
           |        GROUP BY 1)),
           |${prelude(0)}, ${piece(0)},
           |${prelude(50)}, ${piece(50)},
           |${prelude(200)}, ${piece(200)}
           |SELECT * FROM row0
           |UNION ALL SELECT * FROM row50
           |UNION ALL SELECT * FROM row200""".stripMargin
      }),

    // ── Critical slack: ES via forward longest paths, tail length via
    //    reversed longest paths; slack 0 marks the critical path.
    QueryDef("q_critical_slack",
      (s, d) => {
        val (nodes, ce) = chainEdges(s, d)
        val e = ce.distinct()
          .withColumn("w", col("dst") - col("src"))
          .localCheckpoint(false) // feeds both direction legs below
        // ONE dagLongestPath run carries BOTH directions — the
        // reversed graph lives on ids offset by 1000 (node ids are
        // p_partkey % 100 < 100), so the relaxation rounds of the two
        // sweeps share every frontier join and the round count is
        // max(fwd, bwd) instead of fwd + bwd (the q_bowtie
        // parity-fusion trick on the offset encoding).
        val both = Graph.dagLongestPath(
          nodes.select(col("id"))
            .unionByName(nodes.select((col("id") + 1000L).as("id"))),
          e.select(col("src"), col("dst"), col("w"))
            .unionByName(e.select((col("dst") + 1000L).as("src"),
              (col("src") + 1000L).as("dst"), col("w"))),
          10).localCheckpoint(false)
        val es = both.filter(col("id") < 1000L)
          .select(col("id"), col("dist").as("es"))
        val tail = both.filter(col("id") >= 1000L)
          .select((col("id") - 1000L).as("id"), col("dist").as("tail_len"))
        val j = es.join(tail, "id")
        val hz = j.agg(max(col("es") + col("tail_len")).as("horizon"))
        j.crossJoin(broadcast(hz))
          .selectExpr("id", "es", "tail_len", "horizon",
            "horizon - es - tail_len AS slack",
            "horizon - es - tail_len = 0 AS critical")
      },
      Some(s"""WITH RECURSIVE
             |nodes AS (${RingGraph.nodesSql}),
             |ce AS (
             |  SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 10 <> 9
             |  UNION SELECT id, id + 4 FROM nodes WHERE id % 10 = 0
             |  UNION SELECT id, id + 5 FROM nodes
             |        WHERE id % 10 = 4 AND (id // 10) % 2 = 0),
             |e AS (SELECT src, dst, dst - src AS w FROM ce),
             |fwd(v, dd) AS (
             |  SELECT id, CAST(0 AS BIGINT) FROM nodes
             |  UNION
             |  SELECT e.dst, f.dd + e.w FROM fwd f JOIN e ON e.src = f.v),
             |bwd(v, dd) AS (
             |  SELECT id, CAST(0 AS BIGINT) FROM nodes
             |  UNION
             |  SELECT e.src, b.dd + e.w FROM bwd b JOIN e ON e.dst = b.v),
             |es AS (SELECT v AS id, max(dd) AS es FROM fwd GROUP BY 1),
             |tl AS (SELECT v AS id, max(dd) AS tail_len FROM bwd GROUP BY 1),
             |j AS (SELECT es.id, es.es, tl.tail_len
             |      FROM es JOIN tl ON es.id = tl.id),
             |hz AS (SELECT max(es + tail_len) AS horizon FROM j)
             |SELECT CAST(id AS BIGINT) AS id, es, tail_len, horizon,
             |       horizon - es - tail_len AS slack,
             |       horizon - es - tail_len = 0 AS critical
             |FROM j CROSS JOIN hz""".stripMargin)),

    // ── Undirected triad census over the q_dyad_census event graph
    //    (user bucket — event bucket, mod 500): how many node triples
    //    are empty / one-edge / two-path / triangle. Closed-form from
    //    exact counts — n, m, wedges P2 = Σ C(d,2), triangles T:
    //      n3 = T,  n2 = P2 − 3T,  n1 = m(n−2) − 2·n2 − 3·n3,
    //      n0 = C(n,3) − n1 − n2 − n3
    //    — no triple enumeration anywhere; the only joins are the two
    //    wedge-closing equi-joins inside the exact triangle count.
    QueryDef("q_triad_census",
      (s, d) => {
        val e = Graph.canonical(Tables.events(s, d)
            .select((col("user_id") % 500).as("a"),
              (col("event_id") % 500).as("b")))
          .localCheckpoint(false) // degrees + triangles + node set
        val nodes = e.select(col("a").as("id"))
          .unionByName(e.select(col("b").as("id"))).distinct()
        val deg = e.select(col("a").as("id"))
          .unionByName(e.select(col("b").as("id")))
          .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        val base = nodes.agg(count(lit(1)).as("n"))
          .crossJoin(e.agg(count(lit(1)).as("m")))
          .crossJoin(deg.agg(sum(expr("deg * (deg - 1) div 2")).as("p2")))
          .crossJoin(Graph.triangleCount(e))
        base.selectExpr("CAST(n AS BIGINT) AS n_nodes",
          "CAST(m AS BIGINT) AS n_edges",
          "CAST(n_triangles AS BIGINT) AS n3",
          "CAST(p2 - 3 * n_triangles AS BIGINT) AS n2",
          """CAST(m * (n - 2) - 2 * (p2 - 3 * n_triangles)
            |  - 3 * n_triangles AS BIGINT) AS n1""".stripMargin,
          """CAST(n * (n - 1) * (n - 2) div 6
            |  - (m * (n - 2) - 2 * (p2 - 3 * n_triangles)
            |     - 3 * n_triangles)
            |  - (p2 - 3 * n_triangles) - n_triangles AS BIGINT)
            |  AS n0""".stripMargin)
      },
      Some("""WITH raw AS (SELECT user_id % 500 AS a, event_id % 500 AS b
             |            FROM events),
             |e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
             |      FROM raw WHERE a <> b),
             |nodes AS (SELECT a AS id FROM e UNION SELECT b FROM e),
             |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
             |        FROM (SELECT a AS id FROM e
             |              UNION ALL SELECT b FROM e)
             |        GROUP BY 1),
             |tri AS (SELECT CAST(count(*) AS BIGINT) AS t
             |        FROM e e1 JOIN e e2 ON e2.a = e1.b
             |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |base AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes)
             |                  AS n,
             |                (SELECT CAST(count(*) AS BIGINT) FROM e) AS m,
             |                (SELECT CAST(sum(deg * (deg - 1) // 2)
             |                   AS BIGINT) FROM deg) AS p2,
             |                (SELECT t FROM tri) AS t)
             |SELECT n AS n_nodes, m AS n_edges, t AS n3,
             |       p2 - 3 * t AS n2,
             |       m * (n - 2) - 2 * (p2 - 3 * t) - 3 * t AS n1,
             |       CAST(n * (n - 1) * (n - 2) // 6
             |         - (m * (n - 2) - 2 * (p2 - 3 * t) - 3 * t)
             |         - (p2 - 3 * t) - t AS BIGINT) AS n0
             |FROM base""".stripMargin)),

    /* Structural graph summaries — degree-distribution
     * entropy of the DATA-SIZED supplier↔part bipartite graph (how
     * concentrated is connectivity; pure keyed aggregates, so the 100 TB
     * path is the same plan), Borgatti–Everett-style core/periphery block
     * densities on the shared ring graph (top-decile degree core), and
     * the clustering spectrum (mean local clustering by degree — the
     * degree-resolved view of q_local_clustering / q_transitivity).
     * Entropies are fixed-point integer log₂ ([[graft.ops.Bm25.log2E6]]);
     * densities are exact e6 divs. */

    // ── Degree entropy per bipartite side: H = log2(E) − Σd·log2(d)/E
    //    over node degrees d (E = Σd = edge-endpoint mass). One distinct
    //    + two keyed aggregates per side; no joins — the plan a 100 TB
    //    edge list wants.
    QueryDef("q_degree_entropy",
      (s, d) => {
        val edges = Tables.lineitem(s, d)
          .select(col("l_suppkey").as("sp"), col("l_partkey").as("pt"))
          .distinct()
          .localCheckpoint(false) // both degree rollups share it
        def side(key: String, name: String) = edges
          .groupBy(col(key)).agg(count(lit(1)).as("deg"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("e"),
            max(col("deg")).as("max_degree"),
            sum(col("deg") * Bm25.log2E6(col("deg"))).as("sdl"))
          .select(lit(name).as("side"),
            col("n_nodes").cast("long").as("n_nodes"),
            col("e").cast("long").as("n_endpoints"),
            col("max_degree").cast("long").as("max_degree"),
            (Bm25.log2E6(col("e")) - expr("sdl div e")).as("entropy_e6"))
        side("sp", "supplier").unionByName(side("pt", "part"))
      },
      Some(s"""WITH edges AS (
             |  SELECT DISTINCT l_suppkey AS sp, l_partkey AS pt
             |  FROM lineitem),
             |ds AS (SELECT sp, CAST(count(*) AS BIGINT) AS deg
             |       FROM edges GROUP BY 1),
             |dp AS (SELECT pt, CAST(count(*) AS BIGINT) AS deg
             |       FROM edges GROUP BY 1),
             |sa AS (SELECT 'supplier' AS side,
             |              CAST(count(*) AS BIGINT) AS n_nodes,
             |              CAST(sum(deg) AS BIGINT) AS n_endpoints,
             |              CAST(max(deg) AS BIGINT) AS max_degree,
             |              CAST(sum(deg * ${Bm25.log2E6Sql("deg")})
             |                AS BIGINT) AS sdl
             |       FROM ds),
             |pa AS (SELECT 'part' AS side,
             |              CAST(count(*) AS BIGINT) AS n_nodes,
             |              CAST(sum(deg) AS BIGINT) AS n_endpoints,
             |              CAST(max(deg) AS BIGINT) AS max_degree,
             |              CAST(sum(deg * ${Bm25.log2E6Sql("deg")})
             |                AS BIGINT) AS sdl
             |       FROM dp),
             |u AS (SELECT * FROM sa UNION ALL SELECT * FROM pa)
             |SELECT side, n_nodes, n_endpoints, max_degree,
             |       CAST(${Bm25.log2E6Sql("n_endpoints")}
             |         - sdl // n_endpoints AS BIGINT) AS entropy_e6
             |FROM u""".stripMargin)),

    // ── Core/periphery block densities: core = top-10 ring nodes by
    //    degree (ties by id), then edge counts and exact e6 densities of
    //    the core-core / core-periphery / periphery-periphery blocks.
    //    The 10-node core list broadcasts into one edge classification.
    QueryDef("q_core_periphery",
      (s, d) => {
        val (nodes, und) = RingGraph.undirected(s, d)
        val deg = und.select(col("a").as("u"))
          .unionByName(und.select(col("b").as("u")))
          .groupBy(col("u")).agg(count(lit(1)).as("deg"))
        val core = deg
          .withColumn("rk", row_number().over(
            Window.orderBy(col("deg").desc, col("u"))))
          .filter(col("rk") <= 10).select(col("u"))
        val n = nodes.agg(count(lit(1)).as("n"))
        val cls = und
          .join(broadcast(core.select(col("u").as("a"),
            lit(1L).as("ca"))), Seq("a"), "left")
          .join(broadcast(core.select(col("u").as("b"),
            lit(1L).as("cb"))), Seq("b"), "left")
          .select((coalesce(col("ca"), lit(0L)) +
            coalesce(col("cb"), lit(0L))).as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("m"))
        cls.crossJoin(broadcast(n))
          .selectExpr(
            """CASE k WHEN 2 THEN 'core-core'
              |       WHEN 1 THEN 'core-periphery'
              |       ELSE 'periphery-periphery' END AS block""".stripMargin,
            "CAST(m AS BIGINT) AS n_edges",
            // possible pairs: C(10,2) / 10·(n−10) / C(n−10,2)
            """CAST(CASE k WHEN 2 THEN m * 1000000 div 45
              |       WHEN 1 THEN m * 1000000 div (10 * (n - 10))
              |       ELSE m * 2000000 div ((n - 10) * (n - 11)) END
              |  AS BIGINT) AS density_e6""".stripMargin)
      },
      Some(RingGraph.sql +
        """,
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
          |        FROM adj GROUP BY 1),
          |core AS (SELECT u FROM (
          |           SELECT u, row_number() OVER (ORDER BY deg DESC, u)
          |             AS rk
          |           FROM deg) WHERE rk <= 10),
          |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
          |cls AS (SELECT (CASE WHEN und.a IN (SELECT u FROM core)
          |                  THEN 1 ELSE 0 END
          |              + CASE WHEN und.b IN (SELECT u FROM core)
          |                  THEN 1 ELSE 0 END) AS k,
          |               CAST(count(*) AS BIGINT) AS m
          |        FROM und GROUP BY 1)
          |SELECT CASE k WHEN 2 THEN 'core-core'
          |              WHEN 1 THEN 'core-periphery'
          |              ELSE 'periphery-periphery' END AS block,
          |       m AS n_edges,
          |       CAST(CASE k WHEN 2 THEN m * 1000000 // 45
          |              WHEN 1 THEN m * 1000000 // (10 * (n.n - 10))
          |              ELSE m * 2000000 // ((n.n - 10) * (n.n - 11)) END
          |         AS BIGINT) AS density_e6
          |FROM cls CROSS JOIN n""".stripMargin)),

    // ── Clustering spectrum: per-node triangles via the wedge join
    //    (u's neighbor pairs that are themselves an edge), local
    //    clustering 2T/(d(d−1)) e6, then mean by degree — does
    //    transitivity rise or fall with connectivity.
    QueryDef("q_clustering_spectrum",
      (s, d) => {
        val (_, und) = RingGraph.undirected(s, d)
        val adj = und.select(col("a").as("u"), col("b").as("v"))
          .unionByName(und.select(col("b").as("u"), col("a").as("v")))
          .localCheckpoint(false) // degree + both wedge legs
        val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        val tri = adj.as("l").join(adj.as("r"),
            col("l.u") === col("r.u") && col("l.v") < col("r.v"))
          .join(und.as("und"), col("und.a") === col("l.v") &&
            col("und.b") === col("r.v"))
          .groupBy(col("l.u").as("u")).agg(count(lit(1)).as("tri"))
        deg.join(tri, Seq("u"), "left")
          .select(col("deg"),
            when(col("deg") >= 2,
              expr("coalesce(tri, 0) * 2000000 div (deg * (deg - 1))"))
              .otherwise(0L).as("cc_e6"))
          .groupBy(col("deg"))
          .agg(count(lit(1)).as("n_nodes"),
            expr("sum(cc_e6) div count(1)").as("mean_cc_e6"))
          .selectExpr("CAST(deg AS BIGINT) AS deg",
            "CAST(n_nodes AS BIGINT) AS n_nodes", "mean_cc_e6")
      },
      Some(RingGraph.sql +
        """,
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
          |        FROM adj GROUP BY 1),
          |tri AS (SELECT l.u, CAST(count(*) AS BIGINT) AS tri
          |        FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
          |        JOIN und ON und.a = l.v AND und.b = r.v
          |        GROUP BY 1),
          |cc AS (SELECT d.deg,
          |              CASE WHEN d.deg >= 2
          |                THEN coalesce(t.tri, 0) * 2000000
          |                     // (d.deg * (d.deg - 1))
          |                ELSE 0 END AS cc_e6
          |       FROM deg d LEFT JOIN tri t ON d.u = t.u)
          |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes,
          |       CAST(sum(cc_e6) // count(*) AS BIGINT) AS mean_cc_e6
          |FROM cc GROUP BY 1""".stripMargin)),

    // ── Co-supplier reach: suppliers reachable in 2 hops through
    //    shared parts — distinct co-suppliers per supplier off the
    //    part-keyed self-join of the distinct bipartite edge list
    //    (never an all-pairs supplier scan), top 10 + population mean.
    QueryDef("q_cosupplier_reach",
      (s, d) => {
        val sp = Tables.lineitem(s, d)
          .select(col("l_suppkey").as("sp"), col("l_partkey").as("pt"))
          .distinct()
          .localCheckpoint(false) // both sides of the part-keyed join
        // Aggregate before the shuffle: countDistinct
        // replaces distinct()+count — the (sp, co) dedup then happens in
        // the PARTIAL aggregate on the map side of one exchange instead
        // of shuffling the raw ~Σ(suppliers-per-part)² pair stream
        // through a separate distinct exchange first. Same n_co values.
        val reach = sp.as("a").join(sp.as("b"),
            col("a.pt") === col("b.pt") && col("a.sp") =!= col("b.sp"))
          .select(col("a.sp").as("sp"), col("b.sp").as("co"))
          .groupBy(col("sp")).agg(countDistinct(col("co")).as("n_co"))
          .localCheckpoint(false) // mean + top-10 rank
        val tot = reach.agg(count(lit(1)).as("ns"), sum(col("n_co")).as("sc"))
        // top-10 via TakeOrdered — the supplier axis is dimension-sized
        // (grows with SF), so the rank window runs only on the limited
        // 10-row frame, never a global single-partition sort.
        val top = reach.orderBy(col("n_co").desc, col("sp")).limit(10)
        top.crossJoin(broadcast(tot))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("n_co").desc, col("sp"))))
          .selectExpr("sp AS suppkey", "CAST(n_co AS BIGINT) AS n_co",
            "sc div ns AS mean_reach", "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH sp AS (SELECT DISTINCT l_suppkey AS sp,
             |                   l_partkey AS pt
             |            FROM lineitem),
             |reach AS (SELECT sp, CAST(count(*) AS BIGINT) AS n_co
             |          FROM (SELECT DISTINCT a.sp, b.sp AS co
             |                FROM sp a JOIN sp b
             |                  ON a.pt = b.pt AND a.sp <> b.sp)
             |          GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS ns,
             |               CAST(sum(n_co) AS BIGINT) AS sc FROM reach)
             |SELECT sp AS suppkey, n_co, sc // ns AS mean_reach, rk
             |FROM (SELECT sp, n_co, ns, sc,
             |             CAST(row_number() OVER (ORDER BY n_co DESC,
             |               sp) AS BIGINT) AS rk
             |      FROM reach CROSS JOIN tot)
             |WHERE rk <= 10""".stripMargin)),

    /* Two-hop reach (`q_two_hop_reach`): audience estimation — for
     * each node, how many distinct nodes sit exactly two hops away
     * (friends-of-friends minus self and direct neighbors). Wedge
     * join + distinct + anti-join; candidates are bounded by
     * neighborhood products, never all-pairs. */
    // ── Two-hop reach on the 100-node circulant graph: wedge join on
    //    the symmetric adjacency, drop self and direct neighbors,
    //    count distinct endpoints per source.
    QueryDef("q_two_hop_reach",
      (s, d) => {
        val nodes = RingGraph.nodes(s, d)
        val dir = nodes.select(col("id").as("src"),
            ((col("id") + 1) % 100).as("dst"))
          .unionByName(nodes.filter(col("id") % 2 === 0)
            .select(col("id").as("src"),
              ((col("id") * 7 + 3) % 100).as("dst")))
        val adj = dir.select(col("src"), col("dst"))
          .unionByName(dir.select(col("dst").as("src"),
            col("src").as("dst")))
          .distinct().localCheckpoint(false)
        val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val two = adj.select(col("src").as("a"), col("dst").as("b"))
          .join(adj.select(col("src").as("b"), col("dst").as("c")), "b")
          .filter(col("c") =!= col("a"))
          .select(col("a"), col("c")).distinct()
          .join(adj.select(col("src").as("a"), col("dst").as("c")),
            Seq("a", "c"), "left_anti")
          .groupBy(col("a")).agg(count(lit(1)).as("reach2"))
        deg.join(two, deg("src") === two("a"), "left")
          .select(col("src").cast("long").as("id"),
            col("deg").cast("long").as("deg"),
            coalesce(col("reach2"), lit(0L)).cast("long").as("reach2"))
      },
      Some(s"""WITH nodes AS (${RingGraph.nodesSql}),
             |dir AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
             |        UNION ALL
             |        SELECT id AS src, (id * 7 + 3) % 100 AS dst
             |        FROM nodes WHERE id % 2 = 0),
             |adj AS (SELECT DISTINCT src, dst FROM (
             |          SELECT src, dst FROM dir
             |          UNION ALL SELECT dst AS src, src AS dst FROM dir)),
             |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
             |        FROM adj GROUP BY 1),
             |two AS (SELECT DISTINCT x.src AS a, y.dst AS c
             |        FROM adj x JOIN adj y ON x.dst = y.src
             |        WHERE y.dst <> x.src),
             |nn AS (SELECT t.a, t.c FROM two t
             |       LEFT JOIN adj ON adj.src = t.a AND adj.dst = t.c
             |       WHERE adj.src IS NULL),
             |r AS (SELECT a, CAST(count(*) AS BIGINT) AS reach2
             |      FROM nn GROUP BY 1)
             |SELECT CAST(d.src AS BIGINT) AS id, d.deg,
             |       CAST(coalesce(r.reach2, 0) AS BIGINT) AS reach2
             |FROM deg d LEFT JOIN r ON d.src = r.a""".stripMargin)),

    /* Handshake matching (`q_handshake_matching`): three unrolled
     * rounds of the classic distributed matching step — an edge joins
     * the matching iff it is the min-hash-priority edge at BOTH
     * endpoints; matched vertices drop out and the next round runs on
     * the residual graph. Per round: TWO per-endpoint min aggregates +
     * one equi-join — the O(1)-round primitive behind distributed
     * maximal matching (vs q_luby_mis's independent-set dual). Round
     * count is a fixed unroll: each round matches ≥ a constant
     * fraction in expectation; 3 rounds is the demo contract, the
     * residual edge count is reported honestly. */
    // ── Three handshake-matching rounds on the co-event graph.
    QueryDef("q_handshake_matching",
      (s, d) => {
        def round(edges: org.apache.spark.sql.DataFrame) = {
          val minA = edges.groupBy(col("a"))
            .agg(min(col("pri")).as("pa"))
          val minB = edges.groupBy(col("b"))
            .agg(min(col("pri")).as("pb"))
          val matched = edges.join(minA, "a").join(minB, "b")
            .where(col("pri") === col("pa") && col("pri") === col("pb"))
            .select(col("a"), col("b"))
            .localCheckpoint(false)
          val mv = matched.select(col("a").as("v"))
            .unionByName(matched.select(col("b").as("v")))
            .distinct()
            .localCheckpoint(false)
          val rest = edges
            .join(mv.select(col("v").as("a")), Seq("a"), "left_anti")
            .join(mv.select(col("v").as("b")), Seq("b"), "left_anti")
            .localCheckpoint(false)
          (matched, rest)
        }
        val e0 = Tables.events(s, d)
          .selectExpr("least(user_id % 500, event_id % 500) AS a",
            "greatest(user_id % 500, event_id % 500) AS b")
          .where(col("a") =!= col("b")).distinct()
          .selectExpr("a", "b",
            "md5(concat(CAST(a AS STRING), '_', CAST(b AS STRING)))" +
              " AS pri")
          .localCheckpoint(false)
        val (m1, r1) = round(e0)
        val (m2, r2) = round(r1)
        val (m3, r3) = round(r2)
        val nm = m1.unionByName(m2).unionByName(m3)
          .agg(count(lit(1)).as("matched_edges"))
        val stats = e0.agg(count(lit(1)).as("edges_total"))
        val rest = r3.agg(count(lit(1)).as("edges_residual"))
        val perRound = Seq(m1, m2, m3).zipWithIndex.map { case (m, i) =>
          m.agg(count(lit(1)).as("c"))
            .selectExpr(s"CAST(${i + 1} AS BIGINT) AS round", "c")
        }.reduce(_ unionByName _)
        perRound.crossJoin(broadcast(nm)).crossJoin(broadcast(stats))
          .crossJoin(broadcast(rest))
          .selectExpr("round", "c AS matched_in_round", "matched_edges",
            "edges_total", "edges_residual")
      },
      Some("""WITH e0 AS (
             |  SELECT a, b,
             |         md5(concat(CAST(a AS VARCHAR), '_',
             |           CAST(b AS VARCHAR))) AS pri
             |  FROM (SELECT DISTINCT
             |          least(user_id % 500, event_id % 500) AS a,
             |          greatest(user_id % 500, event_id % 500) AS b
             |        FROM events
             |        WHERE user_id % 500 <> event_id % 500)),
             |m1 AS MATERIALIZED (SELECT a, b FROM (
             |  SELECT e.a, e.b, e.pri,
             |         min(e.pri) OVER (PARTITION BY e.a) AS pa,
             |         min(e.pri) OVER (PARTITION BY e.b) AS pb
             |  FROM e0 e) WHERE pri = pa AND pri = pb),
             |v1 AS (SELECT a AS v FROM m1 UNION SELECT b FROM m1),
             |r1 AS MATERIALIZED (SELECT * FROM e0
             |  WHERE a NOT IN (SELECT v FROM v1)
             |    AND b NOT IN (SELECT v FROM v1)),
             |m2 AS MATERIALIZED (SELECT a, b FROM (
             |  SELECT e.a, e.b, e.pri,
             |         min(e.pri) OVER (PARTITION BY e.a) AS pa,
             |         min(e.pri) OVER (PARTITION BY e.b) AS pb
             |  FROM r1 e) WHERE pri = pa AND pri = pb),
             |v2 AS (SELECT a AS v FROM m2 UNION SELECT b FROM m2),
             |r2 AS MATERIALIZED (SELECT * FROM r1
             |  WHERE a NOT IN (SELECT v FROM v2)
             |    AND b NOT IN (SELECT v FROM v2)),
             |m3 AS MATERIALIZED (SELECT a, b FROM (
             |  SELECT e.a, e.b, e.pri,
             |         min(e.pri) OVER (PARTITION BY e.a) AS pa,
             |         min(e.pri) OVER (PARTITION BY e.b) AS pb
             |  FROM r2 e) WHERE pri = pa AND pri = pb),
             |v3 AS (SELECT a AS v FROM m3 UNION SELECT b FROM m3),
             |r3 AS (SELECT * FROM r2
             |  WHERE a NOT IN (SELECT v FROM v3)
             |    AND b NOT IN (SELECT v FROM v3)),
             |pr AS (SELECT CAST(1 AS BIGINT) AS round,
             |              CAST(count(*) AS BIGINT) AS c FROM m1
             |       UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM m2
             |       UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM m3),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS edges_total
             |        FROM e0),
             |nm AS (SELECT CAST(sum(c) AS BIGINT) AS matched_edges
             |       FROM pr),
             |rr AS (SELECT CAST(count(*) AS BIGINT) AS edges_residual
             |       FROM r3)
             |SELECT round, c AS matched_in_round, matched_edges,
             |       edges_total, edges_residual
             |FROM pr CROSS JOIN nm CROSS JOIN tot CROSS JOIN rr"""
        .stripMargin))
  )
}
