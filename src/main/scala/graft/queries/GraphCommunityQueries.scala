package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link prediction and communities: neighborhood similarity scores, label
  * propagation, modularity, Louvain moves, conductance, and graph-embedding
  * walks. */
object GraphCommunityQueries extends QueryCatalog {

  import Fixtures._

  /** [[ringEdgesSql]] plus the undirected pairs `und` (a < b) and both
    * directions of them, `adj` (u, v). */
  private val ringAdjSql = ringEdgesSql +
    """,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e WHERE src <> dst),
      |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Common-neighbor link prediction on the undirected view of the
    //    test graph: distance-2 pairs scored by shared-neighbor count.
    QueryDef("q_common_neighbors",
      (s, d) => {
        val (_, edges) = RingGraph.directed(s, d)
        Graph.commonNeighbors(edges.select(col("src").as("a"), col("dst").as("b")), 2L)
      },
      Some(ringAdjSql +
        """,
          |wedge AS (SELECT l.u AS a, r.v AS b FROM adj l JOIN adj r
          |          ON l.v = r.u AND l.u < r.v),
          |scored AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common
          |           FROM wedge GROUP BY a, b)
          |SELECT s.a, s.b, s.n_common FROM scored s
          |LEFT JOIN und ON und.a = s.a AND und.b = s.b
          |WHERE und.a IS NULL AND s.n_common >= 2""".stripMargin)),

    // ── Resource-allocation link prediction: common neighbors weighted
    //    1/deg(z) as e6 truncating integers — hubs count less.
    QueryDef("q_resource_allocation",
      (s, d) => {
        val (_, edges) = RingGraph.directed(s, d)
        Graph.resourceAllocation(
          edges.select(col("src").as("a"), col("dst").as("b")), 2L)
      },
      Some(ringAdjSql +
        """,
          |deg AS (SELECT u AS z, count(*) AS degz FROM adj GROUP BY u),
          |wedge AS (SELECT l.u AS a, r.v AS b, 1000000 // deg.degz AS ra
          |          FROM adj l JOIN adj r ON l.v = r.u AND l.u < r.v
          |          JOIN deg ON deg.z = l.v),
          |scored AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
          |                  CAST(sum(ra) AS BIGINT) AS ra_e6
          |           FROM wedge GROUP BY a, b)
          |SELECT s.a, s.b, s.n_common, s.ra_e6 FROM scored s
          |LEFT JOIN und ON und.a = s.a AND und.b = s.b
          |WHERE und.a IS NULL AND s.n_common >= 2""".stripMargin)),

    // ── Adamic–Adar link prediction on the same graph: common neighbors
    //    weighted 1e6/log₂(deg) via the shared fixed-point log₂ — the
    //    middle ground between raw counts and 1/deg resource allocation.
    QueryDef("q_adamic_adar",
      (s, d) => {
        val (_, edges) = RingGraph.directed(s, d)
        Graph.adamicAdar(
          edges.select(col("src").as("a"), col("dst").as("b")), 2L)
      },
      Some(ringEdgesMatSql +
        s""",
           |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |        FROM e WHERE src <> dst),
           |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
           |deg AS (SELECT u AS z, CAST(count(*) AS BIGINT) AS degz FROM adj GROUP BY u),
           |wedge AS (SELECT l.u AS a, r.v AS b,
           |                 1000000000000 // ${Bm25.log2E6Sql("deg.degz")} AS aa
           |          FROM adj l JOIN adj r ON l.v = r.u AND l.u < r.v
           |          JOIN deg ON deg.z = l.v),
           |scored AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
           |                  CAST(sum(aa) AS BIGINT) AS aa_e6
           |           FROM wedge GROUP BY a, b)
           |SELECT s.a, s.b, s.n_common, s.aa_e6 FROM scored s
           |LEFT JOIN und ON und.a = s.a AND und.b = s.b
           |WHERE und.a IS NULL AND s.n_common >= 2""".stripMargin)),

    // ── Synchronous label-propagation communities, 4 rounds,
    //    deterministic (count desc, label asc) tie-break; oracle is the
    //    unrolled 4-round SQL replay.
    QueryDef("q_label_prop",
      (s, d) => {
        val (nodes, edges) = RingGraph.simple(s, d)
        Graph.labelPropagation(nodes, edges, 4)
      },
      Some(RingGraph.labelPropSql +
        "\nSELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label FROM l4")),

    // ── Edge embeddedness: neighborhood Jaccard of each adjacent pair
    //    on the undirected ring graph — the tie-strength score.
    QueryDef("q_edge_jaccard",
      (s, d) => {
        val (_, edges) = RingGraph.directed(s, d)
        Graph.edgeJaccard(edges.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b")))
      },
      Some(ringAdjSql +
        """,
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
          |common AS (SELECT l.v AS x, r.v AS y, CAST(count(*) AS BIGINT) AS c
          |           FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
          |           GROUP BY 1, 2),
          |j AS (SELECT und.a, und.b, coalesce(common.c, 0) AS n_common
          |      FROM und LEFT JOIN common ON common.x = und.a AND common.y = und.b)
          |SELECT j.a, j.b, j.n_common,
          |       CAST(j.n_common * 1000000 // (da.d + db.d - j.n_common) AS BIGINT) AS jac_e6
          |FROM j JOIN deg da ON da.u = j.a JOIN deg db ON db.u = j.b""".stripMargin)),

    // ── DeepWalk corpus: a 6-hop walk from every ring-graph node, the
    //    neighbor choice at each step a pure hash of (start, step) —
    //    bit-reproducible in any engine, no RNG state.
    QueryDef("q_deepwalk",
      (s, d) => {
        val (_, edges) = RingGraph.simple(s, d)
        Graph.deepwalkVisits(edges, 6)
      },
      Some {
        val head = RingGraph.sql +
          """,
            |adjr AS MATERIALIZED (
            |  SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY v) AS rk,
            |         count(*) OVER (PARTITION BY u) AS deg
            |  FROM adj),
            |w0 AS MATERIALIZED (SELECT DISTINCT u AS start, u AS cur FROM adj)""".stripMargin
        val steps = (1 to 6).map { st =>
          val h = PortableSql.hash48(
            s"concat(CAST(w.start AS VARCHAR), ':', '$st')", "'walk'")
          s"""w$st AS MATERIALIZED (
             |  SELECT w.start, a.v AS cur
             |  FROM w${st - 1} w JOIN adjr a
             |    ON a.u = w.cur AND a.rk = ($h % a.deg) + 1)""".stripMargin
        }
        val unions = (1 to 6).map { st =>
          s"SELECT CAST(start AS BIGINT) AS start, CAST($st AS BIGINT) AS step, CAST(cur AS BIGINT) AS node FROM w$st"
        }
        (head +: steps.map("," + _)).mkString("\n") + "\n" +
          unions.mkString("\nUNION ALL\n")
      }),

    // ── Modularity of the 4-round label-propagation communities on the
    //    ring graph: all-integer Q via one global numerator and one
    //    sign-factored e6 division.
    QueryDef("q_modularity",
      (s, d) => {
        val (nodes, edges) = RingGraph.simple(s, d)
        Graph.modularity(edges, Graph.labelPropagation(nodes, edges, 4))
      },
      Some {
        val tail =
          """j AS (SELECT adj.u, adj.v, pu.label AS lu, pv.label AS lv
            |      FROM adj JOIN l4 pu ON pu.id = adj.u
            |               JOIN l4 pv ON pv.id = adj.v),
            |perc AS (SELECT lu, count(*) AS deg_c,
            |                sum(CASE WHEN lu = lv THEN 1 ELSE 0 END) AS in2_c
            |         FROM j GROUP BY lu),
            |tot AS (SELECT sum(deg_c) AS aa FROM perc),
            |ag AS (SELECT count(*) AS n_comms, max(aa) AS aa,
            |              sum(aa * in2_c - deg_c * deg_c) AS num
            |       FROM perc, tot)
            |SELECT CAST(n_comms AS BIGINT) AS n_comms,
            |       CAST(aa // 2 AS BIGINT) AS m_edges,
            |       CAST(CASE WHEN num < 0
            |              THEN -((-num) * 1000000 // (aa * aa))
            |              ELSE num * 1000000 // (aa * aa) END AS BIGINT) AS q_e6
            |FROM ag""".stripMargin
        RingGraph.labelPropSql + ",\n" + tail
      }),

    // ── Two-hop mean aggregation on the ring graph, features x = id·100.
    QueryDef("q_gnn_aggregate",
      (s, d) => {
        val (nodes, edges) = RingGraph.simple(s, d)
        Graph.gnnAggregate(edges, nodes.select(col("id"),
          (col("id") * 100L).as("x")))
      },
      Some(RingGraph.sql +
        """,
          |feats AS (SELECT id, id * 100 AS x FROM nodes),
          |h1 AS MATERIALIZED (
          |  SELECT a.u AS id, CAST(count(*) AS BIGINT) AS deg,
          |         CAST(sum(f.x) * 1000000 // count(*) AS BIGINT) AS h1_e6
          |  FROM adj a JOIN feats f ON f.id = a.v GROUP BY a.u),
          |h2 AS (SELECT a.u AS id, CAST(count(*) AS BIGINT) AS deg,
          |              CAST(sum(n.h1_e6) AS BIGINT) AS sh
          |       FROM adj a JOIN h1 n ON n.id = a.v GROUP BY a.u)
          |SELECT h2.id, h2.deg, h1.h1_e6,
          |       CAST(h2.sh // h2.deg AS BIGINT) AS h2_e6
          |FROM h2 JOIN h1 ON h1.id = h2.id""".stripMargin)),

    // ── Neighborhood Jaccard per ring-graph edge — wedge-join common
    //    counts, never an all-pairs product.
    QueryDef("q_jaccard_edges",
      (s, d) => {
        val (_, edges) = RingGraph.simple(s, d)
        Graph.neighborJaccard(edges)
      },
      Some(RingGraph.sql +
        """,
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
          |        FROM adj GROUP BY u),
          |cm AS (SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS common
          |       FROM und e
          |       JOIN adj na ON na.u = e.a
          |       JOIN adj nb ON nb.u = e.b AND nb.v = na.v
          |       GROUP BY 1, 2)
          |SELECT e.a, e.b, da.deg AS deg_a, db.deg AS deg_b,
          |       coalesce(cm.common, 0) AS common,
          |       CAST(coalesce(cm.common, 0) * 1000000
          |            // (da.deg + db.deg - coalesce(cm.common, 0))
          |         AS BIGINT) AS j_e6
          |FROM und e
          |JOIN deg da ON da.u = e.a
          |JOIN deg db ON db.u = e.b
          |LEFT JOIN cm ON cm.a = e.a AND cm.b = e.b""".stripMargin)),

    // ── Conductance sweep: cuts at id < {125, 250, 375} on the event
    //    digraph; φ = cut / min(vol_S, vol_S̄), exact e6.
    QueryDef("q_conductance",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(least(col("user_id") % 500, col("event_id") % 500).as("a"),
            greatest(col("user_id") % 500, col("event_id") % 500).as("b"))
          .where(col("a") =!= col("b")).distinct()
          .localCheckpoint(false)
        Seq(125L, 250L, 375L).map { c =>
          e.agg(
              sum(when((col("a") < c) =!= (col("b") < c), 1L).otherwise(0L))
                .as("cut"),
              sum(when(col("a") < c, 1L).otherwise(0L) +
                when(col("b") < c, 1L).otherwise(0L)).as("vol_s"),
              count(lit(1)).as("m"))
            .select(lit(c).as("cut_at"), col("cut"), col("vol_s"),
              (col("m") * 2 - col("vol_s")).as("vol_rest"),
              expr("cut * 1000000 div greatest(least(vol_s, m * 2 - vol_s)," +
                " 1)").as("phi_e6"))
        }.reduce(_ unionByName _)
      },
      Some {
        def piece(c: Long) =
          s"""SELECT CAST($c AS BIGINT) AS cut_at,
             |       CAST(sum(CASE WHEN (a < $c) <> (b < $c) THEN 1
             |                     ELSE 0 END) AS BIGINT) AS cut,
             |       CAST(sum((CASE WHEN a < $c THEN 1 ELSE 0 END)
             |                + (CASE WHEN b < $c THEN 1 ELSE 0 END))
             |         AS BIGINT) AS vol_s,
             |       CAST(count(*) AS BIGINT) * 2
             |         - CAST(sum((CASE WHEN a < $c THEN 1 ELSE 0 END)
             |                + (CASE WHEN b < $c THEN 1 ELSE 0 END))
             |             AS BIGINT) AS vol_rest,
             |       CAST(sum(CASE WHEN (a < $c) <> (b < $c) THEN 1
             |                     ELSE 0 END) AS BIGINT) * 1000000
             |         // greatest(least(
             |              CAST(sum((CASE WHEN a < $c THEN 1 ELSE 0 END)
             |                   + (CASE WHEN b < $c THEN 1 ELSE 0 END))
             |                AS BIGINT),
             |              CAST(count(*) AS BIGINT) * 2
             |              - CAST(sum((CASE WHEN a < $c THEN 1 ELSE 0 END)
             |                     + (CASE WHEN b < $c THEN 1 ELSE 0 END))
             |                  AS BIGINT)), 1) AS phi_e6
             |FROM e""".stripMargin
        s"""WITH e AS (
           |  SELECT DISTINCT least(user_id % 500, event_id % 500) AS a,
           |         greatest(user_id % 500, event_id % 500) AS b
           |  FROM events WHERE user_id % 500 <> event_id % 500)
           |${Seq(125L, 250L, 375L).map(piece).mkString("\nUNION ALL\n")}"""
          .stripMargin
      }),

    // ── One synchronous Louvain move round on the 100-node circulant
    //    test graph (parallel-edge multiplicity = edge weight): every
    //    node starts in its own singleton community and adopts
    //    argmax_j of score = 2m·w(i,j) − k_i·k_j when positive (the
    //    exact singleton-case modularity gain, scaled by 2m²), ties →
    //    smallest neighbor id. Candidates are only graph neighbors —
    //    no all-pairs term at any scale.
    QueryDef("q_louvain_pass",
      (s, d) => {
        val nodes = RingGraph.nodes(s, d)
        val dir = nodes.select(col("id").as("src"),
            ((col("id") + 1) % 100).as("dst"))
          .unionByName(nodes.filter(col("id") % 2 === 0)
            .select(col("id").as("src"),
              ((col("id") * 7 + 3) % 100).as("dst")))
        // checkpoint the tiny symmetric adjacency + degree frames so the
        // three consumers below don't each replay the scan→agg lineage
        val und = dir
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
          .localCheckpoint(false)
        val adj = und.select(col("u").as("i"), col("v").as("j"), col("w"))
          .unionByName(und.select(col("v").as("i"), col("u").as("j"),
            col("w")))
        val deg = adj.groupBy(col("i")).agg(sum(col("w")).as("k"))
          .localCheckpoint(false)
        val m2 = deg.agg(sum(col("k")).as("m2"))
        val scored = adj
          .join(broadcast(deg), "i")
          .join(broadcast(deg.select(col("i").as("j"), col("k").as("kj"))),
            "j")
          .crossJoin(broadcast(m2))
          .select(col("i"), col("j"),
            (col("m2") * col("w") - col("k") * col("kj")).as("score"))
        import org.apache.spark.sql.expressions.Window
        val pick = scored.withColumn("rk",
            row_number().over(Window.partitionBy(col("i"))
              .orderBy(col("score").desc, col("j"))))
          .filter(col("rk") === 1)
          .select(col("i"),
            when(col("score") > 0L, col("j")).otherwise(col("i"))
              .as("comm"))
        nodes.join(broadcast(pick), nodes("id") === pick("i"), "left")
          .select(nodes("id").cast("long").as("id"),
            coalesce(col("comm"), nodes("id")).cast("long").as("comm"))
          .orderBy(col("id"))
      },
      Some(s"""WITH nodes AS (${RingGraph.nodesSql}),
             |dir AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
             |        UNION ALL
             |        SELECT id AS src, (id * 7 + 3) % 100 AS dst
             |        FROM nodes WHERE id % 2 = 0),
             |und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
             |               CAST(count(*) AS BIGINT) AS w
             |        FROM dir GROUP BY 1, 2),
             |adj AS (SELECT u AS i, v AS j, w FROM und
             |        UNION ALL SELECT v AS i, u AS j, w FROM und),
             |deg AS (SELECT i, CAST(sum(w) AS BIGINT) AS k FROM adj GROUP BY 1),
             |m2 AS (SELECT CAST(sum(k) AS BIGINT) AS m2 FROM deg),
             |scored AS (SELECT a.i, a.j,
             |             m2.m2 * a.w - di.k * dj.k AS score
             |           FROM adj a JOIN deg di ON a.i = di.i
             |           JOIN deg dj ON a.j = dj.i CROSS JOIN m2),
             |pick AS (SELECT i, CASE WHEN score > 0 THEN j ELSE i END AS comm
             |         FROM scored
             |         QUALIFY row_number() OVER (PARTITION BY i
             |           ORDER BY score DESC, j) = 1)
             |SELECT CAST(n.id AS BIGINT) AS id,
             |       CAST(COALESCE(p.comm, n.id) AS BIGINT) AS comm
             |FROM nodes n LEFT JOIN pick p ON n.id = p.i
             |ORDER BY id""".stripMargin))
  )
}
