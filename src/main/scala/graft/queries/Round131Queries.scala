package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.Bm25
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-131 batch: structural graph summaries — degree-distribution
  * entropy of the DATA-SIZED supplier↔part bipartite graph (how
  * concentrated is connectivity; pure keyed aggregates, so the 100 TB
  * path is the same plan), Borgatti–Everett-style core/periphery block
  * densities on the shared ring graph (top-decile degree core), and
  * the clustering spectrum (mean local clustering by degree — the
  * degree-resolved view of q_local_clustering / q_transitivity).
  * Entropies are fixed-point integer log₂ ([[graft.ops.Bm25.log2E6]]);
  * densities are exact e6 divs.
  */
object Round131Queries {

  def defs: Seq[QueryDef] = Seq(

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
          |FROM cc GROUP BY 1""".stripMargin))
  )
}
