package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Graph, Sampling}
import org.apache.spark.sql.functions._

/** Round-29 batch: harmonic centrality, per-edge neighborhood Jaccard
  * (link prediction), and deterministic weight-biased sampling — each
  * integer-exact with a DuckDB oracle twin.
  */
object Round29Queries {

  def defs: Seq[QueryDef] = Seq(

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

    // ── Deterministic weight-biased bottom-10 sample of documents,
    //    weight = n_chars (longer docs more likely selected).
    QueryDef("q_weighted_sample",
      (s, d) => Sampling.weightedPriority(
        Tables.documents(s, d), "doc_id", "n_chars", "ws", 10),
      Some(s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
              |       CAST(${PortableSql.hash48(
                       "CAST(doc_id AS VARCHAR)", "'ws'")}
              |            // greatest(n_chars, 1) AS BIGINT) AS pri
              |FROM documents
              |ORDER BY pri, doc_id LIMIT 10""".stripMargin))
  )
}
