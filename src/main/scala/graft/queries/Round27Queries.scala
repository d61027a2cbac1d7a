package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Graph, Mobility, Similarity}
import org.apache.spark.sql.functions._

/** Round-27 batch: k-NN classification over embeddings, a GraphSAGE-
  * style two-hop aggregation, and radius of gyration — each with an
  * exact DuckDB oracle twin.
  */
object Round27Queries {

  def defs: Seq[QueryDef] = Seq(

    // ── 5-NN classifier on fold 0, exact e12 integer L2 — the lazy-
    //    learner counterpart of q_naive_bayes, confusion-matrix output.
    QueryDef("q_knn_classify",
      (s, d) => Similarity.knnClassify(Tables.embeddings(s, d), 5),
      Some("""WITH q AS MATERIALIZED (
             |  SELECT vec_id, CAST(label AS BIGINT) AS label,
             |         list_transform(CAST(embedding AS DOUBLE[]),
             |           x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
             |  FROM embeddings),
             |pairs AS (
             |  SELECT t.vec_id, t.label, r.vec_id AS tid, r.label AS tlabel,
             |         list_sum(list_transform(generate_series(1, len(t.qv)),
             |           i -> (t.qv[i] - r.qv[i]) * (t.qv[i] - r.qv[i])))
             |           AS d2_e12
             |  FROM q t JOIN q r
             |    ON t.vec_id % 5 = 0 AND r.vec_id % 5 <> 0),
             |top AS (SELECT vec_id, label, tlabel FROM (
             |          SELECT vec_id, label, tlabel, row_number() OVER
             |            (PARTITION BY vec_id ORDER BY d2_e12, tid) AS rk
             |          FROM pairs) WHERE rk <= 5),
             |votes AS (SELECT vec_id, label, tlabel, count(*) AS v
             |          FROM top GROUP BY 1, 2, 3),
             |pred AS (SELECT vec_id, label, tlabel AS pred FROM (
             |           SELECT vec_id, label, tlabel, row_number() OVER
             |             (PARTITION BY vec_id ORDER BY v DESC, tlabel) AS rn
             |           FROM votes) WHERE rn = 1)
             |SELECT label, pred, CAST(count(*) AS BIGINT) AS n_vecs
             |FROM pred GROUP BY 1, 2""".stripMargin)),

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

    // ── Radius of gyration per vehicle (planar, degree² units).
    QueryDef("q_radius_gyration",
      (s, d) => Mobility.radiusOfGyration(Tables.positions(s, d)),
      Some(s"""WITH pts AS (
              |  SELECT vehicleId AS veh,
              |         CAST(floor(lat * 100 + 0.5) AS HUGEINT) AS x,
              |         CAST(floor(lon * 100 + 0.5) AS HUGEINT) AS y
              |  FROM ${Tables.positionsSql} p),
              |m AS (SELECT veh, CAST(count(*) AS HUGEINT) AS n,
              |             sum(x) AS sx, sum(y) AS sy
              |      FROM pts GROUP BY veh),
              |ss AS (SELECT p.veh, max(m.n) AS n,
              |         sum((m.n * p.x - m.sx) * (m.n * p.x - m.sx)
              |           + (m.n * p.y - m.sy) * (m.n * p.y - m.sy)) AS ss
              |       FROM pts p JOIN m ON m.veh = p.veh
              |       GROUP BY p.veh)
              |SELECT veh, CAST(n AS BIGINT) AS n,
              |       round(CAST(ss AS DOUBLE) /
              |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              |          * CAST('10000.0' AS DOUBLE)), 6) AS rog2
              |FROM ss""".stripMargin))
  )
}
