package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Graph, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-21 batch: corpus novelty scoring, hash-derandomized DeepWalk
  * corpus generation, and community modularity — each with an exact
  * DuckDB oracle twin.
  */
object Round21Queries {

  def defs: Seq[QueryDef] = Seq(

    // ── Novelty: fraction of each doc's distinct 3-shingles first seen
    //    in that doc (doc_id order). One shingle→min(doc_id) aggregate.
    QueryDef("q_novelty",
      (s, d) => TextAnalysis.noveltyScore(
        Tables.documents(s, d).select(col("doc_id"), col("text")), 3),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
             |           FROM documents),
             |sh0 AS (SELECT doc_id,
             |          unnest(list_transform(generate_series(1, len(ws) - 2),
             |            i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))) AS sh
             |        FROM t WHERE len(ws) >= 3),
             |shs AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM sh0),
             |fo AS (SELECT sh, min(doc_id) AS fdoc FROM shs GROUP BY sh)
             |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             |       CAST(sum(CASE WHEN f.fdoc = s.doc_id THEN 1 ELSE 0 END)
             |            AS BIGINT) AS novel,
             |       CAST(sum(CASE WHEN f.fdoc = s.doc_id THEN 1 ELSE 0 END)
             |            * 1000000 // count(*) AS BIGINT) AS novelty_e6
             |FROM shs s JOIN fo f ON f.sh = s.sh
             |GROUP BY s.doc_id""".stripMargin)),

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
        val head = RingGraph.sql +
          ",\nl0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)"
        val rounds = (1 to 4).map { i =>
          s"""r$i AS (SELECT v AS id, label FROM (
             |        SELECT v, label, row_number() OVER
             |            (PARTITION BY v ORDER BY cnt DESC, label ASC) AS rn
             |        FROM (SELECT adj.v, p.label, count(*) AS cnt
             |              FROM adj JOIN l${i - 1} p ON p.id = adj.u
             |              GROUP BY adj.v, p.label))
             |      WHERE rn = 1),
             |l$i AS MATERIALIZED (SELECT n.id, coalesce(r$i.label, n.label) AS label
             |      FROM l${i - 1} n LEFT JOIN r$i ON r$i.id = n.id)""".stripMargin
        }
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
        (head +: rounds.map("," + _)).mkString("\n") + ",\n" + tail
      })
  )
}
