package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Behavior, Graph, Recsys, Stats}
import org.apache.spark.sql.functions._

/** Round-22 batch: item-item collaborative filtering, B-cubed cluster
  * quality, and Markov removal-effect attribution — each with an exact
  * DuckDB oracle twin.
  */
object Round22Queries {

  private val mkChannels = Seq("view", "click", "signup", "error")

  /** One absorbing-chain value-iteration unroll (8 rounds) for the
    * oracle — `removed` = None for the full chain. */
  private def chainSql(tag: String, removed: Option[String]): String = {
    val redirect = removed match {
      case Some(c) =>
        s"""t$tag AS MATERIALIZED (
           |  SELECT src, CASE WHEN dst = '$c' THEN 'null' ELSE dst END AS dst,
           |         prob_e6
           |  FROM trans WHERE src <> '$c')""".stripMargin
      case None =>
        s"t$tag AS MATERIALIZED (SELECT src, dst, prob_e6 FROM trans)"
    }
    val p0 =
      s"""p${tag}0 AS (SELECT s.st,
         |  CASE WHEN s.st = 'conv' THEN 1000000 ELSE 0 END AS pv
         |  FROM (VALUES ('start'), ('conv'), ('null'),
         |        ${mkChannels.map(c => s"('$c')").mkString(", ")}) s(st))""".stripMargin
    val rounds = (1 to 8).map { i =>
      s"""p$tag$i AS MATERIALIZED (
         |  SELECT t.src AS st,
         |         CAST(sum(t.prob_e6 * p.pv) // 1000000 AS BIGINT) AS pv
         |  FROM t$tag t JOIN p$tag${i - 1} p ON p.st = t.dst
         |  GROUP BY t.src
         |  UNION ALL SELECT 'conv', 1000000
         |  UNION ALL SELECT 'null', 0)""".stripMargin
    }
    (redirect +: p0 +: rounds).mkString(",\n")
  }

  def defs: Seq[QueryDef] = Seq(

    // ── Item-item CF over order baskets: pairs sharing ≥ 2 orders,
    //    exact e12 squared cosine, top-5 recs per part.
    QueryDef("q_item_cf",
      (s, d) => Recsys.itemCf(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i")),
        "b", "i", 2L, 5),
      Some(Round22Queries.itemCfSql)),

    // ── B-cubed quality of the 4-round label-prop communities against
    //    the decade ground truth (id div 10) on the ring graph.
    QueryDef("q_bcubed",
      (s, d) => {
        val (nodes, edges) = RingGraph.simple(s, d)
        Stats.bcubed(Graph.labelPropagation(nodes, edges, 4)
          .select(col("id"), col("label").as("cluster"),
            expr("id div 10").as("truth")))
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
          """asg AS (SELECT id, label AS cluster, id // 10 AS truth FROM l4),
            |cells AS (SELECT cluster, truth, count(*) AS sct
            |          FROM asg GROUP BY 1, 2),
            |csz AS (SELECT cluster, sum(sct) AS sc FROM cells GROUP BY 1),
            |tsz AS (SELECT truth, sum(sct) AS st FROM cells GROUP BY 1),
            |ag AS (SELECT sum(sct) AS n,
            |         sum(sct * (sct * 1000000 // sc)) AS psum,
            |         sum(sct * (sct * 1000000 // st)) AS rsum
            |       FROM cells JOIN csz USING (cluster) JOIN tsz USING (truth)),
            |pr AS (SELECT CAST(n AS BIGINT) AS n,
            |         CAST(psum // n AS BIGINT) AS precision_e6,
            |         CAST(rsum // n AS BIGINT) AS recall_e6
            |       FROM ag)
            |SELECT n, precision_e6, recall_e6,
            |       CASE WHEN precision_e6 + recall_e6 = 0 THEN 0
            |            ELSE CAST(2 * precision_e6 * recall_e6
            |                 // (precision_e6 + recall_e6) AS BIGINT)
            |       END AS f1_e6
            |FROM pr""".stripMargin
        (head +: rounds.map("," + _)).mkString("\n") + ",\n" + tail
      }),

    // ── Markov removal-effect attribution over user journeys
    //    (channels → first purchase), 8 value-iteration rounds.
    QueryDef("q_markov_attribution",
      (s, d) => Behavior.markovAttribution(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_id", "event_type", "purchase",
        mkChannels, 8),
      Some {
        val evHead =
          s"""WITH ev AS MATERIALIZED (
             |  SELECT user_id AS u, epoch_us(ts) AS t, event_id AS tie,
             |         event_type AS et
             |  FROM events
             |  WHERE event_type IN ('purchase',
             |        ${mkChannels.map(c => s"'$c'").mkString(", ")})),
             |cp AS (SELECT u, t AS ct, tie AS ctie FROM (
             |         SELECT u, t, tie, row_number() OVER
             |           (PARTITION BY u ORDER BY t, tie) AS rn
             |         FROM ev WHERE et = 'purchase') WHERE rn = 1),
             |chans AS MATERIALIZED (
             |  SELECT e.u, e.t, e.tie, e.et, cp.u IS NOT NULL AS converted
             |  FROM ev e LEFT JOIN cp ON cp.u = e.u
             |  WHERE e.et <> 'purchase'
             |    AND (cp.u IS NULL OR e.t < cp.ct
             |         OR (e.t = cp.ct AND e.tie < cp.ctie))),
             |steps AS (SELECT coalesce(lag(et) OVER
             |            (PARTITION BY u ORDER BY t, tie), 'start') AS src,
             |            et AS dst FROM chans),
             |terms AS (SELECT et AS src,
             |            CASE WHEN converted THEN 'conv' ELSE 'null' END AS dst
             |          FROM (SELECT u, et, converted, row_number() OVER
             |                  (PARTITION BY u ORDER BY t DESC, tie DESC) AS rn
             |                FROM chans) WHERE rn = 1),
             |directs AS (SELECT 'start' AS src, 'conv' AS dst FROM cp
             |            WHERE u NOT IN (SELECT DISTINCT u FROM chans)),
             |trans AS MATERIALIZED (
             |  SELECT src, dst,
             |         CAST(count(*) * 1000000 //
             |              sum(count(*)) OVER (PARTITION BY src) AS BIGINT)
             |           AS prob_e6
             |  FROM (SELECT * FROM steps UNION ALL SELECT * FROM terms
             |        UNION ALL SELECT * FROM directs)
             |  GROUP BY src, dst)""".stripMargin
        val chains = chainSql("f", None) +: mkChannels.map(c =>
          chainSql(s"r$c", Some(c)))
        val rows = mkChannels.map { c =>
          s"""SELECT '$c' AS channel,
             |  (SELECT pv FROM pf8 WHERE st = 'start') AS p_full_e6,
             |  (SELECT pv FROM pr${c}8 WHERE st = 'start') AS p_removed_e6,
             |  CASE WHEN (SELECT pv FROM pf8 WHERE st = 'start') = 0 THEN 0
             |       ELSE ((SELECT pv FROM pf8 WHERE st = 'start')
             |             - (SELECT pv FROM pr${c}8 WHERE st = 'start'))
             |            * 1000000
             |            // (SELECT pv FROM pf8 WHERE st = 'start')
             |  END AS removal_e6""".stripMargin
        }
        (evHead +: chains).mkString(",\n") + "\n" +
          rows.mkString("\nUNION ALL\n")
      })
  )

  /** Oracle twin of Recsys.itemCf over lineitem baskets — shared with
    * q_rec_coverage (Round45). Mirrors the engine's deterministic
    * mega-basket skew cap (smallest 256 item ids per basket; a no-op on
    * lineitem's ≤7-item baskets but part of the operator contract). */
  private[queries] val itemCfSql: String =
    """WITH bi AS MATERIALIZED (
      |  SELECT b, i FROM (
      |    SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i)
      |             AS brk
      |    FROM (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
      |          FROM lineitem))
      |  WHERE brk <= 256),
      |itot AS (SELECT i, count(*) AS ci FROM bi GROUP BY i),
      |co AS (SELECT x.i AS item, y.i AS rec, count(*) AS n_co
      |       FROM bi x JOIN bi y ON x.b = y.b AND x.i <> y.i
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |sc AS (SELECT item, rec, n_co,
      |         CAST(n_co * n_co * 1000000000000 // (a.ci * b.ci)
      |              AS BIGINT) AS cos2_e12
      |       FROM co JOIN itot a ON a.i = co.item
      |               JOIN itot b ON b.i = co.rec),
      |rk AS (SELECT item, rec, n_co, cos2_e12, row_number() OVER
      |         (PARTITION BY item ORDER BY cos2_e12 DESC, rec) AS rk
      |       FROM sc)
      |SELECT item, rec, CAST(n_co AS BIGINT) AS n_co, cos2_e12,
      |       CAST(rk AS BIGINT) AS rk
      |FROM rk WHERE rk <= 5""".stripMargin
}
