package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Classify, Graph, TimeSeries}
import org.apache.spark.sql.functions._

/** Round-43 batch: Jones–Plassmann greedy coloring (the scheduling
  * primitive the graph family lacked), a token-bucket rate-limiter
  * replay (the batch twin of a mapGroupsWithState admission controller),
  * per-type daily volume anomaly flags (the ops-monitoring z² scan), and
  * per-class precision/recall/F1 over the shared Naive-Bayes confusion
  * matrix.
  */
object Round43Queries {

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

  def defs: Seq[QueryDef] = Seq(

    // ── Greedy coloring, 6 synchronous rounds on the ring graph; the
    //    oracle replays every round bit-for-bit.
    QueryDef("q_graph_coloring",
      (s, d) => {
        val (nodes, edges) = RingGraph.simple(s, d)
        Graph.jonesPlassmann(nodes, edges, 6)
      },
      Some(jpSql(6))),

    // ── Token-bucket admission replay per user: cap 3 tokens, one
    //    token per DAY of accumulated gap, one token per event — tuned
    //    so this corpus (~2.2 events/user/day) exercises BOTH branches
    //    (roughly half admitted, half rejected). The fold state is a
    //    packed long; both engines replay the identical fold.
    QueryDef("q_token_bucket",
      (s, d) => TimeSeries.tokenBucketReplay(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_id", 3L, 86400L),
      // Constants: tok = 86400e6 µs (one token), cap = 3 tok =
      // 259200000000 µs, packed scale 2^40 = 1099511627776.
      Some("""WITH e AS (
             |  SELECT user_id AS key, epoch_us(ts) AS t, event_id AS tie
             |  FROM events),
             |g AS (
             |  SELECT key, t, tie,
             |         coalesce(t - lag(t) OVER (PARTITION BY key
             |                    ORDER BY t, tie), 0) AS dt
             |  FROM e),
             |f AS (
             |  SELECT key, count(*) AS n_events,
             |         list_reduce(
             |           list_prepend(CAST(259200000000 AS BIGINT),
             |                        list(dt ORDER BY t, tie)),
             |           (acc, x) -> CASE
             |             WHEN least(259200000000, acc % 1099511627776 + x)
             |                  >= 86400000000
             |             THEN (acc // 1099511627776 + 1) * 1099511627776
             |                  + least(259200000000,
             |                          acc % 1099511627776 + x)
             |                  - 86400000000
             |             ELSE (acc // 1099511627776) * 1099511627776
             |                  + least(259200000000,
             |                          acc % 1099511627776 + x)
             |           END) AS st
             |  FROM g GROUP BY key)
             |SELECT key, CAST(n_events AS BIGINT) AS n_events,
             |       CAST(st // 1099511627776 AS BIGINT) AS admitted,
             |       CAST(n_events - st // 1099511627776 AS BIGINT)
             |         AS rejected,
             |       CAST((st % 1099511627776) // 86400000000 AS BIGINT)
             |         AS tokens_left
             |FROM f""".stripMargin)),

    // ── Daily volume anomaly per event type: exact-integer z² against
    //    the type's own daily distribution, flag at |z| > 2 (z²·den
    //    comparison — no square roots). The row-count monitor every
    //    ingest pipeline runs.
    QueryDef("q_volume_anomaly",
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(col("event_type").as("k"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("c"))
        val m = daily.groupBy(col("k"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
            sum(col("c") * col("c")).as("q"))
        daily.join(broadcast(m), Seq("k"))
          .select(col("k"), col("day"), col("c"),
            expr("""CASE WHEN n * q - s * s = 0 THEN 0
                   |ELSE (n * c - s) * (n * c - s) * 1000000
                   |     div (n * q - s * s) END""".stripMargin).as("z2_e6"),
            expr("""CAST((n * c - s) * (n * c - s) > 4 * (n * q - s * s)
                   |AS BIGINT)""".stripMargin).as("anomaly"))
      },
      Some("""WITH daily AS (
             |  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS day,
             |         count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |m AS (
             |  SELECT k, count(*) AS n, sum(c) AS s, sum(c * c) AS q
             |  FROM daily GROUP BY 1)
             |SELECT daily.k, CAST(day AS BIGINT) AS day,
             |       CAST(c AS BIGINT) AS c,
             |       CAST(CASE WHEN n * q - s * s = 0 THEN 0
             |            ELSE (n * c - s) * (n * c - s) * 1000000
             |                 // (n * q - s * s) END AS BIGINT) AS z2_e6,
             |       CAST(CASE WHEN (n * c - s) * (n * c - s)
             |                      > 4 * (n * q - s * s)
             |                 THEN 1 ELSE 0 END AS BIGINT) AS anomaly
             |FROM daily JOIN m ON daily.k = m.k""".stripMargin)),

    // ── Per-class precision / recall / F1 in e6 over the shared
    //    Naive-Bayes confusion matrix (one derived aggregate on a
    //    k×k frame; the model pipeline is the shared one).
    QueryDef("q_confusion_metrics",
      (s, d) => {
        val conf = Classify.naiveBayesConfusion(
          Tables.documents(s, d), "doc_id", "lang", "text", 0L)
          .localCheckpoint(false) // k×k frame feeds 2 marginals
        val byLabel = conf.groupBy(col("label"))
          .agg(sum(col("n_docs")).as("n_label"))
        val byPred = conf.groupBy(col("pred"))
          .agg(sum(col("n_docs")).as("n_pred"))
        conf.filter(col("label") === col("pred"))
          .select(col("label").as("cls"), col("n_docs").as("tp"))
          .join(byLabel, col("cls") === col("label"), "right")
          .select(col("label").as("cls"),
            coalesce(col("tp"), lit(0L)).as("tp"), col("n_label"))
          .join(byPred, col("cls") === col("pred"), "left")
          .select(col("cls"), col("tp"), col("n_label"),
            coalesce(col("n_pred"), lit(0L)).as("n_pred"))
          .withColumn("precision_e6",
            expr("CASE WHEN n_pred = 0 THEN 0 "
              + "ELSE tp * 1000000 div n_pred END"))
          .withColumn("recall_e6",
            expr("CASE WHEN n_label = 0 THEN 0 "
              + "ELSE tp * 1000000 div n_label END"))
          .withColumn("f1_e6",
            expr("CASE WHEN precision_e6 + recall_e6 = 0 THEN 0 "
              + "ELSE 2 * precision_e6 * recall_e6 "
              + "div (precision_e6 + recall_e6) END"))
      },
      Some(s"""WITH conf AS (${Round18Queries.nbConfusionSql}),
              |bl AS (SELECT label, sum(n_docs) AS n_label
              |       FROM conf GROUP BY 1),
              |bp AS (SELECT pred, sum(n_docs) AS n_pred
              |       FROM conf GROUP BY 1),
              |tp AS (SELECT label AS cls, n_docs AS tp FROM conf
              |       WHERE label = pred),
              |j AS (
              |  SELECT bl.label AS cls, coalesce(tp.tp, 0) AS tp,
              |         bl.n_label, coalesce(bp.n_pred, 0) AS n_pred
              |  FROM bl LEFT JOIN tp ON tp.cls = bl.label
              |          LEFT JOIN bp ON bp.pred = bl.label),
              |pr AS (
              |  SELECT cls, tp, n_label, n_pred,
              |         CASE WHEN n_pred = 0 THEN 0
              |              ELSE tp * 1000000 // n_pred END AS precision_e6,
              |         CASE WHEN n_label = 0 THEN 0
              |              ELSE tp * 1000000 // n_label END AS recall_e6
              |  FROM j)
              |SELECT cls, CAST(tp AS BIGINT) AS tp,
              |       CAST(n_label AS BIGINT) AS n_label,
              |       CAST(n_pred AS BIGINT) AS n_pred,
              |       CAST(precision_e6 AS BIGINT) AS precision_e6,
              |       CAST(recall_e6 AS BIGINT) AS recall_e6,
              |       CAST(CASE WHEN precision_e6 + recall_e6 = 0 THEN 0
              |            ELSE 2 * precision_e6 * recall_e6
              |                 // (precision_e6 + recall_e6) END
              |            AS BIGINT) AS f1_e6
              |FROM pr""".stripMargin))
  )
}
