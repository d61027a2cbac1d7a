package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Graph, Stats, TimeSeries}
import org.apache.spark.sql.functions._

/** Round-24 batch: Luby's maximal independent set, seasonal strength
  * (per-key eta²), and a rolling-origin seasonal-naive backtest — each
  * with an exact DuckDB oracle twin.
  */
object Round24Queries {

  def defs: Seq[QueryDef] = Seq(

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

    // ── Seasonal strength: per event type, eta² of the day-of-week
    //    classes over the daily count series (1 − Var(resid)/Var(x)
    //    of the seasonal-means model).
    QueryDef("q_seasonal_strength",
      (s, d) => Stats.etaSquared(
        Tables.events(s, d)
          .withColumn("day", expr("unix_micros(ts) div 86400000000L"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("c"))
          .select(col("event_type").as("key"),
            pmod(col("day"), lit(7L)).as("cls"), col("c")),
        "key", "cls", "c"),
      Some("""WITH dd AS (
             |  SELECT event_type AS key,
             |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             |         count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |cells AS (SELECT key, day % 7 AS cls, count(*) AS n_g,
             |                 sum(c) AS s_g, sum(c * c) AS q_g
             |          FROM dd GROUP BY 1, 2),
             |terms AS (SELECT key, n_g, s_g, q_g,
             |            CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
             |                 CAST(n_g AS DOUBLE) + CAST('0.5' AS DOUBLE))
             |                 AS BIGINT) AS term_c2
             |          FROM cells),
             |agg AS (SELECT key, count(*) AS k, sum(n_g) AS n, sum(s_g) AS s,
             |               sum(q_g) AS q, sum(term_c2) AS ssb_raw
             |        FROM terms GROUP BY key),
             |fin AS (SELECT key, CAST(k AS BIGINT) AS k_classes,
             |          CAST(n AS BIGINT) AS n,
             |          CAST(ssb_raw - CAST(floor(CAST(s AS DOUBLE) *
             |               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) +
             |               CAST('0.5' AS DOUBLE)) AS BIGINT) AS BIGINT) AS ssb_c2,
             |          CAST(q - ssb_raw AS BIGINT) AS ssw_c2
             |        FROM agg)
             |SELECT key, k_classes, n, ssb_c2, ssw_c2,
             |       CASE WHEN ssb_c2 + ssw_c2 = 0 THEN NULL
             |            ELSE round(CAST(ssb_c2 AS DOUBLE) /
             |                 CAST(ssb_c2 + ssw_c2 AS DOUBLE), 6)
             |       END AS strength
             |FROM fin""".stripMargin)),

    // ── Rolling-origin backtest: seasonal-naive daily-count forecasts
    //    for the last 7 days per event type, exact e6 integers.
    QueryDef("q_forecast_backtest",
      (s, d) => TimeSeries.backtestSeasonalNaive(
        Tables.events(s, d)
          .withColumn("day", expr("unix_micros(ts) div 86400000000L")),
        "event_type", "day", 7),
      Some("""WITH ax AS (
             |  SELECT event_type AS key,
             |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             |         count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |axd AS (SELECT key, day, c, day % 7 AS dow FROM ax),
             |md AS (SELECT key, max(day) AS md FROM axd GROUP BY key),
             |test AS (SELECT a.* FROM axd a JOIN md m ON m.key = a.key
             |         WHERE a.day > m.md - 7)
             |SELECT t.key, t.day, CAST(count(*) AS BIGINT) AS n_train,
             |       CAST(sum(r.c) * 1000000 // count(*) AS BIGINT) AS forecast_e6,
             |       CAST(t.c AS BIGINT) AS actual,
             |       CAST(abs(t.c * 1000000 - sum(r.c) * 1000000 // count(*))
             |            AS BIGINT) AS abs_err_e6
             |FROM test t JOIN axd r
             |  ON r.key = t.key AND r.dow = t.dow AND r.day < t.day
             |GROUP BY t.key, t.day, t.c""".stripMargin))
  )
}
