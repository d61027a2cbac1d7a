package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.Anomaly
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical process control and change detection: Shewhart charts, CUSUM
  * and Page-Hinkley detectors, capability and quality loss, changepoint
  * locators, and trend and randomness tests on bounded series. */
object SpcQueries extends QueryCatalog {

  import Fixtures._

  /** Centered-moment SSR of an OLS segment, as an engine-portable
    * double expression over exact integer moment columns. */
  private def ssrExpr(n: String, sx: String, sy: String, sxx: String,
                      sxy: String, syy: String): String =
    s"""((CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE) * $sy / $n)
       | - (CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE) * $sy / $n)
       |   * (CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE) * $sy / $n)
       |   / (CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE) * $sx / $n))"""
      .stripMargin

  /** Events per day as (day, x). */
  private def eventsPerDayX(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("x"))

  /** DuckDB twin of [[eventsPerDayX]] (CTE `daily`). */
  private val eventsPerDayXSql =
    """daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |                     CAST(count(*) AS BIGINT) AS x
      |              FROM events GROUP BY 1)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── CUSUM drift scan per event type (target 50.00, slack 5.00,
    //    threshold 200.00 — all cents). The clamp recursion runs as the
    //    prefix-sum/running-min identity: one shuffle, two window passes.
    QueryDef("q_cusum_drift",
      (s, d) => Anomaly.cusumProfile(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "event_type", "t_us", "value", 5000L, 500L, 20000L),
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS t,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) - 5500 AS d FROM events),
             |ps AS (SELECT event_type, t, CAST(sum(d) OVER w AS BIGINT) AS pp
             |       FROM e WINDOW w AS (PARTITION BY event_type ORDER BY t
             |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |ss AS (SELECT event_type, CAST(pp - least(0, min(pp) OVER w) AS BIGINT) AS s
             |       FROM ps WINDOW w AS (PARTITION BY event_type ORDER BY t
             |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT event_type, count(*) AS n_points,
             |       CAST(sum(CASE WHEN s > 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
             |       max(s) AS max_cusum_cents
             |FROM ss GROUP BY event_type""".stripMargin)),

    // ── Offline changepoint: the split maximizing the between-segment
    //    mean shift per event type (earliest split on ties).
    QueryDef("q_changepoint",
      (s, d) => Anomaly.changepoint(
        eventsTimedCents(s, d),
        "event_type", "t_us", "event_id", "cents"),
      Some("""WITH e AS (SELECT event_type AS key, epoch_us(ts) AS t, event_id,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cv
             |           FROM events),
             |w AS (SELECT key, t,
             |             row_number() OVER (PARTITION BY key ORDER BY t, event_id) AS rn,
             |             sum(cv) OVER (PARTITION BY key ORDER BY t, event_id
             |                           ROWS UNBOUNDED PRECEDING) AS s1,
             |             CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n,
             |             sum(cv) OVER (PARTITION BY key) AS s
             |      FROM e),
             |sc AS (SELECT key, t, rn, n,
             |              abs(s1 * (n - rn) - (s - s1) * rn) * 1000000
             |                // (rn * (n - rn)) AS score_e6
             |       FROM w WHERE rn < n),
             |r AS (SELECT key, t, score_e6, n,
             |             row_number() OVER (PARTITION BY key
             |                                ORDER BY score_e6 DESC, rn ASC) AS pick
             |      FROM sc)
             |SELECT key, t AS split_t, CAST(score_e6 AS BIGINT) AS score_e6, n
             |FROM r WHERE pick = 1""".stripMargin)),

    // ── Two-level binary segmentation: the dominant split per type plus
    //    the best split inside each resulting half.
    QueryDef("q_binary_segmentation",
      (s, d) => Anomaly.binarySegmentation(
        eventsTimedCents(s, d),
        "event_type", "t_us", "event_id", "cents"),
      Some("""WITH e AS (SELECT event_type AS key, epoch_us(ts) AS t, event_id AS tie,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
             |           FROM events),
             |w1 AS (SELECT key, t, tie,
             |              row_number() OVER (PARTITION BY key ORDER BY t, tie) AS rn,
             |              sum(c) OVER (PARTITION BY key ORDER BY t, tie
             |                           ROWS UNBOUNDED PRECEDING) AS s1,
             |              CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n,
             |              sum(c) OVER (PARTITION BY key) AS s
             |       FROM e),
             |sc1 AS (SELECT key, t, tie, rn, n,
             |               abs(s1 * (n - rn) - (s - s1) * rn) * 1000000
             |                 // (rn * (n - rn)) AS score
             |        FROM w1 WHERE rn < n),
             |b1 AS (SELECT key, t AS s_t, tie AS s_tie, score, n FROM (
             |         SELECT *, row_number() OVER (PARTITION BY key
             |                    ORDER BY score DESC, rn ASC) AS pick FROM sc1)
             |       WHERE pick = 1),
             |tag AS (SELECT e.key, e.t, e.tie, e.c,
             |               CASE WHEN e.t < b1.s_t
             |                      OR (e.t = b1.s_t AND e.tie <= b1.s_tie)
             |                    THEN 0 ELSE 1 END AS side
             |        FROM e JOIN b1 ON b1.key = e.key),
             |w2 AS (SELECT key, side, t, tie,
             |              row_number() OVER (PARTITION BY key, side ORDER BY t, tie) AS rn,
             |              sum(c) OVER (PARTITION BY key, side ORDER BY t, tie
             |                           ROWS UNBOUNDED PRECEDING) AS s1,
             |              CAST(count(*) OVER (PARTITION BY key, side) AS BIGINT) AS n,
             |              sum(c) OVER (PARTITION BY key, side) AS s
             |       FROM tag),
             |sc2 AS (SELECT key, side, t, rn, n,
             |               abs(s1 * (n - rn) - (s - s1) * rn) * 1000000
             |                 // (rn * (n - rn)) AS score
             |        FROM w2 WHERE rn < n),
             |b2 AS (SELECT key, side, t, score, n FROM (
             |         SELECT *, row_number() OVER (PARTITION BY key, side
             |                    ORDER BY score DESC, rn ASC) AS pick FROM sc2)
             |       WHERE pick = 1)
             |SELECT key, CAST(1 AS BIGINT) AS level, CAST(-1 AS BIGINT) AS side,
             |       s_t AS split_t, CAST(score AS BIGINT) AS score_e6, n FROM b1
             |UNION ALL
             |SELECT key, CAST(2 AS BIGINT), CAST(side AS BIGINT), t,
             |       CAST(score AS BIGINT), n FROM b2""".stripMargin)),

    /* Mann–Kendall trend (pairs with q_theil_sen: MK is the TEST for the
     * slope Theil–Sen ESTIMATES) — all-integer S, tau-a, and 18·Var(S)
     * with the exact tie term. */
    // ── Mann–Kendall trend test per event type over the daily-count
    //    series. The pair join is on the 30-row-per-key daily axis (the
    //    O(n²) lives on the AGGREGATED grain — never raw events); the
    //    tie term rides a second tiny aggregate on the same axis.
    //    var18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5)  (= 18·Var(S), exact).
    QueryDef("q_mann_kendall",
      (s, d) => {
        val daily = eventTypeDaily(s, d)
        val a = daily.select(col("k"), col("day").as("day_a"), col("c").as("c_a"))
        val b = daily.select(col("k"), col("day").as("day_b"), col("c").as("c_b"))
        val pairs = a.join(b, Seq("k")).filter(col("day_a") < col("day_b"))
          .groupBy(col("k"))
          .agg(sum(signum(col("c_b") - col("c_a")).cast("long")).as("s"))
        val ties = daily.groupBy(col("k"), col("c"))
          .agg(count(lit(1)).as("t"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_distinct"), sum(col("t")).as("n_days"),
            sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_term"))
        // Sign factored out of the tau division: Spark `div` truncates
        // toward zero, DuckDB `//` floors — they only agree on non-
        // negative operands (the q_theil_sen convention).
        pairs.join(ties, Seq("k"))
          .select(col("k"), col("n_days"), col("s"),
            expr("""CASE WHEN s < 0
                   |  THEN -(2 * (-s) * 1000000 div (n_days * (n_days - 1)))
                   |  ELSE 2 * s * 1000000 div (n_days * (n_days - 1))
                   |END""".stripMargin).as("tau_a_e6"),
            (col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5)
              - col("tie_term")).as("var18"))
      },
      Some(s"""WITH $eventTypeDailySql,
             |p AS (
             |  SELECT a.k,
             |         sum(CAST(CASE WHEN b.c > a.c THEN 1
             |                       WHEN b.c < a.c THEN -1 ELSE 0 END
             |             AS BIGINT)) AS s
             |  FROM daily a JOIN daily b ON a.k = b.k AND a.day < b.day
             |  GROUP BY 1),
             |t AS (
             |  SELECT k, count(*) AS n_distinct, sum(t) AS n_days,
             |         sum(t * (t - 1) * (2 * t + 5)) AS tie_term
             |  FROM (SELECT k, c, count(*) AS t FROM daily GROUP BY 1, 2)
             |  GROUP BY 1)
             |SELECT p.k, CAST(n_days AS BIGINT) AS n_days,
             |       CAST(s AS BIGINT) AS s,
             |       CAST(CASE WHEN s < 0
             |              THEN -(2 * (-s) * 1000000
             |                     // (n_days * (n_days - 1)))
             |              ELSE 2 * s * 1000000 // (n_days * (n_days - 1))
             |            END AS BIGINT) AS tau_a_e6,
             |       CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
             |            AS BIGINT) AS var18
             |FROM p JOIN t ON p.k = t.k""".stripMargin)),

    // ── Wald–Wolfowitz runs test on the SIGN of day-over-day delta of
    //    each type's daily count series (zero deltas dropped, standard
    //    practice): observed runs vs the exact expected-runs formula
    //    1 + 2·n₊·n₋/(n₊+n₋) in e6. Randomness check of the daily
    //    series — pairs with q_mann_kendall (monotone trend) and
    //    q_burstiness (dispersion).
    QueryDef("q_runs_test",
      (s, d) => {
        val daily = eventTypeDaily(s, d)
        val wd = Window.partitionBy(col("k")).orderBy(col("day"))
        val signs = daily
          .withColumn("delta", col("c") - lag(col("c"), 1).over(wd))
          .filter(col("delta").isNotNull && col("delta") =!= 0)
          .withColumn("sgn", when(col("delta") > 0, 1L).otherwise(-1L))
        val ws = Window.partitionBy(col("k")).orderBy(col("day"))
        signs
          .withColumn("chg",
            when(lag(col("sgn"), 1).over(ws).isNull ||
              lag(col("sgn"), 1).over(ws) =!= col("sgn"), 1L).otherwise(0L))
          .groupBy(col("k"))
          .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_plus"),
            sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_minus"),
            sum(col("chg")).as("runs"))
          .withColumn("exp_runs_e6",
            expr("1000000 + (2 * n_plus * n_minus * 1000000) "
              + "div (n_plus + n_minus)"))
      },
      Some(s"""WITH $eventTypeDailySql,
             |d AS (
             |  SELECT k, day, c - lag(c) OVER (PARTITION BY k ORDER BY day)
             |           AS delta
             |  FROM daily),
             |s AS (
             |  SELECT k, day, CASE WHEN delta > 0 THEN 1 ELSE -1 END AS sgn
             |  FROM d WHERE delta IS NOT NULL AND delta <> 0),
             |c AS (
             |  SELECT k, sgn,
             |         CASE WHEN lag(sgn) OVER (PARTITION BY k ORDER BY day)
             |                IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS chg
             |  FROM s),
             |g AS (
             |  SELECT k,
             |         sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS n_plus,
             |         sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS n_minus,
             |         sum(chg) AS runs
             |  FROM c GROUP BY 1)
             |SELECT k, CAST(n_plus AS BIGINT) AS n_plus,
             |       CAST(n_minus AS BIGINT) AS n_minus,
             |       CAST(runs AS BIGINT) AS runs,
             |       CAST(1000000 + (2 * n_plus * n_minus * 1000000)
             |            // (n_plus + n_minus) AS BIGINT) AS exp_runs_e6
             |FROM g""".stripMargin)),

    // ── Daily volume anomaly per event type: exact-integer z² against
    //    the type's own daily distribution, flag at |z| > 2 (z²·den
    //    comparison — no square roots). The row-count monitor every
    //    ingest pipeline runs.
    QueryDef("q_volume_anomaly",
      (s, d) => {
        val daily = eventTypeDaily(s, d)
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
      Some(s"""WITH $eventTypeDailySql,
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

    // ── Seasonal anomaly: hourly counts vs the (dow × hour) baseline
    //    mean; flag hours whose |residual| exceeds 3×MAD. All integer —
    //    truncating means, exact median-of-|residual| by position.
    QueryDef("q_seasonal_anomaly",
      (s, d) => {
        val cnt = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 3600000000").as("h"))
          .groupBy(col("h")).agg(count(lit(1)).as("c"))
          .withColumn("dow", expr("(h div 24 + 4) % 7"))
          .withColumn("hod", expr("h % 24"))
        val base = cnt.groupBy(col("dow"), col("hod"))
          .agg(expr("sum(c) div count(1)").as("mean_c"))
        val resid = cnt.join(broadcast(base), Seq("dow", "hod"))
          .withColumn("resid", col("c") - col("mean_c"))
          .localCheckpoint(false) // reused: MAD + anomaly filter
        val mad = resid
          .withColumn("rn", row_number().over(
            Window.orderBy(abs(col("resid")), col("h"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
          .where(col("rn") === expr("(n + 1) div 2"))
          .select(abs(col("resid")).as("mad"))
        resid.crossJoin(broadcast(mad))
          .where(abs(col("resid")) > col("mad") * 3)
          .select(col("h"), col("dow"), col("hod"), col("c"),
            col("mean_c"), col("resid"), col("mad"))
      },
      Some("""WITH cnt AS (
             |  SELECT h, CAST(count(*) AS BIGINT) AS c,
             |         (h // 24 + 4) % 7 AS dow, h % 24 AS hod
             |  FROM (SELECT epoch_us(ts) // 3600000000 AS h FROM events)
             |  GROUP BY 1),
             |base AS (SELECT dow, hod,
             |                CAST(sum(c) // count(*) AS BIGINT) AS mean_c
             |         FROM cnt GROUP BY 1, 2),
             |resid AS (SELECT cnt.h, cnt.dow, cnt.hod, cnt.c, base.mean_c,
             |                 cnt.c - base.mean_c AS resid
             |          FROM cnt JOIN base ON cnt.dow = base.dow
             |               AND cnt.hod = base.hod),
             |mad AS (SELECT abs(resid) AS mad FROM (
             |          SELECT resid,
             |                 row_number() OVER (ORDER BY abs(resid), h)
             |                   AS rn,
             |                 count(*) OVER () AS n
             |          FROM resid)
             |        WHERE rn = (n + 1) // 2)
             |SELECT h, dow, hod, c, mean_c, resid, mad
             |FROM resid CROSS JOIN mad
             |WHERE abs(resid) > mad * 3""".stripMargin)),

    /* Time-series monitoring closers: Bollinger bands
     * (rolling 7-day mean ± 2σ with breach flags — the banded control
     * chart q_ewma_smooth's point estimate lacks), the Pettitt test (rank-
     * based single change-point location, the nonparametric complement of
     * q_changepoint/q_binary_segmentation), and the turning-points test
     * (local-extrema count vs the 2(n−2)/3 randomness expectation — the
     * smoothness check q_runs_test does on signs). */

    // ── Bollinger: trailing 7-day window (current inclusive), bands at
    //    mean ± 2σ (population, exact moments, double close); every
    //    banded day emitted, breaches labeled high/low.
    QueryDef("q_bollinger",
      (s, d) => {
        val daily = eventsPerDayX(s, d)
        val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
        daily
          .withColumn("nw", count(lit(1)).over(w))
          .withColumn("sw", sum(col("x")).over(w))
          .withColumn("qw", sum(col("x") * col("x")).over(w))
          .where(col("nw") === 7)
          .selectExpr("day", "x", "sw div 7 AS mean7",
            """round(sqrt(CAST(7 * qw - sw * sw AS DOUBLE))
              |/ CAST('7.0' AS DOUBLE), 6) AS sigma7""".stripMargin)
          .selectExpr("day", "x", "mean7", "sigma7",
            """CASE WHEN CAST(x AS DOUBLE) > CAST(mean7 AS DOUBLE)
              |       + 2 * sigma7 THEN 'high'
              |     WHEN CAST(x AS DOUBLE) < CAST(mean7 AS DOUBLE)
              |       - 2 * sigma7 THEN 'low'
              |     ELSE 'in' END AS band""".stripMargin)
      },
      Some(s"""WITH $eventsPerDayXSql,
             |wnd AS (SELECT day, x,
             |               CAST(count(*) OVER w AS BIGINT) AS nw,
             |               CAST(sum(x) OVER w AS BIGINT) AS sw,
             |               CAST(sum(x * x) OVER w AS BIGINT) AS qw
             |        FROM daily
             |        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING
             |                     AND CURRENT ROW)),
             |b AS (SELECT day, x, sw // 7 AS mean7,
             |             round(sqrt(CAST(7 * qw - sw * sw AS DOUBLE))
             |               / CAST('7.0' AS DOUBLE), 6) AS sigma7
             |      FROM wnd WHERE nw = 7),
             |f AS (SELECT day, x, mean7, sigma7,
             |             CASE WHEN CAST(x AS DOUBLE)
             |                    > CAST(mean7 AS DOUBLE) + 2 * sigma7
             |                  THEN 'high'
             |                  WHEN CAST(x AS DOUBLE)
             |                    < CAST(mean7 AS DOUBLE) - 2 * sigma7
             |                  THEN 'low'
             |                  ELSE 'in' END AS band
             |      FROM b)
             |SELECT day, x, mean7, sigma7, band FROM f""".stripMargin)),

    // ── Pettitt: U_t over the bounded day axis by exact pair signs;
    //    the argmax |U| locates the change point.
    QueryDef("q_pettitt",
      (s, d) => {
        val daily = eventsPerDayX(s, d)
          .localCheckpoint(false) // both pair sides
        val b = daily.select(col("day").as("d2"), col("x").as("x2"))
        val u = daily.join(b, col("day") < col("d2"))
          .withColumn("sgn",
            when(col("x2") > col("x"), 1L)
              .when(col("x2") < col("x"), -1L).otherwise(0L))
          .groupBy(col("day")).agg(sum(col("sgn")).as("contrib"))
        // U_t = Σ_{i≤t} contrib_i (sign sums of pairs crossing t)
        u.withColumn("ut", sum(col("contrib")).over(
            Window.orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("rk", row_number().over(
            Window.orderBy(abs(col("ut")).desc, col("day"))))
          .where(col("rk") === 1)
          .select(col("day").as("change_day"), col("ut").as("u_stat"))
      },
      Some(s"""WITH $eventsPerDayXSql,
             |pairs AS (SELECT a.day,
             |                 CASE WHEN b.x > a.x THEN 1
             |                      WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
             |          FROM daily a JOIN daily b ON a.day < b.day),
             |u AS (SELECT day, CAST(sum(sgn) AS BIGINT) AS contrib
             |      FROM pairs GROUP BY 1),
             |ut AS (SELECT day, CAST(sum(contrib) OVER (ORDER BY day
             |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ut
             |       FROM u)
             |SELECT day AS change_day, ut AS u_stat FROM (
             |  SELECT *, row_number() OVER (ORDER BY abs(ut) DESC, day)
             |    AS rk FROM ut)
             |WHERE rk = 1""".stripMargin)),

    // ── Turning points: interior local extrema count vs 2(n−2)/3
    //    expectation, z via the exact variance (16n−29)/90.
    QueryDef("q_turning_points",
      (s, d) => {
        val daily = eventsPerDayX(s, d)
        val w = Window.orderBy(col("day"))
        daily
          .withColumn("xp", lag(col("x"), 1).over(w))
          .withColumn("xn", lead(col("x"), 1).over(w))
          .where(col("xp").isNotNull && col("xn").isNotNull)
          .agg(count(lit(1)).as("n_interior"),
            sum(when((col("x") > col("xp") && col("x") > col("xn")) ||
                (col("x") < col("xp") && col("x") < col("xn")), 1L)
              .otherwise(0L)).as("turns"))
          .selectExpr("n_interior + 2 AS n", "turns",
            "(2 * (n_interior + 2) - 4) * 1000000 div 3 AS expected_e6",
            """round((CAST(turns AS DOUBLE)
              |- CAST(2 * (n_interior + 2) - 4 AS DOUBLE)
              |  / CAST('3.0' AS DOUBLE))
              |/ sqrt(CAST(16 * (n_interior + 2) - 29 AS DOUBLE)
              |       / CAST('90.0' AS DOUBLE)), 6) AS z""".stripMargin)
      },
      Some(s"""WITH $eventsPerDayXSql,
             |t AS (SELECT x, lag(x) OVER (ORDER BY day) AS xp,
             |             lead(x) OVER (ORDER BY day) AS xn
             |      FROM daily),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n_interior,
             |             CAST(sum(CASE WHEN (x > xp AND x > xn)
             |                            OR (x < xp AND x < xn)
             |                           THEN 1 ELSE 0 END) AS BIGINT)
             |               AS turns
             |      FROM t WHERE xp IS NOT NULL AND xn IS NOT NULL)
             |SELECT n_interior + 2 AS n, turns,
             |       (2 * (n_interior + 2) - 4) * 1000000 // 3
             |         AS expected_e6,
             |       round((CAST(turns AS DOUBLE)
             |         - CAST(2 * (n_interior + 2) - 4 AS DOUBLE)
             |           / CAST('3.0' AS DOUBLE))
             |         / sqrt(CAST(16 * (n_interior + 2) - 29 AS DOUBLE)
             |                / CAST('90.0' AS DOUBLE)), 6) AS z
             |FROM m""".stripMargin)),

    // ── Page–Hinkley: sequential mean-shift detector over the daily
    //    value series. All-integer: daily mean e6 (non-negative
    //    numerators only, so div truncation is engine-identical),
    //    running mean via prefix-sum div t, PH statistic
    //    U_t − min_{i≤t} U_i with drift allowance δ=0.01. Windows ride
    //    the bounded post-aggregate day axis.
    QueryDef("q_page_hinkley",
      (s, d) => {
        val daily = eventsDailyCents(s, d)
          .withColumn("x_e6", expr("sc * 10000 div cnt"))
        val ord = Window.orderBy(col("day"))
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        daily
          .withColumn("t", row_number().over(ord).cast("long"))
          .withColumn("cx", sum(col("x_e6")).over(cum))
          .withColumn("mu_e6", expr("cx div t"))
          .withColumn("inc", expr("x_e6 - mu_e6 - 10000"))
          .withColumn("u_e6", sum(col("inc")).over(cum))
          .withColumn("ph_e6", col("u_e6") - min(col("u_e6")).over(cum))
          .withColumn("alarm",
            expr("CASE WHEN ph_e6 > 5000000 THEN 1 ELSE 0 END").cast("long"))
          .select(col("day"), col("x_e6"), col("u_e6"), col("ph_e6"),
            col("alarm"))
      },
      Some(s"""WITH $eventsDailyCentsSql,
             |x AS (SELECT day, sc * 10000 // cnt AS x_e6 FROM daily),
             |c AS (SELECT day, x_e6,
             |             CAST(row_number() OVER w AS BIGINT) AS t,
             |             CAST(sum(x_e6) OVER (ORDER BY day
             |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cx
             |      FROM x WINDOW w AS (ORDER BY day)),
             |i AS (SELECT day, x_e6, x_e6 - cx // t - 10000 AS inc FROM c),
             |u AS (SELECT day, x_e6,
             |             CAST(sum(inc) OVER (ORDER BY day
             |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS u_e6
             |      FROM i)
             |SELECT day, x_e6, u_e6,
             |       u_e6 - CAST(min(u_e6) OVER (ORDER BY day
             |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ph_e6,
             |       CAST(CASE WHEN u_e6 - min(u_e6) OVER (ORDER BY day
             |         ROWS UNBOUNDED PRECEDING) > 5000000
             |         THEN 1 ELSE 0 END AS BIGINT) AS alarm
             |FROM u""".stripMargin)),

    // ── X̄-R chart over full ISO weeks of daily event volumes
    //    (subgroup size n = 7): per-week mean and range, then the
    //    Shewhart limits X̄̄ ± A₂·R̄ and [D₃, D₄]·R̄ with the tabulated
    //    n = 7 constants (A₂ = .419, D₃ = .076, D₄ = 1.924) in e3
    //    fixed point. Partial boundary weeks are excluded — a limit
    //    from a short subgroup is biased. All integer e6.
    QueryDef("q_xbar_r",
      (s, d) => {
        val daily = eventsPerDay(s, d)
        val weeks = daily
          .groupBy(expr("day div 7").as("wk"))
          .agg(count(lit(1)).as("n_days"), sum(col("c")).as("s"),
            (max(col("c")) - min(col("c"))).as("r"))
          .filter(col("n_days") === 7L)
        weeks
          .agg(count(lit(1)).as("n_sub"),
            sum(expr("s * 1000000 div 7")).as("xb_sum_e6"),
            sum(expr("r * 1000000")).as("r_sum_e6"))
          .selectExpr("CAST(n_sub AS BIGINT) AS n_subgroups",
            "xb_sum_e6 div n_sub AS xbarbar_e6",
            "r_sum_e6 div n_sub AS rbar_e6",
            """xb_sum_e6 div n_sub
              |  + (r_sum_e6 div n_sub) * 419 div 1000 AS ucl_x_e6"""
              .stripMargin,
            """xb_sum_e6 div n_sub
              |  - (r_sum_e6 div n_sub) * 419 div 1000 AS lcl_x_e6"""
              .stripMargin,
            "(r_sum_e6 div n_sub) * 1924 div 1000 AS ucl_r_e6",
            "(r_sum_e6 div n_sub) * 76 div 1000 AS lcl_r_e6")
      },
      Some(s"""WITH $eventsPerDaySql,
             |weeks AS (SELECT day // 7 AS wk,
             |                 CAST(count(*) AS BIGINT) AS n_days,
             |                 CAST(sum(c) AS BIGINT) AS s,
             |                 CAST(max(c) - min(c) AS BIGINT) AS r
             |          FROM daily GROUP BY 1
             |          HAVING count(*) = 7),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n_sub,
             |             CAST(sum(s * 1000000 // 7) AS BIGINT) AS xb_sum_e6,
             |             CAST(sum(r * 1000000) AS BIGINT) AS r_sum_e6
             |      FROM weeks)
             |SELECT n_sub AS n_subgroups,
             |       xb_sum_e6 // n_sub AS xbarbar_e6,
             |       r_sum_e6 // n_sub AS rbar_e6,
             |       xb_sum_e6 // n_sub
             |         + (r_sum_e6 // n_sub) * 419 // 1000 AS ucl_x_e6,
             |       xb_sum_e6 // n_sub
             |         - (r_sum_e6 // n_sub) * 419 // 1000 AS lcl_x_e6,
             |       (r_sum_e6 // n_sub) * 1924 // 1000 AS ucl_r_e6,
             |       (r_sum_e6 // n_sub) * 76 // 1000 AS lcl_r_e6
             |FROM m""".stripMargin)),

    // ── Seasonal Mann–Kendall over monthly order volumes: Kendall S
    //    within each calendar month's across-year series (pairs y < y'
    //    on the bounded 12×7 year-month grid), summed; the variance
    //    stays exact as 18·Var = Σ n(n−1)(2n+5); continuity-corrected
    //    z at the close. Season-blind q_mann_kendall would conflate
    //    the seasonal cycle with trend — this is the fix.
    QueryDef("q_seasonal_mk",
      (s, d) => {
        val ym = Tables.orders(s, d)
          .groupBy(year(col("o_orderdate")).as("y"),
            month(col("o_orderdate")).as("m"))
          .agg(count(lit(1)).as("x"))
          .localCheckpoint(false) // both pair sides + the n_g rollup
        val pairs = ym.as("a").join(ym.as("b"),
            col("a.m") === col("b.m") && col("a.y") < col("b.y"))
          .select(col("a.m").as("m"),
            signum(col("b.x") - col("a.x")).cast("long").as("sg"))
        val sTot = pairs.agg(sum(col("sg")).as("s_total"))
        val varT = ym.groupBy(col("m")).agg(count(lit(1)).as("ng"))
          .agg(sum(expr("ng * (ng - 1) * (2 * ng + 5)")).as("var18"),
            count(lit(1)).as("n_seasons"))
        sTot.crossJoin(varT)
          .selectExpr("CAST(s_total AS BIGINT) AS s_total",
            "CAST(var18 AS BIGINT) AS var18",
            "CAST(n_seasons AS BIGINT) AS n_seasons",
            """CASE WHEN s_total = 0 OR var18 = 0
              |     THEN CAST('0.0' AS DOUBLE)
              |     ELSE round((CAST(s_total AS DOUBLE)
              |            - CAST(sign(s_total) AS DOUBLE))
              |          / sqrt(CAST(var18 AS DOUBLE)
              |                 / CAST('18.0' AS DOUBLE)), 6)
              |END AS z""".stripMargin)
      },
      Some("""WITH ym AS (SELECT year(o_orderdate) AS y,
             |                  month(o_orderdate) AS m,
             |                  CAST(count(*) AS BIGINT) AS x
             |           FROM orders GROUP BY 1, 2),
             |p AS (SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
             |                           WHEN b.x < a.x THEN -1
             |                           ELSE 0 END) AS BIGINT) AS s_total
             |      FROM ym a JOIN ym b ON a.m = b.m AND a.y < b.y),
             |v AS (SELECT CAST(sum(ng * (ng - 1) * (2 * ng + 5))
             |               AS BIGINT) AS var18,
             |             CAST(count(*) AS BIGINT) AS n_seasons
             |      FROM (SELECT m, CAST(count(*) AS BIGINT) AS ng
             |            FROM ym GROUP BY 1))
             |SELECT s_total, var18, n_seasons,
             |       CASE WHEN s_total = 0 OR var18 = 0
             |            THEN CAST('0.0' AS DOUBLE)
             |            ELSE round((CAST(s_total AS DOUBLE)
             |                   - CAST(sign(s_total) AS DOUBLE))
             |                 / sqrt(CAST(var18 AS DOUBLE)
             |                        / CAST('18.0' AS DOUBLE)), 6)
             |       END AS z
             |FROM p CROSS JOIN v""".stripMargin)),

    // ── Hampel filter: day d is an outlier when |c_d − med| exceeds
    //    3·1.4826·MAD of its ±3-day neighborhood (gap-aware: members
    //    come from an offset-explode equi-join on the day value, so a
    //    calendar hole shrinks the window instead of sliding foreign
    //    days in). Medians and MADs carried doubled/quadrupled (paired
    //    middle order statistics), so the decision inequality
    //    dev·20000 > 44478·mad4 is exact integer. Emits flagged days.
    QueryDef("q_hampel",
      (s, d) => {
        val daily = ordersPerDay(s, d)
          .localCheckpoint(false) // center + member sides of the window
        val mem = daily.select(col("day").as("ctr"), col("c").as("cc"),
            explode(sequence(lit(-3), lit(3))).as("off"))
          .join(daily.select(col("day").as("mday"), col("c").as("mc")),
            col("mday") === col("ctr") + col("off"))
        val med = mem
          .withColumn("rn", row_number().over(Window.partitionBy(col("ctr"))
            .orderBy(col("mc"), col("mday"))))
          .withColumn("nw", count(lit(1)).over(
            Window.partitionBy(col("ctr"))))
          .groupBy(col("ctr"), col("cc"))
          .agg(sum(when(col("rn") === expr("(nw + 1) div 2"), col("mc"))
            .otherwise(0L)).as("lo"),
            sum(when(col("rn") === expr("(nw + 2) div 2"), col("mc"))
              .otherwise(0L)).as("hi"))
          .select(col("ctr"), col("cc"), (col("lo") + col("hi")).as("m2"))
          .localCheckpoint(false) // re-joined for the MAD pass
        val mad = mem.join(med.select(col("ctr"), col("m2")), "ctr")
          .withColumn("d2", abs(col("mc") * 2 - col("m2")))
          .withColumn("rn", row_number().over(Window.partitionBy(col("ctr"))
            .orderBy(col("d2"), col("mday"))))
          .withColumn("nw", count(lit(1)).over(
            Window.partitionBy(col("ctr"))))
          .groupBy(col("ctr"))
          .agg(sum(when(col("rn") === expr("(nw + 1) div 2"), col("d2"))
            .otherwise(0L)).as("lo"),
            sum(when(col("rn") === expr("(nw + 2) div 2"), col("d2"))
              .otherwise(0L)).as("hi"))
          .select(col("ctr"), (col("lo") + col("hi")).as("mad4"))
        med.join(mad, "ctr")
          .withColumn("dev2", abs(col("cc") * 2 - col("m2")))
          .filter(col("dev2") * 20000 > col("mad4") * 44478)
          .selectExpr("ctr AS day", "cc AS c", "m2 AS med_x2",
            "mad4 AS mad_x4")
      },
      Some(s"""WITH $ordersPerDaySql,
             |mem AS (SELECT a.day AS ctr, a.c AS cc, b.day AS mday,
             |               b.c AS mc
             |        FROM daily a
             |        CROSS JOIN (SELECT unnest(generate_series(-3, 3))
             |                      AS off) o
             |        JOIN daily b ON b.day = a.day + o.off),
             |rk AS (SELECT ctr, cc, mc, mday,
             |              row_number() OVER (PARTITION BY ctr
             |                ORDER BY mc, mday) AS rn,
             |              count(*) OVER (PARTITION BY ctr) AS nw
             |       FROM mem),
             |med AS (SELECT ctr, cc,
             |               CAST(sum(CASE WHEN rn = (nw + 1) // 2 THEN mc
             |                             ELSE 0 END)
             |                  + sum(CASE WHEN rn = (nw + 2) // 2 THEN mc
             |                             ELSE 0 END) AS BIGINT) AS m2
             |        FROM rk GROUP BY 1, 2),
             |dk AS (SELECT mem.ctr, abs(mc * 2 - m2) AS d2, mday
             |       FROM mem JOIN med ON mem.ctr = med.ctr),
             |drk AS (SELECT ctr, d2,
             |               row_number() OVER (PARTITION BY ctr
             |                 ORDER BY d2, mday) AS rn,
             |               count(*) OVER (PARTITION BY ctr) AS nw
             |        FROM dk),
             |mad AS (SELECT ctr,
             |               CAST(sum(CASE WHEN rn = (nw + 1) // 2 THEN d2
             |                             ELSE 0 END)
             |                  + sum(CASE WHEN rn = (nw + 2) // 2 THEN d2
             |                             ELSE 0 END) AS BIGINT) AS mad4
             |        FROM drk GROUP BY 1)
             |SELECT med.ctr AS day, cc AS c, m2 AS med_x2, mad4 AS mad_x4
             |FROM med JOIN mad ON med.ctr = mad.ctr
             |WHERE abs(cc * 2 - m2) * 20000 > mad4 * 44478"""
        .stripMargin)),

    // ── Lo–MacKinlay variance ratio on the rn-indexed daily series:
    //    VR(q) = Var(q-day sums)/(q·Var(1-day)) with every variance a
    //    fully-integer numerator (mᵩ·ΣY² − (ΣY)²) and the close a
    //    decimal(38,0) division; the asymptotic z folds the exact
    //    vr_e6 through a fixed scalar IEEE tree. Row windows partition
    //    by horizon — one exchange over a calendar-bounded frame.
    QueryDef("q_variance_ratio",
      (s, d) => {
        val daily = ordersPerDay(s, d)
          .withColumn("rn", row_number().over(Window.orderBy(col("day"))))
          .localCheckpoint(false) // one frame, three horizon windows
        val qs = daily.select(col("c"), col("rn"),
          explode(expr("array(1, 2, 5, 10)")).as("q"))
        val win = Window.partitionBy(col("q")).orderBy(col("rn"))
        // q-length forward sums; full windows only (nf = q members)
        val per = qs
          .withColumn("y", when(col("q") === 1, col("c"))
            .when(col("q") === 2, sum(col("c")).over(win.rowsBetween(0, 1)))
            .when(col("q") === 5, sum(col("c")).over(win.rowsBetween(0, 4)))
            .otherwise(sum(col("c")).over(win.rowsBetween(0, 9))))
          .withColumn("nf", when(col("q") === 1, lit(1L))
            .when(col("q") === 2,
              count(lit(1)).over(win.rowsBetween(0, 1)))
            .when(col("q") === 5,
              count(lit(1)).over(win.rowsBetween(0, 4)))
            .otherwise(count(lit(1)).over(win.rowsBetween(0, 9))))
          .filter(col("nf") === col("q").cast("long"))
          .groupBy(col("q"))
          .agg(count(lit(1)).as("m"), sum(col("y")).as("sy"),
            sum(expr("y * y")).as("syy"))
          .withColumn("varnum", expr("m * syy - sy * sy"))
          .localCheckpoint(false) // tiny horizon axis; joined to its q=1 row
        val base = per.filter(col("q") === 1)
          .select(col("m").as("m1"), col("varnum").as("vn1"))
        per.filter(col("q") =!= 1).crossJoin(broadcast(base))
          .withColumn("vr_e6", expr(
            s"""CAST(CAST(varnum AS $dec) * CAST(m1 AS $dec)
               |  * CAST(m1 AS $dec) * CAST(1000000 AS $dec)
               |  div (CAST(q AS $dec) * CAST(m AS $dec)
               |       * CAST(m AS $dec) * CAST(vn1 AS $dec))
               |  AS BIGINT)""".stripMargin))
          .withColumn("z", expr(
            """round((CAST(vr_e6 AS DOUBLE) / CAST('1000000' AS DOUBLE)
              |        - CAST('1.0' AS DOUBLE))
              |      * sqrt(CAST('3.0' AS DOUBLE) * CAST(q AS DOUBLE)
              |             * CAST(m1 AS DOUBLE)
              |             / (CAST('2.0' AS DOUBLE)
              |                * (CAST(2 * q - 1 AS DOUBLE))
              |                * (CAST(q - 1 AS DOUBLE)))), 6)"""
              .stripMargin))
          .selectExpr("CAST(q AS BIGINT) AS q", "CAST(m AS BIGINT) AS m",
            "vr_e6", "z")
      },
      Some(s"""WITH $ordersPerDaySql,
             |idx AS (SELECT c, row_number() OVER (ORDER BY day) AS rn
             |        FROM daily),
             |qs AS (SELECT q, c, rn FROM idx
             |       CROSS JOIN (SELECT unnest([1, 2, 5, 10]) AS q) qq),
             |w AS (SELECT q,
             |             CASE q WHEN 1 THEN c
             |               WHEN 2 THEN sum(c) OVER (PARTITION BY q
             |                 ORDER BY rn ROWS BETWEEN CURRENT ROW
             |                 AND 1 FOLLOWING)
             |               WHEN 5 THEN sum(c) OVER (PARTITION BY q
             |                 ORDER BY rn ROWS BETWEEN CURRENT ROW
             |                 AND 4 FOLLOWING)
             |               ELSE sum(c) OVER (PARTITION BY q
             |                 ORDER BY rn ROWS BETWEEN CURRENT ROW
             |                 AND 9 FOLLOWING) END AS y,
             |             CASE q WHEN 1 THEN 1
             |               WHEN 2 THEN count(*) OVER (PARTITION BY q
             |                 ORDER BY rn ROWS BETWEEN CURRENT ROW
             |                 AND 1 FOLLOWING)
             |               WHEN 5 THEN count(*) OVER (PARTITION BY q
             |                 ORDER BY rn ROWS BETWEEN CURRENT ROW
             |                 AND 4 FOLLOWING)
             |               ELSE count(*) OVER (PARTITION BY q
             |                 ORDER BY rn ROWS BETWEEN CURRENT ROW
             |                 AND 9 FOLLOWING) END AS nf
             |      FROM qs),
             |per AS (SELECT q, CAST(count(*) AS BIGINT) AS m,
             |               CAST(sum(y) AS BIGINT) AS sy,
             |               CAST(sum(y * y) AS BIGINT) AS syy
             |        FROM w WHERE nf = q GROUP BY 1),
             |vn AS (SELECT q, m, m * syy - sy * sy AS varnum FROM per),
             |base AS (SELECT m AS m1, varnum AS vn1 FROM vn WHERE q = 1)
             |SELECT CAST(q AS BIGINT) AS q, m,
             |       CAST(CAST(varnum AS HUGEINT) * m1 * m1 * 1000000
             |         // (CAST(q AS HUGEINT) * m * m * vn1) AS BIGINT)
             |         AS vr_e6,
             |       round((CAST(CAST(CAST(varnum AS HUGEINT) * m1 * m1
             |                * 1000000
             |                // (CAST(q AS HUGEINT) * m * m * vn1)
             |                AS BIGINT) AS DOUBLE)
             |              / CAST('1000000' AS DOUBLE)
             |              - CAST('1.0' AS DOUBLE))
             |            * sqrt(CAST('3.0' AS DOUBLE) * CAST(q AS DOUBLE)
             |                   * CAST(m1 AS DOUBLE)
             |                   / (CAST('2.0' AS DOUBLE)
             |                      * CAST(2 * q - 1 AS DOUBLE)
             |                      * CAST(q - 1 AS DOUBLE))), 6) AS z
             |FROM vn CROSS JOIN base WHERE q <> 1"""
        .stripMargin)),

    // ── Bartels rank von-Neumann ratio on daily order volume: ranks
    //    are the deterministic permutation (x, day); NM = Σ(rᵢ−rᵢ₊₁)²
    //    over day-adjacent observations, D = n(n²−1)/12 exactly (a
    //    permutation's centered sum of squares), RVN = NM/D with the
    //    large-sample z from the exact variance polynomial.
    QueryDef("q_bartels_rank",
      (s, d) => {
        val daily = ordersPerDay(s, d)
        val rk = daily
          .withColumn("r", row_number().over(
            Window.orderBy(col("c"), col("day"))).cast("long"))
          .withColumn("rnext", lead(col("r"), 1).over(
            Window.orderBy(col("day"))))
        rk.agg(count(lit(1)).as("n"),
          sum(when(col("rnext").isNotNull,
            (col("r") - col("rnext")) * (col("r") - col("rnext")))
            .otherwise(0L)).as("nm"))
          .selectExpr("CAST(n AS BIGINT) AS n", "CAST(nm AS BIGINT) AS nm",
            "n * (n * n - 1) div 12 AS d",
            "nm * 1000000 div (n * (n * n - 1) div 12) AS rvn_e6",
            """round((CAST(nm AS DOUBLE)
              |       / CAST(n * (n * n - 1) div 12 AS DOUBLE)
              |       - CAST('2.0' AS DOUBLE))
              |     / sqrt(CAST(4 * (n - 2) AS DOUBLE)
              |            * CAST(5 * n * n - 2 * n - 9 AS DOUBLE)
              |            / (CAST('5.0' AS DOUBLE) * CAST(n AS DOUBLE)
              |               * CAST(n + 1 AS DOUBLE)
              |               * CAST((n - 1) * (n - 1) AS DOUBLE))), 6)
              |AS z""".stripMargin)
      },
      Some(s"""WITH $ordersPerDaySql,
             |rk AS (SELECT day,
             |              CAST(row_number() OVER (ORDER BY c, day)
             |                AS BIGINT) AS r
             |       FROM daily),
             |sq AS (SELECT r, lead(r) OVER (ORDER BY day) AS rnext
             |       FROM rk),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(CASE WHEN rnext IS NOT NULL
             |                           THEN (r - rnext) * (r - rnext)
             |                           ELSE 0 END) AS BIGINT) AS nm
             |      FROM sq)
             |SELECT n, nm, n * (n * n - 1) // 12 AS d,
             |       nm * 1000000 // (n * (n * n - 1) // 12) AS rvn_e6,
             |       round((CAST(nm AS DOUBLE)
             |              / CAST(n * (n * n - 1) // 12 AS DOUBLE)
             |              - CAST('2.0' AS DOUBLE))
             |            / sqrt(CAST(4 * (n - 2) AS DOUBLE)
             |                   * CAST(5 * n * n - 2 * n - 9 AS DOUBLE)
             |                   / (CAST('5.0' AS DOUBLE) * CAST(n AS DOUBLE)
             |                      * CAST(n + 1 AS DOUBLE)
             |                      * CAST((n - 1) * (n - 1) AS DOUBLE))), 6)
             |         AS z
             |FROM t""".stripMargin)),

    // ── Process capability: 1996 daily order volume sets the process
    //    (μ₀ ± 3σ₀ spec limits, σ from exact integer moments); 1997 is
    //    graded against them — Cp = (USL−LSL)/6σ₁, Cpk = min(USL−μ₁,
    //    μ₁−LSL)/3σ₁. All moments exact; indices close in identical
    //    IEEE trees, e6-rounded.
    QueryDef("q_cpk_capability",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .filter(expr("year(o_orderdate) IN (1996, 1997)"))
          .groupBy(expr("year(o_orderdate)").as("yr"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
              "div 86400000000").as("day"))
          .agg(count(lit(1)).as("c"))
        val m = daily.groupBy(col("yr"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
            sum(expr("c * c")).as("q"))
        val base = m.filter(col("yr") === 1996)
          .select(col("n").as("n0"), col("s").as("s0"), col("q").as("q0"))
        val cur = m.filter(col("yr") === 1997)
          .select(col("n").as("n1"), col("s").as("s1"), col("q").as("q1"))
        cur.crossJoin(broadcast(base))
          .selectExpr("CAST(n0 AS BIGINT) AS n_base",
            "CAST(n1 AS BIGINT) AS n_cur",
            "s0 div n0 AS mu0", "s1 div n1 AS mu1",
            """round(CAST('6.0' AS DOUBLE)
              |* sqrt(CAST(n0 * q0 - s0 * s0 AS DOUBLE))
              |/ CAST(n0 AS DOUBLE)
              |/ (sqrt(CAST(n1 * q1 - s1 * s1 AS DOUBLE))
              |   / CAST(n1 AS DOUBLE)) / CAST('6.0' AS DOUBLE), 6)
              |AS cp""".stripMargin,
            """round(least(
              |  (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
              |   + CAST('3.0' AS DOUBLE)
              |     * sqrt(CAST(n0 * q0 - s0 * s0 AS DOUBLE))
              |     / CAST(n0 AS DOUBLE)
              |   - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)),
              |  (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              |   - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
              |      - CAST('3.0' AS DOUBLE)
              |        * sqrt(CAST(n0 * q0 - s0 * s0 AS DOUBLE))
              |        / CAST(n0 AS DOUBLE))))
              |/ (CAST('3.0' AS DOUBLE)
              |   * sqrt(CAST(n1 * q1 - s1 * s1 AS DOUBLE))
              |   / CAST(n1 AS DOUBLE)), 6) AS cpk""".stripMargin)
      },
      Some("""WITH daily AS (SELECT year(o_orderdate) AS yr,
             |                    epoch_us(o_orderdate) // 86400000000
             |                      AS day,
             |                    CAST(count(*) AS BIGINT) AS c
             |             FROM orders
             |             WHERE year(o_orderdate) IN (1996, 1997)
             |             GROUP BY 1, 2),
             |m AS (SELECT yr, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(c) AS BIGINT) AS s,
             |             CAST(sum(c * c) AS BIGINT) AS q
             |      FROM daily GROUP BY 1),
             |b AS (SELECT n AS n0, s AS s0, q AS q0 FROM m
             |      WHERE yr = 1996),
             |c AS (SELECT n AS n1, s AS s1, q AS q1 FROM m
             |      WHERE yr = 1997)
             |SELECT n0 AS n_base, n1 AS n_cur,
             |       s0 // n0 AS mu0, s1 // n1 AS mu1,
             |       round(CAST('6.0' AS DOUBLE)
             |       * sqrt(CAST(n0 * q0 - s0 * s0 AS DOUBLE))
             |       / CAST(n0 AS DOUBLE)
             |       / (sqrt(CAST(n1 * q1 - s1 * s1 AS DOUBLE))
             |          / CAST(n1 AS DOUBLE)) / CAST('6.0' AS DOUBLE), 6)
             |         AS cp,
             |       round(least(
             |         (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
             |          + CAST('3.0' AS DOUBLE)
             |            * sqrt(CAST(n0 * q0 - s0 * s0 AS DOUBLE))
             |            / CAST(n0 AS DOUBLE)
             |          - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)),
             |         (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             |          - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
             |             - CAST('3.0' AS DOUBLE)
             |               * sqrt(CAST(n0 * q0 - s0 * s0 AS DOUBLE))
             |               / CAST(n0 AS DOUBLE))))
             |       / (CAST('3.0' AS DOUBLE)
             |          * sqrt(CAST(n1 * q1 - s1 * s1 AS DOUBLE))
             |          / CAST(n1 AS DOUBLE)), 6) AS cpk
             |FROM c CROSS JOIN b""".stripMargin)),

    // ── CUSUM of squares on daily revenue: D = max_k |Σ_{t≤k}x² ·n −
    //    k·Σx²| /(n·Σx²) — where the volatility regime breaks. Squared
    //    sums ride decimal; the cumulative window runs on the bounded
    //    day axis (calendar-sized, never data-sized).
    QueryDef("q_cusum_squares",
      (s, d) => {
        val daily = Tables.lineitem(s, d)
          .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
            "div 86400000000").as("day"))
          .agg(sum(floor(col("l_extendedprice")).cast("long")).as("x"))
        val cum = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val all = Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        daily
          .withColumn("cxx", sum(expr(s"CAST(x AS $dec) * x")).over(cum))
          .withColumn("k", count(lit(1)).over(cum))
          .withColumn("txx", sum(expr(s"CAST(x AS $dec) * x")).over(all))
          .withColumn("n", count(lit(1)).over(all))
          .withColumn("dnum", expr(
            """CASE WHEN cxx * n >= txx * k THEN cxx * n - txx * k
              |ELSE txx * k - cxx * n END""".stripMargin))
          .withColumn("d_e6",
            expr(s"CAST(dnum * 1000000 div (txx * n) AS BIGINT)"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("d_e6").desc, col("day"))))
          .filter(col("rk") === 1)
          .selectExpr("day AS break_day", "CAST(k AS BIGINT) AS k",
            "CAST(n AS BIGINT) AS n_days", "d_e6")
      },
      Some("""WITH daily AS (
             |  SELECT epoch_us(CAST(l_shipdate AS TIMESTAMP))
             |           // 86400000000 AS day,
             |         CAST(sum(CAST(floor(l_extendedprice) AS BIGINT))
             |           AS BIGINT) AS x
             |  FROM lineitem GROUP BY 1),
             |c AS (SELECT day,
             |             sum(CAST(x AS HUGEINT) * x) OVER cum AS cxx,
             |             CAST(count(*) OVER cum AS BIGINT) AS k,
             |             sum(CAST(x AS HUGEINT) * x) OVER () AS txx,
             |             CAST(count(*) OVER () AS BIGINT) AS n
             |      FROM daily
             |      WINDOW cum AS (ORDER BY day
             |                     ROWS UNBOUNDED PRECEDING)),
             |d AS (SELECT day, k, n,
             |             CAST((CASE WHEN cxx * n >= txx * k
             |                     THEN cxx * n - txx * k
             |                     ELSE txx * k - cxx * n END) * 1000000
             |               // (txx * n) AS BIGINT) AS d_e6
             |      FROM c)
             |SELECT day AS break_day, k, n AS n_days, d_e6
             |FROM (SELECT *, row_number() OVER (ORDER BY d_e6 DESC, day)
             |        AS rk
             |      FROM d)
             |WHERE rk = 1""".stripMargin)),

    /* p-chart (`q_p_chart`): monthly returned-line proportion vs
     * binomial 3σ limits around the pooled p̄ (variable n_t per month).
     * σ needs one sqrt — the limits are rounded to e6 integers BEFORE
     * the in/out-of-control comparison, so the flag is bit-deterministic
     * across engines (the double-sum lesson: only per-row scalar
     * chains are IEEE-portable, never cross-row double accumulation). */
    // ── p-chart: monthly return proportion vs pooled 3σ binomial
    //    limits; limits rounded to e6 BEFORE the flag comparison.
    QueryDef("q_p_chart",
      (s, d) => {
        val mo = Tables.lineitem(s, d)
          .select(trunc(col("l_shipdate"), "month").as("mo"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
          .groupBy(col("mo"))
          .agg(count(lit(1)).as("nt"), sum(col("r")).as("rt"))
          .localCheckpoint(false) // reused: pooled p̄ + per-month rows
        val pool = mo.agg(sum(col("nt")).as("nn"), sum(col("rt")).as("rr"))
        mo.crossJoin(broadcast(pool))
          .selectExpr("mo", "nt", "rt",
            "rt * 1000000 div nt AS p_e6",
            "rr * 1000000 div nn AS pbar_e6",
            """CAST(round(CAST('3000000.0' AS DOUBLE) * sqrt(
              |  (CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
              |  * (CAST('1.0' AS DOUBLE)
              |     - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
              |  / CAST(nt AS DOUBLE))) AS BIGINT) AS sigma3_e6"""
              .stripMargin)
          .selectExpr("mo", "nt", "rt", "p_e6", "pbar_e6", "sigma3_e6",
            """CASE WHEN p_e6 > pbar_e6 + sigma3_e6 THEN 'HIGH'
              |     WHEN p_e6 < pbar_e6 - sigma3_e6 THEN 'LOW'
              |     ELSE 'IN' END AS control""".stripMargin)
      },
      Some("""WITH mo AS (
             |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mo,
             |         CAST(count(*) AS BIGINT) AS nt,
             |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1
             |                       ELSE 0 END) AS BIGINT) AS rt
             |  FROM lineitem GROUP BY 1),
             |pool AS (SELECT CAST(sum(nt) AS BIGINT) AS nn,
             |                CAST(sum(rt) AS BIGINT) AS rr FROM mo),
             |j AS (SELECT mo, nt, rt,
             |        rt * 1000000 // nt AS p_e6,
             |        rr * 1000000 // nn AS pbar_e6,
             |        CAST(round(CAST('3000000.0' AS DOUBLE) * sqrt(
             |          (CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
             |          * (CAST('1.0' AS DOUBLE)
             |             - CAST(rr AS DOUBLE) / CAST(nn AS DOUBLE))
             |          / CAST(nt AS DOUBLE))) AS BIGINT) AS sigma3_e6
             |      FROM mo CROSS JOIN pool)
             |SELECT mo, nt, rt, p_e6, pbar_e6, sigma3_e6,
             |       CASE WHEN p_e6 > pbar_e6 + sigma3_e6 THEN 'HIGH'
             |            WHEN p_e6 < pbar_e6 - sigma3_e6 THEN 'LOW'
             |            ELSE 'IN' END AS control
             |FROM j""".stripMargin)),

    /* Taguchi loss (`q_taguchi_loss`): per-brand expected quadratic
     * loss around the quantity target 25, decomposed into bias² +
     * variance (exact integers; the identity Σ(x−T)² = n(μ−T)² + Sxx
     * is checked by construction since all three columns are emitted). */
    // ── Taguchi quadratic loss around quantity target 25, per brand.
    QueryDef("q_taguchi_loss",
      (s, d) => Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          floor(col("l_quantity") + 0.5).cast("long").as("x"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(expr("(x - 25) * (x - 25)")).as("sq"))
        .selectExpr("p_brand", "n",
          "sx * 100 div n AS mean_q_e2",
          "sq * 100 div n AS loss_e2",
          // bias² term at e4: ((sx - 25n)/n)² ·1e4 exact via n²-scale
          "(sx - 25 * n) * (sx - 25 * n) * 10000 div (n * n)" +
            " AS bias_sq_e4"),
      Some("""SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
             |         AS BIGINT) * 100
             |         // CAST(count(*) AS BIGINT) AS mean_q_e2,
             |       CAST(sum((CAST(floor(l_quantity + 0.5) AS BIGINT)
             |           - 25) * (CAST(floor(l_quantity + 0.5) AS BIGINT)
             |           - 25)) AS BIGINT) * 100
             |         // CAST(count(*) AS BIGINT) AS loss_e2,
             |       (CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
             |           AS BIGINT) - 25 * CAST(count(*) AS BIGINT))
             |         * (CAST(sum(CAST(floor(l_quantity + 0.5)
             |             AS BIGINT)) AS BIGINT)
             |           - 25 * CAST(count(*) AS BIGINT)) * 10000
             |         // (CAST(count(*) AS BIGINT)
             |            * CAST(count(*) AS BIGINT)) AS bias_sq_e4
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |GROUP BY 1""".stripMargin)),

    /* Cox–Stuart (`q_cox_stuart`): sign trend test pairing month t
     * with t+n/2 on the monthly revenue axis. */
    // ── Cox–Stuart sign trend test on monthly revenue.
    QueryDef("q_cox_stuart",
      (s, d) => {
        val m = shipMonthAxis(s, d).localCheckpoint(false)
        val n = m.agg(count(lit(1)).as("n_months"))
        val h = m.crossJoin(broadcast(n))
          .withColumn("h", expr("n_months div 2"))
        val early = h.filter(col("rn") <= col("h"))
          .select(col("rn"), col("x").as("x1"), col("h"),
            col("n_months"))
        val late = h.select((col("rn") - col("h")).as("rn"),
          col("x").as("x2"))
        early.join(late, "rn")
          .agg(max(col("n_months")).as("n_months"),
            sum(when(col("x2") > col("x1"), 1L).otherwise(0L)).as("pos"),
            sum(when(col("x2") < col("x1"), 1L).otherwise(0L)).as("neg"),
            sum(when(col("x2") === col("x1"), 1L).otherwise(0L))
              .as("ties"))
          .selectExpr("n_months", "pos", "neg", "ties",
            """CASE WHEN pos + neg = 0 THEN NULL
              |ELSE round((CAST(pos AS DOUBLE) - CAST(neg AS DOUBLE))
              |  / sqrt(CAST(pos + neg AS DOUBLE)), 6)
              |END AS z_trend""".stripMargin)
      },
      Some(s"""WITH $shipMonthAxisSql,
              |n AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM mr),
              |h AS (SELECT mr.*, n_months, n_months // 2 AS h
              |      FROM mr CROSS JOIN n),
              |p AS (SELECT e.n_months,
              |        CASE WHEN l.x > e.x THEN 1 ELSE 0 END AS is_pos,
              |        CASE WHEN l.x < e.x THEN 1 ELSE 0 END AS is_neg,
              |        CASE WHEN l.x = e.x THEN 1 ELSE 0 END AS is_tie
              |      FROM h e JOIN h l ON l.rn = e.rn + e.h
              |      WHERE e.rn <= e.h)
              |SELECT max(n_months) AS n_months,
              |       CAST(sum(is_pos) AS BIGINT) AS pos,
              |       CAST(sum(is_neg) AS BIGINT) AS neg,
              |       CAST(sum(is_tie) AS BIGINT) AS ties,
              |       CASE WHEN sum(is_pos) + sum(is_neg) = 0 THEN NULL
              |       ELSE round((CAST(sum(is_pos) AS DOUBLE)
              |           - CAST(sum(is_neg) AS DOUBLE))
              |         / sqrt(CAST(sum(is_pos) + sum(is_neg)
              |             AS DOUBLE)), 6)
              |       END AS z_trend
              |FROM p""".stripMargin)),

    /* Pettitt (`q_pettitt_revenue`): nonparametric changepoint via
     * U_t = Σ_{s≤t} V_s, V_t = Σ_j sgn(x_t − x_j) — the month×month
     * pair join is bounded by the calendar axis, and the recursion
     * turns the quadratic-per-t definition into one cumsum. */
    // ── Pettitt changepoint on monthly revenue: U_t = Σ_{s≤t} V_s.
    QueryDef("q_pettitt_revenue",
      (s, d) => {
        val m = shipMonthAxis(s, d).localCheckpoint(false)
        val v = m.crossJoin(broadcast(m.select(col("x").as("xb"))))
          .groupBy(col("rn"), col("mo"))
          .agg(sum(signum(col("x") - col("xb")).cast("long")).as("vt"))
        val u = v.withColumn("ut",
          sum(col("vt")).over(Window.orderBy(col("rn"))))
        u.withColumn("absu", abs(col("ut")))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("absu").desc, col("mo").asc)))
          .filter(col("rk") === 1)
          .crossJoin(broadcast(m.agg(count(lit(1)).as("n_months"))))
          .selectExpr("n_months", "absu AS k_stat", "mo AS t_star")
      },
      Some(s"""WITH $shipMonthAxisSql,
              |v AS (SELECT a.rn, a.mo,
              |        CAST(sum(CASE WHEN a.x > b.x THEN 1
              |                      WHEN a.x < b.x THEN -1
              |                      ELSE 0 END) AS BIGINT) AS vt
              |      FROM mr a CROSS JOIN mr b
              |      GROUP BY 1, 2),
              |u AS (SELECT rn, mo, sum(vt) OVER (ORDER BY rn) AS ut
              |      FROM v),
              |best AS (SELECT mo, abs(ut) AS absu,
              |           row_number() OVER (ORDER BY abs(ut) DESC, mo)
              |             AS rk
              |         FROM u)
              |SELECT (SELECT CAST(count(*) AS BIGINT) FROM mr)
              |         AS n_months,
              |       CAST(absu AS BIGINT) AS k_stat, mo AS t_star
              |FROM best WHERE rk = 1""".stripMargin)),

    /* Quandt sup-F break scan (`q_quandt_break`): the Chow F statistic
     * at EVERY admissible month split of the monthly-revenue OLS (the
     * unknown-breakpoint generalization of a single fixed-split test),
     * prefix/suffix moments from ONE cumulative window; top-5 breaks.
     * SSRs close through IEEE doubles from exact BIGINT moments,
     * textually identical in both engines. */
    // ── Quandt sup-F structural-break scan over the month axis.
    QueryDef("q_quandt_break",
      (s, d) => {
        val mo = monthAxis(s, d)
          .withColumn("t", row_number().over(Window.orderBy(col("mk")))
            .cast("long"))
        val w = Window.orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = mo
          .withColumn("cn", col("t"))
          .withColumn("csx", sum(col("t")).over(w))
          .withColumn("csy", sum(col("y")).over(w))
          .withColumn("csxx", sum(col("t") * col("t")).over(w))
          .withColumn("csxy", sum(col("t") * col("y")).over(w))
          .withColumn("csyy", sum(col("y") * col("y")).over(w))
        val tot = mo.agg(count(lit(1)).as("n"), sum(col("t")).as("tsx"),
          sum(col("y")).as("tsy"), sum(col("t") * col("t")).as("tsxx"),
          sum(col("t") * col("y")).as("tsxy"),
          sum(col("y") * col("y")).as("tsyy"))
        val ssr1 = ssrExpr("cn", "csx", "csy", "csxx", "csxy", "csyy")
        val ssr2 = ssrExpr("(n - cn)", "(tsx - csx)", "(tsy - csy)",
          "(tsxx - csxx)", "(tsxy - csxy)", "(tsyy - csyy)")
        val ssrP = ssrExpr("n", "tsx", "tsy", "tsxx", "tsxy", "tsyy")
        cum.crossJoin(broadcast(tot))
          .where(col("cn") >= 3 && col("cn") <= col("n") - 3)
          .selectExpr("t AS m",
            s"""CASE WHEN ($ssr1 + $ssr2) <= 0 THEN NULL
               |ELSE CAST(floor(($ssrP - $ssr1 - $ssr2) / 2
               |  / (($ssr1 + $ssr2) / (n - 4)) * 1000000) AS BIGINT)
               |END AS f_e6""".stripMargin)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("f_e6").desc_nulls_last, col("m"))))
          .where(col("rk") <= 5)
      },
      Some {
        val ssr1 = ssrExpr("cn", "csx", "csy", "csxx", "csxy", "csyy")
        val ssr2 = ssrExpr("(n - cn)", "(tsx - csx)", "(tsy - csy)",
          "(tsxx - csxx)", "(tsxy - csxy)", "(tsyy - csyy)")
        val ssrP = ssrExpr("n", "tsx", "tsy", "tsxx", "tsxy", "tsyy")
        monthAxisSql +
          s""",
             |ax AS (SELECT CAST(row_number() OVER (ORDER BY mk)
             |           AS BIGINT) AS t, y FROM mo),
             |cum AS (SELECT t, y, t AS cn,
             |          CAST(sum(t) OVER w AS BIGINT) AS csx,
             |          CAST(sum(y) OVER w AS BIGINT) AS csy,
             |          CAST(sum(t * t) OVER w AS BIGINT) AS csxx,
             |          CAST(sum(t * y) OVER w AS BIGINT) AS csxy,
             |          CAST(sum(y * y) OVER w AS BIGINT) AS csyy
             |        FROM ax
             |        WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |          CAST(sum(t) AS BIGINT) AS tsx,
             |          CAST(sum(y) AS BIGINT) AS tsy,
             |          CAST(sum(t * t) AS BIGINT) AS tsxx,
             |          CAST(sum(t * y) AS BIGINT) AS tsxy,
             |          CAST(sum(y * y) AS BIGINT) AS tsyy
             |        FROM ax),
             |f AS (SELECT t AS m,
             |        CASE WHEN ($ssr1 + $ssr2) <= 0 THEN NULL
             |        ELSE CAST(floor(($ssrP - $ssr1 - $ssr2) / 2
             |          / (($ssr1 + $ssr2) / (n - 4)) * 1000000) AS BIGINT)
             |        END AS f_e6
             |      FROM cum CROSS JOIN tot
             |      WHERE cn >= 3 AND cn <= n - 3)
             |SELECT m, f_e6, rk FROM (
             |  SELECT m, f_e6, CAST(row_number() OVER (ORDER BY f_e6
             |    DESC NULLS LAST, m) AS BIGINT) AS rk FROM f)
             |WHERE rk <= 5""".stripMargin
      }),

    /* Global Theil–Sen slope (`q_sen_slope`): the median of ALL
     * pairwise monthly-revenue slopes (q_siegel_slope is the per-point
     * median-of-medians variant) — slopes e6 sign-split exact, median
     * by rank over the bounded month-pair set. */
    // ── Global Theil–Sen: median of all pairwise month slopes.
    QueryDef("q_sen_slope",
      (s, d) => {
        val ax = monthAxis(s, d)
          .withColumn("t", row_number().over(Window.orderBy(col("mk")))
            .cast("long"))
          .select(col("t"), col("y"))
          .localCheckpoint(false) // bounded month axis, self-joined
        val pairs = ax.as("i").join(ax.as("j"),
            col("i.t") < col("j.t"))
          .selectExpr(
            """CASE WHEN j.y >= i.y
              |THEN (j.y - i.y) * 1000000 div (j.t - i.t)
              |ELSE -((i.y - j.y) * 1000000 div (j.t - i.t))
              |END AS slope_e6""".stripMargin)
        val n = pairs.agg(count(lit(1)).as("n_pairs"))
        pairs
          .withColumn("rk", row_number().over(Window.orderBy(col("slope_e6"))))
          .crossJoin(broadcast(n))
          .where(col("rk") === expr("(n_pairs + 1) div 2"))
          .selectExpr("n_pairs", "slope_e6 AS sen_slope_e6")
      },
      Some(monthAxisSql +
        """,
          |ax AS (SELECT CAST(row_number() OVER (ORDER BY mk) AS BIGINT)
          |         AS t, y FROM mo),
          |pairs AS (SELECT CASE WHEN j.y >= i.y
          |            THEN (j.y - i.y) * 1000000 // (j.t - i.t)
          |            ELSE -((i.y - j.y) * 1000000 // (j.t - i.t))
          |            END AS slope_e6
          |          FROM ax i JOIN ax j ON i.t < j.t),
          |n AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
          |r AS (SELECT slope_e6,
          |        CAST(row_number() OVER (ORDER BY slope_e6) AS BIGINT)
          |          AS rk
          |      FROM pairs)
          |SELECT n_pairs, slope_e6 AS sen_slope_e6
          |FROM r CROSS JOIN n WHERE rk = (n_pairs + 1) // 2"""
          .stripMargin)),

    /* c-chart (`q_c_chart`): Shewhart count chart over monthly returned
     * lineitems — CL = c̄, limits c̄ ± 3√c̄. The count-data companion to
     * q_p_chart (proportions) and q_cusum (drift): √c̄ is ONE scalar
     * per-element rounded before any comparison, every flag decision is
     * an integer compare. */
    // ── c-chart: monthly returned-lineitem counts vs c̄ ± 3√c̄.
    QueryDef("q_c_chart",
      (s, d) => {
        val mo = Tables.lineitem(s, d)
          .where(col("l_returnflag") === "R")
          .select(trunc(col("l_shipdate"), "month").as("mo"))
          .groupBy(col("mo")).agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // calendar-bounded, reused for c̄
        val pool = mo.agg(count(lit(1)).as("m"), sum(col("c")).as("ct"))
        mo.crossJoin(broadcast(pool))
          .selectExpr("mo", "c",
            "ct * 1000000 div m AS cbar_e6",
            """CAST(round(CAST('3000000.0' AS DOUBLE) * sqrt(
              |  CAST(ct AS DOUBLE) / CAST(m AS DOUBLE))) AS BIGINT)
              |  AS sigma3_e6""".stripMargin)
          .selectExpr("mo", "c", "cbar_e6", "sigma3_e6",
            """CASE WHEN c * 1000000 > cbar_e6 + sigma3_e6 THEN 'HIGH'
              |     WHEN c * 1000000 < cbar_e6 - sigma3_e6 THEN 'LOW'
              |     ELSE 'IN' END AS control""".stripMargin)
      },
      Some("""WITH mo AS (
             |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS mo,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
             |pool AS (SELECT CAST(count(*) AS BIGINT) AS m,
             |           CAST(sum(c) AS BIGINT) AS ct FROM mo)
             |SELECT mo, c,
             |       ct * 1000000 // m AS cbar_e6,
             |       CAST(round(CAST('3000000.0' AS DOUBLE) * sqrt(
             |         CAST(ct AS DOUBLE) / CAST(m AS DOUBLE))) AS BIGINT)
             |         AS sigma3_e6,
             |       CASE WHEN c * 1000000 > ct * 1000000 // m
             |              + CAST(round(CAST('3000000.0' AS DOUBLE)
             |              * sqrt(CAST(ct AS DOUBLE) / CAST(m AS DOUBLE)))
             |              AS BIGINT) THEN 'HIGH'
             |            WHEN c * 1000000 < ct * 1000000 // m
             |              - CAST(round(CAST('3000000.0' AS DOUBLE)
             |              * sqrt(CAST(ct AS DOUBLE) / CAST(m AS DOUBLE)))
             |              AS BIGINT) THEN 'LOW'
             |            ELSE 'IN' END AS control
             |FROM mo CROSS JOIN pool""".stripMargin)),

    /* Runs up/down (`q_runs_updown`): sign sequence of consecutive-day
     * revenue diffs (ties count as up, calendar gaps drop the pair —
     * both documented) → observed runs vs the exchangeability
     * expectation E[R] = (2n−1)/3 with Var = (16n−29)/90, plus the
     * difference-sign count against m/2. The direction-only companion
     * to q_records_count (levels) and q_rank_von_neumann (ranks);
     * exact integers, one sqrt close. */
    // ── Runs up/down + difference-sign on daily revenue.
    QueryDef("q_runs_updown",
      (s, d) => {
        val dl = Tables.orders(s, d)
          .groupBy(col("o_orderdate").as("dt"))
          .agg(sum(expr("CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT)"))
            .as("x"))
          .localCheckpoint(false) // calendar-bounded
        val diffs = dl.as("a").join(broadcast(dl.as("b")),
            expr("b.dt = date_add(a.dt, 1)"))
          .select(col("a.dt").as("dt"),
            when(col("b.x") >= col("a.x"), 1L).otherwise(-1L).as("sg"))
          .localCheckpoint(false)
        val chg = diffs.as("p").join(broadcast(diffs.as("q")),
            expr("q.dt = date_add(p.dt, 1)"))
          .agg(count(lit(1)).as("pairs"),
            sum(when(col("p.sg") =!= col("q.sg"), 1L).otherwise(0L))
              .as("changes"))
        val base = diffs.agg(count(lit(1)).as("m"),
          sum(when(col("sg") === 1L, 1L).otherwise(0L)).as("ups"))
        chg.crossJoin(broadcast(base))
          .selectExpr("m", "ups", "pairs", "changes",
            "changes + 1 AS runs",
            "(2 * (m + 1) - 1) * 1000000 div 3 AS e_runs_e6",
            """CASE WHEN 16 * (m + 1) - 29 <= 0 THEN NULL
              |WHEN (changes + 1) * 3 >= 2 * (m + 1) - 1
              |THEN CAST(round(CAST((changes + 1) * 3 - (2 * (m + 1) - 1)
              |    AS DOUBLE) / CAST('3.0' AS DOUBLE)
              |  / sqrt(CAST(16 * (m + 1) - 29 AS DOUBLE)
              |         / CAST('90.0' AS DOUBLE))
              |  * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
              |ELSE -CAST(round(CAST((2 * (m + 1) - 1) - (changes + 1) * 3
              |    AS DOUBLE) / CAST('3.0' AS DOUBLE)
              |  / sqrt(CAST(16 * (m + 1) - 29 AS DOUBLE)
              |         / CAST('90.0' AS DOUBLE))
              |  * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
              |END AS z_e6""".stripMargin)
      },
      Some(s"""WITH $ordersDailyHectoSql,
             |diffs AS (SELECT a.dt,
             |            CASE WHEN b.x >= a.x THEN 1 ELSE -1 END AS sg
             |          FROM daily a JOIN daily b ON b.dt = a.dt + 1),
             |chg AS (SELECT CAST(count(*) AS BIGINT) AS pairs,
             |          CAST(sum(CASE WHEN p.sg <> q.sg THEN 1 ELSE 0 END)
             |            AS BIGINT) AS changes
             |        FROM diffs p JOIN diffs q ON q.dt = p.dt + 1),
             |base AS (SELECT CAST(count(*) AS BIGINT) AS m,
             |           CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END)
             |             AS BIGINT) AS ups FROM diffs)
             |SELECT m, ups, pairs, changes,
             |       changes + 1 AS runs,
             |       (2 * (m + 1) - 1) * 1000000 // 3 AS e_runs_e6,
             |       CASE WHEN 16 * (m + 1) - 29 <= 0 THEN NULL
             |       WHEN (changes + 1) * 3 >= 2 * (m + 1) - 1
             |       THEN CAST(round(CAST((changes + 1) * 3
             |           - (2 * (m + 1) - 1) AS DOUBLE)
             |         / CAST('3.0' AS DOUBLE)
             |         / sqrt(CAST(16 * (m + 1) - 29 AS DOUBLE)
             |                / CAST('90.0' AS DOUBLE))
             |         * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
             |       ELSE -CAST(round(CAST((2 * (m + 1) - 1)
             |           - (changes + 1) * 3 AS DOUBLE)
             |         / CAST('3.0' AS DOUBLE)
             |         / sqrt(CAST(16 * (m + 1) - 29 AS DOUBLE)
             |                / CAST('90.0' AS DOUBLE))
             |         * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
             |       END AS z_e6
             |FROM chg CROSS JOIN base""".stripMargin))
  )
}
