package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.TimeSeries
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Forecasting and forecast evaluation: smoothing recursions, intermittent
  * demand, reconciliation, backtests, accuracy ratios, and
  * forecast-comparison tests. */
object ForecastQueries extends QueryCatalog {

  import Fixtures._

  /** Unrolled Holt (α = β = ½) oracle: pivot each key's first `m`
    * values via CASE-max, then m−1 step CTEs with uniquely-numbered
    * level/trend columns (no lateral-alias ambiguity); halves are
    * sign-factored to match Spark's toward-zero `div`. */
  private def holtSql(m: Int): String = {
    def sdiv2(v: String) =
      s"(CASE WHEN ($v) >= 0 THEN ($v) // 2 ELSE -((-($v)) // 2) END)"
    val xs = (1 to m).map(i =>
      s"max(CASE WHEN rn = $i THEN x END) AS x$i").mkString(",\n         ")
    val steps = (2 to m).map { t =>
      val carry = ((t + 1) to m).map(i => s"x$i").mkString(", ")
      val carrySql = if (carry.isEmpty) "" else s"$carry, "
      val lNew = sdiv2(s"x$t + l${t - 1} + b${t - 1}")
      s"""h$t AS (SELECT key, $carrySql$lNew AS l$t,
         |  ${sdiv2(s"$lNew - l${t - 1} + b${t - 1}")} AS b$t FROM h${t - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT event_type AS key,
       |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
       |                 row_number() OVER (PARTITION BY event_type
       |                                    ORDER BY ts, event_id) AS rn
       |           FROM events),
       |p AS (SELECT key, count(*) AS n,
       |         $xs
       |      FROM e WHERE rn <= $m GROUP BY key),
       |h1 AS (SELECT key, ${(2 to m).map(i => s"x$i").mkString(", ")},
       |              x1 AS l1, x2 - x1 AS b1 FROM p WHERE n = $m),
       |$steps
       |SELECT key, CAST(l$m AS BIGINT) AS level_cents,
       |       CAST(b$m AS BIGINT) AS trend_cents,
       |       CAST(l$m + b$m AS BIGINT) AS forecast_cents
       |FROM h$m""".stripMargin
  }

  /** Holt (α=β=½) over x_1..x_12 with l_1=x_1, b_1=0:
    *   l_t = (x_t + l_{t-1} + b_{t-1})/2,  b_t = (l_t − l_{t-1} + b_{t-1})/2.
    * Scaled L_t = l_t·4^{t-1}, B_t = b_t·4^{t-1} the recursion is
    * integer-exact: L_t = x_t·2^{2t-3} + 2L + 2B (even for t≥2), and
    * B_t = L_t/2 − 2L + 2B — every quotient is an exact division of an
    * even number, so trunc (Spark `div`) ≡ floor (DuckDB `//`) with no
    * sign factoring. 4^11 = 4194304 is the final unscale. Headroom:
    * monthly nation revenue ~1e9 cents × 2^21 ≈ 2e15 ≪ Long.MAX — holds
    * to sf100. */
  private val holtScale = 4194304L // 4^11

  /** month-indexed revenue in hecto-dollars (calendar-bounded). */
  private val monthlySql =
    """WITH monthly AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) * 12
      |           + CAST(month(o_orderdate) AS BIGINT) AS m,
      |         CAST(sum(CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS x
      |  FROM orders GROUP BY 1)""".stripMargin

  private def monthly(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d)
      .groupBy((expr("CAST(year(o_orderdate) AS BIGINT)") * 12 +
        expr("CAST(month(o_orderdate) AS BIGINT)")).as("m"))
      .agg(sum(expr("CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT)"))
        .as("x"))
      .localCheckpoint(false) // calendar-bounded, joined at two lags

  /** per-month (x, naive lag-1, seasonal lag-12), months with both. */
  private def lagged(s: org.apache.spark.sql.SparkSession, d: String) = {
    val mo = monthly(s, d)
    mo.join(broadcast(mo.select((col("m") + 1).as("m"),
        col("x").as("x1"))), Seq("m"))
      .join(broadcast(mo.select((col("m") + 12).as("m"),
        col("x").as("x12"))), Seq("m"))
  }

  private val laggedSql =
    monthlySql +
      """,
        |lagged AS (
        |  SELECT a.m, a.x, b.x AS x1, c.x AS x12
        |  FROM monthly a
        |  JOIN monthly b ON b.m = a.m - 1
        |  JOIN monthly c ON c.m = a.m - 12)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Per-type half-life EWMA of event values in cents: the truncating
    //    (s + x) div 2 recursion folds per key; the oracle replays the
    //    identical fold with list_reduce (0-prepended so both engines
    //    start from the same accumulator).
    QueryDef("q_ewma_smooth",
      (s, d) => TimeSeries.ewmaHalf(
        eventsTimedCents(s, d),
        "event_type", "t_us", "event_id", "cents"),
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS t, event_id,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events)
             |SELECT event_type AS key,
             |       list_reduce(list_prepend(CAST(0 AS BIGINT),
             |                                list(c ORDER BY t, event_id)),
             |                   (a, b) -> (a + b) // 2) AS ewma_cents,
             |       CAST(count(*) AS BIGINT) AS n_points
             |FROM e GROUP BY 1""".stripMargin)),

    // ── Seasonal-naive vs one-step-naive forecastability (MASE-style):
    //    per type, the ratio of seasonal (t−7) to naive (t−1) absolute
    //    error mass over the shared eligible rows.
    QueryDef("q_mase",
      (s, d) => TimeSeries.maseRatio(eventsDaily(s, d), "event_type"),
      Some(s"""$eventsDailySql,
              |w AS (SELECT event_type, v,
              |             lag(v, 1) OVER w1 AS l1, lag(v, 7) OVER w1 AS ls
              |      FROM s WINDOW w1 AS (PARTITION BY event_type ORDER BY t))
              |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              |       CAST(sum(abs(v - l1)) AS BIGINT) AS sae_naive,
              |       CAST(sum(abs(v - ls)) AS BIGINT) AS sae_seasonal,
              |       CAST(CASE WHEN sum(abs(v - l1)) = 0 THEN NULL
              |            ELSE sum(abs(v - ls)) * 1000000 // sum(abs(v - l1))
              |            END AS BIGINT) AS mase_e6
              |FROM w WHERE l1 IS NOT NULL AND ls IS NOT NULL
              |GROUP BY 1""".stripMargin)),

    // ── Holt double-exponential smoothing (α = β = ½) of each event
    //    type's first 6 values: bounded-horizon unroll — the coupled
    //    (level, trend) recursion as one pivot aggregate + fixed column
    //    arithmetic, closing SURVEY §7.4k's blocked candidate.
    QueryDef("q_holt_linear",
      (s, d) => TimeSeries.holtLinear(
        Tables.events(s, d)
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long")),
        "event_type", "ts", "event_id", "cents", 6),
      Some(holtSql(6))),

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
             |GROUP BY t.key, t.day, t.c""".stripMargin)),

    // ── Holt–Winters (α = β = γ = ½, period 7) over each type's first
    //    14 daily counts: the seasonal completion of EWMA → Holt.
    QueryDef("q_holt_winters",
      (s, d) => TimeSeries.holtWinters(
        Tables.events(s, d)
          .groupBy(col("event_type").as("k"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).as("c")),
        "k", "day", "day", "c", 7),
      Some(TimeSeries.holtWintersSql(
        """SELECT event_type AS key, epoch_us(ts) // 86400000000 AS t,
          |       epoch_us(ts) // 86400000000 AS tie, count(*) AS x
          |FROM events GROUP BY 1, 2, 3""".stripMargin, 7))),

    // ── Croston per part over ship-day demand: parts ship ~30 lines
    //    over ~2400 days, the canonical intermittent shape. Quantities
    //    are integral doubles → floor(+0.5) to BIGINT.
    QueryDef("q_croston",
      (s, d) => TimeSeries.croston(
        Tables.lineitem(s, d).select(
          col("l_partkey").as("k"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
            .as("day"),
          floor(col("l_quantity") + 0.5).cast("long").as("q")),
        "k", "day", "q")
        .filter(col("n_demands") >= 5L),
      Some("""WITH src AS (SELECT l_partkey AS key,
             |                   epoch_us(l_shipdate) // 86400000000 AS day,
             |                   CAST(floor(l_quantity + 0.5) AS BIGINT) AS q
             |            FROM lineitem),
             |nz AS (SELECT key, day, CAST(sum(q) AS BIGINT) AS q
             |       FROM src WHERE q > 0 GROUP BY 1, 2),
             |lg AS (SELECT key, day, q,
             |              day - lag(day) OVER (PARTITION BY key ORDER BY day) AS gap
             |       FROM nz),
             |f AS (SELECT key, CAST(count(*) AS BIGINT) AS n_demands,
             |         list_reduce(list_prepend(CAST(0 AS BIGINT),
             |                                  list(q ORDER BY day)),
             |                     (a, b) -> (a + b) // 2) AS z,
             |         list_reduce(list_prepend(CAST(0 AS BIGINT),
             |                                  list(gap ORDER BY day)
             |                                    FILTER (WHERE gap IS NOT NULL)),
             |                     (a, b) -> (a + b) // 2) AS p
             |      FROM lg GROUP BY 1)
             |SELECT key, n_demands, CAST(z AS BIGINT) AS z_q,
             |       CAST(p AS BIGINT) AS p_days,
             |       CAST(z * 1000 // greatest(p, 1) AS BIGINT) AS forecast_e3
             |FROM f WHERE n_demands >= 5""".stripMargin)),

    // ── Pinball loss: quartile predictors fit on even custkeys per
    //    segment, scored on odd custkeys; all integer e2 units.
    QueryDef("q_pinball_loss",
      (s, d) => {
        val units = Tables.customer(s, d)
          .select(col("c_mktsegment").as("seg"), col("c_custkey").as("ck"),
            floor(col("c_acctbal") * 100 + 0.5).cast("long").as("v"))
          .localCheckpoint(false) // reused: fit + eval split
        val fit = units.where(col("ck") % 2 === 0)
        val win = Window.partitionBy(col("seg")).orderBy(col("v"), col("ck"))
        val ranked = fit
          .withColumn("r", row_number().over(win).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("seg"))))
        val preds = Seq(1, 2, 3).map { k =>
          ranked.where(col("r") * 4 >= col("n") * k)
            .withColumn("pk", row_number().over(win))
            .where(col("pk") === 1)
            .select(col("seg"), lit(k.toLong * 25).as("tau"),
              col("v").as("q_cents"))
        }.reduce(_ unionByName _)
        units.where(col("ck") % 2 =!= 0)
          .join(broadcast(preds), "seg")
          .withColumn("loss_e2",
            when(col("v") >= col("q_cents"),
              col("tau") * (col("v") - col("q_cents")))
              .otherwise((lit(100L) - col("tau"))
                * (col("q_cents") - col("v"))))
          .groupBy(col("seg"), col("tau"), col("q_cents"))
          .agg(count(lit(1)).as("n_eval"),
            expr("sum(loss_e2) div count(1)").as("mean_pinball_e2"))
      },
      Some {
        def pick(k: Int) =
          s"""SELECT seg, CAST(${k * 25} AS BIGINT) AS tau, v AS q_cents
             |FROM (SELECT seg, v,
             |             row_number() OVER (PARTITION BY seg
             |               ORDER BY v, ck) AS pk
             |      FROM ranked WHERE r * 4 >= n * $k)
             |WHERE pk = 1""".stripMargin
        s"""WITH units AS (
           |  SELECT c_mktsegment AS seg, c_custkey AS ck,
           |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
           |  FROM customer),
           |ranked AS (
           |  SELECT seg, ck, v,
           |         CAST(row_number() OVER (PARTITION BY seg
           |           ORDER BY v, ck) AS BIGINT) AS r,
           |         CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n
           |  FROM units WHERE ck % 2 = 0),
           |preds AS (${Seq(1, 2, 3).map(pick).mkString("\nUNION ALL\n")}),
           |ev AS (SELECT u.seg, p.tau, p.q_cents,
           |              CASE WHEN u.v >= p.q_cents
           |                   THEN p.tau * (u.v - p.q_cents)
           |                   ELSE (100 - p.tau) * (p.q_cents - u.v)
           |              END AS loss_e2
           |       FROM units u JOIN preds p ON u.seg = p.seg
           |       WHERE u.ck % 2 <> 0)
           |SELECT seg, tau, q_cents, CAST(count(*) AS BIGINT) AS n_eval,
           |       CAST(sum(loss_e2) // count(*) AS BIGINT)
           |         AS mean_pinball_e2
           |FROM ev GROUP BY 1, 2, 3""".stripMargin
      }),

    // ── SMAPE backtest: naive (lag 1) vs seasonal-naive (lag 7) daily
    //    count forecasts per type; per-term e6 truncation, 0/0 skipped.
    QueryDef("q_smape_eval",
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(col("event_type").as("et"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .groupBy(col("et"), col("day")).agg(count(lit(1)).as("x"))
        val w = Window.partitionBy(col("et")).orderBy(col("day"))
        val f = daily
          .withColumn("f1", lag(col("x"), 1).over(w))
          .withColumn("f7", lag(col("x"), 7).over(w))
        Seq(("naive", "f1"), ("snaive", "f7")).map { case (nm, c) =>
          f.where(col(c).isNotNull && (col("x") + col(c)) > 0)
            .groupBy(col("et"))
            .agg(count(lit(1)).as("n"),
              sum(expr(s"2000000 * abs(x - $c) div (x + $c)"))
                .as("s_terms"))
            .select(col("et"), lit(nm).as("model"), col("n"),
              expr("s_terms div n").as("smape_e6"))
        }.reduce(_ unionByName _)
      },
      Some {
        def side(nm: String, lagN: Int) =
          s"""SELECT et, '$nm' AS model, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(2000000 * abs(x - f) // (x + f)) // count(*)
             |         AS BIGINT) AS smape_e6
             |FROM (SELECT et, x, lag(x, $lagN) OVER (PARTITION BY et
             |        ORDER BY day) AS f FROM daily)
             |WHERE f IS NOT NULL AND x + f > 0
             |GROUP BY 1""".stripMargin
        s"""WITH daily AS (SELECT event_type AS et,
           |                     epoch_us(ts) // 86400000000 AS day,
           |                     CAST(count(*) AS BIGINT) AS x
           |              FROM events GROUP BY 1, 2)
           |${side("naive", 1)}
           |UNION ALL
           |${side("snaive", 7)}""".stripMargin
      }),

    // ── Holt level+trend per nation over the 12 months of 1995, h=3
    //    forecast. Spark folds the month vector with one `aggregate`
    //    HOF (linear expression, single pass, per-key — no shuffle past
    //    the pivot); the oracle re-derives the same recursion as 11
    //    chained CTEs — two INDEPENDENT formulations of one identity.
    QueryDef("q_holt_smooth",
      (s, d) => {
        val m = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
          .where(year(col("o_orderdate")) === 1995)
          .groupBy(col("n_name").as("g"), month(col("o_orderdate")).as("mth"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .as("x"))
        m.groupBy(col("g")).pivot("mth", 1 to 12).agg(first(col("x")))
          .na.fill(0L)
          .withColumn("xs", array((1 to 12).map(i =>
            col(s"`$i`").cast("long")): _*))
          .withColumn("st", expr(
            """aggregate(slice(xs, 2, 11),
              |  named_struct('L', xs[0], 'B', CAST(0 AS BIGINT), 't', 1),
              |  (acc, x) -> named_struct(
              |    'L', x * shiftleft(CAST(1 AS BIGINT), 2 * acc.t - 1)
              |         + 2 * acc.L + 2 * acc.B,
              |    'B', (x * shiftleft(CAST(1 AS BIGINT), 2 * acc.t - 1)
              |          + 2 * acc.L + 2 * acc.B) div 2 - 2 * acc.L + 2 * acc.B,
              |    't', acc.t + 1))""".stripMargin))
          .selectExpr("g AS nation", "st.L AS level_scaled",
            "st.B AS trend_scaled", "st.L + 3 * st.B AS forecast3_scaled",
            s"""CASE WHEN st.L + 3 * st.B >= 0
               |  THEN (st.L + 3 * st.B) div ${holtScale}L
               |  ELSE -((-(st.L + 3 * st.B)) div ${holtScale}L)
               |END AS forecast3_cents""".stripMargin)
      },
      Some {
        val pivots = (1 to 12).map(i =>
          s"coalesce(max(CASE WHEN mth = $i THEN x END), 0) AS x$i")
          .mkString(",\n       ")
        val steps = (2 to 12).map { t =>
          val coef = 1L << (2 * t - 3)
          s"""s$t AS (SELECT g, L, L // 2 - 2 * Lp + 2 * Bp AS B FROM (
             |  SELECT p.g, p.x$t * $coef + 2 * s${t - 1}.L + 2 * s${t - 1}.B AS L,
             |         s${t - 1}.L AS Lp, s${t - 1}.B AS Bp
             |  FROM p JOIN s${t - 1} USING (g)))""".stripMargin
        }.mkString(",\n")
        s"""WITH m AS (
           |  SELECT n_name AS g, month(o_orderdate) AS mth,
           |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           |           AS BIGINT) AS x
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |              JOIN nation ON c_nationkey = n_nationkey
           |  WHERE year(o_orderdate) = 1995
           |  GROUP BY 1, 2),
           |p AS (SELECT g,
           |       $pivots
           |      FROM m GROUP BY 1),
           |s1 AS (SELECT g, CAST(x1 AS BIGINT) AS L, CAST(0 AS BIGINT) AS B
           |       FROM p),
           |$steps
           |SELECT g AS nation, L AS level_scaled, B AS trend_scaled,
           |       L + 3 * B AS forecast3_scaled,
           |       CASE WHEN L + 3 * B >= 0 THEN (L + 3 * B) // $holtScale
           |            ELSE -((-(L + 3 * B)) // $holtScale)
           |       END AS forecast3_cents
           |FROM s12""".stripMargin
      }),

    // ── Theta-lite forecast per event type over the daily revenue
    //    series: level = SES with alpha = 1/2 (the (acc+x)//2 fold,
    //    exactly q_ewma_smooth's recursion), drift = OLS slope over
    //    the observed-day index, forecast(h) = level + (slope·h)/2 —
    //    the theta method's equal-weight combination of the theta=0
    //    and theta=2 lines. Slope divisions double-truncate
    //    (num // max(1, den // 1e6)) identically in both engines.
    QueryDef("q_theta_forecast",
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("dy"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
          .groupBy(col("event_type"), col("dy"))
          .agg(sum(col("c")).as("c"))
        import org.apache.spark.sql.expressions.Window
        val idx = daily.withColumn("t",
          (row_number().over(Window.partitionBy(col("event_type"))
            .orderBy(col("dy"))) - 1).cast("long"))
        idx.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("t") * col("c")).as("sty"),
            sum(col("t")).as("st"),
            sum(col("c")).as("sy"),
            sum(col("t") * col("t")).as("stt"),
            expr("aggregate(sort_array(collect_list(struct(dy, c))), CAST(0 AS BIGINT), (acc, x) -> (acc + x.c) div 2)")
              .as("ses_cents"))
          .selectExpr("event_type", "CAST(n AS BIGINT) AS n_days",
            "ses_cents",
            """CASE WHEN n * sty - st * sy >= 0
              |  THEN (n * sty - st * sy)
              |       div greatest(1L, (n * stt - st * st) div 1000000)
              |  ELSE -((st * sy - n * sty)
              |       div greatest(1L, (n * stt - st * st) div 1000000))
              |END AS slope_e6""".stripMargin)
          .selectExpr("event_type", "n_days", "ses_cents", "slope_e6",
            """CASE WHEN slope_e6 >= 0
              |  THEN ses_cents + slope_e6 div 2000000
              |  ELSE ses_cents - (-slope_e6) div 2000000
              |END AS f1_cents""".stripMargin,
            """CASE WHEN slope_e6 >= 0
              |  THEN ses_cents + (slope_e6 * 2) div 2000000
              |  ELSE ses_cents - ((-slope_e6) * 2) div 2000000
              |END AS f2_cents""".stripMargin,
            """CASE WHEN slope_e6 >= 0
              |  THEN ses_cents + (slope_e6 * 3) div 2000000
              |  ELSE ses_cents - ((-slope_e6) * 3) div 2000000
              |END AS f3_cents""".stripMargin)
      },
      Some("""WITH daily AS (
             |  SELECT event_type, epoch_us(ts) // 86400000000 AS dy,
             |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |           AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2),
             |idx AS (SELECT event_type, dy, c,
             |          CAST(row_number() OVER (PARTITION BY event_type
             |            ORDER BY dy) - 1 AS BIGINT) AS t
             |        FROM daily),
             |a AS (SELECT event_type,
             |        CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(t * c) AS BIGINT) AS sty,
             |        CAST(sum(t) AS BIGINT) AS st,
             |        CAST(sum(c) AS BIGINT) AS sy,
             |        CAST(sum(t * t) AS BIGINT) AS stt,
             |        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |               list(c ORDER BY dy)),
             |             (x, y) -> (x + y) // 2) AS BIGINT) AS ses_cents
             |      FROM idx GROUP BY 1),
             |b AS (SELECT event_type, n AS n_days, ses_cents,
             |        CASE WHEN n * sty - st * sy >= 0
             |          THEN (n * sty - st * sy)
             |               // greatest(1, (n * stt - st * st) // 1000000)
             |          ELSE -((st * sy - n * sty)
             |               // greatest(1, (n * stt - st * st) // 1000000))
             |        END AS slope_e6
             |      FROM a)
             |SELECT event_type, n_days, ses_cents, slope_e6,
             |       CASE WHEN slope_e6 >= 0
             |         THEN ses_cents + slope_e6 // 2000000
             |         ELSE ses_cents - (-slope_e6) // 2000000
             |       END AS f1_cents,
             |       CASE WHEN slope_e6 >= 0
             |         THEN ses_cents + (slope_e6 * 2) // 2000000
             |         ELSE ses_cents - ((-slope_e6) * 2) // 2000000
             |       END AS f2_cents,
             |       CASE WHEN slope_e6 >= 0
             |         THEN ses_cents + (slope_e6 * 3) // 2000000
             |         ELSE ses_cents - ((-slope_e6) * 3) // 2000000
             |       END AS f3_cents
             |FROM b""".stripMargin)),

    // ── Hierarchical reconciliation: naive seasonal forecast for 1997
    //    = 1996 actuals. Bottom-up: nation forecast as-is. Top-down:
    //    region 1996 total redistributed by each nation's 1996 share.
    //    Emit both forecasts + absolute errors vs 1997 actuals — the
    //    coherent-by-construction pair every hierarchy reconciler
    //    compares.
    QueryDef("q_forecast_reconcile",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(expr("year(l_shipdate) IN (1996, 1997)"))
          .join(broadcast(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_nationkey").as("nk"),
            col("n_regionkey").as("rk"))
          .agg(sum(when(expr("year(l_shipdate) = 1996"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("y96"),
            sum(when(expr("year(l_shipdate) = 1997"),
              expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
              .otherwise(0L)).as("y97"))
        val reg = rev.groupBy(col("rk"))
          .agg(sum(col("y96")).as("r96"))
        rev.join(broadcast(reg), "rk")
          .selectExpr("CAST(nk AS BIGINT) AS nationkey",
            "CAST(rk AS BIGINT) AS regionkey",
            "y97 AS actual_cents", "y96 AS f_bu_cents",
            "r96 * (y96 * 1000000 div greatest(1L, r96)) div 1000000 AS f_td_cents",
            "abs(y97 - y96) AS err_bu_cents",
            "abs(y97 - r96 * (y96 * 1000000 div greatest(1L, r96)) div 1000000) AS err_td_cents")
      },
      Some("""WITH rev AS (
             |  SELECT s.s_nationkey AS nk, n.n_regionkey AS rk,
             |         CAST(sum(CASE WHEN year(l.l_shipdate) = 1996
             |           THEN CAST(floor(l.l_extendedprice * 100 + 0.5)
             |             AS BIGINT) ELSE 0 END) AS BIGINT) AS y96,
             |         CAST(sum(CASE WHEN year(l.l_shipdate) = 1997
             |           THEN CAST(floor(l.l_extendedprice * 100 + 0.5)
             |             AS BIGINT) ELSE 0 END) AS BIGINT) AS y97
             |  FROM lineitem l
             |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
             |  JOIN nation n ON s.s_nationkey = n.n_nationkey
             |  WHERE year(l.l_shipdate) IN (1996, 1997)
             |  GROUP BY 1, 2),
             |reg AS (SELECT rk, CAST(sum(y96) AS BIGINT) AS r96
             |        FROM rev GROUP BY 1)
             |SELECT CAST(nk AS BIGINT) AS nationkey,
             |       CAST(rk AS BIGINT) AS regionkey,
             |       y97 AS actual_cents, y96 AS f_bu_cents,
             |       r96 * (y96 * 1000000 // greatest(1, r96)) // 1000000 AS f_td_cents,
             |       abs(y97 - y96) AS err_bu_cents,
             |       abs(y97 - r96 * (y96 * 1000000 // greatest(1, r96)) // 1000000)
             |         AS err_td_cents
             |FROM rev JOIN reg USING (rk)""".stripMargin)),

    /* AR(2) Yule–Walker fit (`q_ar2_forecast`): closed-form
     * autoregression coefficients from integer lag-1/lag-2
     * autocorrelations (exact decimal(38,0) moments, e6 fixed-point,
     * sign-factored truncating division) plus the one-step forecast. */
    // ── AR(2) by Yule–Walker over each event type's daily-count
    //    series: r1, r2 from exact centered moments (decimal(38,0)
    //    sums → e6), then φ1 = r1(1−r2)/(1−r1²), φ2 = (r2−r1²)/(1−r1²)
    //    and the one-step forecast μ + φ1(xₙ−μ) + φ2(xₙ₋₁−μ), all in
    //    sign-factored e6 integer arithmetic.
    QueryDef("q_ar2_forecast",
      (s, d) => {
        val ax = Tables.events(s, d)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .agg(count(lit(1)).cast(dec).as("x"))
          .localCheckpoint(false)
        val tot = ax.groupBy(col("event_type"))
          .agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("s"),
            max(struct(col("day"), col("x"))).getField("x").as("xn"))
        val xn1 = ax.join(
            ax.groupBy(col("event_type")).agg(max(col("day")).as("md")),
            "event_type")
          .filter(col("day") < col("md"))
          .groupBy(col("event_type"))
          .agg(max(struct(col("day"), col("x"))).getField("x").as("xn1"))
        val cen = ax.join(broadcast(tot), "event_type")
          .select(col("event_type"), col("day"),
            (col("n") * col("x") - col("s")).as("c"))
          .localCheckpoint(false)
        val den = cen.groupBy(col("event_type"))
          .agg(sum(col("c") * col("c")).as("den"))
        val nums = cen
          .select(col("event_type"), col("day"), col("c"),
            explode(expr("sequence(1, 2)")).as("lag"))
          .withColumn("pd", col("day") + col("lag"))
          .join(cen.select(col("event_type"), col("day").as("pd"),
            col("c").as("cl")), Seq("event_type", "pd"))
          .groupBy(col("event_type"))
          .agg(sum(when(col("lag") === 1, col("c") * col("cl"))
            .otherwise(lit(0).cast(dec))).as("num1"),
            sum(when(col("lag") === 2, col("c") * col("cl"))
              .otherwise(lit(0).cast(dec))).as("num2"))
        val rs = nums.join(broadcast(den), "event_type")
          .selectExpr("event_type",
            """CAST(CASE WHEN num1 >= 0
              |  THEN (num1 * 1000000) div greatest(CAST(1 AS decimal(38,0)), den)
              |  ELSE -((-num1 * 1000000) div greatest(CAST(1 AS decimal(38,0)), den))
              |END AS BIGINT) AS r1""".stripMargin,
            """CAST(CASE WHEN num2 >= 0
              |  THEN (num2 * 1000000) div greatest(CAST(1 AS decimal(38,0)), den)
              |  ELSE -((-num2 * 1000000) div greatest(CAST(1 AS decimal(38,0)), den))
              |END AS BIGINT) AS r2""".stripMargin)
        val phi = rs.selectExpr("event_type", "r1", "r2",
          "greatest(1L, 1000000000000L - r1 * r1) AS dphi",
          "r1 * (1000000 - r2) AS n1",
          "r2 * 1000000 - r1 * r1 AS n2")
          .selectExpr("event_type", "r1", "r2",
            """CASE WHEN n1 >= 0 THEN n1 * 1000000 div dphi
              |ELSE -((-n1) * 1000000 div dphi) END AS phi1_e6""".stripMargin,
            """CASE WHEN n2 >= 0 THEN n2 * 1000000 div dphi
              |ELSE -((-n2) * 1000000 div dphi) END AS phi2_e6""".stripMargin)
        phi.join(broadcast(tot.selectExpr("event_type",
            "CAST(s * 1000000 div n AS BIGINT) AS mu_e6",
            "CAST(xn AS BIGINT) AS xn")), "event_type")
          .join(broadcast(xn1.selectExpr("event_type",
            "CAST(xn1 AS BIGINT) AS xn1")), "event_type")
          .selectExpr("event_type", "r1", "r2", "phi1_e6", "phi2_e6",
            """mu_e6 + CASE WHEN phi1_e6 * (xn * 1000000 - mu_e6) >= 0
              |  THEN phi1_e6 * (xn * 1000000 - mu_e6) div 1000000
              |  ELSE -((-(phi1_e6 * (xn * 1000000 - mu_e6))) div 1000000)
              |END + CASE WHEN phi2_e6 * (xn1 * 1000000 - mu_e6) >= 0
              |  THEN phi2_e6 * (xn1 * 1000000 - mu_e6) div 1000000
              |  ELSE -((-(phi2_e6 * (xn1 * 1000000 - mu_e6))) div 1000000)
              |END AS forecast_e6""".stripMargin)
      },
      Some("""WITH ax AS (
             |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
             |         count(*) AS x
             |  FROM events GROUP BY 1, 2),
             |tot AS (SELECT event_type, count(*) AS n, sum(x) AS s,
             |               max_by(x, day) AS xn
             |        FROM ax GROUP BY 1),
             |xn1 AS (SELECT a.event_type, max_by(a.x, a.day) AS xn1
             |        FROM ax a JOIN (SELECT event_type, max(day) AS md
             |                        FROM ax GROUP BY 1) m
             |          ON a.event_type = m.event_type AND a.day < m.md
             |        GROUP BY 1),
             |cen AS (SELECT a.event_type, a.day, t.n * a.x - t.s AS c
             |        FROM ax a JOIN tot t ON a.event_type = t.event_type),
             |den AS (SELECT event_type, sum(c * c) AS den
             |        FROM cen GROUP BY 1),
             |nums AS (
             |  SELECT a.event_type,
             |         sum(CASE WHEN b.day = a.day + 1 THEN a.c * b.c
             |           ELSE 0 END) AS num1,
             |         sum(CASE WHEN b.day = a.day + 2 THEN a.c * b.c
             |           ELSE 0 END) AS num2
             |  FROM cen a JOIN cen b ON a.event_type = b.event_type
             |    AND b.day IN (a.day + 1, a.day + 2)
             |  GROUP BY 1),
             |rs AS (
             |  SELECT n.event_type,
             |         CAST(CASE WHEN num1 >= 0
             |           THEN (num1 * 1000000) // greatest(1, den)
             |           ELSE -((-num1 * 1000000) // greatest(1, den))
             |         END AS BIGINT) AS r1,
             |         CAST(CASE WHEN num2 >= 0
             |           THEN (num2 * 1000000) // greatest(1, den)
             |           ELSE -((-num2 * 1000000) // greatest(1, den))
             |         END AS BIGINT) AS r2
             |  FROM nums n JOIN den d ON n.event_type = d.event_type),
             |phi AS (
             |  SELECT event_type, r1, r2,
             |         CASE WHEN r1 * (1000000 - r2) >= 0
             |           THEN r1 * (1000000 - r2) * 1000000
             |                // greatest(1, 1000000000000 - r1 * r1)
             |           ELSE -((-(r1 * (1000000 - r2))) * 1000000
             |                // greatest(1, 1000000000000 - r1 * r1))
             |         END AS phi1_e6,
             |         CASE WHEN r2 * 1000000 - r1 * r1 >= 0
             |           THEN (r2 * 1000000 - r1 * r1) * 1000000
             |                // greatest(1, 1000000000000 - r1 * r1)
             |           ELSE -((-(r2 * 1000000 - r1 * r1)) * 1000000
             |                // greatest(1, 1000000000000 - r1 * r1))
             |         END AS phi2_e6
             |  FROM rs)
             |SELECT p.event_type, p.r1, p.r2, p.phi1_e6, p.phi2_e6,
             |       CAST(t.s * 1000000 // t.n AS BIGINT)
             |       + CASE WHEN p.phi1_e6 * (t.xn * 1000000
             |           - t.s * 1000000 // t.n) >= 0
             |         THEN CAST(p.phi1_e6 * (t.xn * 1000000
             |           - t.s * 1000000 // t.n) // 1000000 AS BIGINT)
             |         ELSE -CAST((-(p.phi1_e6 * (t.xn * 1000000
             |           - t.s * 1000000 // t.n))) // 1000000 AS BIGINT)
             |       END
             |       + CASE WHEN p.phi2_e6 * (x.xn1 * 1000000
             |           - t.s * 1000000 // t.n) >= 0
             |         THEN CAST(p.phi2_e6 * (x.xn1 * 1000000
             |           - t.s * 1000000 // t.n) // 1000000 AS BIGINT)
             |         ELSE -CAST((-(p.phi2_e6 * (x.xn1 * 1000000
             |           - t.s * 1000000 // t.n))) // 1000000 AS BIGINT)
             |       END AS forecast_e6
             |FROM phi p JOIN tot t ON p.event_type = t.event_type
             |JOIN xn1 x ON p.event_type = x.event_type""".stripMargin)),

    /* Mincer–Zarnowitz (`q_mincer_zarnowitz`): forecast-rationality
     * regression of monthly revenue on its naive lag-1 forecast —
     * α=0, β=1 is the rational benchmark; the t-stat on β−1 reads
     * whether the naive forecast is systematically improvable. The
     * missing piece of the forecast-eval family next to q_mase /
     * q_smape_eval / q_pinball_loss. */
    // ── Mincer–Zarnowitz: actual on naive lag-1 forecast.
    QueryDef("q_mincer_zarnowitz",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val monthly = Tables.lineitem(s, d)
          .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
            " div 2592000000000").as("mo"))
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5)
            .cast("long")).as("a"))
        val p = monthly
          .withColumn("f", lag(col("a"), 1).over(Window.orderBy("mo")))
          .where(col("f").isNotNull)
          .selectExpr(s"CAST(f AS $dec) AS x", s"CAST(a AS $dec) AS y")
        p.agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("y") * col("y")).as("syy"))
          .selectExpr("CAST(n AS BIGINT) AS n_months",
            """CASE WHEN n * sxx - sx * sx = 0 THEN NULL
              |ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
              |  / CAST(n * sxx - sx * sx AS DOUBLE), 6)
              |END AS beta""".stripMargin,
            """CASE WHEN n * sxx - sx * sx = 0 THEN NULL
              |ELSE round((CAST(sy AS DOUBLE)
              |    - (CAST(n * sxy - sx * sy AS DOUBLE)
              |       / CAST(n * sxx - sx * sx AS DOUBLE))
              |      * CAST(sx AS DOUBLE))
              |  / CAST(n AS DOUBLE) / CAST('100.0' AS DOUBLE), 6)
              |END AS alpha_usd""".stripMargin,
            // t on β−1: (β−1)/se(β), se² = (SSE/(n−2))·n/(n·Sxx−Sx²)
            """CASE WHEN n * sxx - sx * sx = 0 OR n <= 2 THEN NULL
              |ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)
              |    / CAST(n * sxx - sx * sx AS DOUBLE)
              |    - CAST('1.0' AS DOUBLE))
              |  / sqrt(((CAST(n * syy - sy * sy AS DOUBLE)
              |          - CAST(n * sxy - sx * sy AS DOUBLE)
              |            * CAST(n * sxy - sx * sy AS DOUBLE)
              |            / CAST(n * sxx - sx * sx AS DOUBLE))
              |         / CAST(n - 2 AS DOUBLE))
              |        / CAST(n * sxx - sx * sx AS DOUBLE)
              |        * CAST(n AS DOUBLE)), 6)
              |END AS t_beta_minus_1""".stripMargin)
      },
      Some("""WITH monthly AS (
             |  SELECT epoch_us(l_shipdate) // 2592000000000 AS mo,
             |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS a
             |  FROM lineitem GROUP BY 1),
             |p AS (SELECT CAST(f AS HUGEINT) AS x,
             |             CAST(a AS HUGEINT) AS y
             |      FROM (SELECT a, lag(a) OVER (ORDER BY mo) AS f
             |            FROM monthly)
             |      WHERE f IS NOT NULL),
             |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             |             sum(x) AS sx, sum(y) AS sy,
             |             sum(x * x) AS sxx, sum(x * y) AS sxy,
             |             sum(y * y) AS syy
             |      FROM p)
             |SELECT CAST(n AS BIGINT) AS n_months,
             |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             |       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
             |         / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             |       END AS beta,
             |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             |       ELSE round((CAST(sy AS DOUBLE)
             |           - (CAST(n * sxy - sx * sy AS DOUBLE)
             |              / CAST(n * sxx - sx * sx AS DOUBLE))
             |             * CAST(sx AS DOUBLE))
             |         / CAST(n AS DOUBLE) / CAST('100.0' AS DOUBLE), 6)
             |       END AS alpha_usd,
             |       CASE WHEN n * sxx - sx * sx = 0 OR n <= 2 THEN NULL
             |       ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)
             |           / CAST(n * sxx - sx * sx AS DOUBLE)
             |           - CAST('1.0' AS DOUBLE))
             |         / sqrt(((CAST(n * syy - sy * sy AS DOUBLE)
             |                 - CAST(n * sxy - sx * sy AS DOUBLE)
             |                   * CAST(n * sxy - sx * sy AS DOUBLE)
             |                   / CAST(n * sxx - sx * sx AS DOUBLE))
             |                / CAST(n - 2 AS DOUBLE))
             |               / CAST(n * sxx - sx * sx AS DOUBLE)
             |               * CAST(n AS DOUBLE)), 6)
             |       END AS t_beta_minus_1
             |FROM m""".stripMargin)),

    /* Theil's U2 (`q_theil_forecast`): seasonal-naive (lag-12) vs
     * naive (lag-1) squared-error ratio over monthly revenue — U2 < 1
     * means seasonality beats persistence. Exact BIGINT error sums on
     * the SAME month set (both lags must exist), one per-element sqrt. */
    // ── Theil's U2: seasonal-naive vs naive squared-error ratio.
    QueryDef("q_theil_forecast",
      (s, d) => {
        lagged(s, d)
          .agg(count(lit(1)).as("t_months"),
            sum(expr("(x - x1) * (x - x1)")).as("s1"),
            sum(expr("(x - x12) * (x - x12)")).as("s12"))
          .selectExpr("t_months", "s1", "s12",
            """CASE WHEN s1 = 0 THEN NULL
              |ELSE CAST(round(sqrt(CAST(s12 AS DOUBLE)
              |  / CAST(s1 AS DOUBLE)) * CAST('1000000.0' AS DOUBLE))
              |  AS BIGINT) END AS u2_e6""".stripMargin)
      },
      Some(laggedSql +
        """
          |SELECT CAST(count(*) AS BIGINT) AS t_months,
          |       CAST(sum((x - x1) * (x - x1)) AS BIGINT) AS s1,
          |       CAST(sum((x - x12) * (x - x12)) AS BIGINT) AS s12,
          |       CASE WHEN CAST(sum((x - x1) * (x - x1)) AS BIGINT) = 0
          |       THEN NULL
          |       ELSE CAST(round(sqrt(
          |         CAST(CAST(sum((x - x12) * (x - x12)) AS BIGINT)
          |           AS DOUBLE)
          |         / CAST(CAST(sum((x - x1) * (x - x1)) AS BIGINT)
          |           AS DOUBLE)) * CAST('1000000.0' AS DOUBLE))
          |         AS BIGINT) END AS u2_e6
          |FROM lagged""".stripMargin)),

    /* Diebold–Mariano (`q_diebold_mariano`): is the lag-12 forecaster
     * SIGNIFICANTLY better than lag-1? Loss differential d_t = e₁²−e₂²,
     * DM = d̄/√(γ₀/T) at lag 0 (documented: no HAC correction — monthly
     * grain, small T). T²γ₀ = T·Σd²−(Σd)² stays exact in decimal; one
     * double close at the end. */
    // ── Diebold–Mariano on the naive-vs-seasonal loss differential.
    QueryDef("q_diebold_mariano",
      (s, d) => {
        lagged(s, d)
          .withColumn("dd",
            expr("(x - x1) * (x - x1) - (x - x12) * (x - x12)"))
          .agg(count(lit(1)).as("t"), sum(col("dd")).as("sd"),
            sum(expr(s"CAST(dd AS $dec) * dd")).as("sd2"))
          .selectExpr("t", "sd",
            s"""CASE WHEN t < 2 OR CAST(t AS $dec) * sd2
               |    - CAST(sd AS $dec) * sd <= 0 THEN NULL
               |ELSE CAST(round(CAST(sd AS DOUBLE)
               |  * sqrt(CAST(t AS DOUBLE))
               |  / sqrt(CAST(CAST(t AS $dec) * sd2
               |      - CAST(sd AS $dec) * sd AS DOUBLE))
               |  * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
               |END AS dm_e6""".stripMargin)
      },
      Some(laggedSql +
        """,
          |dl AS (SELECT (x - x1) * (x - x1) - (x - x12) * (x - x12)
          |         AS dd FROM lagged),
          |ag AS (SELECT CAST(count(*) AS BIGINT) AS t,
          |         CAST(sum(dd) AS BIGINT) AS sd,
          |         CAST(sum(CAST(dd AS HUGEINT) * dd) AS HUGEINT) AS sd2
          |       FROM dl)
          |SELECT t, sd,
          |       CASE WHEN t < 2 OR CAST(t AS HUGEINT) * sd2
          |           - CAST(sd AS HUGEINT) * sd <= 0 THEN NULL
          |       ELSE CAST(round(CAST(sd AS DOUBLE)
          |         * sqrt(CAST(t AS DOUBLE))
          |         / sqrt(CAST(CAST(t AS HUGEINT) * sd2
          |             - CAST(sd AS HUGEINT) * sd AS DOUBLE))
          |         * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
          |       END AS dm_e6
          |FROM ag""".stripMargin)),

    /* Empirical CRPS (`q_crps`): climatological ensemble forecast of
     * monthly revenue, scored on the held-out later half —
     * CRPS = E|X−y| − ½E|X−X′|, both expectations exact integer sums
     * over calendar-bounded month pairs. The PROPER score companion to
     * q_pinball (quantile) and q_brier (binary). */
    // ── Empirical CRPS of the climatological monthly-revenue forecast.
    QueryDef("q_crps",
      (s, d) => {
        val mo = monthly(s, d)
        val thr = mo.agg((min(col("m")) +
          expr("(max(m) - min(m)) div 2")).as("thr"))
        val tagged = mo.crossJoin(broadcast(thr))
          .withColumn("ens", col("m") <= col("thr"))
          .localCheckpoint(false)
        val ens = tagged.where(col("ens")).select(col("x").as("xe"))
        val tg = tagged.where(!col("ens")).select(col("x").as("xt"))
        val a = tg.crossJoin(broadcast(ens))
          .agg(sum(expr("abs(xe - xt)")).as("a_sum"))
        val b = ens.crossJoin(broadcast(
            ens.select(col("xe").as("xe2"))))
          .agg(sum(expr("abs(xe - xe2)")).as("b_sum"))
        val cnts = tagged.agg(
          sum(when(col("ens"), 1L).otherwise(0L)).as("m_months"),
          sum(when(!col("ens"), 1L).otherwise(0L)).as("t_months"))
        cnts.crossJoin(broadcast(a)).crossJoin(broadcast(b))
          .selectExpr("t_months", "m_months", "a_sum", "b_sum",
            """CASE WHEN t_months = 0 OR m_months = 0 THEN NULL
              |ELSE a_sum div (t_months * m_months)
              |  - b_sum div (2 * m_months * m_months)
              |END AS crps_hecto""".stripMargin)
      },
      Some(monthlySql +
        """,
          |thr AS (SELECT min(m) + (max(m) - min(m)) // 2 AS thr
          |        FROM monthly),
          |tagged AS (SELECT m, x, m <= thr AS ens
          |           FROM monthly CROSS JOIN thr),
          |a AS (SELECT CAST(sum(abs(e.x - t.x)) AS BIGINT) AS a_sum
          |      FROM tagged e, tagged t
          |      WHERE e.ens AND NOT t.ens),
          |b AS (SELECT CAST(sum(abs(e1.x - e2.x)) AS BIGINT) AS b_sum
          |      FROM tagged e1, tagged e2
          |      WHERE e1.ens AND e2.ens),
          |cnts AS (SELECT
          |    CAST(sum(CASE WHEN ens THEN 1 ELSE 0 END) AS BIGINT)
          |      AS m_months,
          |    CAST(sum(CASE WHEN ens THEN 0 ELSE 1 END) AS BIGINT)
          |      AS t_months
          |  FROM tagged)
          |SELECT t_months, m_months, a_sum, b_sum,
          |       CASE WHEN t_months = 0 OR m_months = 0 THEN NULL
          |       ELSE a_sum // (t_months * m_months)
          |         - b_sum // (2 * m_months * m_months)
          |       END AS crps_hecto
          |FROM cnts CROSS JOIN a CROSS JOIN b""".stripMargin))
  )
}
