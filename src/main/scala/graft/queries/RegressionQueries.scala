package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Dedup, Stats, TimeSeries}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Regression fitting and diagnostics: OLS, ridge, WLS, robust slopes, GLM
  * steps, influence, heteroskedasticity, and model adequacy. */
object RegressionQueries extends QueryCatalog {

  import Fixtures._

  /** Per-row squared OLS residual of y on t, e²/10⁶-quantized — the
    * identical double expression both engines evaluate. */
  private val zExpr =
    """CAST(floor((CAST(y AS DOUBLE)
      |  - (CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy
      |      - CAST(sx AS DOUBLE) * sy)
      |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |    * sx) / n
      |  - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * t)
      |  * (CAST(y AS DOUBLE)
      |  - (CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sxy
      |      - CAST(sx AS DOUBLE) * sy)
      |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |    * sx) / n
      |  - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
      |    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * t)
      |  / 1000000) AS BIGINT)""".stripMargin

  private val momentsSql =
    """m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(t) AS BIGINT) AS sx,
      |        CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(t * t) AS BIGINT) AS sxx,
      |        CAST(sum(t * y) AS BIGINT) AS sxy
      |      FROM ax)""".stripMargin

  /** Pearson r of columns a and b from the moment columns n, s_a, q_a
    * and the cross sum x_a_b, as SQL text valid in both engines. */
  private def corrR(a: String, b: String) =
    s"""(CAST(n * x_${a}_$b - s_$a * s_$b AS DOUBLE) /
       |sqrt(CAST(n * q_$a - s_$a * s_$a AS DOUBLE) *
       |     CAST(n * q_$b - s_$b * s_$b AS DOUBLE)))""".stripMargin

  /** Variance inflation factor of `me` against o1, o2 from the closed
    * form 3-variable R² over the r_* columns. */
  private def vif3(me: String, o1: String, o2: String) =
    s"""round(CAST('1.0' AS DOUBLE) / (CAST('1.0' AS DOUBLE) -
       |  (r_${me}_$o1 * r_${me}_$o1 + r_${me}_$o2 * r_${me}_$o2
       |   - 2 * r_${me}_$o1 * r_${me}_$o2 * r_${o1}_$o2)
       |  / (CAST('1.0' AS DOUBLE) - r_${o1}_$o2 * r_${o1}_$o2)), 6)
       |""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Per-type linear trend of event values: e6 cents-per-second
    //    least-squares slope on centered time, all integer.
    QueryDef("q_trend_slope",
      (s, d) => TimeSeries.trendSlope(
        eventsTimedCents(s, d),
        "event_type", "t_us", "cents"),
      Some("""WITH e AS (SELECT event_type AS key, epoch_us(ts) // 1000000 AS t,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cv
             |           FROM events),
             |ctr AS (SELECT key, t - min(t) OVER (PARTITION BY key) AS tc, cv FROM e),
             |g AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(tc) AS BIGINT) AS st,
             |             CAST(sum(cv) AS BIGINT) AS sy,
             |             CAST(sum(tc * cv) AS BIGINT) AS sty,
             |             CAST(sum(tc * tc) AS BIGINT) AS stt
             |      FROM ctr GROUP BY key)
             |SELECT key, n,
             |       round((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
             |               - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
             |             / nullif(CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
             |               - CAST(st AS DOUBLE) * CAST(st AS DOUBLE),
             |               CAST(0 AS DOUBLE)), 6) AS slope
             |FROM g""".stripMargin)),

    // ── Theil–Sen robust slope of each type's daily series: lower
    //    median of all pairwise slopes, sign factored out so the
    //    truncating division is identical in both engines.
    QueryDef("q_theil_sen",
      (s, d) => TimeSeries.theilSen(eventsDaily(s, d), "event_type"),
      Some(s"""$eventsDailySql,
              |p AS (SELECT a.event_type,
              |             a.t AS ti, b.t AS tj,
              |             CASE WHEN b.v >= a.v
              |                  THEN (b.v - a.v) * 1000000 // (b.t - a.t)
              |                  ELSE -((a.v - b.v) * 1000000 // (b.t - a.t))
              |             END AS slope_e6
              |      FROM s a JOIN s b
              |        ON a.event_type = b.event_type AND a.t < b.t),
              |rk AS (SELECT *,
              |             row_number() OVER (PARTITION BY event_type
              |                                ORDER BY slope_e6, ti, tj) AS rn,
              |             count(*) OVER (PARTITION BY event_type) AS np FROM p),
              |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_points
              |      FROM s GROUP BY 1)
              |SELECT event_type, n_points, CAST(np AS BIGINT) AS n_pairs,
              |       CAST(slope_e6 AS BIGINT) AS slope_e6
              |FROM rk JOIN n USING (event_type) WHERE rn = (np + 1) // 2""".stripMargin)),

    // ── OLS: extended price ~ quantity + discount(pp) over lineitem.
    //    Exact DECIMAL(38,0) centered moments, Cramer solve, three
    //    deterministic double divisions.
    QueryDef("q_linreg2",
      (s, d) => Stats.linearRegression2(
        Tables.lineitem(s, d)
          .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("y"),
            floor(col("l_quantity") + 0.5).cast("long").as("x1"),
            floor(col("l_discount") * 100 + 0.5).cast("long").as("x2")),
        "y", "x1", "x2"),
      Some("""WITH b AS (
             |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
             |         CAST(floor(l_quantity + 0.5) AS BIGINT) AS x1,
             |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2
             |  FROM lineitem),
             |m AS (SELECT count(*) AS n, sum(y) AS sy, sum(x1) AS s1,
             |             sum(x2) AS s2, sum(x1 * x1) AS q11,
             |             sum(x2 * x2) AS q22, sum(x1 * x2) AS q12,
             |             sum(x1 * y) AS p1, sum(x2 * y) AS p2 FROM b),
             |c AS (SELECT CAST(n AS BIGINT) AS n, sy, s1, s2,
             |        n * q11 - s1 * s1 AS c11, n * q22 - s2 * s2 AS c22,
             |        n * q12 - s1 * s2 AS c12,
             |        n * p1 - s1 * sy AS cy1, n * p2 - s2 * sy AS cy2 FROM m),
             |d AS (SELECT n, sy, s1, s2,
             |        c11 * c22 - c12 * c12 AS det,
             |        cy1 * c22 - cy2 * c12 AS nb1,
             |        cy2 * c11 - cy1 * c12 AS nb2 FROM c),
             |e AS (SELECT n, det, sy, s1, s2,
             |        CASE WHEN det = 0 THEN NULL
             |             ELSE round(CAST(nb1 AS DOUBLE) / CAST(det AS DOUBLE), 6)
             |        END AS b1,
             |        CASE WHEN det = 0 THEN NULL
             |             ELSE round(CAST(nb2 AS DOUBLE) / CAST(det AS DOUBLE), 6)
             |        END AS b2 FROM d)
             |SELECT n, b1, b2,
             |       CASE WHEN det = 0 THEN NULL
             |            ELSE round((CAST(sy AS DOUBLE) - b1 * CAST(s1 AS DOUBLE)
             |                 - b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             |       END AS b0
             |FROM e""".stripMargin)),

    // ── Isotonic fit of the daily mean purchase value (cents) over the
    //    30-day axis: PAVA via the minimax identity, exact e6 integers.
    QueryDef("q_isotonic",
      (s, d) => Stats.isotonicFit(
        Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(expr("unix_micros(ts) div 86400000000L").as("b"),
            floor(col("value") * 100 + 0.5).cast("long").as("v")),
        "b", "v"),
      Some("""WITH src AS (
             |  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS b,
             |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
             |  FROM events WHERE event_type = 'purchase'),
             |ax AS (SELECT b, count(*) AS nv, sum(v) AS sv FROM src GROUP BY b),
             |pre AS (SELECT b, nv, sv,
             |          sum(sv) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
             |            PRECEDING AND CURRENT ROW) AS ps,
             |          sum(nv) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED
             |            PRECEDING AND CURRENT ROW) AS pn
             |        FROM ax),
             |grid AS (SELECT j.b AS jb, k.b AS kb,
             |           CAST((k.ps - (j.ps - j.sv)) * 1000000
             |                // (k.pn - (j.pn - j.nv)) AS BIGINT) AS m
             |         FROM pre j JOIN pre k ON j.b <= k.b),
             |sm AS (SELECT jb, kb,
             |         min(m) OVER (PARTITION BY jb ORDER BY kb DESC
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm
             |       FROM grid),
             |ft AS (SELECT jb, kb,
             |         max(sm) OVER (PARTITION BY kb ORDER BY jb
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fit_e6
             |       FROM sm)
             |SELECT a.b AS bucket, CAST(a.nv AS BIGINT) AS n,
             |       CAST(a.sv * 1000000 // a.nv AS BIGINT) AS mean_e6, f.fit_e6
             |FROM ax a JOIN ft f ON f.kb = a.b AND f.jb = a.b""".stripMargin)),

    // ── VIFs from the closed-form 3-variable R²:
    //    R²_x = (r_xy² + r_xz² − 2 r_xy r_xz r_yz)/(1 − r_yz²).
    QueryDef("q_vif",
      (s, d) => {
        perOrder(s, d)
          .agg(count(lit(1)).cast(dec).as("n"),
            sum(col("x").cast(dec)).as("s_x"),
            sum(col("y").cast(dec)).as("s_y"),
            sum(col("z").cast(dec)).as("s_z"),
            sum(col("x").cast(dec) * col("x").cast(dec)).as("q_x"),
            sum(col("y").cast(dec) * col("y").cast(dec)).as("q_y"),
            sum(col("z").cast(dec) * col("z").cast(dec)).as("q_z"),
            sum(col("x").cast(dec) * col("y").cast(dec)).as("x_x_y"),
            sum(col("x").cast(dec) * col("z").cast(dec)).as("x_x_z"),
            sum(col("y").cast(dec) * col("z").cast(dec)).as("x_y_z"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            s"${corrR("x", "y")} AS r_x_y", s"${corrR("x", "z")} AS r_x_z",
            s"${corrR("y", "z")} AS r_y_z")
          .selectExpr("n",
            s"${vif3("x", "y", "z").replace("r_x_y", "r_x_y")
              .replace("r_x_z", "r_x_z").replace("r_y_z", "r_y_z")} AS vif_x",
            s"${vif3("y", "x", "z").replace("r_y_x", "r_x_y")
              .replace("r_x_z", "r_x_z")} AS vif_y",
            s"${vif3("z", "x", "y").replace("r_z_x", "r_x_z")
              .replace("r_z_y", "r_y_z")} AS vif_z")
      },
      Some {
        s"""WITH $perOrderSql,
           |mom AS (SELECT CAST(count(*) AS HUGEINT) AS n,
           |               CAST(sum(x) AS HUGEINT) AS s_x,
           |               CAST(sum(y) AS HUGEINT) AS s_y,
           |               CAST(sum(z) AS HUGEINT) AS s_z,
           |               sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
           |                 AS q_x,
           |               sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
           |                 AS q_y,
           |               sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT))
           |                 AS q_z,
           |               sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
           |                 AS x_x_y,
           |               sum(CAST(x AS HUGEINT) * CAST(z AS HUGEINT))
           |                 AS x_x_z,
           |               sum(CAST(y AS HUGEINT) * CAST(z AS HUGEINT))
           |                 AS x_y_z
           |        FROM per),
           |rs AS (SELECT CAST(n AS BIGINT) AS n, ${corrR("x", "y")} AS r_x_y,
           |              ${corrR("x", "z")} AS r_x_z, ${corrR("y", "z")} AS r_y_z
           |       FROM mom)
           |SELECT n,
           |       ${vif3("x", "y", "z")} AS vif_x,
           |       ${vif3("y", "x", "z").replace("r_y_x", "r_x_y")} AS vif_y,
           |       ${vif3("z", "x", "y").replace("r_z_x", "r_x_z")
                    .replace("r_z_y", "r_y_z")} AS vif_z
           |FROM rs""".stripMargin
      }),

    // ── Siegel slope: per-day counts, median over i of the median over
    //    j≠i of pairwise slopes — the day axis is calendar-bounded.
    QueryDef("q_siegel_slope",
      (s, d) => {
        val days = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("x"))
          .localCheckpoint(false) // both pair sides
        val b = days.select(col("day").as("d2"), col("x").as("x2"))
        val slopes = days.crossJoin(b).where(col("day") =!= col("d2"))
          .selectExpr("day", "d2",
            """(CAST(x2 AS DOUBLE) - CAST(x AS DOUBLE))
              |/ (CAST(d2 AS DOUBLE) - CAST(day AS DOUBLE)) AS sl"""
              .stripMargin)
        val wIn = Window.partitionBy(col("day"))
        val medPer = slopes
          .withColumn("rn", row_number().over(
            wIn.orderBy(col("sl"), col("d2"))))
          .withColumn("cnt", count(lit(1)).over(wIn))
          .where(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("day"), col("sl").as("m"))
        medPer
          .withColumn("rn", row_number().over(
            Window.orderBy(col("m"), col("day"))))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy()))
          .where(col("rn") === expr("(cnt + 1) div 2"))
          .selectExpr("cnt AS n_days", "round(m, 6) AS siegel_slope")
      },
      Some("""WITH days AS (SELECT epoch_us(ts) // 86400000000 AS day,
             |                    CAST(count(*) AS BIGINT) AS x
             |             FROM events GROUP BY 1),
             |slopes AS (
             |  SELECT a.day,
             |         (CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE))
             |         / (CAST(b.day AS DOUBLE) - CAST(a.day AS DOUBLE))
             |           AS sl,
             |         b.day AS d2
             |  FROM days a JOIN days b ON a.day <> b.day),
             |medper AS (SELECT day, sl AS m FROM (
             |  SELECT day, sl, row_number() OVER (PARTITION BY day
             |           ORDER BY sl, d2) AS rn,
             |         count(*) OVER (PARTITION BY day) AS cnt
             |  FROM slopes) WHERE rn = (cnt + 1) // 2)
             |SELECT cnt AS n_days, round(m, 6) AS siegel_slope FROM (
             |  SELECT m, row_number() OVER (ORDER BY m, day) AS rn,
             |         count(*) OVER () AS cnt
             |  FROM medper) WHERE rn = (cnt + 1) // 2""".stripMargin)),

    // ── WLS: value-weighted discount→quantity slope per return flag;
    //    exact decimal moments, one double close.
    QueryDef("q_wls_slope",
      (s, d) => {
        Tables.lineitem(s, d)
          .select(col("l_returnflag").as("g"),
            floor(col("l_discount") * 100 + 0.5).cast(dec).as("x"),
            floor(col("l_quantity") + 0.5).cast(dec).as("y"),
            floor(col("l_extendedprice") * 100 + 0.5).cast(dec).as("w"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
            sum(col("w") * col("x")).as("swx"),
            sum(col("w") * col("y")).as("swy"),
            sum(col("w") * col("x") * col("x")).as("swxx"),
            sum(col("w") * col("x") * col("y")).as("swxy"))
          .selectExpr("g", "CAST(n AS BIGINT) AS n",
            """CASE WHEN sw * swxx - swx * swx = 0 THEN NULL
              |     ELSE round(CAST(sw * swxy - swx * swy AS DOUBLE)
              |          / CAST(sw * swxx - swx * swx AS DOUBLE), 6)
              |END AS wls_slope""".stripMargin)
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag AS g,
             |         CAST(floor(l_discount * 100 + 0.5) AS HUGEINT) AS x,
             |         CAST(floor(l_quantity + 0.5) AS HUGEINT) AS y,
             |         CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT)
             |           AS w
             |  FROM lineitem),
             |mom AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             |               sum(w) AS sw, sum(w * x) AS swx,
             |               sum(w * y) AS swy, sum(w * x * x) AS swxx,
             |               sum(w * x * y) AS swxy
             |        FROM li GROUP BY 1)
             |SELECT g, n,
             |       CASE WHEN sw * swxx - swx * swx = 0 THEN NULL
             |            ELSE round(CAST(sw * swxy - swx * swy AS DOUBLE)
             |                 / CAST(sw * swxx - swx * swx AS DOUBLE), 6)
             |       END AS wls_slope
             |FROM mom""".stripMargin)),

    // ── Cook's distance: per-day influence on the daily-mean-vs-time
    //    OLS fit — D_i = e_i²·h_i/(p·s²·(1−h_i)²), p=2. Moment sums
    //    stay exact longs (centered day index); only the final ratios
    //    run in doubles (explicit casts, IEEE ops, round 6 — the
    //    trendSlope convention). Top-3 most influential days.
    QueryDef("q_cooks_distance",
      (s, d) => {
        val daily = eventsDailyCents(s, d)
          .withColumn("y", expr("sc div cnt"))
          .withColumn("t", expr("day - min(day) OVER ()"))
          .localCheckpoint(false) // moments + the per-day pass reuse it
        val m = daily.agg(count(lit(1)).as("n"), sum(col("t")).as("st"),
          sum(col("y")).as("sy"), sum(expr("t * y")).as("sty"),
          sum(expr("t * t")).as("stt"))
        val e = daily.crossJoin(broadcast(m))
          .withColumn("slope", expr(
            """(CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
              |  - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
              | / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
              |  - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))""".stripMargin))
          .withColumn("res", expr(
            """CAST(y AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
              | + slope * (CAST(t AS DOUBLE) - CAST(st AS DOUBLE)
              |            / CAST(n AS DOUBLE)))""".stripMargin))
          .withColumn("h", expr(
            """CAST(1 AS DOUBLE) / CAST(n AS DOUBLE)
              | + (CAST(t AS DOUBLE) - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
              |   * (CAST(t AS DOUBLE) - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
              | / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
              |    * CAST(st AS DOUBLE) / CAST(n AS DOUBLE))""".stripMargin))
          .withColumn("s2", expr(
            "sum(res * res) OVER () / (CAST(n AS DOUBLE) - CAST(2 AS DOUBLE))"))
          .withColumn("cooks", expr(
            """res * res * h / (CAST(2 AS DOUBLE) * s2
              | * (CAST(1 AS DOUBLE) - h) * (CAST(1 AS DOUBLE) - h))""".stripMargin))
        e.withColumn("rk", row_number().over(
            Window.orderBy(col("cooks").desc, col("day"))))
          .where(col("rk") <= 3)
          .selectExpr("CAST(rk AS BIGINT) AS rk", "day", "y AS y_cents",
            "round(h, 6) AS leverage", "round(cooks, 6) AS cooks_d")
      },
      Some(s"""WITH $eventsDailyCentsSql,
             |ax AS (SELECT day, sc // cnt AS y,
             |              day - min(day) OVER () AS t FROM daily),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(t) AS BIGINT) AS st,
             |             CAST(sum(y) AS BIGINT) AS sy,
             |             CAST(sum(t * y) AS BIGINT) AS sty,
             |             CAST(sum(t * t) AS BIGINT) AS stt FROM ax),
             |e AS (SELECT day, y, t, n, st, sy, stt,
             |             (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
             |              - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
             |             / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
             |              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS slope
             |      FROM ax CROSS JOIN m),
             |r AS (SELECT day, y, n,
             |             CAST(y AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
             |               + slope * (CAST(t AS DOUBLE)
             |                 - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))) AS res,
             |             CAST(1 AS DOUBLE) / CAST(n AS DOUBLE)
             |               + (CAST(t AS DOUBLE) - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
             |                 * (CAST(t AS DOUBLE) - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
             |                 / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
             |                    * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)) AS h
             |      FROM e),
             |q AS (SELECT day, y, res, h,
             |             sum(res * res) OVER () / (CAST(n AS DOUBLE)
             |               - CAST(2 AS DOUBLE)) AS s2
             |      FROM r),
             |k AS (SELECT day, y, h,
             |             res * res * h / (CAST(2 AS DOUBLE) * s2
             |               * (CAST(1 AS DOUBLE) - h)
             |               * (CAST(1 AS DOUBLE) - h)) AS cooks
             |      FROM q)
             |SELECT rk, day, y AS y_cents, round(h, 6) AS leverage,
             |       round(cooks, 6) AS cooks_d
             |FROM (SELECT *, CAST(row_number() OVER (ORDER BY cooks DESC,
             |        day) AS BIGINT) AS rk FROM k)
             |WHERE rk <= 3""".stripMargin)),

    /* RANSAC line (`q_ransac_line`): 8 deterministic hash-seeded point
     * pairs propose (slope, intercept) for totalprice ~ n_lines; one
     * broadcast of the candidate frame scores ALL proposals in a
     * single scan (inlier counts), argmax picks the consensus model.
     * The "random" sample is the md5-rank top-16 — replayable, no RNG. */
    // ── RANSAC line for totalprice ~ n_lines: md5-rank top-16 orders
    //    pair up into 8 proposals; each proposal's inliers (|resid| ≤
    //    20000 $) counted in ONE broadcast-join scan; consensus =
    //    max inliers (tie → pair id). Degenerate pairs (equal x) drop.
    QueryDef("q_ransac_line",
      (s, d) => {
        val pts = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey")).agg(count(lit(1)).as("x"))
          .join(Tables.orders(s, d).select(
            col("o_orderkey").as("l_orderkey"),
            expr("CAST(floor(o_totalprice) AS BIGINT)").as("y")),
            "l_orderkey")
          .localCheckpoint(false) // sample AND scoring share one build
        // TakeOrdered(16) bounds the sample — the rank window then runs
        // on a Limit-bounded 16-row frame (no global sort of the facts)
        val seeds = pts
          .withColumn("h", graft.ops.Dedup.hash48(
            col("l_orderkey").cast("string"), lit("ransac")))
          .orderBy(col("h"), col("l_orderkey")).limit(16)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("h"), col("l_orderkey"))))
        val cands = seeds.filter(col("rk") <= 8).selectExpr(
            "rk AS cid", "x AS x1", "y AS y1")
          .join(seeds.filter(col("rk") > 8)
            .selectExpr("rk - 8 AS cid", "x AS x2", "y AS y2"), "cid")
          .filter(col("x1") =!= col("x2"))
          .selectExpr("cid",
            "(y2 - y1) * 1000 div (x2 - x1) AS b_e3",
            "y1 * 1000 - ((y2 - y1) * 1000 div (x2 - x1)) * x1 AS a_e3")
        val scored = pts.crossJoin(broadcast(cands))
          .withColumn("inl",
            (abs(col("y") * 1000 - (col("a_e3") + col("b_e3") * col("x")))
              <= 20000L * 1000L).cast("long"))
          .groupBy(col("cid"), col("a_e3"), col("b_e3"))
          .agg(sum(col("inl")).as("n_inliers"), count(lit(1)).as("n_pts"))
        scored.withColumn("win", row_number().over(
            Window.orderBy(col("n_inliers").desc, col("cid"))))
          .filter(col("win") === 1)
          .selectExpr("CAST(cid AS BIGINT) AS cid", "a_e3", "b_e3",
            "n_inliers", "CAST(n_pts AS BIGINT) AS n_pts",
            "n_inliers * 1000000 div n_pts AS inlier_rate_e6")
      },
      Some {
        val h = PortableSql.hash48("CAST(l_orderkey AS VARCHAR)", "'ransac'")
        s"""WITH pts AS (
           |  SELECT li.l_orderkey, CAST(li.x AS BIGINT) AS x,
           |         CAST(floor(o.o_totalprice) AS BIGINT) AS y
           |  FROM (SELECT l_orderkey, count(*) AS x FROM lineitem
           |        GROUP BY 1) li
           |  JOIN orders o ON o.o_orderkey = li.l_orderkey),
           |seeds AS (SELECT *, row_number() OVER (ORDER BY $h, l_orderkey)
           |            AS rk
           |          FROM pts QUALIFY rk <= 16),
           |cands AS (SELECT a.rk AS cid,
           |                 (b.y - a.y) * 1000 // (b.x - a.x) AS b_e3,
           |                 a.y * 1000 - ((b.y - a.y) * 1000 // (b.x - a.x))
           |                   * a.x AS a_e3
           |          FROM seeds a JOIN seeds b ON b.rk = a.rk + 8
           |          WHERE a.rk <= 8 AND a.x <> b.x),
           |scored AS (SELECT c.cid, c.a_e3, c.b_e3,
           |                  CAST(sum(CASE WHEN abs(p.y * 1000 -
           |                    (c.a_e3 + c.b_e3 * p.x)) <= 20000000
           |                    THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers,
           |                  CAST(count(*) AS BIGINT) AS n_pts
           |           FROM pts p CROSS JOIN cands c
           |           GROUP BY 1, 2, 3)
           |SELECT CAST(cid AS BIGINT) AS cid, a_e3, b_e3, n_inliers,
           |       n_pts, n_inliers * 1000000 // n_pts AS inlier_rate_e6
           |FROM scored
           |QUALIFY row_number() OVER (ORDER BY n_inliers DESC, cid) = 1"""
          .stripMargin
      }),

    /* Ridge path (`q_ridge_path`): the L2-regularized companion to
     * q_linreg2. Closed form on the same exact centered integer moments
     * (c11, c22, c12, cy1, cy2 at n²·raw scale); shrinkage expressed
     * per-coordinate as λ_j = k/1000 · Sxx_j (ridge on standardized
     * features re-expressed in raw units — the only formulation whose
     * grid is scale-free), so the whole path multiplies diagonals by
     * (1000+k) and off-diagonals/numerators by 1000 and stays integer
     * with NO div truncation until the one β division. One lineitem
     * pass; the 5-point k grid is a broadcast of a literal frame. */
    // ── Ridge path: y = extendedprice dollars, x1 = quantity,
    //    x2 = discount (e2). k ∈ {0,1,10,100,1000} per-mille shrinkage;
    //    k=0 row IS the OLS solution (pins consistency with q_linreg2).
    QueryDef("q_ridge_path",
      (s, d) => {
        val m = Tables.lineitem(s, d)
          .select(floor(col("l_extendedprice") + 0.5).cast("long").as("y"),
            floor(col("l_quantity") + 0.5).cast("long").as("x1"),
            floor(col("l_discount") * 100 + 0.5).cast("long").as("x2"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
            sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
            sum(expr("x1 * x1")).as("q11"), sum(expr("x2 * x2")).as("q22"),
            sum(expr("x1 * x2")).as("q12"),
            sum(expr(s"CAST(x1 AS $dec) * y")).as("p1"),
            sum(expr(s"CAST(x2 AS $dec) * y")).as("p2"))
        val ks = s.range(0, 5).select(
          expr("element_at(array(0L, 1L, 10L, 100L, 1000L), CAST(id + 1 AS INT))")
            .as("k"))
        m.crossJoin(broadcast(ks))
          .selectExpr("k", "CAST(n AS BIGINT) AS n", "sy", "s1", "s2",
            s"CAST(n AS $dec) * q11 - CAST(s1 AS $dec) * s1 AS c11",
            s"CAST(n AS $dec) * q22 - CAST(s2 AS $dec) * s2 AS c22",
            s"CAST(n AS $dec) * q12 - CAST(s1 AS $dec) * s2 AS c12",
            s"CAST(n AS $dec) * p1 - CAST(s1 AS $dec) * sy AS cy1",
            s"CAST(n AS $dec) * p2 - CAST(s2 AS $dec) * sy AS cy2")
          .selectExpr("k", "n", "sy", "s1", "s2",
            "c11 * (1000 + k) AS a11", "c22 * (1000 + k) AS a22",
            "c12 * 1000 AS a12", "cy1 * 1000 AS w1", "cy2 * 1000 AS w2")
          .selectExpr("k", "n", "sy", "s1", "s2",
            "a11 * a22 - a12 * a12 AS det",
            "w1 * a22 - w2 * a12 AS nb1", "w2 * a11 - w1 * a12 AS nb2")
          .selectExpr("k", "n",
            """CASE WHEN det = 0 THEN NULL ELSE
              |  round(CAST(nb1 AS DOUBLE) / CAST(det AS DOUBLE), 6)
              |END AS b1""".stripMargin,
            """CASE WHEN det = 0 THEN NULL ELSE
              |  round(CAST(nb2 AS DOUBLE) / CAST(det AS DOUBLE), 6)
              |END AS b2""".stripMargin, "det", "sy", "s1", "s2")
          .selectExpr("k", "n", "b1", "b2",
            """CASE WHEN det = 0 THEN NULL ELSE
              |  round((CAST(sy AS DOUBLE) - b1 * CAST(s1 AS DOUBLE)
              |    - b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE), 6)
              |END AS b0""".stripMargin)
      },
      Some("""WITH b AS (
             |  SELECT CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y,
             |         CAST(floor(l_quantity + 0.5) AS BIGINT) AS x1,
             |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2
             |  FROM lineitem),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(y) AS sy,
             |             sum(x1) AS s1, sum(x2) AS s2,
             |             sum(x1 * x1) AS q11, sum(x2 * x2) AS q22,
             |             sum(x1 * x2) AS q12, sum(x1 * y) AS p1,
             |             sum(x2 * y) AS p2 FROM b),
             |c AS (SELECT k, n, sy, s1, s2,
             |        CAST(n AS HUGEINT) * q11 - CAST(s1 AS HUGEINT) * s1
             |          AS c11,
             |        CAST(n AS HUGEINT) * q22 - CAST(s2 AS HUGEINT) * s2
             |          AS c22,
             |        CAST(n AS HUGEINT) * q12 - CAST(s1 AS HUGEINT) * s2
             |          AS c12,
             |        CAST(n AS HUGEINT) * p1 - CAST(s1 AS HUGEINT) * sy
             |          AS cy1,
             |        CAST(n AS HUGEINT) * p2 - CAST(s2 AS HUGEINT) * sy
             |          AS cy2
             |      FROM m CROSS JOIN (VALUES (CAST(0 AS BIGINT)),
             |        (CAST(1 AS BIGINT)), (CAST(10 AS BIGINT)),
             |        (CAST(100 AS BIGINT)), (CAST(1000 AS BIGINT))) t(k)),
             |a AS (SELECT k, n, sy, s1, s2,
             |        c11 * (1000 + k) AS a11, c22 * (1000 + k) AS a22,
             |        c12 * 1000 AS a12, cy1 * 1000 AS w1,
             |        cy2 * 1000 AS w2 FROM c),
             |dd AS (SELECT k, n, sy, s1, s2,
             |         a11 * a22 - a12 * a12 AS det,
             |         w1 * a22 - w2 * a12 AS nb1,
             |         w2 * a11 - w1 * a12 AS nb2 FROM a),
             |e AS (SELECT k, n, det, sy, s1, s2,
             |        CASE WHEN det = 0 THEN NULL ELSE
             |          round(CAST(nb1 AS DOUBLE) / CAST(det AS DOUBLE), 6)
             |        END AS b1,
             |        CASE WHEN det = 0 THEN NULL ELSE
             |          round(CAST(nb2 AS DOUBLE) / CAST(det AS DOUBLE), 6)
             |        END AS b2 FROM dd)
             |SELECT k, n, b1, b2,
             |       CASE WHEN det = 0 THEN NULL ELSE
             |         round((CAST(sy AS DOUBLE) - b1 * CAST(s1 AS DOUBLE)
             |           - b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             |       END AS b0
             |FROM e""".stripMargin)),

    /* Poisson IRLS (`q_poisson_irls`): one Newton/IRLS step for daily
     * order counts on a weekend indicator, from the intercept-only
     * start β=(ln ȳ, 0) — where the step has a CLOSED exact-rational
     * form (constant weights): β₁' = (ȳ₁−ȳ₀)/ȳ. Reported next to the
     * exact MLE β₁* = ln(ȳ₁/ȳ₀) via the fixed-point log₂ ladder
     * ([[Bm25.log2E6]]) — the one-step-vs-converged gap is the query's
     * read-out. Day axis = epoch-day; weekend = day%7 ∈ {2,3} (the
     * house dow convention of q_logrank). */
    // ── One Poisson IRLS step vs the exact MLE on a binary covariate.
    QueryDef("q_poisson_irls",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .select(expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
            .as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("y"))
          .selectExpr("CASE WHEN day % 7 IN (2, 3) THEN 1L ELSE 0L END" +
            " AS x", "y")
        val g = daily.groupBy(col("x"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
        val w = g.agg(
          max(when(col("x") === 1, col("n"))).as("n1"),
          max(when(col("x") === 1, col("sy"))).as("s1"),
          max(when(col("x") === 0, col("n"))).as("n0"),
          max(when(col("x") === 0, col("sy"))).as("s0"))
        w.withColumn("l1", Bm25.log2E6(expr("s1 * n0")))
          .withColumn("l0", Bm25.log2E6(expr("s0 * n1")))
          .selectExpr("n1 AS n_weekend_days", "n0 AS n_weekday_days",
            "s1 AS orders_weekend", "s0 AS orders_weekday",
            """round(CAST((s1 * n0 - s0 * n1) * (n0 + n1) AS DOUBLE)
              | / CAST(n1 * n0 AS DOUBLE)
              | / CAST(s0 + s1 AS DOUBLE), 6) AS beta1_step"""
              .stripMargin,
            """round(CAST(l1 - l0 AS DOUBLE)
              | * CAST('0.693147' AS DOUBLE)
              | / CAST('1000000.0' AS DOUBLE), 6) AS beta1_mle"""
              .stripMargin)
      },
      Some {
        val l1 = Bm25.log2E6Sql("s1 * n0")
        val l0 = Bm25.log2E6Sql("s0 * n1")
        s"""WITH daily AS (
           |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
           |         CAST(count(*) AS BIGINT) AS y
           |  FROM orders GROUP BY 1),
           |lab AS (SELECT CASE WHEN day % 7 IN (2, 3) THEN 1 ELSE 0 END
           |                 AS x, y
           |        FROM daily),
           |g AS (SELECT x, CAST(count(*) AS BIGINT) AS n,
           |             CAST(sum(y) AS BIGINT) AS sy
           |      FROM lab GROUP BY 1),
           |w AS (SELECT max(CASE WHEN x = 1 THEN n END) AS n1,
           |             max(CASE WHEN x = 1 THEN sy END) AS s1,
           |             max(CASE WHEN x = 0 THEN n END) AS n0,
           |             max(CASE WHEN x = 0 THEN sy END) AS s0
           |      FROM g)
           |SELECT n1 AS n_weekend_days, n0 AS n_weekday_days,
           |       s1 AS orders_weekend, s0 AS orders_weekday,
           |       round(CAST((s1 * n0 - s0 * n1) * (n0 + n1) AS DOUBLE)
           |         / CAST(n1 * n0 AS DOUBLE)
           |         / CAST(s0 + s1 AS DOUBLE), 6) AS beta1_step,
           |       round(CAST($l1 - $l0 AS DOUBLE)
           |         * CAST('0.693147' AS DOUBLE)
           |         / CAST('1000000.0' AS DOUBLE), 6) AS beta1_mle
           |FROM w""".stripMargin
      }),

    /* Two-part model (`q_two_part_spend`): per segment, participation
     * (any-order rate over ALL customers — the left join keeps the
     * zeros q_share_of_wallet drops) × intensity (mean spend among
     * buyers) = expected spend, plus the midpoint (Bennet/Oaxaca-style)
     * decomposition of the BUILDING−MACHINERY gap into participation
     * and intensity contributions. All e6/cents integers. */
    // ── Two-part model with midpoint gap decomposition.
    QueryDef("q_two_part_spend",
      (s, d) => {
        val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("sp"))
        val seg = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"))
          .join(spend, col("c_custkey") === col("o_custkey"), "left")
          .selectExpr("seg", "coalesce(sp, 0L) AS sp")
          .groupBy(col("seg"))
          .agg(count(lit(1)).as("n_cust"),
            sum(expr("CASE WHEN sp > 0 THEN 1L ELSE 0L END"))
              .as("n_active"),
            sum(col("sp")).as("tot"))
          .selectExpr("seg", "n_cust", "n_active",
            "n_active * 1000000 div n_cust AS part_e6",
            "tot div greatest(1L, n_active) AS intensity_cents",
            "tot div n_cust AS expected_cents")
          .localCheckpoint(false) // per-seg rows + decomposition row
        val b = seg.where(col("seg") === "BUILDING")
          .selectExpr("part_e6 AS p1", "intensity_cents AS i1")
        val m = seg.where(col("seg") === "MACHINERY")
          .selectExpr("part_e6 AS p2", "intensity_cents AS i2")
        val decomp = b.crossJoin(m)
          .selectExpr("'BUILDING-MACHINERY' AS seg",
            "CAST(NULL AS BIGINT) AS n_cust",
            "CAST(NULL AS BIGINT) AS n_active",
            "p1 - p2 AS part_e6",
            "i1 - i2 AS intensity_cents",
            // midpoint decomposition: Δpart·ī + p̄·Δint (cents)
            s"""(CAST(p1 - p2 AS $dec) * (i1 + i2) div 2
               | + CAST(p1 + p2 AS $dec) * (i1 - i2) div 2)
               | div 1000000 AS expected_cents""".stripMargin)
          .selectExpr("seg", "n_cust", "n_active", "part_e6",
            "intensity_cents", "CAST(expected_cents AS BIGINT)" +
              " AS expected_cents")
        seg.unionByName(decomp)
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS sp
             |  FROM orders GROUP BY 1),
             |segs AS (SELECT c_mktsegment AS seg,
             |                coalesce(sp, 0) AS sp
             |         FROM customer
             |         LEFT JOIN spend ON o_custkey = c_custkey),
             |agg AS (SELECT seg, CAST(count(*) AS BIGINT) AS n_cust,
             |          CAST(sum(CASE WHEN sp > 0 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_active,
             |          CAST(sum(sp) AS BIGINT) AS tot
             |        FROM segs GROUP BY 1),
             |per AS (SELECT seg, n_cust, n_active,
             |          n_active * 1000000 // n_cust AS part_e6,
             |          tot // greatest(1, n_active) AS intensity_cents,
             |          tot // n_cust AS expected_cents
             |        FROM agg),
             |d AS (SELECT 'BUILDING-MACHINERY' AS seg,
             |        CAST(NULL AS BIGINT) AS n_cust,
             |        CAST(NULL AS BIGINT) AS n_active,
             |        b.part_e6 - m.part_e6 AS part_e6,
             |        b.intensity_cents - m.intensity_cents
             |          AS intensity_cents,
             |        CAST((CAST(b.part_e6 - m.part_e6 AS HUGEINT)
             |            * (b.intensity_cents + m.intensity_cents) // 2
             |          + CAST(b.part_e6 + m.part_e6 AS HUGEINT)
             |            * (b.intensity_cents - m.intensity_cents) // 2)
             |          // 1000000 AS BIGINT) AS expected_cents
             |      FROM (SELECT * FROM per WHERE seg = 'BUILDING') b
             |      CROSS JOIN (SELECT * FROM per
             |                  WHERE seg = 'MACHINERY') m)
             |SELECT * FROM per
             |UNION ALL
             |SELECT * FROM d""".stripMargin)),

    /* Cochrane–Orcutt (`q_cochrane_orcutt`): one FGLS round for monthly
     * revenue y on x with AR(1) errors — OLS slope on exact moments,
     * ρ̂ from integer-cent residual lag products (q_engle_granger's
     * integerization), then the quasi-differenced refit
     * (y_t−ρ̂y_{t−1} on x_t−ρ̂x_{t−1}, e6-scaled to stay integer).
     * The slope-before vs slope-after gap is the serial-correlation
     * bias read; Durbin–Watson rides along. */
    // ── Cochrane–Orcutt FGLS round on monthly (y = region0, x = region1).
    QueryDef("q_cochrane_orcutt",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val monthly = region01Orders(s, d)
          .groupBy(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
            " div 2592000000000").as("mo"))
          .agg(sum(when(col("n_regionkey") === 0,
            floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .otherwise(0L)).as("y"),
            sum(when(col("n_regionkey") === 1,
              floor(col("o_totalprice") * 100 + 0.5).cast("long"))
              .otherwise(0L)).as("x"))
          .localCheckpoint(false) // OLS + residual ρ + refit
        def slope(df: org.apache.spark.sql.DataFrame, xc: String,
                  yc: String, out: String) = df
          .agg(count(lit(1)).as("n"), sum(col(xc)).as("sx"),
            sum(col(yc)).as("sy"),
            sum(expr(s"CAST($xc AS $dec) * $xc")).as("sxx"),
            sum(expr(s"CAST($xc AS $dec) * $yc")).as("sxy"))
          .selectExpr("CAST(n AS BIGINT) AS n", "sx", "sy",
            s"""CASE WHEN CAST(n AS $dec) * sxx
               | - CAST(sx AS $dec) * sx = 0 THEN NULL
               |ELSE round(CAST(CAST(n AS $dec) * sxy
               |    - CAST(sx AS $dec) * sy AS DOUBLE)
               |  / CAST(CAST(n AS $dec) * sxx
               |    - CAST(sx AS $dec) * sx AS DOUBLE), 6)
               |END AS $out""".stripMargin)
        val ols = slope(monthly, "x", "y", "beta_ols")
          .selectExpr("n", "beta_ols",
            """round((CAST(sy AS DOUBLE) - beta_ols
              | * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
              | AS alpha_ols""".stripMargin)
        val resid = monthly.crossJoin(broadcast(ols))
          .selectExpr("mo", "x", "y", "n", "beta_ols", "alpha_ols",
            """CAST(round(CAST(y AS DOUBLE) - alpha_ols
              | - beta_ols * CAST(x AS DOUBLE)) AS BIGINT) AS e"""
              .stripMargin)
          .withColumn("el", lag(col("e"), 1).over(Window.orderBy("mo")))
          .withColumn("xl", lag(col("x"), 1).over(Window.orderBy("mo")))
          .withColumn("yl", lag(col("y"), 1).over(Window.orderBy("mo")))
          .localCheckpoint(false) // ρ moments + quasi-differenced refit
        val rho = resid.where(col("el").isNotNull)
          .agg(sum(expr(s"CAST(e AS $dec) * el")).as("num"),
            sum(expr(s"CAST(el AS $dec) * el")).as("den"),
            sum(expr(s"CAST(e - el AS $dec) * (e - el)")).as("dsq"),
            sum(expr(s"CAST(e AS $dec) * e")).as("ess"))
          .selectExpr(
            """CASE WHEN den = 0 THEN NULL
              |ELSE round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
              |END AS rho""".stripMargin,
            """CASE WHEN ess = 0 THEN NULL
              |ELSE round(CAST(dsq AS DOUBLE) / CAST(ess AS DOUBLE), 6)
              |END AS durbin_watson""".stripMargin)
        val quasi = resid.where(col("xl").isNotNull)
          .crossJoin(broadcast(rho))
          .selectExpr("rho", "durbin_watson", "n", "beta_ols",
            """CAST(round(CAST(x AS DOUBLE)
              | - rho * CAST(xl AS DOUBLE)) AS BIGINT) AS xq"""
              .stripMargin,
            """CAST(round(CAST(y AS DOUBLE)
              | - rho * CAST(yl AS DOUBLE)) AS BIGINT) AS yq"""
              .stripMargin)
        slope(quasi, "xq", "yq", "beta_co")
          .selectExpr("beta_co")
          .crossJoin(broadcast(quasi.select(col("rho"),
            col("durbin_watson"), col("beta_ols")).limit(1)))
          .selectExpr("beta_ols", "rho", "durbin_watson", "beta_co")
      },
      Some("""WITH monthly AS (
             |  SELECT epoch_us(o_orderdate) // 2592000000000 AS mo,
             |         CAST(sum(CASE WHEN n_regionkey = 0 THEN
             |           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           ELSE 0 END) AS BIGINT) AS y,
             |         CAST(sum(CASE WHEN n_regionkey = 1 THEN
             |           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           ELSE 0 END) AS BIGINT) AS x
             |  FROM orders
             |  JOIN customer ON c_custkey = o_custkey
             |  JOIN nation ON n_nationkey = c_nationkey
             |  WHERE n_regionkey IN (0, 1)
             |  GROUP BY 1),
             |m1 AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |              CAST(sum(x) AS HUGEINT) AS sx,
             |              CAST(sum(y) AS HUGEINT) AS sy,
             |              sum(CAST(x AS HUGEINT) * x) AS sxx,
             |              sum(CAST(x AS HUGEINT) * y) AS sxy
             |       FROM monthly),
             |ols AS (SELECT n,
             |          round(CAST(n * sxy - sx * sy AS DOUBLE)
             |            / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             |            AS beta_ols, sx, sy FROM m1),
             |ols2 AS (SELECT n, beta_ols,
             |           round((CAST(sy AS DOUBLE) - beta_ols
             |             * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             |             AS alpha_ols FROM ols),
             |resid AS (SELECT mo, x, y, n, beta_ols, alpha_ols,
             |            CAST(round(CAST(y AS DOUBLE) - alpha_ols
             |              - beta_ols * CAST(x AS DOUBLE)) AS BIGINT)
             |              AS e,
             |            lag(CAST(round(CAST(y AS DOUBLE) - alpha_ols
             |              - beta_ols * CAST(x AS DOUBLE)) AS BIGINT))
             |              OVER (ORDER BY mo) AS el,
             |            lag(x) OVER (ORDER BY mo) AS xl,
             |            lag(y) OVER (ORDER BY mo) AS yl
             |          FROM monthly CROSS JOIN ols2),
             |rho AS (SELECT
             |          CASE WHEN sum(CAST(el AS HUGEINT) * el) = 0
             |            THEN NULL
             |          ELSE round(CAST(sum(CAST(e AS HUGEINT) * el)
             |              AS DOUBLE)
             |            / CAST(sum(CAST(el AS HUGEINT) * el)
             |              AS DOUBLE), 6) END AS rho,
             |          CASE WHEN sum(CAST(e AS HUGEINT) * e) = 0
             |            THEN NULL
             |          ELSE round(CAST(sum(CAST(e - el AS HUGEINT)
             |              * (e - el)) AS DOUBLE)
             |            / CAST(sum(CAST(e AS HUGEINT) * e) AS DOUBLE),
             |            6) END AS durbin_watson
             |        FROM resid WHERE el IS NOT NULL),
             |quasi AS (SELECT rho, durbin_watson, beta_ols,
             |            CAST(round(CAST(x AS DOUBLE)
             |              - rho * CAST(xl AS DOUBLE)) AS BIGINT) AS xq,
             |            CAST(round(CAST(y AS DOUBLE)
             |              - rho * CAST(yl AS DOUBLE)) AS BIGINT) AS yq
             |          FROM resid CROSS JOIN rho
             |          WHERE xl IS NOT NULL),
             |m2 AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |              CAST(sum(xq) AS HUGEINT) AS sx,
             |              CAST(sum(yq) AS HUGEINT) AS sy,
             |              sum(CAST(xq AS HUGEINT) * xq) AS sxx,
             |              sum(CAST(xq AS HUGEINT) * yq) AS sxy
             |       FROM quasi),
             |co AS (SELECT CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             |         ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
             |           / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             |         END AS beta_co FROM m2)
             |SELECT beta_ols, rho, durbin_watson, beta_co
             |FROM co CROSS JOIN (SELECT rho, durbin_watson, beta_ols
             |                    FROM quasi LIMIT 1)""".stripMargin)),

    /* Tarone's Z (`q_tarone_z`): score test for beta-binomial
     * overdispersion of per-part return rates against the pooled
     * binomial — the "is one p enough" gate before any binomial GLM.
     * S = Σ(Ny_j − n_jR)²/(R(N−R)) is kept as an exact integer
     * numerator over a closed denominator (the N² cancellation), so
     * Z = (S − N)/√(2Σn(n−1)) closes in one double chain. */
    // ── Tarone's Z over per-part return counts.
    QueryDef("q_tarone_z",
      (s, d) => {
        val per = Tables.lineitem(s, d)
          .groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CASE WHEN l_returnflag = 'R' THEN 1L ELSE 0L END"))
              .as("y"))
        val tot = per.agg(sum(col("n")).as("nn"), sum(col("y")).as("rr"))
        per.crossJoin(broadcast(tot))
          .agg(count(lit(1)).as("groups"), max(col("nn")).as("nn"),
            max(col("rr")).as("rr"),
            sum(expr(s"CAST(nn * y - n * rr AS $dec)" +
              s" * (nn * y - n * rr)")).as("ss"),
            sum(expr("n * (n - 1)")).as("pairs2"))
          .selectExpr("groups", "nn AS n_total", "rr AS r_total",
            """CASE WHEN rr = 0 OR rr = nn OR pairs2 = 0 THEN NULL
              |ELSE round((CAST(ss AS DOUBLE)
              |    / (CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE))
              |    - CAST(nn AS DOUBLE))
              |  / sqrt(CAST('2.0' AS DOUBLE)
              |    * CAST(pairs2 AS DOUBLE)), 6)
              |END AS tarone_z""".stripMargin)
      },
      Some("""WITH per AS (
             |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1
             |                       ELSE 0 END) AS BIGINT) AS y
             |  FROM lineitem GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             |               CAST(sum(y) AS BIGINT) AS rr FROM per),
             |agg AS (SELECT CAST(count(*) AS BIGINT) AS groups,
             |          max(nn) AS nn, max(rr) AS rr,
             |          sum(CAST(nn * y - n * rr AS HUGEINT)
             |            * (nn * y - n * rr)) AS ss,
             |          CAST(sum(n * (n - 1)) AS BIGINT) AS pairs2
             |        FROM per CROSS JOIN tot)
             |SELECT groups, nn AS n_total, rr AS r_total,
             |       CASE WHEN rr = 0 OR rr = nn OR pairs2 = 0 THEN NULL
             |       ELSE round((CAST(ss AS DOUBLE)
             |           / (CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE))
             |           - CAST(nn AS DOUBLE))
             |         / sqrt(CAST('2.0' AS DOUBLE)
             |           * CAST(pairs2 AS DOUBLE)), 6)
             |       END AS tarone_z
             |FROM agg""".stripMargin)),

    /* PRESS / LOOCV (`q_press_loocv`): leave-one-out prediction error
     * of the acctbal~spend regression via the closed form
     * e_i/(1−h_i) with hat values h_i = 1/n + (x_i−x̄)²/Sxx — the
     * n-fold cross-validation that costs ONE pass. Each deleted
     * residual is a per-row scalar double chain rounded to integer
     * cents BEFORE the square-sum (the portability rule), giving
     * PRESS, SSE, and predictive R² vs the in-sample R². */
    // ── PRESS: one-pass leave-one-out via hat values.
    QueryDef("q_press_loocv",
      (s, d) => {
        val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("x"))
        val base = Tables.customer(s, d)
          .select(col("c_custkey"),
            floor(col("c_acctbal") * 100 + 0.5).cast("long").as("y"))
          .join(spend, col("c_custkey") === col("o_custkey"))
          .select(col("x"), col("y"))
          .localCheckpoint(false) // moments + per-row deleted residuals
        val mom = base.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(expr(s"CAST(x AS $dec) * x")).as("qx"),
            sum(expr(s"CAST(x AS $dec) * y")).as("qxy"),
            sum(expr(s"CAST(y AS $dec) * y")).as("qy"))
          .selectExpr("CAST(n AS BIGINT) AS n", "sx", "sy", "qy",
            s"CAST(n AS $dec) * qx - CAST(sx AS $dec) * sx AS cxx",
            s"CAST(n AS $dec) * qxy - CAST(sx AS $dec) * sy AS cxy")
          .selectExpr("n", "sx", "sy", "cxx", "qy",
            """CASE WHEN cxx = 0 THEN CAST(0.0 AS DOUBLE)
              |ELSE round(CAST(cxy AS DOUBLE) / CAST(cxx AS DOUBLE), 6)
              |END AS b1""".stripMargin)
          .selectExpr("n", "sx", "sy", "cxx", "qy", "b1",
            """round((CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
              | / CAST(n AS DOUBLE), 6) AS b0""".stripMargin)
        base.crossJoin(broadcast(mom))
          .selectExpr("n", "sy", "qy",
            """CAST(round(CAST(y AS DOUBLE) - b0
              | - b1 * CAST(x AS DOUBLE)) AS BIGINT) AS e"""
              .stripMargin,
            // h_i = 1/n + n(x−x̄)²/(n·Sxx) with the n²-scale cxx:
            //   (x−x̄)² = (n·x − sx)²/n² → h = 1/n + (n·x−sx)²/(n·cxx)
            """(CAST('1.0' AS DOUBLE) / CAST(n AS DOUBLE)
              | + CAST(CAST(n AS decimal(38,0)) * x - sx AS DOUBLE)
              |   * CAST(CAST(n AS decimal(38,0)) * x - sx AS DOUBLE)
              |   / (CAST(n AS DOUBLE) * CAST(cxx AS DOUBLE))) AS h"""
              .stripMargin)
          .selectExpr("n", "sy", "qy", "e",
            """CAST(round(CAST(e AS DOUBLE)
              | / (CAST('1.0' AS DOUBLE) - h)) AS BIGINT) AS pe"""
              .stripMargin)
          .agg(max(col("n")).as("n"), max(col("sy")).as("sy"),
            max(col("qy")).as("qy"),
            sum(expr(s"CAST(e AS $dec) * e")).as("sse"),
            sum(expr(s"CAST(pe AS $dec) * pe")).as("press"))
          .selectExpr("n", "CAST(sse AS BIGINT) AS sse",
            "CAST(press AS BIGINT) AS press",
            s"""CASE WHEN CAST(n AS $dec) * qy
               | - CAST(sy AS $dec) * sy = 0 THEN NULL
               |ELSE round(CAST('1.0' AS DOUBLE)
               |  - CAST(press AS DOUBLE) * CAST(n AS DOUBLE)
               |    / CAST(CAST(n AS $dec) * qy
               |      - CAST(sy AS $dec) * sy AS DOUBLE), 6)
               |END AS r2_pred""".stripMargin,
            s"""CASE WHEN CAST(n AS $dec) * qy
               | - CAST(sy AS $dec) * sy = 0 THEN NULL
               |ELSE round(CAST('1.0' AS DOUBLE)
               |  - CAST(sse AS DOUBLE) * CAST(n AS DOUBLE)
               |    / CAST(CAST(n AS $dec) * qy
               |      - CAST(sy AS $dec) * sy AS DOUBLE), 6)
               |END AS r2_fit""".stripMargin)
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS x
             |  FROM orders GROUP BY 1),
             |base AS (SELECT x,
             |           CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
             |             AS y
             |         FROM customer
             |         JOIN spend ON o_custkey = c_custkey),
             |m0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |              CAST(sum(x) AS HUGEINT) AS sx,
             |              CAST(sum(y) AS HUGEINT) AS sy,
             |              sum(CAST(x AS HUGEINT) * x) AS qx,
             |              sum(CAST(x AS HUGEINT) * y) AS qxy,
             |              sum(CAST(y AS HUGEINT) * y) AS qy
             |       FROM base),
             |m1 AS (SELECT n, sx, sy, qy,
             |         CAST(n AS HUGEINT) * qx - sx * sx AS cxx,
             |         CAST(n AS HUGEINT) * qxy - sx * sy AS cxy
             |       FROM m0),
             |m2 AS (SELECT n, sx, sy, cxx, qy,
             |         CASE WHEN cxx = 0 THEN CAST(0.0 AS DOUBLE)
             |         ELSE round(CAST(cxy AS DOUBLE)
             |           / CAST(cxx AS DOUBLE), 6) END AS b1
             |       FROM m1),
             |mom AS (SELECT n, sx, sy, cxx, qy, b1,
             |          round((CAST(sy AS DOUBLE) - b1
             |            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             |            AS b0
             |        FROM m2),
             |rows_ AS (SELECT n, sy, qy,
             |            CAST(round(CAST(y AS DOUBLE) - b0
             |              - b1 * CAST(x AS DOUBLE)) AS BIGINT) AS e,
             |            (CAST('1.0' AS DOUBLE) / CAST(n AS DOUBLE)
             |             + CAST(CAST(n AS HUGEINT) * x - sx AS DOUBLE)
             |               * CAST(CAST(n AS HUGEINT) * x - sx
             |                 AS DOUBLE)
             |               / (CAST(n AS DOUBLE) * CAST(cxx AS DOUBLE)))
             |              AS h
             |          FROM base CROSS JOIN mom),
             |pr AS (SELECT n, sy, qy, e,
             |         CAST(round(CAST(e AS DOUBLE)
             |           / (CAST('1.0' AS DOUBLE) - h)) AS BIGINT) AS pe
             |       FROM rows_),
             |agg AS (SELECT max(n) AS n, max(sy) AS sy, max(qy) AS qy,
             |          sum(CAST(e AS HUGEINT) * e) AS sse,
             |          sum(CAST(pe AS HUGEINT) * pe) AS press
             |        FROM pr)
             |SELECT n, CAST(sse AS BIGINT) AS sse,
             |       CAST(press AS BIGINT) AS press,
             |       CASE WHEN CAST(n AS HUGEINT) * qy - sy * sy = 0
             |         THEN NULL
             |       ELSE round(CAST('1.0' AS DOUBLE)
             |         - CAST(press AS DOUBLE) * CAST(n AS DOUBLE)
             |           / CAST(CAST(n AS HUGEINT) * qy - sy * sy
             |             AS DOUBLE), 6) END AS r2_pred,
             |       CASE WHEN CAST(n AS HUGEINT) * qy - sy * sy = 0
             |         THEN NULL
             |       ELSE round(CAST('1.0' AS DOUBLE)
             |         - CAST(sse AS DOUBLE) * CAST(n AS DOUBLE)
             |           / CAST(CAST(n AS HUGEINT) * qy - sy * sy
             |             AS DOUBLE), 6) END AS r2_fit
             |FROM agg""".stripMargin)),

    /* Breusch–Pagan LM (`q_breusch_pagan`): do monthly-revenue OLS
     * residuals grow with time? Residuals close per-row through IEEE
     * doubles from exact BIGINT moments, are quantized per element
     * (floor — the recipe's safe per-scalar op) to integer squared
     * units, and the auxiliary e²-on-t regression is pure integer
     * moments again; LM = n·R². */
    // ── Breusch–Pagan heteroskedasticity LM on the month axis.
    QueryDef("q_breusch_pagan",
      (s, d) => {
        val ax = monthIndexAxis(s, d).localCheckpoint(false) // moments + z pass
        val m = ax.agg(count(lit(1)).as("n"), sum(col("t")).as("sx"),
          sum(col("y")).as("sy"), sum(col("t") * col("t")).as("sxx"),
          sum(col("t") * col("y")).as("sxy"))
        ax.crossJoin(broadcast(m))
          .selectExpr("n", "t", s"($zExpr) AS z")
          .groupBy(col("n"))
          .agg(sum(col("z")).as("sz"), sum(col("t") * col("z")).as("szt"),
            sum(col("z") * col("z")).as("szz"),
            sum(col("t")).as("st"), sum(col("t") * col("t")).as("stt"))
          .selectExpr("n",
            """CASE WHEN (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
              |    * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)
              |    <= 0 THEN NULL
              |ELSE CAST(floor(n
              |  * ((CAST(n AS DOUBLE) * szt - CAST(st AS DOUBLE) * sz)
              |     * (CAST(n AS DOUBLE) * szt - CAST(st AS DOUBLE) * sz))
              |  / ((CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
              |     * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
              |  * 1000000) AS BIGINT) END AS lm_e6""".stripMargin)
      },
      Some(monthIndexAxisSql + ",\n" + momentsSql +
        s""",
           |zr AS (SELECT n, t, ($zExpr) AS z FROM ax CROSS JOIN m),
           |aux AS (SELECT n, CAST(sum(z) AS BIGINT) AS sz,
           |          CAST(sum(t * z) AS BIGINT) AS szt,
           |          CAST(sum(z * z) AS BIGINT) AS szz,
           |          CAST(sum(t) AS BIGINT) AS st,
           |          CAST(sum(t * t) AS BIGINT) AS stt
           |        FROM zr GROUP BY n)
           |SELECT n,
           |  CASE WHEN (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
           |      * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)
           |      <= 0 THEN NULL
           |  ELSE CAST(floor(n
           |    * ((CAST(n AS DOUBLE) * szt - CAST(st AS DOUBLE) * sz)
           |       * (CAST(n AS DOUBLE) * szt - CAST(st AS DOUBLE) * sz))
           |    / ((CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
           |       * (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
           |    * 1000000) AS BIGINT) END AS lm_e6
           |FROM aux""".stripMargin)),

    /* White test (`q_white_test`): the same auxiliary regression with
     * regressors t AND t² — the 2×2 normal equations solved closed-form
     * (determinant identities) from integer raw moments, df = 2. */
    // ── White test: auxiliary regression of e² on (t, t²), df = 2.
    QueryDef("q_white_test",
      (s, d) => {
        val ax = monthIndexAxis(s, d).localCheckpoint(false)
        val m = ax.agg(count(lit(1)).as("n"), sum(col("t")).as("sx"),
          sum(col("y")).as("sy"), sum(col("t") * col("t")).as("sxx"),
          sum(col("t") * col("y")).as("sxy"))
        val aux = ax.crossJoin(broadcast(m))
          .selectExpr("n", "t", s"($zExpr) AS z")
          .groupBy(col("n"))
          .agg(sum(col("t")).as("st"),
            sum(col("t") * col("t")).as("stt"),
            sum(col("t") * col("t") * col("t")).as("sttt"),
            sum(col("t") * col("t") * col("t") * col("t")).as("stttt"),
            sum(col("z")).as("sz"), sum(col("t") * col("z")).as("szt"),
            sum(col("t") * col("t") * col("z")).as("szt2"),
            sum(col("z") * col("z")).as("szz"))
        aux.selectExpr("n", "CAST(2 AS BIGINT) AS df",
          """CASE WHEN (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)
            |    <= 0 THEN NULL
            |ELSE CAST(floor(n * (
            |  ((CAST(stttt AS DOUBLE) - CAST(stt AS DOUBLE) * stt / n)
            |    * (CAST(szt AS DOUBLE) - CAST(st AS DOUBLE) * sz / n)
            |    * (CAST(szt AS DOUBLE) - CAST(st AS DOUBLE) * sz / n)
            |   - 2 * (CAST(sttt AS DOUBLE) - CAST(st AS DOUBLE) * stt / n)
            |    * (CAST(szt AS DOUBLE) - CAST(st AS DOUBLE) * sz / n)
            |    * (CAST(szt2 AS DOUBLE) - CAST(stt AS DOUBLE) * sz / n)
            |   + (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n)
            |    * (CAST(szt2 AS DOUBLE) - CAST(stt AS DOUBLE) * sz / n)
            |    * (CAST(szt2 AS DOUBLE) - CAST(stt AS DOUBLE) * sz / n))
            |  / (((CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n)
            |     * (CAST(stttt AS DOUBLE) - CAST(stt AS DOUBLE) * stt / n)
            |    - (CAST(sttt AS DOUBLE) - CAST(st AS DOUBLE) * stt / n)
            |     * (CAST(sttt AS DOUBLE) - CAST(st AS DOUBLE) * stt / n))
            |    * (CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz / n)))
            |  * 1000000) AS BIGINT) END AS lm_e6""".stripMargin)
      },
      Some(monthIndexAxisSql + ",\n" + momentsSql +
        s""",
           |zr AS (SELECT n, t, ($zExpr) AS z FROM ax CROSS JOIN m),
           |aux AS (SELECT n, CAST(sum(t) AS BIGINT) AS st,
           |          CAST(sum(t * t) AS BIGINT) AS stt,
           |          CAST(sum(t * t * t) AS BIGINT) AS sttt,
           |          CAST(sum(t * t * t * t) AS BIGINT) AS stttt,
           |          CAST(sum(z) AS BIGINT) AS sz,
           |          CAST(sum(t * z) AS BIGINT) AS szt,
           |          CAST(sum(t * t * z) AS BIGINT) AS szt2,
           |          CAST(sum(z * z) AS BIGINT) AS szz
           |        FROM zr GROUP BY n)
           |SELECT n, CAST(2 AS BIGINT) AS df,
           |  CASE WHEN (CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz)
           |      <= 0 THEN NULL
           |  ELSE CAST(floor(n * (
           |    ((CAST(stttt AS DOUBLE) - CAST(stt AS DOUBLE) * stt / n)
           |      * (CAST(szt AS DOUBLE) - CAST(st AS DOUBLE) * sz / n)
           |      * (CAST(szt AS DOUBLE) - CAST(st AS DOUBLE) * sz / n)
           |     - 2 * (CAST(sttt AS DOUBLE) - CAST(st AS DOUBLE) * stt / n)
           |      * (CAST(szt AS DOUBLE) - CAST(st AS DOUBLE) * sz / n)
           |      * (CAST(szt2 AS DOUBLE) - CAST(stt AS DOUBLE) * sz / n)
           |     + (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n)
           |      * (CAST(szt2 AS DOUBLE) - CAST(stt AS DOUBLE) * sz / n)
           |      * (CAST(szt2 AS DOUBLE) - CAST(stt AS DOUBLE) * sz / n))
           |    / (((CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n)
           |       * (CAST(stttt AS DOUBLE) - CAST(stt AS DOUBLE) * stt
           |          / n)
           |      - (CAST(sttt AS DOUBLE) - CAST(st AS DOUBLE) * stt / n)
           |       * (CAST(sttt AS DOUBLE) - CAST(st AS DOUBLE) * stt / n))
           |      * (CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz / n)))
           |    * 1000000) AS BIGINT) END AS lm_e6
           |FROM aux""".stripMargin)),

    /* James–Stein (`q_james_stein`): shrink the 25 per-nation mean
     * order values toward the grand mean with factor
     * 1 − (k−3)σ̂²/Σ(x̄ᵢ−x̄)² (σ̂² from the pooled within variance /
     * harmonic group size). Outputs the factor and the shrunk
     * estimate for the extreme nation; the k-means-of-means analogue
     * of q_eb-style shrinkage, exact integer moments + one double
     * close. */
    // ── James–Stein shrinkage of per-nation mean order values.
    QueryDef("q_james_stein",
      (s, d) => {
        val grp = Tables.orders(s, d)
          .join(Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey"),
              col("c_nationkey").as("nk")), Seq("o_custkey"))
          .select(col("nk"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
              .as("x"))
          .groupBy(col("nk"))
          .agg(count(lit(1)).as("ni"), sum(col("x")).as("sx"),
            sum(expr(s"CAST(x AS $dec) * x")).as("sx2"))
          .withColumn("mean_i", expr("sx div ni"))
          .localCheckpoint(false) // 25 nations
        val pooled = grp.agg(count(lit(1)).as("k"),
          sum(col("ni")).as("n"), sum(col("sx")).as("sxt"),
          sum(expr(s"CAST(sx2 AS $dec)" +
            s" - CAST(sx AS $dec) * sx div ni")).as("ssw"),
          sum(expr("1000000000000 div ni")).as("hinv"))
        val devs = grp.crossJoin(broadcast(pooled))
          .withColumn("gm", expr("sxt div n"))
          .agg(max(col("k")).as("k"), max(col("n")).as("n"),
            max(col("gm")).as("grand_mean"),
            max(expr(s"CAST(ssw AS $dec)")).as("ssw"),
            max(col("hinv")).as("hinv"),
            sum(expr(s"CAST(mean_i - gm AS $dec) * (mean_i - gm)"))
              .as("ssb"),
            max(expr("mean_i")).as("max_mean"))
        devs.selectExpr("k", "n", "grand_mean", "max_mean",
            s"""CASE WHEN k < 4 OR CAST(ssb AS DOUBLE) <= 0 THEN NULL
               |ELSE CAST(round(greatest(CAST('0.0' AS DOUBLE),
               |  CAST('1.0' AS DOUBLE)
               |  - CAST(k - 3 AS DOUBLE)
               |    * (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))
               |    * (CAST(hinv AS DOUBLE)
               |       / CAST('1000000000000.0' AS DOUBLE)
               |       / CAST(k AS DOUBLE))
               |    / CAST(ssb AS DOUBLE))
               |  * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
               |END AS shrink_e6""".stripMargin)
          .selectExpr("k", "n", "grand_mean", "max_mean", "shrink_e6",
            s"""CASE WHEN shrink_e6 IS NULL THEN NULL
               |ELSE grand_mean + CAST(CAST(max_mean - grand_mean AS $dec)
               |  * shrink_e6 div 1000000 AS BIGINT)
               |END AS shrunk_max_cents""".stripMargin)
      },
      Some("""WITH grp AS (
             |  SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS ni,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS sx,
             |         CAST(sum(CAST(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT) AS HUGEINT)
             |           * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             |           AS HUGEINT) AS sx2
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1),
             |g2 AS (SELECT nk, ni, sx, sx2, sx // ni AS mean_i FROM grp),
             |pooled AS (SELECT CAST(count(*) AS BIGINT) AS k,
             |             CAST(sum(ni) AS BIGINT) AS n,
             |             CAST(sum(sx) AS BIGINT) AS sxt,
             |             CAST(sum(CAST(sx2 AS HUGEINT)
             |               - CAST(sx AS HUGEINT) * sx // ni) AS HUGEINT)
             |               AS ssw,
             |             CAST(sum(1000000000000 // ni) AS BIGINT)
             |               AS hinv
             |           FROM g2),
             |devs AS (SELECT max(sxt // n) AS grand_mean,
             |           CAST(sum(CAST(mean_i - sxt // n AS HUGEINT)
             |             * (mean_i - sxt // n)) AS HUGEINT) AS ssb,
             |           max(mean_i) AS max_mean,
             |           max(CAST(ssw AS HUGEINT)) AS ssw,
             |           max(hinv) AS hinv,
             |           max(k) AS k, max(n) AS n
             |         FROM g2 CROSS JOIN pooled)
             |SELECT k, n, grand_mean, max_mean,
             |       CASE WHEN k < 4 OR CAST(ssb AS DOUBLE) <= 0 THEN NULL
             |       ELSE CAST(round(greatest(CAST('0.0' AS DOUBLE),
             |         CAST('1.0' AS DOUBLE)
             |         - CAST(k - 3 AS DOUBLE)
             |           * (CAST(ssw AS DOUBLE) / CAST(n - k AS DOUBLE))
             |           * (CAST(hinv AS DOUBLE)
             |              / CAST('1000000000000.0' AS DOUBLE)
             |              / CAST(k AS DOUBLE))
             |           / CAST(ssb AS DOUBLE))
             |         * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
             |       END AS shrink_e6,
             |       CASE WHEN k < 4 OR CAST(ssb AS DOUBLE) <= 0 THEN NULL
             |       ELSE grand_mean
             |         + CAST(CAST(max_mean - grand_mean AS HUGEINT)
             |           * CAST(round(greatest(CAST('0.0' AS DOUBLE),
             |               CAST('1.0' AS DOUBLE)
             |               - CAST(k - 3 AS DOUBLE)
             |                 * (CAST(ssw AS DOUBLE)
             |                    / CAST(n - k AS DOUBLE))
             |                 * (CAST(hinv AS DOUBLE)
             |                    / CAST('1000000000000.0' AS DOUBLE)
             |                    / CAST(k AS DOUBLE))
             |                 / CAST(ssb AS DOUBLE))
             |             * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
             |           // 1000000 AS BIGINT)
             |       END AS shrunk_max_cents
             |FROM devs""".stripMargin))
  )
}
