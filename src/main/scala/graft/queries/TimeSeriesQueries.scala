package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, TimeSeries}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series dependence diagnostics: autocorrelation and partial
  * autocorrelation, portmanteau and unit-root probes, cross-correlation and
  * lead-lag, spectral and entropy reads, long memory, and nonlinear
  * dependence. */
object TimeSeriesQueries extends QueryCatalog {

  import Fixtures._

  /** Sign-factored `//` for the oracle (HUGEINT operands may be
    * negative: sc/ss carry the profile's phase). */
  private def sdivSql(v: String, dv: String): String =
    s"(CASE WHEN ($v) >= 0 THEN ($v) // ($dv) ELSE -((-($v)) // ($dv)) END)"

  /** Daily order volumes with quartile bin (1..4) — rank-selected
    * cutoffs on the bounded day axis, deterministic ties by (c, day). */
  private def binned(s: org.apache.spark.sql.SparkSession, d: String) = {
    val daily = Tables.orders(s, d)
      .groupBy(expr(
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
        .as("day"))
      .agg(count(lit(1)).as("c"))
    daily
      .withColumn("rk", row_number().over(
        Window.orderBy(col("c"), col("day"))).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("bin", expr(
        "least((rk - 1) * 4 div n + 1, 4)"))
      .select(col("day"), col("c"), col("bin"))
  }

  private val binnedSql =
    """binned AS (
      |  SELECT day, c, least((rk - 1) * 4 // n + 1, 4) AS bin
      |  FROM (SELECT day, c,
      |               CAST(row_number() OVER (ORDER BY c, day)
      |                 AS BIGINT) AS rk,
      |               CAST(count(*) OVER () AS BIGINT) AS n
      |        FROM (SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |                     CAST(count(*) AS BIGINT) AS c
      |              FROM orders GROUP BY 1)))""".stripMargin

  /** daily revenue in hecto-dollars + dense day rank via self-join. */
  private val dailySql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS dt,
      |         CAST(sum(CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS x
      |  FROM orders GROUP BY 1)""".stripMargin

  private def daily(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d)
      .groupBy(col("o_orderdate").as("dt"))
      .agg(sum(expr("CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT)"))
        .as("x"))
      .localCheckpoint(false) // calendar-bounded, self-joined

  def defs: Seq[QueryDef] = Seq(

    // ── Lag-1 autocorrelation of the cents series per event type:
    //    exact int128/decimal sums, one IEEE ratio at the end.
    QueryDef("q_autocorr",
      (s, d) => TimeSeries.autocorr(
        eventsTimedCents(s, d),
        "event_type", "t_us", "event_id", "cents"),
      Some("""WITH e AS (SELECT event_type AS key, epoch_us(ts) AS t, event_id,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
             |p AS (SELECT key, c AS x,
             |             lead(c) OVER (PARTITION BY key ORDER BY t, event_id) AS y
             |      FROM e),
             |s AS (SELECT key, CAST(count(*) AS BIGINT) AS n_pairs,
             |             CAST(sum(x) AS HUGEINT) AS s1, CAST(sum(y) AS HUGEINT) AS s2,
             |             CAST(sum(x * x) AS HUGEINT) AS s11,
             |             CAST(sum(y * y) AS HUGEINT) AS s22,
             |             CAST(sum(x * y) AS HUGEINT) AS s12
             |      FROM p WHERE y IS NOT NULL GROUP BY key)
             |SELECT key, n_pairs,
             |       CASE WHEN n_pairs * s11 - s1 * s1 = 0 OR n_pairs * s22 - s2 * s2 = 0
             |            THEN NULL
             |            ELSE round(CAST(n_pairs * s12 - s1 * s2 AS DOUBLE) /
             |                       sqrt(CAST(n_pairs * s11 - s1 * s1 AS DOUBLE) *
             |                            CAST(n_pairs * s22 - s2 * s2 AS DOUBLE)), 6)
             |       END AS acf1
             |FROM s""".stripMargin)),

    // ── Lagged cross-correlation of hourly click vs view counts,
    //    lags 0–3 on a dense 0-filled hour spine.
    QueryDef("q_cross_corr",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("h", expr("unix_micros(ts) div 3600000000"))
        TimeSeries.crossCorr(
          ev.filter(col("event_type") === "click")
            .groupBy(col("h")).agg(count(lit(1)).as("x")),
          ev.filter(col("event_type") === "view")
            .groupBy(col("h")).agg(count(lit(1)).as("y")),
          3)
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) // 3600000000 AS h, event_type FROM events),
             |hx AS (SELECT h, CAST(count(*) AS BIGINT) AS x FROM ev
             |       WHERE event_type = 'click' GROUP BY h),
             |hy AS (SELECT h, CAST(count(*) AS BIGINT) AS y FROM ev
             |       WHERE event_type = 'view' GROUP BY h),
             |b AS (SELECT min(h) AS h0, max(h) AS h1
             |      FROM (SELECT h FROM hx UNION ALL SELECT h FROM hy)),
             |spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM b),
             |sx AS (SELECT h, coalesce(x, 0) AS x FROM spine LEFT JOIN hx USING (h)),
             |sy AS (SELECT h, coalesce(y, 0) AS y FROM spine LEFT JOIN hy USING (h)),
             |lagged AS (SELECT k.lag, sy.h - k.lag AS h, sy.y
             |           FROM sy CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS lag) k),
             |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
             |             CAST(sum(x) AS HUGEINT) AS s1, CAST(sum(y) AS HUGEINT) AS s2,
             |             CAST(sum(x * x) AS HUGEINT) AS s11,
             |             CAST(sum(y * y) AS HUGEINT) AS s22,
             |             CAST(sum(x * y) AS HUGEINT) AS s12
             |      FROM sx JOIN lagged USING (h) GROUP BY lag)
             |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
             |       CASE WHEN n_pairs * s11 - s1 * s1 = 0 OR n_pairs * s22 - s2 * s2 = 0
             |            THEN NULL
             |            ELSE round(CAST(n_pairs * s12 - s1 * s2 AS DOUBLE) /
             |                       sqrt(CAST(n_pairs * s11 - s1 * s1 AS DOUBLE) *
             |                            CAST(n_pairs * s22 - s2 * s2 AS DOUBLE)), 6)
             |       END AS xcorr
             |FROM m""".stripMargin)),

    // ── Full ACF (lags 1..7) of daily event counts per type, classic
    //    global-mean estimator, exact decimal moments.
    QueryDef("q_acf",
      (s, d) => TimeSeries.acf(
        Tables.events(s, d)
          .withColumn("day", expr("unix_micros(ts) div 86400000000L")),
        "event_type", "day", 7),
      Some("""WITH ax AS (
             |  SELECT event_type AS key,
             |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             |         CAST(count(*) AS HUGEINT) AS x
             |  FROM events GROUP BY 1, 2),
             |tot AS (SELECT key, CAST(count(*) AS HUGEINT) AS n,
             |               CAST(sum(x) AS HUGEINT) AS s
             |        FROM ax GROUP BY key),
             |cen AS (SELECT a.key, a.day, a.n * a.x - a.s AS c
             |        FROM (SELECT ax.*, t.n, t.s FROM ax JOIN tot t
             |              ON t.key = ax.key) a),
             |den AS (SELECT key, sum(c * c) AS den FROM cen GROUP BY key),
             |pr AS (SELECT a.key, l.lag, a.c, b.c AS cl
             |       FROM cen a
             |       CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
             |       JOIN cen b ON b.key = a.key AND b.day = a.day + l.lag),
             |num AS (SELECT key, lag, CAST(count(*) AS BIGINT) AS n_pairs,
             |               sum(c * cl) AS num
             |        FROM pr GROUP BY key, lag)
             |SELECT n.key, CAST(n.lag AS BIGINT) AS lag, n.n_pairs,
             |       CASE WHEN d.den = 0 THEN NULL
             |            ELSE round(CAST(n.num AS DOUBLE) /
             |                 CAST(d.den AS DOUBLE), 6)
             |       END AS r
             |FROM num n JOIN den d ON d.key = n.key""".stripMargin)),

    // ── Hurst exponent by aggregated variance: block-mean variances at
    //    scales m ∈ {1, 2, 4, 7} over the first 28 days, log-log slope
    //    on the shared fixed-point log₂ (var(m) ~ m^{2H−2} ⇒
    //    H = (slope + 2)/2) — all integer.
    QueryDef("q_hurst",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("k")).orderBy(col("day"))
        val daily = eventTypeDaily(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 28)
        val scales = daily
          .select(col("k"), col("rn"), col("c"),
            explode(expr("array(1, 2, 4, 7)")).as("m"))
          .groupBy(col("k"), col("m"), expr("(rn - 1) div m").as("blk"))
          .agg(expr("sum(c) div m").as("bm"))
          .groupBy(col("k"), col("m"))
          .agg(count(lit(1)).as("nb"), sum(col("bm")).as("sb"),
            sum(col("bm") * col("bm")).as("qb"))
          .filter(expr("nb * qb - sb * sb > 0"))
          // e3 log units (div 1000, sign-factored for y) keep the
          // least-squares moments and the ·1e6 slope numerator inside
          // 64 bits — e6 logs overflow at (n·sxy − sx·sy)·1e6.
          .select(col("k"), col("m"), col("nb"),
            Bm25.log2E6(col("m").cast("long")).as("x0"),
            (Bm25.log2E6(expr("nb * qb - sb * sb")) -
              Bm25.log2E6(col("nb")) * 2).as("y0"))
          .withColumn("x", expr("x0 div 1000"))
          .withColumn("y",
            expr("CASE WHEN y0 >= 0 THEN y0 div 1000 "
              + "ELSE -((-y0) div 1000) END"))
        scales.groupBy(col("k"))
          .agg(count(lit(1)).as("n_scales"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("k"), col("n_scales"),
            expr("""CASE WHEN n_scales * sxy - sx * sy >= 0
                   |THEN (n_scales * sxy - sx * sy) * 1000000
                   |     div (n_scales * sxx - sx * sx)
                   |ELSE -((sx * sy - n_scales * sxy) * 1000000
                   |       div (n_scales * sxx - sx * sx))
                   |END""".stripMargin).as("slope_e6"))
          .withColumn("hurst_e6",
            expr("""CASE WHEN slope_e6 + 2000000 >= 0
                   |THEN (slope_e6 + 2000000) div 2
                   |ELSE -((-(slope_e6 + 2000000)) div 2) END""".stripMargin))
      },
      Some {
        val lgM = Bm25.log2E6Sql("CAST(m AS BIGINT)")
        val lgV = Bm25.log2E6Sql("CAST(nb * qb - sb * sb AS BIGINT)")
        val lgN = Bm25.log2E6Sql("CAST(nb AS BIGINT)")
        s"""WITH $eventTypeDailySql,
           |r AS (SELECT k, c, row_number() OVER (PARTITION BY k
           |        ORDER BY day) AS rn FROM daily),
           |blk AS (
           |  SELECT k, m, (rn - 1) // m AS blk, sum(c) // m AS bm
           |  FROM r CROSS JOIN (SELECT unnest([1, 2, 4, 7]) AS m) ms
           |  WHERE rn <= 28 GROUP BY 1, 2, 3),
           |v AS (
           |  SELECT k, m, count(*) AS nb, sum(bm) AS sb,
           |         sum(bm * bm) AS qb
           |  FROM blk GROUP BY 1, 2),
           |xy0 AS (
           |  SELECT k, m, nb, $lgM AS x0, $lgV - $lgN * 2 AS y0
           |  FROM v WHERE nb * qb - sb * sb > 0),
           |xy AS (
           |  SELECT k, x0 // 1000 AS x,
           |         CASE WHEN y0 >= 0 THEN y0 // 1000
           |              ELSE -((-y0) // 1000) END AS y
           |  FROM xy0),
           |ls AS (
           |  SELECT k, count(*) AS n_scales, sum(x) AS sx, sum(y) AS sy,
           |         sum(x * x) AS sxx, sum(x * y) AS sxy
           |  FROM xy GROUP BY 1),
           |sl AS (
           |  SELECT k, CAST(n_scales AS BIGINT) AS n_scales,
           |         CAST(CASE WHEN n_scales * sxy - sx * sy >= 0
           |              THEN (n_scales * sxy - sx * sy) * 1000000
           |                   // (n_scales * sxx - sx * sx)
           |              ELSE -((sx * sy - n_scales * sxy) * 1000000
           |                     // (n_scales * sxx - sx * sx))
           |              END AS BIGINT) AS slope_e6
           |  FROM ls)
           |SELECT k, n_scales, slope_e6,
           |       CAST(CASE WHEN slope_e6 + 2000000 >= 0
           |            THEN (slope_e6 + 2000000) // 2
           |            ELSE -((-(slope_e6 + 2000000)) // 2) END AS BIGINT)
           |         AS hurst_e6
           |FROM sl""".stripMargin
      }),

    // ── Permutation entropy of event-value cents per event type:
    //    ordinal patterns over (ts, event_id)-ordered triples.
    QueryDef("q_permutation_entropy",
      (s, d) => TimeSeries.permutationEntropy(
        eventsTimedCents(s, d),
        "event_type", "t_us", "event_id", "cents"),
      Some {
        val lg = Bm25.log2E6Sql("n") + " - " + Bm25.log2E6Sql("c")
        s"""WITH e AS (SELECT event_type AS key, epoch_us(ts) AS t, event_id AS tie,
           |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
           |tri AS (SELECT key, v,
           |               lag(v, 2) OVER w AS a, lag(v, 1) OVER w AS b
           |        FROM e WINDOW w AS (PARTITION BY key ORDER BY t, tie)),
           |pat AS (SELECT key,
           |          CAST(a <= b AS BIGINT) + 2 * CAST(b <= v AS BIGINT)
           |            + 4 * CAST(a <= v AS BIGINT) AS pid
           |        FROM tri WHERE a IS NOT NULL),
           |cnt AS (SELECT key, pid, CAST(count(*) AS BIGINT) AS c
           |        FROM pat GROUP BY 1, 2),
           |tot AS (SELECT key, CAST(sum(c) AS BIGINT) AS n,
           |               CAST(count(*) AS BIGINT) AS n_patterns
           |        FROM cnt GROUP BY 1),
           |h AS (SELECT key, max(n) AS n_windows, max(n_patterns) AS n_patterns,
           |         CAST(sum(c * ($lg)) // max(n) AS BIGINT) AS h_e6
           |      FROM cnt JOIN tot USING (key) GROUP BY key)
           |SELECT key, n_windows, n_patterns, h_e6,
           |       CAST(h_e6 * 1000000 // ${Bm25.log2E6Int(6L)} AS BIGINT) AS norm_e6
           |FROM h""".stripMargin
      }),

    // ── Epoch folding of the event stream over candidate periods
    //    {24h, 25h, 168h}: the diurnal fold should dominate the 25-hour
    //    control if the stream has a daily rhythm.
    QueryDef("q_epoch_folding",
      (s, d) => TimeSeries.epochFolding(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "t_us", Seq(24, 25, 168)),
      Some("""WITH hrs AS (SELECT epoch_us(ts) // 3600000000 AS h,
             |                   CAST(count(*) AS BIGINT) AS o_h
             |            FROM events GROUP BY 1),
             |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM hrs),
             |spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM b),
             |pd AS (SELECT unnest([24, 25, 168]) AS p),
             |sup AS (SELECT p, h % p AS ph, CAST(count(*) AS BIGINT) AS s_ph
             |        FROM spine CROSS JOIN pd GROUP BY 1, 2),
             |st AS (SELECT p, CAST(sum(s_ph) AS BIGINT) AS s_tot FROM sup GROUP BY 1),
             |obs AS (SELECT p, h % p AS ph, CAST(sum(o_h) AS BIGINT) AS o_ph
             |        FROM hrs CROSS JOIN pd GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(o_h) AS BIGINT) AS n_events FROM hrs),
             |terms AS (SELECT p, greatest((n_events * s_ph * 1000) // s_tot, 1) AS e_e3,
             |                 coalesce(o_ph, 0) AS o_ph
             |          FROM sup LEFT JOIN obs USING (p, ph)
             |               JOIN st USING (p) CROSS JOIN tot)
             |SELECT CAST(p AS BIGINT) AS p, CAST(count(*) AS BIGINT) AS n_phases,
             |       CAST(max(t.n_events) AS BIGINT) AS n_events,
             |       CAST(sum(((o_ph * 1000 - e_e3) * (o_ph * 1000 - e_e3)) // e_e3)
             |            AS BIGINT) AS chi2_e3
             |FROM terms CROSS JOIN tot t GROUP BY 1""".stripMargin)),

    // ── Haar energy: dense 512-hour grid of event counts (missing
    //    hours are 0), detail energy per dyadic level 1..5. The hour
    //    axis is calendar-bounded — scale-invariant window input.
    QueryDef("q_haar_energy",
      (s, d) => {
        val h = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 3600000000").as("h"))
        val h0 = h.agg(min(col("h")).as("h0"))
        val counts = h.crossJoin(broadcast(h0))
          .select((col("h") - col("h0")).as("idx"))
          .where(col("idx") < 512)
          .groupBy(col("idx")).agg(count(lit(1)).as("c"))
        val dense = s.range(512).select(col("id").as("idx"))
          .join(counts, Seq("idx"), "left")
          .select(col("idx"), coalesce(col("c"), lit(0L)).as("c"))
        Seq(1, 2, 3, 4, 5).map { lvl =>
          val half = 1 << (lvl - 1)
          dense
            .withColumn("blk", expr(s"idx div ${2 * half}"))
            .withColumn("side",
              when(expr(s"(idx div $half) % 2") === 0, 1L).otherwise(-1L))
            .groupBy(col("blk"))
            .agg(sum(col("side") * col("c")).as("detail"))
            .agg(count(lit(1)).as("n_blocks"),
              sum(col("detail") * col("detail")).as("energy"))
            .select(lit(lvl.toLong).as("level"), col("n_blocks"),
              col("energy"))
        }.reduce(_ unionByName _)
      },
      Some {
        def lvl(l: Int) = {
          val half = 1 << (l - 1)
          s"""SELECT CAST($l AS BIGINT) AS level,
             |       CAST(count(*) AS BIGINT) AS n_blocks,
             |       CAST(sum(detail * detail) AS BIGINT) AS energy
             |FROM (SELECT idx // ${2 * half} AS blk,
             |             CAST(sum(CASE WHEN (idx // $half) % 2 = 0
             |                           THEN c ELSE -c END) AS BIGINT) AS detail
             |      FROM dense GROUP BY 1)""".stripMargin
        }
        s"""WITH h AS (SELECT epoch_us(ts) // 3600000000 AS h FROM events),
           |h0 AS (SELECT min(h) AS h0 FROM h),
           |counts AS (SELECT h - h0 AS idx, CAST(count(*) AS BIGINT) AS c
           |           FROM h CROSS JOIN h0 WHERE h - h0 < 512 GROUP BY 1),
           |dense AS (SELECT r.range AS idx, coalesce(c.c, 0) AS c
           |          FROM range(512) r LEFT JOIN counts c ON c.idx = r.range)
           |${(1 to 5).map(lvl).mkString("\nUNION ALL\n")}""".stripMargin
      }),

    // ── Goertzel: power of the hour-of-day count profile at 1, 2 and 3
    //    cycles/day. Everything after the 24-row profile is literal
    //    integer arithmetic.
    QueryDef("q_goertzel_power",
      (s, d) => {
        val prof = Tables.events(s, d)
          .select(expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
          .groupBy(col("hod")).agg(count(lit(1)).as("c"))
        val freqs = s.range(1, 4).select(col("id").as("freq"))
        prof.crossJoin(broadcast(freqs))
          .withColumn("idx", expr("(freq * hod) % 24"))
          .withColumn("cosv", expr(caseFor("idx", 0)))
          .withColumn("sinv", expr(caseFor("idx", 18)))
          .groupBy(col("freq"))
          .agg(sum(expr("c * cosv")).cast(dec).as("sc"),
            sum(expr("c * sinv")).cast(dec).as("ss"),
            sum(col("c")).as("n_events"))
          .selectExpr("freq", "n_events",
            "CAST(sc div 1000000 AS BIGINT) AS sc_e0",
            "CAST(ss div 1000000 AS BIGINT) AS ss_e0",
            "CAST((sc * sc + ss * ss) div 1000000000000 AS BIGINT) AS power")
      },
      Some {
        s"""WITH prof AS (
           |  SELECT (epoch_us(ts) // 3600000000) % 24 AS hod,
           |         CAST(count(*) AS BIGINT) AS c
           |  FROM events GROUP BY 1),
           |g AS (SELECT f.range AS freq, hod, c,
           |             (f.range * hod) % 24 AS idx
           |      FROM prof CROSS JOIN range(1, 4) f),
           |t AS (SELECT freq, c,
           |             ${caseFor("idx", 0)} AS cosv,
           |             ${caseFor("idx", 18)} AS sinv
           |      FROM g),
           |a AS (SELECT freq, CAST(sum(c * cosv) AS HUGEINT) AS sc,
           |             CAST(sum(c * sinv) AS HUGEINT) AS ss,
           |             CAST(sum(c) AS BIGINT) AS n_events
           |      FROM t GROUP BY 1)
           |SELECT CAST(freq AS BIGINT) AS freq, n_events,
           |       CAST(${sdivSql("sc", "1000000")} AS BIGINT) AS sc_e0,
           |       CAST(${sdivSql("ss", "1000000")} AS BIGINT) AS ss_e0,
           |       CAST((sc * sc + ss * ss) // 1000000000000 AS BIGINT)
           |         AS power
           |FROM a""".stripMargin
      }),

    // ── PACF lags 1–3 by Durbin–Levinson over exact n²-scaled daily
    //    count moments; one deterministic double sequence closes it.
    QueryDef("q_pacf",
      (s, d) => {
        val days = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("x"))
        val tot = days.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        val w = Window.orderBy(col("day"))
        val led = days.crossJoin(broadcast(tot))
          .withColumn("c0", expr(s"CAST(n * x - sx AS $dec)"))
          .withColumn("x1", lead(col("x"), 1).over(w))
          .withColumn("x2", lead(col("x"), 2).over(w))
          .withColumn("x3", lead(col("x"), 3).over(w))
        val mom = led.agg(
          sum(expr("c0 * c0")).as("den"),
          sum(expr(s"CASE WHEN x1 IS NOT NULL THEN c0 * CAST(n * x1 - sx AS $dec) END")).as("n1"),
          sum(expr(s"CASE WHEN x2 IS NOT NULL THEN c0 * CAST(n * x2 - sx AS $dec) END")).as("n2"),
          sum(expr(s"CASE WHEN x3 IS NOT NULL THEN c0 * CAST(n * x3 - sx AS $dec) END")).as("n3"),
          max(expr("n")).as("n"))
        mom.selectExpr("CAST(n AS BIGINT) AS n",
            "CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1",
            "CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2",
            "CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3")
          .selectExpr("n", "r1", "r2", "r3",
            "(r2 - r1 * r1) / (1 - r1 * r1) AS p22")
          .selectExpr("n", "r1", "r2", "r3", "p22",
            "r1 * (1 - p22) AS p21")
          .selectExpr("n", "round(r1, 6) AS rho1", "round(r2, 6) AS rho2",
            "round(r3, 6) AS rho3", "round(r1, 6) AS pacf1",
            "round(p22, 6) AS pacf2",
            """round((r3 - p21 * r2 - p22 * r1)
              |/ (1 - p21 * r1 - p22 * r2), 6) AS pacf3""".stripMargin)
      },
      Some("""WITH days AS (SELECT epoch_us(ts) // 86400000000 AS day,
             |                    CAST(count(*) AS BIGINT) AS x
             |             FROM events GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(x) AS BIGINT) AS sx FROM days),
             |led AS (SELECT CAST(n * x - sx AS HUGEINT) AS c0,
             |               lead(x, 1) OVER (ORDER BY day) AS x1,
             |               lead(x, 2) OVER (ORDER BY day) AS x2,
             |               lead(x, 3) OVER (ORDER BY day) AS x3,
             |               n, sx
             |        FROM days CROSS JOIN tot),
             |mom AS (SELECT sum(c0 * c0) AS den,
             |               sum(CASE WHEN x1 IS NOT NULL THEN
             |                 c0 * CAST(n * x1 - sx AS HUGEINT) END) AS n1,
             |               sum(CASE WHEN x2 IS NOT NULL THEN
             |                 c0 * CAST(n * x2 - sx AS HUGEINT) END) AS n2,
             |               sum(CASE WHEN x3 IS NOT NULL THEN
             |                 c0 * CAST(n * x3 - sx AS HUGEINT) END) AS n3,
             |               max(n) AS n
             |        FROM led),
             |r AS (SELECT CAST(n AS BIGINT) AS n,
             |             CAST(n1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
             |             CAST(n2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
             |             CAST(n3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3
             |      FROM mom),
             |p2 AS (SELECT *, (r2 - r1 * r1) / (1 - r1 * r1) AS p22 FROM r),
             |p3 AS (SELECT *, r1 * (1 - p22) AS p21 FROM p2)
             |SELECT n, round(r1, 6) AS rho1, round(r2, 6) AS rho2,
             |       round(r3, 6) AS rho3, round(r1, 6) AS pacf1,
             |       round(p22, 6) AS pacf2,
             |       round((r3 - p21 * r2 - p22 * r1)
             |             / (1 - p21 * r1 - p22 * r2), 6) AS pacf3
             |FROM p3""".stripMargin)),

    // ── ADF-lite: Δx_t on x_{t−1} per type; φ near 0 ⇒ random walk,
    //    φ near −1 ⇒ strong mean reversion. Exact moments, double close.
    QueryDef("q_adf_lite",
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(col("event_type").as("et"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .groupBy(col("et"), col("day")).agg(count(lit(1)).as("c"))
        val p = daily
          .withColumn("xl", lag(col("c"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("et")).orderBy(col("day"))))
          .where(col("xl").isNotNull)
          .select(col("et"), col("xl").cast(dec).as("x"),
            (col("c") - col("xl")).cast(dec).as("y"))
        p.groupBy(col("et"))
          .agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("y") * col("y")).as("syy"))
          .selectExpr("et", "CAST(n AS BIGINT) AS n",
            """CASE WHEN n * sxx - sx * sx = 0 THEN NULL
              |     ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
              |          / CAST(n * sxx - sx * sx AS DOUBLE), 6)
              |END AS phi""".stripMargin,
            """CASE WHEN n * sxx - sx * sx = 0 OR n <= 2 THEN NULL
              |     ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)
              |            / CAST(n * sxx - sx * sx AS DOUBLE))
              |          / sqrt(((CAST(n * syy - sy * sy AS DOUBLE)
              |                  - CAST(n * sxy - sx * sy AS DOUBLE)
              |                    * CAST(n * sxy - sx * sy AS DOUBLE)
              |                    / CAST(n * sxx - sx * sx AS DOUBLE))
              |                 / CAST(n - 2 AS DOUBLE))
              |                / CAST(n * sxx - sx * sx AS DOUBLE)
              |                * CAST(n AS DOUBLE)), 6)
              |END AS t_stat""".stripMargin)
      },
      Some("""WITH daily AS (SELECT event_type AS et,
             |                     epoch_us(ts) // 86400000000 AS day,
             |                     CAST(count(*) AS BIGINT) AS c
             |              FROM events GROUP BY 1, 2),
             |p AS (SELECT et, CAST(xl AS HUGEINT) AS x,
             |             CAST(c - xl AS HUGEINT) AS y
             |      FROM (SELECT et, c, lag(c) OVER (PARTITION BY et
             |              ORDER BY day) AS xl FROM daily)
             |      WHERE xl IS NOT NULL),
             |m AS (SELECT et, CAST(count(*) AS HUGEINT) AS n,
             |             sum(x) AS sx, sum(y) AS sy,
             |             sum(x * x) AS sxx, sum(x * y) AS sxy,
             |             sum(y * y) AS syy
             |      FROM p GROUP BY 1)
             |SELECT et, CAST(n AS BIGINT) AS n,
             |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             |            ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
             |                 / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             |       END AS phi,
             |       CASE WHEN n * sxx - sx * sx = 0 OR n <= 2 THEN NULL
             |            ELSE round((CAST(n * sxy - sx * sy AS DOUBLE)
             |                   / CAST(n * sxx - sx * sx AS DOUBLE))
             |                 / sqrt(((CAST(n * syy - sy * sy AS DOUBLE)
             |                         - CAST(n * sxy - sx * sy AS DOUBLE)
             |                           * CAST(n * sxy - sx * sy AS DOUBLE)
             |                           / CAST(n * sxx - sx * sx AS DOUBLE))
             |                        / CAST(n - 2 AS DOUBLE))
             |                       / CAST(n * sxx - sx * sx AS DOUBLE)
             |                       * CAST(n AS DOUBLE)), 6)
             |       END AS t_stat
             |FROM m""".stripMargin)),

    // ── Durbin–Watson on daily order volumes demeaned the n-scaled way
    //    (z = n·c − S keeps residuals integer; DW is scale-invariant so
    //    the n factor cancels). DW = Σ(z_t − z_{t−1})² / Σz² over the
    //    day spine; both moments accumulate in decimal(38,0)/HUGEINT.
    //    The unpartitioned lag window rides the POST-AGGREGATE day axis
    //    (≤ ~2.4k rows at any SF — one row per calendar day, bounded by
    //    the 7-year order horizon, not by data volume).
    QueryDef("q_durbin_watson",
      (s, d) => {
        val daily = ordersPerDay(s, d)
        val tot = daily.agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
        daily.crossJoin(broadcast(tot))
          .withColumn("z", expr(s"CAST(n * c - s AS $dec)"))
          .withColumn("zp", lag(col("z"), 1).over(Window.orderBy(col("day"))))
          .agg(max(col("n")).as("nd"),
            sum(expr("CASE WHEN zp IS NULL THEN CAST(0 AS " + dec +
              ") ELSE (z - zp) * (z - zp) END")).as("num"),
            sum(expr("z * z")).as("den"))
          .selectExpr("CAST(nd AS BIGINT) AS n_days",
            """round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
              |AS dw""".stripMargin)
      },
      Some(s"""WITH $ordersPerDaySql,
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(c) AS BIGINT) AS s FROM daily),
             |z AS (SELECT day, n,
             |             CAST(n * c - s AS HUGEINT) AS z
             |      FROM daily CROSS JOIN tot),
             |l AS (SELECT day, n, z,
             |             lag(z, 1) OVER (ORDER BY day) AS zp
             |      FROM z),
             |m AS (SELECT max(n) AS nd,
             |             sum(CASE WHEN zp IS NULL THEN CAST(0 AS HUGEINT)
             |                 ELSE (z - zp) * (z - zp) END) AS num,
             |             sum(z * z) AS den
             |      FROM l)
             |SELECT CAST(nd AS BIGINT) AS n_days,
             |       round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
             |         AS dw
             |FROM m""".stripMargin)),

    // ── Ljung–Box per lag k=1..10 on n-scaled demeaned daily counts
    //    (v = n·c − s, exact): r_k from gap-aware day+k pairs (the
    //    q_acf convention), r_e6 sign-factored truncated; the per-lag
    //    χ² contribution substitutes the observed pair count for the
    //    classical n−k (the natural gap generalization, documented) —
    //    q_k_e6 = n(n+2)·r_e6² div (pairs·1e6), with the running total
    //    lb_cum_e6 accumulated over the lag axis in exact longs.
    QueryDef("q_ljung_box",
      (s, d) => {
        val daily = ordersPerDay(s, d)
        val tot = daily.agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
        val cen = daily.crossJoin(broadcast(tot))
          .select(col("day"), col("n"), expr("n * c - s").as("v"))
          .localCheckpoint(false) // pair sides + the denominator rollup
        val den = cen.agg(sum(expr("v * v")).as("den"),
          max(col("n")).as("n"))
        val lags = cen.select(col("day"), col("v"),
          explode(sequence(lit(1), lit(10))).as("k"))
        val num = lags.join(
            cen.select(col("day").as("db"), col("v").as("vb")),
            col("db") === col("day") + col("k"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("pairs"), sum(expr("v * vb")).as("num"))
        num.crossJoin(broadcast(den))
          .withColumn("r_e6", expr(
            """CASE WHEN den = 0 THEN 0
              |WHEN num >= 0 THEN num * 1000000 div den
              |ELSE -((-num) * 1000000 div den) END""".stripMargin))
          .withColumn("q_k_e6", expr(
            "n * (n + 2) * r_e6 * r_e6 div (pairs * 1000000)"))
          .withColumn("lb_cum_e6", sum(col("q_k_e6")).over(
            Window.orderBy(col("k"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .selectExpr("CAST(k AS BIGINT) AS k",
            "CAST(pairs AS BIGINT) AS pairs", "r_e6", "q_k_e6",
            "lb_cum_e6")
      },
      Some(s"""WITH $ordersPerDaySql,
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(c) AS BIGINT) AS s FROM daily),
             |cen AS (SELECT day, n, n * c - s AS v
             |        FROM daily CROSS JOIN tot),
             |den AS (SELECT CAST(sum(v * v) AS BIGINT) AS den,
             |               CAST(max(n) AS BIGINT) AS n FROM cen),
             |num AS (SELECT k, CAST(count(*) AS BIGINT) AS pairs,
             |               CAST(sum(a.v * b.v) AS BIGINT) AS num
             |        FROM cen a
             |        CROSS JOIN (SELECT unnest(generate_series(1, 10))
             |                      AS k) l
             |        JOIN cen b ON b.day = a.day + l.k
             |        GROUP BY 1),
             |sc AS (SELECT k, pairs,
             |              CASE WHEN den = 0 THEN 0
             |                   WHEN num >= 0 THEN num * 1000000 // den
             |                   ELSE -((-num) * 1000000 // den)
             |              END AS r_e6,
             |              n FROM num CROSS JOIN den),
             |qq AS (SELECT k, pairs, r_e6,
             |              n * (n + 2) * r_e6 * r_e6
             |                // (pairs * 1000000) AS q_k_e6
             |       FROM sc)
             |SELECT CAST(k AS BIGINT) AS k, pairs, r_e6, q_k_e6,
             |       CAST(sum(q_k_e6) OVER (ORDER BY k
             |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lb_cum_e6
             |FROM qq""".stripMargin)),

    // ── Granger-lite on the shared day axis: restricted model
    //    y_t ~ y_{t−1} vs full y_t ~ y_{t−1} + x_{t−1} (x = events/day,
    //    y = orders/day), both via exact centered moments. SSE·scale
    //    products are exact decimal(38,0) integers (SSE1·S11 and
    //    SSE2·D); F = (n−3)(SSE1−SSE2)/SSE2 closes through doubles of
    //    those exact integers — identical trees both engines.
    QueryDef("q_granger_lite",
      (s, d) => {
        val oy = Tables.orders(s, d)
          .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
            "div 86400000000").as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("y"))
        val ex = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("x"))
        // inner join on day; lags on the shared observed axis
        val w = Window.orderBy(col("day"))
        val ser = oy.join(ex, "day")
          .withColumn("y1", lag(col("y"), 1).over(w))
          .withColumn("x1", lag(col("x"), 1).over(w))
          .filter(col("y1").isNotNull)
          .select(col("y"), col("y1"), col("x1"))
          .localCheckpoint(false) // one moment rollup
        val m = ser.agg(count(lit(1)).as("n"),
          sum(col("y")).as("sy"), sum(col("y1")).as("s1"),
          sum(col("x1")).as("s2"), sum(expr("y * y")).as("syy"),
          sum(expr("y1 * y1")).as("s11r"), sum(expr("x1 * x1")).as("s22r"),
          sum(expr("y1 * x1")).as("s12r"), sum(expr("y * y1")).as("sy1r"),
          sum(expr("y * x1")).as("sy2r"))
        m.selectExpr("CAST(n AS BIGINT) AS n",
            s"CAST(n AS $dec) * CAST(syy AS $dec) - CAST(sy AS $dec) * CAST(sy AS $dec) AS cyy",
            s"CAST(n AS $dec) * CAST(s11r AS $dec) - CAST(s1 AS $dec) * CAST(s1 AS $dec) AS c11",
            s"CAST(n AS $dec) * CAST(s22r AS $dec) - CAST(s2 AS $dec) * CAST(s2 AS $dec) AS c22",
            s"CAST(n AS $dec) * CAST(s12r AS $dec) - CAST(s1 AS $dec) * CAST(s2 AS $dec) AS c12",
            s"CAST(n AS $dec) * CAST(sy1r AS $dec) - CAST(sy AS $dec) * CAST(s1 AS $dec) AS cy1",
            s"CAST(n AS $dec) * CAST(sy2r AS $dec) - CAST(sy AS $dec) * CAST(s2 AS $dec) AS cy2")
          // SSE1·c11 = cyy·c11 − cy1²; D = c11·c22 − c12²;
          // SSE2·D = cyy·D − c22·cy1² + 2·c12·cy1·cy2 − c11·cy2²
          .selectExpr("n",
            "CAST(cyy * c11 - cy1 * cy1 AS DOUBLE) AS sse1_s",
            "CAST(c11 * c22 - c12 * c12 AS DOUBLE) AS dd",
            "CAST(c11 AS DOUBLE) AS c11d",
            """CAST(cyy * (c11 * c22 - c12 * c12) - c22 * cy1 * cy1
              |  + 2 * c12 * cy1 * cy2 - c11 * cy2 * cy2
              |  AS DOUBLE) AS sse2_s""".stripMargin)
          .selectExpr("n",
            """CASE WHEN sse2_s <= CAST('0.0' AS DOUBLE)
              |       OR dd <= CAST('0.0' AS DOUBLE)
              |       OR c11d <= CAST('0.0' AS DOUBLE)
              |     THEN CAST('0.0' AS DOUBLE)
              |     ELSE round(CAST(n - 3 AS DOUBLE)
              |          * (sse1_s / c11d - sse2_s / dd)
              |          / (sse2_s / dd), 6)
              |END AS f_stat""".stripMargin)
      },
      Some("""WITH oy AS (SELECT epoch_us(o_orderdate) // 86400000000
             |                     AS day,
             |                  CAST(count(*) AS BIGINT) AS y
             |           FROM orders GROUP BY 1),
             |ex AS (SELECT epoch_us(ts) // 86400000000 AS day,
             |              CAST(count(*) AS BIGINT) AS x
             |       FROM events GROUP BY 1),
             |ser0 AS (SELECT oy.day, y, x FROM oy JOIN ex USING (day)),
             |ser AS (SELECT y,
             |               lag(y) OVER (ORDER BY day) AS y1,
             |               lag(x) OVER (ORDER BY day) AS x1
             |        FROM ser0),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(y) AS HUGEINT) AS sy,
             |             CAST(sum(y1) AS HUGEINT) AS s1,
             |             CAST(sum(x1) AS HUGEINT) AS s2,
             |             CAST(sum(y * y) AS HUGEINT) AS syy,
             |             CAST(sum(y1 * y1) AS HUGEINT) AS s11r,
             |             CAST(sum(x1 * x1) AS HUGEINT) AS s22r,
             |             CAST(sum(y1 * x1) AS HUGEINT) AS s12r,
             |             CAST(sum(y * y1) AS HUGEINT) AS sy1r,
             |             CAST(sum(y * x1) AS HUGEINT) AS sy2r
             |      FROM ser WHERE y1 IS NOT NULL),
             |c AS (SELECT n,
             |             n * syy - sy * sy AS cyy,
             |             n * s11r - s1 * s1 AS c11,
             |             n * s22r - s2 * s2 AS c22,
             |             n * s12r - s1 * s2 AS c12,
             |             n * sy1r - sy * s1 AS cy1,
             |             n * sy2r - sy * s2 AS cy2
             |      FROM m),
             |f AS (SELECT n,
             |             CAST(cyy * c11 - cy1 * cy1 AS DOUBLE) AS sse1_s,
             |             CAST(c11 * c22 - c12 * c12 AS DOUBLE) AS dd,
             |             CAST(c11 AS DOUBLE) AS c11d,
             |             CAST(cyy * (c11 * c22 - c12 * c12)
             |                  - c22 * cy1 * cy1
             |                  + 2 * c12 * cy1 * cy2
             |                  - c11 * cy2 * cy2 AS DOUBLE) AS sse2_s
             |      FROM c)
             |SELECT n,
             |       CASE WHEN sse2_s <= CAST('0.0' AS DOUBLE)
             |              OR dd <= CAST('0.0' AS DOUBLE)
             |              OR c11d <= CAST('0.0' AS DOUBLE)
             |            THEN CAST('0.0' AS DOUBLE)
             |            ELSE round(CAST(n - 3 AS DOUBLE)
             |                 * (sse1_s / c11d - sse2_s / dd)
             |                 / (sse2_s / dd), 6)
             |       END AS f_stat
             |FROM f""".stripMargin)),

    // ── Rolling beta, evaluated at month ends: daily (x = market
    //    revenue, y = BUILDING-segment revenue) in whole dollars; over
    //    the trailing 30 days β = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²), sign-
    //    factored e6 with decimal cross products. The day axis is
    //    calendar-bounded, so the unpartitioned window is safe.
    QueryDef("q_rolling_beta",
      (s, d) => {
        val daily = Tables.lineitem(s, d)
          .join(Tables.orders(s, d).select(col("o_orderkey"),
            col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
            "div 86400000000").as("day"))
          .agg(sum(floor(col("l_extendedprice")).cast("long")).as("x"),
            sum(when(col("c_mktsegment") === "BUILDING",
              floor(col("l_extendedprice")).cast("long")).otherwise(0L))
              .as("y"))
        val w30 = Window.orderBy(col("day")).rowsBetween(-29, 0)
        val mw = Window.partitionBy(expr("day div 32"))
        val roll = daily
          .withColumn("n", count(lit(1)).over(w30))
          .withColumn("sx", sum(col("x")).over(w30))
          .withColumn("sy", sum(col("y")).over(w30))
          .withColumn("sxx", sum(expr(s"CAST(x AS $dec) * x")).over(w30))
          .withColumn("sxy", sum(expr(s"CAST(x AS $dec) * y")).over(w30))
          .filter(col("n") === 30)
        // month-end = the max day of each day-div-32 bucket present —
        // NOT a calendar month, but identical in both engines and
        // bounded like one.
        roll.withColumn("mx", max(col("day")).over(mw))
          .filter(col("day") === col("mx"))
          .selectExpr("day",
            s"""CAST(CASE
               |  WHEN CAST(n AS $dec) * sxy - CAST(sx AS $dec) * sy >= 0
               |  THEN (CAST(n AS $dec) * sxy - CAST(sx AS $dec) * sy)
               |       * 1000000
               |       div (CAST(n AS $dec) * sxx - CAST(sx AS $dec) * sx)
               |  ELSE -((CAST(sx AS $dec) * sy - CAST(n AS $dec) * sxy)
               |       * 1000000
               |       div (CAST(n AS $dec) * sxx - CAST(sx AS $dec) * sx))
               |END AS BIGINT) AS beta_e6""".stripMargin,
            "CAST(sy * 1000000 div sx AS BIGINT) AS share_e6")
      },
      Some("""WITH daily AS (
             |  SELECT epoch_us(CAST(l_shipdate AS TIMESTAMP))
             |           // 86400000000 AS day,
             |         CAST(sum(CAST(floor(l_extendedprice) AS BIGINT))
             |           AS BIGINT) AS x,
             |         CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
             |             THEN CAST(floor(l_extendedprice) AS BIGINT)
             |             ELSE 0 END) AS BIGINT) AS y
             |  FROM lineitem l
             |  JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  JOIN customer c ON o.o_custkey = c.c_custkey
             |  GROUP BY 1),
             |roll AS (
             |  SELECT day,
             |         CAST(count(*) OVER w AS BIGINT) AS n,
             |         CAST(sum(x) OVER w AS BIGINT) AS sx,
             |         CAST(sum(y) OVER w AS BIGINT) AS sy,
             |         sum(CAST(x AS HUGEINT) * x) OVER w AS sxx,
             |         sum(CAST(x AS HUGEINT) * y) OVER w AS sxy
             |  FROM daily
             |  WINDOW w AS (ORDER BY day
             |               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
             |me AS (SELECT *, max(day) OVER (PARTITION BY day // 32)
             |                AS mx
             |       FROM roll WHERE n = 30)
             |SELECT day,
             |       CAST(CASE
             |         WHEN CAST(n AS HUGEINT) * sxy
             |              - CAST(sx AS HUGEINT) * sy >= 0
             |         THEN (CAST(n AS HUGEINT) * sxy
             |               - CAST(sx AS HUGEINT) * sy) * 1000000
             |              // (CAST(n AS HUGEINT) * sxx
             |                 - CAST(sx AS HUGEINT) * sx)
             |         ELSE -((CAST(sx AS HUGEINT) * sy
             |                 - CAST(n AS HUGEINT) * sxy) * 1000000
             |              // (CAST(n AS HUGEINT) * sxx
             |                 - CAST(sx AS HUGEINT) * sx))
             |       END AS BIGINT) AS beta_e6,
             |       CAST(sy * 1000000 // sx AS BIGINT) AS share_e6
             |FROM me WHERE day = mx""".stripMargin)),

    // ── Spectral entropy per event type over the 8 Goertzel bins
    //    (1..8 cycles/day on the 24-row hour-of-day profile): powers
    //    P_k close in decimal, shares and the entropy term are
    //    fixed-point integer log₂ — Σ p·log2(ΣP/P_k) in e6 bits.
    QueryDef("q_spectral_entropy",
      (s, d) => {
        val prof = hourProfile(s, d)
        val freqs = s.range(1, 9).select(col("id").as("freq"))
        val pw = prof.crossJoin(broadcast(freqs))
          .withColumn("idx", expr("(freq * hod) % 24"))
          .withColumn("cosv", expr(caseFor("idx", 0)))
          .withColumn("sinv", expr(caseFor("idx", 18)))
          .groupBy(col("event_type"), col("freq"))
          .agg(sum(expr("c * cosv")).cast(dec).as("sc"),
            sum(expr("c * sinv")).cast(dec).as("ss"))
          .select(col("event_type"), col("freq"),
            expr("CAST((sc * sc + ss * ss) div 1000000000000 AS BIGINT)")
              .as("p"))
          .localCheckpoint(false) // totals + the entropy fold
        val tot = pw.groupBy(col("event_type"))
          .agg(sum(col("p")).as("ptot"),
            max(expr("named_struct('p', p, 'freq', freq)")).as("pk"))
        pw.join(tot, "event_type")
          .filter(col("p") > 0 && col("ptot") > 0)
          .select(col("event_type"), col("ptot"),
            col("pk.freq").as("peak_freq"),
            (expr("p * 1000000 div ptot") *
              (Bm25.log2E6(col("ptot")) - Bm25.log2E6(col("p"))))
              .as("term"))
          .groupBy(col("event_type"))
          .agg(max(col("ptot")).as("total_power"),
            max(col("peak_freq")).as("peak_freq"),
            expr("CAST(sum(term) div 1000000 AS BIGINT)")
              .as("entropy_e6"))
          .selectExpr("event_type",
            "CAST(total_power AS BIGINT) AS total_power",
            "CAST(peak_freq AS BIGINT) AS peak_freq", "entropy_e6")
      },
      Some {
        s"""WITH prof AS (
           |  SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod,
           |         CAST(count(*) AS BIGINT) AS c
           |  FROM events GROUP BY 1, 2),
           |g AS (SELECT event_type, f.range AS freq, hod, c,
           |             (f.range * hod) % 24 AS idx
           |      FROM prof CROSS JOIN range(1, 9) f),
           |t AS (SELECT event_type, freq, c,
           |             ${caseFor("idx", 0)} AS cosv,
           |             ${caseFor("idx", 18)} AS sinv
           |      FROM g),
           |pwr AS (SELECT event_type, freq,
           |               CAST((CAST(sum(c * cosv) AS HUGEINT)
           |                     * CAST(sum(c * cosv) AS HUGEINT)
           |                   + CAST(sum(c * sinv) AS HUGEINT)
           |                     * CAST(sum(c * sinv) AS HUGEINT))
           |                 // 1000000000000 AS BIGINT) AS p
           |        FROM t GROUP BY 1, 2),
           |tot AS (SELECT event_type, CAST(sum(p) AS BIGINT) AS ptot,
           |               -- p·16+freq ≡ lexicographic (p, freq): freq≤8
           |               CAST(max_by(freq, p * 16 + freq) AS BIGINT)
           |                 AS peak_freq
           |        FROM pwr GROUP BY 1),
           |term AS (SELECT pwr.event_type, tot.ptot, tot.peak_freq,
           |                (pwr.p * 1000000 // tot.ptot)
           |                * (${Bm25.log2E6Sql("tot.ptot")}
           |                   - ${Bm25.log2E6Sql("pwr.p")}) AS term
           |         FROM pwr JOIN tot ON pwr.event_type = tot.event_type
           |         WHERE pwr.p > 0 AND tot.ptot > 0)
           |SELECT event_type,
           |       CAST(max(ptot) AS BIGINT) AS total_power,
           |       max(peak_freq) AS peak_freq,
           |       CAST(sum(term) // 1000000 AS BIGINT)
           |         AS entropy_e6
           |FROM term GROUP BY 1""".stripMargin
      }),

    // ── Auto mutual information: I(bin_t; bin_{t+k}) for k ∈ {1,7,14}
    //    over consecutive-day pairs, MI = Σ p_xy·log2(p_xy·n²/(n_x·n_y))
    //    in e6 bits — all integer (joint counts × log₂ e6, sign-
    //    factored). The 4×4 joint grid is bounded.
    QueryDef("q_auto_mutual_info",
      (s, d) => {
        val b = binned(s, d).localCheckpoint(false) // 3 lag self-joins
        val lags = s.range(0, 3)
          .select(expr("CAST(CASE id WHEN 0 THEN 1 WHEN 1 THEN 7 " +
            "ELSE 14 END AS BIGINT)").as("lag"))
        val pairs = b.as("a").crossJoin(broadcast(lags))
          .join(b.as("f"), col("f.day") === col("a.day") + col("lag"))
          .groupBy(col("lag"), col("a.bin").as("bx"),
            col("f.bin").as("by"))
          .agg(count(lit(1)).as("nxy"))
          .localCheckpoint(false) // margins re-aggregate from it
        val mx = pairs.groupBy(col("lag"), col("bx"))
          .agg(sum(col("nxy")).as("nx"))
        val my = pairs.groupBy(col("lag"), col("by"))
          .agg(sum(col("nxy")).as("ny"))
        val nt = pairs.groupBy(col("lag")).agg(sum(col("nxy")).as("n"))
        pairs.join(broadcast(mx), Seq("lag", "bx"))
          .join(broadcast(my), Seq("lag", "by"))
          .join(broadcast(nt), Seq("lag"))
          // log2(nxy·n/(nx·ny)) e6, sign factored via the two products
          .withColumn("lg", Bm25.log2E6(expr("nxy * n")) -
            Bm25.log2E6(expr("nx * ny")))
          .groupBy(col("lag"))
          .agg(max(col("n")).as("n_pairs"),
            sum(expr(s"CAST(nxy AS $dec) * lg")).as("num"))
          .selectExpr("lag", "CAST(n_pairs AS BIGINT) AS n_pairs",
            s"""CAST(CASE WHEN num >= 0
               |  THEN num div CAST(n_pairs AS $dec)
               |  ELSE -((-num) div CAST(n_pairs AS $dec))
               |END AS BIGINT) AS ami_e6""".stripMargin)
      },
      Some(s"""WITH $binnedSql,
             |lags AS (SELECT unnest([1, 7, 14]) AS lag),
             |pairs AS (SELECT lag, a.bin AS bx, f.bin AS by,
             |                 CAST(count(*) AS BIGINT) AS nxy
             |          FROM binned a CROSS JOIN lags
             |          JOIN binned f ON f.day = a.day + lag
             |          GROUP BY 1, 2, 3),
             |mx AS (SELECT lag, bx, CAST(sum(nxy) AS BIGINT) AS nx
             |       FROM pairs GROUP BY 1, 2),
             |my AS (SELECT lag, by, CAST(sum(nxy) AS BIGINT) AS ny
             |       FROM pairs GROUP BY 1, 2),
             |nt AS (SELECT lag, CAST(sum(nxy) AS BIGINT) AS n
             |       FROM pairs GROUP BY 1),
             |t AS (SELECT p.lag, p.nxy,
             |             ${Bm25.log2E6Sql("p.nxy * nt.n")}
             |               - ${Bm25.log2E6Sql("mx.nx * my.ny")} AS lg,
             |             nt.n
             |      FROM pairs p
             |      JOIN mx ON mx.lag = p.lag AND mx.bx = p.bx
             |      JOIN my ON my.lag = p.lag AND my.by = p.by
             |      JOIN nt ON nt.lag = p.lag),
             |agg AS (SELECT lag, max(n) AS n_pairs,
             |               sum(CAST(nxy AS HUGEINT) * lg) AS num
             |        FROM t GROUP BY 1)
             |SELECT CAST(lag AS BIGINT) AS lag,
             |       CAST(n_pairs AS BIGINT) AS n_pairs,
             |       CAST(CASE WHEN num >= 0
             |         THEN num // CAST(n_pairs AS HUGEINT)
             |         ELSE -((-num) // CAST(n_pairs AS HUGEINT))
             |       END AS BIGINT) AS ami_e6
             |FROM agg""".stripMargin)),

    // ── Recurrence quantification on the last 120 days: recurrence
    //    R(i,j) ⟺ |c_i − c_j| ≤ ε (ε = 5% of the window mean, integer
    //    cross-multiplied), i<j within lag ≤ 30. RR = recurrent share;
    //    DET = share of recurrences whose diagonal predecessor also
    //    recurs. The pair grid is day×day — calendar-bounded.
    QueryDef("q_recurrence_quant",
      (s, d) => {
        val daily = Tables.orders(s, d)
          .groupBy(expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
            .as("day"))
          .agg(count(lit(1)).as("c"))
        val win = daily
          .withColumn("mxd", max(col("day")).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .filter(col("day") > col("mxd") - 120)
          .select(col("day"), col("c"))
          .localCheckpoint(false) // mean + both sides of the pair grid
        val m = win.agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
        val rec = win.as("a").join(win.as("b"),
            col("b.day") > col("a.day") &&
              col("b.day") <= col("a.day") + 30)
          .crossJoin(broadcast(m))
          // |c_i − c_j|·20·n ≤ Σc  ⟺  |Δ| ≤ 0.05·mean
          .select(col("a.day").as("di"), col("b.day").as("dj"),
            (abs(col("a.c") - col("b.c")) * 20 * col("n") <= col("sc"))
              .as("r"))
          .localCheckpoint(false) // diagonal join below
        val det = rec.as("x").join(rec.as("y"),
            col("y.di") === col("x.di") - 1 &&
              col("y.dj") === col("x.dj") - 1, "left")
          .select(col("x.r").as("r"),
            (col("x.r") && coalesce(col("y.r"), lit(false))).as("diag"))
        det.agg(count(lit(1)).as("n_pairs"),
            sum(when(col("r"), 1L).otherwise(0L)).as("n_rec"),
            sum(when(col("diag"), 1L).otherwise(0L)).as("n_diag"))
          .selectExpr("CAST(n_pairs AS BIGINT) AS n_pairs",
            "CAST(n_rec AS BIGINT) AS n_rec",
            "n_rec * 1000000 div n_pairs AS rr_e6",
            """CASE WHEN n_rec = 0 THEN 0
              |ELSE n_diag * 1000000 div n_rec END AS det_e6"""
              .stripMargin)
      },
      Some("""WITH daily AS (
             |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM orders GROUP BY 1),
             |win AS (SELECT day, c FROM
             |          (SELECT day, c, max(day) OVER () AS mxd
             |           FROM daily)
             |        WHERE day > mxd - 120),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(c) AS BIGINT) AS sc FROM win),
             |rec AS (SELECT a.day AS di, b.day AS dj,
             |               abs(a.c - b.c) * 20 * m.n <= m.sc AS r
             |        FROM win a JOIN win b ON b.day > a.day
             |          AND b.day <= a.day + 30
             |        CROSS JOIN m),
             |det AS (SELECT x.r,
             |               (x.r AND coalesce(y.r, false)) AS diag
             |        FROM rec x LEFT JOIN rec y
             |          ON y.di = x.di - 1 AND y.dj = x.dj - 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             |       CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_rec,
             |       CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT)
             |         * 1000000 // count(*) AS rr_e6,
             |       CASE WHEN sum(CASE WHEN r THEN 1 ELSE 0 END) = 0
             |         THEN 0
             |         ELSE CAST(sum(CASE WHEN diag THEN 1 ELSE 0 END)
             |           AS BIGINT) * 1000000
             |           // CAST(sum(CASE WHEN r THEN 1 ELSE 0 END)
             |                AS BIGINT) END AS det_e6
             |FROM det""".stripMargin)),

    /* Engle–Granger (`q_engle_granger`): cointegration screen for the
     * region-0 vs region-1 monthly revenue series. Step 1 OLS on exact
     * integer moments → 6dp coefficients; step 2 residuals integerized
     * per-row (round to cents — a scalar chain, portable) so step 3,
     * the ADF regression Δr_t on r_{t−1}, runs on exact integers with
     * the same t-stat close as q_adf_lite. Monthly axis checkpointed
     * once (ONE orders scan feeds OLS, residuals, and the lag window). */
    // ── Engle–Granger: OLS level regression → integer-cent residuals
    //    → ADF t-stat on the residual series.
    QueryDef("q_engle_granger",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val monthly = region01Orders(s, d)
          .groupBy(trunc(col("o_orderdate"), "month").as("mo"))
          .agg(sum(when(col("n_regionkey") === 0,
            floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .otherwise(0L)).as("y"),
            sum(when(col("n_regionkey") === 1,
              floor(col("o_totalprice") * 100 + 0.5).cast("long"))
              .otherwise(0L)).as("x"))
          .localCheckpoint(false) // OLS moments + residual window
        val mom = monthly.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(expr(s"CAST(x AS $dec) * x")).as("sxx"),
          sum(expr(s"CAST(x AS $dec) * y")).as("sxy"))
        val coef = mom.selectExpr(
          """round(CAST(CAST(n AS decimal(38,0)) * sxy
            | - CAST(sx AS decimal(38,0)) * sy AS DOUBLE)
            | / CAST(CAST(n AS decimal(38,0)) * sxx
            | - CAST(sx AS decimal(38,0)) * sx AS DOUBLE), 6) AS beta"""
            .stripMargin,
          "CAST(n AS BIGINT) AS n", "sx", "sy")
          .selectExpr("n", "beta",
            """round((CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE))
              | / CAST(n AS DOUBLE), 6) AS alpha""".stripMargin)
        val resid = monthly.crossJoin(broadcast(coef))
          .selectExpr("mo", "n", "beta", "alpha",
            """CAST(round(CAST(y AS DOUBLE) - alpha
              | - beta * CAST(x AS DOUBLE)) AS BIGINT) AS r"""
              .stripMargin)
        val p = resid
          .withColumn("rl", lag(col("r"), 1).over(Window.orderBy("mo")))
          .where(col("rl").isNotNull)
          .selectExpr("n AS n_months", "beta", "alpha",
            s"CAST(rl AS $dec) AS xx", s"CAST(r - rl AS $dec) AS yy")
        p.groupBy(col("n_months"), col("beta"), col("alpha"))
          .agg(count(lit(1)).cast(dec).as("m"), sum(col("xx")).as("sx"),
            sum(col("yy")).as("sy"),
            sum(col("xx") * col("xx")).as("sxx"),
            sum(col("xx") * col("yy")).as("sxy"),
            sum(col("yy") * col("yy")).as("syy"))
          .selectExpr("n_months", "beta", "alpha",
            """CASE WHEN m * sxx - sx * sx = 0 THEN NULL
              |     ELSE round(CAST(m * sxy - sx * sy AS DOUBLE)
              |          / CAST(m * sxx - sx * sx AS DOUBLE), 6)
              |END AS gamma""".stripMargin,
            """CASE WHEN m * sxx - sx * sx = 0 OR m <= 2 THEN NULL
              |     ELSE round((CAST(m * sxy - sx * sy AS DOUBLE)
              |            / CAST(m * sxx - sx * sx AS DOUBLE))
              |          / sqrt(((CAST(m * syy - sy * sy AS DOUBLE)
              |                  - CAST(m * sxy - sx * sy AS DOUBLE)
              |                    * CAST(m * sxy - sx * sy AS DOUBLE)
              |                    / CAST(m * sxx - sx * sx AS DOUBLE))
              |                 / CAST(m - 2 AS DOUBLE))
              |                / CAST(m * sxx - sx * sx AS DOUBLE)
              |                * CAST(m AS DOUBLE)), 6)
              |END AS adf_t""".stripMargin)
      },
      Some("""WITH monthly AS (
             |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
             |           AS mo,
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
             |mom AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(x) AS HUGEINT) AS sx,
             |               CAST(sum(y) AS HUGEINT) AS sy,
             |               sum(CAST(x AS HUGEINT) * x) AS sxx,
             |               sum(CAST(x AS HUGEINT) * y) AS sxy
             |        FROM monthly),
             |coef AS (SELECT n,
             |           round(CAST(n * sxy - sx * sy AS DOUBLE)
             |             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS beta,
             |           sx, sy FROM mom),
             |coef2 AS (SELECT n, beta,
             |            round((CAST(sy AS DOUBLE)
             |              - beta * CAST(sx AS DOUBLE))
             |              / CAST(n AS DOUBLE), 6) AS alpha FROM coef),
             |resid AS (SELECT mo, n, beta, alpha,
             |            CAST(round(CAST(y AS DOUBLE) - alpha
             |              - beta * CAST(x AS DOUBLE)) AS BIGINT) AS r
             |          FROM monthly CROSS JOIN coef2),
             |p AS (SELECT n AS n_months, beta, alpha,
             |             CAST(rl AS HUGEINT) AS xx,
             |             CAST(r - rl AS HUGEINT) AS yy
             |      FROM (SELECT mo, n, beta, alpha, r,
             |              lag(r) OVER (ORDER BY mo) AS rl FROM resid)
             |      WHERE rl IS NOT NULL),
             |m AS (SELECT n_months, beta, alpha,
             |             CAST(count(*) AS HUGEINT) AS m, sum(xx) AS sx,
             |             sum(yy) AS sy, sum(xx * xx) AS sxx,
             |             sum(xx * yy) AS sxy, sum(yy * yy) AS syy
             |      FROM p GROUP BY 1, 2, 3)
             |SELECT n_months, beta, alpha,
             |       CASE WHEN m * sxx - sx * sx = 0 THEN NULL
             |            ELSE round(CAST(m * sxy - sx * sy AS DOUBLE)
             |                 / CAST(m * sxx - sx * sx AS DOUBLE), 6)
             |       END AS gamma,
             |       CASE WHEN m * sxx - sx * sx = 0 OR m <= 2 THEN NULL
             |            ELSE round((CAST(m * sxy - sx * sy AS DOUBLE)
             |                   / CAST(m * sxx - sx * sx AS DOUBLE))
             |                 / sqrt(((CAST(m * syy - sy * sy AS DOUBLE)
             |                         - CAST(m * sxy - sx * sy AS DOUBLE)
             |                           * CAST(m * sxy - sx * sy AS DOUBLE)
             |                           / CAST(m * sxx - sx * sx AS DOUBLE))
             |                        / CAST(m - 2 AS DOUBLE))
             |                       / CAST(m * sxx - sx * sx AS DOUBLE)
             |                       * CAST(m AS DOUBLE)), 6)
             |       END AS adf_t
             |FROM m""".stripMargin)),

    /* Von Neumann ratio (`q_von_neumann`): successive-difference /
     * variance η = n·Σd² div (n·Σx² − (Σx)²) on daily event counts —
     * the randomness-against-trend companion to q_runs_test and
     * q_durbin_watson, exact integers end to end. */
    // ── Von Neumann successive-difference ratio on daily event counts.
    QueryDef("q_von_neumann",
      (s, d) => {
        val days = Tables.events(s, d)
          .select(date_trunc("day", col("ts")).as("dy"))
          .groupBy(col("dy")).agg(count(lit(1)).as("x"))
        days
          .withColumn("px", lag(col("x"), 1).over(Window.orderBy(col("dy"))))
          .agg(count(lit(1)).as("n_days"),
            sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("sxx"),
            sum(when(col("px").isNotNull,
              (col("x") - col("px")) * (col("x") - col("px")))
              .otherwise(0L)).as("d2_sum"))
          .selectExpr("n_days", "d2_sum",
            """CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
              |ELSE n_days * d2_sum * 1000000
              |  div (n_days * sxx - sx * sx) END AS vn_e6""".stripMargin)
      },
      Some("""WITH days AS (
             |  SELECT date_trunc('day', ts) AS dy,
             |         CAST(count(*) AS BIGINT) AS x
             |  FROM events GROUP BY 1),
             |lg AS (SELECT x, lag(x) OVER (ORDER BY dy) AS px FROM days),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
             |        CAST(sum(x) AS BIGINT) AS sx,
             |        CAST(sum(x * x) AS BIGINT) AS sxx,
             |        CAST(sum(CASE WHEN px IS NOT NULL
             |          THEN (x - px) * (x - px) ELSE 0 END) AS BIGINT)
             |          AS d2_sum
             |      FROM lg)
             |SELECT n_days, d2_sum,
             |       CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
             |       ELSE n_days * d2_sum * 1000000
             |         // (n_days * sxx - sx * sx) END AS vn_e6
             |FROM m""".stripMargin)),

    /* Sample entropy (`q_sample_entropy`): SampEn(m=1, r = mean/10) of
     * daily revenue — −ln(A/B) where B counts value-close day pairs
     * and A additionally requires the NEXT consecutive days to match
     * (gap days drop out of both sides, documented). Pair counting is
     * a calendar-bounded broadcast self-join; the log close rides the
     * shared integer log₂. */
    // ── SampEn(m=1) of daily revenue with consecutive-day templates.
    QueryDef("q_sample_entropy",
      (s, d) => {
        val dl = daily(s, d)
        val nxt = dl.as("a").join(broadcast(dl.as("b")),
            expr("b.dt = date_add(a.dt, 1)"))
          .select(col("a.dt").as("dt"), col("a.x").as("x"),
            col("b.x").as("xn"))
          .localCheckpoint(false) // days with a next calendar day
        val r = dl.agg(expr("(sum(x) div count(*)) div 10").as("r"))
        val pairs = nxt.as("p").join(broadcast(nxt.as("q")),
            col("p.dt") < col("q.dt"))
          .crossJoin(broadcast(r))
          .agg(count(lit(1)).as("np"),
            sum(when(expr("abs(p.x - q.x) <= r"), 1L).otherwise(0L))
              .as("b1"),
            sum(when(expr("abs(p.x - q.x) <= r" +
              " AND abs(p.xn - q.xn) <= r"), 1L).otherwise(0L))
              .as("a2"))
        pairs
          .withColumn("lb", Bm25.log2E6(col("b1")))
          .withColumn("la", Bm25.log2E6(col("a2")))
          .selectExpr("np", "b1", "a2",
            """CASE WHEN a2 = 0 OR b1 = 0 THEN NULL
              |ELSE (lb - la) * 693147 div 1000000
              |END AS sampen_e6""".stripMargin)
      },
      Some {
        def L(v: String) = s"CAST(${Bm25.log2E6Sql(v)} AS BIGINT)"
        dailySql +
          s""",
             |nxt AS (SELECT a.dt, a.x, b.x AS xn
             |        FROM daily a JOIN daily b ON b.dt = a.dt + 1),
             |r AS (SELECT (sum(x) // count(*)) // 10 AS r FROM daily),
             |pairs AS (SELECT CAST(count(*) AS BIGINT) AS np,
             |    CAST(sum(CASE WHEN abs(p.x - q.x) <= r
             |      THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             |    CAST(sum(CASE WHEN abs(p.x - q.x) <= r
             |      AND abs(p.xn - q.xn) <= r THEN 1 ELSE 0 END)
             |      AS BIGINT) AS a2
             |  FROM nxt p JOIN nxt q ON p.dt < q.dt CROSS JOIN r)
             |SELECT np, b1, a2,
             |       CASE WHEN a2 = 0 OR b1 = 0 THEN NULL
             |       ELSE (${L("b1")} - ${L("a2")}) * 693147 // 1000000
             |       END AS sampen_e6
             |FROM pairs""".stripMargin
      }),

    /* Box-counting dimension (`q_box_counting`): occupied (time, value)
     * boxes of the normalized daily-revenue curve at dyadic scales
     * 2⁰..2⁷, then the exact 8-point OLS slope of log₂N on scale
     * exponent — a curve-roughness readout next to q_hurst. Grid
     * snapping, box counting and the OLS close are all integer. */
    // ── Box-counting dimension of the normalized daily-revenue curve.
    QueryDef("q_box_counting",
      (s, d) => {
        val dl = daily(s, d)
        val rng = dl.agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
          min(col("dt")).as("d0"))
        val norm = dl.crossJoin(broadcast(rng))
          .selectExpr("datediff(dt, d0) AS t",
            """CASE WHEN hi = lo THEN 0
              |ELSE (x - lo) * 1023 div (hi - lo) END AS rv""".stripMargin)
        val scales = norm
          .withColumn("k", explode(array((0 to 7).map(lit(_)): _*)))
          .selectExpr("k", "t div shiftleft(1, k) AS bt",
            "rv div shiftleft(1, k) AS bv")
          .groupBy(col("k"))
          .agg(countDistinct(col("bt"), col("bv")).as("nb"))
          .localCheckpoint(false) // 8 rows
        scales
          .agg(count(lit(1)).as("m"), sum(col("k")).as("sk"),
            sum(col("k") * col("k")).as("sk2"),
            sum(Bm25.log2E6(col("nb"))).as("sy"),
            sum(col("k") * Bm25.log2E6(col("nb"))).as("sky"),
            max(when(col("k") === 0, col("nb"))).as("n_finest"))
          .selectExpr("m", "n_finest",
            """CASE WHEN m * sk2 - sk * sk = 0 THEN NULL
              |WHEN m * sky - sk * sy <= 0
              |THEN (sk * sy - m * sky) div (m * sk2 - sk * sk)
              |ELSE -((m * sky - sk * sy) div (m * sk2 - sk * sk))
              |END AS dim_e6""".stripMargin)
      },
      Some {
        def L(v: String) = s"CAST(${Bm25.log2E6Sql(v)} AS BIGINT)"
        dailySql +
          s""",
             |rng AS (SELECT min(x) AS lo, max(x) AS hi, min(dt) AS d0
             |        FROM daily),
             |norm AS (SELECT datediff('day', d0, dt) AS t,
             |           CASE WHEN hi = lo THEN 0
             |           ELSE (x - lo) * 1023 // (hi - lo) END AS rv
             |         FROM daily CROSS JOIN rng),
             |scales AS (SELECT k,
             |             CAST(count(DISTINCT (t // (1 << k),
             |               rv // (1 << k))) AS BIGINT) AS nb
             |           FROM norm CROSS JOIN
             |             (SELECT unnest([0,1,2,3,4,5,6,7]) AS k)
             |           GROUP BY 1),
             |ag AS (SELECT CAST(count(*) AS BIGINT) AS m,
             |         CAST(sum(k) AS BIGINT) AS sk,
             |         CAST(sum(k * k) AS BIGINT) AS sk2,
             |         CAST(sum(${L("nb")}) AS BIGINT) AS sy,
             |         CAST(sum(k * ${L("nb")}) AS BIGINT) AS sky,
             |         CAST(max(CASE WHEN k = 0 THEN nb END) AS BIGINT)
             |           AS n_finest
             |       FROM scales)
             |SELECT m, n_finest,
             |       CASE WHEN m * sk2 - sk * sk = 0 THEN NULL
             |       WHEN m * sky - sk * sy <= 0
             |       THEN (sk * sy - m * sky) // (m * sk2 - sk * sk)
             |       ELSE -((m * sky - sk * sy) // (m * sk2 - sk * sk))
             |       END AS dim_e6
             |FROM ag""".stripMargin
      }),

    /* Rank von Neumann (`q_rank_von_neumann`): successive-difference
     * ratio of day-revenue RANKS, v = Σ(rₜ−rₜ₊₁)² normalized by
     * n(n²−1)/12 — the distribution-free serial-dependence twin of
     * q_von_neumann (values). Ranks come from the same bounded
     * self-join (count-smaller + date tie-break), never a
     * single-partition window. */
    // ── Rank von Neumann successive-difference ratio on day ranks.
    QueryDef("q_rank_von_neumann",
      (s, d) => {
        val dl = daily(s, d)
        val ranked = dl.as("a").crossJoin(broadcast(dl.as("b")))
          .groupBy(col("a.dt").as("dt"), col("a.x").as("x"))
          .agg((lit(1L) + sum(when(col("b.x") < col("a.x") ||
            (col("b.x") === col("a.x") && col("b.dt") < col("a.dt")), 1L)
            .otherwise(0L))).as("r"))
          .localCheckpoint(false)
        val sq = ranked.as("p").join(broadcast(ranked.as("q")),
            expr("q.dt = date_add(p.dt, 1)"))
          .agg(sum(expr("(p.r - q.r) * (p.r - q.r)")).as("sd2"),
            count(lit(1)).as("m"))
        val n = ranked.agg(count(lit(1)).as("n"))
        sq.crossJoin(broadcast(n))
          .selectExpr("n", "m", "sd2",
            s"""CASE WHEN n < 2 THEN NULL
               |ELSE CAST(CAST(sd2 AS $dec) * 12000000
               |  div (CAST(n AS $dec) * (CAST(n AS $dec) * n - 1))
               |  AS BIGINT)
               |END AS rvn_e6""".stripMargin)
      },
      Some(dailySql +
        """,
          |ranked AS (SELECT a.dt, a.x,
          |             1 + CAST(sum(CASE WHEN b.x < a.x
          |               OR (b.x = a.x AND b.dt < a.dt)
          |               THEN 1 ELSE 0 END) AS BIGINT) AS r
          |           FROM daily a LEFT JOIN daily b ON true
          |           GROUP BY 1, 2),
          |sq AS (SELECT CAST(sum((p.r - q.r) * (p.r - q.r)) AS BIGINT)
          |           AS sd2,
          |         CAST(count(*) AS BIGINT) AS m
          |       FROM ranked p JOIN ranked q ON q.dt = p.dt + 1),
          |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked)
          |SELECT n, m, sd2,
          |       CASE WHEN n < 2 THEN NULL
          |       ELSE CAST(CAST(sd2 AS HUGEINT) * 12000000
          |         // (CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1))
          |         AS BIGINT)
          |       END AS rvn_e6
          |FROM sq CROSS JOIN nn""".stripMargin))
  )
}
