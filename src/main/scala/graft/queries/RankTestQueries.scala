package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Quantiles, Stats}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-sample, paired and trend rank tests: ANOVA family, Kruskal-Wallis,
  * Friedman, Jonckheere, Page, and variance-homogeneity screens. */
object RankTestQueries extends QueryCatalog {

  import Fixtures._

  /** [[prioMonthCells]] zero-filled over every (g, mo) of its axes. */
  private def prioMonthGrid(s: SparkSession, d: String): DataFrame = {
    val cell = prioMonthCells(s, d)
    val axes = cell.select(col("g")).distinct()
      .crossJoin(cell.select(col("mo")).distinct())
    axes.join(cell, Seq("g", "mo"), "left")
      .select(col("g"), col("mo"), coalesce(col("x"), lit(0L)).as("x"))
  }

  /** DuckDB twin of [[prioMonthGrid]]: [[prioMonthCellsSql]] plus CTE
    * `grid`. */
  private val prioMonthGridSql = prioMonthCellsSql + """,
    |grid AS (SELECT ga.g, ma.mo, coalesce(c.x, 0) AS x
    |         FROM (SELECT DISTINCT g FROM cell) ga
    |         CROSS JOIN (SELECT DISTINCT mo FROM cell) ma
    |         LEFT JOIN cell c ON c.g = ga.g AND c.mo = ma.mo)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── One-way ANOVA: does mean value differ across event types?
    //    Exact integer moments; per-group between-term rounded to
    //    cents² before the order-independent sum; one double division.
    QueryDef("q_anova",
      (s, d) => Stats.anovaF(
        Tables.events(s, d)
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long")),
        "event_type", "cents"),
      Some(s"""WITH g AS (
              |  SELECT event_type AS key, count(*) AS n_g, sum($valueCents) AS s_g,
              |         sum($valueCents * $valueCents) AS q_g
              |  FROM events GROUP BY 1),
              |t AS (SELECT n_g, s_g, q_g,
              |        CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
              |             CAST(n_g AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT) AS term_c2
              |      FROM g),
              |m AS (SELECT count(*) AS k, sum(n_g) AS n, sum(s_g) AS s,
              |             sum(q_g) AS q, sum(term_c2) AS ssb_raw FROM t),
              |z AS (SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
              |        CAST(ssb_raw -
              |          CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
              |               CAST(n AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT)
              |          AS BIGINT) AS ssb_c2,
              |        CAST(q - ssb_raw AS BIGINT) AS ssw_c2
              |      FROM m)
              |SELECT k, n, ssb_c2, ssw_c2,
              |       CASE WHEN k < 2 OR n <= k OR ssw_c2 = 0 THEN NULL
              |            ELSE round(CAST(ssb_c2 AS DOUBLE) * CAST(n - k AS DOUBLE) /
              |                 (CAST(ssw_c2 AS DOUBLE) * CAST(k - 1 AS DOUBLE)), 6)
              |       END AS f
              |FROM z""".stripMargin)),

    /* Kruskal–Wallis (extends q_mann_whitney from 2 groups to k) —
     * doubled pooled midranks keep every rank integer; H lands in e6 via
     * DECIMAL(38,0) truncating division, per-group terms truncated in a
     * fixed order mirrored by the oracle. */
    // ── Kruskal–Wallis H across the k event types on value cents.
    //    Doubled pooled midranks (midrank2 = 2·|{<v}| + |{=v}| + 1) keep
    //    ranks integer; they are built once on the DISTINCT-value axis
    //    (a ≤49k-row spine — the q_ks_test pattern) and joined back to
    //    the (group, value) grain. Per-group term (R2²·1e6) div (4·n_g)
    //    truncates BEFORE the sum — the oracle truncates identically.
    QueryDef("q_kruskal_wallis",
      (s, d) => {
        val v = Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("x"))
        val axis = v.groupBy(col("x")).agg(count(lit(1)).as("n_v"))
        val w = Window.orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val mid = axis.withColumn("cum_less",
            coalesce(sum(col("n_v")).over(w), lit(0L)))
          .select(col("x"),
            (lit(2L) * col("cum_less") + col("n_v") + 1).as("mr2"))
        val gx = v.groupBy(col("g"), col("x")).agg(count(lit(1)).as("n_gx"))
        // R2_g² div (4n_g) exceeds 64 bits if multiplied naively, and
        // Spark's `div` silently WRAPS DECIMAL operands through long —
        // so split exactly: with q1 = R2 div b, r1 = R2 mod b (b = 4n_g),
        //   R2² div b = q1·R2 + (r1·R2) div b      (exact identity)
        // keeping every intermediate < 2⁶³ for N ≲ 3.5M pooled ranks.
        // The same split handles the final ·1e6 div N(N+1).
        val grp = gx.join(mid, Seq("x"))
          .groupBy(col("g"))
          .agg(sum(col("n_gx")).as("n_g"),
            sum(col("n_gx") * col("mr2")).as("r2_g"))
          .withColumn("c_g",
            expr("""(r2_g div (4 * n_g)) * r2_g
                   |+ ((r2_g % (4 * n_g)) * r2_g) div (4 * n_g)
                   |""".stripMargin))
        val tot = grp.agg(sum(col("n_g")).as("n_total"),
          (sum(col("c_g")) * 12).as("s12"))
        grp.join(broadcast(tot))
          .select(col("g"), col("n_g"), col("r2_g"),
            expr("""(s12 div (n_total * (n_total + 1))) * 1000000
                   |+ ((s12 % (n_total * (n_total + 1))) * 1000000)
                   |  div (n_total * (n_total + 1))
                   |- 3 * (n_total + 1) * 1000000
                   |""".stripMargin).as("h_e6"))
      },
      Some("""WITH v AS (
             |  SELECT event_type AS g,
             |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
             |  FROM events),
             |axis AS (SELECT x, count(*) AS n_v FROM v GROUP BY 1),
             |mid AS (
             |  SELECT x, 2 * coalesce(sum(n_v) OVER (ORDER BY x
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |         + n_v + 1 AS mr2
             |  FROM axis),
             |gx AS (SELECT g, x, count(*) AS n_gx FROM v GROUP BY 1, 2),
             |grp AS (
             |  SELECT g, sum(n_gx) AS n_g, sum(n_gx * mr2) AS r2_g,
             |         (sum(n_gx * mr2) // (4 * sum(n_gx)))
             |           * sum(n_gx * mr2)
             |         + ((sum(n_gx * mr2) % (4 * sum(n_gx)))
             |            * sum(n_gx * mr2)) // (4 * sum(n_gx)) AS c_g
             |  FROM gx JOIN mid USING (x) GROUP BY 1),
             |tot AS (SELECT sum(n_g) AS n_total, sum(c_g) * 12 AS s12
             |        FROM grp)
             |SELECT g, CAST(n_g AS BIGINT) AS n_g,
             |       CAST(r2_g AS BIGINT) AS r2_g,
             |       CAST((s12 // (n_total * (n_total + 1))) * 1000000
             |            + ((s12 % (n_total * (n_total + 1))) * 1000000)
             |              // (n_total * (n_total + 1))
             |            - 3 * (n_total + 1) * 1000000 AS BIGINT) AS h_e6
             |FROM grp CROSS JOIN tot""".stripMargin)),

    // ── Wilcoxon signed-rank: customers paired (2k, 2k+1), zero diffs
    //    dropped; W± in doubled-rank units, normal z closes it.
    QueryDef("q_wilcoxon_signed",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_custkey").as("ck"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("v"))
        val ev = c.where(col("ck") % 2 === 0)
          .select((col("ck") / 2).as("p"), col("v").as("va"))
        val od = c.where(col("ck") % 2 === 1)
          .select(((col("ck") - 1) / 2).as("p"), col("v").as("vb"))
        val diffs = ev.join(od, "p")
          .select((col("va") - col("vb")).as("dv"))
          .where(col("dv") =!= 0)
        // Tie-corrected doubled rank from the distinct-|d| axis: for a
        // tie group starting at global position p with c members,
        // r2 = 2p + c − 1 (≡ 2·rank + ties − 1 of the per-row form), so
        // one aggregate to (|d|, sign-count) cells replaces the
        // single-partition rank over all pairs — the window walks |d|
        // cells only.
        val cells = diffs.withColumn("ad", abs(col("dv")))
          .groupBy(col("ad"))
          .agg(count(lit(1)).as("cnt"),
            sum(when(col("dv") > 0, 1L).otherwise(0L)).as("pos"),
            sum(when(col("dv") < 0, 1L).otherwise(0L)).as("neg"))
        val r2 = cells
          .withColumn("cum", sum(col("cnt")).over(
            Window.orderBy(col("ad"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("r2",
            lit(2L) * (col("cum") - col("cnt") + 1L) + col("cnt") - 1L)
        r2.agg(sum(col("cnt")).as("n"),
            sum(col("pos") * col("r2")).as("w2_plus"),
            sum(col("neg") * col("r2")).as("w2_minus"))
          .selectExpr("n", "w2_plus", "w2_minus",
            """round((CAST(w2_plus AS DOUBLE) - CAST(w2_minus AS DOUBLE))
              |/ (CAST('2.0' AS DOUBLE)
              |   * sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE)
              |          / CAST('6.0' AS DOUBLE))), 6) AS z""".stripMargin)
      },
      Some("""WITH c AS (SELECT c_custkey AS ck,
             |                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
             |                   AS v
             |          FROM customer),
             |ev AS (SELECT ck // 2 AS p, v AS va FROM c WHERE ck % 2 = 0),
             |od AS (SELECT (ck - 1) // 2 AS p, v AS vb FROM c
             |       WHERE ck % 2 = 1),
             |diffs AS (SELECT va - vb AS dv FROM ev JOIN od ON ev.p = od.p
             |          WHERE va - vb <> 0),
             |r2 AS (SELECT dv,
             |              2 * CAST(rank() OVER (ORDER BY abs(dv))
             |                AS BIGINT)
             |              + CAST(count(*) OVER (PARTITION BY abs(dv))
             |                AS BIGINT) - 1 AS r2
             |       FROM diffs),
             |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(CASE WHEN dv > 0 THEN r2 ELSE 0 END)
             |                 AS BIGINT) AS w2_plus,
             |               CAST(sum(CASE WHEN dv < 0 THEN r2 ELSE 0 END)
             |                 AS BIGINT) AS w2_minus
             |        FROM r2)
             |SELECT n, w2_plus, w2_minus,
             |       round((CAST(w2_plus AS DOUBLE)
             |              - CAST(w2_minus AS DOUBLE))
             |         / (CAST('2.0' AS DOUBLE)
             |            * sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE)
             |                   / CAST('6.0' AS DOUBLE))), 6) AS z
             |FROM agg""".stripMargin)),

    // ── Friedman: blocks = hour-of-day, treatments = day-of-week;
    //    doubled within-block midranks, χ² closed in one double step.
    QueryDef("q_friedman_test",
      (s, d) => {
        val grid = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 3600000000").as("h"))
          .groupBy(expr("h % 24").as("hod"),
            expr("(h div 24 + 4) % 7").as("dow"))
          .agg(count(lit(1)).as("v"))
        val r2 = grid.withColumn("r2",
          lit(2L) * rank().over(Window.partitionBy(col("hod"))
            .orderBy(col("v"))).cast("long") +
            count(lit(1)).over(Window.partitionBy(col("hod"), col("v")))
            - 1L)
        val sums = r2.groupBy(col("dow")).agg(sum(col("r2")).as("r2_sum"))
          .localCheckpoint(false) // reused: per-dow rows + chi2 scalar
        val stats = sums.agg(count(lit(1)).as("k"),
          sum(expr("r2_sum * r2_sum")).as("sq"))
        val nb = grid.select(col("hod")).distinct()
          .agg(count(lit(1)).as("n_blocks"))
        sums.crossJoin(broadcast(stats)).crossJoin(broadcast(nb))
          .selectExpr("dow", "r2_sum", "n_blocks", "k",
            """round(CAST('3.0' AS DOUBLE) * CAST(sq AS DOUBLE)
              |/ (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
              |   * CAST(k + 1 AS DOUBLE))
              |- CAST('3.0' AS DOUBLE) * CAST(n_blocks AS DOUBLE)
              |  * CAST(k + 1 AS DOUBLE), 6) AS chi2""".stripMargin)
      },
      Some("""WITH grid AS (
             |  SELECT h % 24 AS hod, (h // 24 + 4) % 7 AS dow,
             |         CAST(count(*) AS BIGINT) AS v
             |  FROM (SELECT epoch_us(ts) // 3600000000 AS h FROM events)
             |  GROUP BY 1, 2),
             |r2 AS (SELECT hod, dow,
             |              2 * CAST(rank() OVER (PARTITION BY hod
             |                ORDER BY v) AS BIGINT)
             |              + CAST(count(*) OVER (PARTITION BY hod, v)
             |                AS BIGINT) - 1 AS r2
             |       FROM grid),
             |sums AS (SELECT dow, CAST(sum(r2) AS BIGINT) AS r2_sum
             |         FROM r2 GROUP BY 1),
             |stats AS (SELECT CAST(count(*) AS BIGINT) AS k,
             |                 CAST(sum(r2_sum * r2_sum) AS BIGINT) AS sq
             |          FROM sums),
             |nb AS (SELECT CAST(count(DISTINCT hod) AS BIGINT) AS n_blocks
             |       FROM grid)
             |SELECT dow, r2_sum, n_blocks, k,
             |       round(CAST('3.0' AS DOUBLE) * CAST(sq AS DOUBLE)
             |         / (CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
             |            * CAST(k + 1 AS DOUBLE))
             |       - CAST('3.0' AS DOUBLE) * CAST(n_blocks AS DOUBLE)
             |         * CAST(k + 1 AS DOUBLE), 6) AS chi2
             |FROM sums CROSS JOIN stats CROSS JOIN nb""".stripMargin)),

    // ── Mood's median test between daily click and view volumes: split
    //    every sample at the COMBINED lower median, then Pearson χ² on
    //    the resulting 2×2 (group × above/not-above). All integer —
    //    the squared numerator is sign-safe for the truncating ·1e6
    //    division; denominator margins floored at 1.
    QueryDef("q_mood_median",
      (s, d) => {
        val daily = clickViewDaily(s, d)
          .localCheckpoint(false) // median walk + the 2×2 rollup
        val n = daily.agg(count(lit(1)).as("n_all"))
        val med = daily.crossJoin(broadcast(n))
          .withColumn("rk", row_number().over(Window.orderBy(col("c"))))
          .filter(col("rk") === expr("CAST((n_all + 1) div 2 AS INT)"))
          .select(col("c").as("m"))
        daily.crossJoin(broadcast(med))
          .agg(sum(expr("CASE WHEN et = 'click' AND c > m THEN 1 ELSE 0 END"))
              .as("a"),
            sum(expr("CASE WHEN et = 'click' AND c <= m THEN 1 ELSE 0 END"))
              .as("b"),
            sum(expr("CASE WHEN et = 'view' AND c > m THEN 1 ELSE 0 END"))
              .as("cc"),
            sum(expr("CASE WHEN et = 'view' AND c <= m THEN 1 ELSE 0 END"))
              .as("dd"))
          .selectExpr("CAST(a AS BIGINT) AS n_click_above",
            "CAST(b AS BIGINT) AS n_click_below",
            "CAST(cc AS BIGINT) AS n_view_above",
            "CAST(dd AS BIGINT) AS n_view_below",
            """(a + b + cc + dd) * (a * dd - b * cc) * (a * dd - b * cc)
              |  * 1000000
              |  div greatest((a + b) * (cc + dd) * (a + cc) * (b + dd), 1)
              |  AS chi2_e6""".stripMargin)
      },
      Some(s"""WITH $clickViewDailySql,
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM daily),
             |r AS (SELECT c, n_all,
             |             row_number() OVER (ORDER BY c) AS rk
             |      FROM daily CROSS JOIN n),
             |med AS (SELECT c AS m FROM r WHERE rk = (n_all + 1) // 2),
             |cells AS (SELECT
             |    CAST(sum(CASE WHEN et = 'click' AND c > m
             |        THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |    CAST(sum(CASE WHEN et = 'click' AND c <= m
             |        THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |    CAST(sum(CASE WHEN et = 'view' AND c > m
             |        THEN 1 ELSE 0 END) AS BIGINT) AS cc,
             |    CAST(sum(CASE WHEN et = 'view' AND c <= m
             |        THEN 1 ELSE 0 END) AS BIGINT) AS dd
             |  FROM daily CROSS JOIN med)
             |SELECT a AS n_click_above, b AS n_click_below,
             |       cc AS n_view_above, dd AS n_view_below,
             |       (a + b + cc + dd) * (a * dd - b * cc)
             |         * (a * dd - b * cc) * 1000000
             |         // greatest((a + b) * (cc + dd) * (a + cc) * (b + dd),
             |                     1) AS chi2_e6
             |FROM cells""".stripMargin)),

    // ── Page's L test for the ordered alternative view ≤ click ≤
    //    purchase in per-user engagement: within-user ranks of the
    //    three counts (ties broken deterministically by the condition
    //    order — documented variant, identical in both engines), then
    //    L = Σᵢ Σⱼ j·rᵢⱼ. Under H0, E[L] = 12n and Var[L] = 2n for
    //    k = 3, so z = (L − 12n)/√(2n). All integer until the z close.
    QueryDef("q_page_trend",
      (s, d) => Tables.events(s, d)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("v"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("c"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("p"))
        // beats(i, j): x_i < x_j, or equal and i earlier in (v, c, p).
        .withColumn("rv", expr(
          """1 + CASE WHEN c < v THEN 1 ELSE 0 END
            |  + CASE WHEN p < v THEN 1 ELSE 0 END""".stripMargin))
        .withColumn("rc", expr(
          """1 + CASE WHEN v <= c THEN 1 ELSE 0 END
            |  + CASE WHEN p < c THEN 1 ELSE 0 END""".stripMargin))
        .withColumn("rp", expr(
          """1 + CASE WHEN v <= p THEN 1 ELSE 0 END
            |  + CASE WHEN c <= p THEN 1 ELSE 0 END""".stripMargin))
        .agg(count(lit(1)).as("n"),
          sum(expr("rv + 2 * rc + 3 * rp")).as("l_stat"))
        .selectExpr("CAST(n AS BIGINT) AS n_users",
          "CAST(l_stat AS BIGINT) AS l_stat",
          "CAST(12 * n AS BIGINT) AS e_l",
          """round(CAST(l_stat - 12 * n AS DOUBLE)
            |  / sqrt(CAST(2 * n AS DOUBLE)), 6) AS z""".stripMargin),
      Some("""WITH u AS (SELECT user_id,
             |             CAST(sum(CASE WHEN event_type = 'view'
             |                 THEN 1 ELSE 0 END) AS BIGINT) AS v,
             |             CAST(sum(CASE WHEN event_type = 'click'
             |                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             |             CAST(sum(CASE WHEN event_type = 'purchase'
             |                 THEN 1 ELSE 0 END) AS BIGINT) AS p
             |           FROM events
             |           WHERE event_type IN ('view', 'click', 'purchase')
             |           GROUP BY 1),
             |rk AS (SELECT
             |         1 + CASE WHEN c < v THEN 1 ELSE 0 END
             |           + CASE WHEN p < v THEN 1 ELSE 0 END AS rv,
             |         1 + CASE WHEN v <= c THEN 1 ELSE 0 END
             |           + CASE WHEN p < c THEN 1 ELSE 0 END AS rc,
             |         1 + CASE WHEN v <= p THEN 1 ELSE 0 END
             |           + CASE WHEN c <= p THEN 1 ELSE 0 END AS rp
             |       FROM u),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(rv + 2 * rc + 3 * rp) AS BIGINT)
             |               AS l_stat
             |      FROM rk)
             |SELECT n AS n_users, l_stat,
             |       CAST(12 * n AS BIGINT) AS e_l,
             |       round(CAST(l_stat - 12 * n AS DOUBLE)
             |         / sqrt(CAST(2 * n AS DOUBLE)), 6) AS z
             |FROM m""".stripMargin)),

    /* The three classical k-group screens still missing
     * from the test battery — Jonckheere–Terpstra (ordered-alternative
     * trend across groups, the test ANOVA/Kruskal–Wallis lack power for
     * when the alternative is monotone), Brown–Forsythe (median-centered
     * Levene — the variance-homogeneity gate ANOVA's F assumes), and
     * Cochran–Armitage (trend in binomial proportions across ordered
     * exposure levels). All three run on bounded (group × calendar-unit)
     * grids, so the pair/moment arithmetic is volume-independent: at
     * 100 TB only the first rollup grows. */

    // ── Jonckheere–Terpstra across order priorities (ordered 1-URGENT
    //    … 5-LOW): units are monthly order counts per priority; J sums
    //    the cross-group "later group larger" pair indicators over every
    //    priority pair (i<j), carried at 2× so ties (+1) stay integer.
    //    Null moments use the tie-free formulas on the zero-filled grid
    //    (equal n per group by construction). The pair grid is
    //    (months)² × C(5,2) — bounded by the calendar, not the data.
    QueryDef("q_jonckheere",
      (s, d) => {
        val grid = prioMonthGrid(s, d)
          .localCheckpoint(false) // both pair sides + the group-size rollup
        val j2 = grid.as("a").join(grid.as("b"), col("a.g") < col("b.g"))
          .agg(sum(when(col("a.x") < col("b.x"), 2L)
            .when(col("a.x") === col("b.x"), 1L).otherwise(0L)).as("j2"))
        val mom = grid.groupBy(col("g")).agg(count(lit(1)).as("n"))
          .agg(sum(col("n")).as("nn"),
            sum(expr("n * n")).as("sn2"),
            sum(expr("n * n * (2 * n + 3)")).as("sn23"))
        j2.crossJoin(mom)
          .selectExpr("CAST(j2 AS BIGINT) AS j2",
            "CAST(nn AS BIGINT) AS n_total",
            "(nn * nn - sn2) div 2 AS ej2",
            "nn * nn * (2 * nn + 3) - sn23 AS var72",
            """CASE WHEN nn * nn * (2 * nn + 3) - sn23 = 0
              |     THEN CAST('0.0' AS DOUBLE)
              |     ELSE round((CAST(j2 AS DOUBLE)
              |            - CAST((nn * nn - sn2) div 2 AS DOUBLE))
              |          / CAST('2.0' AS DOUBLE)
              |          / sqrt(CAST(nn * nn * (2 * nn + 3) - sn23
              |                   AS DOUBLE) / CAST('72.0' AS DOUBLE)), 6)
              |END AS z""".stripMargin)
      },
      Some(s"""WITH $prioMonthGridSql,
             |jj AS (SELECT CAST(sum(CASE WHEN a.x < b.x THEN 2
             |                            WHEN a.x = b.x THEN 1
             |                            ELSE 0 END) AS BIGINT) AS j2
             |       FROM grid a JOIN grid b ON a.g < b.g),
             |mom AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             |               CAST(sum(n * n) AS BIGINT) AS sn2,
             |               CAST(sum(n * n * (2 * n + 3)) AS BIGINT)
             |                 AS sn23
             |        FROM (SELECT g, CAST(count(*) AS BIGINT) AS n
             |              FROM grid GROUP BY 1))
             |SELECT j2, nn AS n_total,
             |       (nn * nn - sn2) // 2 AS ej2,
             |       nn * nn * (2 * nn + 3) - sn23 AS var72,
             |       CASE WHEN nn * nn * (2 * nn + 3) - sn23 = 0
             |            THEN CAST('0.0' AS DOUBLE)
             |            ELSE round((CAST(j2 AS DOUBLE)
             |                   - CAST((nn * nn - sn2) // 2 AS DOUBLE))
             |                 / CAST('2.0' AS DOUBLE)
             |                 / sqrt(CAST(nn * nn * (2 * nn + 3) - sn23
             |                          AS DOUBLE)
             |                        / CAST('72.0' AS DOUBLE)), 6)
             |       END AS z
             |FROM jj CROSS JOIN mom""".stripMargin)),

    // ── Brown–Forsythe variance-homogeneity across the same priority ×
    //    month grid: deviations from the per-group median (doubled —
    //    m2 = sum of the two middle order statistics, so the integer
    //    carry is exact for even and odd n alike), then the Levene F on
    //    the deviation grid in fully integer numer/denominator:
    //    W = (n−1)(k·ΣSᵢ² − S²) / ((k−1)(n·Q − ΣSᵢ²)) on the equal-n
    //    zero-filled grid. One grid build, one sort-rank window per
    //    group, three tiny rollups.
    QueryDef("q_brown_forsythe",
      (s, d) => {
        val grid = prioMonthGrid(s, d)
          .localCheckpoint(false) // median rank pass + deviation pass
        val med = grid
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("g")).orderBy(col("x"), col("mo"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
          .groupBy(col("g"))
          .agg(sum(when(col("rn") === expr("(n + 1) div 2"), col("x"))
            .otherwise(0L)).as("lo"),
            sum(when(col("rn") === expr("(n + 2) div 2"), col("x"))
              .otherwise(0L)).as("hi"))
          .select(col("g"), (col("lo") + col("hi")).as("m2"))
        val dev = grid.join(med, "g")
          .select(col("g"), abs(col("x") * 2 - col("m2")).as("z2"))
        val per = dev.groupBy(col("g"))
          .agg(count(lit(1)).as("n"), sum(col("z2")).as("sg"),
            sum(expr("z2 * z2")).as("qg"))
        per.agg(count(lit(1)).as("k"), max(col("n")).as("n"),
          sum(col("sg")).as("s"), sum(expr("sg * sg")).as("ss2"),
          sum(col("qg")).as("q"))
          .selectExpr("CAST(k AS BIGINT) AS k", "CAST(n AS BIGINT) AS n",
            "(n - 1) * (k * ss2 - s * s) AS w_num",
            "(k - 1) * (n * q - ss2) AS w_den",
            """CASE WHEN (k - 1) * (n * q - ss2) = 0
              |     THEN CAST('0.0' AS DOUBLE)
              |     ELSE round(CAST((n - 1) * (k * ss2 - s * s) AS DOUBLE)
              |          / CAST((k - 1) * (n * q - ss2) AS DOUBLE), 6)
              |END AS bf_w""".stripMargin)
      },
      Some(s"""WITH $prioMonthGridSql,
             |rk AS (SELECT g, x,
             |              row_number() OVER (PARTITION BY g
             |                                 ORDER BY x, mo) AS rn,
             |              count(*) OVER (PARTITION BY g) AS n
             |       FROM grid),
             |med AS (SELECT g,
             |               CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN x
             |                             ELSE 0 END)
             |                  + sum(CASE WHEN rn = (n + 2) // 2 THEN x
             |                             ELSE 0 END) AS BIGINT) AS m2
             |        FROM rk GROUP BY 1),
             |dev AS (SELECT grid.g, abs(x * 2 - m2) AS z2
             |        FROM grid JOIN med ON grid.g = med.g),
             |per AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(z2) AS BIGINT) AS sg,
             |               CAST(sum(z2 * z2) AS BIGINT) AS qg
             |        FROM dev GROUP BY 1),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
             |             CAST(max(n) AS BIGINT) AS n,
             |             CAST(sum(sg) AS BIGINT) AS s,
             |             CAST(sum(sg * sg) AS BIGINT) AS ss2,
             |             CAST(sum(qg) AS BIGINT) AS q
             |      FROM per)
             |SELECT k, n, (n - 1) * (k * ss2 - s * s) AS w_num,
             |       (k - 1) * (n * q - ss2) AS w_den,
             |       CASE WHEN (k - 1) * (n * q - ss2) = 0
             |            THEN CAST('0.0' AS DOUBLE)
             |            ELSE round(CAST((n - 1) * (k * ss2 - s * s)
             |                         AS DOUBLE)
             |                 / CAST((k - 1) * (n * q - ss2) AS DOUBLE), 6)
             |       END AS bf_w
             |FROM t""".stripMargin)),

    // ── Cochran–Armitage trend: does the return-flag rate trend across
    //    the ordered line-number exposure (1..7)? Scores tᵢ = i; all
    //    five moments are one integer rollup over the bounded exposure
    //    axis; the closing χ² is a fixed scalar IEEE expression (every
    //    operand an exact BIGINT cast once to DOUBLE), identical tree in
    //    both engines.
    QueryDef("q_cochran_armitage",
      (s, d) => {
        val per = Tables.lineitem(s, d)
          .groupBy(col("l_linenumber").cast("long").as("t"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
              .as("r"))
        per.agg(sum(col("n")).as("nn"), sum(col("r")).as("rr"),
          sum(expr("t * n")).as("tn"), sum(expr("t * r")).as("tr"),
          sum(expr("t * t * n")).as("ttn"))
          .selectExpr("CAST(nn AS BIGINT) AS n_total",
            "CAST(rr AS BIGINT) AS n_success",
            "CAST(tr AS BIGINT) AS sum_t_succ",
            """CASE WHEN rr = 0 OR rr = nn
              |       OR nn * ttn - tn * tn = 0
              |     THEN CAST('0.0' AS DOUBLE)
              |     ELSE round(CAST(nn AS DOUBLE)
              |          * (CAST(nn AS DOUBLE) * CAST(tr AS DOUBLE)
              |             - CAST(rr AS DOUBLE) * CAST(tn AS DOUBLE))
              |          * (CAST(nn AS DOUBLE) * CAST(tr AS DOUBLE)
              |             - CAST(rr AS DOUBLE) * CAST(tn AS DOUBLE))
              |          / (CAST(rr AS DOUBLE)
              |             * CAST(nn - rr AS DOUBLE)
              |             * (CAST(nn AS DOUBLE) * CAST(ttn AS DOUBLE)
              |                - CAST(tn AS DOUBLE)
              |                  * CAST(tn AS DOUBLE))), 6)
              |END AS chi2""".stripMargin)
      },
      Some("""WITH per AS (SELECT CAST(l_linenumber AS BIGINT) AS t,
             |                   CAST(count(*) AS BIGINT) AS n,
             |                   CAST(sum(CASE WHEN l_returnflag = 'R'
             |                                 THEN 1 ELSE 0 END)
             |                     AS BIGINT) AS r
             |            FROM lineitem GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             |             CAST(sum(r) AS BIGINT) AS rr,
             |             CAST(sum(t * n) AS BIGINT) AS tn,
             |             CAST(sum(t * r) AS BIGINT) AS tr,
             |             CAST(sum(t * t * n) AS BIGINT) AS ttn
             |      FROM per)
             |SELECT nn AS n_total, rr AS n_success, tr AS sum_t_succ,
             |       CASE WHEN rr = 0 OR rr = nn
             |              OR nn * ttn - tn * tn = 0
             |            THEN CAST('0.0' AS DOUBLE)
             |            ELSE round(CAST(nn AS DOUBLE)
             |                 * (CAST(nn AS DOUBLE) * CAST(tr AS DOUBLE)
             |                    - CAST(rr AS DOUBLE) * CAST(tn AS DOUBLE))
             |                 * (CAST(nn AS DOUBLE) * CAST(tr AS DOUBLE)
             |                    - CAST(rr AS DOUBLE) * CAST(tn AS DOUBLE))
             |                 / (CAST(rr AS DOUBLE)
             |                    * CAST(nn - rr AS DOUBLE)
             |                    * (CAST(nn AS DOUBLE) * CAST(ttn AS DOUBLE)
             |                       - CAST(tn AS DOUBLE)
             |                         * CAST(tn AS DOUBLE))), 6)
             |       END AS chi2
             |FROM t""".stripMargin)),

    // ── Tukey HSD between order priorities on the zero-filled equal-n
    //    priority×month grid: pairwise mean gaps vs q₀.₀₅(k=5, df→∞) =
    //    3.858 · √(MSE/n), decided by the fully-integer inequality
    //    (Sᵢ−Sⱼ)²·k·(n−1)·1e6 > q²ₑ₆·Wn — no square roots until the
    //    reported statistic. All pair structure lives on the k=5 axis.
    QueryDef("q_tukey_hsd",
      (s, d) => {
        val grid = prioMonthGrid(s, d)
        val per = grid.groupBy(col("g"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sg"),
            sum(expr("x * x")).as("qg"))
          .localCheckpoint(false) // pair sides + the pooled rollup
        val pool = per.agg(count(lit(1)).as("k"), max(col("n")).as("np"),
          sum(col("sg")).as("s"), sum(expr("sg * sg")).as("ss2"),
          sum(col("qg")).as("q"))
          .withColumn("wn", expr("np * q - ss2"))
        per.as("a").join(per.as("b"), col("a.g") < col("b.g"))
          .crossJoin(broadcast(pool))
          .withColumn("dabs", abs(col("a.sg") - col("b.sg")))
          .withColumn("sig", when(
            expr("dabs * dabs * k * (np - 1) * 1000000") >
              expr("14884164L * wn"), 1L).otherwise(0L))
          .withColumn("q_stat", expr(
            """CASE WHEN wn = 0 THEN CAST('0.0' AS DOUBLE)
              |ELSE round(sqrt(CAST(dabs * dabs * k * (np - 1) AS DOUBLE)
              |     / CAST(wn AS DOUBLE)), 6) END""".stripMargin))
          .selectExpr("a.g AS g1", "b.g AS g2",
            "CAST(dabs AS BIGINT) AS mean_gap_xn", "q_stat",
            "CAST(sig AS BIGINT) AS significant")
      },
      Some(s"""WITH $prioMonthGridSql,
             |per AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(x) AS BIGINT) AS sg,
             |               CAST(sum(x * x) AS BIGINT) AS qg
             |        FROM grid GROUP BY 1),
             |pool AS (SELECT CAST(count(*) AS BIGINT) AS k,
             |                CAST(max(n) AS BIGINT) AS np,
             |                CAST(sum(sg * sg) AS BIGINT) AS ss2,
             |                CAST(sum(qg) AS BIGINT) AS q
             |         FROM per),
             |pw AS (SELECT a.g AS g1, b.g AS g2,
             |              abs(a.sg - b.sg) AS dabs, k, np,
             |              np * q - ss2 AS wn
             |       FROM per a JOIN per b ON a.g < b.g
             |       CROSS JOIN pool)
             |SELECT g1, g2, dabs AS mean_gap_xn,
             |       CASE WHEN wn = 0 THEN CAST('0.0' AS DOUBLE)
             |            ELSE round(sqrt(CAST(dabs * dabs * k * (np - 1)
             |                     AS DOUBLE) / CAST(wn AS DOUBLE)), 6)
             |       END AS q_stat,
             |       CAST(CASE WHEN dabs * dabs * k * (np - 1) * 1000000
             |                    > 14884164 * wn
             |                 THEN 1 ELSE 0 END AS BIGINT) AS significant
             |FROM pw""".stripMargin)),

    // ── Quade test: blocks = months, treatments = priorities on the
    //    zero-filled grid. Within-block ranks and across-block range
    //    ranks are deterministic permutations; scores ride 2× units
    //    (s = Q·(2r − (k+1))) so F = (n−1)·B₂/(n·A₂ − B₂) is fully
    //    integer until the final division.
    QueryDef("q_quade",
      (s, d) => {
        val grid = prioMonthGrid(s, d)
          .localCheckpoint(false) // in-block ranks + block ranges
        val kk = grid.agg(countDistinct(col("g")).as("k"))
        val ranked = grid
          .withColumn("r", row_number().over(
            Window.partitionBy(col("mo")).orderBy(col("x"), col("g")))
            .cast("long"))
        val rng = grid.groupBy(col("mo"))
          .agg((max(col("x")) - min(col("x"))).as("rng"))
          .withColumn("q", row_number().over(
            Window.orderBy(col("rng"), col("mo"))).cast("long"))
          .select(col("mo"), col("q"))
        val sc = ranked.join(rng, "mo").crossJoin(broadcast(kk))
          .select(col("g"), col("mo"),
            (col("q") * (col("r") * 2 - (col("k") + 1))).as("s2"))
        val perT = sc.groupBy(col("g")).agg(sum(col("s2")).as("sj"))
        val a2 = sc.agg(sum(expr("s2 * s2")).as("a2"),
          countDistinct(col("mo")).as("n"))
        perT.agg(sum(expr("sj * sj")).as("b2"), count(lit(1)).as("kk"))
          .crossJoin(broadcast(a2))
          .selectExpr("CAST(n AS BIGINT) AS n_blocks",
            "CAST(kk AS BIGINT) AS k", "CAST(a2 AS BIGINT) AS a2",
            "CAST(b2 AS BIGINT) AS b2",
            """CASE WHEN n * a2 - b2 = 0 THEN CAST('0.0' AS DOUBLE)
              |ELSE round(CAST((n - 1) * b2 AS DOUBLE)
              |     / CAST(n * a2 - b2 AS DOUBLE), 6)
              |END AS f_stat""".stripMargin)
      },
      Some(s"""WITH $prioMonthGridSql,
             |kk AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS k
             |       FROM grid),
             |ranked AS (SELECT g, mo,
             |                  CAST(row_number() OVER (PARTITION BY mo
             |                    ORDER BY x, g) AS BIGINT) AS r
             |           FROM grid),
             |rng AS (SELECT mo,
             |               CAST(row_number() OVER (ORDER BY rg, mo)
             |                 AS BIGINT) AS q
             |        FROM (SELECT mo, max(x) - min(x) AS rg
             |              FROM grid GROUP BY 1)),
             |sc AS (SELECT g, ranked.mo,
             |              q * (r * 2 - (k + 1)) AS s2
             |       FROM ranked JOIN rng ON ranked.mo = rng.mo
             |       CROSS JOIN kk),
             |pt AS (SELECT g, CAST(sum(s2) AS BIGINT) AS sj
             |       FROM sc GROUP BY 1),
             |ta AS (SELECT CAST(sum(s2 * s2) AS BIGINT) AS a2,
             |              CAST(count(DISTINCT mo) AS BIGINT) AS n
             |       FROM sc),
             |tb AS (SELECT CAST(sum(sj * sj) AS BIGINT) AS b2,
             |              CAST(count(*) AS BIGINT) AS kk
             |       FROM pt)
             |SELECT n AS n_blocks, kk AS k, a2, b2,
             |       CASE WHEN n * a2 - b2 = 0 THEN CAST('0.0' AS DOUBLE)
             |            ELSE round(CAST((n - 1) * b2 AS DOUBLE)
             |                 / CAST(n * a2 - b2 AS DOUBLE), 6)
             |       END AS f_stat
             |FROM ta CROSS JOIN tb""".stripMargin)),

    // ── Paired sign test: 1997 vs 1996 order volume by calendar month
    //    (12 natural pairs). n⁺/n⁻ exact; the continuity-corrected z
    //    uses the binomial null — |n⁺ − n⁻| − 1 over √(n⁺+n⁻) — a
    //    fixed scalar close. Zero-difference months drop (the sign-test
    //    convention), matching q_wilcoxon_signed's pairing.
    QueryDef("q_sign_test",
      (s, d) => {
        val ym = Tables.orders(s, d)
          .filter(expr("year(o_orderdate) IN (1996, 1997)"))
          .groupBy(month(col("o_orderdate")).as("m"),
            year(col("o_orderdate")).as("y"))
          .agg(count(lit(1)).as("x"))
        val a = ym.filter(col("y") === 1996)
          .select(col("m"), col("x").as("xa"))
        val b = ym.filter(col("y") === 1997)
          .select(col("m"), col("x").as("xb"))
        a.join(b, "m").filter(col("xa") =!= col("xb"))
          .agg(sum(when(col("xb") > col("xa"), 1L).otherwise(0L))
            .as("n_plus"),
            sum(when(col("xb") < col("xa"), 1L).otherwise(0L))
              .as("n_minus"))
          .selectExpr("CAST(n_plus AS BIGINT) AS n_plus",
            "CAST(n_minus AS BIGINT) AS n_minus",
            """CASE WHEN n_plus + n_minus = 0 THEN CAST('0.0' AS DOUBLE)
              |ELSE round((CAST(abs(n_plus - n_minus) AS DOUBLE)
              |            - CAST('1.0' AS DOUBLE))
              |     / sqrt(CAST(n_plus + n_minus AS DOUBLE)), 6)
              |END AS z""".stripMargin)
      },
      Some("""WITH ym AS (SELECT month(o_orderdate) AS m,
             |                  year(o_orderdate) AS y,
             |                  CAST(count(*) AS BIGINT) AS x
             |           FROM orders
             |           WHERE year(o_orderdate) IN (1996, 1997)
             |           GROUP BY 1, 2),
             |p AS (SELECT a.m, a.x AS xa, b.x AS xb
             |      FROM (SELECT m, x FROM ym WHERE y = 1996) a
             |      JOIN (SELECT m, x FROM ym WHERE y = 1997) b
             |        ON a.m = b.m
             |      WHERE a.x <> b.x),
             |t AS (SELECT CAST(sum(CASE WHEN xb > xa THEN 1 ELSE 0 END)
             |               AS BIGINT) AS n_plus,
             |             CAST(sum(CASE WHEN xb < xa THEN 1 ELSE 0 END)
             |               AS BIGINT) AS n_minus
             |      FROM p)
             |SELECT n_plus, n_minus,
             |       CASE WHEN n_plus + n_minus = 0
             |            THEN CAST('0.0' AS DOUBLE)
             |            ELSE round((CAST(abs(n_plus - n_minus) AS DOUBLE)
             |                        - CAST('1.0' AS DOUBLE))
             |                 / sqrt(CAST(n_plus + n_minus AS DOUBLE)), 6)
             |       END AS z
             |FROM t""".stripMargin)),

    /* Brown–Forsythe variance homogeneity (`q_levene_bf`): the
     * median-based Levene test — the robust pre-check every ANOVA user
     * needs (q_anova exists; its equal-variance assumption did not).
     * Group medians come from [[Quantiles.groupedPercentile]]'s
     * histogram selection (never a per-group sort — the 100 TB path),
     * then ONE moment aggregate builds the F statistic. Units are
     * hecto-dollars so every worst-case moment stays inside BIGINT. */
    // ── Brown–Forsythe: z = |x − median_g| in hecto-dollars; F =
    //    [Σ n_g(z̄_g−z̄)²/(k−1)] / [ΣΣ(z−z̄_g)²/(N−k)] with truncated
    //    integer group means (identical truncation both engines).
    //    Bounds: z ≤ 1050 → within/between ≤ 6e5·1.1e6 ≈ 6.6e11; msb·1e6
    //    ≤ 6.6e17 — no overflow at ANY data skew.
    QueryDef("q_levene_bf",
      (s, d) => {
        val x = Tables.lineitem(s, d).select(col("l_returnflag").as("g"),
          expr("CAST(floor(l_extendedprice) AS BIGINT) div 100").as("x"))
        val med = Quantiles.groupedPercentile(x, "g", "x", 500000L)
          .select(col("g"), col("value").as("med_h"))
        val z = x.join(broadcast(med), "g")
          .select(col("g"), col("med_h"), abs(col("x") - col("med_h")).as("z"))
          .localCheckpoint(false) // one scan feeds group AND global moments
        val grp = z.groupBy(col("g"))
          .agg(first(col("med_h")).as("med_h"), count(lit(1)).as("n"),
            sum(col("z")).as("sz"), sum(col("z") * col("z")).as("sz2"))
          .withColumn("zbar", expr("sz div n"))
          // within_g = Σz² − 2·z̄Σz + n·z̄² (exact given truncated z̄)
          .withColumn("w_g",
            expr("sz2 - 2 * zbar * sz + n * zbar * zbar"))
          .localCheckpoint(false) // 3-row axis
        val tot = grp.agg(sum(col("n")).as("nn"), sum(col("sz")).as("szt"),
          count(lit(1)).as("k"))
          .withColumn("zbart", expr("szt div nn"))
        grp.crossJoin(broadcast(tot))
          .withColumn("b_g",
            expr("n * (zbar - zbart) * (zbar - zbart)"))
          .groupBy(col("nn"), col("k"), col("zbart"))
          .agg(sum(col("b_g")).as("between_h2"), sum(col("w_g")).as("within_h2"))
          .selectExpr("CAST(nn AS BIGINT) AS n_rows",
            "CAST(k AS BIGINT) AS n_groups", "zbart AS zbar_h",
            "between_h2", "within_h2",
            """(between_h2 * 1000000 div (k - 1))
              | div greatest(1L, within_h2 div (nn - k)) AS f_e6"""
              .stripMargin)
      },
      Some("""WITH x AS (SELECT l_returnflag AS g,
             |                 CAST(floor(l_extendedprice) AS BIGINT) // 100
             |                   AS x
             |           FROM lineitem),
             |st AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             |              (count(*) * 500000 + 999999) // 1000000 AS kk
             |       FROM x GROUP BY g),
             |r AS (SELECT g, x, row_number() OVER (PARTITION BY g
             |        ORDER BY x) AS rn FROM x),
             |med AS (SELECT r.g, r.x AS med_h FROM r JOIN st
             |        ON st.g = r.g AND r.rn = st.kk),
             |z AS (SELECT x.g, med.med_h, abs(x.x - med.med_h) AS z
             |      FROM x JOIN med ON x.g = med.g),
             |grp AS (SELECT g, CAST(min(med_h) AS BIGINT) AS med_h,
             |               CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(z) AS BIGINT) AS sz,
             |               CAST(sum(z * z) AS BIGINT) AS sz2
             |        FROM z GROUP BY g),
             |g2 AS (SELECT *, sz // n AS zbar,
             |              sz2 - 2 * (sz // n) * sz + n * (sz // n) * (sz // n)
             |                AS w_g
             |       FROM grp),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             |               CAST(sum(sz) AS BIGINT) AS szt,
             |               CAST(count(*) AS BIGINT) AS k,
             |               CAST(sum(sz) AS BIGINT) // CAST(sum(n) AS BIGINT)
             |                 AS zbart
             |        FROM g2)
             |SELECT nn AS n_rows, k AS n_groups, zbart AS zbar_h,
             |       CAST(sum(n * (zbar - zbart) * (zbar - zbart)) AS BIGINT)
             |         AS between_h2,
             |       CAST(sum(w_g) AS BIGINT) AS within_h2,
             |       (CAST(sum(n * (zbar - zbart) * (zbar - zbart)) AS BIGINT)
             |          * 1000000 // (k - 1))
             |         // greatest(1, CAST(sum(w_g) AS BIGINT) // (nn - k))
             |         AS f_e6
             |FROM g2 CROSS JOIN tot
             |GROUP BY nn, k, zbart""".stripMargin)),

    /* Bartlett's test (`q_bartlett`): variance homogeneity of order
     * values across the 5 priority classes — integer group variances,
     * the shared fixed-point log₂ scaled to ln by ·ln2, and the
     * standard C correction in e6. */
    // ── Bartlett's variance-homogeneity test across priority classes.
    QueryDef("q_bartlett",
      (s, d) => {
        val g = prioPriceVariance(s, d)
          .withColumn("l_si2", Bm25.log2E6(greatest(col("si2"), lit(1L))))
        val t = g.agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
          sum(expr(s"CAST(ni - 1 AS $dec) * si2")).as("wss"),
          sum(expr("(ni - 1) * l_si2")).as("sl"),
          sum(expr("1000000 div (ni - 1)")).as("rinv"))
        t.withColumn("sp2",
            expr(s"CAST(wss div CAST(n - k AS $dec) AS BIGINT)"))
          .withColumn("m_e6",
            (col("n") - col("k")) * Bm25.log2E6(greatest(col("sp2"),
              lit(1L))) - col("sl"))
          .selectExpr("k", "n",
            s"CAST(CAST(m_e6 AS $dec) * 693147 div 1000000 AS BIGINT)" +
              " AS m_ln_e6",
            "1000000 + (rinv - 1000000 div (n - k)) div (3 * (k - 1))" +
              " AS c_e6")
          .selectExpr("k", "n", "m_ln_e6", "c_e6",
            s"CAST(CAST(m_ln_e6 AS $dec) * 1000000 div c_e6 AS BIGINT)" +
              " AS bartlett_e6")
      },
      Some {
        val lsi2 = Bm25.log2E6Sql("greatest(si2, 1)")
        val lsp2 = Bm25.log2E6Sql("greatest(sp2, 1)")
        s"""WITH $prioPriceMomentsSql,
           |g AS (SELECT pri, ni, si,
           |        CAST((CAST(ni AS HUGEINT) * qi
           |          - CAST(si AS HUGEINT) * si)
           |          // (CAST(ni AS HUGEINT) * (ni - 1)) AS BIGINT) AS si2
           |      FROM g0),
           |g2 AS (SELECT *, $lsi2 AS l_si2 FROM g),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
           |        CAST(sum(ni) AS BIGINT) AS n,
           |        sum(CAST(ni - 1 AS HUGEINT) * si2) AS wss,
           |        CAST(sum((ni - 1) * l_si2) AS BIGINT) AS sl,
           |        CAST(sum(1000000 // (ni - 1)) AS BIGINT) AS rinv
           |      FROM g2),
           |t2 AS (SELECT *, CAST(wss // CAST(n - k AS HUGEINT) AS BIGINT)
           |         AS sp2 FROM t),
           |t3 AS (SELECT *, (n - k) * $lsp2 - sl AS m_e6 FROM t2),
           |t4 AS (SELECT k, n,
           |         CAST(CAST(m_e6 AS HUGEINT) * 693147 // 1000000
           |           AS BIGINT) AS m_ln_e6,
           |         1000000 + (rinv - 1000000 // (n - k))
           |           // (3 * (k - 1)) AS c_e6
           |       FROM t3)
           |SELECT k, n, m_ln_e6, c_e6,
           |       CAST(CAST(m_ln_e6 AS HUGEINT) * 1000000 // c_e6
           |         AS BIGINT) AS bartlett_e6
           |FROM t4""".stripMargin
      }),

    /* k-sample Anderson–Darling (`q_ad_ksample`): Σ_i (1/n_i)
     * Σ_j (N·M_ij − n_i·B_j)²/(B_j(N−B_j)) over the bucket axis with
     * per-term e6 integer truncation (mirrored), so the cross-engine
     * sum is an integer sum — no double accumulation anywhere. */
    // ── k-sample Anderson–Darling across priority classes.
    QueryDef("q_ad_ksample",
      (s, d) => {
        val cells = Tables.orders(s, d)
          .select(col("o_orderpriority").as("pri"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)" +
              " div 100000").as("bucket"))
          .groupBy(col("pri"), col("bucket"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // bounded: 5 strata × ≤500 buckets
        val axis = cells.select(col("bucket")).distinct()
        val pris = cells.select(col("pri")).distinct()
        val dense = axis.crossJoin(broadcast(pris))
          .join(cells, Seq("pri", "bucket"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
        val wp = Window.partitionBy(col("pri")).orderBy(col("bucket"))
        val wb = Window.orderBy(col("bucket"))
        val bj = dense.groupBy(col("bucket"))
          .agg(sum(col("c")).as("cj"))
          .withColumn("b", sum(col("cj")).over(wb))
        val ni = dense.groupBy(col("pri")).agg(sum(col("c")).as("ni"))
        val nn = ni.agg(sum(col("ni")).as("n"))
        dense
          .withColumn("m", sum(col("c")).over(wp))
          .join(bj.select(col("bucket"), col("b")), "bucket")
          .join(ni, "pri").crossJoin(broadcast(nn))
          .filter(col("b") < col("n")) // last value drops (denominator 0)
          .withColumn("t",
            expr(s"(CAST(n AS $dec) * m - CAST(ni AS $dec) * b)" +
              s" * (CAST(n AS $dec) * m - CAST(ni AS $dec) * b)" +
              s" * 1000000 div (CAST(ni AS $dec) * b * (n - b))"))
          .agg(countDistinct(col("pri")).as("k"), max(col("n")).as("n"),
            sum(col("t")).as("a2"))
          .selectExpr("k", "n", "CAST(a2 AS BIGINT) AS a2_e6")
      },
      Some("""WITH cells AS (
             |  SELECT o_orderpriority AS pri,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           // 100000 AS bucket,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM orders GROUP BY 1, 2),
             |dense AS (SELECT p.pri, a.bucket, coalesce(c.c, 0) AS c
             |          FROM (SELECT DISTINCT bucket FROM cells) a
             |          CROSS JOIN (SELECT DISTINCT pri FROM cells) p
             |          LEFT JOIN cells c
             |            ON c.pri = p.pri AND c.bucket = a.bucket),
             |bj AS (SELECT bucket, sum(sum(c))
             |           OVER (ORDER BY bucket) AS b
             |       FROM dense GROUP BY bucket),
             |ni AS (SELECT pri, CAST(sum(c) AS BIGINT) AS ni
             |       FROM dense GROUP BY 1),
             |nn AS (SELECT CAST(sum(ni) AS BIGINT) AS n FROM ni),
             |mm AS (SELECT d.pri, d.bucket,
             |         sum(d.c) OVER (PARTITION BY d.pri
             |           ORDER BY d.bucket) AS m,
             |         bj.b, ni.ni, nn.n
             |       FROM dense d JOIN bj ON bj.bucket = d.bucket
             |            JOIN ni ON ni.pri = d.pri CROSS JOIN nn),
             |terms AS (SELECT pri, n,
             |            (CAST(n AS HUGEINT) * m - CAST(ni AS HUGEINT) * b)
             |            * (CAST(n AS HUGEINT) * m
             |               - CAST(ni AS HUGEINT) * b)
             |            * 1000000 // (CAST(ni AS HUGEINT) * b * (n - b))
             |              AS t
             |          FROM mm WHERE b < n)
             |SELECT CAST(count(DISTINCT pri) AS BIGINT) AS k,
             |       max(n) AS n, CAST(sum(t) AS BIGINT) AS a2_e6
             |FROM terms""".stripMargin)),

    /* Page's L (`q_page_l`): ordered-alternative trend across quarters
     * within years (blocks = years, treatments = Q1..Q4, ranks by
     * within-year pairwise counting with a quarter-index tie-break);
     * L, E[L] = 25b and the z close with var = b·k²(k+1)(k²−1)/144.
     * The a-priori-ordered sharpening of q_friedman. */
    // ── Page's L: quarterly trend within years.
    QueryDef("q_page_l",
      (s, d) => {
        val yq = Tables.orders(s, d)
          .groupBy(expr("CAST(year(o_orderdate) AS BIGINT)").as("y"),
            expr("CAST(quarter(o_orderdate) AS BIGINT)").as("q"))
          .agg(sum(expr("CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT)"))
            .as("x"))
          .localCheckpoint(false) // calendar-bounded
        val full = yq.groupBy(col("y")).agg(count(lit(1)).as("nq"))
          .where(col("nq") === 4L).select(col("y"))
        val yq4 = yq.join(broadcast(full), Seq("y"))
        val ranked = yq4.as("a").join(broadcast(yq4.as("b")),
            col("a.y") === col("b.y"))
          .groupBy(col("a.y").as("y"), col("a.q").as("q"))
          .agg((lit(1L) + sum(when(col("b.x") < col("a.x") ||
            (col("b.x") === col("a.x") && col("b.q") < col("a.q")), 1L)
            .otherwise(0L))).as("r"))
        ranked.agg(countDistinct(col("y")).as("b"),
            sum(col("q") * col("r")).as("l"))
          .selectExpr("b", "l", "b * 25 AS el",
            """CASE WHEN b = 0 THEN NULL
              |WHEN l >= b * 25
              |THEN CAST(round(CAST(l - b * 25 AS DOUBLE)
              |  / sqrt(CAST(b * 1200 AS DOUBLE)
              |         / CAST('144.0' AS DOUBLE))
              |  * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
              |ELSE -CAST(round(CAST(b * 25 - l AS DOUBLE)
              |  / sqrt(CAST(b * 1200 AS DOUBLE)
              |         / CAST('144.0' AS DOUBLE))
              |  * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
              |END AS z_e6""".stripMargin)
      },
      Some("""WITH yq AS (
             |  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
             |         CAST(quarter(o_orderdate) AS BIGINT) AS q,
             |         CAST(sum(CAST(floor(o_totalprice / 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS x
             |  FROM orders GROUP BY 1, 2),
             |full_ AS (SELECT y FROM yq GROUP BY y
             |          HAVING count(*) = 4),
             |yq4 AS (SELECT yq.* FROM yq JOIN full_ USING (y)),
             |ranked AS (SELECT a.y, a.q,
             |    1 + CAST(sum(CASE WHEN b.x < a.x
             |      OR (b.x = a.x AND b.q < a.q) THEN 1 ELSE 0 END)
             |      AS BIGINT) AS r
             |  FROM yq4 a JOIN yq4 b ON a.y = b.y
             |  GROUP BY 1, 2),
             |ag AS (SELECT CAST(count(DISTINCT y) AS BIGINT) AS b,
             |         CAST(sum(q * r) AS BIGINT) AS l FROM ranked)
             |SELECT b, l, b * 25 AS el,
             |       CASE WHEN b = 0 THEN NULL
             |       WHEN l >= b * 25
             |       THEN CAST(round(CAST(l - b * 25 AS DOUBLE)
             |         / sqrt(CAST(b * 1200 AS DOUBLE)
             |                / CAST('144.0' AS DOUBLE))
             |         * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
             |       ELSE -CAST(round(CAST(b * 25 - l AS DOUBLE)
             |         / sqrt(CAST(b * 1200 AS DOUBLE)
             |                / CAST('144.0' AS DOUBLE))
             |         * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
             |       END AS z_e6
             |FROM ag""".stripMargin))
  )
}
