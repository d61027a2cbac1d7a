package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Pareto, Quantiles, Sketches}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inequality, concentration, poverty and diversity indices over spend and
  * revenue distributions. */
object InequalityQueries extends QueryCatalog {

  import Fixtures._

  private val spendSql =
    """WITH sp AS (
      |  SELECT CAST(sum(CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey)""".stripMargin

  private def spend(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT)"))
        .as("x"))
      .select(col("x"))

  /** per-customer spend in cents + the z = mean/2 relative line. */
  private val spendLineSql =
    """WITH sp AS (
      |  SELECT CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS x
      |  FROM orders GROUP BY o_custkey),
      |line AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |           CAST((CAST(sum(x) AS BIGINT) // count(*)) // 2
      |             AS BIGINT) AS z FROM sp)""".stripMargin

  private def spendLine(s: org.apache.spark.sql.SparkSession, d: String) = {
    val sp = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .as("x"))
      .select(col("x"))
      .localCheckpoint(false)
    val line = sp.agg(count(lit(1)).as("n"),
      expr("(sum(x) div count(*)) div 2").as("z"))
    (sp, line)
  }

  def defs: Seq[QueryDef] = Seq(

    // ── Gini concentration of spend per event type — rank-weighted
    //    exact integer identity, tie-order invariant.
    QueryDef("q_gini",
      (s, d) => Quantiles.gini(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents"),
      Some("""WITH e AS (SELECT event_type AS g,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events
             |           WHERE floor(value * 100 + 0.5) >= 0),
             |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS i FROM e),
             |s AS (SELECT g, CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS sv,
             |             CAST(sum(CAST(i AS HUGEINT) * v) AS HUGEINT) AS siv
             |      FROM r GROUP BY g)
             |SELECT g, CAST(n AS BIGINT) AS n_rows,
             |       CASE WHEN sv = 0 THEN NULL
             |            ELSE CAST((2 * siv - (n + 1) * sv) * 1000000 // (n * sv) AS BIGINT)
             |       END AS gini_e6
             |FROM s""".stripMargin)),

    // ── Lorenz deciles of purchase cents per event type — the curve
    //    behind q_gini, exact e6 shares at ⌊n·d/10⌋ cuts.
    QueryDef("q_lorenz",
      (s, d) => Quantiles.lorenz(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents"),
      Some("""WITH e AS (SELECT event_type AS g,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
             |          FROM events),
             |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS i,
             |             count(*) OVER (PARTITION BY g) AS n,
             |             sum(v) OVER (PARTITION BY g) AS tot
             |      FROM e),
             |x AS (SELECT g, v, i, n, tot, d.decile
             |      FROM r CROSS JOIN (SELECT unnest(generate_series(1, 10))
             |                         AS decile) d
             |      WHERE i <= (n * d.decile) // 10)
             |SELECT g, CAST(decile AS BIGINT) AS decile,
             |       CAST(max((n * decile) // 10) AS BIGINT) AS k_rows,
             |       CAST(sum(v) * 1000000 // max(tot) AS BIGINT) AS share_e6
             |FROM x GROUP BY g, decile""".stripMargin)),

    // ── HHI of discounted-revenue concentration across suppliers
    //    within each nation: one supplier-keyed aggregate (supplier →
    //    nation dims broadcast), then the group rollup.
    QueryDef("q_hhi",
      (s, d) => Pareto.hhi(
        Tables.lineitem(s, d)
          .join(broadcast(Tables.supplier(s, d)
            .join(broadcast(Tables.nation(s, d)
              .select(col("n_nationkey"), col("n_name"))),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("n_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .withColumn("rev_cp",
            floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
              (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))),
        "n_name", "s_suppkey", "rev_cp"),
      Some(s"""WITH rev AS (SELECT n_name AS g, s_suppkey AS m,
              |               CAST(sum(${cents("l_extendedprice")}
              |                 * (100 - ${cents("l_discount")})) AS BIGINT) AS rev
              |             FROM lineitem
              |             JOIN supplier ON l_suppkey = s_suppkey
              |             JOIN nation ON s_nationkey = n_nationkey
              |             GROUP BY 1, 2),
              |tot AS (SELECT g, CAST(sum(rev) AS BIGINT) AS tot,
              |               CAST(count(*) AS BIGINT) AS n_members
              |        FROM rev GROUP BY 1)
              |SELECT g, n_members, tot AS total_cents,
              |       CAST(sum((rev * 10000 // tot) * (rev * 10000 // tot))
              |            AS BIGINT) AS hhi_e8
              |FROM rev JOIN tot USING (g) GROUP BY 1, 2, 3""".stripMargin)),

    // ── Kneedle knee of the brand revenue concentration curve.
    QueryDef("q_knee_detection",
      (s, d) => Pareto.kneedle(
        Tables.lineitem(s, d)
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("rev")),
        "p_brand", "rev"),
      Some("""WITH per AS (
             |  SELECT p_brand AS k,
             |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS v
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1),
             |c AS (SELECT k, v,
             |             CAST(row_number() OVER (ORDER BY v DESC, k)
             |               AS BIGINT) AS r,
             |             CAST(sum(v) OVER (ORDER BY v DESC, k
             |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             |             CAST(count(*) OVER () AS BIGINT) AS n,
             |             CAST(sum(v) OVER () AS BIGINT) AS tot
             |      FROM per),
             |g AS (SELECT k, r, n, r * 1000000 // n AS x_e6,
             |             cum * 1000000 // tot AS y_e6
             |      FROM c)
             |SELECT n AS n_points, r AS knee_rank, k AS knee_key,
             |       x_e6 AS knee_x_e6, y_e6 AS knee_y_e6,
             |       y_e6 - x_e6 AS knee_gap_e6
             |FROM g ORDER BY y_e6 - x_e6 DESC, r LIMIT 1""".stripMargin)),

    // ── Theil T with between/within decomposition over positive
    //    customer spend by nation; fixed-point log₂·ln2 throughout.
    QueryDef("q_theil_index",
      (s, d) => {
        val u = spenders(s, d)
          .select(col("c_nationkey").cast("long").as("nk"), col("y"))
          .where(col("y") > 0)
          .localCheckpoint(false) // member terms + margins
        val g = u.groupBy(col("nk"))
          .agg(count(lit(1)).as("ng"), sum(col("y")).as("sg"))
        val tot = g.agg(sum(col("ng")).as("n"), sum(col("sg")).as("s"))
        // within-group numerators: Σ y·(lg(y·n_g) − lg(S_g))
        val wg = u.join(broadcast(g), "nk")
          .withColumn("lgdiff",
            Bm25.log2E6(col("y")) + Bm25.log2E6(col("ng")) -
              Bm25.log2E6(col("sg")))
          .groupBy(col("nk"))
          .agg(sum(col("y").cast(dec) * col("lgdiff").cast(dec))
            .as("w_num"))
        g.join(wg, "nk").crossJoin(broadcast(tot))
          .withColumn("t_within_e6", expr(
            s"""CAST(CASE WHEN w_num >= 0
               |THEN w_num * 693147 div (CAST(sg AS $dec) * 1000000)
               |ELSE -((-w_num) * 693147 div (CAST(sg AS $dec) * 1000000))
               |END AS BIGINT)""".stripMargin))
          .withColumn("lgb",
            Bm25.log2E6(col("sg")) + Bm25.log2E6(col("n")) -
              Bm25.log2E6(col("s")) - Bm25.log2E6(col("ng")))
          .selectExpr("nk", "CAST(ng AS BIGINT) AS n_members",
            "sg AS spend_cents", "t_within_e6",
            // between term: (S_g/S)·ln((S_g/S)/(n_g/n)) in e6,
            // sign-factored (below-average groups go negative)
            s"""CAST(CASE WHEN lgb >= 0
               |THEN CAST(sg AS $dec) * CAST(lgb AS $dec) * 693147
               |     div (CAST(s AS $dec) * 1000000000000)
               |ELSE -(CAST(sg AS $dec) * CAST(-lgb AS $dec) * 693147
               |     div (CAST(s AS $dec) * 1000000000000))
               |END AS BIGINT) AS between_term_e6""".stripMargin)
      },
      Some {
        val lgdiff = s"CAST(${Bm25.log2E6Sql("y")} + " +
          s"${Bm25.log2E6Sql("ng")} - ${Bm25.log2E6Sql("sg")} AS BIGINT)"
        val lgb = s"CAST(${Bm25.log2E6Sql("sg")} + " +
          s"${Bm25.log2E6Sql("n")} - ${Bm25.log2E6Sql("s")} - " +
          s"${Bm25.log2E6Sql("ng")} AS BIGINT)"
        s"""WITH $spendYSql,
           |u AS (SELECT CAST(c_nationkey AS BIGINT) AS nk, y
           |      FROM customer JOIN spend ON c_custkey = o_custkey
           |      WHERE y > 0),
           |g AS (SELECT nk, CAST(count(*) AS BIGINT) AS ng,
           |             CAST(sum(y) AS BIGINT) AS sg
           |      FROM u GROUP BY 1),
           |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
           |               CAST(sum(sg) AS BIGINT) AS s FROM g),
           |wg AS (SELECT u.nk,
           |              sum(CAST(y AS HUGEINT) * $lgdiff) AS w_num
           |       FROM u JOIN g ON u.nk = g.nk GROUP BY 1)
           |SELECT g.nk, ng AS n_members, sg AS spend_cents,
           |       CAST(CASE WHEN w_num >= 0
           |            THEN w_num * 693147
           |                 // (CAST(sg AS HUGEINT) * 1000000)
           |            ELSE -((-w_num) * 693147
           |                 // (CAST(sg AS HUGEINT) * 1000000))
           |       END AS BIGINT) AS t_within_e6,
           |       CAST(CASE WHEN $lgb >= 0
           |            THEN CAST(sg AS HUGEINT) * ($lgb) * 693147
           |                 // (CAST(s AS HUGEINT) * 1000000000000)
           |            ELSE -(CAST(sg AS HUGEINT) * (-($lgb)) * 693147
           |                 // (CAST(s AS HUGEINT) * 1000000000000))
           |       END AS BIGINT) AS between_term_e6
           |FROM g JOIN wg ON g.nk = wg.nk CROSS JOIN tot""".stripMargin
      }),

    // ── Lorenz asymmetry S = F(μ) + L(μ) on order totalprice cents:
    //    F = fraction of orders below the mean, L = their revenue
    //    share. Exact integers throughout (below-mean test cross-
    //    multiplies v·n < T), S in e6 = F_e6 + L_e6. S ≷ 1 says the
    //    inequality q_gini measures comes from small-order mass vs
    //    giant-order tail.
    QueryDef("q_lorenz_asymmetry",
      (s, d) => {
        val v = orderCents(s, d)
        val tot = v.agg(count(lit(1)).as("n"), sum(col("v")).as("t"))
        v.crossJoin(broadcast(tot))
          .agg(max(col("n")).as("n"), max(col("t")).as("t"),
            sum(when(expr("v * n < t"), 1L).otherwise(0L)).as("n_below"),
            sum(when(expr("v * n < t"), col("v")).otherwise(0L))
              .as("mass_below"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "CAST(n_below AS BIGINT) AS n_below",
            "n_below * 1000000 div n AS f_e6",
            "mass_below * 1000000 div t AS l_e6",
            "n_below * 1000000 div n + mass_below * 1000000 div t AS s_e6")
      },
      Some("""WITH v AS (SELECT CAST(floor(o_totalprice * 100 + 0.5)
             |                    AS BIGINT) AS v
             |           FROM orders),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(v) AS BIGINT) AS t FROM v),
             |agg AS (SELECT max(n) AS n, max(t) AS t,
             |               CAST(sum(CASE WHEN v * n < t THEN 1 ELSE 0
             |                 END) AS BIGINT) AS n_below,
             |               CAST(sum(CASE WHEN v * n < t THEN v ELSE 0
             |                 END) AS BIGINT) AS mass_below
             |        FROM v CROSS JOIN tot)
             |SELECT n, n_below,
             |       n_below * 1000000 // n AS f_e6,
             |       mass_below * 1000000 // t AS l_e6,
             |       n_below * 1000000 // n + mass_below * 1000000 // t
             |         AS s_e6
             |FROM agg""".stripMargin)),

    /* Inequality & gap decomposition over customer spend
     * — mean log deviation (Theil L / Atkinson(1) in log form; the
     * bottom-sensitive companion to q_theil_index's Theil T), the Palma
     * ratio (top-10% vs bottom-40% spend share — the two-number
     * inequality summary policy work actually uses), and a two-fold
     * Oaxaca–Blinder decomposition of the AUTOMOBILE−BUILDING mean order
     * value gap (explained by order-frequency differences vs not). Logs
     * are fixed-point integer log₂ ([[graft.ops.Bm25.log2E6]]); OLS
     * moments are exact integers with one IEEE close. */

    // ── Mean log deviation per nation (top 10) + its exact building
    //    blocks: MLD = ln(mean y) − mean(ln y) over positive customer
    //    spend, via log₂ e6 ⇒ ·ln2. AM–GM makes the gap ≥ 0, so the
    //    truncating div needs no sign factor.
    QueryDef("q_mld",
      (s, d) => {
        val y = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("y"))
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .where(col("y") > 0)
          .select(col("c_nationkey").cast("long").as("nk"), col("y"),
            Bm25.log2E6(col("y")).as("ly"))
        y.groupBy(col("nk"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
            sum(col("ly")).as("sly"))
          // gap₂ = log2(Σy/n) − Σlog2(y)/n, all e6; ln-domain ·693147
          .withColumn("gap2_e6",
            Bm25.log2E6(expr("sy div n")) - expr("sly div n"))
          .withColumn("mld_e6", expr(
            s"CAST(CAST(greatest(gap2_e6, 0) AS $dec) * 693147 " +
              "div 1000000 AS BIGINT)"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("mld_e6").desc, col("nk"))))
          .filter(col("rk") <= 10)
          .selectExpr("nk AS nationkey", "CAST(n AS BIGINT) AS n",
            "mld_e6", "CAST(rk AS BIGINT) AS rk")
      },
      Some(s"""WITH y AS (
             |  SELECT c.c_nationkey AS nk,
             |         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS y
             |  FROM orders o JOIN customer c
             |    ON o.o_custkey = c.c_custkey
             |  GROUP BY o.o_custkey, c.c_nationkey
             |  HAVING sum(CAST(floor(o.o_totalprice * 100 + 0.5)
             |    AS BIGINT)) > 0),
             |g AS (SELECT nk, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(y) AS BIGINT) AS sy,
             |             CAST(sum(${Bm25.log2E6Sql("y")}) AS BIGINT)
             |               AS sly
             |      FROM y GROUP BY 1),
             |m AS (SELECT nk, n,
             |             ${Bm25.log2E6Sql("sy // n")} - sly // n
             |               AS gap2_e6
             |      FROM g)
             |SELECT nk AS nationkey, n,
             |       CAST(CAST(greatest(gap2_e6, 0) AS HUGEINT) * 693147
             |         // 1000000 AS BIGINT) AS mld_e6,
             |       rk
             |FROM (SELECT *, CAST(row_number() OVER (ORDER BY
             |        CAST(greatest(gap2_e6, 0) AS HUGEINT) * 693147
             |          // 1000000 DESC, nk) AS BIGINT) AS rk
             |      FROM m)
             |WHERE rk <= 10""".stripMargin)),

    // ── Palma ratio: customer spend ranked desc (post-aggregate axis);
    //    top-10% spend over bottom-40% spend, exact e6. Cutoff counts
    //    are integer divs of n, so both engines slice identically.
    QueryDef("q_palma_ratio",
      (s, d) => {
        val y = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("y"))
        val ranked = y
          .withColumn("rk", row_number().over(
            Window.orderBy(col("y").desc, col("o_custkey"))).cast("long"))
          .withColumn("n", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        ranked.agg(
            max(col("n")).as("n"),
            sum(when(col("rk") <= expr("n div 10"), col("y"))
              .otherwise(0L)).as("s_top10"),
            sum(when(col("rk") > expr("n - n * 4 div 10"), col("y"))
              .otherwise(0L)).as("s_bot40"),
            sum(col("y")).as("s_all"))
          .selectExpr("CAST(n AS BIGINT) AS n_customers",
            "CAST(s_top10 AS BIGINT) AS s_top10",
            "CAST(s_bot40 AS BIGINT) AS s_bot40",
            "s_top10 * 1000000 div s_bot40 AS palma_e6",
            "s_top10 * 1000000 div s_all AS top10_share_e6")
      },
      Some("""WITH y AS (SELECT o_custkey,
             |                 CAST(sum(CAST(floor(o_totalprice * 100
             |                   + 0.5) AS BIGINT)) AS BIGINT) AS y
             |           FROM orders GROUP BY 1),
             |r AS (SELECT y,
             |             CAST(row_number() OVER (ORDER BY y DESC,
             |               o_custkey) AS BIGINT) AS rk,
             |             CAST(count(*) OVER () AS BIGINT) AS n
             |      FROM y),
             |a AS (SELECT max(n) AS n,
             |             CAST(sum(CASE WHEN rk <= n // 10 THEN y
             |               ELSE 0 END) AS BIGINT) AS s_top10,
             |             CAST(sum(CASE WHEN rk > n - n * 4 // 10
             |               THEN y ELSE 0 END) AS BIGINT) AS s_bot40,
             |             CAST(sum(y) AS BIGINT) AS s_all
             |      FROM r)
             |SELECT n AS n_customers, s_top10, s_bot40,
             |       s_top10 * 1000000 // s_bot40 AS palma_e6,
             |       s_top10 * 1000000 // s_all AS top10_share_e6
             |FROM a""".stripMargin)),

    // ── Oaxaca–Blinder (two-fold, BUILDING coefficients as the
    //    reference): per customer y = mean order cents, x = order
    //    count; per segment OLS slope/intercept from exact integer
    //    moments; gap = ȳ_A − ȳ_B splits into explained
    //    b_B·(x̄_A − x̄_B) and unexplained rest. One customer rollup +
    //    two 1-row moment frames; IEEE only at the close.
    QueryDef("q_oaxaca_lite",
      (s, d) => {
        val per = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
          .groupBy(col("c_mktsegment").as("seg"), col("o_custkey"))
          .agg(count(lit(1)).as("x"),
            expr("sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))" +
              " div count(1)").as("yv"))
        val m = per.groupBy(col("seg"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("yv")).as("sy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * yv")).as("sxy"))
          .selectExpr("seg", "CAST(n AS DOUBLE) AS n",
            "CAST(sx AS DOUBLE) AS sx", "CAST(sy AS DOUBLE) AS sy",
            "CAST(sxx AS DOUBLE) AS sxx", "CAST(sxy AS DOUBLE) AS sxy")
        val a = m.filter(col("seg") === "AUTOMOBILE")
          .selectExpr("n AS na", "sx AS sxa", "sy AS sya",
            "sxx AS sxxa", "sxy AS sxya")
        val b = m.filter(col("seg") === "BUILDING")
          .selectExpr("n AS nb", "sx AS sxb", "sy AS syb",
            "sxx AS sxxb", "sxy AS sxyb")
        a.crossJoin(b)
          .selectExpr(
            "CAST(round(sya / na - syb / nb, 2) AS DOUBLE) AS gap_cents",
            """CAST(round(((nb * sxyb - sxb * syb)
              |  / (nb * sxxb - sxb * sxb))
              |  * (sxa / na - sxb / nb), 2) AS DOUBLE)
              |AS explained_cents""".stripMargin,
            """CAST(round((sya / na - syb / nb)
              |  - ((nb * sxyb - sxb * syb) / (nb * sxxb - sxb * sxb))
              |    * (sxa / na - sxb / nb), 2) AS DOUBLE)
              |AS unexplained_cents""".stripMargin)
      },
      Some("""WITH per AS (
             |  SELECT c.c_mktsegment AS seg, o.o_custkey,
             |         CAST(count(*) AS BIGINT) AS x,
             |         CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
             |             AS BIGINT)) AS BIGINT)
             |           // CAST(count(*) AS BIGINT) AS yv
             |  FROM orders o JOIN customer c
             |    ON o.o_custkey = c.c_custkey
             |  WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
             |  GROUP BY 1, 2),
             |m AS (SELECT seg, CAST(count(*) AS DOUBLE) AS n,
             |             CAST(sum(x) AS DOUBLE) AS sx,
             |             CAST(sum(yv) AS DOUBLE) AS sy,
             |             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE)
             |               AS sxx,
             |             CAST(sum(CAST(x AS HUGEINT) * yv) AS DOUBLE)
             |               AS sxy
             |      FROM per GROUP BY 1),
             |a AS (SELECT n AS na, sx AS sxa, sy AS sya, sxx AS sxxa,
             |             sxy AS sxya
             |      FROM m WHERE seg = 'AUTOMOBILE'),
             |b AS (SELECT n AS nb, sx AS sxb, sy AS syb, sxx AS sxxb,
             |             sxy AS sxyb
             |      FROM m WHERE seg = 'BUILDING')
             |SELECT round(sya / na - syb / nb, 2) AS gap_cents,
             |       round(((nb * sxyb - sxb * syb)
             |         / (nb * sxxb - sxb * sxb))
             |         * (sxa / na - sxb / nb), 2) AS explained_cents,
             |       round((sya / na - syb / nb)
             |         - ((nb * sxyb - sxb * syb)
             |            / (nb * sxxb - sxb * sxb))
             |           * (sxa / na - sxb / nb), 2) AS unexplained_cents
             |FROM a CROSS JOIN b""".stripMargin)),

    /* Atkinson index (`q_atkinson`): A(ε=1) = 1 − geomean/mean over
     * positive customer spend — the inequality measure with an explicit
     * social-welfare interpretation, closing the family next to
     * q_gini / q_theil_index / q_mld / q_palma_ratio. The geometric
     * mean runs entirely on the integer log₂/2^x ladders
     * ([[Bm25.log2E6]], [[Sketches.pow2E6Expr]]) — engine-portable by
     * construction, cross-row sums are integer sums. */
    // ── Atkinson A(1) = 1 − geomean/mean over positive customer spend.
    QueryDef("q_atkinson",
      (s, d) => {
        val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("y"))
          .where(col("y") > 0)
        val m = spend
          .withColumn("l", Bm25.log2E6(col("y")))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
            sum(col("l")).as("sl"))
          .selectExpr("n", "sy div n AS mean_cents", "sl div n AS mlog")
        m.withColumn("geo", Sketches.pow2E6Expr("mlog"))
          .selectExpr("n", "mean_cents", "geo AS geomean_cents",
            "1000000 - geo * 1000000 div mean_cents AS atkinson_e6")
      },
      Some {
        val l = Bm25.log2E6Sql("y")
        val geo = Sketches.pow2E6Sql("mlog")
        s"""WITH spend AS (
           |  SELECT o_custkey,
           |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
           |           AS BIGINT)) AS BIGINT) AS y
           |  FROM orders GROUP BY 1),
           |pos AS (SELECT y, $l AS l FROM spend WHERE y > 0),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |             CAST(sum(y) AS BIGINT) AS sy,
           |             CAST(sum(l) AS BIGINT) AS sl
           |      FROM pos),
           |r AS (SELECT n, sy // n AS mean_cents, sl // n AS mlog FROM m)
           |SELECT n, mean_cents, $geo AS geomean_cents,
           |       1000000 - $geo * 1000000 // mean_cents AS atkinson_e6
           |FROM r""".stripMargin
      }),

    /* Pietra index (`q_pietra`): max Lorenz-diagonal gap
     * Σ|x−μ|/(2Σx) over order values — the robust inequality reading
     * next to q_gini, exact as Σ|n·x−S| div (2·n·S). */
    // ── Pietra inequality index over order values: Σ|n·x−S| / (2·n·S).
    QueryDef("q_pietra",
      (s, d) => {
        val x = Tables.orders(s, d)
          .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("x"))
        val tot = x.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        x.crossJoin(broadcast(tot))
          .agg(max(col("n")).as("n"), max(col("sx")).as("sum_cents"),
            sum(expr(s"abs(CAST(n AS $dec) * x - sx)")).as("dev"))
          .selectExpr("n", "sum_cents",
            s"CAST(dev * 1000000 div (CAST(n AS $dec) * sum_cents * 2)" +
              " AS BIGINT) AS pietra_e6")
      },
      Some("""WITH x AS (
             |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
             |  FROM orders),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(x) AS BIGINT) AS sx FROM x),
             |agg AS (SELECT max(n) AS n, max(sx) AS sum_cents,
             |          sum(abs(CAST(n AS HUGEINT) * x - sx)) AS dev
             |        FROM x CROSS JOIN tot)
             |SELECT n, sum_cents,
             |       CAST(dev * 1000000
             |         // (CAST(n AS HUGEINT) * sum_cents * 2) AS BIGINT)
             |         AS pietra_e6
             |FROM agg""".stripMargin)),

    /* Simpson diversity (`q_simpson_diversity`): per-source word
     * concentration D = Σm(m−1)/(N(N−1)) and its inverse (effective
     * vocabulary size) — the ecology take on corpus diversity next to
     * q_yule_k (same spectrum, different functional), all integers. */
    // ── Simpson diversity of word use per source.
    QueryDef("q_simpson_diversity",
      (s, d) => sourceWordCounts(s, d)
        .groupBy(col("source"))
        .agg(sum(col("m")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(expr(s"CAST(m AS $dec) * (m - 1)")).as("rep"))
        .selectExpr("source", "n_tokens", "vocab",
          s"""CASE WHEN n_tokens < 2 THEN NULL
             |ELSE CAST(rep * 1000000000 div (CAST(n_tokens AS $dec)
             |  * (n_tokens - 1)) AS BIGINT)
             |END AS simpson_d_e9""".stripMargin,
          s"""CASE WHEN rep = 0 THEN NULL
             |ELSE CAST(CAST(n_tokens AS $dec) * (n_tokens - 1) * 1000
             |  div rep AS BIGINT)
             |END AS inv_simpson_e3""".stripMargin),
      Some(s"""WITH $sourceWordCountsSql,
             |agg AS (SELECT source, CAST(sum(m) AS BIGINT) AS n_tokens,
             |          CAST(count(*) AS BIGINT) AS vocab,
             |          sum(CAST(m AS HUGEINT) * (m - 1)) AS rep
             |        FROM wc GROUP BY 1)
             |SELECT source, n_tokens, vocab,
             |       CASE WHEN n_tokens < 2 THEN NULL
             |       ELSE CAST(rep * 1000000000
             |         // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
             |         AS BIGINT)
             |       END AS simpson_d_e9,
             |       CASE WHEN rep = 0 THEN NULL
             |       ELSE CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1)
             |         * 1000 // rep AS BIGINT)
             |       END AS inv_simpson_e3
             |FROM agg""".stripMargin)),

    /* Hoover index (`q_hoover_index`): the Robin-Hood share — what
     * fraction of total customer spend would have to move to equalize:
     * H = Σ⁺(x_i·n − X) div (n·X), one positive-part aggregate over
     * per-customer spend, exact integers with a decimal e6 close. */
    // ── Hoover (Robin Hood) index over per-customer spend.
    QueryDef("q_hoover_index",
      (s, d) => {
        val sp = spend(s, d).localCheckpoint(false) // totals + positive part
        val tot = sp.agg(count(lit(1)).as("n"), sum(col("x")).as("xt"))
        sp.crossJoin(broadcast(tot))
          .agg(max(col("n")).as("n"), max(col("xt")).as("xt"),
            sum(greatest(lit(0L), col("x") * col("n") - col("xt")))
              .as("pp"))
          .selectExpr("n",
            s"""CASE WHEN n * xt = 0 THEN NULL
               |ELSE CAST(CAST(pp AS $dec) * 1000000 div (n * xt)
               |  AS BIGINT) END AS hoover_e6""".stripMargin)
      },
      Some(spendSql +
        """,
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |          CAST(sum(x) AS BIGINT) AS xt FROM sp),
          |pp AS (SELECT max(n) AS n, max(xt) AS xt,
          |         CAST(sum(greatest(0, x * n - xt)) AS BIGINT) AS pp
          |       FROM sp CROSS JOIN tot)
          |SELECT n,
          |       CASE WHEN n * xt = 0 THEN NULL
          |       ELSE CAST(CAST(pp AS HUGEINT) * 1000000 // (n * xt)
          |         AS BIGINT) END AS hoover_e6
          |FROM pp""".stripMargin)),

    /* Mean log deviation (`q_mean_log_deviation`): GE(0) inequality
     * n·MLD = n·log μ − Σ log x over positive customer spends, in the
     * shared integer log₂ (·ln2 e6 close) — the decomposable
     * inequality measure q_theil_index (GE(1)) pairs with. */
    // ── Mean log deviation GE(0) over positive customer spends.
    QueryDef("q_mean_log_deviation",
      (s, d) => {
        val sp = spend(s, d).filter(col("x") >= 1L).localCheckpoint(false)
        val tot = sp.agg(count(lit(1)).as("n"), sum(col("x")).as("xt"),
          sum(Bm25.log2E6(col("x"))).as("slx"))
        tot
          .withColumn("mu", expr("greatest(1L, xt div n)"))
          .withColumn("num",
            col("n") * Bm25.log2E6(col("mu")) - col("slx"))
          .selectExpr("n",
            """CASE WHEN num >= 0
              |THEN (num div n) * 693147 div 1000000
              |ELSE -(((-num) div n) * 693147 div 1000000)
              |END AS mld_e6""".stripMargin)
      },
      Some {
        def L(v: String) = Bm25.log2E6Sql(v)
        spendSql +
          s""",
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |          CAST(sum(x) AS BIGINT) AS xt,
             |          CAST(sum(CAST(${L("x")} AS BIGINT)) AS BIGINT)
             |            AS slx
             |        FROM sp WHERE x >= 1),
             |k AS (SELECT n,
             |        n * CAST(${L("greatest(1, xt // n)")} AS BIGINT)
             |          - slx AS num
             |      FROM tot)
             |SELECT n,
             |       CASE WHEN num >= 0
             |       THEN (num // n) * 693147 // 1000000
             |       ELSE -(((-num) // n) * 693147 // 1000000)
             |       END AS mld_e6
             |FROM k""".stripMargin
      }),

    /* Power means (`q_power_mean`): harmonic ≤ geometric ≤ arithmetic ≤
     * quadratic over order values in one pass. HM via per-row scaled
     * integer reciprocals (1e12 div x, deterministic truncation), GM as
     * its exact integer log₂ (slx div n), QM via a decimal Σx² and one
     * per-element sqrt; the ladder inequality is re-checked in-query. */
    // ── Power-mean ladder HM ≤ GM ≤ AM ≤ QM over order value cents.
    QueryDef("q_power_mean",
      (s, d) => {
        val x = Tables.orders(s, d)
          .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("x"))
          .where(col("x") >= 1L)
        x.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(Bm25.log2E6(col("x"))).as("slx"),
            sum(expr("1000000000000 div x")).as("sr"),
            sum(expr(s"CAST(x AS $dec) * x")).as("s2"))
          .selectExpr("n",
            "sx div n AS am_cents",
            "slx div n AS gm_log2_e6",
            s"CAST(CAST(n AS $dec) * 1000000000000 div sr AS BIGINT)" +
              " AS hm_cents",
            "CAST(round(sqrt(CAST(s2 div n AS DOUBLE))) AS BIGINT)" +
              " AS qm_cents")
          .withColumn("am_log2_e6", Bm25.log2E6(col("am_cents")))
          .selectExpr("n", "am_cents", "gm_log2_e6", "am_log2_e6",
            "hm_cents", "qm_cents",
            "hm_cents <= am_cents AND am_cents <= qm_cents" +
              " AND gm_log2_e6 <= am_log2_e6 AS ladder_ok")
      },
      Some {
        def L(v: String) = s"CAST(${Bm25.log2E6Sql(v)} AS BIGINT)"
        s"""WITH x AS (
           |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
           |  FROM orders
           |  WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) >= 1),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |          CAST(sum(x) AS BIGINT) AS sx,
           |          CAST(sum(${L("x")}) AS BIGINT) AS slx,
           |          CAST(sum(1000000000000 // x) AS BIGINT) AS sr,
           |          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
           |        FROM x),
           |k AS (SELECT n, sx // n AS am_cents, slx // n AS gm_log2_e6,
           |        CAST(CAST(n AS HUGEINT) * 1000000000000 // sr
           |          AS BIGINT) AS hm_cents,
           |        CAST(round(sqrt(CAST(s2 // n AS DOUBLE))) AS BIGINT)
           |          AS qm_cents
           |      FROM agg)
           |SELECT n, am_cents, gm_log2_e6,
           |       ${L("am_cents")} AS am_log2_e6,
           |       hm_cents, qm_cents,
           |       hm_cents <= am_cents AND am_cents <= qm_cents
           |         AND gm_log2_e6 <= ${L("am_cents")} AS ladder_ok
           |FROM k""".stripMargin
      }),

    /* Isolation/interaction (`q_isolation_index`): Bell's exposure
     * indices of high-value orders across customer nations — xPx* =
     * Σ(h_i/H)(h_i/t_i) and xPy* = Σ(h_i/H)((t_i−h_i)/t_i). The
     * EXPOSURE half of the segregation toolkit (q_hellinger_tv's TV is
     * the evenness half). Per-nation terms are exact integer e6
     * divisions; the two must sum to 1e6 up to per-term truncation. */
    // ── Isolation + interaction of high-value orders across nations.
    QueryDef("q_isolation_index",
      (s, d) => {
        val nat = Tables.orders(s, d)
          .join(Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey"),
              col("c_nationkey").as("nk")), Seq("o_custkey"))
          .groupBy(col("nk"))
          .agg(count(lit(1)).as("t"),
            sum(when(col("o_totalprice") >= lit(150000.0), 1L)
              .otherwise(0L)).as("h"))
          .localCheckpoint(false) // 25 nations
        val tot = nat.agg(sum(col("h")).as("hh"))
        nat.crossJoin(broadcast(tot))
          .agg(count(lit(1)).as("n_nations"), max(col("hh")).as("hh"),
            sum(expr("h * h * 1000000 div (hh * t)")).as("isolation_e6"),
            sum(expr("h * (t - h) * 1000000 div (hh * t)"))
              .as("interaction_e6"))
      },
      Some("""WITH nat AS (
             |  SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS t,
             |         CAST(sum(CASE WHEN o_totalprice >= 150000.0
             |           THEN 1 ELSE 0 END) AS BIGINT) AS h
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1),
             |tot AS (SELECT CAST(sum(h) AS BIGINT) AS hh FROM nat)
             |SELECT CAST(count(*) AS BIGINT) AS n_nations,
             |       max(hh) AS hh,
             |       CAST(sum(h * h * 1000000 // (hh * t)) AS BIGINT)
             |         AS isolation_e6,
             |       CAST(sum(h * (t - h) * 1000000 // (hh * t))
             |         AS BIGINT) AS interaction_e6
             |FROM nat CROSS JOIN tot""".stripMargin)),

    /* Herfindahl–Hirschman (`q_herfindahl`): brand-level revenue
     * concentration — HHI = Σsᵢ², the normalized (HHI−1/n)/(1−1/n),
     * and the effective number of competitors 1/HHI. The market-level
     * companion to q_supply_concentration (per-part) and q_gini;
     * exact integer e6 through decimal squares. */
    // ── HHI of brand revenue concentration.
    QueryDef("q_herfindahl",
      (s, d) => {
        val brands = Tables.lineitem(s, d)
          .join(Tables.part(s, d).select(col("p_partkey").as("l_partkey"),
            col("p_brand").as("brand")), Seq("l_partkey"))
          .groupBy(col("brand"))
          .agg(sum(expr("CAST(floor(l_extendedprice * (1 - l_discount)" +
            " * 100 + 0.5) AS BIGINT)")).as("v"))
          .localCheckpoint(false) // ≤ 25 brands
        val tot = brands.agg(count(lit(1)).as("nb"), sum(col("v")).as("vt"))
        brands.crossJoin(broadcast(tot))
          .agg(max(col("nb")).as("nb"), max(col("vt")).as("vt"),
            sum(expr(s"CAST(v AS $dec) * v")).as("sv2"))
          .selectExpr("nb",
            s"""CAST(CAST(sv2 AS $dec) * 1000000
               |  div (CAST(vt AS $dec) * vt) AS BIGINT)
               |  AS hhi_e6""".stripMargin)
          .selectExpr("nb", "hhi_e6",
            """CASE WHEN nb < 2 THEN NULL
              |ELSE (hhi_e6 - 1000000 div nb) * 1000000
              |  div (1000000 - 1000000 div nb)
              |END AS hhi_norm_e6""".stripMargin,
            """CASE WHEN hhi_e6 = 0 THEN NULL
              |ELSE 1000000000000 div hhi_e6
              |END AS effective_n_e6""".stripMargin)
      },
      Some("""WITH brands AS (
             |  SELECT p_brand AS brand,
             |         CAST(sum(CAST(floor(l_extendedprice
             |           * (1 - l_discount) * 100 + 0.5) AS BIGINT))
             |           AS BIGINT) AS v
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS nb,
             |          CAST(sum(v) AS BIGINT) AS vt FROM brands),
             |ag AS (SELECT max(nb) AS nb, max(vt) AS vt,
             |         CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sv2
             |       FROM brands CROSS JOIN tot),
             |k AS (SELECT nb,
             |        CAST(CAST(sv2 AS HUGEINT) * 1000000
             |          // (CAST(vt AS HUGEINT) * vt) AS BIGINT) AS hhi_e6
             |      FROM ag)
             |SELECT nb, hhi_e6,
             |       CASE WHEN nb < 2 THEN NULL
             |       ELSE (hhi_e6 - 1000000 // nb) * 1000000
             |         // (1000000 - 1000000 // nb)
             |       END AS hhi_norm_e6,
             |       CASE WHEN hhi_e6 = 0 THEN NULL
             |       ELSE 1000000000000 // hhi_e6
             |       END AS effective_n_e6
             |FROM k""".stripMargin)),

    /* FGT family (`q_fgt_poverty`): Foster–Greer–Thorbecke FGT(0/1/2)
     * with the line z = half of mean spend (a relative line,
     * documented) — headcount, normalized gap, squared gap. Per-row
     * gaps are exact integer e3 ratios squared before the sum, one
     * grouped aggregate + broadcast line. */
    // ── FGT(0/1/2) against the half-mean line.
    QueryDef("q_fgt_poverty",
      (s, d) => {
        val (sp, line) = spendLine(s, d)
        sp.crossJoin(broadcast(line))
          .withColumn("gap_e3",
            when(col("x") < col("z"),
              expr("(z - x) * 1000 div z")).otherwise(0L))
          .agg(max(col("n")).as("n"), max(col("z")).as("z_cents"),
            sum(when(col("x") < col("z"), 1L).otherwise(0L)).as("poor"),
            sum(col("gap_e3")).as("sg"),
            sum(col("gap_e3") * col("gap_e3")).as("sg2"))
          .selectExpr("n", "z_cents", "poor",
            "poor * 1000000 div n AS fgt0_e6",
            "sg * 1000 div n AS fgt1_e6",
            "sg2 div n AS fgt2_e6")
      },
      Some(spendLineSql +
        """,
          |g AS (SELECT n, z,
          |        CASE WHEN x < z THEN (z - x) * 1000 // z ELSE 0 END
          |          AS gap_e3,
          |        CASE WHEN x < z THEN 1 ELSE 0 END AS p
          |      FROM sp CROSS JOIN line)
          |SELECT max(n) AS n, max(z) AS z_cents,
          |       CAST(sum(p) AS BIGINT) AS poor,
          |       CAST(sum(p) AS BIGINT) * 1000000 // max(n) AS fgt0_e6,
          |       CAST(sum(gap_e3) AS BIGINT) * 1000 // max(n) AS fgt1_e6,
          |       CAST(sum(gap_e3 * gap_e3) AS BIGINT) // max(n)
          |         AS fgt2_e6
          |FROM g""".stripMargin)),

    /* Watts index (`q_watts_index`): W = (1/n)Σ_poor ln(z/xᵢ) — the
     * distribution-sensitive poverty measure FGT(α→…) cannot express;
     * per-row integer log₂ differences, ln2 e6 close. */
    // ── Watts index over the same half-mean line.
    QueryDef("q_watts_index",
      (s, d) => {
        val (sp, line) = spendLine(s, d)
        sp.crossJoin(broadcast(line))
          .where(col("x") < col("z") && col("x") >= 1L)
          .withColumn("lg", Bm25.log2E6(col("z")) - Bm25.log2E6(col("x")))
          .agg(max(col("n")).as("n"), count(lit(1)).as("poor"),
            sum(col("lg")).as("slg"))
          .selectExpr("n", "poor",
            """CASE WHEN n = 0 THEN NULL
              |ELSE (slg div n) * 693147 div 1000000
              |END AS watts_e6""".stripMargin)
      },
      Some {
        def L(v: String) = s"CAST(${Bm25.log2E6Sql(v)} AS BIGINT)"
        spendLineSql +
          s""",
             |g AS (SELECT n, ${L("z")} - ${L("x")} AS lg
             |      FROM sp CROSS JOIN line WHERE x < z AND x >= 1)
             |SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS poor,
             |       CASE WHEN max(n) = 0 THEN NULL
             |       ELSE (CAST(sum(lg) AS BIGINT) // max(n)) * 693147
             |         // 1000000
             |       END AS watts_e6
             |FROM g""".stripMargin
      }),

    /* Wolfson polarization (`q_wolfson_polarization`): W = (μ/m)(1 −
     * 2·L(½) − G) from ONE distributed rank of customer spend
     * (`Ranks.globalRowNumber` — range partitions + offsets, never a
     * single-partition window): lower median by rank lookup,
     * bottom-half share, and the exact rank-form Gini
     * Σ(2r−n−1)x/(nΣx). The bipolarization companion to q_gini /
     * q_lorenz_asym. */
    // ── Wolfson bipolarization from one distributed rank.
    QueryDef("q_wolfson_polarization",
      (s, d) => {
        val sp = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .as("x"))
        val ranked = graft.ops.Ranks.globalRowNumber(sp,
          Seq(col("x").asc, col("o_custkey").asc), "r")
        val tot = sp.agg(count(lit(1)).as("n"), sum(col("x")).as("xt"))
        val stats = ranked.crossJoin(broadcast(tot))
          .agg(max(col("n")).as("n"), max(col("xt")).as("xt"),
            max(when(col("r") === expr("(n + 1) div 2"), col("x")))
              .as("med"),
            sum(when(col("r") <= expr("n div 2"), col("x"))
              .otherwise(0L)).as("bottom"),
            sum(expr(s"CAST(2 * r - n - 1 AS $dec) * x")).as("gnum"))
        stats.selectExpr("n", "med", "xt div n AS mean_cents",
            s"CAST(CAST(gnum AS $dec) * 1000000 div (CAST(n AS $dec)" +
              " * xt) AS BIGINT) AS gini_e6",
            "bottom * 1000000 div xt AS bottom_share_e6")
          .selectExpr("n", "med", "mean_cents", "gini_e6",
            "bottom_share_e6",
            s"""CASE WHEN med = 0 THEN NULL
               |ELSE CAST(CAST(mean_cents AS $dec)
               |  * (1000000 - 2 * bottom_share_e6 - gini_e6)
               |  div med AS BIGINT)
               |END AS wolfson_e6""".stripMargin)
      },
      Some("""WITH sp AS (
             |  SELECT o_custkey,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS x
             |  FROM orders GROUP BY 1),
             |rk AS (SELECT x, row_number()
             |         OVER (ORDER BY x ASC, o_custkey ASC) AS r
             |       FROM sp),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |          CAST(sum(x) AS BIGINT) AS xt FROM sp),
             |st AS (SELECT
             |         max(CASE WHEN r = (n + 1) // 2 THEN x END) AS med,
             |         CAST(sum(CASE WHEN r <= n // 2 THEN x ELSE 0 END)
             |           AS BIGINT) AS bottom,
             |         CAST(sum(CAST(2 * r - n - 1 AS HUGEINT) * x)
             |           AS HUGEINT) AS gnum,
             |         max(n) AS n, max(xt) AS xt
             |       FROM rk CROSS JOIN tot),
             |k AS (SELECT n, med, xt // n AS mean_cents,
             |        CAST(CAST(gnum AS HUGEINT) * 1000000
             |          // (CAST(n AS HUGEINT) * xt) AS BIGINT)
             |          AS gini_e6,
             |        bottom * 1000000 // xt AS bottom_share_e6
             |      FROM st)
             |SELECT n, med, mean_cents, gini_e6, bottom_share_e6,
             |       CASE WHEN med = 0 THEN NULL
             |       ELSE CAST(CAST(mean_cents AS HUGEINT)
             |         * (1000000 - 2 * bottom_share_e6 - gini_e6)
             |         // med AS BIGINT)
             |       END AS wolfson_e6
             |FROM k""".stripMargin))
  )
}
