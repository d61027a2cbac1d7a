package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Experiment}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Causal inference: diff-in-diff, event study, IV, regression
  * discontinuity, panel and synthetic control, weighting and matching
  * estimators, and uplift. */
object CausalQueries extends QueryCatalog {

  import Fixtures._

  /** Shared SQL: nation × month revenue (cents) over the fixed
    * 1996-01..1997-12 grid, zero-filled. m = 0..23 (months since
    * 1996-01); pre = 0..11, post = 12..23. */
  private val nationMonthSql: String =
    """grid AS (
      |  SELECT n_nationkey AS nk, gs.m
      |  FROM nation CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS m) gs),
      |rev AS (
      |  SELECT s.s_nationkey AS nk,
      |         (year(l.l_shipdate) - 1996) * 12 + month(l.l_shipdate) - 1 AS m,
      |         CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS c
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE year(l.l_shipdate) IN (1996, 1997)
      |  GROUP BY 1, 2),
      |nm AS (
      |  SELECT g.nk, g.m, COALESCE(r.c, 0) AS c
      |  FROM grid g LEFT JOIN rev r ON r.nk = g.nk AND r.m = g.m)"""
      .stripMargin

  /** Spark twin of [[nationMonthSql]]: nation×month grid, zero-filled. */
  private def nationMonth(s: org.apache.spark.sql.SparkSession,
                          d: String): org.apache.spark.sql.DataFrame = {
    val grid = Tables.nation(s, d).select(col("n_nationkey").as("nk"))
      .crossJoin(s.range(0, 24).select(col("id").as("m")))
    val rev = Tables.lineitem(s, d)
      .filter(expr("year(l_shipdate) IN (1996, 1997)"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").as("nk"),
        expr("(year(l_shipdate) - 1996) * 12 + month(l_shipdate) - 1")
          .as("m"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy(col("nk"), col("m")).agg(sum(col("c")).as("c"))
    grid.join(rev, Seq("nk", "m"), "left")
      .select(col("nk"), col("m"), coalesce(col("c"), lit(0L)).as("c"))
  }

  /** Treated-minus-control mean difference over the moments (nt, st,
    * nc, sc) of a treatment split, as SQL text valid in both engines. */
  private val eff =
    """(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
      |- CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))""".stripMargin

  /** Squared standard error of [[eff]] over the moments (n, s, q) of
    * both arms. */
  private val se2 =
    """(CAST(nt * qt - st * st AS DOUBLE)
      |/ (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
      |   * CAST(nt AS DOUBLE))
      |+ CAST(nc * qc - sc * sc AS DOUBLE)
      |/ (CAST(nc AS DOUBLE) * CAST(nc AS DOUBLE)
      |   * CAST(nc AS DOUBLE)))""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Difference-in-differences over the events stream: treatment =
    //    odd user ids, post-period = second half of the observed clock
    //    (cutoff derived from the data, so it is SF-stable). All-integer
    //    e4 means make the estimate replay exactly.
    QueryDef("q_diff_in_diff",
      (s, d) => {
        val raw = Tables.events(s, d).select(
          (col("user_id") % 2).cast("int").as("treat"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
          centsCol("value").as("cents"))
        val bounds = raw.agg(
          expr("(min(us) + max(us)) div 2").as("cutoff"))
        val cells = raw.crossJoin(broadcast(bounds))
          .withColumn("post", when(col("us") >= col("cutoff"), 1).otherwise(0))
        Experiment.diffInDiff(cells, "treat", "post", "cents")
      },
      Some(s"""WITH raw AS (SELECT user_id % 2 AS treat,
              |                    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
              |                    ${cents("value")} AS cents FROM events),
              |b AS (SELECT (min(us) + max(us)) // 2 AS cutoff FROM raw),
              |p AS (SELECT treat, CASE WHEN us >= cutoff THEN 1 ELSE 0 END AS post,
              |             cents FROM raw CROSS JOIN b),
              |agg AS (SELECT
              |  CAST(count(*) FILTER (WHERE treat = 0 AND post = 0) AS BIGINT) AS n_c_pre,
              |  CAST(count(*) FILTER (WHERE treat = 0 AND post = 1) AS BIGINT) AS n_c_post,
              |  CAST(count(*) FILTER (WHERE treat = 1 AND post = 0) AS BIGINT) AS n_t_pre,
              |  CAST(count(*) FILTER (WHERE treat = 1 AND post = 1) AS BIGINT) AS n_t_post,
              |  CAST(coalesce(sum(cents) FILTER (WHERE treat = 0 AND post = 0), 0) AS BIGINT) AS s_c_pre,
              |  CAST(coalesce(sum(cents) FILTER (WHERE treat = 0 AND post = 1), 0) AS BIGINT) AS s_c_post,
              |  CAST(coalesce(sum(cents) FILTER (WHERE treat = 1 AND post = 0), 0) AS BIGINT) AS s_t_pre,
              |  CAST(coalesce(sum(cents) FILTER (WHERE treat = 1 AND post = 1), 0) AS BIGINT) AS s_t_post
              |  FROM p),
              |m AS (SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
              |             CAST(s_c_pre * 10000 // n_c_pre AS BIGINT) AS mean_c_pre_e4,
              |             CAST(s_c_post * 10000 // n_c_post AS BIGINT) AS mean_c_post_e4,
              |             CAST(s_t_pre * 10000 // n_t_pre AS BIGINT) AS mean_t_pre_e4,
              |             CAST(s_t_post * 10000 // n_t_post AS BIGINT) AS mean_t_post_e4
              |      FROM agg)
              |SELECT *, (mean_t_post_e4 - mean_t_pre_e4)
              |        - (mean_c_post_e4 - mean_c_pre_e4) AS did_e4 FROM m""".stripMargin)),

    // ── Stratified ATE: treatment = custkey % 3 = 0, outcome = total
    //    order spend (cents), strata = fixed-width balance bands.
    QueryDef("q_stratified_ate",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("spend"))
        val units = Tables.customer(s, d)
          .join(spend, col("c_custkey") === col("o_custkey"), "left")
          .select(
            least(lit(4L), greatest(lit(0L),
              expr("(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)" +
                " div 220000"))).as("stratum"),
            (col("c_custkey") % 3 === 0).as("t"),
            coalesce(col("spend"), lit(0L)).as("y"))
        Experiment.stratifiedAte(units, "stratum", "t", "y")
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS spend
             |  FROM orders GROUP BY 1),
             |units AS (
             |  SELECT least(4, greatest(0,
             |           (CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
             |            + 100000) // 220000)) AS stratum,
             |         c_custkey % 3 = 0 AS t,
             |         coalesce(spend, 0) AS y
             |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
             |cells AS (
             |  SELECT stratum,
             |         CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             |         CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_c,
             |         CAST(sum(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS s_t,
             |         CAST(sum(CASE WHEN t THEN 0 ELSE y END) AS BIGINT) AS s_c
             |  FROM units GROUP BY 1),
             |kept AS (SELECT stratum, n_t + n_c AS n_s, n_t, n_c,
             |                s_t // n_t AS mean_t_cents,
             |                s_c // n_c AS mean_c_cents,
             |                s_t // n_t - s_c // n_c AS diff_cents
             |         FROM cells WHERE n_t > 0 AND n_c > 0),
             |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n,
             |               CAST(sum(n_s * diff_cents) AS BIGINT) AS num
             |        FROM kept)
             |SELECT stratum, n_s, n_t, n_c, mean_t_cents, mean_c_cents,
             |       diff_cents, n_s * 1000000 // n AS w_e6,
             |       (num + n * 10000000) // n - 10000000 AS ate_cents
             |FROM kept CROSS JOIN tot""".stripMargin)),

    // ── Event study: treated = even nations at 1995-01; per relative
    //    month −6..+6 the treated/control mean monthly order value.
    QueryDef("q_event_study",
      (s, d) => {
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), (col("c_nationkey") % 2 === 0).as("tr"))
        Tables.orders(s, d)
          .join(cust, col("o_custkey") === col("c_custkey"))
          .select(
            (expr("year(o_orderdate) * 12 + month(o_orderdate)")
              - lit(1995 * 12 + 1)).as("rel"),
            col("tr"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
          .where(col("rel").between(-6L, 6L))
          .groupBy(col("rel"))
          .agg(sum(when(col("tr"), 1L).otherwise(0L)).as("n_t"),
            sum(when(!col("tr"), 1L).otherwise(0L)).as("n_c"),
            sum(when(col("tr"), col("cents")).otherwise(0L)).as("s_t"),
            sum(when(!col("tr"), col("cents")).otherwise(0L)).as("s_c"))
          .selectExpr("rel", "n_t", "n_c",
            "s_t div n_t AS mean_t_cents", "s_c div n_c AS mean_c_cents",
            "s_t div n_t - s_c div n_c AS diff_cents")
      },
      Some("""WITH o AS (
             |  SELECT year(o_orderdate) * 12 + month(o_orderdate)
             |           - (1995 * 12 + 1) AS rel,
             |         c_nationkey % 2 = 0 AS tr,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |g AS (SELECT rel,
             |             CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END)
             |               AS BIGINT) AS n_t,
             |             CAST(sum(CASE WHEN tr THEN 0 ELSE 1 END)
             |               AS BIGINT) AS n_c,
             |             CAST(sum(CASE WHEN tr THEN cents ELSE 0 END)
             |               AS BIGINT) AS s_t,
             |             CAST(sum(CASE WHEN tr THEN 0 ELSE cents END)
             |               AS BIGINT) AS s_c
             |      FROM o WHERE rel BETWEEN -6 AND 6 GROUP BY 1)
             |SELECT rel, n_t, n_c, s_t // n_t AS mean_t_cents,
             |       s_c // n_c AS mean_c_cents,
             |       s_t // n_t - s_c // n_c AS diff_cents
             |FROM g""".stripMargin)),

    // ── Wald IV: z = every 5th customer; treatment x = z OR rich;
    //    β = (Σy₁n₀ − Σy₀n₁)/(Σx₁n₀ − Σx₀n₁) — the n₁n₀ cancels.
    QueryDef("q_iv_wald",
      (s, d) => {
        val u = customerSpend(s, d)
          .select((col("c_custkey") % 5 === 0).as("z"),
            (col("c_custkey") % 5 === 0 ||
              floor(col("c_acctbal") * 100 + 0.5) > 500000).as("x"),
            coalesce(col("spend"), lit(0L)).as("y"))
        u.agg(
            sum(when(col("z"), 1L).otherwise(0L)).cast(dec).as("n1"),
            sum(when(!col("z"), 1L).otherwise(0L)).cast(dec).as("n0"),
            sum(when(col("z"), col("y")).otherwise(0L)).cast(dec).as("sy1"),
            sum(when(!col("z"), col("y")).otherwise(0L)).cast(dec).as("sy0"),
            sum(when(col("z") && col("x"), 1L).otherwise(0L)).cast(dec)
              .as("sx1"),
            sum(when(!col("z") && col("x"), 1L).otherwise(0L)).cast(dec)
              .as("sx0"))
          .selectExpr("CAST(n1 AS BIGINT) AS n1", "CAST(n0 AS BIGINT) AS n0",
            """round(CAST(sy1 * n0 - sy0 * n1 AS DOUBLE)
              |/ (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
              |AS itt_cents""".stripMargin,
            """round(CAST(sx1 * n0 - sx0 * n1 AS DOUBLE)
              |/ (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
              |AS first_stage""".stripMargin,
            """CASE WHEN sx1 * n0 - sx0 * n1 = 0 THEN NULL
              |     ELSE round(CAST(sy1 * n0 - sy0 * n1 AS DOUBLE)
              |          / CAST(sx1 * n0 - sx0 * n1 AS DOUBLE), 6)
              |END AS beta_wald""".stripMargin)
      },
      Some(s"""WITH $customerSpendSql,
             |u AS (SELECT c_custkey % 5 = 0 AS z,
             |             c_custkey % 5 = 0
             |               OR floor(c_acctbal * 100 + 0.5) > 500000 AS x,
             |             coalesce(spend, 0) AS y
             |      FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
             |m AS (SELECT
             |        CAST(sum(CASE WHEN z THEN 1 ELSE 0 END) AS HUGEINT)
             |          AS n1,
             |        CAST(sum(CASE WHEN z THEN 0 ELSE 1 END) AS HUGEINT)
             |          AS n0,
             |        CAST(sum(CASE WHEN z THEN y ELSE 0 END) AS HUGEINT)
             |          AS sy1,
             |        CAST(sum(CASE WHEN z THEN 0 ELSE y END) AS HUGEINT)
             |          AS sy0,
             |        CAST(sum(CASE WHEN z AND x THEN 1 ELSE 0 END)
             |          AS HUGEINT) AS sx1,
             |        CAST(sum(CASE WHEN NOT z AND x THEN 1 ELSE 0 END)
             |          AS HUGEINT) AS sx0
             |      FROM u)
             |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
             |       round(CAST(sy1 * n0 - sy0 * n1 AS DOUBLE)
             |         / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
             |         AS itt_cents,
             |       round(CAST(sx1 * n0 - sx0 * n1 AS DOUBLE)
             |         / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
             |         AS first_stage,
             |       CASE WHEN sx1 * n0 - sx0 * n1 = 0 THEN NULL
             |            ELSE round(CAST(sy1 * n0 - sy0 * n1 AS DOUBLE)
             |                 / CAST(sx1 * n0 - sx0 * n1 AS DOUBLE), 6)
             |       END AS beta_wald
             |FROM m""".stripMargin)),

    // ── RD at balance 0, bandwidth ±2000$: naive mean gap and the
    //    local-linear intercept gap (exact moments, double close).
    QueryDef("q_reg_discontinuity",
      (s, d) => {
        val u = customerSpend(s, d)
          .select(floor(col("c_acctbal") * 100 + 0.5).cast("long").as("r"),
            coalesce(col("spend"), lit(0L)).as("y"))
          .where(col("r") >= -200000L && col("r") < 200000L)
          .withColumn("side", when(col("r") >= 0, 1L).otherwise(0L))
        val m = u.groupBy(col("side"))
          .agg(count(lit(1)).cast(dec).as("n"),
            sum(col("r").cast(dec)).as("sx"),
            sum(col("y").cast(dec)).as("sy"),
            sum(col("r").cast(dec) * col("r").cast(dec)).as("sxx"),
            sum(col("r").cast(dec) * col("y").cast(dec)).as("sxy"))
          .withColumn("mean_y", expr(
            "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"))
          .withColumn("icpt", expr(
            """CASE WHEN n * sxx - sx * sx = 0 THEN NULL
              |     ELSE (CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
              |           - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
              |          / CAST(n * sxx - sx * sx AS DOUBLE)
              |END""".stripMargin))
        val l = m.where(col("side") === 0).selectExpr("CAST(n AS BIGINT) AS n_l",
          "mean_y AS my_l", "icpt AS ic_l")
        val r = m.where(col("side") === 1).selectExpr("CAST(n AS BIGINT) AS n_r",
          "mean_y AS my_r", "icpt AS ic_r")
        l.crossJoin(r).selectExpr("n_l", "n_r",
          "round(my_r - my_l, 6) AS naive_diff",
          "round(ic_r - ic_l, 6) AS rd_effect")
      },
      Some(s"""WITH $customerSpendSql,
             |u AS (SELECT CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS r,
             |             coalesce(spend, 0) AS y,
             |             CASE WHEN floor(c_acctbal * 100 + 0.5) >= 0
             |                  THEN 1 ELSE 0 END AS side
             |      FROM customer LEFT JOIN spend ON c_custkey = o_custkey
             |      WHERE floor(c_acctbal * 100 + 0.5) >= -200000
             |        AND floor(c_acctbal * 100 + 0.5) < 200000),
             |m AS (SELECT side, CAST(count(*) AS HUGEINT) AS n,
             |             CAST(sum(r) AS HUGEINT) AS sx,
             |             CAST(sum(y) AS HUGEINT) AS sy,
             |             sum(CAST(r AS HUGEINT) * CAST(r AS HUGEINT))
             |               AS sxx,
             |             sum(CAST(r AS HUGEINT) * CAST(y AS HUGEINT))
             |               AS sxy
             |      FROM u GROUP BY 1),
             |e AS (SELECT side, n,
             |             CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y,
             |             CASE WHEN n * sxx - sx * sx = 0 THEN NULL
             |                  ELSE (CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
             |                        - CAST(sx AS DOUBLE)
             |                          * CAST(sxy AS DOUBLE))
             |                       / CAST(n * sxx - sx * sx AS DOUBLE)
             |             END AS icpt
             |      FROM m)
             |SELECT l.n_l, r.n_r, round(r.my_r - l.my_l, 6) AS naive_diff,
             |       round(r.ic_r - l.ic_l, 6) AS rd_effect
             |FROM (SELECT CAST(n AS BIGINT) AS n_l, mean_y AS my_l,
             |             icpt AS ic_l FROM e WHERE side = 0) l
             |CROSS JOIN (SELECT CAST(n AS BIGINT) AS n_r, mean_y AS my_r,
             |             icpt AS ic_r FROM e WHERE side = 1) r"""
        .stripMargin)),

    // ── SMR: expected conversions per nation from global segment
    //    rates; SMR = observed·1e6/expected (expected in e6 units).
    QueryDef("q_smr",
      (s, d) => {
        val conv = Tables.orders(s, d).select(col("o_custkey")).distinct()
        val u = Tables.customer(s, d)
          .join(conv, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_nationkey").cast("long").as("nk"),
            col("c_mktsegment").as("seg"),
            when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("cv"))
          .localCheckpoint(false) // rates + cells off one frame
        val rates = u.groupBy(col("seg"))
          .agg(expr("sum(cv) * 1000000 div count(1)").as("rate_e6"))
        val cells = u.groupBy(col("nk"), col("seg"))
          .agg(count(lit(1)).as("n_cell"), sum(col("cv")).as("o_cell"))
        cells.join(broadcast(rates), "seg")
          .groupBy(col("nk"))
          .agg(sum(col("n_cell")).as("n"), sum(col("o_cell")).as("observed"),
            sum(expr("n_cell * rate_e6")).as("expected_e6"))
          .selectExpr("nk", "n", "observed", "expected_e6",
            "observed * 1000000000000 div expected_e6 AS smr_e6")
      },
      Some("""WITH conv AS (SELECT DISTINCT o_custkey FROM orders),
             |u AS (SELECT CAST(c_nationkey AS BIGINT) AS nk,
             |             c_mktsegment AS seg,
             |             CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END
             |               AS cv
             |      FROM customer LEFT JOIN conv ON c_custkey = o_custkey),
             |rates AS (SELECT seg,
             |                 CAST(sum(cv) AS BIGINT) * 1000000 // count(*)
             |                   AS rate_e6
             |          FROM u GROUP BY 1),
             |cells AS (SELECT nk, seg, CAST(count(*) AS BIGINT) AS n_cell,
             |                 CAST(sum(cv) AS BIGINT) AS o_cell
             |          FROM u GROUP BY 1, 2)
             |SELECT nk, CAST(sum(n_cell) AS BIGINT) AS n,
             |       CAST(sum(o_cell) AS BIGINT) AS observed,
             |       CAST(sum(n_cell * rate_e6) AS BIGINT) AS expected_e6,
             |       CAST(sum(o_cell) AS BIGINT) * 1000000000000
             |         // CAST(sum(n_cell * rate_e6) AS BIGINT) AS smr_e6
             |FROM cells JOIN rates ON cells.seg = rates.seg
             |GROUP BY 1""".stripMargin)),

    // ── Mediation: z = even custkey, mediator x = order count,
    //    outcome y = spend. a = Δx̄; b = pooled-within-z slope y~x;
    //    indirect = a·b, direct = total − indirect.
    QueryDef("q_mediation",
      (s, d) => {
        val ords = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("x"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
              .as("y"))
        val u = Tables.customer(s, d)
          .join(ords, col("c_custkey") === col("o_custkey"), "left")
          .select((col("c_custkey") % 2 === 0).as("z"),
            coalesce(col("x"), lit(0L)).cast(dec).as("x"),
            coalesce(col("y"), lit(0L)).cast(dec).as("y"))
        u.groupBy(col("z"))
          .agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
            sum(col("x") * col("y")).as("sxy"))
          .agg(
            sum(when(col("z"), col("n")).otherwise(lit(0).cast(dec)))
              .as("n1"),
            sum(when(!col("z"), col("n")).otherwise(lit(0).cast(dec)))
              .as("n0"),
            sum(when(col("z"), col("sx")).otherwise(lit(0).cast(dec)))
              .as("sx1"),
            sum(when(!col("z"), col("sx")).otherwise(lit(0).cast(dec)))
              .as("sx0"),
            sum(when(col("z"), col("sy")).otherwise(lit(0).cast(dec)))
              .as("sy1"),
            sum(when(!col("z"), col("sy")).otherwise(lit(0).cast(dec)))
              .as("sy0"),
            // pooled within-z moments: Σ_g (n_g·Sxy_g − Sx_g·Sy_g)/n_g …
            // kept exact by scaling each group term by the OTHER group's n
            sum(expr("n * sxy - sx * sy")).as("cov_num_raw"),
            sum(expr("n * sxx - sx * sx")).as("var_num_raw"))
          .selectExpr(
            "CAST(n1 AS BIGINT) AS n1", "CAST(n0 AS BIGINT) AS n0",
            """round(CAST(sx1 * n0 - sx0 * n1 AS DOUBLE)
              |/ (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
              |AS a_path""".stripMargin,
            """CASE WHEN var_num_raw = 0 THEN NULL
              |     ELSE round(CAST(cov_num_raw AS DOUBLE)
              |          / CAST(var_num_raw AS DOUBLE), 6)
              |END AS b_path""".stripMargin,
            """round(CAST(sy1 * n0 - sy0 * n1 AS DOUBLE)
              |/ (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
              |AS total_effect""".stripMargin)
          .selectExpr("n1", "n0", "a_path", "b_path", "total_effect",
            "round(a_path * b_path, 6) AS indirect",
            "round(total_effect - a_path * b_path, 6) AS direct")
      },
      Some("""WITH ords AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS x,
             |                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |                  AS BIGINT)) AS BIGINT) AS y
             |              FROM orders GROUP BY 1),
             |u AS (SELECT c_custkey % 2 = 0 AS z,
             |             CAST(coalesce(x, 0) AS HUGEINT) AS x,
             |             CAST(coalesce(y, 0) AS HUGEINT) AS y
             |      FROM customer LEFT JOIN ords ON c_custkey = o_custkey),
             |g AS (SELECT z, CAST(count(*) AS HUGEINT) AS n,
             |             sum(x) AS sx, sum(y) AS sy,
             |             sum(x * x) AS sxx, sum(x * y) AS sxy
             |      FROM u GROUP BY 1),
             |m AS (SELECT
             |        sum(CASE WHEN z THEN n ELSE 0 END) AS n1,
             |        sum(CASE WHEN z THEN 0 ELSE n END) AS n0,
             |        sum(CASE WHEN z THEN sx ELSE 0 END) AS sx1,
             |        sum(CASE WHEN z THEN 0 ELSE sx END) AS sx0,
             |        sum(CASE WHEN z THEN sy ELSE 0 END) AS sy1,
             |        sum(CASE WHEN z THEN 0 ELSE sy END) AS sy0,
             |        sum(n * sxy - sx * sy) AS cov_num_raw,
             |        sum(n * sxx - sx * sx) AS var_num_raw
             |      FROM g),
             |e AS (SELECT CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT)
             |               AS n0,
             |             round(CAST(sx1 * n0 - sx0 * n1 AS DOUBLE)
             |               / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
             |               AS a_path,
             |             CASE WHEN var_num_raw = 0 THEN NULL
             |                  ELSE round(CAST(cov_num_raw AS DOUBLE)
             |                       / CAST(var_num_raw AS DOUBLE), 6)
             |             END AS b_path,
             |             round(CAST(sy1 * n0 - sy0 * n1 AS DOUBLE)
             |               / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)), 6)
             |               AS total_effect
             |      FROM m)
             |SELECT n1, n0, a_path, b_path, total_effect,
             |       round(a_path * b_path, 6) AS indirect,
             |       round(total_effect - a_path * b_path, 6) AS direct
             |FROM e""".stripMargin)),

    // ── Heterogeneity: per-segment effect vs the pooled effect, Welch
    //    z on the difference (exact moments, one double sequence).
    QueryDef("q_treatment_heterogeneity",
      (s, d) => {
        val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("y"))
        val u = Tables.customer(s, d)
          .join(spend, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_mktsegment").as("seg"),
            (col("c_custkey") % 3 === 0).as("t"),
            coalesce(col("y"), lit(0L)).cast(dec).as("y"))
          .localCheckpoint(false) // per-seg + pooled moments
        def mom(df: org.apache.spark.sql.DataFrame,
                keys: Seq[String]) = {
          val g = if (keys.isEmpty) df.groupBy() else
            df.groupBy(keys.map(col): _*)
          g.agg(
            sum(when(col("t"), 1L).otherwise(0L)).cast(dec).as("nt"),
            sum(when(!col("t"), 1L).otherwise(0L)).cast(dec).as("nc"),
            sum(when(col("t"), col("y")).otherwise(lit(0).cast(dec)))
              .as("st"),
            sum(when(!col("t"), col("y")).otherwise(lit(0).cast(dec)))
              .as("sc"),
            sum(when(col("t"), col("y") * col("y"))
              .otherwise(lit(0).cast(dec))).as("qt"),
            sum(when(!col("t"), col("y") * col("y"))
              .otherwise(lit(0).cast(dec))).as("qc"))
        }
        val segs = mom(u, Seq("seg"))
          .selectExpr("seg", "CAST(nt AS BIGINT) AS n_t",
            "CAST(nc AS BIGINT) AS n_c", s"$eff AS effect0",
            s"$se2 AS se20")
        val pool = mom(u, Seq.empty)
          .selectExpr(s"$eff AS peffect", s"$se2 AS pse2")
        segs.crossJoin(broadcast(pool))
          .selectExpr("seg", "n_t", "n_c",
            "round(effect0, 6) AS effect_cents",
            "round(peffect, 6) AS pooled_cents",
            """round((effect0 - peffect) / sqrt(se20 + pse2), 6)
              |AS z_het""".stripMargin)
      },
      Some {
        def momSql(grp: String, proj: String) =
          s"""SELECT $proj
             |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS HUGEINT) AS nt,
             |  CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS HUGEINT) AS nc,
             |  CAST(sum(CASE WHEN t THEN y ELSE 0 END) AS HUGEINT) AS st,
             |  CAST(sum(CASE WHEN t THEN 0 ELSE y END) AS HUGEINT) AS sc,
             |  sum(CASE WHEN t THEN CAST(y AS HUGEINT) * CAST(y AS HUGEINT)
             |      ELSE 0 END) AS qt,
             |  sum(CASE WHEN t THEN 0
             |      ELSE CAST(y AS HUGEINT) * CAST(y AS HUGEINT) END) AS qc
             |FROM u $grp""".stripMargin
        s"""WITH $spendYSql,
           |u AS (SELECT c_mktsegment AS seg, c_custkey % 3 = 0 AS t,
           |             coalesce(y, 0) AS y
           |      FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
           |segs AS (SELECT seg, CAST(nt AS BIGINT) AS n_t,
           |                CAST(nc AS BIGINT) AS n_c,
           |                $eff AS effect0, $se2 AS se20
           |         FROM (${momSql("GROUP BY seg", "seg,")}) sm),
           |pool AS (SELECT $eff AS peffect, $se2 AS pse2
           |         FROM (${momSql("", "")}) pm)
           |SELECT seg, n_t, n_c, round(effect0, 6) AS effect_cents,
           |       round(peffect, 6) AS pooled_cents,
           |       round((effect0 - peffect) / sqrt(se20 + pse2), 6)
           |         AS z_het
           |FROM segs CROSS JOIN pool""".stripMargin
      }),

    /* The panel-data causal toolkit beyond diff-in-diff —
     * two-way fixed-effects within estimator (entity+time demeaning, the
     * workhorse panel regression), synthetic control (inverse-distance
     * donor weights over a pre-period profile → counterfactual post
     * series → per-month gap), and the standard placebo-rank inference
     * for synthetic control (re-run the construction with every unit as
     * pseudo-treated; the treated unit's post/pre gap-ratio rank IS the
     * permutation p-value). All-integer arithmetic: cents/dollars,
     * e3-scaled cell means, e6 effects with sign-factored truncating
     * division so Spark `div` and DuckDB `//` agree on every row.
     *
     * Scale notes: the panel grain is (supplier, month) — cells grow
     * linearly with data and flow through two hash aggregates plus two
     * broadcastable mean joins; the synthetic-control axes (nation ×
     * month) are FIXED-cardinality dimensions, so the donor cross term
     * is O(nations² · months) regardless of fact-table size — the fact
     * scan aggregates down before any cross join. */

    // ── Two-way fixed-effects within estimator: cells = (supplier,
    //    month) with x = mean quantity (e3) and y = mean line revenue
    //    in dollars (e3); demean by entity mean, time mean, + grand
    //    mean (the within transform); slope via the double-truncating
    //    division den = max(1, Σdx² // 1e6). Identical formula both
    //    engines, so truncation is parity-safe.
    QueryDef("q_panel_fe",
      (s, d) => {
        val c2 = Tables.lineitem(s, d)
          .filter(expr("year(l_shipdate) IN (1996, 1997)"))
          .select(col("l_suppkey").as("sk"),
            expr("(year(l_shipdate) - 1996) * 12 + month(l_shipdate) - 1")
              .as("m"),
            expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"),
            expr("CAST(floor(l_extendedprice) AS BIGINT)").as("r"))
          .groupBy(col("sk"), col("m"))
          .agg(expr("sum(q) * 1000 div count(*)").as("x_e3"),
            expr("sum(r) * 1000 div count(*)").as("y_e3"))
        val ent = c2.groupBy(col("sk"))
          .agg(expr("sum(x_e3) div count(*)").as("mx_i"),
            expr("sum(y_e3) div count(*)").as("my_i"))
        val tim = c2.groupBy(col("m"))
          .agg(expr("sum(x_e3) div count(*)").as("mx_t"),
            expr("sum(y_e3) div count(*)").as("my_t"))
        val g = c2.agg(expr("sum(x_e3) div count(*)").as("mx_g"),
          expr("sum(y_e3) div count(*)").as("my_g"),
          count(lit(1)).as("n_cells"))
        c2.join(broadcast(ent), "sk").join(broadcast(tim), "m")
          .crossJoin(broadcast(g))
          .select(col("n_cells"),
            (col("x_e3") - col("mx_i") - col("mx_t") + col("mx_g"))
              .as("dx"),
            (col("y_e3") - col("my_i") - col("my_t") + col("my_g"))
              .as("dy"))
          .groupBy(col("n_cells"))
          .agg(sum(col("dx") * col("dy")).as("sxy"),
            sum(col("dx") * col("dx")).as("sxx"))
          .selectExpr("CAST(n_cells AS BIGINT) AS n_cells",
            """CASE WHEN sxy >= 0
              |  THEN sxy div greatest(1L, sxx div 1000000)
              |  ELSE -((-sxy) div greatest(1L, sxx div 1000000))
              |END AS slope_e6""".stripMargin)
      },
      Some("""WITH cells AS (
             |  SELECT l_suppkey AS sk,
             |         (year(l_shipdate) - 1996) * 12 + month(l_shipdate) - 1
             |           AS m,
             |         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
             |           * 1000 // count(*) AS BIGINT) AS x_e3,
             |         CAST(sum(CAST(floor(l_extendedprice) AS BIGINT))
             |           * 1000 // count(*) AS BIGINT) AS y_e3
             |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
             |  GROUP BY 1, 2),
             |ent AS (SELECT sk,
             |          CAST(sum(x_e3) // count(*) AS BIGINT) AS mx_i,
             |          CAST(sum(y_e3) // count(*) AS BIGINT) AS my_i
             |        FROM cells GROUP BY 1),
             |tim AS (SELECT m,
             |          CAST(sum(x_e3) // count(*) AS BIGINT) AS mx_t,
             |          CAST(sum(y_e3) // count(*) AS BIGINT) AS my_t
             |        FROM cells GROUP BY 1),
             |g AS (SELECT CAST(sum(x_e3) // count(*) AS BIGINT) AS mx_g,
             |             CAST(sum(y_e3) // count(*) AS BIGINT) AS my_g,
             |             CAST(count(*) AS BIGINT) AS n_cells FROM cells),
             |dm AS (SELECT g.n_cells,
             |         c.x_e3 - e.mx_i - t.mx_t + g.mx_g AS dx,
             |         c.y_e3 - e.my_i - t.my_t + g.my_g AS dy
             |       FROM cells c JOIN ent e ON c.sk = e.sk
             |       JOIN tim t ON c.m = t.m CROSS JOIN g),
             |a AS (SELECT n_cells, CAST(sum(dx * dy) AS BIGINT) AS sxy,
             |             CAST(sum(dx * dx) AS BIGINT) AS sxx
             |      FROM dm GROUP BY 1)
             |SELECT n_cells,
             |       CASE WHEN sxy >= 0
             |         THEN sxy // greatest(1, sxx // 1000000)
             |         ELSE -((-sxy) // greatest(1, sxx // 1000000))
             |       END AS slope_e6
             |FROM a""".stripMargin)),

    // ── Synthetic control: treated = nation 0; donors j ≠ 0 weighted
    //    by inverse pre-period (1996) profile distance w_raw = 1e12 //
    //    (1 + Σ|y0 - yj| // 1000) (kilocent quantization keeps
    //    w_raw·1e6 inside Long), normalized to e6; counterfactual post
    //    (1997) series = Σ_j w·yj // 1e6; emit actual, synth, gap per
    //    post month. Donor axis is fixed-cardinality → the cross term
    //    never grows with the fact table.
    QueryDef("q_synth_control",
      (s, d) => {
        val nm = nationMonth(s, d).localCheckpoint(false)
        val pre0 = nm.filter(col("nk") === 0 && col("m") < 12)
          .select(col("m"), col("c").as("y0"))
        val preJ = nm.filter(col("nk") =!= 0 && col("m") < 12)
          .select(col("nk"), col("m"), col("c").as("yj"))
        val w = preJ.join(broadcast(pre0), "m")
          .groupBy(col("nk"))
          .agg(sum(abs(col("yj") - col("y0"))).as("dist"))
          .select(col("nk"),
            expr("1000000000000 div (1 + dist div 1000)").as("w_raw"))
        val wn = w.crossJoin(broadcast(
            w.agg(sum(col("w_raw")).as("sw"))))
          .select(col("nk"), expr("w_raw * 1000000 div sw").as("w_e6"))
        val post0 = nm.filter(col("nk") === 0 && col("m") >= 12)
          .select(col("m"), col("c").as("actual_cents"))
        val postJ = nm.filter(col("nk") =!= 0 && col("m") >= 12)
        val synth = postJ.join(broadcast(wn), "nk")
          .groupBy(col("m"))
          .agg(expr("sum(w_e6 * c) div 1000000").as("synth_cents"))
        post0.join(synth, "m")
          .selectExpr("CAST(m AS BIGINT) AS m", "actual_cents",
            "CAST(synth_cents AS BIGINT) AS synth_cents",
            "actual_cents - synth_cents AS gap_cents")
      },
      Some(s"""WITH $nationMonthSql,
              |pre0 AS (SELECT m, c AS y0 FROM nm WHERE nk = 0 AND m < 12),
              |w AS (SELECT p.nk,
              |        CAST(1000000000000 // (1 + sum(abs(p.c - pre0.y0)) // 1000)
              |          AS BIGINT) AS w_raw
              |      FROM nm p JOIN pre0 ON p.m = pre0.m
              |      WHERE p.nk <> 0 AND p.m < 12 GROUP BY 1),
              |wn AS (SELECT nk, CAST(w_raw * 1000000 //
              |         (SELECT sum(w_raw) FROM w) AS BIGINT) AS w_e6
              |       FROM w),
              |synth AS (SELECT p.m,
              |            CAST(sum(wn.w_e6 * p.c) // 1000000 AS BIGINT)
              |              AS synth_cents
              |          FROM nm p JOIN wn ON p.nk = wn.nk
              |          WHERE p.m >= 12 GROUP BY 1)
              |SELECT CAST(a.m AS BIGINT) AS m, a.c AS actual_cents,
              |       s.synth_cents,
              |       a.c - s.synth_cents AS gap_cents
              |FROM nm a JOIN synth s ON a.m = s.m
              |WHERE a.nk = 0 AND a.m >= 12""".stripMargin)),

    // ── Placebo-rank inference: rebuild the synthetic control with
    //    EVERY nation as pseudo-treated (donors = the other 24); the
    //    post/pre absolute-gap ratio ranks the true treated unit among
    //    placebos — rank/N is the permutation p-value. ratio_e6 =
    //    post_gap·1e6 // (1 + pre_gap).
    QueryDef("q_placebo_gaps",
      (s, d) => {
        val nm = nationMonth(s, d).localCheckpoint(false)
        val pairs = nm.select(col("nk").as("p"), col("m"),
            col("c").as("yp"))
          .join(nm.select(col("nk").as("j"), col("m"), col("c").as("yj")),
            "m")
          .filter(col("p") =!= col("j"))
        // the weight frame is nations² rows — checkpoint once, broadcast
        // into both its normalizer and the counterfactual join
        val w = pairs.filter(col("m") < 12)
          .groupBy(col("p"), col("j"))
          .agg(sum(abs(col("yp") - col("yj"))).as("dist"))
          .select(col("p"), col("j"),
            expr("1000000000000 div (1 + dist div 1000)").as("w_raw"))
          .localCheckpoint(false)
        val wn = w.join(
            broadcast(w.groupBy(col("p")).agg(sum(col("w_raw")).as("sw"))),
            "p")
          .select(col("p"), col("j"),
            expr("w_raw * 1000000 div sw").as("w_e6"))
        val synth = pairs.join(broadcast(wn), Seq("p", "j"))
          .groupBy(col("p"), col("m"))
          .agg(max(col("yp")).as("yp"),
            expr("sum(w_e6 * yj) div 1000000").as("synth"))
        val ratio = synth
          .groupBy(col("p"))
          .agg(sum(when(col("m") >= 12, abs(col("yp") - col("synth")))
            .otherwise(0L)).as("post_gap"),
            sum(when(col("m") < 12, abs(col("yp") - col("synth")))
              .otherwise(0L)).as("pre_gap"))
          .select(col("p").cast("long").as("nationkey"),
            expr("post_gap * 1000000 div (1 + pre_gap)").as("ratio_e6"))
        import org.apache.spark.sql.expressions.Window
        // fixed 25-nation axis → the unpartitioned rank window is
        // bounded by the dimension table, never by fact-table size
        ratio.withColumn("rnk",
            row_number().over(Window.orderBy(col("ratio_e6").desc,
              col("nationkey"))).cast("long"))
          .orderBy(col("rnk"))
      },
      Some(s"""WITH $nationMonthSql,
              |pairs AS (
              |  SELECT a.nk AS p, b.nk AS j, a.m, a.c AS yp, b.c AS yj
              |  FROM nm a JOIN nm b ON a.m = b.m AND a.nk <> b.nk),
              |w AS (SELECT p, j,
              |        CAST(1000000000000 // (1 + sum(abs(yp - yj)) // 1000)
              |          AS BIGINT) AS w_raw
              |      FROM pairs WHERE m < 12 GROUP BY 1, 2),
              |wn AS (SELECT p, j, CAST(w_raw * 1000000 // sw AS BIGINT)
              |         AS w_e6
              |       FROM w JOIN (SELECT p AS p2, sum(w_raw) AS sw
              |                    FROM w GROUP BY 1) t ON w.p = t.p2),
              |synth AS (SELECT pr.p, pr.m, max(pr.yp) AS yp,
              |            CAST(sum(wn.w_e6 * pr.yj) // 1000000 AS BIGINT)
              |              AS synth
              |          FROM pairs pr JOIN wn ON pr.p = wn.p
              |            AND pr.j = wn.j
              |          GROUP BY 1, 2),
              |ratio AS (
              |  SELECT CAST(p AS BIGINT) AS nationkey,
              |         CAST(sum(CASE WHEN m >= 12 THEN abs(yp - synth)
              |             ELSE 0 END) * 1000000 //
              |           (1 + sum(CASE WHEN m < 12 THEN abs(yp - synth)
              |             ELSE 0 END)) AS BIGINT) AS ratio_e6
              |  FROM synth GROUP BY 1)
              |SELECT nationkey, ratio_e6,
              |       CAST(row_number() OVER (ORDER BY ratio_e6 DESC,
              |         nationkey) AS BIGINT) AS rnk
              |FROM ratio ORDER BY rnk""".stripMargin)),

    /* Nearest-neighbor matching ATT (`q_nn_matching_att`): match each
     * treated customer to the closest control on 1996 spend WITHIN a
     * ⅛-log₂ band (bucketed candidates — the band granularity is the
     * scale lever, same story as the KNN grid), then average the
     * outcome differences. The causal suite's non-parametric member
     * next to q_panel_fe / q_synth_control. */
    // ── 1-NN matching ATT: treated = even custkey; covariate = 1996
    //    spend; outcome = 1997 spend. Candidates share the treated
    //    unit's ⅛-log₂ spend band; nearest |x_t − x_c|, ties → smaller
    //    control key. Unmatched treated are counted, not imputed.
    QueryDef("q_nn_matching_att",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cu = Tables.orders(s, d)
          .filter(expr("year(o_orderdate) IN (1996, 1997)"))
          .groupBy(col("o_custkey"))
          .agg(sum(when(expr("year(o_orderdate) = 1996"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("x"),
            sum(when(expr("year(o_orderdate) = 1997"),
              expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .otherwise(0L)).as("y"))
          .filter(col("x") > 0L)
          .select(col("o_custkey"), col("x"), col("y"),
            graft.ops.Bm25.log2E6(col("x")).as("l"))
          .selectExpr("o_custkey", "x", "y", "l div 125000 AS band",
            "o_custkey % 2 = 0 AS treated")
          .localCheckpoint(false)
        val t = cu.filter(col("treated"))
          .select(col("o_custkey").as("tk"), col("x").as("tx"),
            col("y").as("ty"), col("band"))
        val c = cu.filter(!col("treated"))
          .select(col("o_custkey").as("ck"), col("x").as("cx"),
            col("y").as("cy"), col("band"))
        val matched = t.join(c, "band")
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("tk"))
              .orderBy(abs(col("tx") - col("cx")), col("ck"))))
          .filter(col("rk") === 1)
        val att = matched.agg(count(lit(1)).as("n_matched"),
          sum(col("ty") - col("cy")).as("sdiff"))
        t.agg(count(lit(1)).as("n_treated")).crossJoin(broadcast(att))
          .selectExpr("CAST(n_treated AS BIGINT) AS n_treated",
            "CAST(n_matched AS BIGINT) AS n_matched",
            """CASE WHEN sdiff >= 0 THEN sdiff div n_matched
              |ELSE -((-sdiff) div n_matched) END AS att_cents"""
              .stripMargin)
      },
      Some {
        val logX = graft.ops.Bm25.log2E6Sql("x")
        s"""WITH cu AS (
           |  SELECT o_custkey,
           |         CAST(sum(CASE WHEN year(o_orderdate) = 1996
           |           THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           |           ELSE 0 END) AS BIGINT) AS x,
           |         CAST(sum(CASE WHEN year(o_orderdate) = 1997
           |           THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           |           ELSE 0 END) AS BIGINT) AS y
           |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
           |  GROUP BY 1),
           |b AS (SELECT o_custkey, x, y, ($logX) // 125000 AS band,
           |             o_custkey % 2 = 0 AS treated
           |      FROM cu WHERE x > 0),
           |t AS (SELECT o_custkey AS tk, x AS tx, y AS ty, band
           |      FROM b WHERE treated),
           |c AS (SELECT o_custkey AS ck, x AS cx, y AS cy, band
           |      FROM b WHERE NOT treated),
           |m AS (SELECT t.tk, t.ty, c.cy
           |      FROM t JOIN c ON t.band = c.band
           |      QUALIFY row_number() OVER (PARTITION BY t.tk
           |        ORDER BY abs(t.tx - c.cx), c.ck) = 1),
           |att AS (SELECT CAST(count(*) AS BIGINT) AS n_matched,
           |               CAST(sum(ty - cy) AS BIGINT) AS sdiff FROM m),
           |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_treated FROM t)
           |SELECT n_treated, n_matched,
           |       CASE WHEN sdiff >= 0 THEN sdiff // n_matched
           |         ELSE -((-sdiff) // n_matched) END AS att_cents
           |FROM nt CROSS JOIN att""".stripMargin
      }),

    /* Inverse-propensity-weighted ATT (`q_ipw_att`) — the
     * third leg of the causal-estimator family next to q_nn_matching_att
     * (matching) and q_stratified_ate (stratification). Propensity is the
     * exact empirical treatment rate per stratum (mktsegment), control
     * rows reweight by e/(1−e) toward the treated covariate distribution,
     * and the ATT is treated mean minus the weighted control mean — all
     * integer (weights e6, clamped at 1e9 like q_meta_fixed so a
     * near-degenerate stratum cannot overflow a moment). The naive
     * unadjusted difference rides along as the confounding read-out. */

    QueryDef("q_ipw_att",
      (s, d) => {
        val o = Tables.orders(s, d).selectExpr("o_custkey",
          "CASE WHEN o_orderpriority = '1-URGENT' THEN 1L ELSE 0L END AS g",
          "CAST(floor(o_totalprice) AS BIGINT) div 100 AS y")
        val cust = Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment").as("seg"))
        val strata = o.join(broadcast(cust), "o_custkey")
          .groupBy(col("seg"))
          .agg(count(lit(1)).as("n"), sum(col("g")).as("n1"),
            sum(col("g") * col("y")).as("sy1"),
            sum((lit(1L) - col("g")) * col("y")).as("sy0"))
          .withColumn("n0", col("n") - col("n1"))
          .withColumn("e_e6", expr("n1 * 1000000 div n"))
          // ATT weight for controls: e/(1−e), e6, clamped (degenerate
          // all-treated strata would otherwise blow the moment)
          .withColumn("w_e6", least(lit(1000000000L),
            expr("e_e6 * 1000000 div greatest(1L, 1000000 - e_e6)")))
        strata.agg(sum(col("n1")).as("n_treated"),
            sum(col("n0")).as("n_control"),
            expr("sum(sy1) div greatest(1L, sum(n1))").as("mt"),
            expr("sum(sy0) div greatest(1L, sum(n0))").as("mc_naive"),
            expr("sum(w_e6 * sy0) div greatest(1L, sum(w_e6 * n0))")
              .as("mc_ipw"))
          .selectExpr("n_treated", "n_control",
            "mt AS treated_mean_h", "mc_naive AS control_mean_h",
            "mc_ipw AS control_mean_ipw_h",
            "mt - mc_naive AS naive_diff_h", "mt - mc_ipw AS att_h")
      },
      Some("""WITH o AS (SELECT o_custkey,
             |                 CASE WHEN o_orderpriority = '1-URGENT'
             |                   THEN 1 ELSE 0 END AS g,
             |                 CAST(floor(o_totalprice) AS BIGINT) // 100
             |                   AS y
             |           FROM orders),
             |cust AS (SELECT c_custkey AS o_custkey, c_mktsegment AS seg
             |         FROM customer),
             |st AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
             |              CAST(sum(g) AS BIGINT) AS n1,
             |              CAST(sum(g * y) AS BIGINT) AS sy1,
             |              CAST(sum((1 - g) * y) AS BIGINT) AS sy0
             |       FROM o JOIN cust USING (o_custkey) GROUP BY 1),
             |w AS (SELECT *, n - n1 AS n0,
             |             least(1000000000,
             |               (n1 * 1000000 // n) * 1000000
             |                 // greatest(1, 1000000 - n1 * 1000000 // n))
             |               AS w_e6
             |      FROM st)
             |SELECT CAST(sum(n1) AS BIGINT) AS n_treated,
             |       CAST(sum(n0) AS BIGINT) AS n_control,
             |       CAST(sum(sy1) AS BIGINT) // greatest(1,
             |         CAST(sum(n1) AS BIGINT)) AS treated_mean_h,
             |       CAST(sum(sy0) AS BIGINT) // greatest(1,
             |         CAST(sum(n0) AS BIGINT)) AS control_mean_h,
             |       CAST(sum(w_e6 * sy0) AS BIGINT) // greatest(1,
             |         CAST(sum(w_e6 * n0) AS BIGINT))
             |         AS control_mean_ipw_h,
             |       CAST(sum(sy1) AS BIGINT) // greatest(1,
             |         CAST(sum(n1) AS BIGINT))
             |         - CAST(sum(sy0) AS BIGINT) // greatest(1,
             |           CAST(sum(n0) AS BIGINT)) AS naive_diff_h,
             |       CAST(sum(sy1) AS BIGINT) // greatest(1,
             |         CAST(sum(n1) AS BIGINT))
             |         - CAST(sum(w_e6 * sy0) AS BIGINT) // greatest(1,
             |           CAST(sum(w_e6 * n0) AS BIGINT)) AS att_h
             |FROM w""".stripMargin)),

    /* AIPW ATT (`q_aipw_att`): augmented IPW — propensity from the
     * mktsegment strata (as q_ipw_att) but the outcome model μ₀ from a
     * DIFFERENT partition (acctbal bands), so the augmentation term is
     * non-trivial and the estimator is genuinely doubly robust:
     * consistent if EITHER model is right. One checkpointed
     * orders⋈customer base feeds the propensity map, the outcome map,
     * and the residual aggregate; both maps join back as broadcasts. */
    // ── AIPW: e(seg) propensity, μ₀(band) outcome model.
    QueryDef("q_aipw_att",
      (s, d) => {
        val base = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment").as("seg"),
              expr("(CAST(floor(c_acctbal) AS BIGINT) + 1000) div 2000")
                .as("band"))),
            col("o_custkey") === col("c_custkey"))
          .selectExpr("seg", "band",
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1L ELSE 0L END" +
              " AS g",
            "CAST(floor(o_totalprice) AS BIGINT) div 100 AS y")
          .localCheckpoint(false) // propensity map + outcome map + terms
        val prop = base.groupBy(col("seg"))
          .agg(count(lit(1)).as("n"), sum(col("g")).as("n1"))
          .selectExpr("seg",
            """least(1000000000L, (n1 * 1000000 div n) * 1000000
              | div greatest(1L, 1000000 - n1 * 1000000 div n))
              | AS w_e6""".stripMargin)
        val mu0 = base.where(col("g") === 0).groupBy(col("band"))
          .agg(expr("sum(y) div count(*)").as("m0"))
        base.join(broadcast(prop), "seg")
          .join(broadcast(mu0), Seq("band"), "left")
          .selectExpr("g", "w_e6", "y", "coalesce(m0, 0L) AS m0")
          .agg(sum(col("g")).as("n_treated"),
            sum(lit(1L) - col("g")).as("n_control"),
            sum(expr("g * (y - m0)")).as("t_resid"),
            sum(expr("(1 - g) * w_e6 * (y - m0)")).as("c_resid_e6"))
          .selectExpr("n_treated", "n_control", "t_resid", "c_resid_e6",
            """round((CAST(t_resid AS DOUBLE)
              | - CAST(c_resid_e6 AS DOUBLE)
              |   / CAST('1000000.0' AS DOUBLE))
              | / CAST(n_treated AS DOUBLE), 6) AS att_aipw_h"""
              .stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT c_mktsegment AS seg,
             |         (CAST(floor(c_acctbal) AS BIGINT) + 1000) // 2000
             |           AS band,
             |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1
             |              ELSE 0 END AS g,
             |         CAST(floor(o_totalprice) AS BIGINT) // 100 AS y
             |  FROM orders JOIN customer ON c_custkey = o_custkey),
             |prop AS (SELECT seg,
             |           least(1000000000,
             |             (CAST(sum(g) AS BIGINT) * 1000000
             |               // CAST(count(*) AS BIGINT)) * 1000000
             |             // greatest(1, 1000000
             |               - CAST(sum(g) AS BIGINT) * 1000000
             |                 // CAST(count(*) AS BIGINT))) AS w_e6
             |         FROM base GROUP BY 1),
             |mu0 AS (SELECT band,
             |          CAST(sum(y) AS BIGINT)
             |            // CAST(count(*) AS BIGINT) AS m0
             |        FROM base WHERE g = 0 GROUP BY 1),
             |j AS (SELECT g, w_e6, y, coalesce(m0, 0) AS m0
             |      FROM base
             |      JOIN prop USING (seg)
             |      LEFT JOIN mu0 USING (band)),
             |agg AS (SELECT CAST(sum(g) AS BIGINT) AS n_treated,
             |               CAST(sum(1 - g) AS BIGINT) AS n_control,
             |               CAST(sum(g * (y - m0)) AS BIGINT) AS t_resid,
             |               CAST(sum((1 - g) * w_e6 * (y - m0))
             |                 AS BIGINT) AS c_resid_e6
             |        FROM j)
             |SELECT n_treated, n_control, t_resid, c_resid_e6,
             |       round((CAST(t_resid AS DOUBLE)
             |         - CAST(c_resid_e6 AS DOUBLE)
             |           / CAST('1000000.0' AS DOUBLE))
             |         / CAST(n_treated AS DOUBLE), 6) AS att_aipw_h
             |FROM agg""".stripMargin)),

    /* Qini curve (`q_qini_uplift`): cumulative incremental conversions
     * Y_t − Y_c·N_t/N_c by descending acctbal score band — the uplift
     * companion to q_lift_gains (which ranks a RESPONSE model; Qini
     * ranks a TREATMENT-EFFECT claim). Score bands are fixed-width
     * acctbal buckets (exact-decile ranks would need an unpartitioned
     * window over raw orders — a scale-killer this engine bans); the
     * cumulative window runs on the bounded band axis post-aggregate. */
    // ── Qini: cumulative uplift by descending score band.
    QueryDef("q_qini_uplift",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"),
              expr("(CAST(floor(c_acctbal) AS BIGINT) + 1000) div 1500")
                .as("band"))),
            col("o_custkey") === col("c_custkey"))
          .selectExpr("band",
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1L ELSE 0L END" +
              " AS g",
            "CASE WHEN o_orderstatus = 'F' THEN 1L ELSE 0L END AS y")
        val perBand = base.groupBy(col("band"))
          .agg(sum(col("g")).as("nt"),
            sum(lit(1L) - col("g")).as("nc"),
            sum(expr("g * y")).as("yt"),
            sum(expr("(1 - g) * y")).as("yc"))
        val w = Window.orderBy(col("band").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        perBand
          .withColumn("cnt", sum(col("nt")).over(w))
          .withColumn("cnc", sum(col("nc")).over(w))
          .withColumn("cyt", sum(col("yt")).over(w))
          .withColumn("cyc", sum(col("yc")).over(w))
          .selectExpr("band", "nt", "nc",
            "yt * 1000000 div greatest(1L, nt) AS rate_t_e6",
            "yc * 1000000 div greatest(1L, nc) AS rate_c_e6",
            """CASE WHEN cnc = 0 THEN NULL
              |ELSE round(CAST(cyt AS DOUBLE) - CAST(cyc AS DOUBLE)
              | * CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE), 6)
              |END AS qini_cum""".stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT (CAST(floor(c_acctbal) AS BIGINT) + 1000) // 1500
             |           AS band,
             |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1
             |              ELSE 0 END AS g,
             |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
             |           AS y
             |  FROM orders JOIN customer ON c_custkey = o_custkey),
             |pb AS (SELECT band, CAST(sum(g) AS BIGINT) AS nt,
             |              CAST(sum(1 - g) AS BIGINT) AS nc,
             |              CAST(sum(g * y) AS BIGINT) AS yt,
             |              CAST(sum((1 - g) * y) AS BIGINT) AS yc
             |       FROM base GROUP BY 1),
             |c AS (SELECT band, nt, nc, yt, yc,
             |        CAST(sum(nt) OVER w AS BIGINT) AS cnt,
             |        CAST(sum(nc) OVER w AS BIGINT) AS cnc,
             |        CAST(sum(yt) OVER w AS BIGINT) AS cyt,
             |        CAST(sum(yc) OVER w AS BIGINT) AS cyc
             |      FROM pb WINDOW w AS (ORDER BY band DESC
             |        ROWS UNBOUNDED PRECEDING))
             |SELECT band, nt, nc,
             |       yt * 1000000 // greatest(1, nt) AS rate_t_e6,
             |       yc * 1000000 // greatest(1, nc) AS rate_c_e6,
             |       CASE WHEN cnc = 0 THEN NULL
             |       ELSE round(CAST(cyt AS DOUBLE) - CAST(cyc AS DOUBLE)
             |         * CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE), 6)
             |       END AS qini_cum
             |FROM c""".stripMargin)),

    /* Effective sample size (`q_ess_weights`): ESS = (Σw)²/Σw² and the
     * design effect n/ESS for the ATT control weights of q_ipw_att /
     * q_aipw_att, per stratum and pooled — how much information the
     * reweighting actually left. Stratum-constant weights make every
     * term a closed product of (n₀, w); one keyed agg, one tiny rollup. */
    // ── ESS / design effect of the per-stratum ATT control weights.
    QueryDef("q_ess_weights",
      (s, d) => {
        val st = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
            col("o_custkey") === col("c_custkey"))
          .selectExpr("seg",
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1L ELSE 0L END" +
              " AS g")
          .groupBy(col("seg"))
          .agg(count(lit(1)).as("n"), sum(col("g")).as("n1"))
          .selectExpr("seg", "n - n1 AS n0",
            """least(1000000000L, (n1 * 1000000 div n) * 1000000
              | div greatest(1L, 1000000 - n1 * 1000000 div n))
              | AS w_e6""".stripMargin)
          .localCheckpoint(false) // per-stratum rows + pooled rollup
        val per = st.selectExpr("seg", "n0", "w_e6",
          s"CAST(n0 AS $dec) * w_e6 AS sw",
          s"CAST(n0 AS $dec) * w_e6 * w_e6 AS sww")
        val pooled = per.agg(sum(col("n0")).as("n0"),
            sum(col("sw")).as("sw"), sum(col("sww")).as("sww"))
          .selectExpr("'ALL' AS seg", "CAST(n0 AS BIGINT) AS n0",
            "CAST(NULL AS BIGINT) AS w_e6", "sw", "sww")
        per.selectExpr("seg", "CAST(n0 AS BIGINT) AS n0", "w_e6",
            "sw", "sww")
          .unionByName(pooled)
          .selectExpr("seg", "n0", "w_e6",
            """CASE WHEN sww = 0 THEN NULL
              |ELSE round(CAST(sw * sw AS DOUBLE) / CAST(sww AS DOUBLE),
              |  6) END AS ess""".stripMargin,
            """CASE WHEN sw = 0 THEN NULL
              |ELSE round(CAST(n0 AS DOUBLE) * CAST(sww AS DOUBLE)
              |  / CAST(sw AS DOUBLE) / CAST(sw AS DOUBLE), 6)
              |END AS deff""".stripMargin)
      },
      Some("""WITH st AS (
             |  SELECT c_mktsegment AS seg,
             |         CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n1
             |  FROM orders JOIN customer ON c_custkey = o_custkey
             |  GROUP BY 1),
             |w AS (SELECT seg, n - n1 AS n0,
             |        least(1000000000, (n1 * 1000000 // n) * 1000000
             |          // greatest(1, 1000000 - n1 * 1000000 // n))
             |          AS w_e6
             |      FROM st),
             |per AS (SELECT seg, n0, w_e6,
             |          CAST(n0 AS HUGEINT) * w_e6 AS sw,
             |          CAST(n0 AS HUGEINT) * w_e6 * w_e6 AS sww
             |        FROM w),
             |pooled AS (SELECT 'ALL' AS seg,
             |             CAST(sum(n0) AS BIGINT) AS n0,
             |             CAST(NULL AS BIGINT) AS w_e6,
             |             sum(sw) AS sw, sum(sww) AS sww FROM per),
             |u AS (SELECT seg, n0, w_e6, sw, sww FROM per
             |      UNION ALL SELECT * FROM pooled)
             |SELECT seg, n0, w_e6,
             |       CASE WHEN sww = 0 THEN NULL
             |       ELSE round(CAST(sw * sw AS DOUBLE)
             |         / CAST(sww AS DOUBLE), 6) END AS ess,
             |       CASE WHEN sw = 0 THEN NULL
             |       ELSE round(CAST(n0 AS DOUBLE) * CAST(sww AS DOUBLE)
             |         / CAST(sw AS DOUBLE) / CAST(sw AS DOUBLE), 6)
             |       END AS deff
             |FROM u""".stripMargin)),

    /* Standardized mean difference (`q_smd_balance`): the
     * covariate-balance table (love-plot row) for acctbal —
     * SMD = (m_t−m_c)/√((v_t+v_c)/2) BEFORE and AFTER IPW weighting.
     * The weighted moments stay integer (w_e6 × cents products in
     * decimal(38,0)); each SMD closes in one double chain. */
    // ── SMD before/after IPW weighting, one pooled row.
    QueryDef("q_smd_balance",
      (s, d) => {
        val base = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment").as("seg"),
              floor(col("c_acctbal") * 100 + 0.5).cast("long").as("x"))),
            col("o_custkey") === col("c_custkey"))
          .selectExpr("seg", "x",
            "CASE WHEN o_orderpriority = '1-URGENT' THEN 1L ELSE 0L END" +
              " AS g")
          .localCheckpoint(false) // weight map + moment agg
        val wmap = base.groupBy(col("seg"))
          .agg(count(lit(1)).as("n"), sum(col("g")).as("n1"))
          .selectExpr("seg",
            """least(1000000000L, (n1 * 1000000 div n) * 1000000
              | div greatest(1L, 1000000 - n1 * 1000000 div n))
              | AS w_e6""".stripMargin)
        val m = base.join(broadcast(wmap), "seg")
          .selectExpr("g", "x",
            "CASE WHEN g = 1 THEN 1000000L ELSE w_e6 END AS w")
          .agg(
            sum(col("g")).as("nt"), sum(lit(1L) - col("g")).as("nc"),
            sum(expr("g * x")).as("sxt"),
            sum(expr("(1 - g) * x")).as("sxc"),
            sum(expr(s"g * CAST(x AS $dec) * x")).as("qxt"),
            sum(expr(s"(1 - g) * CAST(x AS $dec) * x")).as("qxc"),
            sum(expr(s"(1 - g) * CAST(w AS $dec)")).as("swc"),
            sum(expr(s"(1 - g) * CAST(w AS $dec) * x")).as("swxc"),
            sum(expr(s"(1 - g) * CAST(w AS $dec) * x * x")).as("swxxc"))
        m.selectExpr("nt", "nc",
            """round((CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)
              | - CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE))
              | / sqrt(((CAST(qxt AS DOUBLE) / CAST(nt AS DOUBLE)
              |   - (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE))
              |     * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)))
              |  + (CAST(qxc AS DOUBLE) / CAST(nc AS DOUBLE)
              |   - (CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE))
              |     * (CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE))))
              |  / CAST('2.0' AS DOUBLE)), 6) AS smd_before"""
              .stripMargin,
            """round((CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)
              | - CAST(swxc AS DOUBLE) / CAST(swc AS DOUBLE))
              | / sqrt(((CAST(qxt AS DOUBLE) / CAST(nt AS DOUBLE)
              |   - (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE))
              |     * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)))
              |  + (CAST(swxxc AS DOUBLE) / CAST(swc AS DOUBLE)
              |   - (CAST(swxc AS DOUBLE) / CAST(swc AS DOUBLE))
              |     * (CAST(swxc AS DOUBLE) / CAST(swc AS DOUBLE))))
              |  / CAST('2.0' AS DOUBLE)), 6) AS smd_after"""
              .stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT c_mktsegment AS seg,
             |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS x,
             |         CASE WHEN o_orderpriority = '1-URGENT' THEN 1
             |              ELSE 0 END AS g
             |  FROM orders JOIN customer ON c_custkey = o_custkey),
             |wm AS (SELECT seg,
             |         least(1000000000,
             |           (CAST(sum(g) AS BIGINT) * 1000000
             |             // CAST(count(*) AS BIGINT)) * 1000000
             |           // greatest(1, 1000000
             |             - CAST(sum(g) AS BIGINT) * 1000000
             |               // CAST(count(*) AS BIGINT))) AS w_e6
             |       FROM base GROUP BY 1),
             |j AS (SELECT g, x,
             |        CASE WHEN g = 1 THEN 1000000 ELSE w_e6 END AS w
             |      FROM base JOIN wm USING (seg)),
             |m AS (SELECT CAST(sum(g) AS BIGINT) AS nt,
             |             CAST(sum(1 - g) AS BIGINT) AS nc,
             |             CAST(sum(g * x) AS BIGINT) AS sxt,
             |             CAST(sum((1 - g) * x) AS BIGINT) AS sxc,
             |             sum(g * CAST(x AS HUGEINT) * x) AS qxt,
             |             sum((1 - g) * CAST(x AS HUGEINT) * x) AS qxc,
             |             sum((1 - g) * CAST(w AS HUGEINT)) AS swc,
             |             sum((1 - g) * CAST(w AS HUGEINT) * x) AS swxc,
             |             sum((1 - g) * CAST(w AS HUGEINT) * x * x)
             |               AS swxxc
             |      FROM j)
             |SELECT nt, nc,
             |       round((CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)
             |         - CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE))
             |         / sqrt(((CAST(qxt AS DOUBLE) / CAST(nt AS DOUBLE)
             |           - (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE))
             |             * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)))
             |          + (CAST(qxc AS DOUBLE) / CAST(nc AS DOUBLE)
             |           - (CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE))
             |             * (CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE))))
             |          / CAST('2.0' AS DOUBLE)), 6) AS smd_before,
             |       round((CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)
             |         - CAST(swxc AS DOUBLE) / CAST(swc AS DOUBLE))
             |         / sqrt(((CAST(qxt AS DOUBLE) / CAST(nt AS DOUBLE)
             |           - (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE))
             |             * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)))
             |          + (CAST(swxxc AS DOUBLE) / CAST(swc AS DOUBLE)
             |           - (CAST(swxc AS DOUBLE) / CAST(swc AS DOUBLE))
             |             * (CAST(swxc AS DOUBLE) / CAST(swc AS DOUBLE))))
             |          / CAST('2.0' AS DOUBLE)), 6) AS smd_after
             |FROM m""".stripMargin))
  )
}
