package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Sketches}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tails, extremes and risk: tail-index estimators, GPD/Gumbel/Weibull
  * fits, records, value-at-risk, and distribution-fit reads. */
object ExtremesQueries extends QueryCatalog {

  import Fixtures._

  /** [[ordersDailyHectoSql]] keyed by the raw order date (CTE `daily`). */
  private val ordersDailyHectoDtSql =
    """daily AS (
      |  SELECT o_orderdate AS dt,
      |         CAST(sum(CAST(floor(o_totalprice / 100 + 0.5)
      |           AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    /* Max drawdown of the q_clamped_balance supplier walk (same signed
     * deltas, unclamped series): running-max minus running sum, pure
     * windows, ONE keyed exchange. */
    // ── Max drawdown of the UNCLAMPED supplier inventory walk (same
    //    signed deltas as q_clamped_balance): drawdown = running max −
    //    running sum; both windows and the final aggregate share ONE
    //    keyed exchange.
    QueryDef("q_max_drawdown",
      (s, d) => {
        val b = Tables.lineitem(s, d).select(
          (col("l_suppkey") % 50).as("k"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("t"),
          (col("l_orderkey") * 8 + col("l_linenumber")).as("tie"),
          (col("l_quantity").cast("long") *
            when(col("l_returnflag") === "R", -1L).otherwise(1L)).as("d"))
        val w = Window.partitionBy(col("k")).orderBy(col("t"), col("tie"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        b.withColumn("run", sum(col("d")).over(w))
          .withColumn("peak", max(col("run")).over(w))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_moves"), sum(col("d")).as("final"),
            max(col("run")).as("max_runup"),
            max(col("peak") - col("run")).as("max_drawdown"))
      },
      Some("""WITH b AS (SELECT l_suppkey % 50 AS k,
             |                  epoch_us(l_shipdate) AS t,
             |                  l_orderkey * 8 + l_linenumber AS tie,
             |                  CAST(l_quantity AS BIGINT) *
             |                    (CASE WHEN l_returnflag = 'R' THEN -1
             |                          ELSE 1 END) AS d
             |           FROM lineitem),
             |r0 AS (SELECT k, t, tie, d,
             |              sum(d) OVER (PARTITION BY k ORDER BY t, tie
             |                           ROWS UNBOUNDED PRECEDING) AS run
             |       FROM b),
             |r AS (SELECT k, d, run,
             |             max(run) OVER (PARTITION BY k ORDER BY t, tie
             |                            ROWS UNBOUNDED PRECEDING) AS peak
             |      FROM r0)
             |SELECT k, CAST(count(*) AS BIGINT) AS n_moves,
             |       CAST(sum(d) AS BIGINT) AS final,
             |       CAST(max(run) AS BIGINT) AS max_runup,
             |       CAST(max(peak - run) AS BIGINT) AS max_drawdown
             |FROM r GROUP BY k""".stripMargin)),

    // ── Hill: top-100 order values vs the rank-101 reference, all in
    //    fixed-point log₂ — α̂ = k / mean ln(x_i/x_ref).
    QueryDef("q_hill_tail",
      (s, d) => {
        val ranked = Tables.orders(s, d)
          .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("v"), col("o_orderkey").as("ok"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("v").desc, col("ok"))))
          .where(col("rk") <= 101)
          .withColumn("lg", Bm25.log2E6(col("v")))
          .localCheckpoint(false) // top axis reused: head sum + reference
        val ref = ranked.where(col("rk") === 101)
          .select(col("lg").as("lg_ref"))
        ranked.where(col("rk") <= 100).crossJoin(broadcast(ref))
          .agg(count(lit(1)).as("k"),
            sum(col("lg") - col("lg_ref")).as("slg"))
          .selectExpr("k",
            "CAST(slg AS BIGINT) * 693147 div 1000000 AS sum_ln_e6",
            """CAST(k * 1000000000000 div
              |  greatest(CAST(slg AS BIGINT) * 693147 div 1000000, 1)
              |  AS BIGINT) AS alpha_e6""".stripMargin)
      },
      Some {
        val lg = Bm25.log2E6Sql("v")
        s"""WITH ranked AS (
           |  SELECT v, $lg AS lg, rk FROM (
           |    SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
           |           row_number() OVER (ORDER BY
           |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           |             DESC, o_orderkey) AS rk
           |    FROM orders)
           |  WHERE rk <= 101),
           |ref AS (SELECT lg AS lg_ref FROM ranked WHERE rk = 101),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
           |               CAST(sum(lg - lg_ref) AS BIGINT) AS slg
           |        FROM ranked CROSS JOIN ref WHERE rk <= 100)
           |SELECT k, slg * 693147 // 1000000 AS sum_ln_e6,
           |       CAST(k * 1000000000000 //
           |         greatest(slg * 693147 // 1000000, 1) AS BIGINT)
           |         AS alpha_e6
           |FROM agg""".stripMargin
      }),

    // ── VaR(95) + ES over daily revenue deltas per type; positional
    //    quantile, offset-protected truncating mean for the tail.
    QueryDef("q_var_es",
      (s, d) => {
        val daily = Tables.events(s, d)
          .select(col("event_type").as("et"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            greatest(lit(0L),
              floor(col("value") * 100 + 0.5).cast("long")).as("r"))
          .groupBy(col("et"), col("day")).agg(sum(col("r")).as("x"))
        val chg = daily
          .withColumn("dx", col("x") - lag(col("x"), 1).over(
            Window.partitionBy(col("et")).orderBy(col("day"))))
          .where(col("dx").isNotNull)
          .localCheckpoint(false) // reused: quantile pick + tail mean
        val varq = chg
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("et")).orderBy(col("dx"), col("day"))))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("et"))))
          .where(col("rn") === expr("(n + 19) div 20"))
          .select(col("et"), col("n").as("n_changes"),
            col("dx").as("var_cents"))
        chg.join(broadcast(varq), "et")
          .where(col("dx") <= col("var_cents"))
          .groupBy(col("et"), col("n_changes"), col("var_cents"))
          .agg(count(lit(1)).as("n_tail"), sum(col("dx")).as("s_tail"))
          .selectExpr("et", "n_changes", "var_cents", "n_tail",
            "(s_tail + n_tail * 1000000000) div n_tail - 1000000000 " +
              "AS es_cents")
      },
      Some("""WITH daily AS (
             |  SELECT event_type AS et, epoch_us(ts) // 86400000000 AS day,
             |         CAST(sum(greatest(0,
             |           CAST(floor(value * 100 + 0.5) AS BIGINT)))
             |           AS BIGINT) AS x
             |  FROM events GROUP BY 1, 2),
             |chg AS (SELECT et, day, x - lag(x) OVER (PARTITION BY et
             |               ORDER BY day) AS dx
             |        FROM daily),
             |c2 AS (SELECT * FROM chg WHERE dx IS NOT NULL),
             |varq AS (SELECT et, n AS n_changes, dx AS var_cents FROM (
             |           SELECT *, row_number() OVER (PARTITION BY et
             |             ORDER BY dx, day) AS rn,
             |             CAST(count(*) OVER (PARTITION BY et) AS BIGINT)
             |               AS n
             |           FROM c2)
             |         WHERE rn = (n + 19) // 20),
             |tail AS (SELECT c2.et, n_changes, var_cents,
             |                CAST(count(*) AS BIGINT) AS n_tail,
             |                CAST(sum(dx) AS BIGINT) AS s_tail
             |         FROM c2 JOIN varq ON c2.et = varq.et
             |         WHERE dx <= var_cents
             |         GROUP BY 1, 2, 3)
             |SELECT et, n_changes, var_cents, n_tail,
             |       (s_tail + n_tail * 1000000000) // n_tail - 1000000000
             |         AS es_cents
             |FROM tail""".stripMargin)),

    // ── Lognormal fit: μ̂, σ̂ of ln(spend) per segment via e6 log₂
    //    moments; implied median e^μ̂ = 2^(μ̂/ln2) reported in log units
    //    beside the exact positional median (both engines identical).
    QueryDef("q_lognormal_fit",
      (s, d) => {
        val u = spenders(s, d)
          .select(col("c_mktsegment").as("seg"), col("c_custkey").as("ck"),
            col("y")).where(col("y") > 0)
          .withColumn("lg", Bm25.log2E6(col("y")))
          .localCheckpoint(false) // moments + positional median
        val mom = u.groupBy(col("seg"))
          .agg(count(lit(1)).cast(dec).as("n"),
            sum(col("lg").cast(dec)).as("sl"),
            sum(col("lg").cast(dec) * col("lg").cast(dec)).as("ql"))
          .selectExpr("seg", "CAST(n AS BIGINT) AS n",
            // μ̂, σ̂ in e6 log₂ units (ln = ·ln2)
            "CAST(sl div n AS BIGINT) AS mu_lg_e6",
            """round(sqrt(CAST(n * ql - sl * sl AS DOUBLE))
              |/ CAST(n AS DOUBLE), 6) AS sigma_lg_e6""".stripMargin)
        val med = u
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("seg")).orderBy(col("y"), col("ck"))))
          .withColumn("nn", count(lit(1)).over(
            Window.partitionBy(col("seg"))))
          .where(col("rn") === expr("(nn + 1) div 2"))
          .select(col("seg"), col("y").as("median_cents"),
            col("lg").as("median_lg_e6"))
        mom.join(med, "seg")
          .withColumn("fit_gap_e6", col("mu_lg_e6") - col("median_lg_e6"))
      },
      Some {
        val lg = Bm25.log2E6Sql("y")
        s"""WITH $spendYSql,
           |u AS (SELECT c_mktsegment AS seg, c_custkey AS ck, y,
           |             CAST($lg AS BIGINT) AS lg
           |      FROM customer JOIN spend ON c_custkey = o_custkey
           |      WHERE y > 0),
           |mom AS (SELECT seg, CAST(count(*) AS HUGEINT) AS n,
           |               CAST(sum(lg) AS HUGEINT) AS sl,
           |               sum(CAST(lg AS HUGEINT) * CAST(lg AS HUGEINT))
           |                 AS ql
           |        FROM u GROUP BY 1),
           |mm AS (SELECT seg, CAST(n AS BIGINT) AS n,
           |              CAST(sl // n AS BIGINT) AS mu_lg_e6,
           |              round(sqrt(CAST(n * ql - sl * sl AS DOUBLE))
           |                / CAST(n AS DOUBLE), 6) AS sigma_lg_e6
           |       FROM mom),
           |med AS (SELECT seg, y AS median_cents, lg AS median_lg_e6
           |        FROM (SELECT seg, y, lg, row_number() OVER
           |                (PARTITION BY seg ORDER BY y, ck) AS rn,
           |                count(*) OVER (PARTITION BY seg) AS nn
           |              FROM u)
           |        WHERE rn = (nn + 1) // 2)
           |SELECT mm.seg, n, mu_lg_e6, sigma_lg_e6, median_cents,
           |       median_lg_e6, mu_lg_e6 - median_lg_e6 AS fit_gap_e6
           |FROM mm JOIN med ON mm.seg = med.seg""".stripMargin
      }),

    // ── Gumbel block maxima: monthly max of daily volume; MoM fit
    //    β̂ = s√6/π, μ̂ = m − γβ̂ with γ, √6/π as literal constants.
    QueryDef("q_block_maxima",
      (s, d) => {
        val daily = eventsPerDay(s, d)
        val blocks = daily
          .withColumn("m", expr("day div 30"))
          .groupBy(col("m")).agg(max(col("c")).as("mx"))
        blocks.agg(count(lit(1)).cast(dec).as("n"),
            sum(col("mx").cast(dec)).as("s"),
            sum(col("mx").cast(dec) * col("mx").cast(dec)).as("q"))
          .selectExpr("CAST(n AS BIGINT) AS n_blocks",
            "CAST(s div n AS BIGINT) AS mean_max",
            """round(sqrt(CAST(n * q - s * s AS DOUBLE))
              |/ CAST(n AS DOUBLE)
              |* CAST('0.7796968' AS DOUBLE), 6) AS beta_hat""".stripMargin,
            """round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
              |- CAST('0.5772157' AS DOUBLE)
              |* (sqrt(CAST(n * q - s * s AS DOUBLE))
              |   / CAST(n AS DOUBLE)
              |   * CAST('0.7796968' AS DOUBLE)), 6) AS mu_hat"""
              .stripMargin)
      },
      Some(s"""WITH $eventsPerDaySql,
             |blocks AS (SELECT day // 30 AS m, CAST(max(c) AS BIGINT) AS mx
             |           FROM daily GROUP BY 1),
             |mom AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             |               CAST(sum(mx) AS HUGEINT) AS s,
             |               sum(CAST(mx AS HUGEINT) * CAST(mx AS HUGEINT))
             |                 AS q
             |        FROM blocks)
             |SELECT CAST(n AS BIGINT) AS n_blocks,
             |       CAST(s // n AS BIGINT) AS mean_max,
             |       round(sqrt(CAST(n * q - s * s AS DOUBLE))
             |         / CAST(n AS DOUBLE)
             |         * CAST('0.7796968' AS DOUBLE), 6) AS beta_hat,
             |       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             |         - CAST('0.5772157' AS DOUBLE)
             |         * (sqrt(CAST(n * q - s * s AS DOUBLE))
             |            / CAST(n AS DOUBLE)
             |            * CAST('0.7796968' AS DOUBLE)), 6) AS mu_hat
             |FROM mom""".stripMargin)),

    // ── Mean-excess profile: thresholds = the order-value deciles
    //    (deterministic rank cutpoints), e(u) = mean(v − u | v > u)
    //    exact integer cents. A linearly rising profile ⇒ heavy
    //    (GPD-like) tail and tells q_hill_tail where the power law
    //    starts. Cutpoints come from a DISTRIBUTED two-phase exact rank
    //    selection — a bounded value-bucket histogram locates each
    //    target rank's bucket, then a bucket-partitioned window picks
    //    the exact value at the local offset. No global single-
    //    partition sort ever touches the raw rows (the 100 TB shape);
    //    the DuckDB oracle keeps the naive global row_number, which
    //    selects the identical multiset positions.
    QueryDef("q_mean_excess",
      (s, d) => {
        val v = orderCents(s, d)
          .localCheckpoint(false) // histogram + bucket probe + excess pass
        val hist = v.groupBy(expr("v div 100000").as("bkt"))
          .agg(count(lit(1)).as("bc"))
        // Bucket axis = value range / 1e5 cents — bounded by the price
        // domain (~600 buckets), not data volume: window is safe.
        val off = hist
          .withColumn("cum", sum(col("bc")).over(Window.orderBy(col("bkt"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("prev", col("cum") - col("bc"))
        val n = v.agg(count(lit(1)).as("n"))
        val targets = n.select(col("n"),
          explode(sequence(lit(1), lit(9))).as("decile"))
          .select(col("decile"), expr("n * decile div 10").as("t_rn"))
        val probe = targets.join(off,
            col("t_rn") > col("prev") && col("t_rn") <= col("cum"))
          .select(col("decile"), col("bkt"),
            (col("t_rn") - col("prev")).as("local_rn"))
        val cuts = v.withColumn("bkt", expr("v div 100000"))
          .join(broadcast(probe), "bkt")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("decile")).orderBy(col("v"))).cast("long"))
          .filter(col("rn") === col("local_rn"))
          .select(col("decile"), col("v").as("u"))
        val exceed = v.crossJoin(broadcast(cuts))
          .filter(col("v") > col("u"))
          .groupBy(col("decile"), col("u"))
          .agg(count(lit(1)).as("n_exceed"),
            sum(col("v") - col("u")).as("excess_sum"))
        exceed.selectExpr("CAST(decile AS BIGINT) AS decile",
            "u AS threshold_cents",
            "CAST(n_exceed AS BIGINT) AS n_exceed",
            "excess_sum div n_exceed AS mean_excess_cents")
          .orderBy(col("decile"))
      },
      Some("""WITH v AS (SELECT CAST(floor(o_totalprice * 100 + 0.5)
             |                    AS BIGINT) AS v
             |           FROM orders),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
             |targets AS (SELECT d.decile, n * d.decile // 10 AS t_rn
             |            FROM n CROSS JOIN
             |              (SELECT unnest(generate_series(1, 9))
             |                 AS decile) d),
             |rk AS (SELECT v, CAST(row_number() OVER (ORDER BY v)
             |                AS BIGINT) AS rn
             |       FROM v),
             |cuts AS (SELECT decile, v AS u
             |         FROM rk JOIN targets ON rn = t_rn),
             |ex AS (SELECT decile, u,
             |              CAST(count(*) AS BIGINT) AS n_exceed,
             |              CAST(sum(v.v - u) AS BIGINT) AS excess_sum
             |       FROM v CROSS JOIN cuts WHERE v.v > u
             |       GROUP BY 1, 2)
             |SELECT CAST(decile AS BIGINT) AS decile,
             |       u AS threshold_cents, n_exceed,
             |       excess_sum // n_exceed AS mean_excess_cents
             |FROM ex""".stripMargin)),

    /* VaR breach backtest (`q_var_backtest`): fit p95 daily-revenue
     * VaR on the first half of the day axis (exact nearest-rank),
     * count tail breaches on the held-out half, and score the
     * proportion-of-failures z statistic — the Kupiec-style model
     * validation every risk pipeline runs. One floor(sqrt(double)) in
     * fixed evaluation order (the repo's deterministic-double
     * convention, as in q_grubbs). */
    // ── VaR backtest: p95 of daily revenue cents fitted on the first
    //    half of the day axis (exact nearest-rank), breaches counted
    //    on the second half; Kupiec-style z = (x − np) / √(np(1−p))
    //    with one floor(sqrt(double)) in fixed order.
    QueryDef("q_var_backtest",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 86400000000").as("day"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
          .groupBy(col("day")).agg(sum(col("c")).as("dc"))
          .localCheckpoint(false) // bounded day axis: windows ride this
        val mid = daily.agg(
          expr("(min(day) + max(day) + 1) div 2").as("mid"))
        val tagged = daily.crossJoin(broadcast(mid))
        val train = tagged.filter(col("day") < col("mid"))
        val vr = train
          .withColumn("rk", row_number().over(
            Window.orderBy(col("dc"), col("day"))))
          .crossJoin(broadcast(train.agg(count(lit(1)).as("ntr"))))
          .filter(col("rk") === expr("(95 * ntr + 99) div 100"))
          .select(col("dc").as("var95"), col("ntr"))
        tagged.filter(col("day") >= col("mid"))
          .crossJoin(broadcast(vr))
          .agg(max(col("ntr")).as("n_train"),
            count(lit(1)).as("n_test"),
            max(col("var95")).as("var95_cents"),
            sum(when(col("dc") > col("var95"), 1L).otherwise(0L))
              .as("x"))
          .selectExpr("CAST(n_train AS BIGINT) AS n_train",
            "CAST(n_test AS BIGINT) AS n_test", "var95_cents",
            "CAST(x AS BIGINT) AS n_breaches",
            "x * 1000000 div n_test AS breach_rate_e6",
            """CASE WHEN x * 1000000 - n_test * 50000 >= 0
              |  THEN (x * 1000000 - n_test * 50000) div greatest(1L,
              |    CAST(floor(sqrt(CAST(n_test * 50000 * 950000
              |      div 1000000 AS DOUBLE))) AS BIGINT))
              |  ELSE -((n_test * 50000 - x * 1000000) div greatest(1L,
              |    CAST(floor(sqrt(CAST(n_test * 50000 * 950000
              |      div 1000000 AS DOUBLE))) AS BIGINT)))
              |END AS z_e3""".stripMargin)
      },
      Some("""WITH daily AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day,
             |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
             |           AS BIGINT) AS dc
             |  FROM events GROUP BY 1),
             |mid AS (SELECT (min(day) + max(day) + 1) // 2 AS mid
             |        FROM daily),
             |train AS (SELECT d.day, d.dc FROM daily d CROSS JOIN mid
             |          WHERE d.day < mid.mid),
             |ntr AS (SELECT CAST(count(*) AS BIGINT) AS ntr FROM train),
             |vr AS (SELECT t.dc AS var95, ntr.ntr
             |       FROM (SELECT day, dc, row_number() OVER (
             |               ORDER BY dc, day) AS rk FROM train) t
             |       CROSS JOIN ntr
             |       WHERE t.rk = (95 * ntr.ntr + 99) // 100),
             |test AS (SELECT d.dc FROM daily d CROSS JOIN mid
             |         WHERE d.day >= mid.mid),
             |a AS (SELECT max(vr.ntr) AS n_train,
             |        CAST(count(*) AS BIGINT) AS n_test,
             |        max(vr.var95) AS var95_cents,
             |        CAST(sum(CASE WHEN test.dc > vr.var95 THEN 1 ELSE 0
             |          END) AS BIGINT) AS x
             |      FROM test CROSS JOIN vr)
             |SELECT n_train, n_test, var95_cents, x AS n_breaches,
             |       x * 1000000 // n_test AS breach_rate_e6,
             |       CASE WHEN x * 1000000 - n_test * 50000 >= 0
             |         THEN (x * 1000000 - n_test * 50000) // greatest(1,
             |           CAST(floor(sqrt(CAST(n_test * 50000 * 950000
             |             // 1000000 AS DOUBLE))) AS BIGINT))
             |         ELSE -((n_test * 50000 - x * 1000000) // greatest(1,
             |           CAST(floor(sqrt(CAST(n_test * 50000 * 950000
             |             // 1000000 AS DOUBLE))) AS BIGINT)))
             |       END AS z_e3
             |FROM a""".stripMargin)),

    /* Weibull fit (`q_weibull_fit`): shape/scale by the log-moment
     * method — if X~Weibull(k,λ), ln X is Gumbel(min) with
     * Var = π²/(6k²) and E = lnλ − γ/k, so k̂ = π/(√6·s_lnX) and
     * log₂λ̂ = mean_log₂X + (γ√6/π)·s_log₂X. Per-row logs ride the
     * integer log₂ ladder ([[Bm25.log2E6]]) so ALL cross-row sums are
     * integer sums; λ̂ reconstructs through the inverse ladder
     * ([[Sketches.pow2E6Expr]]) — no libm exp/log anywhere (engine
     * parity; only sqrt, which is IEEE-pinned). Companion to
     * q_block_maxima's Gumbel MoM and q_lognormal_fit. */
    // ── Weibull(k, λ) from integer log₂ moments of order totals.
    QueryDef("q_weibull_fit",
      (s, d) => {
        val m = Tables.orders(s, d)
          .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("y"))
          .where(col("y") > 0)
          .withColumn("l", Bm25.log2E6(col("y")))
          .agg(count(lit(1)).as("n"), sum(col("l")).as("sl"),
            sum(expr("CAST(l AS decimal(38,0)) * l")).as("ql"))
        m.selectExpr("n",
            """sqrt(CAST(CAST(n AS decimal(38,0)) * ql
              | - CAST(sl AS decimal(38,0)) * sl AS DOUBLE))
              | / CAST(n AS DOUBLE) AS sl2""".stripMargin,
            "CAST(sl AS DOUBLE) / CAST(n AS DOUBLE) AS ml2")
          .selectExpr("n",
            """round(CAST('1.2825498' AS DOUBLE)
              | * CAST('1000000.0' AS DOUBLE)
              | / (sl2 * CAST('0.693147' AS DOUBLE)), 6) AS k_hat"""
              .stripMargin,
            """CAST(round(ml2 + CAST('0.450054' AS DOUBLE) * sl2)
              | AS BIGINT) AS l2lam""".stripMargin,
            "round(sl2, 6) AS s_log2_e6")
          .withColumn("lambda_cents", Sketches.pow2E6Expr("l2lam"))
          .selectExpr("n", "k_hat", "s_log2_e6", "lambda_cents")
      },
      Some {
        val l = Bm25.log2E6Sql("y")
        val lam = Sketches.pow2E6Sql("l2lam")
        s"""WITH b AS (
           |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
           |  FROM orders
           |  WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > 0),
           |lg AS (SELECT $l AS l FROM b),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |             CAST(sum(l) AS HUGEINT) AS sl,
           |             sum(CAST(l AS HUGEINT) * l) AS ql FROM lg),
           |t AS (SELECT n,
           |        sqrt(CAST(CAST(n AS HUGEINT) * ql - sl * sl
           |          AS DOUBLE)) / CAST(n AS DOUBLE) AS sl2,
           |        CAST(sl AS DOUBLE) / CAST(n AS DOUBLE) AS ml2
           |      FROM m),
           |r AS (SELECT n,
           |        round(CAST('1.2825498' AS DOUBLE)
           |          * CAST('1000000.0' AS DOUBLE)
           |          / (sl2 * CAST('0.693147' AS DOUBLE)), 6) AS k_hat,
           |        CAST(round(ml2 + CAST('0.450054' AS DOUBLE) * sl2)
           |          AS BIGINT) AS l2lam,
           |        round(sl2, 6) AS s_log2_e6
           |      FROM t)
           |SELECT n, k_hat, s_log2_e6, $lam AS lambda_cents
           |FROM r""".stripMargin
      }),

    /* Tail dependence (`q_tail_dependence`): empirical copula
     * λ_U(q) = P(Y-rank > k | X-rank > k) and λ_L mirror at
     * q ∈ {0.75, 0.90} for customer (spend, order-count) — do big
     * spenders and frequent buyers coincide in the EXTREMES (what
     * q_spearman's whole-range average hides)? Ranks via row_number
     * over the VISIBLE custkey aggregate with full tie-break order, so
     * exceedance sets are engine-exact; the independence reference
     * (n−k)/n rides along per row. */
    // ── Upper/lower tail dependence of (spend, order count) ranks.
    QueryDef("q_tail_dependence",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val per = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("x"), count(lit(1)).as("yc"))
        val ranked = per
          .withColumn("rx", row_number().over(
            Window.orderBy(col("x"), col("o_custkey"))).cast("long"))
          .withColumn("ry", row_number().over(
            Window.orderBy(col("yc"), col("o_custkey"))).cast("long"))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy()).cast("long"))
        val qs = s.range(0, 2).select(
          expr("element_at(array(750L, 900L), CAST(id + 1 AS INT))")
            .as("q_e3"))
        ranked.crossJoin(broadcast(qs))
          .withColumn("k", expr("(q_e3 * n) div 1000"))
          .groupBy(col("q_e3"))
          .agg(max(col("n")).as("n"), max(col("k")).as("k"),
            sum(expr("CASE WHEN rx > k AND ry > k THEN 1 ELSE 0 END"))
              .as("joint_hi"),
            sum(expr("CASE WHEN rx <= n - k AND ry <= n - k THEN 1" +
              " ELSE 0 END")).as("joint_lo"))
          .selectExpr("q_e3", "n", "k", "joint_hi", "joint_lo",
            "joint_hi * 1000000 div greatest(1L, n - k) AS lambda_u_e6",
            "joint_lo * 1000000 div greatest(1L, n - k) AS lambda_l_e6",
            "(n - k) * 1000000 div n AS indep_e6")
      },
      Some("""WITH per AS (
             |  SELECT o_custkey,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS x,
             |         CAST(count(*) AS BIGINT) AS yc
             |  FROM orders GROUP BY 1),
             |rk AS (SELECT o_custkey, x, yc,
             |         CAST(row_number() OVER (ORDER BY x, o_custkey)
             |           AS BIGINT) AS rx,
             |         CAST(row_number() OVER (ORDER BY yc, o_custkey)
             |           AS BIGINT) AS ry,
             |         CAST(count(*) OVER () AS BIGINT) AS n
             |       FROM per),
             |g AS (SELECT q_e3, rx, ry, n, (q_e3 * n) // 1000 AS k
             |      FROM rk CROSS JOIN (VALUES (CAST(750 AS BIGINT)),
             |        (CAST(900 AS BIGINT))) t(q_e3))
             |SELECT q_e3, max(n) AS n, max(k) AS k,
             |       CAST(sum(CASE WHEN rx > k AND ry > k THEN 1
             |                     ELSE 0 END) AS BIGINT) AS joint_hi,
             |       CAST(sum(CASE WHEN rx <= n - k AND ry <= n - k
             |                     THEN 1 ELSE 0 END) AS BIGINT)
             |         AS joint_lo,
             |       CAST(sum(CASE WHEN rx > k AND ry > k THEN 1
             |                     ELSE 0 END) AS BIGINT) * 1000000
             |         // greatest(1, max(n) - max(k)) AS lambda_u_e6,
             |       CAST(sum(CASE WHEN rx <= n - k AND ry <= n - k
             |                     THEN 1 ELSE 0 END) AS BIGINT) * 1000000
             |         // greatest(1, max(n) - max(k)) AS lambda_l_e6,
             |       (max(n) - max(k)) * 1000000 // max(n) AS indep_e6
             |FROM g GROUP BY 1""".stripMargin)),

    /* Sharpe / Sortino (`q_sharpe_sortino`): monthly revenue growth
     * treated as a return series — mean/σ and mean/downside-σ, the
     * risk-adjusted pair next to q_max_drawdown / q_var_es. Returns
     * are e6 integers from the lag window over the VISIBLE monthly
     * aggregate; two moment sets, one double close each. */
    // ── Sharpe / Sortino of monthly revenue growth.
    QueryDef("q_sharpe_sortino",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val monthly = Tables.lineitem(s, d)
          .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
            " div 2592000000000").as("mo"))
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5)
            .cast("long")).as("x"))
        val ret = monthly
          .withColumn("xl", lag(col("x"), 1).over(Window.orderBy("mo")))
          .where(col("xl").isNotNull && col("xl") > 0)
          .selectExpr("(x - xl) * 1000000 div xl AS r")
        ret.agg(count(lit(1)).as("n"), sum(col("r")).as("sr"),
            sum(expr(s"CAST(r AS $dec) * r")).as("qr"),
            sum(expr(s"CASE WHEN r < 0 THEN CAST(r AS $dec) * r" +
              " ELSE CAST(0 AS decimal(38,0)) END")).as("qd"))
          .selectExpr("n", "sr div n AS mean_ret_e6",
            s"""CASE WHEN CAST(n AS $dec) * qr
               | - CAST(sr AS $dec) * sr = 0 THEN NULL
               |ELSE round(CAST(sr AS DOUBLE)
               |  / sqrt(CAST(CAST(n AS $dec) * qr
               |     - CAST(sr AS $dec) * sr AS DOUBLE)), 6)
               |END AS sharpe""".stripMargin,
            """CASE WHEN qd = 0 THEN NULL
              |ELSE round(CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)
              |  / sqrt(CAST(qd AS DOUBLE) / CAST(n AS DOUBLE)), 6)
              |END AS sortino""".stripMargin)
      },
      Some("""WITH monthly AS (
             |  SELECT epoch_us(l_shipdate) // 2592000000000 AS mo,
             |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS x
             |  FROM lineitem GROUP BY 1),
             |ret AS (SELECT (x - xl) * 1000000 // xl AS r
             |        FROM (SELECT x, lag(x) OVER (ORDER BY mo) AS xl
             |              FROM monthly)
             |        WHERE xl IS NOT NULL AND xl > 0),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(r) AS BIGINT) AS sr,
             |             sum(CAST(r AS HUGEINT) * r) AS qr,
             |             sum(CASE WHEN r < 0 THEN CAST(r AS HUGEINT) * r
             |                      ELSE CAST(0 AS HUGEINT) END) AS qd
             |      FROM ret)
             |SELECT n, sr // n AS mean_ret_e6,
             |       CASE WHEN CAST(n AS HUGEINT) * qr
             |           - CAST(sr AS HUGEINT) * sr = 0 THEN NULL
             |       ELSE round(CAST(sr AS DOUBLE)
             |         / sqrt(CAST(CAST(n AS HUGEINT) * qr
             |            - CAST(sr AS HUGEINT) * sr AS DOUBLE)), 6)
             |       END AS sharpe,
             |       CASE WHEN qd = 0 THEN NULL
             |       ELSE round(CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)
             |         / sqrt(CAST(qd AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             |       END AS sortino
             |FROM m""".stripMargin)),

    /* GPD fit (`q_gpd_fit`): method-of-moments generalized-Pareto
     * ξ/β on order-value excesses over a data-derived 1.5×mean
     * threshold — the peaks-over-threshold companion to
     * q_block_maxima's Gumbel and q_hill_tail's tail index. Integer
     * excess moments; two double closes. */
    // ── GPD MoM on excesses over a 1.5×mean threshold.
    QueryDef("q_gpd_fit",
      (s, d) => {
        val y = Tables.orders(s, d)
          .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("y"))
          .localCheckpoint(false) // threshold + excess moments
        val u = y.agg(expr("3 * (sum(y) div count(*)) div 2").as("u"))
        y.crossJoin(broadcast(u))
          .where(col("y") > col("u"))
          .selectExpr("y - u AS e", "u")
          .groupBy(col("u"))
          .agg(count(lit(1)).as("n"), sum(col("e")).as("se"),
            sum(expr("CAST(e AS decimal(38,0)) * e")).as("qe"))
          .selectExpr("u AS u_cents", "n AS n_exceed",
            "se div n AS mean_excess_cents",
            // m²/s² exactly: se² / (n·qe − se²)
            """CASE WHEN CAST(n AS decimal(38,0)) * qe
              |  - CAST(se AS decimal(38,0)) * se = 0 THEN NULL
              |ELSE round(CAST('0.5' AS DOUBLE) * (CAST('1.0' AS DOUBLE)
              | - CAST(CAST(se AS decimal(38,0)) * se AS DOUBLE)
              |   / CAST(CAST(n AS decimal(38,0)) * qe
              |     - CAST(se AS decimal(38,0)) * se AS DOUBLE)), 6)
              |END AS xi""".stripMargin,
            """CASE WHEN CAST(n AS decimal(38,0)) * qe
              |  - CAST(se AS decimal(38,0)) * se = 0 THEN NULL
              |ELSE round(CAST('0.5' AS DOUBLE) * CAST(se AS DOUBLE)
              | / CAST(n AS DOUBLE) * (CAST('1.0' AS DOUBLE)
              | + CAST(CAST(se AS decimal(38,0)) * se AS DOUBLE)
              |   / CAST(CAST(n AS decimal(38,0)) * qe
              |     - CAST(se AS decimal(38,0)) * se AS DOUBLE)), 6)
              |END AS beta_cents""".stripMargin)
      },
      Some("""WITH y AS (
             |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           AS y
             |  FROM orders),
             |u AS (SELECT 3 * (CAST(sum(y) AS BIGINT)
             |        // CAST(count(*) AS BIGINT)) // 2 AS u FROM y),
             |ex AS (SELECT y - u AS e, u FROM y CROSS JOIN u
             |       WHERE y > u),
             |m AS (SELECT u, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(e) AS BIGINT) AS se,
             |             sum(CAST(e AS HUGEINT) * e) AS qe
             |      FROM ex GROUP BY 1)
             |SELECT u AS u_cents, n AS n_exceed,
             |       se // n AS mean_excess_cents,
             |       CASE WHEN CAST(n AS HUGEINT) * qe
             |           - CAST(se AS HUGEINT) * se = 0 THEN NULL
             |       ELSE round(CAST('0.5' AS DOUBLE) * (CAST('1.0' AS DOUBLE)
             |         - CAST(CAST(se AS HUGEINT) * se AS DOUBLE)
             |           / CAST(CAST(n AS HUGEINT) * qe
             |             - CAST(se AS HUGEINT) * se AS DOUBLE)), 6)
             |       END AS xi,
             |       CASE WHEN CAST(n AS HUGEINT) * qe
             |           - CAST(se AS HUGEINT) * se = 0 THEN NULL
             |       ELSE round(CAST('0.5' AS DOUBLE) * CAST(se AS DOUBLE)
             |         / CAST(n AS DOUBLE) * (CAST('1.0' AS DOUBLE)
             |         + CAST(CAST(se AS HUGEINT) * se AS DOUBLE)
             |           / CAST(CAST(n AS HUGEINT) * qe
             |             - CAST(se AS HUGEINT) * se AS DOUBLE)), 6)
             |       END AS beta_cents
             |FROM m""".stripMargin)),

    /* Duane growth (`q_duane_growth`): N(t) ≈ λt^β on cumulative
     * monthly return counts — β from the log-log regression, entirely
     * on the integer log₂ ladder (both axes), so the slope is
     * engine-exact. β < 1 = reliability growth (returns decelerating),
     * the standard hardware-reliability read applied to return flow. */
    // ── Duane: slope of log₂N(cum returns) on log₂(month index).
    QueryDef("q_duane_growth",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val monthly = Tables.lineitem(s, d)
          .where(col("l_returnflag") === "R")
          .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
            " div 2592000000000").as("mo"))
          .agg(count(lit(1)).as("f"))
        val cum = monthly
          .withColumn("t",
            row_number().over(Window.orderBy("mo")).cast("long"))
          .withColumn("cn", sum(col("f")).over(Window.orderBy("mo")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("lx", Bm25.log2E6(col("t")))
          .withColumn("ly", Bm25.log2E6(col("cn")))
        cum.agg(count(lit(1)).as("n"), sum(col("lx")).as("sx"),
            sum(col("ly")).as("sy"),
            sum(expr(s"CAST(lx AS $dec) * lx")).as("sxx"),
            sum(expr(s"CAST(lx AS $dec) * ly")).as("sxy"))
          .selectExpr("CAST(n AS BIGINT) AS n_months",
            s"""CASE WHEN CAST(n AS $dec) * sxx
               | - CAST(sx AS $dec) * sx = 0 THEN NULL
               |ELSE round(CAST(CAST(n AS $dec) * sxy
               |    - CAST(sx AS $dec) * sy AS DOUBLE)
               |  / CAST(CAST(n AS $dec) * sxx
               |    - CAST(sx AS $dec) * sx AS DOUBLE), 6)
               |END AS beta""".stripMargin)
      },
      Some {
        val lt = Bm25.log2E6Sql("t")
        val ln = Bm25.log2E6Sql("cn")
        s"""WITH monthly AS (
           |  SELECT epoch_us(l_shipdate) // 2592000000000 AS mo,
           |         CAST(count(*) AS BIGINT) AS f
           |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
           |cum AS (SELECT CAST(row_number() OVER (ORDER BY mo)
           |          AS BIGINT) AS t,
           |          CAST(sum(f) OVER (ORDER BY mo
           |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
           |        FROM monthly),
           |lg AS (SELECT $lt AS lx, $ln AS ly FROM cum),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |             CAST(sum(lx) AS HUGEINT) AS sx,
           |             CAST(sum(ly) AS HUGEINT) AS sy,
           |             sum(CAST(lx AS HUGEINT) * lx) AS sxx,
           |             sum(CAST(lx AS HUGEINT) * ly) AS sxy
           |      FROM lg)
           |SELECT n AS n_months,
           |       CASE WHEN CAST(n AS HUGEINT) * sxx - sx * sx = 0
           |         THEN NULL
           |       ELSE round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy
           |           AS DOUBLE)
           |         / CAST(CAST(n AS HUGEINT) * sxx - sx * sx
           |           AS DOUBLE), 6)
           |       END AS beta
           |FROM m""".stripMargin
      }),

    /* Zero inflation (`q_zero_inflation`): observed zero (user, day)
     * activity cells vs the Poisson expectation U·D·e^(−λ̂) — e^(−λ)
     * through the 2^(−x) ladder (λ·log₂e in e6). The excess-zeros
     * ratio is THE screen before fitting any count model. */
    // ── Zero inflation: observed vs Poisson-expected zero cells.
    QueryDef("q_zero_inflation",
      (s, d) => {
        val cells = Tables.events(s, d)
          .select(col("user_id").as("u"),
            expr("unix_micros(ts) div 86400000000").as("day"))
        val m = cells.agg(
          countDistinct(col("u")).as("uu"),
          countDistinct(col("day")).as("dd"),
          count(lit(1)).as("tot"))
        val nz = cells.distinct().agg(count(lit(1)).as("nonzero"))
        // All wide products go through decimal(38,0) (HUGEINT on the
        // oracle side): uu*dd*p0_e6 overflows BIGINT once uu*dd exceeds
        // ~9.2e12 cells — below the 100 TB scale this file reasons
        // about, and Spark non-ANSI would wrap silently where DuckDB
        // errors, breaking oracle parity. `div` lands back in BIGINT.
        m.crossJoin(broadcast(nz))
          .selectExpr("uu", "dd", "tot", "nonzero",
            "CAST(CAST(uu AS decimal(38,0)) * dd - nonzero AS BIGINT)" +
              " AS zeros_obs",
            "CAST(tot AS decimal(38,0)) * 1000000" +
              " div (CAST(uu AS decimal(38,0)) * dd) AS lambda_e6")
          .withColumn("y",
            expr("CAST(lambda_e6 AS decimal(38,0)) * 1442695 div 1000000"))
          .withColumn("p0_e6", Sketches.pow2NegE6Expr("y"))
          .selectExpr("uu", "dd", "zeros_obs", "lambda_e6",
            "CAST(uu AS decimal(38,0)) * dd * p0_e6 div 1000000" +
              " AS zeros_expected",
            """CASE WHEN CAST(uu AS decimal(38,0)) * dd * p0_e6
              |  div 1000000 = 0 THEN NULL
              |ELSE CAST(zeros_obs AS decimal(38,0)) * 1000000
              |  div (CAST(uu AS decimal(38,0)) * dd * p0_e6 div 1000000)
              |END AS excess_ratio_e6""".stripMargin)
      },
      Some {
        val p0 = Sketches.pow2NegE6Sql("y")
        s"""WITH cells AS (
           |  SELECT user_id AS u, epoch_us(ts) // 86400000000 AS day
           |  FROM events),
           |m AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS uu,
           |             CAST(count(DISTINCT day) AS BIGINT) AS dd,
           |             CAST(count(*) AS BIGINT) AS tot
           |      FROM cells),
           |nz AS (SELECT CAST(count(*) AS BIGINT) AS nonzero
           |       FROM (SELECT DISTINCT u, day FROM cells)),
           |b AS (SELECT uu, dd, tot, nonzero,
           |        CAST(CAST(uu AS HUGEINT) * dd - nonzero AS BIGINT)
           |          AS zeros_obs,
           |        CAST(CAST(tot AS HUGEINT) * 1000000
           |          // (CAST(uu AS HUGEINT) * dd) AS BIGINT) AS lambda_e6
           |      FROM m CROSS JOIN nz),
           |c AS (SELECT *, CAST(CAST(lambda_e6 AS HUGEINT) * 1442695
           |        // 1000000 AS BIGINT) AS y FROM b),
           |e AS (SELECT uu, dd, zeros_obs, lambda_e6,
           |        CAST(CAST(uu AS HUGEINT) * dd * $p0 // 1000000 AS BIGINT)
           |          AS zeros_expected
           |      FROM c)
           |SELECT uu, dd, zeros_obs, lambda_e6, zeros_expected,
           |       CASE WHEN zeros_expected = 0 THEN NULL
           |       ELSE CAST(CAST(zeros_obs AS HUGEINT) * 1000000
           |         // zeros_expected AS BIGINT)
           |       END AS excess_ratio_e6
           |FROM e""".stripMargin
      }),

    /* Hill estimator (`q_hill_estimator`): tail index of order value
     * from the top-k=100 order statistics, ξ̂ = (1/k)Σ ln(x_(i)/x_(k+1)).
     * The top-(k+1) extraction is a TakeOrderedAndProject (never a
     * global sort); ties at the boundary are value-identical so row
     * choice cannot change the estimate. Logs via the shared integer
     * log₂, ln2 e6 close. */
    // ── Hill tail-index from the top-101 order values.
    QueryDef("q_hill_estimator",
      (s, d) => {
        val topk = Tables.orders(s, d)
          .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("x"))
          .orderBy(col("x").desc).limit(101)
          .localCheckpoint(false) // 101 rows
        val thr = topk.agg(min(col("x")).as("xk"))
        topk.crossJoin(broadcast(thr))
          .where(col("x") > col("xk"))
          .agg(count(lit(1)).as("k"),
            sum(Bm25.log2E6(col("x")) - Bm25.log2E6(col("xk")))
              .as("sl"))
          .selectExpr("k",
            """CASE WHEN k = 0 THEN NULL
              |ELSE (sl div k) * 693147 div 1000000
              |END AS hill_xi_e6""".stripMargin)
      },
      Some {
        def L(v: String) = s"CAST(${Bm25.log2E6Sql(v)} AS BIGINT)"
        s"""WITH topk AS (
           |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x
           |  FROM orders ORDER BY x DESC LIMIT 101),
           |thr AS (SELECT min(x) AS xk FROM topk),
           |ag AS (SELECT CAST(count(*) AS BIGINT) AS k,
           |         CAST(sum(${L("x")} - ${L("xk")}) AS BIGINT) AS sl
           |       FROM topk CROSS JOIN thr WHERE x > xk)
           |SELECT k,
           |       CASE WHEN k = 0 THEN NULL
           |       ELSE (sl // k) * 693147 // 1000000
           |       END AS hill_xi_e6
           |FROM ag""".stripMargin
      }),

    /* GPD moment fit (`q_pot_gpd`): peaks-over-threshold with
     * u = $400k — method-of-moments ξ̂ = ½(1−ȳ²/s²), σ̂ = ½ȳ(ȳ²/s²+1)
     * over exceedances. Exact BIGINT moments (n·Σy² − (Σy)² form), two
     * double closes. The parametric tail companion to
     * q_hill_estimator's nonparametric index. */
    // ── GPD moment estimators over $400k exceedances.
    QueryDef("q_pot_gpd",
      (s, d) => {
        val y = Tables.orders(s, d)
          .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)" +
            " - 40000000").as("y"))
          .where(col("y") > 0L)
        y.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
            sum(expr(s"CAST(y AS $dec) * y")).as("sy2"))
          .selectExpr("n", "sy div n AS mean_y",
            s"""CASE WHEN n < 2 OR CAST(n AS $dec) * sy2
               |    - CAST(sy AS $dec) * sy <= 0 THEN NULL
               |ELSE CAST(round((CAST('1.0' AS DOUBLE)
               |  - CAST(CAST(sy AS $dec) * sy AS DOUBLE) * (n - 1)
               |    / CAST(n AS DOUBLE)
               |    / CAST(CAST(n AS $dec) * sy2 - CAST(sy AS $dec) * sy
               |        AS DOUBLE))
               |  * CAST('500000.0' AS DOUBLE)) AS BIGINT)
               |END AS xi_e6""".stripMargin,
            s"""CASE WHEN n < 2 OR CAST(n AS $dec) * sy2
               |    - CAST(sy AS $dec) * sy <= 0 THEN NULL
               |ELSE CAST(round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
               |  * (CAST(CAST(sy AS $dec) * sy AS DOUBLE) * (n - 1)
               |     / CAST(n AS DOUBLE)
               |     / CAST(CAST(n AS $dec) * sy2 - CAST(sy AS $dec) * sy
               |         AS DOUBLE)
               |     + CAST('1.0' AS DOUBLE))
               |  * CAST('0.5' AS DOUBLE)) AS BIGINT)
               |END AS sigma_cents""".stripMargin)
      },
      Some("""WITH y AS (
             |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           - 40000000 AS y
             |  FROM orders
             |  WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |          - 40000000 > 0),
             |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(y) AS BIGINT) AS sy,
             |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sy2
             |       FROM y)
             |SELECT n, sy // n AS mean_y,
             |       CASE WHEN n < 2 OR CAST(n AS HUGEINT) * sy2
             |           - CAST(sy AS HUGEINT) * sy <= 0 THEN NULL
             |       ELSE CAST(round((CAST('1.0' AS DOUBLE)
             |         - CAST(CAST(sy AS HUGEINT) * sy AS DOUBLE) * (n - 1)
             |           / CAST(n AS DOUBLE)
             |           / CAST(CAST(n AS HUGEINT) * sy2
             |               - CAST(sy AS HUGEINT) * sy AS DOUBLE))
             |         * CAST('500000.0' AS DOUBLE)) AS BIGINT)
             |       END AS xi_e6,
             |       CASE WHEN n < 2 OR CAST(n AS HUGEINT) * sy2
             |           - CAST(sy AS HUGEINT) * sy <= 0 THEN NULL
             |       ELSE CAST(round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
             |         * (CAST(CAST(sy AS HUGEINT) * sy AS DOUBLE) * (n - 1)
             |            / CAST(n AS DOUBLE)
             |            / CAST(CAST(n AS HUGEINT) * sy2
             |                - CAST(sy AS HUGEINT) * sy AS DOUBLE)
             |            + CAST('1.0' AS DOUBLE))
             |         * CAST('0.5' AS DOUBLE)) AS BIGINT)
             |       END AS sigma_cents
             |FROM ag""".stripMargin)),

    /* Running records (`q_records_count`): number of record-high
     * revenue days vs the H_n = Σ1/t expectation under exchangeability
     * — a distribution-free trend probe (records ≫ H_n ⇒ growth). Day
     * index and record flag from ONE calendar-bounded broadcast
     * self-join; the harmonic sum is exact integer e6 per term. */
    // ── Record-high revenue days vs the H_n expectation.
    QueryDef("q_records_count",
      (s, d) => {
        val daily = ordersDailyHecto(s, d)
          .localCheckpoint(false) // calendar-bounded, self-joined
        val idx = daily.as("a")
          .join(broadcast(daily.as("b")), col("b.dt") < col("a.dt"),
            "left")
          .groupBy(col("a.dt").as("dt"), col("a.x").as("x"))
          .agg((count(col("b.dt")) + 1L).as("t"),
            sum(when(col("b.x") >= col("a.x"), 1L).otherwise(0L))
              .as("geq"))
        idx.agg(count(lit(1)).as("n_days"),
            sum(when(col("geq").isNull || col("geq") === 0L, 1L)
              .otherwise(0L)).as("records"),
            sum(expr("(1000000000 div t)")).as("h_e9"))
          .selectExpr("n_days", "records", "h_e9 div 1000 AS expected_e6")
      },
      Some(s"""WITH $ordersDailyHectoDtSql,
             |idx AS (SELECT a.dt, a.x,
             |          CAST(count(b.dt) + 1 AS BIGINT) AS t,
             |          CAST(sum(CASE WHEN b.x >= a.x THEN 1 ELSE 0 END)
             |            AS BIGINT) AS geq
             |        FROM daily a LEFT JOIN daily b ON b.dt < a.dt
             |        GROUP BY 1, 2)
             |SELECT CAST(count(*) AS BIGINT) AS n_days,
             |       CAST(sum(CASE WHEN geq IS NULL OR geq = 0
             |         THEN 1 ELSE 0 END) AS BIGINT) AS records,
             |       CAST(sum(1000000000 // t) AS BIGINT) // 1000
             |         AS expected_e6
             |FROM idx""".stripMargin)),

    /* Gumbel fit (`q_gumbel_fit`): monthly block maxima of daily
     * revenue → method-of-moments β̂ = s√6/π, μ̂ = x̄ − γβ̂, plus the
     * 12-block return level μ̂ − β̂·ln(−ln(1−1/12)). The block-maxima
     * companion to q_pot_gpd's threshold route. Exact BIGINT moments
     * over the calendar-bounded maxima; constants embedded as quoted
     * doubles so both engines parse identical IEEE values. */
    // ── Gumbel MOM on monthly maxima of daily revenue.
    QueryDef("q_gumbel_fit",
      (s, d) => {
        val mx = Tables.orders(s, d)
          .groupBy(col("o_orderdate").as("dt"))
          .agg(sum(expr("CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT)"))
            .as("x"))
          .groupBy(expr("CAST(date_trunc('month', dt) AS DATE)").as("mo"))
          .agg(max(col("x")).as("z"))
        mx.agg(count(lit(1)).as("b"), sum(col("z")).as("sz"),
            sum(expr(s"CAST(z AS $dec) * z")).as("sz2"))
          .selectExpr("b", "sz div b AS mean_max",
            s"""CASE WHEN b < 2 OR CAST(b AS $dec) * sz2
               |    - CAST(sz AS $dec) * sz <= 0 THEN NULL
               |ELSE CAST(round(sqrt(
               |    CAST(CAST(b AS $dec) * sz2 - CAST(sz AS $dec) * sz
               |      AS DOUBLE) / CAST(b AS DOUBLE)
               |    / CAST(b - 1 AS DOUBLE))
               |  * sqrt(CAST('6.0' AS DOUBLE))
               |  / CAST('3.141592653589793' AS DOUBLE)) AS BIGINT)
               |END AS beta_hecto""".stripMargin)
          .selectExpr("b", "mean_max", "beta_hecto",
            """CASE WHEN beta_hecto IS NULL THEN NULL
              |ELSE mean_max - CAST(round(
              |  CAST('0.5772156649015329' AS DOUBLE)
              |  * CAST(beta_hecto AS DOUBLE)) AS BIGINT)
              |END AS mu_hecto""".stripMargin)
          .selectExpr("b", "mean_max", "beta_hecto", "mu_hecto",
            """CASE WHEN beta_hecto IS NULL THEN NULL
              |ELSE mu_hecto - CAST(round(CAST(beta_hecto AS DOUBLE)
              |  * ln(-ln(CAST('1.0' AS DOUBLE)
              |           - CAST('1.0' AS DOUBLE)
              |             / CAST('12.0' AS DOUBLE)))) AS BIGINT)
              |END AS rl12_hecto""".stripMargin)
      },
      Some(s"""WITH $ordersDailyHectoDtSql,
             |mx AS (SELECT CAST(date_trunc('month', dt) AS DATE) AS mo,
             |         CAST(max(x) AS BIGINT) AS z
             |       FROM daily GROUP BY 1),
             |ag AS (SELECT CAST(count(*) AS BIGINT) AS b,
             |         CAST(sum(z) AS BIGINT) AS sz,
             |         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS sz2
             |       FROM mx),
             |k1 AS (SELECT b, sz // b AS mean_max,
             |         CASE WHEN b < 2 OR CAST(b AS HUGEINT) * sz2
             |             - CAST(sz AS HUGEINT) * sz <= 0 THEN NULL
             |         ELSE CAST(round(sqrt(
             |             CAST(CAST(b AS HUGEINT) * sz2
             |               - CAST(sz AS HUGEINT) * sz AS DOUBLE)
             |             / CAST(b AS DOUBLE) / CAST(b - 1 AS DOUBLE))
             |           * sqrt(CAST('6.0' AS DOUBLE))
             |           / CAST('3.141592653589793' AS DOUBLE)) AS BIGINT)
             |         END AS beta_hecto
             |       FROM ag),
             |k2 AS (SELECT b, mean_max, beta_hecto,
             |         CASE WHEN beta_hecto IS NULL THEN NULL
             |         ELSE mean_max - CAST(round(
             |           CAST('0.5772156649015329' AS DOUBLE)
             |           * CAST(beta_hecto AS DOUBLE)) AS BIGINT)
             |         END AS mu_hecto
             |       FROM k1)
             |SELECT b, mean_max, beta_hecto, mu_hecto,
             |       CASE WHEN beta_hecto IS NULL THEN NULL
             |       ELSE mu_hecto - CAST(round(CAST(beta_hecto AS DOUBLE)
             |         * ln(-ln(CAST('1.0' AS DOUBLE)
             |                  - CAST('1.0' AS DOUBLE)
             |                    / CAST('12.0' AS DOUBLE)))) AS BIGINT)
             |       END AS rl12_hecto
             |FROM k2""".stripMargin)),

    /* NBD moment fit (`q_nbd_fit`): gamma-Poisson overdispersion of
     * part popularity — r̂ = m²/(s²−m), p̂ = m/s², dispersion index
     * s²/m. Flags whether a Poisson (dispersion ≈ 1) or NBD regime
     * holds; exact moments, double closes. */
    // ── NBD / gamma-Poisson overdispersion of part popularity.
    QueryDef("q_nbd_fit",
      (s, d) => {
        val freq = Tables.lineitem(s, d)
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
        freq.agg(count(lit(1)).as("dd"), sum(col("c")).as("n"),
            sum(col("c") * col("c")).as("c2"))
          .selectExpr("dd", "n",
            """CASE WHEN dd < 2 THEN NULL
              |ELSE CAST(round(
              |  (CAST(dd AS DOUBLE) * CAST(c2 AS DOUBLE)
              |   - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
              |  / CAST(dd AS DOUBLE) / CAST(dd - 1 AS DOUBLE)
              |  / (CAST(n AS DOUBLE) / CAST(dd AS DOUBLE))
              |  * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
              |END AS dispersion_e6""".stripMargin,
            """CASE WHEN dd < 2
              |  OR (CAST(dd AS DOUBLE) * CAST(c2 AS DOUBLE)
              |      - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
              |     / CAST(dd AS DOUBLE) / CAST(dd - 1 AS DOUBLE)
              |     <= CAST(n AS DOUBLE) / CAST(dd AS DOUBLE) THEN NULL
              |ELSE CAST(round(
              |  (CAST(n AS DOUBLE) / CAST(dd AS DOUBLE))
              |  * (CAST(n AS DOUBLE) / CAST(dd AS DOUBLE))
              |  / ((CAST(dd AS DOUBLE) * CAST(c2 AS DOUBLE)
              |      - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
              |     / CAST(dd AS DOUBLE) / CAST(dd - 1 AS DOUBLE)
              |     - CAST(n AS DOUBLE) / CAST(dd AS DOUBLE))
              |  * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
              |END AS r_e6""".stripMargin)
      },
      Some("""WITH freq AS (
             |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem GROUP BY 1),
             |ag AS (SELECT CAST(count(*) AS BIGINT) AS dd,
             |         CAST(sum(c) AS BIGINT) AS n,
             |         CAST(sum(c * c) AS BIGINT) AS c2
             |       FROM freq)
             |SELECT dd, n,
             |       CASE WHEN dd < 2 THEN NULL
             |       ELSE CAST(round(
             |         (CAST(dd AS DOUBLE) * CAST(c2 AS DOUBLE)
             |          - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             |         / CAST(dd AS DOUBLE) / CAST(dd - 1 AS DOUBLE)
             |         / (CAST(n AS DOUBLE) / CAST(dd AS DOUBLE))
             |         * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
             |       END AS dispersion_e6,
             |       CASE WHEN dd < 2
             |         OR (CAST(dd AS DOUBLE) * CAST(c2 AS DOUBLE)
             |             - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             |            / CAST(dd AS DOUBLE) / CAST(dd - 1 AS DOUBLE)
             |            <= CAST(n AS DOUBLE) / CAST(dd AS DOUBLE)
             |       THEN NULL
             |       ELSE CAST(round(
             |         (CAST(n AS DOUBLE) / CAST(dd AS DOUBLE))
             |         * (CAST(n AS DOUBLE) / CAST(dd AS DOUBLE))
             |         / ((CAST(dd AS DOUBLE) * CAST(c2 AS DOUBLE)
             |             - CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             |            / CAST(dd AS DOUBLE) / CAST(dd - 1 AS DOUBLE)
             |            - CAST(n AS DOUBLE) / CAST(dd AS DOUBLE))
             |         * CAST('1000000.0' AS DOUBLE)) AS BIGINT)
             |       END AS r_e6
             |FROM ag""".stripMargin))
  )
}
