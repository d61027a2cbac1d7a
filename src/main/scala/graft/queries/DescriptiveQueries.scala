package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Anomaly, Quantiles, Ranks}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Descriptive and robust statistics: exact percentiles and medians, robust
  * location/scale, shape, circular statistics, and univariate outlier
  * rules. */
object DescriptiveQueries extends QueryCatalog {

  import Fixtures._

  /** Customer balances in cents ranked within their segment: (seg, ck,
    * v, rn, n = segment size). */
  private def segBalanceRanks(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_mktsegment").as("seg"), col("c_custkey").as("ck"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("v"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("seg")).orderBy(col("v"), col("ck"))))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("seg"))))

  /** Customer balance cents per segment: CTE `u` (seg, ck, v). */
  private val segBalanceSql =
    """u AS (SELECT c_mktsegment AS seg, c_custkey AS ck,
      |                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
      |                   AS v
      |          FROM customer)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Exact-integer z-score outlier profile ([[Anomaly]]): the
    //    |x−μ| > 3σ test squared into wide-integer algebra so the decision
    //    can never flip on FP summation order — per event type.
    QueryDef("q_anomaly_zscore",
      (s, d) => Anomaly.zscoreProfile(Tables.events(s, d), "event_type", "value"),
      Some("""WITH c AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS x_c
             |           FROM events),
             |st AS (SELECT event_type, count(*) AS n, CAST(sum(x_c) AS BIGINT) AS s,
             |              CAST(sum(x_c * x_c) AS BIGINT) AS q
             |       FROM c GROUP BY 1),
             |j AS (SELECT c.event_type, c.x_c, st.n, st.s, st.q
             |      FROM c JOIN st USING (event_type))
             |SELECT event_type, max(n) AS n,
             |       CAST(sum(CASE WHEN CAST(n * x_c - s AS HUGEINT) * CAST(n * x_c - s AS HUGEINT)
             |                        > (CAST(n AS HUGEINT) * CAST(q AS HUGEINT)
             |                           - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) * 9
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM j GROUP BY 1""".stripMargin)),

    // ── Robust per-type outliers: |v − median| > 3·MAD, all integer.
    QueryDef("q_mad_outliers",
      (s, d) => Anomaly.madProfile(
        Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "event_type", "cents", 3L),
      Some("""WITH v AS (SELECT event_type AS g,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
             |           FROM events),
             |st AS (SELECT g, count(*) AS n,
             |              (count(*) * 500000 + 999999) // 1000000 AS k1 FROM v GROUP BY g),
             |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn FROM v),
             |med AS (SELECT r.g, r.v AS med FROM r JOIN st ON st.g = r.g AND r.rn = st.k1),
             |dv AS (SELECT v.g, abs(v.v - med.med) AS adev, med.med
             |       FROM v JOIN med ON med.g = v.g),
             |r2 AS (SELECT g, adev, row_number() OVER (PARTITION BY g ORDER BY adev) AS rn
             |       FROM dv),
             |mad AS (SELECT r2.g, r2.adev AS mad FROM r2
             |        JOIN st ON st.g = r2.g AND r2.rn = st.k1)
             |SELECT dv.g, dv.med, mad.mad, CAST(count(*) AS BIGINT) AS n_points,
             |       CAST(sum(CASE WHEN dv.adev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_outliers
             |FROM dv JOIN mad ON mad.g = dv.g
             |GROUP BY dv.g, dv.med, mad.mad""".stripMargin)),

    // ── Exact p50/p90/p99 of lineitem extended price (cents) by
    //    histogram-refined selection — no total sort; oracle is the
    //    ORDER BY/OFFSET definition of the k-th order statistic.
    QueryDef("q_exact_percentiles",
      (s, d) => Quantiles.exactPercentiles(
        Tables.lineitem(s, d)
          .select(floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents")),
        "cents", Seq(500000L, 900000L, 990000L)),
      Some("""WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
             |           FROM lineitem),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
             |ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
             |ps AS (SELECT CAST(p AS BIGINT) AS p_e6,
             |              (SELECT (n * p + 999999) // 1000000 FROM n) AS k
             |       FROM (VALUES (500000), (900000), (990000)) t(p))
             |SELECT ps.p_e6, ps.k, (SELECT n FROM n) AS n_rows, r.v AS value
             |FROM ps JOIN ranked r ON r.rn = ps.k""".stripMargin)),

    // ── Grouped exact median: per return-flag median of extended price
    //    cents via the distributed per-group histogram selection.
    QueryDef("q_grouped_median",
      (s, d) => Quantiles.groupedPercentile(
        Tables.lineitem(s, d).select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents")),
        "l_returnflag", "cents", 500000L),
      Some("""WITH v AS (SELECT l_returnflag AS g,
             |                 CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
             |           FROM lineitem),
             |st AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             |              (count(*) * 500000 + 999999) // 1000000 AS k
             |       FROM v GROUP BY g),
             |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
             |      FROM v)
             |SELECT r.g, CAST(500000 AS BIGINT) AS p_e6, st.k, st.n AS n_rows,
             |       r.v AS value
             |FROM r JOIN st ON st.g = r.g AND r.rn = st.k""".stripMargin)),

    // ── p25/p50/p75 cents per event type from ONE shared histogram
    //    pass — multi-percentile at the cost of one.
    QueryDef("q_percentile_bands",
      (s, d) => Quantiles.groupedPercentileBands(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents", Seq(250000L, 500000L, 750000L)),
      Some("""WITH e AS (SELECT event_type AS g,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
             |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             |             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
             |      FROM e),
             |ps AS (SELECT unnest([250000, 500000, 750000]) AS p_e6)
             |SELECT r.g, CAST(ps.p_e6 AS BIGINT) AS p_e6,
             |       CAST((n * ps.p_e6 + 999999) // 1000000 AS BIGINT) AS k,
             |       n AS n_rows, v AS value
             |FROM r JOIN ps ON rn = (n * ps.p_e6 + 999999) // 1000000""".stripMargin)),

    // ── Winsorized mean: cents clamped to each type's own [p05, p95]
    //    before averaging — robust mean without dropping rows.
    QueryDef("q_winsorized_mean",
      (s, d) => Quantiles.winsorizedMean(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents", 50000L, 950000L),
      Some("""WITH e AS (SELECT event_type AS g,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
             |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             |             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
             |      FROM e),
             |cuts AS (SELECT g,
             |                max(CASE WHEN rn = (n * 50000 + 999999) // 1000000 THEN v END) AS p_lo,
             |                max(CASE WHEN rn = (n * 950000 + 999999) // 1000000 THEN v END) AS p_hi
             |         FROM r GROUP BY g)
             |SELECT e.g, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(max(p_lo) AS BIGINT) AS p_lo, CAST(max(p_hi) AS BIGINT) AS p_hi,
             |       CAST(sum(v) // count(*) AS BIGINT) AS raw_mean,
             |       CAST(sum(greatest(p_lo, least(p_hi, v))) // count(*) AS BIGINT) AS win_mean
             |FROM e JOIN cuts ON cuts.g = e.g GROUP BY e.g""".stripMargin)),

    // ── Weighted median: the price below which half the shipped QUANTITY
    //    sits, per return flag — cumulative-weight crossing, no division.
    QueryDef("q_weighted_median",
      (s, d) => Quantiles.weightedMedian(
        Tables.lineitem(s, d)
          .select(col("l_returnflag").as("flag"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
            col("l_quantity").cast("long").as("qty")),
        "flag", "cents", "qty")
        .withColumnRenamed("g", "flag"),
      Some("""WITH b AS (SELECT l_returnflag AS flag,
             |                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             |                  CAST(l_quantity AS BIGINT) AS w
             |           FROM lineitem),
             |g AS (SELECT flag, cents, CAST(sum(w) AS BIGINT) AS w FROM b GROUP BY 1, 2),
             |c AS (SELECT flag, cents, w,
             |             CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents) AS BIGINT) AS cw,
             |             CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
             |      FROM g)
             |SELECT flag, CAST(min(cents) AS BIGINT) AS wmedian,
             |       CAST(max(tw) AS BIGINT) AS total_w
             |FROM c WHERE cw * 2 >= tw GROUP BY flag""".stripMargin)),

    /* Jarque–Bera normality (skewness/kurtosis) — exact DECIMAL(38,0)
     * raw moments, doubles touched once per group in an expression tree
     * written identically on both engines (the q_corr_matrix precedent). */
    // ── Jarque–Bera normality per event type on value cents: exact
    //    DECIMAL(38,0) raw moments s1..s4 in ONE aggregate; skewness,
    //    excess kurtosis and JB land as doubles through an expression
    //    tree written identically on both engines, rounded to 6 dp.
    QueryDef("q_jarque_bera",
      (s, d) => Tables.events(s, d)
        .select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("decimal(38,0)").as("x"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"),
          sum(col("x") * col("x") * col("x")).as("s3"),
          sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
        .selectExpr("g", "n",
          """round(CAST((CAST(s3 AS DOUBLE) / n
            |  - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
            |  + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
            |        * (CAST(s1 AS DOUBLE) / n))
            | / (sqrt(CAST(s2 AS DOUBLE) / n
            |         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
            |    * (CAST(s2 AS DOUBLE) / n
            |       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
            | AS DOUBLE), 6) AS skewness""".stripMargin,
          """round(CAST((CAST(s4 AS DOUBLE) / n
            |  - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
            |  + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
            |        * (CAST(s2 AS DOUBLE) / n)
            |  - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
            |        * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
            | / ((CAST(s2 AS DOUBLE) / n
            |     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
            |    * (CAST(s2 AS DOUBLE) / n
            |       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
            | AS DOUBLE), 6) AS kurtosis""".stripMargin)
        // JB from the ALREADY-ROUNDED skew/kurt: both engines start from
        // bit-identical rounded doubles, so the statistic matches too.
        .selectExpr("g", "n", "skewness", "kurtosis",
          """round(CAST(n AS DOUBLE) / 6.0
            |  * (skewness * skewness
            |     + (kurtosis - 3.0) * (kurtosis - 3.0) / 4.0), 6)
            |  AS jb""".stripMargin),
      Some("""WITH m AS (
             |  SELECT event_type AS g, count(*) AS n,
             |         sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS s1,
             |         sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)
             |             * CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS s2,
             |         sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)
             |             * CAST(floor(value * 100 + 0.5) AS HUGEINT)
             |             * CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS s3,
             |         sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)
             |             * CAST(floor(value * 100 + 0.5) AS HUGEINT)
             |             * CAST(floor(value * 100 + 0.5) AS HUGEINT)
             |             * CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS s4
             |  FROM events GROUP BY 1),
             |sk AS (
             |SELECT g, CAST(n AS BIGINT) AS n,
             |  round(CAST((CAST(s3 AS DOUBLE) / n
             |    - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
             |    + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             |          * (CAST(s1 AS DOUBLE) / n))
             |   / (sqrt(CAST(s2 AS DOUBLE) / n
             |           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             |      * (CAST(s2 AS DOUBLE) / n
             |         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
             |   AS DOUBLE), 6) AS skewness,
             |  round(CAST((CAST(s4 AS DOUBLE) / n
             |    - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
             |    + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             |          * (CAST(s2 AS DOUBLE) / n)
             |    - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             |          * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             |   / ((CAST(s2 AS DOUBLE) / n
             |       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             |      * (CAST(s2 AS DOUBLE) / n
             |         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
             |   AS DOUBLE), 6) AS kurtosis
             |FROM m)
             |SELECT g, n, skewness, kurtosis,
             |       round(CAST(n AS DOUBLE) / 6.0
             |         * (skewness * skewness
             |            + (kurtosis - 3.0) * (kurtosis - 3.0) / 4.0), 6)
             |         AS jb
             |FROM sk""".stripMargin)),

    // ── Weighted quartiles: per segment, balance cents weighted by the
    //    customer's order count; smallest value whose cumulative weight
    //    reaches k/4 of the total (k = 1, 2, 3).
    QueryDef("q_weighted_quantile",
      (s, d) => {
        val w8 = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("wgt"))
        val units = Tables.customer(s, d)
          .join(w8, col("c_custkey") === col("o_custkey"))
          .select(col("c_mktsegment").as("seg"),
            floor(col("c_acctbal") * 100 + 0.5).cast("long").as("v"),
            col("wgt"), col("c_custkey").as("ck"))
        val win = Window.partitionBy(col("seg"))
          .orderBy(col("v"), col("ck"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = units
          .withColumn("cumw", sum(col("wgt")).over(win))
          .withColumn("totw", sum(col("wgt")).over(
            Window.partitionBy(col("seg"))))
          .localCheckpoint(false) // reused by the 3 quartile picks
        Seq(1, 2, 3).map { k =>
          cum.where(col("cumw") * 4 >= col("totw") * k)
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("seg"))
                .orderBy(col("v"), col("ck"))))
            .where(col("rn") === 1)
            .select(col("seg"), lit(k.toLong * 25).as("pct"),
              col("v").as("value_cents"), col("totw"))
        }.reduce(_ unionByName _)
      },
      Some {
        def pick(k: Int) =
          s"""SELECT seg, CAST(${k * 25} AS BIGINT) AS pct,
             |       v AS value_cents, totw
             |FROM (SELECT seg, v, totw,
             |             row_number() OVER (PARTITION BY seg
             |               ORDER BY v, ck) AS rn
             |      FROM cum WHERE cumw * 4 >= totw * $k)
             |WHERE rn = 1""".stripMargin
        s"""WITH w8 AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS wgt
           |           FROM orders GROUP BY 1),
           |units AS (
           |  SELECT c_mktsegment AS seg,
           |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v,
           |         wgt, c_custkey AS ck
           |  FROM customer JOIN w8 ON c_custkey = o_custkey),
           |cum AS (
           |  SELECT seg, v, ck, wgt,
           |         CAST(sum(wgt) OVER (PARTITION BY seg ORDER BY v, ck
           |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
           |         CAST(sum(wgt) OVER (PARTITION BY seg) AS BIGINT) AS totw
           |  FROM units)
           |${Seq(1, 2, 3).map(pick).mkString("\nUNION ALL\n")}"""
          .stripMargin
      }),

    // ── Median polish, 2 sweeps over the 7×24 grid; positional lower
    //    medians keep every step integer-exact.
    QueryDef("q_median_polish",
      (s, d) => {
        val grid = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 3600000000").as("h"))
          .groupBy(expr("(h div 24 + 4) % 7").as("dow"),
            expr("h % 24").as("hod"))
          .agg(count(lit(1)).as("orig"))
          .withColumn("v", col("orig"))
          .localCheckpoint(false) // 168-row grid; each sweep re-reads it
        def sweep(df: org.apache.spark.sql.DataFrame, byCol: String,
                  ordTie: String) = {
          val w = Window.partitionBy(col(byCol))
          val med = df
            .withColumn("rn", row_number().over(
              w.orderBy(col("v"), col(ordTie))))
            .withColumn("cnt", count(lit(1)).over(w))
            .where(col("rn") === expr("(cnt + 1) div 2"))
            .select(col(byCol), col("v").as("med"))
          df.join(broadcast(med), byCol)
            .withColumn("v", col("v") - col("med")).drop("med")
            // truncate lineage: without this the 4-sweep chain re-derives
            // the grid per sweep (31 exchanges in a plan-gate probe)
            .localCheckpoint(false)
        }
        val once = sweep(sweep(grid, "dow", "hod"), "hod", "dow")
        val twice = sweep(sweep(once, "dow", "hod"), "hod", "dow")
        twice.select(col("dow"), col("hod"), col("orig"),
          col("v").as("resid"))
      },
      Some {
        def sweepSql(src: String, by: String, tie: String, out: String) =
          s"""m_$out AS (SELECT $by, v AS med FROM (
             |  SELECT $by, v, row_number() OVER (PARTITION BY $by
             |    ORDER BY v, $tie) AS rn,
             |    count(*) OVER (PARTITION BY $by) AS cnt
             |  FROM $src) WHERE rn = (cnt + 1) // 2),
             |$out AS (SELECT s.dow, s.hod, s.orig, s.v - m.med AS v
             |         FROM $src s JOIN m_$out m ON s.$by = m.$by)"""
            .stripMargin
        s"""WITH grid AS (
           |  SELECT (h // 24 + 4) % 7 AS dow, h % 24 AS hod,
           |         CAST(count(*) AS BIGINT) AS orig,
           |         CAST(count(*) AS BIGINT) AS v
           |  FROM (SELECT epoch_us(ts) // 3600000000 AS h FROM events)
           |  GROUP BY 1, 2),
           |${sweepSql("grid", "dow", "hod", "s1")},
           |${sweepSql("s1", "hod", "dow", "s2")},
           |${sweepSql("s2", "dow", "hod", "s3")},
           |${sweepSql("s3", "hod", "dow", "s4")}
           |SELECT dow, hod, orig, v AS resid FROM s4""".stripMargin
      }),

    // ── Top-20 joint outliers by Σᵢ zᵢ² with n²-scaled exact numerators.
    QueryDef("q_mahalanobis_diag",
      (s, d) => {
        val per = perOrder(s, d)
        val mom = per.agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
          sum(col("z").cast(dec)).as("sz"),
          sum(col("x").cast(dec) * col("x").cast(dec)).as("qx"),
          sum(col("y").cast(dec) * col("y").cast(dec)).as("qy"),
          sum(col("z").cast(dec) * col("z").cast(dec)).as("qz"))
        def z2(c: String) =
          s"""(CAST(n * $c - s$c AS DOUBLE) * CAST(n * $c - s$c AS DOUBLE)
             | / CAST(n * q$c - s$c * s$c AS DOUBLE))""".stripMargin
        per.crossJoin(broadcast(mom))
          .selectExpr("ok", "x", "y", "z",
            s"round(${z2("x")} + ${z2("y")} + ${z2("z")}, 6) AS score")
          .withColumn("rk", row_number().over(
            Window.orderBy(col("score").desc, col("ok"))))
          .where(col("rk") <= 20).drop("rk")
      },
      Some {
        def z2(c: String) =
          s"""(CAST(n * $c - s$c AS DOUBLE) * CAST(n * $c - s$c AS DOUBLE)
             | / CAST(n * q$c - s$c * s$c AS DOUBLE))""".stripMargin
        s"""WITH $perOrderSql,
           |mom AS (SELECT CAST(count(*) AS HUGEINT) AS n,
           |               CAST(sum(x) AS HUGEINT) AS sx,
           |               CAST(sum(y) AS HUGEINT) AS sy,
           |               CAST(sum(z) AS HUGEINT) AS sz,
           |               sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS qx,
           |               sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS qy,
           |               sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT)) AS qz
           |        FROM per),
           |sc AS (SELECT ok, x, y, z,
           |              round(${z2("x")} + ${z2("y")} + ${z2("z")}, 6)
           |                AS score
           |       FROM per CROSS JOIN mom)
           |SELECT ok, x, y, z, score FROM (
           |  SELECT *, row_number() OVER (ORDER BY score DESC, ok) AS rk
           |  FROM sc)
           |WHERE rk <= 20""".stripMargin
      }),

    // ── Bowley skewness + Moors kurtosis from positional octiles of
    //    balance cents per segment.
    QueryDef("q_robust_shape",
      (s, d) => {
        val ranked = segBalanceRanks(s, d)
          .localCheckpoint(false) // 7 octile picks off one rank pass
        val oct = (1 to 7).map { k =>
          ranked.where(col("rn") === expr(s"($k * n + 7) div 8"))
            .select(col("seg"), col("n"), lit(k).as("k"),
              col("v").as("e"))
        }.reduce(_ unionByName _)
        oct.groupBy(col("seg"), col("n"))
          .pivot("k", 1 to 7).agg(first(col("e")))
          .selectExpr("seg", "CAST(n AS BIGINT) AS n",
            "`2` AS q1_cents", "`4` AS med_cents", "`6` AS q3_cents",
            """CASE WHEN `6` - `2` = 0 THEN NULL
              |     ELSE round(CAST(`2` + `6` - 2 * `4` AS DOUBLE)
              |          / CAST(`6` - `2` AS DOUBLE), 6)
              |END AS bowley_skew""".stripMargin,
            """CASE WHEN `6` - `2` = 0 THEN NULL
              |     ELSE round(CAST((`7` - `5`) + (`3` - `1`) AS DOUBLE)
              |          / CAST(`6` - `2` AS DOUBLE), 6)
              |END AS moors_kurtosis""".stripMargin)
      },
      Some {
        val picks = (1 to 7).map { k =>
          s"""SELECT seg, n, $k AS k, v AS e FROM ranked
             |WHERE rn = ($k * n + 7) // 8""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $segBalanceSql,
           |ranked AS (SELECT seg, v,
           |                  row_number() OVER (PARTITION BY seg
           |                    ORDER BY v, ck) AS rn,
           |                  CAST(count(*) OVER (PARTITION BY seg)
           |                    AS BIGINT) AS n
           |           FROM u),
           |oct AS ($picks),
           |pv AS (SELECT seg, n,
           |              max(CASE WHEN k = 1 THEN e END) AS e1,
           |              max(CASE WHEN k = 2 THEN e END) AS e2,
           |              max(CASE WHEN k = 3 THEN e END) AS e3,
           |              max(CASE WHEN k = 4 THEN e END) AS e4,
           |              max(CASE WHEN k = 5 THEN e END) AS e5,
           |              max(CASE WHEN k = 6 THEN e END) AS e6,
           |              max(CASE WHEN k = 7 THEN e END) AS e7
           |       FROM oct GROUP BY 1, 2)
           |SELECT seg, n, e2 AS q1_cents, e4 AS med_cents, e6 AS q3_cents,
           |       CASE WHEN e6 - e2 = 0 THEN NULL
           |            ELSE round(CAST(e2 + e6 - 2 * e4 AS DOUBLE)
           |                 / CAST(e6 - e2 AS DOUBLE), 6)
           |       END AS bowley_skew,
           |       CASE WHEN e6 - e2 = 0 THEN NULL
           |            ELSE round(CAST((e7 - e5) + (e3 - e1) AS DOUBLE)
           |                 / CAST(e6 - e2 AS DOUBLE), 6)
           |       END AS moors_kurtosis
           |FROM pv""".stripMargin
      }),

    // ── Circular stats: per type the e6 resultant components and
    //    R̄ = |Σe^{iθ}|/n (one sqrt close; atan2 deliberately avoided —
    //    libm atan2 is not IEEE-pinned across engines).
    QueryDef("q_circular_stats",
      (s, d) => Tables.events(s, d)
        .select(col("event_type").as("et"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
        .withColumn("cosv", expr(caseFor("hod", 0)))
        .withColumn("sinv", expr(caseFor("hod", 18)))
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n"), sum(col("cosv")).as("c_sum_e6"),
          sum(col("sinv")).as("s_sum_e6"))
        .selectExpr("et", "n", "c_sum_e6", "s_sum_e6",
          """round(sqrt(CAST(c_sum_e6 AS DOUBLE) * CAST(c_sum_e6 AS DOUBLE)
            |+ CAST(s_sum_e6 AS DOUBLE) * CAST(s_sum_e6 AS DOUBLE))
            |/ (CAST(n AS DOUBLE) * CAST('1000000' AS DOUBLE)), 6)
            |AS rbar""".stripMargin),
      Some(s"""WITH e AS (
              |  SELECT event_type AS et,
              |         (epoch_us(ts) // 3600000000) % 24 AS hod
              |  FROM events),
              |t AS (SELECT et, ${caseFor("hod", 0)} AS cosv,
              |             ${caseFor("hod", 18)} AS sinv
              |      FROM e),
              |m AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
              |             CAST(sum(cosv) AS BIGINT) AS c_sum_e6,
              |             CAST(sum(sinv) AS BIGINT) AS s_sum_e6
              |      FROM t GROUP BY 1)
              |SELECT et, n, c_sum_e6, s_sum_e6,
              |       round(sqrt(CAST(c_sum_e6 AS DOUBLE)
              |           * CAST(c_sum_e6 AS DOUBLE)
              |         + CAST(s_sum_e6 AS DOUBLE)
              |           * CAST(s_sum_e6 AS DOUBLE))
              |         / (CAST(n AS DOUBLE) * CAST('1000000' AS DOUBLE)), 6)
              |         AS rbar
              |FROM m""".stripMargin)),

    // ── Median CI per segment: ranks n/2 ∓ z√n/2 (z = 1.96 literal,
    //    floor/ceil to integers identically in both engines).
    QueryDef("q_median_ci",
      (s, d) => {
        val ranked = segBalanceRanks(s, d)
          .withColumn("lo_rn", expr(
            "greatest(CAST(floor((CAST(n AS DOUBLE) - CAST('1.96' AS " +
              "DOUBLE) * sqrt(CAST(n AS DOUBLE))) / CAST('2.0' AS DOUBLE))" +
              " AS BIGINT), 1)"))
          .withColumn("hi_rn", expr(
            "least(CAST(floor((CAST(n AS DOUBLE) + CAST('1.96' AS DOUBLE)" +
              " * sqrt(CAST(n AS DOUBLE))) / CAST('2.0' AS DOUBLE))" +
              " AS BIGINT) + 1, n)"))
          .localCheckpoint(false) // three positional picks
        def pick(cond: String, nm: String) = ranked
          .where(expr(cond)).select(col("seg"), col("n"), col("v").as(nm))
        pick("rn = (n + 1) div 2", "median_cents")
          .join(pick("rn = lo_rn", "ci_lo_cents"), Seq("seg", "n"))
          .join(pick("rn = hi_rn", "ci_hi_cents"), Seq("seg", "n"))
      },
      Some {
        def pick(cond: String, nm: String) =
          s"""SELECT seg, n, v AS $nm FROM ranked WHERE $cond"""
        s"""WITH $segBalanceSql,
           |ranked AS (
           |  SELECT seg, v,
           |         row_number() OVER (PARTITION BY seg ORDER BY v, ck)
           |           AS rn,
           |         CAST(count(*) OVER (PARTITION BY seg) AS BIGINT) AS n,
           |         greatest(CAST(floor((CAST(count(*) OVER (PARTITION BY
           |             seg) AS DOUBLE) - CAST('1.96' AS DOUBLE)
           |             * sqrt(CAST(count(*) OVER (PARTITION BY seg)
           |               AS DOUBLE))) / CAST('2.0' AS DOUBLE)) AS BIGINT),
           |           1) AS lo_rn,
           |         least(CAST(floor((CAST(count(*) OVER (PARTITION BY
           |             seg) AS DOUBLE) + CAST('1.96' AS DOUBLE)
           |             * sqrt(CAST(count(*) OVER (PARTITION BY seg)
           |               AS DOUBLE))) / CAST('2.0' AS DOUBLE)) AS BIGINT)
           |             + 1,
           |           CAST(count(*) OVER (PARTITION BY seg) AS BIGINT))
           |           AS hi_rn
           |  FROM u),
           |med AS (${pick("rn = (n + 1) // 2", "median_cents")}),
           |lo AS (${pick("rn = lo_rn", "ci_lo_cents")}),
           |hi AS (${pick("rn = hi_rn", "ci_hi_cents")})
           |SELECT med.seg, med.n, median_cents, ci_lo_cents, ci_hi_cents
           |FROM med JOIN lo ON med.seg = lo.seg
           |     JOIN hi ON med.seg = hi.seg""".stripMargin
      }),

    // ── Global exact nearest-rank percentiles via Ranks.globalRow-
    //    Number: ONE data-sized range exchange (checkpointed layout;
    //    the count and offset aggregates ride it) + a broadcast of the
    //    5 target ranks. The selection facade promised in §7.4m —
    //    compare Quantiles.exactPercentiles' histogram-refine (two
    //    light scans, no total order) vs this (one shuffle, reusable
    //    totally-ordered layout).
    QueryDef("q_rank_percentile",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
            .as("cents"),
          col("l_orderkey"), col("l_linenumber"))
        Ranks.globalExactPercentiles(li, col("cents"),
          Seq(col("l_orderkey"), col("l_linenumber")),
          Seq(1, 25, 50, 75, 99), valueName = "value_cents")
      },
      Some("""WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
             |                  l_orderkey, l_linenumber FROM lineitem),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
             |r AS (SELECT c, row_number() OVER (ORDER BY c, l_orderkey,
             |                                   l_linenumber) AS rk
             |      FROM v),
             |p AS (SELECT CAST(p AS BIGINT) AS p
             |      FROM (VALUES (1),(25),(50),(75),(99)) AS ps(p))
             |SELECT p.p AS p, r.c AS value_cents
             |FROM p CROSS JOIN t
             |JOIN r ON r.rk = (p.p * t.n + 99) // 100""".stripMargin)),

    // ── Grubbs test: max normed residual G = max|x−x̄|/s over daily
    //    mean cents. n-scaled deviations stay exact integers; the one
    //    sqrt is floor(sqrt(double)) — IEEE-identical cross-engine on
    //    an exactly-representable integer argument (< 2^53).
    QueryDef("q_grubbs",
      (s, d) => {
        val daily = eventsDailyCents(s, d)
          .withColumn("x", expr("sc div cnt"))
        val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(expr("x * x")).as("sxx"))
        daily.crossJoin(broadcast(tot))
          .withColumn("dev", abs(expr("n * x - sx")))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("dev").desc, col("day"))))
          .where(col("rk") === 1)
          .selectExpr("CAST(n AS BIGINT) AS n_days", "day AS outlier_day",
            "x AS x_cents",
            // greatest(1,…): zero-variance degenerate input must not
            // divide by 0 (Spark nulls, DuckDB errors — divergent)
            """dev * 1000000 div greatest(1L, CAST(floor(sqrt(
              |  CAST(n * (n * sxx - sx * sx) AS DOUBLE)
              |    / CAST(n - 1 AS DOUBLE))) AS BIGINT)) AS g_e6""".stripMargin)
      },
      Some(s"""WITH $eventsDailyCentsSql,
             |x AS (SELECT day, sc // cnt AS x FROM daily),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(x) AS BIGINT) AS sx,
             |               CAST(sum(x * x) AS BIGINT) AS sxx FROM x),
             |dv AS (SELECT day, x, abs(n * x - sx) AS dev, n, sx, sxx
             |       FROM x CROSS JOIN tot)
             |SELECT n AS n_days, day AS outlier_day, x AS x_cents,
             |       dev * 1000000 // greatest(1, CAST(floor(sqrt(
             |         CAST(n * (n * sxx - sx * sx) AS DOUBLE)
             |           / CAST(n - 1 AS DOUBLE))) AS BIGINT)) AS g_e6
             |FROM (SELECT *, row_number() OVER (ORDER BY dev DESC, day)
             |        AS rk FROM dv)
             |WHERE rk = 1""".stripMargin)),

    // ── Dixon's Q at both ends of the 25-nation customer-count axis:
    //    Q = gap/range using the sorted sample's extreme gaps — the
    //    small-sample outlier screen where Grubbs' normal-theory z is
    //    untrustworthy. Nearest-rank picks on the bounded axis; gaps
    //    and range are non-negative so e6 truncation is
    //    engine-identical.
    QueryDef("q_dixon_q",
      (s, d) => {
        val cells = Tables.customer(s, d)
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("x"))
          .localCheckpoint(false) // one sorted walk, four order stats
        val n = cells.agg(count(lit(1)).as("n"))
        cells.crossJoin(broadcast(n))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("x"), col("c_nationkey"))).cast("long"))
          .agg(max(col("n")).as("n"),
            max(when(col("rk") === 1L, col("x"))).as("x1"),
            max(when(col("rk") === 2L, col("x"))).as("x2"),
            max(when(col("rk") === col("n") - 1, col("x"))).as("xn1"),
            max(when(col("rk") === col("n"), col("x"))).as("xn"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "CAST(x1 AS BIGINT) AS x_min", "CAST(xn AS BIGINT) AS x_max",
            "(x2 - x1) * 1000000 div greatest(xn - x1, 1) AS q_min_e6",
            "(xn - xn1) * 1000000 div greatest(xn - x1, 1) AS q_max_e6")
      },
      Some("""WITH cells AS (SELECT c_nationkey,
             |                      CAST(count(*) AS BIGINT) AS x
             |               FROM customer GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cells),
             |r AS (SELECT x, n,
             |             CAST(row_number() OVER (ORDER BY x, c_nationkey)
             |               AS BIGINT) AS rk
             |      FROM cells CROSS JOIN n),
             |m AS (SELECT max(n) AS n,
             |             max(CASE WHEN rk = 1 THEN x END) AS x1,
             |             max(CASE WHEN rk = 2 THEN x END) AS x2,
             |             max(CASE WHEN rk = n - 1 THEN x END) AS xn1,
             |             max(CASE WHEN rk = n THEN x END) AS xn
             |      FROM r)
             |SELECT CAST(n AS BIGINT) AS n, CAST(x1 AS BIGINT) AS x_min,
             |       CAST(xn AS BIGINT) AS x_max,
             |       (x2 - x1) * 1000000 // greatest(xn - x1, 1) AS q_min_e6,
             |       (xn - xn1) * 1000000 // greatest(xn - x1, 1) AS q_max_e6
             |FROM m""".stripMargin)),

    // ── Rousseeuw–Croux Sₙ robust scale of daily event volume:
    //    Sₙ = lomedᵢ (lomedⱼ≠ᵢ |xᵢ − xⱼ|) — a 50%-breakdown dispersion
    //    estimate needing no location estimate. Both medians are
    //    nearest-rank (lower) on the calendar-bounded 30-day axis, so
    //    the 30×29 pair grid is the right exact plan; the bias
    //    constant c = 1.1926 is applied in e4 fixed point.
    QueryDef("q_sn_scale",
      (s, d) => {
        val daily = eventsPerDay(s, d)
          .localCheckpoint(false) // both sides of the pair grid
        val pairs = daily.as("a")
          .crossJoin(daily.as("b"))
          .filter(col("a.day") =!= col("b.day"))
          .select(col("a.day").as("day"),
            abs(col("a.c") - col("b.c")).as("ad"))
        val inner = pairs
          .withColumn("m", count(lit(1)).over(
            Window.partitionBy(col("day"))))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("day")).orderBy(col("ad"))))
          .filter(col("rk") === expr("CAST((m + 1) div 2 AS INT)"))
          .select(col("day"), col("ad").as("di"))
        val nn = inner.agg(count(lit(1)).as("n"))
        inner.crossJoin(broadcast(nn))
          .withColumn("rk", row_number().over(Window.orderBy(col("di"))))
          .filter(col("rk") === expr("CAST((n + 1) div 2 AS INT)"))
          .selectExpr("CAST(n AS BIGINT) AS n_days",
            "CAST(di AS BIGINT) AS sn_raw",
            "di * 11926 div 10000 AS sn_e0")
      },
      Some(s"""WITH $eventsPerDaySql,
             |pairs AS (SELECT a.day AS day, abs(a.c - b.c) AS ad
             |          FROM daily a CROSS JOIN daily b
             |          WHERE a.day <> b.day),
             |i AS (SELECT day, ad,
             |             CAST(count(*) OVER (PARTITION BY day) AS BIGINT)
             |               AS m,
             |             row_number() OVER (PARTITION BY day ORDER BY ad)
             |               AS rk
             |      FROM pairs),
             |inner_med AS (SELECT day, ad AS di FROM i
             |              WHERE rk = (m + 1) // 2),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM inner_med),
             |o AS (SELECT di, n,
             |             row_number() OVER (ORDER BY di) AS rk
             |      FROM inner_med CROSS JOIN n)
             |SELECT n AS n_days, CAST(di AS BIGINT) AS sn_raw,
             |       di * 11926 // 10000 AS sn_e0
             |FROM o WHERE rk = (n + 1) // 2""".stripMargin)),

    /* Huber M-estimator (`q_huber_mean`): two IRLS rounds for the
     * robust location of order totalprice — weights min(1, k/|x−m|) in
     * e6, the estimator q_winsorized_mean approximates without
     * iteration. Dollar units keep Σw·x inside BIGINT at any skew. */
    // ── Two Huber IRLS rounds on order totalprice DOLLARS: m₀ = mean,
    //    then m ← Σ min(1, k/|x−m|)·x / Σ w with k = 20000 $ — outliers
    //    above k from the center get down-weighted proportionally.
    QueryDef("q_huber_mean",
      (s, d) => {
        val k = 20000L
        val x = Tables.orders(s, d)
          .selectExpr("CAST(floor(o_totalprice) AS BIGINT) AS x")
          .localCheckpoint(false) // all rounds ride one scan
        val m0 = x.agg(expr("sum(x) div count(1)").as("m"),
          count(lit(1)).as("n"))
          .selectExpr("0L AS step", "m", "n", "CAST(NULL AS BIGINT) AS sw_e6")
          .localCheckpoint(false)
        def irls(prev: DataFrame, kk: Int): DataFrame =
          x.crossJoin(broadcast(prev.selectExpr("m AS mp")))
            .withColumn("w_e6",
              least(lit(1000000L),
                expr(s"${k}L * 1000000L div greatest(1L, abs(x - mp))")))
            .agg(count(lit(1)).as("n"), sum(col("w_e6")).as("sw"),
              sum(expr("w_e6 * x")).as("swx"))
            .selectExpr(s"CAST($kk AS BIGINT) AS step",
              "swx div greatest(1L, sw) AS m", "n", "sw AS sw_e6")
            .localCheckpoint(false)
        val m1 = irls(m0, 1)
        val m2 = irls(m1, 2)
        m0.unionByName(m1).unionByName(m2)
      },
      Some {
        def irlsSql(prev: String, kk: Int): String =
          s"""SELECT CAST($kk AS BIGINT) AS step,
             |       CAST(sum(w_e6 * x) AS BIGINT)
             |         // greatest(1, CAST(sum(w_e6) AS BIGINT)) AS m,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(w_e6) AS BIGINT) AS sw_e6
             |FROM (SELECT x.x,
             |        least(1000000, CAST(20000000000 AS BIGINT)
             |          // greatest(1, abs(x.x - p.m))) AS w_e6
             |      FROM x CROSS JOIN ($prev) p)""".stripMargin
        s"""WITH x AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS x
           |           FROM orders),
           |m0 AS (SELECT CAST(0 AS BIGINT) AS step,
           |              CAST(sum(x) AS BIGINT) // count(*) AS m,
           |              CAST(count(*) AS BIGINT) AS n,
           |              CAST(NULL AS BIGINT) AS sw_e6
           |       FROM x),
           |m1 AS (${irlsSql("SELECT m FROM m0", 1)}),
           |m2 AS (${irlsSql("SELECT m FROM m1", 2)})
           |SELECT * FROM m0 UNION ALL SELECT * FROM m1
           |UNION ALL SELECT * FROM m2""".stripMargin
      }),

    /* h-index (`q_h_index`): per supplier, the largest h such that h of
     * their parts each shipped in ≥ h lineitems — the robust
     * "productivity × impact" scalar (insensitive to one blockbuster
     * part, unlike max; insensitive to a long tail, unlike count).
     * One (supplier, part) rollup, a per-supplier rank window, one max. */
    // ── h-index per supplier over part shipment counts.
    QueryDef("q_h_index",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        Tables.lineitem(s, d)
          .groupBy(col("l_suppkey"), col("l_partkey"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("l_suppkey"))
              .orderBy(col("c").desc, col("l_partkey"))).cast("long"))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_parts"),
            sum(expr("CASE WHEN c >= rk THEN 1L ELSE 0L END"))
              .as("h_index"),
            max(col("c")).as("max_count"))
      },
      Some("""WITH pc AS (
             |  SELECT l_suppkey, l_partkey,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem GROUP BY 1, 2),
             |rk AS (SELECT l_suppkey, c,
             |         CAST(row_number() OVER (PARTITION BY l_suppkey
             |           ORDER BY c DESC, l_partkey) AS BIGINT) AS rk
             |       FROM pc)
             |SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_parts,
             |       CAST(sum(CASE WHEN c >= rk THEN 1 ELSE 0 END)
             |         AS BIGINT) AS h_index,
             |       max(c) AS max_count
             |FROM rk GROUP BY 1""".stripMargin)),

    /* Bimodality coefficient (`q_bimodality`): (g₁²+1)/(g₂ + correction)
     * over order values in whole dollars — dollars (not cents) keep the
     * 4th power sum inside decimal(38,0) headroom (5·10⁵⁴ would not
     * fit for cents at 100 TB row counts); one integer moment pass,
     * one closing double chain. */
    // ── Bimodality coefficient over order values (whole dollars).
    QueryDef("q_bimodality",
      (s, d) => Tables.orders(s, d)
        .select(expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").as("x"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(expr(s"CAST(x AS $dec) * x")).as("s2"),
          sum(expr(s"CAST(x AS $dec) * x * x")).as("s3"),
          sum(expr(s"CAST(x AS $dec) * x * x * x")).as("s4"))
        .selectExpr("n",
          // central moments from raw power sums, all in doubles from
          // exact integer sums (one deterministic chain, round 6):
          // m2 = s2/n − μ², m3 = s3/n − 3μ s2/n + 2μ³,
          // m4 = s4/n − 4μ s3/n + 6μ² s2/n − 3μ⁴
          """round((power(
            |    (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
            |     - CAST('3.0' AS DOUBLE) * (CAST(s1 AS DOUBLE)
            |       / CAST(n AS DOUBLE)) * (CAST(s2 AS DOUBLE)
            |       / CAST(n AS DOUBLE))
            |     + CAST('2.0' AS DOUBLE) * power(CAST(s1 AS DOUBLE)
            |       / CAST(n AS DOUBLE), CAST('3.0' AS DOUBLE)))
            |    / power(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
            |      - power(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE),
            |        CAST('2.0' AS DOUBLE)), CAST('1.5' AS DOUBLE)),
            |    CAST('2.0' AS DOUBLE)) + CAST('1.0' AS DOUBLE))
            |  / ((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
            |      - CAST('4.0' AS DOUBLE) * (CAST(s1 AS DOUBLE)
            |        / CAST(n AS DOUBLE)) * (CAST(s3 AS DOUBLE)
            |        / CAST(n AS DOUBLE))
            |      + CAST('6.0' AS DOUBLE) * power(CAST(s1 AS DOUBLE)
            |        / CAST(n AS DOUBLE), CAST('2.0' AS DOUBLE))
            |        * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
            |      - CAST('3.0' AS DOUBLE) * power(CAST(s1 AS DOUBLE)
            |        / CAST(n AS DOUBLE), CAST('4.0' AS DOUBLE)))
            |    / power(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
            |      - power(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE),
            |        CAST('2.0' AS DOUBLE)), CAST('2.0' AS DOUBLE))
            |    - CAST('3.0' AS DOUBLE)
            |    + CAST('3.0' AS DOUBLE) * CAST(n - 1 AS DOUBLE)
            |      * CAST(n - 1 AS DOUBLE) / (CAST(n - 2 AS DOUBLE)
            |      * CAST(n - 3 AS DOUBLE))), 6) AS bc""".stripMargin),
      Some("""WITH t AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(x) AS BIGINT) AS s1,
             |         sum(CAST(x AS HUGEINT) * x) AS s2,
             |         sum(CAST(x AS HUGEINT) * x * x) AS s3,
             |         sum(CAST(x AS HUGEINT) * x * x * x) AS s4
             |  FROM (SELECT CAST(floor(o_totalprice + 0.5) AS BIGINT)
             |          AS x FROM orders))
             |SELECT n,
             |       round((power(
             |           (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
             |            - CAST('3.0' AS DOUBLE) * (CAST(s1 AS DOUBLE)
             |              / CAST(n AS DOUBLE)) * (CAST(s2 AS DOUBLE)
             |              / CAST(n AS DOUBLE))
             |            + CAST('2.0' AS DOUBLE) * power(CAST(s1 AS DOUBLE)
             |              / CAST(n AS DOUBLE), CAST('3.0' AS DOUBLE)))
             |           / power(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
             |             - power(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE),
             |               CAST('2.0' AS DOUBLE)), CAST('1.5' AS DOUBLE)),
             |           CAST('2.0' AS DOUBLE)) + CAST('1.0' AS DOUBLE))
             |         / ((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
             |             - CAST('4.0' AS DOUBLE) * (CAST(s1 AS DOUBLE)
             |               / CAST(n AS DOUBLE)) * (CAST(s3 AS DOUBLE)
             |               / CAST(n AS DOUBLE))
             |             + CAST('6.0' AS DOUBLE) * power(CAST(s1 AS DOUBLE)
             |               / CAST(n AS DOUBLE), CAST('2.0' AS DOUBLE))
             |               * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
             |             - CAST('3.0' AS DOUBLE) * power(CAST(s1 AS DOUBLE)
             |               / CAST(n AS DOUBLE), CAST('4.0' AS DOUBLE)))
             |           / power(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
             |             - power(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE),
             |               CAST('2.0' AS DOUBLE)), CAST('2.0' AS DOUBLE))
             |           - CAST('3.0' AS DOUBLE)
             |           + CAST('3.0' AS DOUBLE) * CAST(n - 1 AS DOUBLE)
             |             * CAST(n - 1 AS DOUBLE) / (CAST(n - 2 AS DOUBLE)
             |             * CAST(n - 3 AS DOUBLE))), 6) AS bc
             |FROM t""".stripMargin))
  )
}
