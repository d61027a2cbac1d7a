package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.Bm25
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pricing and market economics: price indices, elasticities, dispersion,
  * price points and endings, and shift-share, growth-share and rate-volume
  * decompositions. */
object PricingQueries extends QueryCatalog {

  import Fixtures._

  def defs: Seq[QueryDef] = Seq(

    // ── Price elasticity per brand: slope of log₂(qty) on log₂(price)
    //    across parts (fixed-point e6 logs, exact moments).
    QueryDef("q_price_elasticity",
      (s, d) => {
        val qty = Tables.lineitem(s, d).groupBy(col("l_partkey"))
          .agg(sum(floor(col("l_quantity") + 0.5).cast("long")).as("q"))
          .where(col("q") > 0)
        val pts = Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"),
            floor(col("p_retailprice") * 100 + 0.5).cast("long").as("pc"))
          .join(qty, col("p_partkey") === col("l_partkey"))
          .select(col("p_brand").as("g"),
            Bm25.log2E6(col("pc")).cast(dec).as("x"),
            Bm25.log2E6(col("q")).cast(dec).as("y"))
        pts.groupBy(col("g"))
          .agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .selectExpr("g", "CAST(n AS BIGINT) AS n_parts",
            """CASE WHEN n * sxx - sx * sx = 0 THEN NULL
              |     ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
              |          CAST(n * sxx - sx * sx AS DOUBLE), 6)
              |END AS elasticity""".stripMargin)
      },
      Some {
        val lgP = Bm25.log2E6Sql("pc")
        val lgQ = Bm25.log2E6Sql("q")
        s"""WITH qty AS (
           |  SELECT l_partkey,
           |         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
           |           AS BIGINT) AS q
           |  FROM lineitem GROUP BY 1 HAVING q > 0),
           |pts AS (
           |  SELECT p_brand AS g, CAST($lgP AS HUGEINT) AS x,
           |         CAST($lgQ AS HUGEINT) AS y
           |  FROM (SELECT p_partkey, p_brand,
           |               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS pc
           |        FROM part) p
           |  JOIN qty ON p.p_partkey = qty.l_partkey),
           |mo AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
           |              sum(x) AS sx, sum(y) AS sy,
           |              sum(x * y) AS sxy, sum(x * x) AS sxx
           |       FROM pts GROUP BY 1)
           |SELECT g, CAST(n AS BIGINT) AS n_parts,
           |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
           |            ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
           |                 CAST(n * sxx - sx * sx AS DOUBLE), 6)
           |       END AS elasticity
           |FROM mo""".stripMargin
      }),

    // ── Rate–volume bridge: 1996 → 1997 revenue per segment split into
    //    volume effect (Δn at old rate) + rate effect (new n at Δrate).
    QueryDef("q_rate_volume_decomp",
      (s, d) => {
        val o = Tables.orders(s, d)
          .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment").as("seg")),
            col("o_custkey") === col("c_custkey"))
          .select(col("seg"), expr("year(o_orderdate)").as("yr"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
          .where(col("yr").isin(1996, 1997))
        val m = o.groupBy(col("seg"), col("yr"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("rev"))
        val a = m.where(col("yr") === 1996)
          .select(col("seg"), col("n").as("n_a"), col("rev").as("rev_a"))
        val b = m.where(col("yr") === 1997)
          .select(col("seg"), col("n").as("n_b"), col("rev").as("rev_b"))
        a.join(b, "seg")
          .selectExpr("seg", "n_a", "n_b", "rev_a", "rev_b",
            "rev_b - rev_a AS delta_rev",
            // sign-factored truncating e6 so the decomposition is an
            // exact integer identity: volume + rate = delta_rev * 1e6
            """CAST(CASE WHEN n_b >= n_a
              |     THEN CAST(n_b - n_a AS DECIMAL(38,0))
              |          * CAST(rev_a AS DECIMAL(38,0)) * 1000000
              |          div CAST(n_a AS DECIMAL(38,0))
              |     ELSE -(CAST(n_a - n_b AS DECIMAL(38,0))
              |          * CAST(rev_a AS DECIMAL(38,0)) * 1000000
              |          div CAST(n_a AS DECIMAL(38,0)))
              |END AS BIGINT) AS volume_e6""".stripMargin)
          .withColumn("rate_e6",
            expr("(rev_b - rev_a) * 1000000 - volume_e6"))
      },
      Some("""WITH o AS (
             |  SELECT c_mktsegment AS seg, year(o_orderdate) AS yr,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           AS cents
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  WHERE year(o_orderdate) IN (1996, 1997)),
             |m AS (SELECT seg, yr, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(cents) AS BIGINT) AS rev
             |      FROM o GROUP BY 1, 2),
             |j AS (SELECT a.seg, a.n AS n_a, b.n AS n_b, a.rev AS rev_a,
             |             b.rev AS rev_b
             |      FROM (SELECT * FROM m WHERE yr = 1996) a
             |      JOIN (SELECT * FROM m WHERE yr = 1997) b
             |        ON a.seg = b.seg),
             |v AS (SELECT *, rev_b - rev_a AS delta_rev,
             |             CAST(CASE WHEN n_b >= n_a
             |                  THEN CAST(n_b - n_a AS HUGEINT)
             |                       * CAST(rev_a AS HUGEINT) * 1000000
             |                       // CAST(n_a AS HUGEINT)
             |                  ELSE -(CAST(n_a - n_b AS HUGEINT)
             |                       * CAST(rev_a AS HUGEINT) * 1000000
             |                       // CAST(n_a AS HUGEINT))
             |             END AS BIGINT) AS volume_e6
             |      FROM j)
             |SELECT seg, n_a, n_b, rev_a, rev_b, delta_rev, volume_e6,
             |       (rev_b - rev_a) * 1000000 - volume_e6 AS rate_e6
             |FROM v"""
        .stripMargin)),

    // ── Price indices 1996→1997 over parts traded in both years:
    //    p = avg unit price (cents, truncating), q = yearly quantity.
    QueryDef("q_price_index",
      (s, d) => {
        val py = Tables.lineitem(s, d)
          .select(col("l_partkey").as("pk"),
            expr("year(l_shipdate)").as("yr"),
            floor(col("l_quantity") + 0.5).cast("long").as("q"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"))
          .where(col("yr").isin(1996, 1997))
          .groupBy(col("pk"), col("yr"))
          .agg(sum(col("q")).as("qty"), sum(col("v")).as("val"))
          .withColumn("p", expr("val div greatest(qty, 1)"))
        val a = py.where(col("yr") === 1996)
          .select(col("pk"), col("p").as("p0"), col("qty").as("q0"))
        val b = py.where(col("yr") === 1997)
          .select(col("pk"), col("p").as("p1"), col("qty").as("q1"))
        a.join(b, "pk")
          .agg(count(lit(1)).as("n_parts"),
            sum(expr(s"CAST(p1 AS $dec) * CAST(q0 AS $dec)")).as("p1q0"),
            sum(expr(s"CAST(p0 AS $dec) * CAST(q0 AS $dec)")).as("p0q0"),
            sum(expr(s"CAST(p1 AS $dec) * CAST(q1 AS $dec)")).as("p1q1"),
            sum(expr(s"CAST(p0 AS $dec) * CAST(q1 AS $dec)")).as("p0q1"))
          .selectExpr("n_parts",
            "CAST(p1q0 * 1000000 div p0q0 AS BIGINT) AS laspeyres_e6",
            "CAST(p1q1 * 1000000 div p0q1 AS BIGINT) AS paasche_e6",
            """round(sqrt(CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE)
              |* (CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE))), 6)
              |AS fisher""".stripMargin)
      },
      Some("""WITH py AS (
             |  SELECT l_partkey AS pk, year(l_shipdate) AS yr,
             |         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
             |           AS BIGINT) AS qty,
             |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS val
             |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
             |  GROUP BY 1, 2),
             |pp AS (SELECT pk, yr, qty, val // greatest(qty, 1) AS p
             |       FROM py),
             |j AS (SELECT a.pk, a.p AS p0, a.qty AS q0, b.p AS p1,
             |             b.qty AS q1
             |      FROM (SELECT * FROM pp WHERE yr = 1996) a
             |      JOIN (SELECT * FROM pp WHERE yr = 1997) b
             |        ON a.pk = b.pk),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n_parts,
             |             sum(CAST(p1 AS HUGEINT) * CAST(q0 AS HUGEINT))
             |               AS p1q0,
             |             sum(CAST(p0 AS HUGEINT) * CAST(q0 AS HUGEINT))
             |               AS p0q0,
             |             sum(CAST(p1 AS HUGEINT) * CAST(q1 AS HUGEINT))
             |               AS p1q1,
             |             sum(CAST(p0 AS HUGEINT) * CAST(q1 AS HUGEINT))
             |               AS p0q1
             |      FROM j)
             |SELECT n_parts,
             |       CAST(p1q0 * 1000000 // p0q0 AS BIGINT) AS laspeyres_e6,
             |       CAST(p1q1 * 1000000 // p0q1 AS BIGINT) AS paasche_e6,
             |       round(sqrt(CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE)
             |         * (CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE))), 6)
             |         AS fisher
             |FROM m""".stripMargin)),

    // ── Growth–share: growth = 1997 vs 1996 revenue, share vs the
    //    largest OTHER brand (1997); quadrants at growth 0 / share 1.
    QueryDef("q_growth_share",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("g"), expr("year(l_shipdate)").as("yr"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"))
          .where(col("yr").isin(1996, 1997))
          .groupBy(col("g"), col("yr")).agg(sum(col("v")).as("rev"))
        val a = rev.where(col("yr") === 1996)
          .select(col("g"), col("rev").as("rev_a"))
        val b = rev.where(col("yr") === 1997)
          .select(col("g"), col("rev").as("rev_b"))
        val j0 = a.join(b, "g").localCheckpoint(false) // brand axis, tiny
        val mx = j0.select(col("g").as("g2"), col("rev_b").as("rb2"))
        val j = j0.join(mx, col("g") =!= col("g2"))
          .groupBy(col("g"), col("rev_a"), col("rev_b"))
          .agg(max(col("rb2")).as("mx_other"))
        // Sign-factored: Spark `div` truncates, DuckDB `//` floors — they
        // agree only on non-negative numerators (SURVEY §convention).
        j.selectExpr("g", "rev_a", "rev_b",
            """CASE WHEN rev_b >= rev_a
              |       THEN (rev_b - rev_a) * 1000000 div rev_a
              |     ELSE -((rev_a - rev_b) * 1000000 div rev_a)
              |END AS growth_e6""".stripMargin,
            "rev_b * 1000000 div mx_other AS rel_share_e6")
          .selectExpr("g", "rev_a", "rev_b", "growth_e6", "rel_share_e6",
            """CASE WHEN growth_e6 > 0 AND rel_share_e6 >= 1000000
              |       THEN 'star'
              |     WHEN growth_e6 > 0 THEN 'question'
              |     WHEN rel_share_e6 >= 1000000 THEN 'cow'
              |     ELSE 'dog' END AS quadrant""".stripMargin)
      },
      Some("""WITH rev AS (
             |  SELECT p_brand AS g, year(l_shipdate) AS yr,
             |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS rev
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE year(l_shipdate) IN (1996, 1997) GROUP BY 1, 2),
             |j AS (SELECT a.g, a.rev AS rev_a, b.rev AS rev_b
             |      FROM (SELECT * FROM rev WHERE yr = 1996) a
             |      JOIN (SELECT * FROM rev WHERE yr = 1997) b
             |        ON a.g = b.g),
             |mx AS (SELECT j1.g, CAST(max(j2.rev_b) AS BIGINT) AS mx_other
             |       FROM j j1 JOIN j j2 ON j1.g <> j2.g GROUP BY 1),
             |sc AS (SELECT j.g, rev_a, rev_b,
             |              CASE WHEN rev_b >= rev_a
             |                     THEN (rev_b - rev_a) * 1000000 // rev_a
             |                   ELSE -((rev_a - rev_b) * 1000000 // rev_a)
             |              END AS growth_e6,
             |              rev_b * 1000000 // mx_other AS rel_share_e6
             |       FROM j JOIN mx ON j.g = mx.g)
             |SELECT g, rev_a, rev_b, growth_e6, rel_share_e6,
             |       CASE WHEN growth_e6 > 0 AND rel_share_e6 >= 1000000
             |              THEN 'star'
             |            WHEN growth_e6 > 0 THEN 'question'
             |            WHEN rel_share_e6 >= 1000000 THEN 'cow'
             |            ELSE 'dog' END AS quadrant
             |FROM sc""".stripMargin)),

    // ── Unit-price dispersion per part across its suppliers: mean unit
    //    price per (part, supplier) in exact cents-per-unit e2 (price
    //    cents ×100 div qty), then the across-supplier CV in e6 from
    //    integer moments — top 20 parts (≥3 suppliers) by CV. One
    //    lineitem rollup; the part axis carries everything after.
    QueryDef("q_price_dispersion",
      (s, d) => {
        val unit = Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long")
              .as("cents"),
            col("l_quantity").cast("long").as("qty"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("cents")).as("sc"), sum(col("qty")).as("sq"))
          .select(col("l_partkey"),
            expr("sc * 100 div sq").as("up"))
        val per = unit.groupBy(col("l_partkey"))
          // suu rides decimal(38,0): up ~ 1e8 e2-cents, so sum(up²) nears
          // int64 at sf0.1 and overflows at 100× — widen BEFORE the sum.
          .agg(count(lit(1)).as("ns"), sum(col("up")).as("su"),
            sum(expr("CAST(up AS DECIMAL(38,0)) * up")).as("suu"))
          .filter(col("ns") >= 3)
        per
          .withColumn("cv_e6", expr(
            """CASE WHEN su = 0 THEN 0
              |ELSE CAST(round(sqrt(CAST(ns AS DOUBLE)
              |       * CAST(CAST(ns AS DECIMAL(38,0)) * suu
              |              - CAST(su AS DECIMAL(38,0)) * su AS DOUBLE))
              |     / CAST(su AS DOUBLE)
              |     * CAST('1000000' AS DOUBLE), 0) AS BIGINT)
              |END""".stripMargin))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("cv_e6").desc, col("l_partkey"))))
          .filter(col("rk") <= 20)
          .selectExpr("l_partkey AS partkey",
            "CAST(ns AS BIGINT) AS n_suppliers",
            "su div ns AS mean_unit_e2", "cv_e6",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH unit AS (
             |  SELECT l_partkey, l_suppkey,
             |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) * 100
             |           // CAST(sum(CAST(l_quantity AS BIGINT))
             |                AS BIGINT) AS up
             |  FROM lineitem GROUP BY 1, 2),
             |per AS (SELECT l_partkey,
             |               CAST(count(*) AS BIGINT) AS ns,
             |               CAST(sum(up) AS BIGINT) AS su,
             |               sum(CAST(up AS HUGEINT) * up) AS suu
             |        FROM unit GROUP BY 1 HAVING count(*) >= 3),
             |cv AS (SELECT l_partkey, ns, su,
             |              CASE WHEN su = 0 THEN 0
             |                   ELSE CAST(round(sqrt(CAST(ns AS DOUBLE)
             |                          * CAST(CAST(ns AS HUGEINT) * suu
             |                                 - CAST(su AS HUGEINT) * su
             |                              AS DOUBLE))
             |                        / CAST(su AS DOUBLE)
             |                        * CAST('1000000' AS DOUBLE), 0)
             |                     AS BIGINT)
             |              END AS cv_e6
             |       FROM per)
             |SELECT l_partkey AS partkey, ns AS n_suppliers,
             |       su // ns AS mean_unit_e2, cv_e6, rk
             |FROM (SELECT *, CAST(row_number() OVER (ORDER BY cv_e6 DESC,
             |        l_partkey) AS BIGINT) AS rk
             |      FROM cv)
             |WHERE rk <= 20""".stripMargin)),

    // ── Cross-price elasticity: top-3 brands by revenue; per ordered
    //    pair (A, B), regress A's month-over-month quantity percent
    //    change (e6) on B's average-price percent change (e6) through
    //    the origin: slope = Σxy // max(1, Σx² // 1e6). The A=B
    //    diagonal is own-price elasticity. Fixed 3×3 pair axis — the
    //    cross join never touches fact-table cardinality.
    QueryDef("q_cross_elasticity",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.lineitem(s, d)
          .filter(expr("year(l_shipdate) IN (1996, 1997)"))
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("brand"),
            expr("(year(l_shipdate) - 1996) * 12 + month(l_shipdate) - 1")
              .as("m"),
            expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
              .as("c"))
        val top = base.groupBy(col("brand")).agg(sum(col("c")).as("rev"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("rev").desc, col("brand"))))
          .filter(col("rk") <= 3).select(col("brand"))
        val monthly = base.join(broadcast(top), "brand")
          .groupBy(col("brand"), col("m"))
          .agg(sum(col("q")).as("mq"),
            expr("sum(c) div sum(q)").as("avg_price"))
        val w = Window.partitionBy(col("brand")).orderBy(col("m"))
        val chg = monthly
          .withColumn("pq", lag(col("mq"), 1).over(w))
          .withColumn("pp", lag(col("avg_price"), 1).over(w))
          .filter(col("pq").isNotNull && col("pq") > 0L && col("pp") > 0L)
          .selectExpr("brand", "m",
            """CASE WHEN mq >= pq THEN (mq - pq) * 1000000 div pq
              |ELSE -((pq - mq) * 1000000 div pq) END AS dq_e6""".stripMargin,
            """CASE WHEN avg_price >= pp
              |THEN (avg_price - pp) * 1000000 div pp
              |ELSE -((pp - avg_price) * 1000000 div pp) END AS dp_e6"""
              .stripMargin)
        chg.select(col("brand").as("brand_a"), col("m"), col("dq_e6"))
          .join(chg.select(col("brand").as("brand_b"), col("m"),
            col("dp_e6")), "m")
          .groupBy(col("brand_a"), col("brand_b"))
          .agg(count(lit(1)).as("n_months"),
            sum(col("dq_e6") * col("dp_e6")).as("sxy"),
            sum(col("dp_e6") * col("dp_e6")).as("sxx"))
          .selectExpr("brand_a", "brand_b",
            "CAST(n_months AS BIGINT) AS n_months",
            """CASE WHEN sxy >= 0
              |  THEN sxy div greatest(1L, sxx div 1000000)
              |  ELSE -((-sxy) div greatest(1L, sxx div 1000000))
              |END AS elasticity_e6""".stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT p.p_brand AS brand,
             |         (year(l.l_shipdate) - 1996) * 12
             |           + month(l.l_shipdate) - 1 AS m,
             |         CAST(floor(l.l_quantity + 0.5) AS BIGINT) AS q,
             |         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             |           AS c
             |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |  WHERE year(l.l_shipdate) IN (1996, 1997)),
             |top3 AS (SELECT brand FROM (
             |           SELECT brand, sum(c) AS rev FROM base GROUP BY 1) t
             |         QUALIFY row_number() OVER (ORDER BY rev DESC, brand)
             |           <= 3),
             |monthly AS (
             |  SELECT brand, m, CAST(sum(q) AS BIGINT) AS mq,
             |         CAST(sum(c) // sum(q) AS BIGINT) AS avg_price
             |  FROM base JOIN top3 USING (brand) GROUP BY 1, 2),
             |chg AS (
             |  SELECT brand, m,
             |         CASE WHEN mq >= pq THEN (mq - pq) * 1000000 // pq
             |           ELSE -((pq - mq) * 1000000 // pq) END AS dq_e6,
             |         CASE WHEN avg_price >= pp
             |           THEN (avg_price - pp) * 1000000 // pp
             |           ELSE -((pp - avg_price) * 1000000 // pp)
             |         END AS dp_e6
             |  FROM (SELECT brand, m, mq, avg_price,
             |          lag(mq) OVER w AS pq, lag(avg_price) OVER w AS pp
             |        FROM monthly WINDOW w AS (PARTITION BY brand
             |          ORDER BY m))
             |  WHERE pq IS NOT NULL AND pq > 0 AND pp > 0),
             |a AS (
             |  SELECT x.brand AS brand_a, y.brand AS brand_b,
             |         CAST(count(*) AS BIGINT) AS n_months,
             |         CAST(sum(x.dq_e6 * y.dp_e6) AS BIGINT) AS sxy,
             |         CAST(sum(y.dp_e6 * y.dp_e6) AS BIGINT) AS sxx
             |  FROM chg x JOIN chg y ON x.m = y.m
             |  GROUP BY 1, 2)
             |SELECT brand_a, brand_b, n_months,
             |       CASE WHEN sxy >= 0
             |         THEN sxy // greatest(1, sxx // 1000000)
             |         ELSE -((-sxy) // greatest(1, sxx // 1000000))
             |       END AS elasticity_e6
             |FROM a""".stripMargin)),

    /* Shift-share decomposition (`q_shift_share`): each nation's
     * 1996→97 revenue growth split into the national-trend effect, the
     * industry-mix effect (was the nation weighted toward growing
     * brands?), and the local-competitiveness residual — the regional-
     * economics standard. Identity: actual = national + mix +
     * competitive holds exactly because the residual is defined by
     * subtraction. */
    // ── Shift-share over nation×brand revenue cells: rates e6 with
    //    sign-factored division; effects in cents via r96·g div 1e6.
    QueryDef("q_shift_share",
      (s, d) => {
        val cell = Tables.lineitem(s, d)
          .filter(expr("year(l_shipdate) IN (1996, 1997)"))
          .join(broadcast(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("s_nationkey").as("nk"), col("p_brand").as("b"))
          .agg(sum(when(expr("year(l_shipdate) = 1996"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("r96"),
            sum(when(expr("year(l_shipdate) = 1997"),
              expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
              .otherwise(0L)).as("r97"))
          .localCheckpoint(false)
        val nat = cell.agg(sum(col("r96")).as("n96"), sum(col("r97")).as("n97"))
          .selectExpr("""CASE WHEN n97 >= n96
            |  THEN (n97 - n96) * 1000000 div greatest(1L, n96)
            |  ELSE -((n96 - n97) * 1000000 div greatest(1L, n96))
            |END AS g_nat""".stripMargin)
        val br = cell.groupBy(col("b"))
          .agg(sum(col("r96")).as("b96"), sum(col("r97")).as("b97"))
          .selectExpr("b", """CASE WHEN b97 >= b96
            |  THEN (b97 - b96) * 1000000 div greatest(1L, b96)
            |  ELSE -((b96 - b97) * 1000000 div greatest(1L, b96))
            |END AS g_b""".stripMargin)
        cell.join(broadcast(br), "b").crossJoin(broadcast(nat))
          .selectExpr("nk", "r97 - r96 AS actual",
            """CASE WHEN g_nat >= 0 THEN r96 * g_nat div 1000000
              |ELSE -(r96 * (-g_nat) div 1000000) END AS nat_eff"""
              .stripMargin,
            """CASE WHEN g_b - g_nat >= 0
              |  THEN r96 * (g_b - g_nat) div 1000000
              |  ELSE -(r96 * (g_nat - g_b) div 1000000)
              |END AS mix_eff""".stripMargin)
          .groupBy(col("nk"))
          .agg(sum(col("actual")).as("actual_cents"),
            sum(col("nat_eff")).as("national_cents"),
            sum(col("mix_eff")).as("mix_cents"))
          .selectExpr("CAST(nk AS BIGINT) AS nationkey",
            "CAST(actual_cents AS BIGINT) AS actual_cents",
            "CAST(national_cents AS BIGINT) AS national_cents",
            "CAST(mix_cents AS BIGINT) AS mix_cents",
            "actual_cents - national_cents - mix_cents AS competitive_cents")
      },
      Some("""WITH cell AS (
             |  SELECT s.s_nationkey AS nk, p.p_brand AS b,
             |         CAST(sum(CASE WHEN year(l.l_shipdate) = 1996
             |           THEN CAST(floor(l.l_extendedprice * 100 + 0.5)
             |             AS BIGINT) ELSE 0 END) AS BIGINT) AS r96,
             |         CAST(sum(CASE WHEN year(l.l_shipdate) = 1997
             |           THEN CAST(floor(l.l_extendedprice * 100 + 0.5)
             |             AS BIGINT) ELSE 0 END) AS BIGINT) AS r97
             |  FROM lineitem l
             |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
             |  JOIN part p ON l.l_partkey = p.p_partkey
             |  WHERE year(l.l_shipdate) IN (1996, 1997) GROUP BY 1, 2),
             |nat AS (SELECT CASE WHEN sum(r97) >= sum(r96)
             |          THEN CAST((sum(r97) - sum(r96)) * 1000000
             |            // greatest(1, sum(r96)) AS BIGINT)
             |          ELSE -CAST((sum(r96) - sum(r97)) * 1000000
             |            // greatest(1, sum(r96)) AS BIGINT)
             |        END AS g_nat FROM cell),
             |br AS (SELECT b, CASE WHEN sum(r97) >= sum(r96)
             |         THEN CAST((sum(r97) - sum(r96)) * 1000000
             |           // greatest(1, sum(r96)) AS BIGINT)
             |         ELSE -CAST((sum(r96) - sum(r97)) * 1000000
             |           // greatest(1, sum(r96)) AS BIGINT)
             |       END AS g_b FROM cell GROUP BY 1),
             |eff AS (
             |  SELECT c.nk, c.r97 - c.r96 AS actual,
             |         CASE WHEN nat.g_nat >= 0
             |           THEN c.r96 * nat.g_nat // 1000000
             |           ELSE -(c.r96 * (-nat.g_nat) // 1000000)
             |         END AS nat_eff,
             |         CASE WHEN br.g_b - nat.g_nat >= 0
             |           THEN c.r96 * (br.g_b - nat.g_nat) // 1000000
             |           ELSE -(c.r96 * (nat.g_nat - br.g_b) // 1000000)
             |         END AS mix_eff
             |  FROM cell c JOIN br ON c.b = br.b CROSS JOIN nat),
             |a AS (SELECT nk, CAST(sum(actual) AS BIGINT) AS actual_cents,
             |        CAST(sum(nat_eff) AS BIGINT) AS national_cents,
             |        CAST(sum(mix_eff) AS BIGINT) AS mix_cents
             |      FROM eff GROUP BY 1)
             |SELECT CAST(nk AS BIGINT) AS nationkey, actual_cents,
             |       national_cents, mix_cents,
             |       actual_cents - national_cents - mix_cents
             |         AS competitive_cents
             |FROM a""".stripMargin)),

    /* Price points (`q_price_points`): share of part retail prices
     * landing on .00 / .99 / .95 / .50 cents vs the 1% uniform
     * expectation each — the psychological-pricing screen of the
     * Benford family, per price digit bucket with excess ratios e6. */
    // ── Psychological price points vs the uniform 1%-per-cent rate.
    QueryDef("q_price_points",
      (s, d) => {
        val c = Tables.part(s, d)
          .selectExpr(
            "CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) % 100" +
              " AS cents")
          .localCheckpoint(false) // bucket counts + total
        val tot = c.agg(count(lit(1)).as("n"))
        c.selectExpr(
            """CASE WHEN cents IN (0, 50, 95, 99)
              |  THEN CAST(cents AS STRING) ELSE 'other' END AS bucket"""
              .stripMargin)
          .groupBy(col("bucket")).agg(count(lit(1)).as("k"))
          .crossJoin(broadcast(tot))
          .selectExpr("bucket", "k", "n",
            "k * 1000000 div n AS share_e6",
            // uniform expectation: 1% per named cent, 96% for other
            """CASE WHEN bucket = 'other' THEN 960000L
              |ELSE 10000L END AS expected_e6""".stripMargin)
          .selectExpr("bucket", "k", "share_e6", "expected_e6",
            """CASE WHEN expected_e6 = 0 THEN NULL
              |ELSE share_e6 * 1000000 div expected_e6
              |END AS excess_ratio_e6""".stripMargin)
      },
      Some("""WITH c AS (
             |  SELECT CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
             |           % 100 AS cents
             |  FROM part),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
             |b AS (SELECT CASE WHEN cents IN (0, 50, 95, 99)
             |          THEN CAST(cents AS VARCHAR) ELSE 'other' END
             |          AS bucket,
             |        CAST(count(*) AS BIGINT) AS k
             |      FROM c GROUP BY 1),
             |j AS (SELECT bucket, k, n, k * 1000000 // n AS share_e6,
             |        CASE WHEN bucket = 'other' THEN 960000
             |        ELSE 10000 END AS expected_e6
             |      FROM b CROSS JOIN tot)
             |SELECT bucket, k, share_e6, expected_e6,
             |       CASE WHEN expected_e6 = 0 THEN NULL
             |       ELSE share_e6 * 1000000 // expected_e6
             |       END AS excess_ratio_e6
             |FROM j""".stripMargin)),

    /* Price endings (`q_price_ending`): cents-mod-100 distribution of
     * order totals — shares of .00/.50/.99 endings plus the exact-e6
     * χ² against uniform over the 100 endings (the pricing-psychology
     * cousin of q_benford's leading digits). */
    // ── Cents-ending distribution + uniformity chi-square.
    QueryDef("q_price_ending",
      (s, d) => {
        val ends = Tables.orders(s, d)
          .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)" +
            " % 100").as("e"))
          .groupBy(col("e")).agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // 100 cells
        val tot = ends.agg(sum(col("c")).as("n"))
        ends.crossJoin(broadcast(tot))
          .agg(max(col("n")).as("n"),
            sum(when(col("e") === 0L, col("c")).otherwise(0L)).as("c00"),
            sum(when(col("e") === 50L, col("c")).otherwise(0L)).as("c50"),
            sum(when(col("e") === 99L, col("c")).otherwise(0L)).as("c99"),
            sum(expr("(c * 100 - n) * (c * 100 - n) div (n * 100)"))
              .as("chi"))
          .selectExpr("n",
            "c00 * 1000000 div n AS share00_e6",
            "c50 * 1000000 div n AS share50_e6",
            "c99 * 1000000 div n AS share99_e6",
            "chi * 1000000 div n AS chi2_e6")
      },
      Some("""WITH ends AS (
             |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           % 100 AS e,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM orders GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ends)
             |SELECT CAST(sum(CASE WHEN e = 0 THEN c ELSE 0 END)
             |         AS BIGINT) * 1000000 // max(n) AS share00_e6,
             |       CAST(sum(CASE WHEN e = 50 THEN c ELSE 0 END)
             |         AS BIGINT) * 1000000 // max(n) AS share50_e6,
             |       CAST(sum(CASE WHEN e = 99 THEN c ELSE 0 END)
             |         AS BIGINT) * 1000000 // max(n) AS share99_e6,
             |       CAST(sum((c * 100 - n) * (c * 100 - n) // (n * 100))
             |         AS BIGINT) * 1000000 // max(n) AS chi2_e6,
             |       max(n) AS n
             |FROM ends CROSS JOIN tot""".stripMargin))
  )
}
