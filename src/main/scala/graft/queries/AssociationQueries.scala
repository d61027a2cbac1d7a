package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Stats}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Association and dependence measures: correlation (linear, rank,
  * distance, xi), ordinal association, contingency-table strength, and 2x2
  * ratios. */
object AssociationQueries extends QueryCatalog {

  import Fixtures._

  private val twoByTwoSql =
    """WITH o AS (SELECT o_orderpriority = '1-URGENT' AS expo,
      |                  o_totalprice >= 150000.0 AS hi
      |           FROM orders),
      |t AS (SELECT CAST(sum(CASE WHEN expo AND hi THEN 1 ELSE 0 END)
      |               AS BIGINT) AS a,
      |             CAST(sum(CASE WHEN expo AND NOT hi THEN 1 ELSE 0 END)
      |               AS BIGINT) AS b,
      |             CAST(sum(CASE WHEN NOT expo AND hi THEN 1 ELSE 0 END)
      |               AS BIGINT) AS c,
      |             CAST(sum(CASE WHEN NOT expo AND NOT hi THEN 1 ELSE 0 END)
      |               AS BIGINT) AS dd
      |      FROM o)""".stripMargin

  private def twoByTwo(s: org.apache.spark.sql.SparkSession, d: String) =
    ordersHecto(s, d).agg(
      sum(when(col("exp") && col("hi"), 1L).otherwise(0L)).as("a"),
      sum(when(col("exp") && !col("hi"), 1L).otherwise(0L)).as("b"),
      sum(when(!col("exp") && col("hi"), 1L).otherwise(0L)).as("c"),
      sum(when(!col("exp") && !col("hi"), 1L).otherwise(0L)).as("dd"))

  /** quantity-decile × discount-band cells (≤ 36 at any SF). */
  private val qdCellsSql =
    """WITH cells AS (
      |  SELECT least(CAST(floor(l_quantity + 0.5) AS BIGINT) // 10, 5)
      |           AS i,
      |         least(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) // 2,
      |           5) AS j,
      |         CAST(count(*) AS BIGINT) AS o
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  private def qdCells(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .select(expr("least(CAST(floor(l_quantity + 0.5) AS BIGINT)" +
        " div 10, 5)").as("i"),
        expr("least(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)" +
          " div 2, 5)").as("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("o"))
      .localCheckpoint(false) // ≤ 36 cells, self-joined

  /** Per month (mo = yyyymm) the counts of priority-1 (x) and
    * priority-2 (y) orders: the paired samples of the month-pair
    * association tests. */
  private def monthPrio12(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(expr("year(o_orderdate) * 100 + month(o_orderdate)")
        .as("mo"))
      .agg(
        sum(when(substring(col("o_orderpriority"), 1, 1) === "1", 1L)
          .otherwise(0L)).as("x"),
        sum(when(substring(col("o_orderpriority"), 1, 1) === "2", 1L)
          .otherwise(0L)).as("y"))

  /** DuckDB twin of [[monthPrio12]] (CTE `m`). */
  private val monthPrio12Sql =
    """m AS (
      |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS mo,
      |         CAST(sum(CASE WHEN substring(o_orderpriority, 1, 1)
      |             = '1' THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |         CAST(sum(CASE WHEN substring(o_orderpriority, 1, 1)
      |             = '2' THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM orders GROUP BY 1)""".stripMargin

  /** Event type against day of week (days since epoch mod 7): (x, y). */
  private def typeWeekday(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type").as("x"),
        expr("(unix_micros(ts) div 86400000000) % 7").as("y"))

  /** DuckDB twin of [[typeWeekday]] (CTE `e`). */
  private val typeWeekdaySql =
    """e AS (SELECT event_type AS x,
      |                 (epoch_us(ts) // 86400000000) % 7 AS y FROM events)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Chi-square independence of event_type × day-of-week (epoch-day
    //    mod 7 — identical on both engines, unlike dayofweek()).
    //    Per-cell e6 rounding before the integer cross-cell sum.
    QueryDef("q_chi_square",
      (s, d) => Stats.chiSquare(
        typeWeekday(s, d),
        "x", "y"),
      Some(s"""WITH $typeWeekdaySql,
             |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS o FROM e GROUP BY x, y),
             |rm AS (SELECT x, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY x),
             |cm AS (SELECT y, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY y),
             |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             |               CAST(count(DISTINCT x) AS BIGINT) AS nx,
             |               CAST(count(DISTINCT y) AS BIGINT) AS ny FROM cells),
             |grid AS (SELECT rm.x, rm.r, cm.y, cm.c, coalesce(cells.o, 0) AS o
             |         FROM rm CROSS JOIN cm
             |         LEFT JOIN cells ON cells.x = rm.x AND cells.y = cm.y),
             |terms AS (SELECT n, nx, ny,
             |            CAST(floor(CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
             |              / CAST(r * c * n AS DOUBLE) * CAST('1000000' AS DOUBLE)
             |              + CAST('0.5' AS DOUBLE)) AS BIGINT) AS term_e6
             |          FROM grid CROSS JOIN tot),
             |agg AS (SELECT n, nx, ny, CAST(sum(term_e6) AS BIGINT) AS chi2_e6
             |        FROM terms GROUP BY n, nx, ny)
             |SELECT n, (nx - 1) * (ny - 1) AS dof, chi2_e6,
             |       CAST(floor(sqrt(CAST(chi2_e6 AS DOUBLE) / CAST('1000000' AS DOUBLE)
             |         / CAST(n * least(nx - 1, ny - 1) AS DOUBLE))
             |         * CAST('1000000' AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT) AS v_e6
             |FROM agg""".stripMargin)),

    // ── Mutual information I(event_type; dow) in e6 bits — all integer
    //    via the shared fixed-point log₂.
    QueryDef("q_mutual_info",
      (s, d) => Stats.mutualInfo(
        typeWeekday(s, d),
        "x", "y"),
      Some {
        val lg = Bm25.log2E6Sql("(cxy * n)") + " - " + Bm25.log2E6Sql("(cx * cy)")
        s"""WITH $typeWeekdaySql,
           |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cxy FROM e GROUP BY x, y),
           |rm AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM cells GROUP BY x),
           |cm AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM cells GROUP BY y),
           |tot AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cells),
           |terms AS (SELECT n, cxy * ($lg) AS contrib
           |          FROM cells JOIN rm USING (x) JOIN cm USING (y) CROSS JOIN tot)
           |SELECT n, CAST(count(*) AS BIGINT) AS n_cells,
           |       CAST(sum(contrib) // n AS BIGINT) AS mi_e6
           |FROM terms GROUP BY n""".stripMargin
      }),

    // ── Pairwise Pearson correlation matrix over the four lineitem
    //    money columns: one exact-moment aggregate (DECIMAL(38,0)),
    //    six pairs stacked out, doubles touched once per pair.
    QueryDef("q_corr_matrix",
      (s, d) => Stats.corrMatrix(Tables.lineitem(s, d).select(
        centsCol("l_quantity").as("qty"),
        centsCol("l_extendedprice").as("price"),
        centsCol("l_discount").as("disc"),
        centsCol("l_tax").as("tax")), Seq("qty", "price", "disc", "tax")),
      Some {
        val cs = Seq("qty" -> "l_quantity", "price" -> "l_extendedprice",
          "disc" -> "l_discount", "tax" -> "l_tax")
        val pairs = for (i <- cs.indices; j <- i + 1 until cs.size)
          yield (cs(i)._1, cs(j)._1)
        val moments =
          cs.map { case (a, s0) => s"sum(CAST(${cents(s0)} AS HUGEINT)) AS s_$a" } ++
          cs.map { case (a, s0) =>
            s"sum(CAST(${cents(s0)} AS HUGEINT) * CAST(${cents(s0)} AS HUGEINT)) AS q_$a" } ++
          pairs.map { case (a, b) =>
            val sa = cs.toMap.apply(a); val sb = cs.toMap.apply(b)
            s"sum(CAST(${cents(sa)} AS HUGEINT) * CAST(${cents(sb)} AS HUGEINT)) AS x_${a}_$b" }
        val rows = pairs.map { case (a, b) =>
          s"""SELECT '$a~$b' AS pair, CAST(n AS BIGINT) AS n,
             |  CASE WHEN n * q_$a - s_$a * s_$a = 0 OR n * q_$b - s_$b * s_$b = 0 THEN NULL
             |       ELSE round(CAST(n * x_${a}_$b - s_$a * s_$b AS DOUBLE) /
             |            sqrt(CAST(n * q_$a - s_$a * s_$a AS DOUBLE) *
             |                 CAST(n * q_$b - s_$b * s_$b AS DOUBLE)), 6)
             |  END AS corr FROM m""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
           |  ${moments.mkString(",\n  ")}
           |  FROM lineitem)
           |$rows""".stripMargin
      }),

    // ── Spearman rank correlation, per event type, between event TIME
    //    and value: the rank-based monotone-trend detector (robust to
    //    outliers where q_trend_slope is not). Doubled average ranks
    //    keep midrank ties integer-exact.
    QueryDef("q_spearman",
      (s, d) => Stats.spearmanByKey(
        Tables.events(s, d)
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long")),
        "event_type", "ts", "cents"),
      Some(s"""WITH r AS (
              |  SELECT event_type AS key,
              |         2 * rank() OVER (PARTITION BY event_type ORDER BY ts)
              |           + count(*) OVER (PARTITION BY event_type, ts) - 1 AS rx,
              |         2 * rank() OVER (PARTITION BY event_type ORDER BY $valueCents)
              |           + count(*) OVER (PARTITION BY event_type, $valueCents) - 1 AS ry
              |  FROM events),
              |m AS (SELECT key, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
              |             sum(rx * rx) AS qx, sum(ry * ry) AS qy,
              |             sum(rx * ry) AS sxy
              |      FROM r GROUP BY key)
              |SELECT key, CAST(n AS BIGINT) AS n,
              |       CASE WHEN n * qx - sx * sx = 0 OR n * qy - sy * sy = 0 THEN NULL
              |            ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
              |                 sqrt(CAST(n * qx - sx * sx AS DOUBLE) *
              |                      CAST(n * qy - sy * sy AS DOUBLE)), 6)
              |       END AS rho
              |FROM m""".stripMargin)),

    // ── Theil's U(event_type | day-of-week): what fraction of the
    //    event-mix entropy the weekday explains. Same cell aggregate as
    //    q_mutual_info, plus the H(X) margin pass and the clamped
    //    final ratio.
    QueryDef("q_theils_u",
      (s, d) => Stats.theilsU(
        typeWeekday(s, d),
        "x", "y"),
      Some {
        val lg = Bm25.log2E6Sql("(cxy * n)") + " - " + Bm25.log2E6Sql("(cx * cy)")
        val hg = Bm25.log2E6Sql("n") + " - " + Bm25.log2E6Sql("cx")
        s"""WITH $typeWeekdaySql,
           |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cxy
           |          FROM e GROUP BY x, y),
           |rm AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM cells GROUP BY x),
           |cm AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM cells GROUP BY y),
           |tot AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cells),
           |mi AS (SELECT n, CAST(sum(cxy * ($lg)) // n AS BIGINT) AS mi_e6
           |       FROM cells JOIN rm USING (x) JOIN cm USING (y) CROSS JOIN tot
           |       GROUP BY n),
           |hx AS (SELECT n, CAST(sum(cx * ($hg)) // n AS BIGINT) AS hx_e6
           |       FROM rm CROSS JOIN tot GROUP BY n)
           |SELECT n, hx_e6, mi_e6,
           |       CAST(greatest(mi_e6, 0) * 1000000 // greatest(hx_e6, 1)
           |            AS BIGINT) AS u_e6
           |FROM mi JOIN hx USING (n)""".stripMargin
      }),

    // ── Kendall τ-b per nation between monthly order volume and monthly
    //    revenue (cents). The month axis is bounded by the calendar, so
    //    the per-key pair count is scale-invariant.
    QueryDef("q_kendall_tau",
      (s, d) => {
        val cust = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"))
        val m = Tables.orders(s, d)
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nk"),
            date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
          .agg(count(lit(1)).as("x"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("y"))
        Stats.kendallTauByKey(m, "nk", "mon", "x", "y")
          .withColumnRenamed("k", "nk")
      },
      Some("""WITH m AS (
             |  SELECT CAST(c_nationkey AS BIGINT) AS nk,
             |         strftime(o_orderdate, '%Y-%m') AS mon,
             |         CAST(count(*) AS BIGINT) AS x,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             |           AS BIGINT) AS y
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |p AS (SELECT a.nk, a.x, a.y, b.x AS xb, b.y AS yb
             |      FROM m a JOIN m b ON a.nk = b.nk AND a.mon < b.mon),
             |agg AS (
             |  SELECT nk, CAST(count(*) AS BIGINT) AS n0,
             |         CAST(sum(CASE WHEN (x < xb AND y < yb)
             |                         OR (x > xb AND y > yb)
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS conc,
             |         CAST(sum(CASE WHEN (x < xb AND y > yb)
             |                         OR (x > xb AND y < yb)
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS disc,
             |         CAST(sum(CASE WHEN x = xb THEN 1 ELSE 0 END)
             |           AS BIGINT) AS tx,
             |         CAST(sum(CASE WHEN y = yb THEN 1 ELSE 0 END)
             |           AS BIGINT) AS ty
             |  FROM p GROUP BY 1)
             |SELECT nk, n0 AS n_pairs, conc AS concordant,
             |       disc AS discordant,
             |       CASE WHEN n0 - tx = 0 OR n0 - ty = 0 THEN NULL
             |            ELSE round(CAST(conc - disc AS DOUBLE) /
             |                 sqrt(CAST(n0 - tx AS DOUBLE) *
             |                      CAST(n0 - ty AS DOUBLE)), 6)
             |       END AS tau_b
             |FROM agg""".stripMargin)),

    // ── Partial correlation of per-order quantity vs revenue controlling
    //    for line count (does qty↔revenue survive removing "more lines"?).
    QueryDef("q_partial_corr",
      (s, d) => Stats.partialCorr(
        Tables.lineitem(s, d).groupBy(col("l_orderkey"))
          .agg(sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("x"),
            sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("y"),
            count(lit(1)).as("z")),
        "x", "y", "z"),
      Some {
        def r(a: String, b: String) =
          s"""CASE WHEN n * q_$a - s_$a * s_$a = 0
             |       OR n * q_$b - s_$b * s_$b = 0 THEN NULL
             |     ELSE CAST(n * x_${a}_$b - s_$a * s_$b AS DOUBLE) /
             |          sqrt(CAST(n * q_$a - s_$a * s_$a AS DOUBLE) *
             |               CAST(n * q_$b - s_$b * s_$b AS DOUBLE))
             |END""".stripMargin
        s"""WITH per AS (
           |  SELECT CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
           |           AS HUGEINT) AS x,
           |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
           |           AS HUGEINT) AS y,
           |         CAST(count(*) AS HUGEINT) AS z
           |  FROM lineitem GROUP BY l_orderkey),
           |mom AS (SELECT CAST(count(*) AS HUGEINT) AS n,
           |               sum(x) AS s_x, sum(y) AS s_y, sum(z) AS s_z,
           |               sum(x * x) AS q_x, sum(y * y) AS q_y,
           |               sum(z * z) AS q_z,
           |               sum(x * y) AS x_x_y, sum(x * z) AS x_x_z,
           |               sum(y * z) AS x_y_z
           |        FROM per),
           |rs AS (SELECT CAST(n AS BIGINT) AS n, ${r("x", "y")} AS rxy,
           |              ${r("x", "z")} AS rxz, ${r("y", "z")} AS ryz
           |       FROM mom)
           |SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz,
           |       round(ryz, 6) AS r_yz,
           |       CASE WHEN rxy IS NULL OR rxz IS NULL OR ryz IS NULL
           |              OR (1 - rxz * rxz) * (1 - ryz * ryz) <= 0 THEN NULL
           |            ELSE round((rxy - rxz * ryz) /
           |                 sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
           |       END AS r_partial
           |FROM rs""".stripMargin
      }),

    // ── Simpson reversal: does the discount→quantity trend inside each
    //    brand contradict the pooled trend? Sign-only — no division.
    QueryDef("q_simpson_reversal",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("g"),
            floor(col("l_discount") * 100 + 0.5).cast(dec).as("x"),
            floor(col("l_quantity") + 0.5).cast(dec).as("y"))
          .localCheckpoint(false) // reused: per-group + pooled moments
        val grp = li.groupBy(col("g"))
          .agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
          .selectExpr("g", "CAST(n AS BIGINT) AS n",
            "CAST(n * sxy - sx * sy AS BIGINT) AS slope_num")
        val pool = li
          .agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
          .selectExpr("CAST(n * sxy - sx * sy AS BIGINT) AS pooled_num")
        grp.crossJoin(broadcast(pool))
          .selectExpr("g", "n", "slope_num", "pooled_num",
            """(slope_num > 0 AND pooled_num < 0) OR
              |(slope_num < 0 AND pooled_num > 0) AS reversal""".stripMargin)
      },
      Some("""WITH li AS (
             |  SELECT p_brand AS g,
             |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x,
             |         CAST(floor(l_quantity + 0.5) AS BIGINT) AS y
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |grp AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
             |               CAST(sum(x) AS HUGEINT) AS sx,
             |               CAST(sum(y) AS HUGEINT) AS sy,
             |               CAST(sum(x * y) AS HUGEINT) AS sxy
             |        FROM li GROUP BY 1),
             |pool AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             |                CAST(sum(x) AS HUGEINT) AS sx,
             |                CAST(sum(y) AS HUGEINT) AS sy,
             |                CAST(sum(x * y) AS HUGEINT) AS sxy
             |         FROM li),
             |pn AS (SELECT CAST(n * sxy - sx * sy AS BIGINT) AS pooled_num
             |       FROM pool)
             |SELECT g, CAST(n AS BIGINT) AS n,
             |       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
             |       pooled_num,
             |       (n * sxy - sx * sy > 0 AND pooled_num < 0) OR
             |       (n * sxy - sx * sy < 0 AND pooled_num > 0) AS reversal
             |FROM grp CROSS JOIN pn""".stripMargin)),

    // ── Cramér's V between nation and market segment: per-cell
    //    χ² terms in the all-integer form (O·N − r·c)²·1e6 / (N·r·c)
    //    (non-negative → truncation engine-identical), summed over the
    //    25×5 contingency grid, then V = √(χ²/(N·min(r−1,c−1))).
    //    One customer rollup; margins join on the 125-cell axis.
    QueryDef("q_cramers_v",
      (s, d) => {
        val cells = Tables.customer(s, d)
          .groupBy(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("o"))
          .localCheckpoint(false) // margins + the cell walk
        val rows = cells.groupBy(col("nk")).agg(sum(col("o")).as("r"))
        val cols = cells.groupBy(col("seg")).agg(sum(col("o")).as("c"))
        val tot = cells.agg(sum(col("o")).as("n"),
          (countDistinct(col("nk")) - 1).as("rm1"),
          (countDistinct(col("seg")) - 1).as("cm1"))
        cells
          .join(broadcast(rows), "nk")
          .join(broadcast(cols), "seg")
          .crossJoin(broadcast(tot))
          .withColumn("term_e6", expr(
            "(o * n - r * c) * (o * n - r * c) * 1000000 div (n * r * c)"))
          .agg(max(col("n")).as("n"), max(expr("least(rm1, cm1)")).as("k"),
            sum(col("term_e6")).as("chi2_e6"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "CAST(chi2_e6 AS BIGINT) AS chi2_e6",
            """round(sqrt(CAST(chi2_e6 AS DOUBLE)
              |  / CAST('1000000.0' AS DOUBLE)
              |  / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE))), 6)
              |  AS cramers_v""".stripMargin)
      },
      Some("""WITH cells AS (SELECT c_nationkey AS nk, c_mktsegment AS seg,
             |                      CAST(count(*) AS BIGINT) AS o
             |               FROM customer GROUP BY 1, 2),
             |r AS (SELECT nk, CAST(sum(o) AS BIGINT) AS r
             |      FROM cells GROUP BY 1),
             |c AS (SELECT seg, CAST(sum(o) AS BIGINT) AS c
             |      FROM cells GROUP BY 1),
             |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             |               CAST(count(DISTINCT nk) - 1 AS BIGINT) AS rm1,
             |               CAST(count(DISTINCT seg) - 1 AS BIGINT) AS cm1
             |        FROM cells),
             |t AS (SELECT (o * n - r.r * c.c) * (o * n - r.r * c.c)
             |               * 1000000 // (n * r.r * c.c) AS term_e6,
             |             n, least(rm1, cm1) AS k
             |      FROM cells JOIN r USING (nk) JOIN c USING (seg)
             |      CROSS JOIN tot),
             |m AS (SELECT max(n) AS n, max(k) AS k,
             |             CAST(sum(term_e6) AS BIGINT) AS chi2_e6 FROM t)
             |SELECT CAST(n AS BIGINT) AS n, chi2_e6,
             |       round(sqrt(CAST(chi2_e6 AS DOUBLE)
             |         / CAST('1000000.0' AS DOUBLE)
             |         / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE))), 6)
             |         AS cramers_v
             |FROM m""".stripMargin)),

    // ── Mantel–Haenszel common odds ratio across region strata:
    //    exposure = urgent priority, outcome = finished status. The MH
    //    pooled ratio Σaᵢdᵢ/nᵢ ÷ Σbᵢcᵢ/nᵢ carries each per-stratum
    //    term at e9 truncated (decimal(38,0) products — identical
    //    truncation both engines), so or_mh_e6 is engine-identical
    //    integer arithmetic end to end.
    QueryDef("q_mantel_haenszel",
      (s, d) => {
        val strat = Tables.orders(s, d)
          .join(Tables.customer(s, d).select(col("c_custkey"),
            col("c_nationkey")), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_regionkey").as("reg"))
          .agg(
            sum(when(col("o_orderpriority") === "1-URGENT" &&
              col("o_orderstatus") === "F", 1L).otherwise(0L)).as("a"),
            sum(when(col("o_orderpriority") === "1-URGENT" &&
              col("o_orderstatus") =!= "F", 1L).otherwise(0L)).as("b"),
            sum(when(col("o_orderpriority") =!= "1-URGENT" &&
              col("o_orderstatus") === "F", 1L).otherwise(0L)).as("c"),
            sum(when(col("o_orderpriority") =!= "1-URGENT" &&
              col("o_orderstatus") =!= "F", 1L).otherwise(0L)).as("d"))
          .withColumn("ni", expr("a + b + c + d"))
        val tot = strat.agg(
          sum(expr(s"CAST(a AS $dec) * CAST(d AS $dec)" +
            s" * CAST(1000000000 AS $dec) div CAST(ni AS $dec)"))
            .as("num_e9"),
          sum(expr(s"CAST(b AS $dec) * CAST(c AS $dec)" +
            s" * CAST(1000000000 AS $dec) div CAST(ni AS $dec)"))
            .as("den_e9"),
          count(lit(1)).as("n_strata"), sum(col("a")).as("sum_a"))
        tot.selectExpr("CAST(n_strata AS BIGINT) AS n_strata",
          "CAST(sum_a AS BIGINT) AS sum_a",
          s"""CASE WHEN den_e9 = 0 THEN CAST(NULL AS BIGINT)
             |ELSE CAST(CAST(num_e9 AS $dec) * CAST(1000000 AS $dec)
             |       div CAST(den_e9 AS $dec) AS BIGINT)
             |END AS or_mh_e6""".stripMargin)
      },
      Some("""WITH strat AS (
             |  SELECT n_regionkey AS reg,
             |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
             |                        AND o_orderstatus = 'F'
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
             |                        AND o_orderstatus <> 'F'
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |         CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
             |                        AND o_orderstatus = 'F'
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS c,
             |         CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
             |                        AND o_orderstatus <> 'F'
             |                       THEN 1 ELSE 0 END) AS BIGINT) AS d
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1),
             |t AS (SELECT
             |        sum(CAST(a AS HUGEINT) * CAST(d AS HUGEINT)
             |            * 1000000000 // CAST(a + b + c + d AS HUGEINT))
             |          AS num_e9,
             |        sum(CAST(b AS HUGEINT) * CAST(c AS HUGEINT)
             |            * 1000000000 // CAST(a + b + c + d AS HUGEINT))
             |          AS den_e9,
             |        CAST(count(*) AS BIGINT) AS n_strata,
             |        CAST(sum(a) AS BIGINT) AS sum_a
             |      FROM strat)
             |SELECT n_strata, sum_a,
             |       CASE WHEN den_e9 = 0 THEN CAST(NULL AS BIGINT)
             |            ELSE CAST(num_e9 * 1000000 // den_e9 AS BIGINT)
             |       END AS or_mh_e6
             |FROM t""".stripMargin)),

    // ── Gamma between priority-1 and priority-2 monthly order volumes
    //    (paired by month): concordant/discordant month pairs,
    //    γ = (C−D)/(C+D) sign-factored e6.
    QueryDef("q_gk_gamma",
      (s, d) => {
        val m = monthPrio12(s, d)
          .localCheckpoint(false) // month axis: tiny; pair grid below
        m.as("a").join(m.as("b"), col("a.mo") < col("b.mo"))
          .agg(
            sum(when((col("a.x") < col("b.x") && col("a.y") < col("b.y"))
              || (col("a.x") > col("b.x") && col("a.y") > col("b.y")), 1L)
              .otherwise(0L)).as("c"),
            sum(when((col("a.x") < col("b.x") && col("a.y") > col("b.y"))
              || (col("a.x") > col("b.x") && col("a.y") < col("b.y")), 1L)
              .otherwise(0L)).as("dd"),
            count(lit(1)).as("n_pairs"))
          .selectExpr("CAST(n_pairs AS BIGINT) AS n_pairs",
            "CAST(c AS BIGINT) AS n_conc", "CAST(dd AS BIGINT) AS n_disc",
            """CASE WHEN c + dd = 0 THEN 0
              |     WHEN c >= dd THEN (c - dd) * 1000000 div (c + dd)
              |     ELSE -((dd - c) * 1000000 div (c + dd))
              |END AS gamma_e6""".stripMargin)
      },
      Some(s"""WITH $monthPrio12Sql,
             |p AS (SELECT
             |        CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
             |            OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0
             |          END) AS BIGINT) AS c,
             |        CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
             |            OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0
             |          END) AS BIGINT) AS dd,
             |        CAST(count(*) AS BIGINT) AS n_pairs
             |      FROM m a JOIN m b ON a.mo < b.mo)
             |SELECT n_pairs, c AS n_conc, dd AS n_disc,
             |       CASE WHEN c + dd = 0 THEN 0
             |            WHEN c >= dd THEN (c - dd) * 1000000 // (c + dd)
             |            ELSE -((dd - c) * 1000000 // (c + dd))
             |       END AS gamma_e6
             |FROM p""".stripMargin)),

    // ── Hoeffding's D (strict-rank variant): R/S = strict inferiors +1
    //    per axis, Q = strict bivariate inferiors; D1 = ΣQ(Q−1),
    //    D2 = Σ(R−1)(R−2)(S−1)(S−2), D3 = Σ(R−2)(S−2)Q,
    //    D·denom = 30·((n−2)(n−3)D1 + D2 − 2(n−2)D3) — reported as
    //    d_e6 = that numerator ·1e6 div n(n−1)(n−2)(n−3)(n−4).
    QueryDef("q_hoeffding_d",
      (s, d) => {
        val m = monthPrio12(s, d)
          .localCheckpoint(false) // month axis; self-join below
        val q = m.as("a").join(m.as("b"), col("a.mo") =!= col("b.mo"))
          .groupBy(col("a.mo").as("mo"))
          .agg(
            sum(when(col("b.x") < col("a.x"), 1L).otherwise(0L)).as("rx"),
            sum(when(col("b.y") < col("a.y"), 1L).otherwise(0L)).as("ry"),
            sum(when(col("b.x") < col("a.x") && col("b.y") < col("a.y"),
              1L).otherwise(0L)).as("qq"))
          .select((col("rx") + 1).as("r"), (col("ry") + 1).as("ss"),
            col("qq"))
        q.agg(count(lit(1)).as("n"),
            sum(expr("qq * (qq - 1)")).as("d1"),
            sum(expr("(r - 1) * (r - 2) * (ss - 1) * (ss - 2)")).as("d2"),
            sum(expr("(r - 2) * (ss - 2) * qq")).as("d3"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "CAST(d1 AS BIGINT) AS d1", "CAST(d2 AS BIGINT) AS d2",
            "CAST(d3 AS BIGINT) AS d3",
            """CAST(CASE WHEN 30 * ((n - 2) * (n - 3) * d1 + d2
              |       - 2 * (n - 2) * d3) >= 0
              |  THEN 30 * ((n - 2) * (n - 3) * d1 + d2
              |       - 2 * (n - 2) * d3) * 1000000
              |       div (n * (n - 1) * (n - 2) * (n - 3) * (n - 4))
              |  ELSE -((-(30 * ((n - 2) * (n - 3) * d1 + d2
              |       - 2 * (n - 2) * d3))) * 1000000
              |       div (n * (n - 1) * (n - 2) * (n - 3) * (n - 4)))
              |END AS BIGINT) AS d_e6""".stripMargin)
      },
      Some(s"""WITH $monthPrio12Sql,
             |q AS (SELECT a.mo,
             |             CAST(sum(CASE WHEN b.x < a.x THEN 1 ELSE 0
             |               END) + 1 AS BIGINT) AS r,
             |             CAST(sum(CASE WHEN b.y < a.y THEN 1 ELSE 0
             |               END) + 1 AS BIGINT) AS ss,
             |             CAST(sum(CASE WHEN b.x < a.x AND b.y < a.y
             |               THEN 1 ELSE 0 END) AS BIGINT) AS qq
             |      FROM m a JOIN m b ON a.mo <> b.mo
             |      GROUP BY 1),
             |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(qq * (qq - 1)) AS BIGINT) AS d1,
             |               CAST(sum((r - 1) * (r - 2) * (ss - 1)
             |                 * (ss - 2)) AS BIGINT) AS d2,
             |               CAST(sum((r - 2) * (ss - 2) * qq) AS BIGINT)
             |                 AS d3
             |        FROM q)
             |SELECT n, d1, d2, d3,
             |       CAST(CASE WHEN 30 * ((n - 2) * (n - 3) * d1 + d2
             |              - 2 * (n - 2) * d3) >= 0
             |         THEN 30 * ((n - 2) * (n - 3) * d1 + d2
             |              - 2 * (n - 2) * d3) * 1000000
             |              // (n * (n - 1) * (n - 2) * (n - 3) * (n - 4))
             |         ELSE -((-(30 * ((n - 2) * (n - 3) * d1 + d2
             |              - 2 * (n - 2) * d3))) * 1000000
             |              // (n * (n - 1) * (n - 2) * (n - 3) * (n - 4)))
             |       END AS BIGINT) AS d_e6
             |FROM agg""".stripMargin)),

    /* Chatterjee's ξ (`q_xi_correlation`): the rank-based coefficient
     * that detects ARBITRARY functional dependence (ξ→1 iff y is a
     * measurable function of x), where Pearson/Spearman read 0 on a
     * parabola. ξ = 1 − 3Σ|r_{i+1}−r_i|/(n²−1) with y-ranks walked in
     * x-order — two windows sharing ONE segment-keyed shuffle, full
     * tie-break order so the rank walk is engine-exact. */
    // ── Chatterjee's ξ per segment over (acctbal, spend).
    QueryDef("q_xi_correlation",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("y"))
        val per = Tables.customer(s, d)
          .select(col("c_custkey").as("ck"),
            col("c_mktsegment").as("seg"),
            floor(col("c_acctbal") * 100 + 0.5).cast("long").as("x"))
          .join(spend, col("ck") === col("o_custkey"))
          .select(col("seg"), col("ck"), col("x"), col("y"))
        val wy = Window.partitionBy(col("seg"))
          .orderBy(col("y"), col("ck"))
        val wx = Window.partitionBy(col("seg"))
          .orderBy(col("x"), col("ck"))
        per
          .withColumn("r", row_number().over(wy).cast("long"))
          .withColumn("rn", lead(col("r"), 1).over(wx))
          .groupBy(col("seg"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CASE WHEN rn IS NULL THEN 0L" +
              " ELSE abs(rn - r) END")).as("s"))
          .selectExpr("seg", "n", "s",
            """round(CAST('1.0' AS DOUBLE)
              | - CAST('3.0' AS DOUBLE) * CAST(s AS DOUBLE)
              |   / CAST(n * n - 1 AS DOUBLE), 6) AS xi"""
              .stripMargin)
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS y
             |  FROM orders GROUP BY 1),
             |per AS (SELECT c_mktsegment AS seg, c_custkey AS ck,
             |          CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS x,
             |          y
             |        FROM customer JOIN spend ON o_custkey = c_custkey),
             |rk AS (SELECT seg, ck, x, y,
             |         CAST(row_number() OVER (PARTITION BY seg
             |           ORDER BY y, ck) AS BIGINT) AS r
             |       FROM per),
             |wk AS (SELECT seg, r,
             |         lead(r) OVER (PARTITION BY seg ORDER BY x, ck)
             |           AS rn
             |       FROM rk)
             |SELECT seg, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CASE WHEN rn IS NULL THEN 0
             |                     ELSE abs(rn - r) END) AS BIGINT) AS s,
             |       round(CAST('1.0' AS DOUBLE)
             |         - CAST('3.0' AS DOUBLE)
             |           * CAST(sum(CASE WHEN rn IS NULL THEN 0
             |                          ELSE abs(rn - r) END) AS DOUBLE)
             |           / CAST(count(*) * count(*) - 1 AS DOUBLE), 6)
             |         AS xi
             |FROM wk GROUP BY 1""".stripMargin)),

    /* Distance correlation (`q_distance_corr`): Székely's dCor between
     * the two region revenue series on the bounded month axis. The
     * double-centered products are fully integerized by multiplying
     * through by m² (A′ = m²d − m·rᵢ − m·rⱼ + T — exact BIGINT→decimal
     * algebra), so ΣA′B′ / √(ΣA′²·ΣB′²) is one portable double chain —
     * the lesson that cross-row double sums are never portable,
     * applied to an O(m²) statistic the bounded axis makes affordable.
     * Pearson r rides along for the linear-vs-nonlinear contrast. */
    // ── Distance correlation between region revenue series.
    QueryDef("q_distance_corr",
      (s, d) => {
        val monthly = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .where(col("n_regionkey").isin(0, 1))
          .groupBy(expr("CAST(unix_micros(CAST(o_orderdate AS" +
            " TIMESTAMP)) div 2592000000000 AS BIGINT)").as("mo"))
          .agg(sum(when(col("n_regionkey") === 0,
            floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .otherwise(0L)).as("a"),
            sum(when(col("n_regionkey") === 1,
              floor(col("o_totalprice") * 100 + 0.5).cast("long"))
              .otherwise(0L)).as("b"))
          .localCheckpoint(false) // pair join ×2 sides + moments
        val pairs = monthly.select(col("mo").as("i"), col("a").as("ai"),
            col("b").as("bi"))
          .crossJoin(monthly.select(col("mo").as("j"), col("a").as("aj"),
            col("b").as("bj")))
          .selectExpr("i", "j", "abs(ai - aj) AS da", "abs(bi - bj) AS db")
          .localCheckpoint(false) // row sums + centered products
        val rows = pairs.groupBy(col("i"))
          .agg(sum(col("da")).as("ra"), sum(col("db")).as("rb"))
        val tot = rows.agg(sum(col("ra")).as("ta"), sum(col("rb")).as("tb"),
          count(lit(1)).as("m"))
        val cent = pairs
          .join(broadcast(rows.select(col("i"), col("ra").as("rai"),
            col("rb").as("rbi"))), "i")
          .join(broadcast(rows.select(col("i").as("j"),
            col("ra").as("raj"), col("rb").as("rbj"))), "j")
          .crossJoin(broadcast(tot))
          .selectExpr(
            s"CAST(m AS $dec) * m * da - CAST(m AS $dec) * rai" +
              s" - CAST(m AS $dec) * raj + ta AS ca",
            s"CAST(m AS $dec) * m * db - CAST(m AS $dec) * rbi" +
              s" - CAST(m AS $dec) * rbj + tb AS cb")
          .agg(sum(expr("ca * cb")).as("sab"),
            sum(expr("ca * ca")).as("saa"),
            sum(expr("cb * cb")).as("sbb"))
        val pear = monthly.agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
          sum(col("b")).as("sb"),
          sum(expr(s"CAST(a AS $dec) * a")).as("qa"),
          sum(expr(s"CAST(b AS $dec) * b")).as("qb"),
          sum(expr(s"CAST(a AS $dec) * b")).as("qab"))
        cent.crossJoin(broadcast(pear))
          .selectExpr("CAST(n AS BIGINT) AS n_months",
            """CASE WHEN saa = 0 OR sbb = 0 THEN NULL
              |ELSE round(sqrt(CAST(sab AS DOUBLE)
              |  / sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE))), 6)
              |END AS dcor""".stripMargin,
            s"""round(CAST(CAST(n AS $dec) * qab
               | - CAST(sa AS $dec) * sb AS DOUBLE)
               | / sqrt(CAST(CAST(n AS $dec) * qa
               |     - CAST(sa AS $dec) * sa AS DOUBLE)
               |   * CAST(CAST(n AS $dec) * qb
               |     - CAST(sb AS $dec) * sb AS DOUBLE)), 6)
               | AS pearson_r""".stripMargin)
      },
      Some("""WITH monthly AS (
             |  SELECT epoch_us(o_orderdate) // 2592000000000 AS mo,
             |         CAST(sum(CASE WHEN n_regionkey = 0 THEN
             |           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           ELSE 0 END) AS BIGINT) AS a,
             |         CAST(sum(CASE WHEN n_regionkey = 1 THEN
             |           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           ELSE 0 END) AS BIGINT) AS b
             |  FROM orders
             |  JOIN customer ON c_custkey = o_custkey
             |  JOIN nation ON n_nationkey = c_nationkey
             |  WHERE n_regionkey IN (0, 1)
             |  GROUP BY 1),
             |pairs AS (SELECT x.mo AS i, y.mo AS j,
             |            abs(x.a - y.a) AS da, abs(x.b - y.b) AS db
             |          FROM monthly x CROSS JOIN monthly y),
             |rows_ AS (SELECT i, CAST(sum(da) AS HUGEINT) AS ra,
             |                 CAST(sum(db) AS HUGEINT) AS rb
             |          FROM pairs GROUP BY 1),
             |tot AS (SELECT CAST(sum(ra) AS HUGEINT) AS ta,
             |               CAST(sum(rb) AS HUGEINT) AS tb,
             |               CAST(count(*) AS HUGEINT) AS m FROM rows_),
             |cent AS (SELECT
             |           m * m * da - m * ri.ra - m * rj.ra + ta AS ca,
             |           m * m * db - m * ri.rb - m * rj.rb + tb AS cb
             |         FROM pairs p
             |         JOIN rows_ ri ON ri.i = p.i
             |         JOIN rows_ rj ON rj.i = p.j
             |         CROSS JOIN tot),
             |cm AS (SELECT sum(ca * cb) AS sab, sum(ca * ca) AS saa,
             |              sum(cb * cb) AS sbb FROM cent),
             |pm AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |              CAST(sum(a) AS HUGEINT) AS sa,
             |              CAST(sum(b) AS HUGEINT) AS sb,
             |              sum(CAST(a AS HUGEINT) * a) AS qa,
             |              sum(CAST(b AS HUGEINT) * b) AS qb,
             |              sum(CAST(a AS HUGEINT) * b) AS qab
             |       FROM monthly)
             |SELECT n AS n_months,
             |       CASE WHEN saa = 0 OR sbb = 0 THEN NULL
             |       ELSE round(sqrt(CAST(sab AS DOUBLE)
             |         / sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE))),
             |         6) END AS dcor,
             |       round(CAST(CAST(n AS HUGEINT) * qab - sa * sb
             |           AS DOUBLE)
             |         / sqrt(CAST(CAST(n AS HUGEINT) * qa - sa * sa
             |             AS DOUBLE)
             |           * CAST(CAST(n AS HUGEINT) * qb - sb * sb
             |             AS DOUBLE)), 6) AS pearson_r
             |FROM cm CROSS JOIN pm""".stripMargin)),

    /* Somers' D (`q_somers_d`): asymmetric ordinal association
     * D_yx = (C−D)/(C+D+T_y) between line quantity and discount. Pair
     * counts come from a self-join of the BOUNDED (quantity, discount)
     * contingency table (≤ 50×11 cells → ≤ 3·10⁵ cell pairs at any
     * data volume) — never row pairs. */
    // ── Somers' D_yx: y = discount bucket ordered by x = quantity.
    QueryDef("q_somers_d",
      (s, d) => {
        val cells = Tables.lineitem(s, d)
          .select(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("x"),
            expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("y"))
          .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // ≤ 50×11 cells at any SF
        val n = cells.agg(sum(col("c")).as("n"))
        val pairs = cells.crossJoin(
          broadcast(cells.select(col("x").as("x2"), col("y").as("y2"),
            col("c").as("c2"))))
        pairs
          .agg(
            sum(when(col("x2") > col("x") && col("y2") > col("y"),
              expr(s"CAST(c AS $dec) * c2")).otherwise(lit(0L)))
              .as("conc0"),
            sum(when(col("x2") > col("x") && col("y2") < col("y"),
              expr(s"CAST(c AS $dec) * c2")).otherwise(lit(0L)))
              .as("disc0"),
            sum(when(col("x2") > col("x") && col("y2") === col("y"),
              expr(s"CAST(c AS $dec) * c2")).otherwise(lit(0L)))
              .as("ty0"))
          .crossJoin(broadcast(n))
          .selectExpr("n", "CAST(conc0 AS BIGINT) AS conc",
            "CAST(disc0 AS BIGINT) AS disc", "CAST(ty0 AS BIGINT) AS ty",
            s"""CASE WHEN conc0 + disc0 + ty0 = 0 THEN NULL
               |WHEN conc0 >= disc0
               |  THEN CAST((conc0 - disc0) * 1000000
               |    div (conc0 + disc0 + ty0) AS BIGINT)
               |  ELSE -CAST((disc0 - conc0) * 1000000
               |    div (conc0 + disc0 + ty0) AS BIGINT)
               |END AS somers_d_e6""".stripMargin)
      },
      Some("""WITH cells AS (
             |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
             |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem GROUP BY 1, 2),
             |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
             |agg AS (SELECT
             |          sum(CASE WHEN b.x > a.x AND b.y > a.y
             |            THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
             |            AS conc0,
             |          sum(CASE WHEN b.x > a.x AND b.y < a.y
             |            THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
             |            AS disc0,
             |          sum(CASE WHEN b.x > a.x AND b.y = a.y
             |            THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END)
             |            AS ty0
             |        FROM cells a CROSS JOIN cells b)
             |SELECT n, CAST(conc0 AS BIGINT) AS conc,
             |       CAST(disc0 AS BIGINT) AS disc,
             |       CAST(ty0 AS BIGINT) AS ty,
             |       CASE WHEN conc0 + disc0 + ty0 = 0 THEN NULL
             |       WHEN conc0 >= disc0
             |         THEN CAST((conc0 - disc0) * 1000000
             |           // (conc0 + disc0 + ty0) AS BIGINT)
             |         ELSE -CAST((disc0 - conc0) * 1000000
             |           // (conc0 + disc0 + ty0) AS BIGINT)
             |       END AS somers_d_e6
             |FROM agg CROSS JOIN n""".stripMargin)),

    /* Goodman–Kruskal λ (`q_gk_lambda`): proportional-reduction-in-error
     * of predicting market segment from nation — (Σ_x max_y n_xy −
     * max_y n_y)/(n − max_y n_y), exact integers on the 25×5 table. */
    // ── Goodman–Kruskal λ: predict segment from nation.
    QueryDef("q_gk_lambda",
      (s, d) => {
        val cells = Tables.customer(s, d)
          .groupBy(col("c_nationkey").as("nk"),
            col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // ≤ 25×5 cells
        val rowmax = cells.groupBy(col("nk")).agg(max(col("c")).as("mx"))
          .agg(sum(col("mx")).as("sum_rowmax"))
        val colmax = cells.groupBy(col("seg")).agg(sum(col("c")).as("cc"))
          .agg(max(col("cc")).as("max_col"))
        val n = cells.agg(sum(col("c")).as("n"))
        rowmax.crossJoin(broadcast(colmax)).crossJoin(broadcast(n))
          .selectExpr("n", "sum_rowmax", "max_col",
            """CASE WHEN n = max_col THEN NULL
              |ELSE (sum_rowmax - max_col) * 1000000 div (n - max_col)
              |END AS lambda_e6""".stripMargin)
      },
      Some("""WITH cells AS (
             |  SELECT c_nationkey AS nk, c_mktsegment AS seg,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM customer GROUP BY 1, 2),
             |rowmax AS (SELECT CAST(sum(mx) AS BIGINT) AS sum_rowmax
             |           FROM (SELECT nk, max(c) AS mx FROM cells
             |                 GROUP BY 1)),
             |colmax AS (SELECT CAST(max(cc) AS BIGINT) AS max_col
             |           FROM (SELECT seg, sum(c) AS cc FROM cells
             |                 GROUP BY 1)),
             |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells)
             |SELECT n, sum_rowmax, max_col,
             |       CASE WHEN n = max_col THEN NULL
             |       ELSE (sum_rowmax - max_col) * 1000000 // (n - max_col)
             |       END AS lambda_e6
             |FROM rowmax CROSS JOIN colmax CROSS JOIN n""".stripMargin)),

    /* Relative risk (`q_relative_risk`): returned-line risk under deep
     * discount vs not, from the 2×2 (exposure, outcome) table; ln RR in
     * the shared e6 log₂ fixed point (·ln2), the delta-method standard
     * error as one closing double chain. */
    // ── Relative risk of a return under deep discount (≥ 6%).
    QueryDef("q_relative_risk",
      (s, d) => Tables.lineitem(s, d)
        .select((col("l_discount") >= 0.06).as("exp"),
          (col("l_returnflag") === "R").as("ret"))
        .agg(
          sum(when(col("exp") && col("ret"), 1L).otherwise(0L)).as("a"),
          sum(when(col("exp") && !col("ret"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("exp") && col("ret"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("exp") && !col("ret"), 1L).otherwise(0L)).as("d"))
        // log args stay BIGINT (the shared log₂ shifts need an integral
        // type in both engines; a·(c+d) ≤ ~10¹² here)
        .withColumn("l1",
          Bm25.log2E6(greatest(expr("a * (c + d)"), lit(1L))))
        .withColumn("l2",
          Bm25.log2E6(greatest(expr("c * (a + b)"), lit(1L))))
        .selectExpr("a", "b", "c", "d",
          s"""CASE WHEN c = 0 OR a + b = 0 THEN NULL
             |ELSE CAST(CAST(a AS $dec) * (c + d) * 1000000
             |  div (CAST(c AS $dec) * (a + b)) AS BIGINT)
             |END AS rr_e6""".stripMargin,
          """CASE WHEN a = 0 OR c = 0 THEN NULL
            |ELSE CAST(CAST(l1 - l2 AS decimal(38,0)) * 693147
            |  div 1000000 AS BIGINT)
            |END AS ln_rr_e6""".stripMargin,
          // delta-method se of ln RR: √(1/a − 1/(a+b) + 1/c − 1/(c+d))
          """CASE WHEN a = 0 OR c = 0 THEN NULL
            |ELSE round(sqrt(CAST('1.0' AS DOUBLE) / CAST(a AS DOUBLE)
            |  - CAST('1.0' AS DOUBLE) / CAST(a + b AS DOUBLE)
            |  + CAST('1.0' AS DOUBLE) / CAST(c AS DOUBLE)
            |  - CAST('1.0' AS DOUBLE) / CAST(c + d AS DOUBLE)), 6)
            |END AS se_ln_rr""".stripMargin),
      Some {
        val l1 = Bm25.log2E6Sql("greatest(a * (c + d), 1)")
        val l2 = Bm25.log2E6Sql("greatest(c * (a + b), 1)")
        s"""WITH t AS (
           |  SELECT CAST(sum(CASE WHEN l_discount >= 0.06
           |           AND l_returnflag = 'R' THEN 1 ELSE 0 END)
           |           AS BIGINT) AS a,
           |         CAST(sum(CASE WHEN l_discount >= 0.06
           |           AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
           |           AS BIGINT) AS b,
           |         CAST(sum(CASE WHEN l_discount < 0.06
           |           AND l_returnflag = 'R' THEN 1 ELSE 0 END)
           |           AS BIGINT) AS c,
           |         CAST(sum(CASE WHEN l_discount < 0.06
           |           AND l_returnflag <> 'R' THEN 1 ELSE 0 END)
           |           AS BIGINT) AS d
           |  FROM lineitem)
           |SELECT a, b, c, d,
           |       CASE WHEN c = 0 OR a + b = 0 THEN NULL
           |       ELSE CAST(CAST(a AS HUGEINT) * (c + d) * 1000000
           |         // (CAST(c AS HUGEINT) * (a + b)) AS BIGINT)
           |       END AS rr_e6,
           |       CASE WHEN a = 0 OR c = 0 THEN NULL
           |       ELSE CAST(CAST($l1 - $l2 AS HUGEINT) * 693147
           |         // 1000000 AS BIGINT)
           |       END AS ln_rr_e6,
           |       CASE WHEN a = 0 OR c = 0 THEN NULL
           |       ELSE round(sqrt(CAST('1.0' AS DOUBLE) / CAST(a AS DOUBLE)
           |         - CAST('1.0' AS DOUBLE) / CAST(a + b AS DOUBLE)
           |         + CAST('1.0' AS DOUBLE) / CAST(c AS DOUBLE)
           |         - CAST('1.0' AS DOUBLE) / CAST(c + d AS DOUBLE)), 6)
           |       END AS se_ln_rr
           |FROM t""".stripMargin
      }),

    /* Odds / risk ratio (`q_odds_ratio`): the 2×2 epidemiology pair on
     * urgent exposure × high-value outcome, exact integer e6 ratios. */
    // ── Odds ratio + risk ratio on the urgent × high-value 2×2.
    QueryDef("q_odds_ratio",
      (s, d) => twoByTwo(s, d).selectExpr("a", "b", "c", "dd",
        """CASE WHEN b * c = 0 THEN NULL
          |ELSE a * dd * 1000000 div (b * c) END AS or_e6""".stripMargin,
        """CASE WHEN (a + b) * c = 0 THEN NULL
          |ELSE a * (c + dd) * 1000000 div ((a + b) * c)
          |END AS rr_e6""".stripMargin),
      Some(twoByTwoSql +
        """
          |SELECT a, b, c, dd,
          |       CASE WHEN b * c = 0 THEN NULL
          |       ELSE a * dd * 1000000 // (b * c) END AS or_e6,
          |       CASE WHEN (a + b) * c = 0 THEN NULL
          |       ELSE a * (c + dd) * 1000000 // ((a + b) * c)
          |       END AS rr_e6
          |FROM t""".stripMargin)),

    /* φ coefficient + Yule's Q (`q_phi_yule`): the same table's
     * correlation-flavored association readouts; Q is an exact
     * sign-split integer ratio, φ closes through one double sqrt chain. */
    // ── φ coefficient (double sqrt chain) + Yule's Q (exact integer).
    QueryDef("q_phi_yule",
      (s, d) => twoByTwo(s, d).selectExpr("a", "b", "c", "dd",
        """CASE WHEN (a + b) = 0 OR (c + dd) = 0 OR (a + c) = 0
          |  OR (b + dd) = 0 THEN NULL
          |ELSE CAST(floor((CAST(a AS DOUBLE) * dd - CAST(b AS DOUBLE) * c)
          |  * 1000000 / (sqrt(CAST(a + b AS DOUBLE))
          |    * sqrt(CAST(c + dd AS DOUBLE)) * sqrt(CAST(a + c AS DOUBLE))
          |    * sqrt(CAST(b + dd AS DOUBLE)))) AS BIGINT)
          |END AS phi_e6""".stripMargin,
        """CASE WHEN a * dd + b * c = 0 THEN NULL
          |WHEN a * dd >= b * c
          |  THEN (a * dd - b * c) * 1000000 div (a * dd + b * c)
          |  ELSE -((b * c - a * dd) * 1000000 div (a * dd + b * c))
          |END AS yule_q_e6""".stripMargin),
      Some(twoByTwoSql +
        """
          |SELECT a, b, c, dd,
          |       CASE WHEN (a + b) = 0 OR (c + dd) = 0 OR (a + c) = 0
          |         OR (b + dd) = 0 THEN NULL
          |       ELSE CAST(floor((CAST(a AS DOUBLE) * dd
          |         - CAST(b AS DOUBLE) * c)
          |         * 1000000 / (sqrt(CAST(a + b AS DOUBLE))
          |           * sqrt(CAST(c + dd AS DOUBLE))
          |           * sqrt(CAST(a + c AS DOUBLE))
          |           * sqrt(CAST(b + dd AS DOUBLE)))) AS BIGINT)
          |       END AS phi_e6,
          |       CASE WHEN a * dd + b * c = 0 THEN NULL
          |       WHEN a * dd >= b * c
          |         THEN (a * dd - b * c) * 1000000 // (a * dd + b * c)
          |         ELSE -((b * c - a * dd) * 1000000 // (a * dd + b * c))
          |       END AS yule_q_e6
          |FROM t""".stripMargin)),

    /* Goodman–Kruskal γ (`q_gamma_kruskal`): concordant-vs-discordant */
    // ── Goodman–Kruskal gamma on the quantity×discount cell table.
    QueryDef("q_gamma_kruskal",
      (s, d) => {
        val cells = qdCells(s, d)
        val p = cells.as("a").join(broadcast(cells.as("b")),
          col("a.i") =!= col("b.i") && col("a.j") =!= col("b.j"))
        p.agg(
            sum(when((col("b.i") > col("a.i")) === (col("b.j") > col("a.j")),
              col("a.o") * col("b.o")).otherwise(0L)).as("c2"),
            sum(when((col("b.i") > col("a.i")) =!= (col("b.j") > col("a.j")),
              col("a.o") * col("b.o")).otherwise(0L)).as("d2"))
          .selectExpr("c2 div 2 AS conc", "d2 div 2 AS disc",
            s"""CASE WHEN c2 + d2 = 0 THEN NULL
               |WHEN c2 >= d2 THEN CAST(CAST(c2 - d2 AS $dec) * 1000000
               |  div (c2 + d2) AS BIGINT)
               |ELSE -CAST(CAST(d2 - c2 AS $dec) * 1000000 div (c2 + d2)
               |  AS BIGINT)
               |END AS gamma_e6""".stripMargin)
      },
      Some(qdCellsSql +
        """,
          |p AS (SELECT
          |  CAST(sum(CASE WHEN (b.i > a.i) = (b.j > a.j)
          |    THEN a.o * b.o ELSE 0 END) AS BIGINT) AS c2,
          |  CAST(sum(CASE WHEN (b.i > a.i) <> (b.j > a.j)
          |    THEN a.o * b.o ELSE 0 END) AS BIGINT) AS d2
          |FROM cells a JOIN cells b ON a.i <> b.i AND a.j <> b.j)
          |SELECT c2 // 2 AS conc, d2 // 2 AS disc,
          |       CASE WHEN c2 + d2 = 0 THEN NULL
          |       WHEN c2 >= d2 THEN CAST(CAST(c2 - d2 AS HUGEINT)
          |         * 1000000 // (c2 + d2) AS BIGINT)
          |       ELSE -CAST(CAST(d2 - c2 AS HUGEINT) * 1000000
          |         // (c2 + d2) AS BIGINT)
          |       END AS gamma_e6
          |FROM p""".stripMargin)),

    /* Theil's U (`q_theil_u`): the uncertainty coefficient U(Y|V) =
     * I(V;Y)/H(Y) plus the symmetric variant 2I/(H(V)+H(Y)) — the
     * DIRECTIONAL dependence readout next to q_info_gain's gain ratio
     * (which normalizes by H(V) instead); same four-term integer log₂
     * identity. */
    // ── Theil's U: directional + symmetric uncertainty coefficients.
    QueryDef("q_theil_u",
      (s, d) => {
        prioCellEntropy(s, d)
          .withColumn("mi", expr("t_cells - t_v - t_y + t_n"))
          .withColumn("hy", expr("t_n - t_y"))
          .withColumn("hv", expr("t_n - t_v"))
          .selectExpr("n",
            s"""CASE WHEN hy <= 0 THEN NULL
               |WHEN mi >= 0 THEN CAST(CAST(mi AS $dec) * 1000000 div hy
               |  AS BIGINT)
               |ELSE -CAST(CAST(-mi AS $dec) * 1000000 div hy AS BIGINT)
               |END AS u_yv_e6""".stripMargin,
            s"""CASE WHEN hv + hy <= 0 THEN NULL
               |WHEN mi >= 0 THEN CAST(CAST(mi AS $dec) * 2000000
               |  div (hv + hy) AS BIGINT)
               |ELSE -CAST(CAST(-mi AS $dec) * 2000000 div (hv + hy)
               |  AS BIGINT)
               |END AS u_sym_e6""".stripMargin)
      },
      Some {
        def L(v: String) = Bm25.log2E6Sql(v)
        prioCellEntropySql +
          s""",
             |j AS (SELECT n, t_cells - t_v - t_y
             |        + n * CAST(${L("n")} AS BIGINT) AS mi,
             |        n * CAST(${L("n")} AS BIGINT) - t_y AS hy,
             |        n * CAST(${L("n")} AS BIGINT) - t_v AS hv
             |      FROM tc CROSS JOIN tv CROSS JOIN ty)
             |SELECT n,
             |       CASE WHEN hy <= 0 THEN NULL
             |       WHEN mi >= 0 THEN CAST(CAST(mi AS HUGEINT) * 1000000
             |         // hy AS BIGINT)
             |       ELSE -CAST(CAST(-mi AS HUGEINT) * 1000000 // hy
             |         AS BIGINT)
             |       END AS u_yv_e6,
             |       CASE WHEN hv + hy <= 0 THEN NULL
             |       WHEN mi >= 0 THEN CAST(CAST(mi AS HUGEINT) * 2000000
             |         // (hv + hy) AS BIGINT)
             |       ELSE -CAST(CAST(-mi AS HUGEINT) * 2000000 // (hv + hy)
             |         AS BIGINT)
             |       END AS u_sym_e6
             |FROM j""".stripMargin
      }),

    /* Stuart's τ-c (`q_tau_c`): the RECTANGULAR-table cousin of
     * q_gamma_kruskal (γ ignores ties entirely; τ-c renormalizes by
     * min(rows,cols) so a 6×6 table can reach ±1). Same bounded ≤36²
     * cell self-join for C and D; m from two tiny count-distincts. */
    // ── Stuart's tau-c on the quantity×discount cell table.
    QueryDef("q_tau_c",
      (s, d) => {
        val cells = qdCells(s, d)
        val dims = cells.agg(countDistinct(col("i")).as("r"),
          countDistinct(col("j")).as("k"), sum(col("o")).as("n"))
        val p = cells.as("a").join(broadcast(cells.as("b")),
          col("a.i") =!= col("b.i") && col("a.j") =!= col("b.j"))
        p.agg(
            sum(when((col("b.i") > col("a.i")) === (col("b.j") > col("a.j")),
              col("a.o") * col("b.o")).otherwise(0L)).as("c2"),
            sum(when((col("b.i") > col("a.i")) =!= (col("b.j") > col("a.j")),
              col("a.o") * col("b.o")).otherwise(0L)).as("d2"))
          .crossJoin(broadcast(dims))
          .withColumn("m", expr("least(r, k)"))
          .selectExpr("c2 div 2 AS conc", "d2 div 2 AS disc", "m",
            s"""CASE WHEN n = 0 OR m < 2 THEN NULL
               |WHEN c2 >= d2 THEN CAST(CAST(m * (c2 - d2) AS $dec)
               |  * 1000000 div (CAST(n AS $dec) * n * (m - 1)) AS BIGINT)
               |ELSE -CAST(CAST(m * (d2 - c2) AS $dec) * 1000000
               |  div (CAST(n AS $dec) * n * (m - 1)) AS BIGINT)
               |END AS tau_c_e6""".stripMargin)
      },
      Some(qdCellsSql +
        """,
          |dims AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS r,
          |           CAST(count(DISTINCT j) AS BIGINT) AS k,
          |           CAST(sum(o) AS BIGINT) AS n FROM cells),
          |p AS (SELECT
          |  CAST(sum(CASE WHEN (b.i > a.i) = (b.j > a.j)
          |    THEN a.o * b.o ELSE 0 END) AS BIGINT) AS c2,
          |  CAST(sum(CASE WHEN (b.i > a.i) <> (b.j > a.j)
          |    THEN a.o * b.o ELSE 0 END) AS BIGINT) AS d2
          |FROM cells a JOIN cells b ON a.i <> b.i AND a.j <> b.j),
          |j AS (SELECT c2, d2, least(r, k) AS m, n
          |      FROM p CROSS JOIN dims)
          |SELECT c2 // 2 AS conc, d2 // 2 AS disc, m,
          |       CASE WHEN n = 0 OR m < 2 THEN NULL
          |       WHEN c2 >= d2 THEN CAST(CAST(m * (c2 - d2) AS HUGEINT)
          |         * 1000000 // (CAST(n AS HUGEINT) * n * (m - 1))
          |         AS BIGINT)
          |       ELSE -CAST(CAST(m * (d2 - c2) AS HUGEINT) * 1000000
          |         // (CAST(n AS HUGEINT) * n * (m - 1)) AS BIGINT)
          |       END AS tau_c_e6
          |FROM j""".stripMargin))
  )
}
