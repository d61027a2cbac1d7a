package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.Stats
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-sample location, scale and distribution tests, and their effect
  * sizes. */
object TwoSampleQueries extends QueryCatalog {

  import Fixtures._

  /** Pooled (g, mo, x) cells with deterministic pooled rank. */
  private val cellSql =
    s"""$prio12CellSql,
      |pooled AS (
      |  SELECT g, mo, x,
      |         CAST(row_number() OVER (ORDER BY x, g, mo) AS BIGINT)
      |           AS r
      |  FROM cell)""".stripMargin

  private def pooled(s: org.apache.spark.sql.SparkSession, d: String) =
    prio12MonthCells(s, d)
      // Unpartitioned windows are safe: pooled axis = 2 priorities × a
      // 7-year month calendar — bounded, never data-sized.
      .withColumn("r", row_number().over(
        Window.orderBy(col("x"), col("g"), col("mo"))).cast("long"))

  /** (v, ca, cb) quantity axis: returned vs kept lineitem counts. */
  private def qtyAxis(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .select(expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("v"),
        (col("l_returnflag") === "R").as("ret"))
      .groupBy(col("v"))
      .agg(sum(when(col("ret"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("ret"), 0L).otherwise(1L)).as("cb"))

  private val qtyAxisSql =
    """g AS (SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS v,
      |        CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |          AS BIGINT) AS ca,
      |        CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
      |          AS BIGINT) AS cb
      |      FROM lineitem GROUP BY 1)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Two-sample Kolmogorov–Smirnov: click vs view value
    //    distributions (cents). Exact integer D = max |n2·cum1 −
    //    n1·cum2| over pooled distinct values, ties → smallest value.
    QueryDef("q_ks_test",
      (s, d) => Stats.ks2(
        Tables.events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .select(when(col("event_type") === "click", 0L).otherwise(1L).as("s"),
            floor(col("value") * 100 + 0.5).cast("long").as("v")),
        "s", "v"),
      Some("""WITH e AS (SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS s,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
             |          FROM events WHERE event_type IN ('click', 'view')),
             |cells AS (SELECT v,
             |            CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             |            CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
             |          FROM e GROUP BY v),
             |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             |               CAST(sum(c2) AS BIGINT) AS n2 FROM cells),
             |cum AS (SELECT v,
             |            CAST(sum(c1) OVER w AS BIGINT) AS cum1,
             |            CAST(sum(c2) OVER w AS BIGINT) AS cum2
             |        FROM cells WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
             |sc AS (SELECT n1, n2, v, abs(n2 * cum1 - n1 * cum2) AS d_abs
             |       FROM cum CROSS JOIN tot)
             |SELECT n1, n2, v AS at_v,
             |       CAST(d_abs * 1000000 // (n1 * n2) AS BIGINT) AS d_e6
             |FROM sc ORDER BY d_abs DESC, v LIMIT 1""".stripMargin)),

    // ── Mann–Whitney U between click and purchase values: the
    //    nonparametric two-sample location test (pairs with q_ks_test's
    //    shape test). Doubled midranks keep ties integer-exact; the
    //    rank walk runs on the distinct-value axis.
    QueryDef("q_mann_whitney",
      (s, d) => Stats.mannWhitneyU(
        Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(when(col("event_type") === "click", 0L).otherwise(1L).as("s"),
            floor(col("value") * 100 + 0.5).cast("long").as("v")),
        "s", "v"),
      Some(s"""WITH p AS (
              |  SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS s,
              |         $valueCents AS v
              |  FROM events WHERE event_type IN ('click', 'purchase')),
              |cells AS (
              |  SELECT v, sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS c1,
              |         sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c2
              |  FROM p GROUP BY v),
              |w AS (SELECT c1, c2,
              |        sum(c1 + c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
              |          PRECEDING AND CURRENT ROW) - (c1 + c2) AS bef
              |      FROM cells),
              |m AS (SELECT sum(c1) AS n1, sum(c2) AS n2,
              |             sum(c1 * (2 * bef + c1 + c2 + 1)) AS r2sum FROM w)
              |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
              |       CAST(r2sum - n1 * (n1 + 1) AS BIGINT) AS u2_a,
              |       CAST(2 * n1 * n2 - (r2sum - n1 * (n1 + 1)) AS BIGINT) AS u2_b
              |FROM m""".stripMargin)),

    // ── Welch t between click and purchase cents values: exact decimal
    //    moments, deterministic-double epilogue (t + Welch df).
    QueryDef("q_welch_ttest",
      (s, d) => Stats.welchT(
        Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(when(col("event_type") === "click", 0L).otherwise(1L).as("s"),
            floor(col("value") * 100 + 0.5).cast("long").as("v")),
        "s", "v"),
      Some("""WITH p AS (
             |  SELECT CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS s,
             |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |m AS (SELECT
             |        sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS n1,
             |        sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n2,
             |        sum(CASE WHEN s = 0 THEN v ELSE 0 END) AS s1,
             |        sum(CASE WHEN s = 1 THEN v ELSE 0 END) AS s2,
             |        sum(CASE WHEN s = 0 THEN v * v ELSE 0 END) AS q1,
             |        sum(CASE WHEN s = 1 THEN v * v ELSE 0 END) AS q2
             |      FROM p),
             |vv AS (SELECT n1, n2, s1, s2,
             |         CAST(n1 * q1 - s1 * s1 AS DOUBLE) /
             |           (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) AS v1,
             |         CAST(n2 * q2 - s2 * s2 AS DOUBLE) /
             |           (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)) AS v2
             |       FROM m),
             |ee AS (SELECT n1, n2, s1, s2, v1, v2,
             |         v1 / CAST(n1 AS DOUBLE) AS e1,
             |         v2 / CAST(n2 AS DOUBLE) AS e2
             |       FROM vv)
             |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             |       CAST(s1 * 1000000 // n1 AS BIGINT) AS mean1_e6,
             |       CAST(s2 * 1000000 // n2 AS BIGINT) AS mean2_e6,
             |       CASE WHEN n1 < 2 OR n2 < 2 OR e1 + e2 = 0 THEN NULL
             |            ELSE round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             |                      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             |                 / sqrt(e1 + e2), 6)
             |       END AS t,
             |       CASE WHEN n1 < 2 OR n2 < 2 OR e1 + e2 = 0 THEN NULL
             |            ELSE round((e1 + e2) * (e1 + e2)
             |                 / (e1 * e1 / CAST(n1 - 1 AS DOUBLE)
             |                  + e2 * e2 / CAST(n2 - 1 AS DOUBLE)), 6)
             |       END AS df_w
             |FROM ee""".stripMargin)),

    // ── Q-Q decile map: en length deciles → non-en lengths at the same
    //    quantile (positional on both sides).
    QueryDef("q_qq_map",
      (s, d) => {
        // Quantile ladders over the distinct-LENGTH axis (cells → cum
        // counts → value at position ⌈k·n/10⌉): the selected value is
        // identical to the positional pick, and every window runs over
        // length cells — never a single-partition sort of the corpus.
        val cells = Tables.documents(s, d)
          .select((col("lang") === "en").as("isA"), col("n_chars"))
          .groupBy(col("isA"), col("n_chars"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // both quantile ladders
        def ladder(isA: Boolean, nm: String) = {
          val side = cells.where(col("isA") === isA)
            .withColumn("cum", sum(col("c")).over(
              Window.orderBy(col("n_chars"))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .withColumn("n", sum(col("c")).over(Window.partitionBy(lit(1))))
          (1 to 9).map { k =>
            side.where(col("cum") >= expr(s"($k * n + 9) div 10") &&
                col("cum") - col("c") < expr(s"($k * n + 9) div 10"))
              .select(lit(k.toLong).as("decile"), col("n_chars").as(nm))
          }.reduce(_ unionByName _)
        }
        ladder(isA = true, "len_en").join(ladder(isA = false, "len_other"),
            "decile")
          .withColumn("shift", col("len_other") - col("len_en"))
      },
      Some {
        def ladder(cond: String, nm: String) =
          (1 to 9).map { k =>
            s"""SELECT CAST($k AS BIGINT) AS decile, n_chars AS $nm
               |FROM (SELECT n_chars, row_number() OVER (ORDER BY n_chars,
               |        doc_id) AS rn, count(*) OVER () AS n
               |      FROM documents WHERE $cond)
               |WHERE rn = ($k * n + 9) // 10""".stripMargin
          }.mkString("\nUNION ALL\n")
        s"""WITH a AS (${ladder("lang = 'en'", "len_en")}),
           |b AS (${ladder("lang <> 'en'", "len_other")})
           |SELECT a.decile, len_en, len_other,
           |       len_other - len_en AS shift
           |FROM a JOIN b ON a.decile = b.decile""".stripMargin
      }),

    // ── Cramér–von Mises: Σ pooled-count · (cA·nB − cB·nA)² on the
    //    distinct value axis, e12-normalized at the end.
    QueryDef("q_cvm_test",
      (s, d) => {
        val cells = Tables.documents(s, d)
          .select((col("lang") === "en").as("isA"), col("n_chars").as("v"))
          .groupBy(col("v"))
          .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("da"),
            sum(when(!col("isA"), 1L).otherwise(0L)).as("db"))
        val w = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sweep = cells
          .withColumn("ca", sum(col("da")).over(w))
          .withColumn("cb", sum(col("db")).over(w))
          .withColumn("na", sum(col("da")).over(Window.partitionBy()))
          .withColumn("nb", sum(col("db")).over(Window.partitionBy()))
        sweep.agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
            sum(expr(s"CAST((da + db) AS $dec) * " +
              s"CAST(ca * nb - cb * na AS $dec) * " +
              s"CAST(ca * nb - cb * na AS $dec)")).as("num"))
          .selectExpr("na", "nb",
            s"""CAST(num * 1000000 div (CAST(na AS $dec) * CAST(nb AS $dec)
               |* CAST(na AS $dec) * CAST(nb AS $dec)
               |* CAST(na + nb AS $dec)) AS BIGINT) AS cvm_e6"""
              .stripMargin)
      },
      Some("""WITH cells AS (
             |  SELECT n_chars AS v,
             |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |           AS BIGINT) AS da,
             |         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
             |           AS BIGINT) AS db
             |  FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(sum(da) AS BIGINT) AS na,
             |               CAST(sum(db) AS BIGINT) AS nb FROM cells),
             |sweep AS (SELECT da, db,
             |                 CAST(sum(da) OVER w AS BIGINT) AS ca,
             |                 CAST(sum(db) OVER w AS BIGINT) AS cb
             |          FROM cells
             |          WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
             |m AS (SELECT na, nb,
             |             sum(CAST(da + db AS HUGEINT)
             |                 * CAST(ca * nb - cb * na AS HUGEINT)
             |                 * CAST(ca * nb - cb * na AS HUGEINT)) AS num
             |      FROM sweep CROSS JOIN tot GROUP BY 1, 2)
             |SELECT na, nb,
             |       CAST(num * 1000000 // (CAST(na AS HUGEINT)
             |         * CAST(nb AS HUGEINT) * CAST(na AS HUGEINT)
             |         * CAST(nb AS HUGEINT) * CAST(na + nb AS HUGEINT))
             |         AS BIGINT) AS cvm_e6
             |FROM m""".stripMargin)),

    // ── Hodges–Lehmann two-sample shift: the lower median of all
    //    nx·ny pairwise differences between daily click and view
    //    volumes. The pair grid is 30×30 (calendar-bounded at any SF),
    //    so the exact all-pairs form is the right plan — no need for
    //    the binary-search-on-ranks form until the axis itself grows.
    //    Nearest-rank (lower) median keeps everything integer.
    QueryDef("q_hodges_lehmann",
      (s, d) => {
        val daily = clickViewDaily(s, d)
          .localCheckpoint(false) // both sides of the 30×30 pair grid
        val x = daily.filter(col("et") === "click")
          .select(col("c").as("cx"))
        val y = daily.filter(col("et") === "view")
          .select(col("c").as("cy"))
        val pairs = x.crossJoin(y).select((col("cx") - col("cy")).as("diff"))
        val n = pairs.agg(count(lit(1)).as("n_pairs"))
        pairs.crossJoin(broadcast(n))
          .withColumn("rk", row_number().over(Window.orderBy(col("diff"))))
          .filter(col("rk") === expr("CAST((n_pairs + 1) div 2 AS INT)"))
          .selectExpr("CAST(n_pairs AS BIGINT) AS n_pairs",
            "CAST(diff AS BIGINT) AS hl_shift")
      },
      Some(s"""WITH $clickViewDailySql,
             |pairs AS (SELECT x.c - y.c AS diff
             |          FROM (SELECT c FROM daily WHERE et = 'click') x
             |          CROSS JOIN (SELECT c FROM daily WHERE et = 'view') y),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs),
             |r AS (SELECT diff, n_pairs,
             |             row_number() OVER (ORDER BY diff) AS rk
             |      FROM pairs CROSS JOIN n)
             |SELECT n_pairs, CAST(diff AS BIGINT) AS hl_shift
             |FROM r WHERE rk = (n_pairs + 1) // 2""".stripMargin)),

    // ── Ansari–Bradley dispersion test between daily click and view
    //    volumes on the shared 30-day axis: rank the combined sample
    //    from both ends (score = min(rank, N+1−rank)), sum the click
    //    sample's scores. Ties broken deterministically by
    //    (value, group, day) — the documented convention both engines
    //    share. Expected value under H0 emitted beside the statistic
    //    (parity-exact e6 form).
    QueryDef("q_ansari_bradley",
      (s, d) => {
        val daily = clickViewDaily(s, d)
          .localCheckpoint(false) // rank walk + group sizes
        val n = daily.agg(count(lit(1)).as("n_all"))
        daily.crossJoin(broadcast(n))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("c"), col("et"), col("day"))).cast("long"))
          .withColumn("score", least(col("rk"), col("n_all") + 1 - col("rk")))
          .agg(max(col("n_all")).as("n_all"),
            sum(expr("CASE WHEN et = 'click' THEN 1 ELSE 0 END")).as("n1"),
            sum(expr("CASE WHEN et = 'click' THEN score ELSE 0 END"))
              .as("ab_stat"))
          .selectExpr("CAST(n_all AS BIGINT) AS n_all",
            "CAST(n1 AS BIGINT) AS n1", "CAST(ab_stat AS BIGINT) AS ab_stat",
            """CASE WHEN n_all % 2 = 0
              |     THEN n1 * (n_all + 2) * 1000000 div 4
              |     ELSE n1 * (n_all + 1) * (n_all + 1) * 1000000
              |          div (4 * n_all) END AS e_ab_e6""".stripMargin)
      },
      Some(s"""WITH $clickViewDailySql,
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM daily),
             |r AS (SELECT et, n_all,
             |             CAST(row_number() OVER (ORDER BY c, et, day)
             |               AS BIGINT) AS rk
             |      FROM daily CROSS JOIN n),
             |sc AS (SELECT et, n_all,
             |              least(rk, n_all + 1 - rk) AS score FROM r),
             |m AS (SELECT max(n_all) AS n_all,
             |             CAST(sum(CASE WHEN et = 'click' THEN 1 ELSE 0 END)
             |               AS BIGINT) AS n1,
             |             CAST(sum(CASE WHEN et = 'click' THEN score
             |                      ELSE 0 END) AS BIGINT) AS ab_stat
             |      FROM sc)
             |SELECT n_all, n1, ab_stat,
             |       CASE WHEN n_all % 2 = 0
             |            THEN n1 * (n_all + 2) * 1000000 // 4
             |            ELSE n1 * (n_all + 1) * (n_all + 1) * 1000000
             |                 // (4 * n_all) END AS e_ab_e6
             |FROM m""".stripMargin)),

    // ── AD 2-sample between priorities 1 and 2 on monthly order
    //    volumes: pooled deterministic sort (x, g, mo), per-prefix term
    //    ((N·Mᵢ − n·i)²·1e6) div (i(N−i)) summed over i<N, normalized
    //    by nm. The pooled axis is 2×months — every window here is
    //    calendar-bounded.
    QueryDef("q_ad_2samp",
      (s, d) => {
        val cell = prio12MonthCells(s, d)
          .localCheckpoint(false) // pooled walk + the n/m rollup
        val sizes = cell.agg(
          sum(when(col("g") === "1", 1L).otherwise(0L)).as("n1"),
          count(lit(1)).as("nn"))
        val walk = cell.crossJoin(broadcast(sizes))
          .withColumn("i", row_number().over(
            Window.orderBy(col("x"), col("g"), col("mo"))))
          .withColumn("mi", sum(when(col("g") === "1", 1L).otherwise(0L))
            .over(Window.orderBy(col("x"), col("g"), col("mo"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("i") < col("nn"))
          .select(col("n1"), col("nn"),
            expr("""((nn * mi - n1 * i) * (nn * mi - n1 * i) * 1000000)
                   |div (i * (nn - i))""".stripMargin).as("term"))
        walk.groupBy(col("n1"), col("nn"))
          .agg(sum(col("term")).as("st"))
          .selectExpr("CAST(n1 AS BIGINT) AS n", "nn - n1 AS m",
            "st div (n1 * (nn - n1)) AS a2_e6")
      },
      Some(s"""WITH $prio12MonthCellsSql,
             |sizes AS (SELECT CAST(sum(CASE WHEN g = '1' THEN 1 ELSE 0
             |                  END) AS BIGINT) AS n1,
             |                 CAST(count(*) AS BIGINT) AS nn
             |          FROM cell),
             |walk AS (SELECT n1, nn,
             |                row_number() OVER w AS i,
             |                sum(CASE WHEN g = '1' THEN 1 ELSE 0 END)
             |                  OVER (w ROWS UNBOUNDED PRECEDING) AS mi
             |         FROM cell CROSS JOIN sizes
             |         WINDOW w AS (ORDER BY x, g, mo)),
             |t AS (SELECT n1, nn,
             |             CAST(sum(((nn * mi - n1 * i)
             |                       * (nn * mi - n1 * i) * 1000000)
             |                      // (i * (nn - i))) AS BIGINT) AS st
             |      FROM walk WHERE i < nn GROUP BY 1, 2)
             |SELECT n1 AS n, nn - n1 AS m,
             |       st // (n1 * (nn - n1)) AS a2_e6
             |FROM t""".stripMargin)),

    // ── Wald–Wolfowitz runs across the pooled priority-1/2 monthly
    //    series: pooled deterministic sort (x, g, mo), runs = 1 + group
    //    changes via lag; exact null moments E[R] = 2nm/N + 1,
    //    Var = 2nm(2nm−N)/(N²(N−1)); z closes in a fixed IEEE tree.
    QueryDef("q_wald_wolfowitz",
      (s, d) => {
        val cell = prio12MonthCells(s, d)
        val w = Window.orderBy(col("x"), col("g"), col("mo"))
        cell
          .withColumn("pg", lag(col("g"), 1).over(w))
          .agg(count(lit(1)).as("nn"),
            sum(when(col("g") === "1", 1L).otherwise(0L)).as("n1"),
            sum(when(col("pg").isNull || col("pg") =!= col("g"), 1L)
              .otherwise(0L)).as("runs"))
          .selectExpr("CAST(runs AS BIGINT) AS runs",
            "CAST(n1 AS BIGINT) AS n",
            "nn - n1 AS m",
            "2 * n1 * (nn - n1) * 1000000 div nn + 1000000 AS er_e6",
            """round((CAST(runs AS DOUBLE)
              |       - (CAST(2 * n1 * (nn - n1) AS DOUBLE)
              |          / CAST(nn AS DOUBLE) + CAST('1.0' AS DOUBLE)))
              |     / sqrt(CAST(2 * n1 * (nn - n1) AS DOUBLE)
              |            * CAST(2 * n1 * (nn - n1) - nn AS DOUBLE)
              |            / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
              |               * CAST(nn - 1 AS DOUBLE))), 6) AS z"""
              .stripMargin)
      },
      Some(s"""WITH $prio12MonthCellsSql,
             |sq AS (SELECT g, lag(g) OVER (ORDER BY x, g, mo) AS pg
             |       FROM cell),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS nn,
             |             CAST(sum(CASE WHEN g = '1' THEN 1 ELSE 0 END)
             |               AS BIGINT) AS n1,
             |             CAST(sum(CASE WHEN pg IS NULL OR pg <> g
             |                           THEN 1 ELSE 0 END) AS BIGINT)
             |               AS runs
             |      FROM sq)
             |SELECT runs, n1 AS n, nn - n1 AS m,
             |       2 * n1 * (nn - n1) * 1000000 // nn + 1000000 AS er_e6,
             |       round((CAST(runs AS DOUBLE)
             |              - (CAST(2 * n1 * (nn - n1) AS DOUBLE)
             |                 / CAST(nn AS DOUBLE)
             |                 + CAST('1.0' AS DOUBLE)))
             |            / sqrt(CAST(2 * n1 * (nn - n1) AS DOUBLE)
             |                   * CAST(2 * n1 * (nn - n1) - nn AS DOUBLE)
             |                   / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
             |                      * CAST(nn - 1 AS DOUBLE))), 6) AS z
             |FROM t""".stripMargin)),

    // ── Cliff's delta between priorities 1 and 2 on monthly volumes:
    //    δ = (#(x₁>x₂) − #(x₁<x₂))/(n·m) over the bounded cross grid,
    //    sign-factored e6 close plus the standard |δ| magnitude label
    //    (negligible/small/medium/large at 0.147/0.33/0.474).
    QueryDef("q_cliffs_delta",
      (s, d) => {
        val cell = prio12MonthCells(s, d)
          .localCheckpoint(false) // both sides of the cross grid
        val a = cell.filter(col("g") === "1")
          .select(col("x").as("xa"))
        val b = cell.filter(col("g") === "2")
          .select(col("x").as("xb"))
        a.crossJoin(b)
          .agg(count(lit(1)).as("nm"),
            sum(when(col("xa") > col("xb"), 1L).otherwise(0L)).as("gt"),
            sum(when(col("xa") < col("xb"), 1L).otherwise(0L)).as("lt"))
          .selectExpr("CAST(nm AS BIGINT) AS n_pairs",
            "CAST(gt AS BIGINT) AS n_gt", "CAST(lt AS BIGINT) AS n_lt",
            """CASE WHEN gt >= lt THEN (gt - lt) * 1000000 div nm
              |ELSE -((lt - gt) * 1000000 div nm)
              |END AS delta_e6""".stripMargin)
          .selectExpr("n_pairs", "n_gt", "n_lt", "delta_e6",
            """CASE WHEN abs(delta_e6) < 147000 THEN 'negligible'
              |WHEN abs(delta_e6) < 330000 THEN 'small'
              |WHEN abs(delta_e6) < 474000 THEN 'medium'
              |ELSE 'large' END AS magnitude""".stripMargin)
      },
      Some(s"""WITH $prio12MonthCellsSql,
             |t AS (SELECT CAST(count(*) AS BIGINT) AS nm,
             |             CAST(sum(CASE WHEN a.x > b.x THEN 1 ELSE 0
             |               END) AS BIGINT) AS gt,
             |             CAST(sum(CASE WHEN a.x < b.x THEN 1 ELSE 0
             |               END) AS BIGINT) AS lt
             |      FROM (SELECT x FROM cell WHERE g = '1') a
             |      CROSS JOIN (SELECT x FROM cell WHERE g = '2') b),
             |r AS (SELECT nm AS n_pairs, gt AS n_gt, lt AS n_lt,
             |             CASE WHEN gt >= lt
             |                    THEN (gt - lt) * 1000000 // nm
             |                  ELSE -((lt - gt) * 1000000 // nm)
             |             END AS delta_e6
             |      FROM t)
             |SELECT n_pairs, n_gt, n_lt, delta_e6,
             |       CASE WHEN abs(delta_e6) < 147000 THEN 'negligible'
             |            WHEN abs(delta_e6) < 330000 THEN 'small'
             |            WHEN abs(delta_e6) < 474000 THEN 'medium'
             |            ELSE 'large' END AS magnitude
             |FROM r""".stripMargin)),

    /* The Kuiper two-sample statistic (the rotation-
     * invariant D⁺+D⁻ companion to q_ks_test's sup-norm), the Siegel–Tukey
     * scale test (rank-sum on alternating-extreme ranks — the dispersion
     * analogue of q_mann_whitney), and Cohen's h (the arcsine-transformed
     * proportion effect size beside q_cliffs_delta's ordinal one). The
     * first two ride the bounded priority×month grid; ECDFs and ranks are
     * integer-exact with deterministic tie-breaks so both engines walk
     * identical permutations. */

    // ── Kuiper V between priorities 1 and 2 on monthly order volumes:
    //    per distinct volume v, cumulative group counts c1,c2 (ECDF
    //    numerators), D⁺ = max(c1·n2 − c2·n1), D⁻ = max(c2·n1 − c1·n2),
    //    V = (D⁺+D⁻)·1e6 div n1·n2 — pure integers on the ≤2·months
    //    distinct-value axis.
    QueryDef("q_kuiper",
      (s, d) => {
        val cell = prio12MonthCells(s, d)
        val byv = cell.groupBy(col("x"))
          .agg(sum(when(col("g") === "1", 1L).otherwise(0L)).as("a1"),
            sum(when(col("g") === "2", 1L).otherwise(0L)).as("a2"))
        // Unpartitioned window is safe: the axis is DISTINCT monthly
        // volumes of a 7-year calendar — bounded, never data-sized.
        val cum = Window.orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = byv.agg(sum(col("a1")).as("n1"), sum(col("a2")).as("n2"))
        byv
          .withColumn("c1", sum(col("a1")).over(cum))
          .withColumn("c2", sum(col("a2")).over(cum))
          .crossJoin(broadcast(tot))
          .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
            greatest(max(expr("c1 * n2 - c2 * n1")), lit(0L)).as("dplus_n"),
            greatest(max(expr("c2 * n1 - c1 * n2")), lit(0L)).as("dminus_n"))
          .selectExpr("CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
            "CAST(dplus_n AS BIGINT) AS dplus_n",
            "CAST(dminus_n AS BIGINT) AS dminus_n",
            "(dplus_n + dminus_n) * 1000000 div (n1 * n2) AS v_e6")
      },
      Some(s"""WITH $prio12CellSql,
             |byv AS (SELECT x,
             |               CAST(sum(CASE WHEN g = '1' THEN 1 ELSE 0
             |                 END) AS BIGINT) AS a1,
             |               CAST(sum(CASE WHEN g = '2' THEN 1 ELSE 0
             |                 END) AS BIGINT) AS a2
             |        FROM cell GROUP BY 1),
             |cum AS (SELECT x, a1, a2,
             |               CAST(sum(a1) OVER (ORDER BY x
             |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
             |               CAST(sum(a2) OVER (ORDER BY x
             |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2
             |        FROM byv),
             |t AS (SELECT CAST(sum(a1) AS BIGINT) AS n1,
             |             CAST(sum(a2) AS BIGINT) AS n2 FROM byv),
             |d AS (SELECT max(t.n1) AS n1, max(t.n2) AS n2,
             |             greatest(max(c1 * t.n2 - c2 * t.n1), 0)
             |               AS dplus_n,
             |             greatest(max(c2 * t.n1 - c1 * t.n2), 0)
             |               AS dminus_n
             |      FROM cum CROSS JOIN t)
             |SELECT n1, n2, CAST(dplus_n AS BIGINT) AS dplus_n,
             |       CAST(dminus_n AS BIGINT) AS dminus_n,
             |       CAST((dplus_n + dminus_n) * 1000000 // (n1 * n2)
             |         AS BIGINT) AS v_e6
             |FROM d""".stripMargin)),

    // ── Siegel–Tukey: pooled monthly volumes ranked outside-in
    //    (1,4,5,8,… from the bottom; 2,3,6,7,… from the top — ties
    //    broken by (x, g, mo), the exact-replay convention), W = rank
    //    sum of group 1, z from the EXACT permutation moments of the
    //    realized rank multiset (robust to the odd-n middle rank):
    //    z = (n·W − n1·S)·sqrt((n−1)/(n1·n2·(n·SS − S²))).
    QueryDef("q_siegel_tukey",
      (s, d) => {
        val cell = prio12MonthCells(s, d)
        // Unpartitioned window is safe: pooled axis = 2 priorities × a
        // 7-year month calendar — bounded, never data-sized.
        val pooled = cell
          .withColumn("p", row_number().over(
            Window.orderBy(col("x"), col("g"), col("mo"))))
          .withColumn("n", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .withColumn("st", expr(
            """CASE WHEN p <= n div 2 THEN 2 * p - p % 2
              |ELSE 2 * (n + 1 - p) - 1 + (n + 1 - p) % 2 END"""
              .stripMargin))
        pooled.agg(
            max(col("n")).as("n"),
            sum(when(col("g") === "1", 1L).otherwise(0L)).as("n1"),
            sum(when(col("g") === "2", 1L).otherwise(0L)).as("n2"),
            sum(when(col("g") === "1", col("st")).otherwise(0L)).as("w"),
            sum(col("st")).as("ss1"),
            sum(expr("st * st")).as("ss2"))
          .selectExpr("CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
            "CAST(w AS BIGINT) AS w",
            """round((CAST(n AS DOUBLE) * CAST(w AS DOUBLE)
              |  - CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE))
              |  * sqrt(CAST(n - 1 AS DOUBLE)
              |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
              |       * (CAST(n AS DOUBLE) * CAST(ss2 AS DOUBLE)
              |          - CAST(ss1 AS DOUBLE) * CAST(ss1 AS DOUBLE)))), 6)
              |AS z""".stripMargin)
      },
      Some(s"""WITH $prio12CellSql,
             |pooled AS (
             |  SELECT g,
             |         CAST(row_number() OVER (ORDER BY x, g, mo)
             |           AS BIGINT) AS p,
             |         CAST(count(*) OVER () AS BIGINT) AS n
             |  FROM cell),
             |st AS (SELECT g, n,
             |              CASE WHEN p <= n // 2 THEN 2 * p - p % 2
             |                   ELSE 2 * (n + 1 - p) - 1
             |                        + (n + 1 - p) % 2 END AS st
             |       FROM pooled),
             |agg AS (SELECT max(n) AS n,
             |               CAST(sum(CASE WHEN g = '1' THEN 1 ELSE 0
             |                 END) AS BIGINT) AS n1,
             |               CAST(sum(CASE WHEN g = '2' THEN 1 ELSE 0
             |                 END) AS BIGINT) AS n2,
             |               CAST(sum(CASE WHEN g = '1' THEN st ELSE 0
             |                 END) AS BIGINT) AS w,
             |               CAST(sum(st) AS BIGINT) AS ss1,
             |               CAST(sum(st * st) AS BIGINT) AS ss2
             |        FROM st)
             |SELECT n1, n2, w,
             |       round((CAST(n AS DOUBLE) * CAST(w AS DOUBLE)
             |         - CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE))
             |         * sqrt(CAST(n - 1 AS DOUBLE)
             |           / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             |              * (CAST(n AS DOUBLE) * CAST(ss2 AS DOUBLE)
             |                 - CAST(ss1 AS DOUBLE)
             |                   * CAST(ss1 AS DOUBLE)))), 6) AS z
             |FROM agg""".stripMargin)),

    // ── Cohen's h between the even- and odd-user purchase rates:
    //    h = 2·asin(√p_even) − 2·asin(√p_odd), e6 after ONE terminal
    //    round (asin/sqrt are sub-ulp IEEE in both engines; the only
    //    double work is the final scalar). One scan, one aggregate.
    QueryDef("q_cohens_h",
      (s, d) => {
        Tables.events(s, d)
          .select((col("user_id") % 2 === 0).as("even"),
            (col("event_type") === "purchase").as("conv"))
          .agg(
            sum(when(col("even"), 1L).otherwise(0L)).as("n_even"),
            sum(when(col("even") && col("conv"), 1L).otherwise(0L))
              .as("conv_even"),
            sum(when(!col("even"), 1L).otherwise(0L)).as("n_odd"),
            sum(when(!col("even") && col("conv"), 1L).otherwise(0L))
              .as("conv_odd"))
          .selectExpr("CAST(n_even AS BIGINT) AS n_even",
            "CAST(conv_even AS BIGINT) AS conv_even",
            "CAST(n_odd AS BIGINT) AS n_odd",
            "CAST(conv_odd AS BIGINT) AS conv_odd",
            """CAST(round((2 * asin(sqrt(CAST(conv_even AS DOUBLE)
              |         / CAST(n_even AS DOUBLE)))
              |  - 2 * asin(sqrt(CAST(conv_odd AS DOUBLE)
              |         / CAST(n_odd AS DOUBLE))))
              |  * CAST('1000000' AS DOUBLE), 0) AS BIGINT) AS h_e6"""
              .stripMargin)
          .selectExpr("n_even", "conv_even", "n_odd", "conv_odd", "h_e6",
            """CASE WHEN abs(h_e6) < 200000 THEN 'negligible'
              |     WHEN abs(h_e6) < 500000 THEN 'small'
              |     WHEN abs(h_e6) < 800000 THEN 'medium'
              |     ELSE 'large' END AS magnitude""".stripMargin)
      },
      Some("""WITH t AS (
             |  SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0
             |           END) AS BIGINT) AS n_even,
             |         CAST(sum(CASE WHEN user_id % 2 = 0
             |             AND event_type = 'purchase' THEN 1 ELSE 0
             |           END) AS BIGINT) AS conv_even,
             |         CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0
             |           END) AS BIGINT) AS n_odd,
             |         CAST(sum(CASE WHEN user_id % 2 <> 0
             |             AND event_type = 'purchase' THEN 1 ELSE 0
             |           END) AS BIGINT) AS conv_odd
             |  FROM events),
             |h AS (SELECT n_even, conv_even, n_odd, conv_odd,
             |             CAST(round((2 * asin(sqrt(
             |                 CAST(conv_even AS DOUBLE)
             |                 / CAST(n_even AS DOUBLE)))
             |               - 2 * asin(sqrt(CAST(conv_odd AS DOUBLE)
             |                 / CAST(n_odd AS DOUBLE))))
             |               * CAST('1000000' AS DOUBLE), 0) AS BIGINT)
             |               AS h_e6
             |      FROM t)
             |SELECT n_even, conv_even, n_odd, conv_odd, h_e6,
             |       CASE WHEN abs(h_e6) < 200000 THEN 'negligible'
             |            WHEN abs(h_e6) < 500000 THEN 'small'
             |            WHEN abs(h_e6) < 800000 THEN 'medium'
             |            ELSE 'large' END AS magnitude
             |FROM h""".stripMargin)),

    // ── Lepage: priorities 1 vs 2, pooled monthly volumes ranked by
    //    (x, g, mo). Wilcoxon scores a=p and Ansari–Bradley scores
    //    a=min(p, n+1−p); each z uses the exact permutation moments of
    //    the realized score vector, L = z_w² + z_ab² in e6.
    QueryDef("q_lepage",
      (s, d) => {
        val cell = prio12MonthCells(s, d)
        // Unpartitioned window is safe: pooled axis = 2 priorities × a
        // 7-year month calendar — bounded, never data-sized.
        val pooled = cell
          .withColumn("p", row_number().over(
            Window.orderBy(col("x"), col("g"), col("mo"))))
          .withColumn("n", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .withColumn("aw", col("p"))
          .withColumn("ab", least(col("p"), col("n") + 1 - col("p")))
        val zterm = (w: String, s1: String, s2: String) =>
          s"""(CAST(n AS DOUBLE) * CAST($w AS DOUBLE)
             | - CAST(n1 AS DOUBLE) * CAST($s1 AS DOUBLE))
             | * sqrt(CAST(n - 1 AS DOUBLE)
             |   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             |      * (CAST(n AS DOUBLE) * CAST($s2 AS DOUBLE)
             |         - CAST($s1 AS DOUBLE) * CAST($s1 AS DOUBLE))))"""
            .stripMargin
        pooled.agg(
            max(col("n")).as("n"),
            sum(when(col("g") === "1", 1L).otherwise(0L)).as("n1"),
            sum(when(col("g") === "2", 1L).otherwise(0L)).as("n2"),
            sum(when(col("g") === "1", col("aw")).otherwise(0L)).as("w_w"),
            sum(col("aw")).as("sw1"), sum(expr("aw * aw")).as("sw2"),
            sum(when(col("g") === "1", col("ab")).otherwise(0L)).as("w_ab"),
            sum(col("ab")).as("sab1"), sum(expr("ab * ab")).as("sab2"))
          .selectExpr("CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
            "CAST(w_w AS BIGINT) AS w_wilcoxon",
            "CAST(w_ab AS BIGINT) AS w_ansari",
            s"""CAST(round((power(${zterm("w_w", "sw1", "sw2")}, 2)
               | + power(${zterm("w_ab", "sab1", "sab2")}, 2))
               | * CAST('1000000' AS DOUBLE), 0) AS BIGINT) AS l_e6"""
              .stripMargin)
      },
      Some {
        val zterm = (w: String, s1: String, s2: String) =>
          s"""(CAST(n AS DOUBLE) * CAST($w AS DOUBLE)
             | - CAST(n1 AS DOUBLE) * CAST($s1 AS DOUBLE))
             | * sqrt(CAST(n - 1 AS DOUBLE)
             |   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             |      * (CAST(n AS DOUBLE) * CAST($s2 AS DOUBLE)
             |         - CAST($s1 AS DOUBLE) * CAST($s1 AS DOUBLE))))"""
            .stripMargin
        s"""WITH $prio12CellSql,
           |pooled AS (
           |  SELECT g,
           |         CAST(row_number() OVER (ORDER BY x, g, mo)
           |           AS BIGINT) AS p,
           |         CAST(count(*) OVER () AS BIGINT) AS n
           |  FROM cell),
           |sc AS (SELECT g, n, p AS aw, least(p, n + 1 - p) AS ab
           |       FROM pooled),
           |agg AS (SELECT max(n) AS n,
           |               CAST(sum(CASE WHEN g = '1' THEN 1 ELSE 0
           |                 END) AS BIGINT) AS n1,
           |               CAST(sum(CASE WHEN g = '2' THEN 1 ELSE 0
           |                 END) AS BIGINT) AS n2,
           |               CAST(sum(CASE WHEN g = '1' THEN aw ELSE 0
           |                 END) AS BIGINT) AS w_w,
           |               CAST(sum(aw) AS BIGINT) AS sw1,
           |               CAST(sum(aw * aw) AS BIGINT) AS sw2,
           |               CAST(sum(CASE WHEN g = '1' THEN ab ELSE 0
           |                 END) AS BIGINT) AS w_ab,
           |               CAST(sum(ab) AS BIGINT) AS sab1,
           |               CAST(sum(ab * ab) AS BIGINT) AS sab2
           |        FROM sc)
           |SELECT n1, n2, w_w AS w_wilcoxon, w_ab AS w_ansari,
           |       CAST(round((power(${zterm("w_w", "sw1", "sw2")}, 2)
           |         + power(${zterm("w_ab", "sab1", "sab2")}, 2))
           |         * CAST('1000000' AS DOUBLE), 0) AS BIGINT) AS l_e6
           |FROM agg""".stripMargin
      }),

    /* The remaining two-sample rank arsenal on the
     * priority-1-vs-2 monthly grid — the Baumgartner–Weiß–Schindler test
     * (ECDF-weighted quadratic ranks; more power in the tails than
     * q_ks_test/q_ad_2samp, each term closed as an exact integer e6 so no
     * float ever sums), the Cucconi location–scale test (the quadratic
     * U/V combination predating q_lepage, one IEEE close on a 1-row
     * frame), and the rank-biserial effect size (the directional
     * companion q_mann_whitney's U implies). Ranks break ties by
     * (x, g, mo) — the exact-replay convention — so both engines walk
     * identical permutations. */

    // ── BWS: within each group, i = rank of the member among its own
    //    group (by pooled rank); per-member term
    //    (n·R−i·(m+n))²·(n+1)²·1e6 div (n·i·(n+1−i)·m·(m+n)) — exact
    //    integers end to end (decimal against the ×1e6 headroom);
    //    B = (B_X + B_Y)/2 e6.
    QueryDef("q_bws_test",
      (s, d) => {
        val p = pooled(s, d)
          .withColumn("i", row_number().over(
            Window.partitionBy(col("g")).orderBy(col("r"))).cast("long"))
          .withColumn("n_own", count(lit(1)).over(
            Window.partitionBy(col("g"))))
          .withColumn("n_all", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        val terms = p.withColumn("term_e6", expr(
          s"""CAST(CAST(n_own * r - i * n_all AS $dec)
             |  * CAST(n_own * r - i * n_all AS $dec)
             |  * (n_own + 1) * (n_own + 1) * 1000000
             |  div (CAST(n_own AS $dec) * i * (n_own + 1 - i)
             |       * (n_all - n_own) * n_all) AS BIGINT)"""
            .stripMargin))
        terms.groupBy(col("g"))
          .agg(max(col("n_own")).as("n"),
            expr("sum(term_e6) div max(n_own)").as("b_e6"))
          .agg(sum(col("n")).as("n_total"),
            expr("sum(b_e6) div 2").as("bws_e6"))
          .selectExpr("CAST(n_total AS BIGINT) AS n_total",
            "CAST(bws_e6 AS BIGINT) AS bws_e6")
      },
      Some(s"""WITH $cellSql,
             |p AS (SELECT g, r,
             |             CAST(row_number() OVER (PARTITION BY g
             |               ORDER BY r) AS BIGINT) AS i,
             |             CAST(count(*) OVER (PARTITION BY g)
             |               AS BIGINT) AS n_own,
             |             CAST(count(*) OVER () AS BIGINT) AS n_all
             |      FROM pooled),
             |t AS (SELECT g, n_own,
             |             CAST(CAST(n_own * r - i * n_all AS HUGEINT)
             |               * CAST(n_own * r - i * n_all AS HUGEINT)
             |               * (n_own + 1) * (n_own + 1) * 1000000
             |               // (CAST(n_own AS HUGEINT) * i
             |                  * (n_own + 1 - i) * (n_all - n_own)
             |                  * n_all) AS BIGINT) AS term_e6
             |      FROM p),
             |bg AS (SELECT g, max(n_own) AS n,
             |              CAST(sum(term_e6) AS BIGINT) // max(n_own)
             |                AS b_e6
             |       FROM t GROUP BY 1)
             |SELECT CAST(sum(n) AS BIGINT) AS n_total,
             |       CAST(sum(b_e6) // 2 AS BIGINT) AS bws_e6
             |FROM bg""".stripMargin)),

    // ── Cucconi: U from Σ(rank of group 2)², V from Σ(contrary rank)²,
    //    ρ the closed-form correlation; C = (U²+V²−2ρUV)/(2(1−ρ²)),
    //    e6 after one IEEE close on exact integer sums.
    QueryDef("q_cucconi",
      (s, d) => {
        val p = pooled(s, d)
          .withColumn("nn", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        val agg = p.agg(max(col("nn")).as("nn"),
          sum(when(col("g") === "2", 1L).otherwise(0L)).as("n2"),
          sum(when(col("g") === "2", expr("r * r")).otherwise(0L))
            .as("sr2"),
          sum(when(col("g") === "2",
            expr("(nn + 1 - r) * (nn + 1 - r)")).otherwise(0L))
            .as("sc2"))
        agg.selectExpr("CAST(nn AS BIGINT) AS n_total",
            "CAST(n2 AS BIGINT) AS n2",
            """round((
              |  power((6 * CAST(sr2 AS DOUBLE)
              |    - CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1))
              |    / sqrt(CAST((nn - n2) AS DOUBLE) * n2 * (nn + 1)
              |      * (2 * nn + 1) * (8 * nn + 11) / 5), 2)
              |  + power((6 * CAST(sc2 AS DOUBLE)
              |    - CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1))
              |    / sqrt(CAST((nn - n2) AS DOUBLE) * n2 * (nn + 1)
              |      * (2 * nn + 1) * (8 * nn + 11) / 5), 2)
              |  - 2 * (2 * (CAST(nn AS DOUBLE) * nn - 4)
              |      / ((2 * nn + 1) * (8 * nn + 11)) - 1)
              |    * ((6 * CAST(sr2 AS DOUBLE)
              |      - CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1))
              |      / sqrt(CAST((nn - n2) AS DOUBLE) * n2 * (nn + 1)
              |        * (2 * nn + 1) * (8 * nn + 11) / 5))
              |    * ((6 * CAST(sc2 AS DOUBLE)
              |      - CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1))
              |      / sqrt(CAST((nn - n2) AS DOUBLE) * n2 * (nn + 1)
              |        * (2 * nn + 1) * (8 * nn + 11) / 5))
              |) / (2 * (1 - power(2 * (CAST(nn AS DOUBLE) * nn - 4)
              |    / ((2 * nn + 1) * (8 * nn + 11)) - 1, 2))), 6)
              |AS c_stat""".stripMargin)
      },
      Some(s"""WITH $cellSql,
             |p AS (SELECT g, r, CAST(count(*) OVER () AS BIGINT) AS nn
             |      FROM pooled),
             |agg AS (SELECT max(nn) AS nn,
             |               CAST(sum(CASE WHEN g = '2' THEN 1 ELSE 0
             |                 END) AS BIGINT) AS n2,
             |               CAST(sum(CASE WHEN g = '2' THEN r * r
             |                 ELSE 0 END) AS BIGINT) AS sr2,
             |               CAST(sum(CASE WHEN g = '2' THEN
             |                 (nn + 1 - r) * (nn + 1 - r) ELSE 0 END)
             |                 AS BIGINT) AS sc2
             |        FROM p)
             |SELECT CAST(nn AS BIGINT) AS n_total, n2,
             |       round((
             |         power((6 * CAST(sr2 AS DOUBLE)
             |           - CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1))
             |           / sqrt(CAST((nn - n2) AS DOUBLE) * n2 * (nn + 1)
             |             * (2 * nn + 1) * (8 * nn + 11) / 5), 2)
             |         + power((6 * CAST(sc2 AS DOUBLE)
             |           - CAST(n2 AS DOUBLE) * (nn + 1) * (2 * nn + 1))
             |           / sqrt(CAST((nn - n2) AS DOUBLE) * n2 * (nn + 1)
             |             * (2 * nn + 1) * (8 * nn + 11) / 5), 2)
             |         - 2 * (2 * (CAST(nn AS DOUBLE) * nn - 4)
             |             / ((2 * nn + 1) * (8 * nn + 11)) - 1)
             |           * ((6 * CAST(sr2 AS DOUBLE)
             |             - CAST(n2 AS DOUBLE) * (nn + 1)
             |               * (2 * nn + 1))
             |             / sqrt(CAST((nn - n2) AS DOUBLE) * n2
             |               * (nn + 1) * (2 * nn + 1) * (8 * nn + 11)
             |               / 5))
             |           * ((6 * CAST(sc2 AS DOUBLE)
             |             - CAST(n2 AS DOUBLE) * (nn + 1)
             |               * (2 * nn + 1))
             |             / sqrt(CAST((nn - n2) AS DOUBLE) * n2
             |               * (nn + 1) * (2 * nn + 1) * (8 * nn + 11)
             |               / 5))
             |       ) / (2 * (1 - power(2 * (CAST(nn AS DOUBLE) * nn
             |           - 4) / ((2 * nn + 1) * (8 * nn + 11)) - 1, 2))),
             |         6) AS c_stat
             |FROM agg""".stripMargin)),

    // ── Rank-biserial: r = 2U/(n1·n2) − 1 from the exact rank-sum U —
    //    the [−1, 1] effect size behind the Mann–Whitney decision,
    //    sign-factored e6.
    QueryDef("q_rank_biserial",
      (s, d) => {
        pooled(s, d).agg(
            sum(when(col("g") === "1", 1L).otherwise(0L)).as("n1"),
            sum(when(col("g") === "2", 1L).otherwise(0L)).as("n2"),
            sum(when(col("g") === "1", col("r")).otherwise(0L)).as("r1"))
          .selectExpr("CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
            "r1 - n1 * (n1 + 1) div 2 AS u1",
            """CASE WHEN 2 * (r1 - n1 * (n1 + 1) div 2) >= n1 * n2
              |  THEN (2 * (r1 - n1 * (n1 + 1) div 2) - n1 * n2)
              |       * 1000000 div (n1 * n2)
              |  ELSE -((n1 * n2 - 2 * (r1 - n1 * (n1 + 1) div 2))
              |       * 1000000 div (n1 * n2))
              |END AS rank_biserial_e6""".stripMargin)
      },
      Some(s"""WITH $cellSql,
             |agg AS (SELECT
             |          CAST(sum(CASE WHEN g = '1' THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n1,
             |          CAST(sum(CASE WHEN g = '2' THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n2,
             |          CAST(sum(CASE WHEN g = '1' THEN r ELSE 0 END)
             |            AS BIGINT) AS r1
             |        FROM pooled)
             |SELECT n1, n2, r1 - n1 * (n1 + 1) // 2 AS u1,
             |       CASE WHEN 2 * (r1 - n1 * (n1 + 1) // 2) >= n1 * n2
             |         THEN (2 * (r1 - n1 * (n1 + 1) // 2) - n1 * n2)
             |              * 1000000 // (n1 * n2)
             |         ELSE -((n1 * n2 - 2 * (r1 - n1 * (n1 + 1) // 2))
             |              * 1000000 // (n1 * n2))
             |       END AS rank_biserial_e6
             |FROM agg""".stripMargin)),

    /* Cliff's delta (`q_cliff_delta`): ordinal effect size
     * (#(x>y) − #(x<y))/(m·n) between returned and kept line
     * quantities. Pair counts come from the ≤50-value quantity axis
     * (Σ ca·cum_b), never row pairs — the value-axis trick every rank
     * test here uses. The e6 division goes through an explicit
     * sign-split CASE so negative-numerator rounding is pinned by
     * construction (both engines truncate toward zero today; the CASE
     * makes that an invariant of the query, not of the engines). */
    // ── Cliff's delta between returned and kept quantities.
    QueryDef("q_cliff_delta",
      (s, d) => {
        val g = qtyAxis(s, d)
        val tot = g.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        val w = Window.orderBy(col("v"))
        g.crossJoin(broadcast(tot))
          .withColumn("cumb_le", sum(col("cb")).over(w))
          .withColumn("cumb_lt", col("cumb_le") - col("cb"))
          .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
            sum(expr(s"CAST(ca AS $dec) * cumb_lt")).as("gt"),
            sum(expr(s"CAST(ca AS $dec) * (nb - cumb_le)")).as("lt"))
          .selectExpr("na", "nb", "CAST(gt AS BIGINT) AS gt",
            "CAST(lt AS BIGINT) AS lt",
            signedRatioE6("gt - lt", s"CAST(na AS $dec) * nb") +
              " AS cliff_delta_e6")
      },
      Some(s"""WITH $qtyAxisSql,
              |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
              |               CAST(sum(cb) AS BIGINT) AS nb FROM g),
              |c AS (SELECT v, ca, cb, na, nb,
              |        sum(cb) OVER (ORDER BY v) AS cumb_le,
              |        sum(cb) OVER (ORDER BY v) - cb AS cumb_lt
              |      FROM g CROSS JOIN tot),
              |agg AS (SELECT max(na) AS na, max(nb) AS nb,
              |          CAST(sum(CAST(ca AS HUGEINT) * cumb_lt)
              |            AS BIGINT) AS gt,
              |          CAST(sum(CAST(ca AS HUGEINT) * (nb - cumb_le))
              |            AS BIGINT) AS lt
              |        FROM c)
              |SELECT na, nb, gt, lt,
              |       ${signedRatioE6Sql("gt - lt",
                       "CAST(na AS HUGEINT) * nb")} AS cliff_delta_e6
              |FROM agg""".stripMargin)),

    /* Kuiper V (`q_kuiper_orders`): D⁺ + D⁻ between the urgent/relaxed order
     * value CDFs on the thousand-dollar bucket axis — the
     * rotation-invariant cousin of q_ks_test, sensitive to tails. */
    // ── Kuiper V between urgent and relaxed order-value CDFs.
    QueryDef("q_kuiper_orders",
      (s, d) => {
        val (g, tot) = urgentBuckets(s, d)
        val w = Window.orderBy(col("bucket"))
        g.crossJoin(broadcast(tot))
          .withColumn("d",
            expr(s"CAST(sum(ca) OVER (ORDER BY bucket) AS $dec) * nb" +
              s" - CAST(sum(cb) OVER (ORDER BY bucket) AS $dec) * na"))
          .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
            max(greatest(col("d"), lit(0L))).as("dplus"),
            max(greatest(-col("d"), lit(0L))).as("dminus"))
          .selectExpr("na", "nb",
            s"CAST(dplus * 1000000 div (CAST(na AS $dec) * nb) AS BIGINT)" +
              " AS dplus_e6",
            s"CAST(dminus * 1000000 div (CAST(na AS $dec) * nb)" +
              " AS BIGINT) AS dminus_e6",
            s"CAST((dplus + dminus) * 1000000" +
              s" div (CAST(na AS $dec) * nb) AS BIGINT) AS kuiper_v_e6")
      },
      Some(s"""WITH $urgentBucketsSql,
             |c AS (SELECT bucket, na, nb,
             |        CAST(sum(ca) OVER (ORDER BY bucket) AS HUGEINT) * nb
             |          - CAST(sum(cb) OVER (ORDER BY bucket) AS HUGEINT)
             |            * na AS d
             |      FROM g CROSS JOIN tot),
             |agg AS (SELECT max(na) AS na, max(nb) AS nb,
             |          max(greatest(d, 0)) AS dplus,
             |          max(greatest(-d, 0)) AS dminus
             |        FROM c)
             |SELECT na, nb,
             |       CAST(dplus * 1000000 // (CAST(na AS HUGEINT) * nb)
             |         AS BIGINT) AS dplus_e6,
             |       CAST(dminus * 1000000 // (CAST(na AS HUGEINT) * nb)
             |         AS BIGINT) AS dminus_e6,
             |       CAST((dplus + dminus) * 1000000
             |         // (CAST(na AS HUGEINT) * nb) AS BIGINT)
             |         AS kuiper_v_e6
             |FROM agg""".stripMargin)),

    /* Brunner–Munzel (`q_brunner_munzel`): the heteroscedastic rank
     * Welch test. DOUBLED midranks keep ties exact integers; the
     * placement identity 2P_A(v) = 2·cum_b(<v) + c_b(v) turns per-row
     * placements into value-axis sums, so S_k² needs only Σc·P and
     * Σc·P² per group. One closing double chain (round 6). */
    // ── Brunner–Munzel heteroscedastic rank test, returned vs kept.
    QueryDef("q_brunner_munzel",
      (s, d) => {
        val g = qtyAxis(s, d)
        val tot = g.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        val w = Window.orderBy(col("v"))
        val c = g.crossJoin(broadcast(tot))
          .withColumn("cuma_lt", sum(col("ca")).over(w) - col("ca"))
          .withColumn("cumb_lt", sum(col("cb")).over(w) - col("cb"))
          // doubled combined midrank and doubled placements
          .withColumn("r2",
            expr("2 * (cuma_lt + cumb_lt) + (ca + cb) + 1"))
          .withColumn("pa2", expr("2 * cumb_lt + cb"))
          .withColumn("pb2", expr("2 * cuma_lt + ca"))
        val agg = c.agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          sum(expr(s"CAST(ca AS $dec) * r2")).as("s1r"),
          sum(expr(s"CAST(cb AS $dec) * r2")).as("s2r"),
          sum(expr(s"CAST(ca AS $dec) * pa2")).as("sp1"),
          sum(expr(s"CAST(ca AS $dec) * pa2 * pa2")).as("sp12"),
          sum(expr(s"CAST(cb AS $dec) * pb2")).as("sp2"),
          sum(expr(s"CAST(cb AS $dec) * pb2 * pb2")).as("sp22"),
          // #(a<b) pairs ×2 plus ties = Σ cb·(2·cuma_lt + ca) = Σ cb·pb2
          sum(expr(s"CAST(cb AS $dec) * pb2")).as("lt2"))
        agg.selectExpr("na", "nb",
          s"CAST(lt2 * 1000000 div (CAST(na AS $dec) * nb * 2)" +
            " AS BIGINT) AS p_hat_e6",
          // variance of placements per group from the doubled sums
          // (S_k² = (Σc·P² − (Σc·P)²/n_k) / (4(n_k−1))), then
          // W = (R̄₂−R̄₁)·sqrt(n₁n₂/N) / sqrt(N·(S₁²/n₂ + S₂²/n₁))
          """round((CAST(s2r AS DOUBLE) / (CAST('2.0' AS DOUBLE)
            |    * CAST(nb AS DOUBLE))
            |  - CAST(s1r AS DOUBLE) / (CAST('2.0' AS DOUBLE)
            |    * CAST(na AS DOUBLE)))
            |  * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
            |    / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
            |  / sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
            |    * ((CAST(sp12 AS DOUBLE) - CAST(sp1 AS DOUBLE)
            |        * CAST(sp1 AS DOUBLE) / CAST(na AS DOUBLE))
            |      / (CAST('4.0' AS DOUBLE) * (CAST(na AS DOUBLE)
            |        - CAST('1.0' AS DOUBLE)) * CAST(nb AS DOUBLE))
            |      + (CAST(sp22 AS DOUBLE) - CAST(sp2 AS DOUBLE)
            |        * CAST(sp2 AS DOUBLE) / CAST(nb AS DOUBLE))
            |      / (CAST('4.0' AS DOUBLE) * (CAST(nb AS DOUBLE)
            |        - CAST('1.0' AS DOUBLE)) * CAST(na AS DOUBLE)))),
            |  6) AS w_bm""".stripMargin)
      },
      Some(s"""WITH $qtyAxisSql,
              |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
              |               CAST(sum(cb) AS BIGINT) AS nb FROM g),
              |c AS (SELECT v, ca, cb, na, nb,
              |        sum(ca) OVER (ORDER BY v) - ca AS cuma_lt,
              |        sum(cb) OVER (ORDER BY v) - cb AS cumb_lt
              |      FROM g CROSS JOIN tot),
              |c2 AS (SELECT *,
              |         2 * (cuma_lt + cumb_lt) + (ca + cb) + 1 AS r2,
              |         2 * cumb_lt + cb AS pa2,
              |         2 * cuma_lt + ca AS pb2
              |       FROM c),
              |agg AS (SELECT max(na) AS na, max(nb) AS nb,
              |          sum(CAST(ca AS HUGEINT) * r2) AS s1r,
              |          sum(CAST(cb AS HUGEINT) * r2) AS s2r,
              |          sum(CAST(ca AS HUGEINT) * pa2) AS sp1,
              |          sum(CAST(ca AS HUGEINT) * pa2 * pa2) AS sp12,
              |          sum(CAST(cb AS HUGEINT) * pb2) AS sp2,
              |          sum(CAST(cb AS HUGEINT) * pb2 * pb2) AS sp22,
              |          sum(CAST(cb AS HUGEINT) * pb2) AS lt2
              |        FROM c2)
              |SELECT na, nb,
              |       CAST(lt2 * 1000000 // (CAST(na AS HUGEINT) * nb * 2)
              |         AS BIGINT) AS p_hat_e6,
              |       round((CAST(s2r AS DOUBLE) / (CAST('2.0' AS DOUBLE)
              |           * CAST(nb AS DOUBLE))
              |         - CAST(s1r AS DOUBLE) / (CAST('2.0' AS DOUBLE)
              |           * CAST(na AS DOUBLE)))
              |         * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
              |           / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
              |         / sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
              |           * ((CAST(sp12 AS DOUBLE) - CAST(sp1 AS DOUBLE)
              |               * CAST(sp1 AS DOUBLE) / CAST(na AS DOUBLE))
              |             / (CAST('4.0' AS DOUBLE) * (CAST(na AS DOUBLE)
              |               - CAST('1.0' AS DOUBLE)) * CAST(nb AS DOUBLE))
              |             + (CAST(sp22 AS DOUBLE) - CAST(sp2 AS DOUBLE)
              |               * CAST(sp2 AS DOUBLE) / CAST(nb AS DOUBLE))
              |             / (CAST('4.0' AS DOUBLE) * (CAST(nb AS DOUBLE)
              |               - CAST('1.0' AS DOUBLE))
              |               * CAST(na AS DOUBLE)))),
              |         6) AS w_bm
              |FROM agg""".stripMargin)),

    /* Cohen's d / Hedges' g / Glass's Δ (`q_cohens_d`): standardized
     * urgent-vs-other order-value differences. Moments stay exact
     * BIGINTs in hecto-dollar units (the q_meta_fixed discipline);
     * only the final d = Δm/s_p closes through IEEE double (-, /, *,
     * sqrt, floor — the recipe's portable set), textually identical in
     * both engines. */
    // ── Cohen's d, Hedges' g, Glass's Δ: urgent vs other order value.
    QueryDef("q_cohens_d",
      (s, d) => ordersHecto(s, d).agg(
          sum(when(col("exp"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("exp"), col("x")).otherwise(0L)).as("s1"),
          sum(when(col("exp"), col("x") * col("x")).otherwise(0L)).as("ss1"),
          sum(when(!col("exp"), 1L).otherwise(0L)).as("n2"),
          sum(when(!col("exp"), col("x")).otherwise(0L)).as("s2"),
          sum(when(!col("exp"), col("x") * col("x")).otherwise(0L)).as("ss2"))
        .selectExpr("n1", "n2",
          """CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
            |  * 1000000 / sqrt(((CAST(ss1 AS DOUBLE)
            |      - CAST(s1 AS DOUBLE) * s1 / n1)
            |    + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
            |    / (n1 + n2 - 2))) AS BIGINT) AS d_e6""".stripMargin,
          """CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
            |  * (CAST(1 AS DOUBLE) - CAST(3 AS DOUBLE)
            |      / (4 * (n1 + n2 - 2) - 1))
            |  * 1000000 / sqrt(((CAST(ss1 AS DOUBLE)
            |      - CAST(s1 AS DOUBLE) * s1 / n1)
            |    + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
            |    / (n1 + n2 - 2))) AS BIGINT) AS g_e6""".stripMargin,
          """CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
            |  * 1000000 / sqrt((CAST(ss2 AS DOUBLE)
            |    - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)))
            |  AS BIGINT) AS glass_e6""".stripMargin),
      Some("""WITH o AS (SELECT CAST(floor(o_totalprice / 100 + 0.5)
             |                    AS BIGINT) AS x,
             |                  o_orderpriority = '1-URGENT' AS expo
             |           FROM orders),
             |m AS (SELECT
             |  CAST(sum(CASE WHEN expo THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |  CAST(sum(CASE WHEN expo THEN x ELSE 0 END) AS BIGINT) AS s1,
             |  CAST(sum(CASE WHEN expo THEN x * x ELSE 0 END)
             |    AS BIGINT) AS ss1,
             |  CAST(sum(CASE WHEN expo THEN 0 ELSE 1 END) AS BIGINT) AS n2,
             |  CAST(sum(CASE WHEN expo THEN 0 ELSE x END) AS BIGINT) AS s2,
             |  CAST(sum(CASE WHEN expo THEN 0 ELSE x * x END)
             |    AS BIGINT) AS ss2
             |FROM o)
             |SELECT n1, n2,
             |  CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             |    * 1000000 / sqrt(((CAST(ss1 AS DOUBLE)
             |        - CAST(s1 AS DOUBLE) * s1 / n1)
             |      + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
             |      / (n1 + n2 - 2))) AS BIGINT) AS d_e6,
             |  CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             |    * (CAST(1 AS DOUBLE) - CAST(3 AS DOUBLE)
             |        / (4 * (n1 + n2 - 2) - 1))
             |    * 1000000 / sqrt(((CAST(ss1 AS DOUBLE)
             |        - CAST(s1 AS DOUBLE) * s1 / n1)
             |      + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n2))
             |      / (n1 + n2 - 2))) AS BIGINT) AS g_e6,
             |  CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
             |    * 1000000 / sqrt((CAST(ss2 AS DOUBLE)
             |      - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)))
             |    AS BIGINT) AS glass_e6
             |FROM m""".stripMargin))
  )
}
