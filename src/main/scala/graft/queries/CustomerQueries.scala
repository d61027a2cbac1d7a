package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.Segmentation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Customer-lifecycle analytics over orders: RFM and frequency segments,
  * cohort and discounted LTV, revenue growth accounting, migration
  * matrices, and purchase timing. */
object CustomerQueries extends QueryCatalog {

  import Fixtures._

  /** floor(1e6 · (100/105)^k), k = 0..24 — 5%/month discount, computed
    * once here and embedded as literals in BOTH plans. */
  private val dcf: Seq[Long] = {
    var v = BigInt(1000000)
    (0 to 24).map { _ =>
      val cur = v.toLong
      v = v * 100 / 105
      cur
    }
  }

  private def dcfCase(ageCol: String): String =
    "CASE " + dcf.zipWithIndex.map { case (v, k) =>
      s"WHEN $ageCol = $k THEN $v"
    }.mkString(" ") + " ELSE 0 END"

  def defs: Seq[QueryDef] = Seq(

    // ── RFM quintile segmentation of customers from their order stream.
    //    Every bucket boundary is deterministic (ties order by entity),
    //    so the 3-digit segment codes hash-match the oracle.
    QueryDef("q_rfm_segments",
      (s, d) => Segmentation.rfm(
        Tables.orders(s, d)
          .withColumn("ts_s", unix_timestamp(col("o_orderdate")))
          .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long")),
        "o_custkey", "ts_s", "cents"),
      Some("""WITH per AS (SELECT o_custkey AS entity,
             |                    CAST(max(epoch(o_orderdate)) AS BIGINT) AS last_s,
             |                    CAST(count(*) AS BIGINT) AS n_orders,
             |                    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
             |             FROM orders GROUP BY 1),
             |q AS (SELECT entity, last_s, n_orders, total_cents,
             |        CAST(ntile(5) OVER (ORDER BY last_s, entity) AS INT) AS r,
             |        CAST(ntile(5) OVER (ORDER BY n_orders, entity) AS INT) AS f,
             |        CAST(ntile(5) OVER (ORDER BY total_cents, entity) AS INT) AS m
             |      FROM per)
             |SELECT entity, last_s, n_orders, total_cents, r, f, m,
             |       r * 100 + f * 10 + m AS segment
             |FROM q""".stripMargin)),

    // ── Cohort LTV: cohort = first-order month, age in months, revenue
    //    accumulated along each cohort's age axis (calendar-bounded).
    QueryDef("q_cohort_ltv",
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_custkey").as("ck"),
          expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        val coh = o.groupBy(col("ck")).agg(min(col("m")).as("cohort"))
        val cell = o.join(coh, "ck")
          .groupBy(col("cohort"), (col("m") - col("cohort")).as("age"))
          .agg(countDistinct(col("ck")).as("n_active"),
            sum(col("cents")).as("rev_cents"))
        cell.withColumn("cum_rev_cents", sum(col("rev_cents")).over(
          Window.partitionBy(col("cohort")).orderBy(col("age"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      },
      Some("""WITH o AS (
             |  SELECT o_custkey AS ck,
             |         year(o_orderdate) * 12 + month(o_orderdate) AS m,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders),
             |coh AS (SELECT ck, min(m) AS cohort FROM o GROUP BY 1),
             |cell AS (
             |  SELECT cohort, m - cohort AS age,
             |         CAST(count(DISTINCT o.ck) AS BIGINT) AS n_active,
             |         CAST(sum(cents) AS BIGINT) AS rev_cents
             |  FROM o JOIN coh ON o.ck = coh.ck GROUP BY 1, 2)
             |SELECT cohort, age, n_active, rev_cents,
             |       CAST(sum(rev_cents) OVER (PARTITION BY cohort
             |         ORDER BY age ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |         AS cum_rev_cents
             |FROM cell""".stripMargin)),

    // ── Set churn: consecutive-month active customer flows.
    QueryDef("q_set_churn",
      (s, d) => {
        val act = Tables.orders(s, d)
          .select(col("o_custkey").as("ck"),
            expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"))
          .distinct()
          .localCheckpoint(false) // current/previous sides + counts
        val nm = act.groupBy(col("m")).agg(count(lit(1)).as("n_active"))
        val common = act.join(act.select(col("ck"),
            (col("m") + 1).as("m")), Seq("ck", "m"))
          .groupBy(col("m")).agg(count(lit(1)).as("retained"))
        nm.join(nm.select((col("m") + 1).as("m"),
            col("n_active").as("n_prev")), Seq("m"))
          .join(common, Seq("m"), "left")
          .selectExpr("m", "n_active", "n_prev",
            "coalesce(retained, CAST(0 AS BIGINT)) AS retained",
            "n_prev - coalesce(retained, CAST(0 AS BIGINT)) AS churned",
            "n_active - coalesce(retained, CAST(0 AS BIGINT)) AS added",
            """coalesce(retained, CAST(0 AS BIGINT)) * 1000000
              | div (n_active + n_prev - coalesce(retained,
              |      CAST(0 AS BIGINT))) AS jaccard_e6""".stripMargin)
      },
      Some("""WITH act AS (SELECT DISTINCT o_custkey AS ck,
             |                   year(o_orderdate) * 12
             |                     + month(o_orderdate) AS m
             |            FROM orders),
             |nm AS (SELECT m, CAST(count(*) AS BIGINT) AS n_active
             |       FROM act GROUP BY 1),
             |common AS (SELECT a.m, CAST(count(*) AS BIGINT) AS retained
             |           FROM act a JOIN act p
             |             ON a.ck = p.ck AND p.m + 1 = a.m
             |           GROUP BY 1)
             |SELECT nm.m, nm.n_active AS n_active, pv.n_active AS n_prev,
             |       coalesce(retained, 0) AS retained,
             |       pv.n_active - coalesce(retained, 0) AS churned,
             |       nm.n_active - coalesce(retained, 0) AS added,
             |       coalesce(retained, 0) * 1000000
             |         // (nm.n_active + pv.n_active - coalesce(retained, 0))
             |         AS jaccard_e6
             |FROM nm JOIN nm pv ON pv.m + 1 = nm.m
             |LEFT JOIN common ON common.m = nm.m""".stripMargin)),

    // ── Discounted LTV: cohort revenue at age k weighted by the
    //    literal (100/105)^k table, ages beyond 24 months cut off.
    QueryDef("q_discounted_ltv",
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_custkey").as("ck"),
          expr("year(o_orderdate) * 12 + month(o_orderdate)").as("m"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        val coh = o.groupBy(col("ck")).agg(min(col("m")).as("cohort"))
        o.join(coh, "ck")
          .withColumn("age", col("m") - col("cohort"))
          .where(col("age") <= 24)
          .withColumn("w_e6", expr(dcfCase("age")))
          .groupBy(col("cohort"))
          .agg(countDistinct(col("ck")).as("n_custs"),
            sum(col("cents")).as("rev_cents"),
            sum(expr("cents * w_e6")).as("npv_num"))
          .selectExpr("cohort", "n_custs", "rev_cents",
            "npv_num div 1000000 AS npv_cents",
            "npv_num div 1000000 div n_custs AS npv_per_cust_cents")
      },
      Some(s"""WITH o AS (
              |  SELECT o_custkey AS ck,
              |         year(o_orderdate) * 12 + month(o_orderdate) AS m,
              |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
              |           AS cents
              |  FROM orders),
              |coh AS (SELECT ck, min(m) AS cohort FROM o GROUP BY 1),
              |w AS (SELECT o.ck, cohort, cents, m - cohort AS age
              |      FROM o JOIN coh ON o.ck = coh.ck
              |      WHERE m - cohort <= 24),
              |ww AS (SELECT ck, cohort, cents,
              |              ${dcfCase("age")} AS w_e6
              |       FROM w)
              |SELECT cohort, CAST(count(DISTINCT ck) AS BIGINT) AS n_custs,
              |       CAST(sum(cents) AS BIGINT) AS rev_cents,
              |       CAST(sum(cents * w_e6) // 1000000 AS BIGINT)
              |         AS npv_cents,
              |       CAST(sum(cents * w_e6) // 1000000
              |         // count(DISTINCT ck) AS BIGINT)
              |         AS npv_per_cust_cents
              |FROM ww GROUP BY 1""".stripMargin)),

    // ── Growth streaks: sign islands over month-over-month revenue
    //    deltas (rn − rank-within-sign — the q_repetition_loops idiom
    //    on the time axis). Emits the longest up and down streaks with
    //    their endpoints. The month axis is calendar-bounded.
    QueryDef("q_growth_streaks",
      (s, d) => {
        val mo = Tables.orders(s, d)
          .groupBy(expr("year(o_orderdate) * 100 + month(o_orderdate)")
            .as("mo"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("rev"))
        val w = Window.orderBy(col("mo"))
        val sgn = mo
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("prev", lag(col("rev"), 1).over(w))
          .filter(col("prev").isNotNull && col("rev") =!= col("prev"))
          .withColumn("dir", when(col("rev") > col("prev"), "up")
            .otherwise("down"))
          .withColumn("isl", col("rn") - row_number().over(
            Window.partitionBy(col("dir")).orderBy(col("rn"))))
        sgn.groupBy(col("dir"), col("isl"))
          .agg(count(lit(1)).as("len"), min(col("mo")).as("from_mo"),
            max(col("mo")).as("to_mo"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("dir"))
              .orderBy(col("len").desc, col("from_mo"))))
          .filter(col("rk") === 1)
          .selectExpr("dir", "CAST(len AS BIGINT) AS len",
            "CAST(from_mo AS BIGINT) AS from_mo",
            "CAST(to_mo AS BIGINT) AS to_mo")
      },
      Some("""WITH mo AS (SELECT year(o_orderdate) * 100
             |                    + month(o_orderdate) AS mo,
             |                  CAST(sum(CAST(floor(o_totalprice * 100
             |                    + 0.5) AS BIGINT)) AS BIGINT) AS rev
             |           FROM orders GROUP BY 1),
             |sq AS (SELECT mo, rev,
             |              CAST(row_number() OVER (ORDER BY mo)
             |                AS BIGINT) AS rn,
             |              lag(rev) OVER (ORDER BY mo) AS prev
             |       FROM mo),
             |dirs AS (SELECT mo, rn,
             |                CASE WHEN rev > prev THEN 'up'
             |                     ELSE 'down' END AS dir
             |         FROM sq WHERE prev IS NOT NULL AND rev <> prev),
             |isl AS (SELECT mo, dir,
             |               rn - row_number() OVER (PARTITION BY dir
             |                 ORDER BY rn) AS isl
             |        FROM dirs),
             |runs AS (SELECT dir, isl, CAST(count(*) AS BIGINT) AS len,
             |                CAST(min(mo) AS BIGINT) AS from_mo,
             |                CAST(max(mo) AS BIGINT) AS to_mo
             |         FROM isl GROUP BY 1, 2)
             |SELECT dir, len, from_mo, to_mo
             |FROM (SELECT *, row_number() OVER (PARTITION BY dir
             |        ORDER BY len DESC, from_mo) AS rk
             |      FROM runs)
             |WHERE rk = 1""".stripMargin)),

    // ── Activity islands: month index = 12·year+month; island id =
    //    mo_idx − row_number (constant within a consecutive run). The
    //    customer-keyed shuffle carries dedup, the window AND both
    //    rollups; the streak axis is bounded by the 7-year calendar.
    QueryDef("q_activity_islands",
      (s, d) => {
        val am = Tables.orders(s, d)
          .select(col("o_custkey").as("cust"),
            expr("year(o_orderdate) * 12 + month(o_orderdate)")
              .as("mi"))
          .distinct()
        val isl = am
          .withColumn("grp", col("mi") - row_number().over(
            Window.partitionBy(col("cust")).orderBy(col("mi"))))
          .groupBy(col("cust"), col("grp"))
          .agg(count(lit(1)).as("len"))
        val per = isl.groupBy(col("cust"))
          .agg(count(lit(1)).as("n_islands"), max(col("len")).as("maxlen"))
        per.groupBy(col("maxlen"))
          .agg(count(lit(1)).as("n_customers"),
            expr("sum(n_islands) div count(1)").as("avg_islands"))
          .selectExpr("CAST(maxlen AS BIGINT) AS max_streak_months",
            "CAST(n_customers AS BIGINT) AS n_customers", "avg_islands")
      },
      Some("""WITH am AS (
             |  SELECT DISTINCT o_custkey AS cust,
             |         year(o_orderdate) * 12 + month(o_orderdate) AS mi
             |  FROM orders),
             |isl AS (SELECT cust,
             |               mi - row_number() OVER (PARTITION BY cust
             |                 ORDER BY mi) AS grp,
             |               mi
             |        FROM am),
             |runs AS (SELECT cust, grp, CAST(count(*) AS BIGINT) AS len
             |         FROM isl GROUP BY 1, 2),
             |per AS (SELECT cust, CAST(count(*) AS BIGINT) AS n_islands,
             |               CAST(max(len) AS BIGINT) AS maxlen
             |        FROM runs GROUP BY 1)
             |SELECT maxlen AS max_streak_months,
             |       CAST(count(*) AS BIGINT) AS n_customers,
             |       CAST(sum(n_islands) // count(*) AS BIGINT)
             |         AS avg_islands
             |FROM per GROUP BY 1""".stripMargin)),

    /* Customer-lifecycle relational shapes — the
     * frequency-segment migration matrix 1996→1997 (including churn-to-
     * absent and new-from-absent legs via a full outer join — the
     * customer-grain complement of q_abc_migration's part ranks),
     * repurchase cycle per brand (days between consecutive buys of the
     * SAME part by the same customer — the replenishment read), and
     * share-of-wallet concentration (top-brand spend share per customer,
     * rolled to a bounded decile histogram per segment). Segments use
     * fixed order-count buckets (1 / 2–3 / 4+), so no global quantile
     * pass is needed anywhere. */

    // ── Frequency-segment migration: per customer the 1996 and 1997
    //    order counts → buckets ('1', '2-3', '4+', absent → '0'), full
    //    outer on the customer axis, then the bounded transition grid.
    QueryDef("q_customer_migration",
      (s, d) => {
        def leg(yr: Int, out: String) = Tables.orders(s, d)
          .filter(expr(s"year(o_orderdate) = $yr"))
          .groupBy(col("o_custkey").as("cust"))
          .agg(count(lit(1)).as("n"))
          .select(col("cust"),
            when(col("n") >= 4, "4+").when(col("n") >= 2, "2-3")
              .otherwise("1").as(out))
        leg(1996, "seg_a").join(leg(1997, "seg_b"), Seq("cust"), "full_outer")
          .select(coalesce(col("seg_a"), lit("0")).as("seg_1996"),
            coalesce(col("seg_b"), lit("0")).as("seg_1997"))
          .groupBy(col("seg_1996"), col("seg_1997"))
          .agg(count(lit(1)).as("n_customers"))
          .selectExpr("seg_1996", "seg_1997",
            "CAST(n_customers AS BIGINT) AS n_customers")
      },
      Some("""WITH a AS (SELECT o_custkey AS cust,
             |                 CASE WHEN count(*) >= 4 THEN '4+'
             |                      WHEN count(*) >= 2 THEN '2-3'
             |                      ELSE '1' END AS seg_a
             |           FROM orders WHERE year(o_orderdate) = 1996
             |           GROUP BY 1),
             |b AS (SELECT o_custkey AS cust,
             |             CASE WHEN count(*) >= 4 THEN '4+'
             |                  WHEN count(*) >= 2 THEN '2-3'
             |                  ELSE '1' END AS seg_b
             |      FROM orders WHERE year(o_orderdate) = 1997
             |      GROUP BY 1)
             |SELECT coalesce(seg_a, '0') AS seg_1996,
             |       coalesce(seg_b, '0') AS seg_1997,
             |       CAST(count(*) AS BIGINT) AS n_customers
             |FROM a FULL OUTER JOIN b USING (cust)
             |GROUP BY 1, 2""".stripMargin)),

    // ── Repurchase cycle: consecutive same-(customer, part) purchase
    //    gaps in days (lag over ONE (cust, part)-keyed shuffle), rolled
    //    to the brand axis: n repurchases, mean gap, share ≤ 30 days.
    QueryDef("q_repurchase_cycle",
      (s, d) => {
        val w = Window.partitionBy(col("cust"), col("l_partkey"))
          .orderBy(col("day"), col("l_orderkey"), col("l_linenumber"))
        val gaps = Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey").as("cust")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("cust"), col("l_partkey"), col("l_orderkey"),
            col("l_linenumber"),
            expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
              "div 86400000000").as("day"))
          .withColumn("gap", col("day") - lag(col("day"), 1).over(w))
          .filter(col("gap").isNotNull)
        gaps.join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_repurchases"), sum(col("gap")).as("sg"),
            sum(when(col("gap") <= 30, 1L).otherwise(0L)).as("n_fast"))
          .selectExpr("p_brand",
            "CAST(n_repurchases AS BIGINT) AS n_repurchases",
            "sg div n_repurchases AS mean_gap_days",
            "n_fast * 1000000 div n_repurchases AS fast_share_e6")
      },
      Some("""WITH g AS (
             |  SELECT o.o_custkey AS cust, l.l_partkey,
             |         epoch_us(l.l_shipdate) // 86400000000
             |           - lag(epoch_us(l.l_shipdate) // 86400000000)
             |             OVER (PARTITION BY o.o_custkey, l.l_partkey
             |                   ORDER BY epoch_us(l.l_shipdate)
             |                     // 86400000000, l.l_orderkey,
             |                     l.l_linenumber) AS gap
             |  FROM lineitem l JOIN orders o
             |    ON l.l_orderkey = o.o_orderkey)
             |SELECT p.p_brand,
             |       CAST(count(*) AS BIGINT) AS n_repurchases,
             |       CAST(sum(g.gap) AS BIGINT) // count(*)
             |         AS mean_gap_days,
             |       CAST(sum(CASE WHEN g.gap <= 30 THEN 1 ELSE 0 END)
             |         AS BIGINT) * 1000000 // count(*) AS fast_share_e6
             |FROM g JOIN part p ON g.l_partkey = p.p_partkey
             |WHERE g.gap IS NOT NULL
             |GROUP BY 1""".stripMargin)),

    // ── Share of wallet: per customer the top-brand spend share (exact
    //    cents, argmax by window over the customer-keyed rollup), then
    //    the decile histogram per market segment — concentration of
    //    loyalty, bounded output.
    QueryDef("q_share_of_wallet",
      (s, d) => {
        val cb = Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey").as("cust")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("cust"), col("p_brand"))
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("spend"))
        val per = cb
          .withColumn("tot", sum(col("spend")).over(
            Window.partitionBy(col("cust"))))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("cust"))
              .orderBy(col("spend").desc, col("p_brand"))))
          .filter(col("rk") === 1)
          .withColumn("sow_e6", expr("spend * 1000000 div tot"))
        per.join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("cust") === col("c_custkey"))
          .groupBy(col("c_mktsegment"),
            expr("least(sow_e6 div 100000, 9)").as("decile"))
          .agg(count(lit(1)).as("n_customers"))
          .selectExpr("c_mktsegment", "CAST(decile AS BIGINT) AS decile",
            "CAST(n_customers AS BIGINT) AS n_customers")
      },
      Some("""WITH cb AS (
             |  SELECT o.o_custkey AS cust, p.p_brand,
             |         CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS spend
             |  FROM lineitem l
             |  JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  JOIN part p ON l.l_partkey = p.p_partkey
             |  GROUP BY 1, 2),
             |per AS (SELECT cust, spend,
             |               CAST(sum(spend) OVER (PARTITION BY cust)
             |                 AS BIGINT) AS tot,
             |               row_number() OVER (PARTITION BY cust
             |                 ORDER BY spend DESC, p_brand) AS rk
             |        FROM cb),
             |sow AS (SELECT cust, spend * 1000000 // tot AS sow_e6
             |        FROM per WHERE rk = 1)
             |SELECT c.c_mktsegment,
             |       CAST(least(sow_e6 // 100000, 9) AS BIGINT) AS decile,
             |       CAST(count(*) AS BIGINT) AS n_customers
             |FROM sow JOIN customer c ON sow.cust = c.c_custkey
             |GROUP BY 1, 2""".stripMargin)),

    // ── Waterfall: per (customer, month) spend, consecutive months
    //    full-outer-joined (mi+1 key shift), each customer classified
    //    new/expansion/contraction/churn; NRR_e6 = retained-base
    //    revenue over prior-month base. 1996–1997 months only (dense
    //    span in the testdata calendar).
    QueryDef("q_revenue_waterfall",
      (s, d) => {
        val cm = Tables.orders(s, d)
          .filter(expr("year(o_orderdate) IN (1996, 1997)"))
          .groupBy(col("o_custkey").as("cust"),
            expr("year(o_orderdate) * 12 + month(o_orderdate) - 1")
              .as("mi"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("rev"))
          .localCheckpoint(false) // both sides of the month-shift join
        val prev = cm.select(col("cust"), (col("mi") + 1).as("mi"),
          col("rev").as("rev_prev"))
        cm.join(prev, Seq("cust", "mi"), "full_outer")
          .filter(col("mi") > expr("1996 * 12")) // first month has no prev
          .select(col("mi"),
            coalesce(col("rev"), lit(0L)).as("r"),
            coalesce(col("rev_prev"), lit(0L)).as("p"))
          .groupBy(col("mi"))
          .agg(
            sum(when(col("p") === 0L, col("r")).otherwise(0L)).as("new_rev"),
            sum(when(col("p") > 0L && col("r") > col("p"),
              col("r") - col("p")).otherwise(0L)).as("expansion"),
            sum(when(col("p") > 0L && col("r") > 0L && col("r") < col("p"),
              col("p") - col("r")).otherwise(0L)).as("contraction"),
            sum(when(col("r") === 0L, col("p")).otherwise(0L))
              .as("churned"),
            sum(when(col("p") > 0L, col("r")).otherwise(0L)).as("retained_r"),
            sum(col("p")).as("base"))
          .filter(col("base") > 0L)
          .selectExpr("CAST(mi AS BIGINT) AS mi",
            "CAST(new_rev AS BIGINT) AS new_rev",
            "CAST(expansion AS BIGINT) AS expansion",
            "CAST(contraction AS BIGINT) AS contraction",
            "CAST(churned AS BIGINT) AS churned",
            "retained_r * 1000000 div base AS nrr_e6")
      },
      Some("""WITH cm AS (
             |  SELECT o_custkey AS cust,
             |         year(o_orderdate) * 12 + month(o_orderdate) - 1
             |           AS mi,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS rev
             |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
             |  GROUP BY 1, 2),
             |j AS (SELECT coalesce(a.mi, b.mi + 1) AS mi,
             |             coalesce(a.rev, 0) AS r,
             |             coalesce(b.rev, 0) AS p
             |      FROM cm a FULL OUTER JOIN
             |           (SELECT cust, mi, rev FROM cm) b
             |        ON a.cust = b.cust AND a.mi = b.mi + 1),
             |agg AS (SELECT mi,
             |          CAST(sum(CASE WHEN p = 0 THEN r ELSE 0 END)
             |            AS BIGINT) AS new_rev,
             |          CAST(sum(CASE WHEN p > 0 AND r > p THEN r - p
             |            ELSE 0 END) AS BIGINT) AS expansion,
             |          CAST(sum(CASE WHEN p > 0 AND r > 0 AND r < p
             |            THEN p - r ELSE 0 END) AS BIGINT)
             |            AS contraction,
             |          CAST(sum(CASE WHEN r = 0 THEN p ELSE 0 END)
             |            AS BIGINT) AS churned,
             |          CAST(sum(CASE WHEN p > 0 THEN r ELSE 0 END)
             |            AS BIGINT) AS retained_r,
             |          CAST(sum(p) AS BIGINT) AS base
             |        FROM j WHERE mi > 1996 * 12 GROUP BY 1)
             |SELECT mi, new_rev, expansion, contraction, churned,
             |       retained_r * 1000000 // base AS nrr_e6
             |FROM agg WHERE base > 0""".stripMargin)),

    // ── New vs repeat revenue per month: first-purchase month via ONE
    //    customer-keyed min; each order's revenue attributed new if its
    //    month equals the customer's first. Bounded month output.
    QueryDef("q_new_vs_repeat",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_custkey").as("cust"),
            expr("year(o_orderdate) * 100 + month(o_orderdate)").as("mo"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("rev"))
        val first = o.groupBy(col("cust")).agg(min(col("mo")).as("mo0"))
        o.join(first, "cust")
          .groupBy(col("mo"))
          .agg(sum(when(col("mo") === col("mo0"), col("rev"))
            .otherwise(0L)).as("new_rev"),
            sum(when(col("mo") =!= col("mo0"), col("rev"))
              .otherwise(0L)).as("repeat_rev"),
            count(lit(1)).as("n_orders"))
          .selectExpr("CAST(mo AS BIGINT) AS mo",
            "CAST(new_rev AS BIGINT) AS new_rev",
            "CAST(repeat_rev AS BIGINT) AS repeat_rev",
            "CAST(n_orders AS BIGINT) AS n_orders",
            """CASE WHEN new_rev + repeat_rev = 0 THEN 0
              |ELSE repeat_rev * 1000000 div (new_rev + repeat_rev)
              |END AS repeat_share_e6""".stripMargin)
      },
      Some("""WITH o AS (
             |  SELECT o_custkey AS cust,
             |         year(o_orderdate) * 100 + month(o_orderdate)
             |           AS mo,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           AS rev
             |  FROM orders),
             |f AS (SELECT cust, min(mo) AS mo0 FROM o GROUP BY 1)
             |SELECT CAST(o.mo AS BIGINT) AS mo,
             |       CAST(sum(CASE WHEN o.mo = f.mo0 THEN rev ELSE 0
             |         END) AS BIGINT) AS new_rev,
             |       CAST(sum(CASE WHEN o.mo <> f.mo0 THEN rev ELSE 0
             |         END) AS BIGINT) AS repeat_rev,
             |       CAST(count(*) AS BIGINT) AS n_orders,
             |       CASE WHEN sum(rev) = 0 THEN 0
             |         ELSE CAST(sum(CASE WHEN o.mo <> f.mo0 THEN rev
             |           ELSE 0 END) AS BIGINT) * 1000000
             |           // CAST(sum(rev) AS BIGINT)
             |       END AS repeat_share_e6
             |FROM o JOIN f ON o.cust = f.cust
             |GROUP BY 1""".stripMargin)),

    /* Growth accounting (`q_growth_accounting`): the monthly
     * new / retained / resurrected / churned MAU decomposition (and
     * quick ratio) — the standard operating read of any activity
     * stream. new = first-active month; retained = active in m−1 and
     * m; resurrected = returning after a gap; churned = active in m−1,
     * silent in m. All joins are keyed (user, month) equi-joins on the
     * distinct-activity frame — partial+final aggregable, no windows. */
    // ── Monthly new/retained/resurrected/churned decomposition.
    QueryDef("q_growth_accounting",
      (s, d) => {
        val act = Tables.events(s, d)
          .select(col("user_id").as("u"),
            expr("unix_micros(ts) div 2592000000000").as("m"))
          .distinct()
          .localCheckpoint(false) // mau + retained join + first month
        val firstM = act.groupBy(col("u")).agg(min(col("m")).as("fm"))
        val prev = act.select(col("u"), (col("m") + 1).as("m"),
          lit(1L).as("was_active"))
        val cur = act.join(broadcast(firstM), "u")
          .join(prev, Seq("u", "m"), "left")
          .groupBy(col("m"))
          .agg(count(lit(1)).as("mau"),
            sum(expr("CASE WHEN fm = m THEN 1 ELSE 0 END")).as("new_u"),
            sum(expr("CASE WHEN was_active = 1 THEN 1 ELSE 0 END"))
              .as("retained"))
          .withColumn("resurrected",
            expr("mau - new_u - retained"))
        val churn = act.select(col("u"), (col("m") + 1).as("m"))
          .join(act.select(col("u"), col("m"), lit(1L).as("still")),
            Seq("u", "m"), "left")
          .groupBy(col("m"))
          .agg(sum(expr("CASE WHEN still IS NULL THEN 1 ELSE 0 END"))
            .as("churned"))
        cur.join(churn, Seq("m"), "left")
          .selectExpr("m", "mau", "new_u", "retained", "resurrected",
            "coalesce(churned, 0L) AS churned",
            """CASE WHEN coalesce(churned, 0L) = 0 THEN NULL
              |ELSE (new_u + resurrected) * 1000000
              |  div coalesce(churned, 0L) END AS quick_ratio_e6"""
              .stripMargin)
      },
      Some("""WITH act AS (
             |  SELECT DISTINCT user_id AS u,
             |         epoch_us(ts) // 2592000000000 AS m
             |  FROM events),
             |fm AS (SELECT u, min(m) AS fm FROM act GROUP BY 1),
             |cur AS (SELECT a.m AS m, CAST(count(*) AS BIGINT) AS mau,
             |          CAST(sum(CASE WHEN f.fm = a.m THEN 1 ELSE 0 END)
             |            AS BIGINT) AS new_u,
             |          CAST(sum(CASE WHEN p.u IS NOT NULL THEN 1
             |                        ELSE 0 END) AS BIGINT) AS retained
             |        FROM act a
             |        JOIN fm f ON f.u = a.u
             |        LEFT JOIN act p ON p.u = a.u AND p.m = a.m - 1
             |        GROUP BY 1),
             |churn AS (SELECT a.m + 1 AS m,
             |            CAST(sum(CASE WHEN nx.u IS NULL THEN 1
             |                          ELSE 0 END) AS BIGINT) AS churned
             |          FROM act a
             |          LEFT JOIN act nx ON nx.u = a.u AND nx.m = a.m + 1
             |          GROUP BY 1)
             |SELECT c.m AS m, mau, new_u, retained,
             |       mau - new_u - retained AS resurrected,
             |       coalesce(churned, 0) AS churned,
             |       CASE WHEN coalesce(churned, 0) = 0 THEN NULL
             |       ELSE (new_u + (mau - new_u - retained)) * 1000000
             |         // coalesce(churned, 0) END AS quick_ratio_e6
             |FROM cur c LEFT JOIN churn ch ON ch.m = c.m""".stripMargin)),

    /* Geometric retention (`q_geometric_retention`): per signup cohort,
     * the right-censored geometric MLE r̂ = Σ(L−1+c)/ΣL over user
     * lifetimes (months from first to last activity, censored at the
     * horizon), with the implied expected lifetime 1/(1−r̂). The
     * parametric companion to q_cohort_retention's empirical curve. */
    // ── Right-censored geometric retention MLE per signup cohort.
    QueryDef("q_geometric_retention",
      (s, d) => {
        val act = Tables.events(s, d)
          .select(col("user_id").as("u"),
            expr("unix_micros(ts) div 2592000000000").as("m"))
          .distinct()
        val horizon = act.agg(max(col("m")).as("hz"))
        act.groupBy(col("u"))
          .agg(min(col("m")).as("fm"), max(col("m")).as("lm"))
          .crossJoin(broadcast(horizon))
          .selectExpr("fm AS cohort", "lm - fm + 1 AS life",
            "CASE WHEN lm = hz THEN 1L ELSE 0L END AS censored")
          .groupBy(col("cohort"))
          .agg(count(lit(1)).as("n_users"),
            sum(lit(1L) - col("censored")).as("churned"),
            sum(col("life")).as("sl"),
            sum(expr("life - 1 + censored")).as("surv"))
          .selectExpr("cohort", "n_users", "churned",
            "surv * 1000000 div sl AS r_e6",
            """CASE WHEN sl = surv THEN NULL
              |ELSE sl * 1000000 div (sl - surv) END
              | AS expected_life_months_e6""".stripMargin)
      },
      Some("""WITH act AS (
             |  SELECT DISTINCT user_id AS u,
             |         epoch_us(ts) // 2592000000000 AS m
             |  FROM events),
             |hz AS (SELECT max(m) AS hz FROM act),
             |lt AS (SELECT u, min(m) AS fm, max(m) AS lm
             |       FROM act GROUP BY 1),
             |lab AS (SELECT fm AS cohort, lm - fm + 1 AS life,
             |          CASE WHEN lm = hz THEN 1 ELSE 0 END AS censored
             |        FROM lt CROSS JOIN hz)
             |SELECT cohort, CAST(count(*) AS BIGINT) AS n_users,
             |       CAST(sum(1 - censored) AS BIGINT) AS churned,
             |       CAST(sum(life - 1 + censored) AS BIGINT) * 1000000
             |         // CAST(sum(life) AS BIGINT) AS r_e6,
             |       CASE WHEN sum(life) = sum(life - 1 + censored)
             |         THEN NULL
             |       ELSE CAST(sum(life) AS BIGINT) * 1000000
             |         // (CAST(sum(life) AS BIGINT)
             |            - CAST(sum(life - 1 + censored) AS BIGINT))
             |       END AS expected_life_months_e6
             |FROM lab GROUP BY 1""".stripMargin)),

    /* CLV rollup (`q_clv`): per customer nation — average order value,
     * orders per customer, repeat-customer share, and the
     * geometric-retention CLV aov·freq·r/(1−r); every factor an exact
     * integer e6 ratio, composed in decimal. */
    // ── CLV rollup per customer nation.
    QueryDef("q_clv",
      (s, d) => {
        val perCust = Tables.orders(s, d)
          .join(Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey"),
              col("c_nationkey").as("nk")), Seq("o_custkey"))
          .groupBy(col("nk"), col("o_custkey"))
          .agg(count(lit(1)).as("no"),
            sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
              .as("v"))
        perCust.groupBy(col("nk"))
          .agg(count(lit(1)).as("custs"), sum(col("no")).as("orders"),
            sum(col("v")).as("rev"),
            sum(when(col("no") >= 2L, 1L).otherwise(0L)).as("repeats"))
          .selectExpr("nk", "custs", "orders",
            "rev div orders AS aov_cents",
            "orders * 1000000 div custs AS freq_e6",
            "repeats * 1000000 div custs AS retention_e6")
          .selectExpr("nk", "custs", "orders", "aov_cents", "freq_e6",
            "retention_e6",
            s"""CASE WHEN retention_e6 >= 1000000 THEN NULL
               |ELSE CAST(CAST(aov_cents AS $dec) * freq_e6
               |  * retention_e6
               |  div (CAST(1000000 AS $dec)
               |       * (1000000 - retention_e6)) AS BIGINT)
               |END AS clv_cents""".stripMargin)
      },
      Some("""WITH pc AS (
             |  SELECT c_nationkey AS nk, o_custkey,
             |         CAST(count(*) AS BIGINT) AS no,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS v
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |ag AS (SELECT nk, CAST(count(*) AS BIGINT) AS custs,
             |         CAST(sum(no) AS BIGINT) AS orders,
             |         CAST(sum(v) AS BIGINT) AS rev,
             |         CAST(sum(CASE WHEN no >= 2 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS repeats
             |       FROM pc GROUP BY 1),
             |k AS (SELECT nk, custs, orders,
             |        rev // orders AS aov_cents,
             |        orders * 1000000 // custs AS freq_e6,
             |        repeats * 1000000 // custs AS retention_e6
             |      FROM ag)
             |SELECT nk, custs, orders, aov_cents, freq_e6, retention_e6,
             |       CASE WHEN retention_e6 >= 1000000 THEN NULL
             |       ELSE CAST(CAST(aov_cents AS HUGEINT) * freq_e6
             |         * retention_e6
             |         // (CAST(1000000 AS HUGEINT)
             |              * (1000000 - retention_e6)) AS BIGINT)
             |       END AS clv_cents
             |FROM k""".stripMargin)),

    /* Weekday effect (`q_weekday_effect`): day-of-week seasonal index
     * of revenue — per-dow mean daily revenue over the all-days mean,
     * with the dow day counts; calendar-bounded daily frame, exact
     * integer e6 ratios. */
    // ── Day-of-week seasonal index of daily revenue.
    QueryDef("q_weekday_effect",
      (s, d) => {
        val daily = ordersDailyHecto(s, d)
          .localCheckpoint(false) // calendar-bounded
        // dow 0 = Monday via epoch-day arithmetic — Spark's dayofweek
        // (Sun=1) and DuckDB's (Sun=0) disagree, this does not.
        val dow = daily
          .groupBy(expr("CAST(datediff(dt, DATE'1970-01-05') % 7" +
            " AS BIGINT)").as("dow"))
          .agg(count(lit(1)).as("days"), sum(col("x")).as("rev"))
        val tot = daily.agg(count(lit(1)).as("nd"), sum(col("x")).as("rt"))
        dow.crossJoin(broadcast(tot))
          .selectExpr("dow", "days",
            "rev div days AS mean_rev_hecto",
            s"""CAST(CAST(rev AS $dec) * nd * 1000000
               |  div (CAST(rt AS $dec) * days) AS BIGINT)
               |  AS index_e6""".stripMargin)
      },
      Some(s"""WITH $ordersDailyHectoSql,
             |dow AS (SELECT CAST(datediff('day', DATE '1970-01-05', dt)
             |            % 7 AS BIGINT) AS dow,
             |          CAST(count(*) AS BIGINT) AS days,
             |          CAST(sum(x) AS BIGINT) AS rev
             |        FROM daily GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS nd,
             |          CAST(sum(x) AS BIGINT) AS rt FROM daily)
             |SELECT dow, days, rev // days AS mean_rev_hecto,
             |       CAST(CAST(rev AS HUGEINT) * nd * 1000000
             |         // (CAST(rt AS HUGEINT) * days) AS BIGINT)
             |         AS index_e6
             |FROM dow CROSS JOIN tot""".stripMargin)),

    /* Interarrival profile (`q_interarrival`): per-customer order gap
     * days via a strictly-next-date argmin join (shuffle equi-join on
     * o_custkey, ~orders²-per-customer fan-out, never global) — pooled
     * mean gap, dispersion CV² = s²/x̄² (the Poisson-or-bursty
     * readout), and the share of ≤7-day rapid repeats. */
    // ── Pooled order-interarrival profile (strictly-next-date gaps).
    QueryDef("q_interarrival",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_custkey").as("ck"), col("o_orderdate").as("dt"))
        val gaps = o.as("a").join(o.as("b"),
            col("a.ck") === col("b.ck") && col("b.dt") > col("a.dt"))
          .groupBy(col("a.ck").as("ck"), col("a.dt").as("dt"))
          .agg(min(expr("datediff(b.dt, a.dt)")).as("g"))
        gaps.agg(count(lit(1)).as("n_gaps"),
            sum(col("g")).as("sg"),
            sum(col("g") * col("g")).as("sg2"),
            sum(when(col("g") <= 7L, 1L).otherwise(0L)).as("rapid"))
          .selectExpr("n_gaps",
            "sg * 1000000 div n_gaps AS mean_gap_days_e6",
            "rapid * 1000000 div n_gaps AS rapid_share_e6",
            s"""CASE WHEN n_gaps < 2 OR sg = 0 THEN NULL
               |ELSE CAST((CAST(n_gaps AS $dec) * sg2
               |    - CAST(sg AS $dec) * sg) * 1000000
               |  div (CAST(sg AS $dec) * sg) AS BIGINT)
               |END AS cv2_e6""".stripMargin)
      },
      Some("""WITH o AS (SELECT o_custkey AS ck,
             |             CAST(o_orderdate AS DATE) AS dt FROM orders),
             |gaps AS (SELECT a.ck, a.dt,
             |           CAST(min(datediff('day', a.dt, b.dt)) AS BIGINT)
             |             AS g
             |         FROM o a JOIN o b
             |           ON a.ck = b.ck AND b.dt > a.dt
             |         GROUP BY 1, 2),
             |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_gaps,
             |         CAST(sum(g) AS BIGINT) AS sg,
             |         CAST(sum(g * g) AS BIGINT) AS sg2,
             |         CAST(sum(CASE WHEN g <= 7 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS rapid
             |       FROM gaps)
             |SELECT n_gaps,
             |       sg * 1000000 // n_gaps AS mean_gap_days_e6,
             |       rapid * 1000000 // n_gaps AS rapid_share_e6,
             |       CASE WHEN n_gaps < 2 OR sg = 0 THEN NULL
             |       ELSE CAST((CAST(n_gaps AS HUGEINT) * sg2
             |           - CAST(sg AS HUGEINT) * sg) * 1000000
             |         // (CAST(sg AS HUGEINT) * sg) AS BIGINT)
             |       END AS cv2_e6
             |FROM ag""".stripMargin))
  )
}
