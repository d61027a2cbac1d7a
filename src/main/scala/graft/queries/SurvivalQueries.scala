package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Sketches, Stats}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Survival and event-history analysis: Kaplan-Meier, Nelson-Aalen,
  * log-rank, Cox scores, concordance, RMST, and competing risks. */
object SurvivalQueries extends QueryCatalog {

  /** Per customer the first and last order day (f, l) with the corpus
    * end day e: the churn subjects of the survival queries. */
  private def customerSpans(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("day",
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
      .groupBy(col("o_custkey"))
      .agg(min(col("day")).as("f"), max(col("day")).as("l"))
      .crossJoin(broadcast(
        Tables.orders(s, d).agg(max(
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
          .as("e"))))

  /** DuckDB twin of the churn subjects (t = l − f, ev = quiet > 60
    * days) and their risk-set walk: CTEs `od`, `cu`, `g`, `subj`, `grp`
    * (t, d, leave), `tot`, `walk` (t, d, leave, n_risk). */
  private val churnSubjectsSql =
    """od AS (SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS day
      |           FROM orders),
      |cu AS (SELECT o_custkey, min(day) AS f, max(day) AS l FROM od GROUP BY 1),
      |g AS (SELECT max(day) AS e FROM od),
      |subj AS (SELECT l - f AS t, CASE WHEN e - l > 60 THEN 1 ELSE 0 END AS ev
      |         FROM cu CROSS JOIN g),
      |grp AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
      |               CAST(count(*) AS BIGINT) AS leave FROM subj GROUP BY t),
      |tot AS (SELECT CAST(sum(leave) AS BIGINT) AS n_all FROM grp),
      |walk AS (SELECT t, d, leave,
      |            CAST(n_all - (sum(leave) OVER w - leave) AS BIGINT) AS n_risk
      |         FROM grp CROSS JOIN tot
      |         WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING))""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Kaplan–Meier survival over customer order-span durations
    //    (days first→last order), churn-event if the last order is >60
    //    days before corpus end, else censored. Fixed-point log₂ sum
    //    inverted by the 2^-x table — all integer.
    QueryDef("q_kaplan_meier",
      (s, d) => Stats.kaplanMeier(
        customerSpans(s, d)
          .select((col("l") - col("f")).as("t"),
            when(col("e") - col("l") > 60L, 1L).otherwise(0L).as("ev")),
        "t", "ev"),
      Some {
        val stepL = Bm25.log2E6Sql("(n_risk - d)") + " - " + Bm25.log2E6Sql("n_risk")
        s"""WITH $churnSubjectsSql,
           |evs AS (SELECT t, n_risk, d FROM walk WHERE d > 0),
           |sc AS (SELECT t, n_risk, d,
           |          CAST(sum(CASE WHEN n_risk > d THEN $stepL ELSE 0 END) OVER w AS BIGINT) AS sl,
           |          max(CASE WHEN n_risk = d THEN 1 ELSE 0 END) OVER w AS dead
           |       FROM evs WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING))
           |SELECT t, n_risk, d,
           |       CAST(CASE WHEN dead = 1 THEN 0
           |            ELSE ${Sketches.pow2NegE6Sql("(0 - sl)")} END AS BIGINT) AS surv_e6
           |FROM sc""".stripMargin
      }),

    // ── Nelson–Aalen over the same churn subjects as q_kaplan_meier:
    //    customers inactive > 60 days before corpus end are events.
    QueryDef("q_nelson_aalen",
      (s, d) => Stats.nelsonAalen(
        customerSpans(s, d)
          .select((col("l") - col("f")).as("t"),
            when(col("e") - col("l") > 60L, 1L).otherwise(0L).as("ev")),
        "t", "ev"),
      Some(s"""WITH $churnSubjectsSql,
             |evs AS (SELECT t, n_risk, d,
             |          CAST(d * 1000000 // n_risk AS BIGINT) AS term_e6
             |        FROM walk WHERE d > 0)
             |SELECT t, n_risk, d, term_e6,
             |       CAST(sum(term_e6) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
             |            AS BIGINT) AS cumhaz_e6
             |FROM evs""".stripMargin)),

    // ── Log-rank over the q_kaplan_meier churn subjects, split into
    //    even/odd customer cohorts. Same distinct-duration risk-set
    //    walk; the statistic adds per-time hypergeometric expectation
    //    and variance — all integer e6, overflow-ordered.
    QueryDef("q_logrank",
      (s, d) => Stats.logRank(
        customerSpans(s, d)
          .select((col("l") - col("f")).as("t"),
            when(col("e") - col("l") > 60L, 1L).otherwise(0L).as("ev"),
            (col("o_custkey") % 2).as("g"))),
      Some("""WITH od AS (SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS day
             |           FROM orders),
             |cu AS (SELECT o_custkey, min(day) AS f, max(day) AS l FROM od GROUP BY 1),
             |gl AS (SELECT max(day) AS e FROM od),
             |subj AS (SELECT l - f AS t, CASE WHEN e - l > 60 THEN 1 ELSE 0 END AS ev,
             |                o_custkey % 2 AS g FROM cu CROSS JOIN gl),
             |grp AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
             |               CAST(sum(ev * g) AS BIGINT) AS d1,
             |               CAST(count(*) AS BIGINT) AS leave,
             |               CAST(sum(g) AS BIGINT) AS leave1
             |        FROM subj GROUP BY t),
             |tot AS (SELECT CAST(sum(leave) AS BIGINT) AS n_all,
             |               CAST(sum(leave1) AS BIGINT) AS n1_all FROM grp),
             |walk AS (SELECT t, d, d1,
             |            CAST(n_all - (sum(leave) OVER w - leave) AS BIGINT) AS n,
             |            CAST(n1_all - (sum(leave1) OVER w - leave1) AS BIGINT) AS n1
             |         FROM grp CROSS JOIN tot
             |         WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)),
             |terms AS (SELECT d1, (d * n1 * 1000000) // n AS e1_e6,
             |             ((((d * n1 * 1000000) // n) * (n - n1)) // n)
             |               * (n - d) // greatest(n - 1, 1) AS v_e6
             |          FROM walk WHERE d > 0),
             |agg AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
             |               CAST(sum(e1_e6) AS BIGINT) AS e1_e6,
             |               CAST(sum(v_e6) AS BIGINT) AS v_e6 FROM terms)
             |SELECT o1, e1_e6, v_e6,
             |       CAST(((abs(o1 * 1000000 - e1_e6) // 1000)
             |         * (abs(o1 * 1000000 - e1_e6) // 1000) * 1000)
             |         // greatest(v_e6, 1) AS BIGINT) AS chi2_e3
             |FROM agg""".stripMargin)),

    // ── Restricted mean survival time at τ = 365 days over the
    //    q_kaplan_meier churn subjects: the area under the KM step
    //    curve up to τ — "expected days retained in the first year",
    //    the standard scalar when median survival is undefined. The
    //    step integral rides the bounded event-time axis the shared
    //    [[Stats.kaplanMeier]] walk already produces; all-integer
    //    (surv_e6 × day widths), so the area is exact in e6·days.
    QueryDef("q_rmst",
      (s, d) => {
        val tau = 365L
        val km = Stats.kaplanMeier(
          Tables.orders(s, d)
            .withColumn("day", expr(
              "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
            .groupBy(col("o_custkey"))
            .agg(min(col("day")).as("f"), max(col("day")).as("l"))
            .crossJoin(broadcast(
              Tables.orders(s, d).agg(max(expr(
                "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
                .as("e"))))
            .select((col("l") - col("f")).as("t"),
              when(col("e") - col("l") > 60L, 1L).otherwise(0L).as("ev")),
          "t", "ev")
        val seg = km
          .withColumn("tn", coalesce(
            lead(col("t"), 1).over(Window.orderBy(col("t"))), lit(tau)))
          .agg(count(lit(1)).as("n_event_times"),
            min(col("t")).as("t1"),
            sum(expr(s"surv_e6 * (least(tn, $tau) - least(t, $tau))"))
              .as("tail_e6"))
        seg.selectExpr(s"CAST($tau AS BIGINT) AS tau",
          "CAST(n_event_times AS BIGINT) AS n_event_times",
          s"""1000000 * coalesce(least(t1, $tau), $tau)
             |  + coalesce(tail_e6, 0) AS rmst_e6""".stripMargin)
      },
      Some {
        val stepL = Bm25.log2E6Sql("(n_risk - d)") + " - " +
          Bm25.log2E6Sql("n_risk")
        s"""WITH od AS (SELECT o_custkey,
           |                 epoch_us(o_orderdate) // 86400000000 AS day
           |           FROM orders),
           |cu AS (SELECT o_custkey, min(day) AS f, max(day) AS l
           |       FROM od GROUP BY 1),
           |g AS (SELECT max(day) AS e FROM od),
           |subj AS (SELECT l - f AS t,
           |                CASE WHEN e - l > 60 THEN 1 ELSE 0 END AS ev
           |         FROM cu CROSS JOIN g),
           |grp AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
           |               CAST(count(*) AS BIGINT) AS leave
           |        FROM subj GROUP BY t),
           |tot AS (SELECT CAST(sum(leave) AS BIGINT) AS n_all FROM grp),
           |walk AS (SELECT t, d, leave,
           |            CAST(n_all - (sum(leave) OVER w - leave) AS BIGINT)
           |              AS n_risk
           |         FROM grp CROSS JOIN tot
           |         WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)),
           |evs AS (SELECT t, n_risk, d FROM walk WHERE d > 0),
           |sc AS (SELECT t, n_risk, d,
           |          CAST(sum(CASE WHEN n_risk > d THEN $stepL ELSE 0 END)
           |            OVER w AS BIGINT) AS sl,
           |          max(CASE WHEN n_risk = d THEN 1 ELSE 0 END) OVER w
           |            AS dead
           |       FROM evs WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)),
           |km AS (SELECT t,
           |          CAST(CASE WHEN dead = 1 THEN 0
           |               ELSE ${Sketches.pow2NegE6Sql("(0 - sl)")} END
           |            AS BIGINT) AS surv_e6
           |       FROM sc),
           |l AS (SELECT t, surv_e6,
           |             coalesce(lead(t, 1) OVER (ORDER BY t), 365) AS tn
           |      FROM km),
           |seg AS (SELECT CAST(count(*) AS BIGINT) AS n_event_times,
           |               min(t) AS t1,
           |               CAST(sum(surv_e6
           |                 * (least(tn, 365) - least(t, 365)))
           |                 AS BIGINT) AS tail_e6
           |        FROM l)
           |SELECT CAST(365 AS BIGINT) AS tau, n_event_times,
           |       CAST(1000000 * coalesce(least(t1, 365), 365)
           |         + coalesce(tail_e6, 0) AS BIGINT) AS rmst_e6
           |FROM seg""".stripMargin
      }),

    /* Event-history analysis beyond single-cause
     * survival — Aalen–Johansen competing-risks cumulative incidence
     * (churn split into two exclusive causes; "1 − KM per cause"
     * over-counts, the AJ estimator doesn't), the recurrent-event mean
     * cumulative function (orders per still-observed customer by days
     * since first order — the Nelson–Aalen analogue where subjects stay
     * at risk after each event), and a Lexis surface (event counts and
     * per-cohort rates on the age × period grid — the demographer's view
     * of retention).
     *
     * All-integer: the AJ survival factor reuses the KM e6 log₂/2^(−y)
     * machinery; MCF and Lexis are pure count ratios. Every walk runs on
     * a bounded axis (distinct durations / day offsets / week grid) after
     * one fact-sized aggregate. */

    // ── Competing risks over customer churn: duration = last−first
    //    order day; churned (global last day − l > 60) splits by the
    //    final order's priority — urgent/high = cause 1, rest cause 2;
    //    still-active customers are censored (0).
    QueryDef("q_competing_risks",
      (s, d) => {
        val od = Tables.orders(s, d)
          .select(col("o_custkey"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
              .as("day"),
            col("o_orderpriority").as("pr"))
        // two orders can share the last day — tie-break on max(pr)
        // EXPLICITLY (struct-max vs max_by disagree on ties cross-engine)
        val cu0 = od.groupBy(col("o_custkey"))
          .agg(min(col("day")).as("f"), max(col("day")).as("l"))
        val cu = od.join(cu0, "o_custkey")
          .filter(col("day") === col("l"))
          .groupBy(col("o_custkey"), col("f"), col("l"))
          .agg(max(col("pr")).as("lpr"))
        val subj = cu.crossJoin(broadcast(od.agg(max(col("day")).as("e"))))
          .select((col("l") - col("f")).as("t"),
            when(col("e") - col("l") <= 60L, 0L)
              .when(col("lpr").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(2L).as("cz"))
        Stats.competingRisks(subj, "t", "cz")
      },
      Some {
        val stepL = Bm25.log2E6Sql("(n_risk - d)") + " - " +
          Bm25.log2E6Sql("n_risk")
        s"""WITH od AS (SELECT o_custkey,
           |              epoch_us(o_orderdate) // 86400000000 AS day,
           |              o_orderpriority AS pr FROM orders),
           |cu0 AS (SELECT o_custkey, min(day) AS f, max(day) AS l
           |        FROM od GROUP BY 1),
           |cu AS (SELECT od.o_custkey, cu0.f, cu0.l, max(od.pr) AS lpr
           |       FROM od JOIN cu0 ON od.o_custkey = cu0.o_custkey
           |         AND od.day = cu0.l
           |       GROUP BY 1, 2, 3),
           |g AS (SELECT max(day) AS e FROM od),
           |subj AS (SELECT l - f AS t,
           |           CASE WHEN e - l <= 60 THEN 0
           |                WHEN lpr IN ('1-URGENT', '2-HIGH') THEN 1
           |                ELSE 2 END AS cz
           |         FROM cu CROSS JOIN g),
           |grp AS (SELECT t,
           |          CAST(sum(CASE WHEN cz = 1 THEN 1 ELSE 0 END)
           |            AS BIGINT) AS d1,
           |          CAST(sum(CASE WHEN cz = 2 THEN 1 ELSE 0 END)
           |            AS BIGINT) AS d2,
           |          CAST(count(*) AS BIGINT) AS leave
           |        FROM subj GROUP BY 1),
           |tot AS (SELECT CAST(sum(leave) AS BIGINT) AS n_all FROM grp),
           |walk AS (SELECT t, d1, d2, d1 + d2 AS d,
           |           CAST(n_all - (sum(leave) OVER w - leave) AS BIGINT)
           |             AS n_risk
           |         FROM grp CROSS JOIN tot
           |         WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)),
           |evs AS (SELECT t, n_risk, d1, d2, d FROM walk WHERE d > 0),
           |sc AS (SELECT t, n_risk, d1, d2, d,
           |         CAST(coalesce(sum(CASE WHEN n_risk > d THEN $stepL
           |           ELSE 0 END) OVER wp, 0) AS BIGINT) AS sl_prev,
           |         coalesce(max(CASE WHEN n_risk = d THEN 1 ELSE 0 END)
           |           OVER wp, 0) AS dead_prev
           |       FROM evs WINDOW wp AS (ORDER BY t
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
           |tm AS (SELECT t, n_risk, d1, d2,
           |         CASE WHEN dead_prev = 1 THEN 0
           |           ELSE ${Sketches.pow2NegE6Sql("(0 - sl_prev)")}
           |         END AS lag_surv_e6
           |       FROM sc)
           |SELECT t, n_risk, d1, d2,
           |       CAST(sum(lag_surv_e6 * d1 // n_risk) OVER w AS BIGINT)
           |         AS cif1_e6,
           |       CAST(sum(lag_surv_e6 * d2 // n_risk) OVER w AS BIGINT)
           |         AS cif2_e6
           |FROM tm WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)"""
          .stripMargin
      }),

    // ── Recurrent-event MCF: orders per customer by day offset since
    //    first order (offset 0 = entry, excluded); the risk set at
    //    offset t = customers whose administrative follow-up
    //    (global last day − first day) is ≥ t. The union-sweep gives
    //    n_risk without a correlated lookup: follow-up rows sort AFTER
    //    same-day event rows, so the strictly-preceding running sum
    //    counts exactly the subjects censored before t.
    QueryDef("q_recurrent_mcf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val od = Tables.orders(s, d)
          .select(col("o_custkey"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
              .as("day"))
        val cu = od.groupBy(col("o_custkey")).agg(min(col("day")).as("f"))
          .crossJoin(broadcast(od.agg(max(col("day")).as("e"))))
          .select(col("o_custkey"), col("f"), (col("e") - col("f")).as("fu"))
        val evs = od.join(cu, "o_custkey")
          .select((col("day") - col("f")).as("tm")).filter(col("tm") > 0L)
          .groupBy(col("tm")).agg(count(lit(1)).as("d"))
          .select(col("tm"), col("d"), lit(0L).as("c"), lit(0L).as("tag"))
        val fus = cu.groupBy(col("fu").as("tm"))
          .agg(count(lit(1)).as("c"))
          .select(col("tm"), lit(0L).as("d"), col("c"), lit(1L).as("tag"))
        val nAll = cu.agg(count(lit(1)).as("n_all"))
        val sweep = Window.orderBy(col("tm"), col("tag"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val ord = Window.orderBy(col("tm"), col("tag"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        evs.unionByName(fus)
          .crossJoin(broadcast(nAll))
          .withColumn("gone", coalesce(sum(col("c")).over(sweep), lit(0L)))
          .withColumn("n_risk", col("n_all") - col("gone"))
          .withColumn("term_e6",
            when(col("tag") === 0L && col("n_risk") > 0L,
              expr("d * 1000000 div n_risk")).otherwise(lit(0L)))
          .withColumn("mcf_e6", sum(col("term_e6")).over(ord))
          .filter(col("tag") === 0L && col("n_risk") > 0L)
          .selectExpr("tm AS t", "CAST(n_risk AS BIGINT) AS n_risk",
            "CAST(d AS BIGINT) AS d", "mcf_e6")
      },
      Some("""WITH od AS (SELECT o_custkey,
             |              epoch_us(o_orderdate) // 86400000000 AS day
             |            FROM orders),
             |cu AS (SELECT o_custkey, min(day) AS f FROM od GROUP BY 1),
             |g AS (SELECT max(day) AS e FROM od),
             |fu AS (SELECT cu.o_custkey, cu.f, g.e - cu.f AS fu
             |       FROM cu CROSS JOIN g),
             |evs AS (SELECT od.day - fu.f AS tm,
             |               CAST(count(*) AS BIGINT) AS d,
             |               CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS tag
             |        FROM od JOIN fu ON od.o_custkey = fu.o_custkey
             |        WHERE od.day - fu.f > 0 GROUP BY 1),
             |fus AS (SELECT fu AS tm, CAST(0 AS BIGINT) AS d,
             |               CAST(count(*) AS BIGINT) AS c,
             |               CAST(1 AS BIGINT) AS tag
             |        FROM fu GROUP BY 1),
             |na AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM fu),
             |u AS (SELECT * FROM evs UNION ALL SELECT * FROM fus),
             |sw AS (SELECT tm, d, c, tag,
             |         n_all - CAST(coalesce(sum(c) OVER (ORDER BY tm, tag
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |           0) AS BIGINT) AS n_risk
             |       FROM u CROSS JOIN na),
             |tmx AS (SELECT tm, d, tag, n_risk,
             |          CASE WHEN tag = 0 AND n_risk > 0
             |            THEN d * 1000000 // n_risk ELSE 0 END AS term_e6
             |        FROM sw)
             |SELECT tm AS t, n_risk, d,
             |       CAST(sum(term_e6) OVER (ORDER BY tm, tag
             |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mcf_e6
             |FROM tmx
             |QUALIFY tag = 0 AND n_risk > 0""".stripMargin)),

    // ── Lexis surface: events on the (weeks-since-first-event ×
    //    calendar-week) grid, ages 0–7; cohort size = users whose
    //    first week is period − age; rate = events per cohort member
    //    (e6). The demographic age/period/cohort decomposition's raw
    //    material, built from one user rollup + one grid rollup.
    QueryDef("q_lexis_surface",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"),
            expr("unix_micros(ts) div 604800000000").as("wk"))
        val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("w0"))
        val cohort = first.groupBy(col("w0")).agg(count(lit(1)).as("cn"))
        ev.join(first, "user_id")
          .select(col("wk").as("period"), (col("wk") - col("w0")).as("age"))
          .filter(col("age") <= 7L)
          .groupBy(col("period"), col("age"))
          .agg(count(lit(1)).as("n_events"))
          .join(broadcast(cohort),
            col("period") - col("age") === col("w0"))
          .selectExpr("CAST(period AS BIGINT) AS period",
            "CAST(age AS BIGINT) AS age",
            "CAST(n_events AS BIGINT) AS n_events",
            "CAST(cn AS BIGINT) AS cohort_n",
            "n_events * 1000000 div cn AS rate_e6")
      },
      Some("""WITH ev AS (SELECT user_id,
             |              epoch_us(ts) // 604800000000 AS wk FROM events),
             |f AS (SELECT user_id, min(wk) AS w0 FROM ev GROUP BY 1),
             |coh AS (SELECT w0, CAST(count(*) AS BIGINT) AS cn
             |        FROM f GROUP BY 1),
             |cell AS (SELECT e.wk AS period, e.wk - f.w0 AS age,
             |                CAST(count(*) AS BIGINT) AS n_events
             |         FROM ev e JOIN f ON e.user_id = f.user_id
             |         WHERE e.wk - f.w0 <= 7 GROUP BY 1, 2)
             |SELECT CAST(c.period AS BIGINT) AS period,
             |       CAST(c.age AS BIGINT) AS age, c.n_events,
             |       coh.cn AS cohort_n,
             |       c.n_events * 1000000 // coh.cn AS rate_e6
             |FROM cell c JOIN coh ON c.period - c.age = coh.w0"""
        .stripMargin)),

    /* Cox partial-likelihood SCORE test at β=0 (`q_cox_score`): does
     * order value predict time-to-completion? The Breslow-ties score
     * U = Σ_t (Σx_events,t − d_t·x̄_риск,t) and information V from
     * suffix moments over the distinct-duration axis — the log-rank
     * machinery (q_logrank) generalized to a CONTINUOUS covariate,
     * same one-aggregate-plus-bounded-axis-walk shape as kaplanMeier. */
    // ── Cox score at β=0, Breslow ties: duration = days to dataset
    //    end, event = order status F, covariate = hecto-dollars.
    //    Suffix (risk-set) moments ride ONE desc-cumulative window over
    //    the distinct-duration axis; means truncate identically in
    //    both engines. χ² = U²/V to 1e-3 via the div/mod split (no
    //    overflow: U ≤ 7.5e8 hecto at sf0.1 → U² ≤ 5.6e17).
    QueryDef("q_cox_score",
      (s, d) => {
        val base0 = Tables.orders(s, d).selectExpr(
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000 AS dday",
          "CASE WHEN o_orderstatus = 'F' THEN 1L ELSE 0L END AS ev",
          "CAST(floor(o_totalprice) AS BIGINT) div 100 AS x")
        val mx = base0.agg(max(col("dday")).as("mxd"))
        val base = base0.crossJoin(broadcast(mx))
          .selectExpr("mxd - dday AS t", "ev", "x")
        val grp = base.groupBy(col("t"))
          .agg(count(lit(1)).as("leave"), sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("sx2"),
            sum(col("ev")).as("d_t"),
            sum(col("ev") * col("x")).as("sxe"))
        // no checkpoint: single consumer, and the visible Aggregate is
        // what keeps the unpartitioned suffix window gate-legal
        val sfx = Window.orderBy(col("t").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grp
          .withColumn("n_r", sum(col("leave")).over(sfx))
          .withColumn("sx_r", sum(col("sx")).over(sfx))
          .withColumn("sx2_r", sum(col("sx2")).over(sfx))
          .filter(col("d_t") > 0)
          .withColumn("xbar", expr("sx_r div n_r"))
          .withColumn("u_t", expr("sxe - d_t * xbar"))
          .withColumn("v_t",
            expr("d_t * (sx2_r div n_r - xbar * xbar)"))
          .agg(sum(col("u_t")).as("u"), sum(col("v_t")).as("v"),
            count(lit(1)).as("n_event_times"))
          .selectExpr("CAST(n_event_times AS BIGINT) AS n_event_times",
            "u", "v",
            """(u * u div greatest(1L, v)) * 1000
              | + ((u * u) % greatest(1L, v)) * 1000 div greatest(1L, v)
              | AS chi2_e3""".stripMargin)
      },
      Some("""WITH base0 AS (
             |  SELECT epoch_us(o_orderdate) // 86400000000 AS dday,
             |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
             |           AS ev,
             |         CAST(floor(o_totalprice) AS BIGINT) // 100 AS x
             |  FROM orders),
             |mx AS (SELECT CAST(max(dday) AS BIGINT) AS mxd FROM base0),
             |base AS (SELECT mxd - dday AS t, ev, x
             |         FROM base0 CROSS JOIN mx),
             |grp AS (SELECT t, CAST(count(*) AS BIGINT) AS leave,
             |               CAST(sum(x) AS BIGINT) AS sx,
             |               CAST(sum(x * x) AS BIGINT) AS sx2,
             |               CAST(sum(ev) AS BIGINT) AS d_t,
             |               CAST(sum(ev * x) AS BIGINT) AS sxe
             |        FROM base GROUP BY t),
             |cum AS (SELECT *,
             |          CAST(sum(leave) OVER w AS BIGINT) AS n_r,
             |          CAST(sum(sx) OVER w AS BIGINT) AS sx_r,
             |          CAST(sum(sx2) OVER w AS BIGINT) AS sx2_r
             |        FROM grp
             |        WINDOW w AS (ORDER BY t DESC ROWS UNBOUNDED
             |          PRECEDING)),
             |terms AS (SELECT sxe - d_t * (sx_r // n_r) AS u_t,
             |                 d_t * (sx2_r // n_r
             |                   - (sx_r // n_r) * (sx_r // n_r)) AS v_t
             |          FROM cum WHERE d_t > 0)
             |SELECT CAST(count(*) AS BIGINT) AS n_event_times,
             |       CAST(sum(u_t) AS BIGINT) AS u,
             |       CAST(sum(v_t) AS BIGINT) AS v,
             |       (CAST(sum(u_t) AS BIGINT) * CAST(sum(u_t) AS BIGINT)
             |          // greatest(1, CAST(sum(v_t) AS BIGINT))) * 1000
             |       + ((CAST(sum(u_t) AS BIGINT) * CAST(sum(u_t) AS BIGINT))
             |          % greatest(1, CAST(sum(v_t) AS BIGINT))) * 1000
             |          // greatest(1, CAST(sum(v_t) AS BIGINT)) AS chi2_e3
             |FROM terms""".stripMargin)),

    /* Harrell's C (`q_harrell_c`): concordance of the spend score with
     * churn order — THE discrimination read for q_cox_score's model.
     * Exact pair counting without an n² join: the score is banded
     * (hecto-dollars ÷100 → a bounded axis), so comparable pairs
     * decompose over the (duration × band) grid — an EXCLUSIVE suffix
     * window per band over time ("at risk strictly later") and a
     * band-prefix window within each time slice. Ties in score count
     * half, the Harrell convention; ×2 algebra keeps it integer. */
    // ── Harrell's C over the (duration × score-band) grid.
    QueryDef("q_harrell_c",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base0 = Tables.orders(s, d).selectExpr(
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000" +
            " AS dday",
          "CASE WHEN o_orderstatus = 'F' THEN 1L ELSE 0L END AS ev",
          "CAST(floor(o_totalprice) AS BIGINT) div 10000 AS band")
        val mx = base0.agg(max(col("dday")).as("mxd"))
        val grid = base0.crossJoin(broadcast(mx))
          .selectExpr("mxd - dday AS t", "band", "ev")
          .groupBy(col("t"), col("band"))
          .agg(count(lit(1)).as("n"), sum(col("ev")).as("dd"))
        val later = Window.partitionBy(col("band"))
          .orderBy(col("t").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val withLater = grid
          .withColumn("later_b", sum(col("n")).over(later))
        val inT = Window.partitionBy(col("t")).orderBy(col("band"))
        withLater
          .withColumn("lb", coalesce(col("later_b"), lit(0L)))
          .withColumn("cum_leq",
            sum(col("lb")).over(inT
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("cum_less",
            coalesce(sum(col("lb")).over(inT
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("tot_later",
            sum(col("lb")).over(Window.partitionBy(col("t"))))
          // higher band (spend) scoring = predicted EARLIER event:
          // concordant when the later-at-risk subject has a LOWER band
          .agg(sum(expr("dd * cum_less")).as("conc"),
            sum(expr("dd * (tot_later - cum_leq)")).as("disc"),
            sum(expr("dd * (cum_leq - cum_less)")).as("ties"))
          .selectExpr("conc", "disc", "ties",
            """CASE WHEN conc + disc + ties = 0 THEN NULL
              |ELSE (2 * conc + ties) * 1000000
              |  div (2 * (conc + disc + ties)) END AS c_index_e6"""
              .stripMargin)
      },
      Some("""WITH base0 AS (
             |  SELECT epoch_us(o_orderdate) // 86400000000 AS dday,
             |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
             |           AS ev,
             |         CAST(floor(o_totalprice) AS BIGINT) // 10000
             |           AS band
             |  FROM orders),
             |mx AS (SELECT max(dday) AS mxd FROM base0),
             |grid AS (SELECT mxd - dday AS t, band,
             |                CAST(count(*) AS BIGINT) AS n,
             |                CAST(sum(ev) AS BIGINT) AS dd
             |         FROM base0 CROSS JOIN mx GROUP BY 1, 2),
             |wl AS (SELECT t, band, n, dd,
             |         coalesce(CAST(sum(n) OVER (PARTITION BY band
             |           ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
             |           AND 1 PRECEDING) AS BIGINT), 0) AS lb
             |       FROM grid),
             |cw AS (SELECT t, band, dd,
             |         CAST(sum(lb) OVER (PARTITION BY t ORDER BY band
             |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_leq,
             |         coalesce(CAST(sum(lb) OVER (PARTITION BY t
             |           ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
             |           AND 1 PRECEDING) AS BIGINT), 0) AS cum_less,
             |         CAST(sum(lb) OVER (PARTITION BY t) AS BIGINT)
             |           AS tot_later
             |       FROM wl),
             |agg AS (SELECT CAST(sum(dd * cum_less) AS BIGINT) AS conc,
             |               CAST(sum(dd * (tot_later - cum_leq))
             |                 AS BIGINT) AS disc,
             |               CAST(sum(dd * (cum_leq - cum_less))
             |                 AS BIGINT) AS ties
             |        FROM cw)
             |SELECT conc, disc, ties,
             |       CASE WHEN conc + disc + ties = 0 THEN NULL
             |       ELSE (2 * conc + ties) * 1000000
             |         // (2 * (conc + disc + ties)) END AS c_index_e6
             |FROM agg""".stripMargin)),

    /* C-index band sweep (`q_harrell_band_sweep`): q_harrell_c at
     * three score-band widths in ONE query — the band width is the
     * approximation knob (finer bands = fewer score ties = higher
     * resolution, more grid cells); the sweep turns the single number
     * into an accuracy-vs-cost curve, q_ivf_nprobe_curve-style. One
     * scan; the three grids share it via a width×row explode. */
    // ── Harrell's C at band widths 100/10000/40000 cents.
    QueryDef("q_harrell_band_sweep",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base0 = Tables.orders(s, d).selectExpr(
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000" +
            " AS dday",
          "CASE WHEN o_orderstatus = 'F' THEN 1L ELSE 0L END AS ev",
          "CAST(floor(o_totalprice) AS BIGINT) AS p")
        val mx = base0.agg(max(col("dday")).as("mxd"))
        val ws = s.range(0, 3).select(
          expr("element_at(array(100L, 10000L, 40000L)," +
            " CAST(id + 1 AS INT))").as("w"))
        val grid = base0.crossJoin(broadcast(mx))
          .crossJoin(broadcast(ws))
          .selectExpr("w", "mxd - dday AS t", "p div w AS band", "ev")
          .groupBy(col("w"), col("t"), col("band"))
          .agg(count(lit(1)).as("n"), sum(col("ev")).as("dd"))
        val later = Window.partitionBy(col("w"), col("band"))
          .orderBy(col("t").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val inT = Window.partitionBy(col("w"), col("t"))
          .orderBy(col("band"))
        grid
          .withColumn("lb",
            coalesce(sum(col("n")).over(later), lit(0L)))
          .withColumn("cum_leq", sum(col("lb")).over(inT
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("cum_less", coalesce(sum(col("lb")).over(inT
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("tot_later", sum(col("lb")).over(
            Window.partitionBy(col("w"), col("t"))))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("grid_cells"),
            sum(expr("dd * cum_less")).as("conc"),
            sum(expr("dd * (tot_later - cum_leq)")).as("disc"),
            sum(expr("dd * (cum_leq - cum_less)")).as("ties"))
          .selectExpr("w AS band_width_cents_e2", "grid_cells",
            "conc", "disc", "ties",
            """CASE WHEN conc + disc + ties = 0 THEN NULL
              |ELSE (2 * conc + ties) * 1000000
              |  div (2 * (conc + disc + ties)) END AS c_index_e6"""
              .stripMargin)
      },
      Some("""WITH base0 AS (
             |  SELECT epoch_us(o_orderdate) // 86400000000 AS dday,
             |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
             |           AS ev,
             |         CAST(floor(o_totalprice) AS BIGINT) AS p
             |  FROM orders),
             |mx AS (SELECT max(dday) AS mxd FROM base0),
             |grid AS (SELECT w, mxd - dday AS t, p // w AS band,
             |                CAST(count(*) AS BIGINT) AS n,
             |                CAST(sum(ev) AS BIGINT) AS dd
             |         FROM base0 CROSS JOIN mx
             |         CROSS JOIN (VALUES (CAST(100 AS BIGINT)),
             |           (CAST(10000 AS BIGINT)),
             |           (CAST(40000 AS BIGINT))) ws(w)
             |         GROUP BY 1, 2, 3),
             |wl AS (SELECT w, t, band, n, dd,
             |         coalesce(CAST(sum(n) OVER (PARTITION BY w, band
             |           ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
             |           AND 1 PRECEDING) AS BIGINT), 0) AS lb
             |       FROM grid),
             |cw AS (SELECT w, t, band, dd,
             |         CAST(sum(lb) OVER (PARTITION BY w, t ORDER BY band
             |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_leq,
             |         coalesce(CAST(sum(lb) OVER (PARTITION BY w, t
             |           ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
             |           AND 1 PRECEDING) AS BIGINT), 0) AS cum_less,
             |         CAST(sum(lb) OVER (PARTITION BY w, t) AS BIGINT)
             |           AS tot_later
             |       FROM wl),
             |agg AS (SELECT w, CAST(count(*) AS BIGINT) AS grid_cells,
             |          CAST(sum(dd * cum_less) AS BIGINT) AS conc,
             |          CAST(sum(dd * (tot_later - cum_leq)) AS BIGINT)
             |            AS disc,
             |          CAST(sum(dd * (cum_leq - cum_less)) AS BIGINT)
             |            AS ties
             |        FROM cw GROUP BY 1)
             |SELECT w AS band_width_cents_e2, grid_cells, conc, disc,
             |       ties,
             |       CASE WHEN conc + disc + ties = 0 THEN NULL
             |       ELSE (2 * conc + ties) * 1000000
             |         // (2 * (conc + disc + ties)) END AS c_index_e6
             |FROM agg""".stripMargin))
  )
}
