package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Pareto, TimeSeries}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Supply-chain and operations research: inventory policy, lot sizing,
  * service levels, lead times, queues, ABC classes, and supply-base risk. */
object SupplyChainQueries extends QueryCatalog {

  import Fixtures._

  def defs: Seq[QueryDef] = Seq(

    // ── Clamp-at-zero inventory balance per supplier bucket: returns
    //    deplete, other lines restock; the fold also counts stockouts.
    QueryDef("q_clamped_balance",
      (s, d) => TimeSeries.clampedBalance(
        Tables.lineitem(s, d).select(
          (col("l_suppkey") % 50).as("k"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("t"),
          (col("l_orderkey") * 8 + col("l_linenumber")).as("tie"),
          (col("l_quantity").cast("long") *
            when(col("l_returnflag") === "R", -1L).otherwise(1L)).as("d")),
        "k", "t", "tie", "d"),
      // Lindley reflection: W_n = S_n − min(0, min_{k≤n} S_k) turns the
      // clamp recursion into plain cumulative windows on both sides.
      Some("""WITH b AS (SELECT l_suppkey % 50 AS k,
             |                  epoch_us(l_shipdate) AS t,
             |                  l_orderkey * 8 + l_linenumber AS tie,
             |                  CAST(l_quantity AS BIGINT) *
             |                    (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) AS d
             |           FROM lineitem),
             |r AS (SELECT k, t, tie, d,
             |             sum(d) OVER (PARTITION BY k ORDER BY t, tie
             |                          ROWS UNBOUNDED PRECEDING) AS run
             |      FROM b),
             |m AS (SELECT k, d, run,
             |             least(0, coalesce(min(run) OVER (PARTITION BY k ORDER BY t, tie
             |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS floor_prev,
             |             run - least(0, min(run) OVER (PARTITION BY k ORDER BY t, tie
             |                        ROWS UNBOUNDED PRECEDING)) AS bal
             |      FROM r)
             |SELECT k AS key,
             |       CAST(sum(d) - least(0, min(run)) AS BIGINT) AS balance,
             |       CAST(max(bal) AS BIGINT) AS peak,
             |       CAST(sum(CASE WHEN run < floor_prev THEN 1 ELSE 0 END) AS BIGINT) AS n_clamps,
             |       CAST(count(*) AS BIGINT) AS n_moves
             |FROM m GROUP BY k""".stripMargin)),

    // ── Order-lifecycle latency: per priority, line-level ship delays
    //    from order date — the accumulating-snapshot fact rollup.
    QueryDef("q_order_lifecycle",
      (s, d) => Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          expr("""(unix_micros(CAST(l_shipdate AS TIMESTAMP))
                 | - unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000L"""
            .stripMargin).as("delay_days"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n_lines"),
          expr("sum(delay_days) * 100 div count(*)").as("avg_delay_days_e2"),
          min(col("delay_days")).as("min_days"),
          max(col("delay_days")).as("max_days")),
      Some("""SELECT o_orderpriority AS priority,
             |       CAST(count(*) AS BIGINT) AS n_lines,
             |       CAST(sum((epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000) * 100
             |            // count(*) AS BIGINT) AS avg_delay_days_e2,
             |       CAST(min((epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000) AS BIGINT) AS min_days,
             |       CAST(max((epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000) AS BIGINT) AS max_days
             |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |GROUP BY 1""".stripMargin)),

    /* ABC/Pareto revenue classification via the banded
     * distributed prefix sum (no global window). */

    // ── ABC classes of parts by lineitem revenue: A while the exclusive
    //    cumulative share < 80%, B < 95%, else C.
    QueryDef("q_abc_pareto",
      (s, d) => Pareto.abcClasses(
        Tables.lineitem(s, d)
          .groupBy(col("l_partkey"))
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("cents")),
        "l_partkey", "cents"),
      Some("""WITH rev AS (
             |  SELECT l_partkey AS id,
             |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |                       AS BIGINT)) AS BIGINT) AS v
             |  FROM lineitem GROUP BY 1),
             |tot AS (SELECT CAST(sum(v) AS BIGINT) AS t FROM rev),
             |c AS (
             |  SELECT id, v,
             |         CAST(sum(v) OVER (ORDER BY v DESC, id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |           - v AS BIGINT) AS cum_excl
             |  FROM rev)
             |SELECT CASE WHEN cum_excl * 100 < 80 * t THEN 'A'
             |            WHEN cum_excl * 100 < 95 * t THEN 'B'
             |            ELSE 'C' END AS cls,
             |       CAST(count(*) AS BIGINT) AS n_items,
             |       CAST(sum(v) AS BIGINT) AS rev_cents,
             |       CAST((CAST(sum(v) AS HUGEINT) * 1000000) // max(t)
             |         AS BIGINT) AS share_e6
             |FROM c CROSS JOIN tot
             |GROUP BY 1""".stripMargin)),

    // ── FIFO inventory matching per supplier bucket: returns (R lines)
    //    consume restocks oldest-first. Both sides map onto a CUMULATIVE
    //    QUANTITY axis (restock r covers [cum−qty, cum) of supply,
    //    depletion d covers the same span of demand) so FIFO matching =
    //    interval overlap on that axis — a JOIN, not a sequential scan.
    //    Pair search is bucket-blocked (width 64 ≥ max qty ⇒ ≤ 2 buckets
    //    per interval; dedupe by canonical overlap-start bucket). Age is
    //    in days (no division until the final sign-factored average).
    QueryDef("q_fifo_matching",
      (s, d) => {
        val base = Tables.lineitem(s, d).select(
            (col("l_suppkey") % 50).as("k"),
            expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("t"),
            (col("l_orderkey") * 8 + col("l_linenumber")).as("tie"),
            col("l_quantity").cast("long").as("qty"),
            (col("l_returnflag") === "R").as("isdep"))
          .localCheckpoint(false) // one scan feeds both classes
        val wk = Window.partitionBy(col("k")).orderBy(col("t"), col("tie"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sup = base.filter(!col("isdep"))
          .withColumn("s_end", sum(col("qty")).over(wk))
          .select(col("k"), (col("s_end") - col("qty")).as("s_start"),
            col("s_end"), expr("t div 86400000000").as("s_day"))
        val dep = base.filter(col("isdep"))
          .withColumn("d_end", sum(col("qty")).over(wk))
          .select(col("k"), (col("d_end") - col("qty")).as("d_start"),
            col("d_end"), expr("t div 86400000000").as("d_day"))
        val supB = sup.withColumn("bkt",
          explode(expr("sequence(s_start div 64, (s_end - 1) div 64)")))
        val depB = dep.withColumn("bkt",
          explode(expr("sequence(d_start div 64, (d_end - 1) div 64)")))
        val matched = supB.join(depB, Seq("k", "bkt"))
          .filter(expr("least(s_end, d_end) > greatest(s_start, d_start)")
            && expr("bkt = greatest(s_start, d_start) div 64"))
          .select(col("k"),
            expr("least(s_end, d_end) - greatest(s_start, d_start)")
              .as("mq"),
            (col("d_day") - col("s_day")).as("age_days"))
          .groupBy(col("k"))
          .agg(count(lit(1)).as("n_matches"), sum(col("mq")).as("matched_qty"),
            sum(col("mq") * col("age_days")).as("qty_age_days"))
        val depTot = dep.groupBy(col("k"))
          .agg(sum(col("d_end") - col("d_start")).as("dep_qty"))
        depTot.join(matched, Seq("k"), "left")
          .select(col("k"), col("dep_qty"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            coalesce(col("matched_qty"), lit(0L)).as("matched_qty"),
            (col("dep_qty") - coalesce(col("matched_qty"), lit(0L)))
              .as("unmatched_qty"),
            expr("""CASE WHEN coalesce(matched_qty, 0) = 0 THEN 0
                   |WHEN coalesce(qty_age_days, 0) >= 0
                   |THEN qty_age_days * 100 div matched_qty
                   |ELSE -((-qty_age_days) * 100 div matched_qty)
                   |END""".stripMargin).as("avg_age_days_e2"))
      },
      Some("""WITH base AS (
             |  SELECT l_suppkey % 50 AS k, epoch_us(l_shipdate) AS t,
             |         l_orderkey * 8 + l_linenumber AS tie,
             |         CAST(l_quantity AS BIGINT) AS qty,
             |         l_returnflag = 'R' AS isdep
             |  FROM lineitem),
             |sup AS (
             |  SELECT k, s_end - qty AS s_start, s_end,
             |         t // 86400000000 AS s_day
             |  FROM (SELECT k, t, qty,
             |          CAST(sum(qty) OVER (PARTITION BY k ORDER BY t, tie
             |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_end
             |        FROM base WHERE NOT isdep) s),
             |dep AS (
             |  SELECT k, d_end - qty AS d_start, d_end,
             |         t // 86400000000 AS d_day
             |  FROM (SELECT k, t, qty,
             |          CAST(sum(qty) OVER (PARTITION BY k ORDER BY t, tie
             |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS d_end
             |        FROM base WHERE isdep) s),
             |supb AS (SELECT *, unnest(range(s_start // 64,
             |                               (s_end - 1) // 64 + 1)) AS bkt
             |         FROM sup),
             |depb AS (SELECT *, unnest(range(d_start // 64,
             |                               (d_end - 1) // 64 + 1)) AS bkt
             |         FROM dep),
             |mt AS (
             |  SELECT s.k,
             |         least(s.s_end, d.d_end)
             |           - greatest(s.s_start, d.d_start) AS mq,
             |         d.d_day - s.s_day AS age_days
             |  FROM supb s JOIN depb d ON s.k = d.k AND s.bkt = d.bkt
             |  WHERE least(s.s_end, d.d_end) > greatest(s.s_start, d.d_start)
             |    AND s.bkt = greatest(s.s_start, d.d_start) // 64),
             |mg AS (
             |  SELECT k, count(*) AS n_matches, sum(mq) AS matched_qty,
             |         sum(mq * age_days) AS qty_age_days
             |  FROM mt GROUP BY 1),
             |dt AS (SELECT k, sum(d_end - d_start) AS dep_qty
             |       FROM dep GROUP BY 1)
             |SELECT dt.k, CAST(dep_qty AS BIGINT) AS dep_qty,
             |       CAST(coalesce(n_matches, 0) AS BIGINT) AS n_matches,
             |       CAST(coalesce(matched_qty, 0) AS BIGINT) AS matched_qty,
             |       CAST(dep_qty - coalesce(matched_qty, 0) AS BIGINT)
             |         AS unmatched_qty,
             |       CAST(CASE WHEN coalesce(matched_qty, 0) = 0 THEN 0
             |            WHEN coalesce(qty_age_days, 0) >= 0
             |            THEN qty_age_days * 100 // matched_qty
             |            ELSE -((-qty_age_days) * 100 // matched_qty)
             |            END AS BIGINT) AS avg_age_days_e2
             |FROM dt LEFT JOIN mg ON dt.k = mg.k""".stripMargin)),

    // ── Newsvendor: cu=3, co=1 → critical fractile 3/4; per brand the
    //    positional q* of daily demand and the exact integer cost at q*.
    QueryDef("q_newsvendor",
      (s, d) => {
        val daily = Tables.lineitem(s, d)
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("g"),
            expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
              " div 86400000000").as("day"),
            floor(col("l_quantity") + 0.5).cast("long").as("q"))
          .groupBy(col("g"), col("day")).agg(sum(col("q")).as("demand"))
          .localCheckpoint(false) // reused: quantile pick + cost eval
        val qstar = daily
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("g"))
              .orderBy(col("demand"), col("day"))))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("g"))))
          .where(col("rn") === expr("(3 * n + 3) div 4"))
          .select(col("g"), col("n").as("n_days"),
            col("demand").as("q_star"))
        daily.join(broadcast(qstar), "g")
          .groupBy(col("g"), col("n_days"), col("q_star"))
          .agg(sum(greatest(col("demand") - col("q_star"), lit(0L)) * 3L)
            .as("underage_cost"),
            sum(greatest(col("q_star") - col("demand"), lit(0L)) * 1L)
              .as("overage_cost"))
          .withColumn("total_cost",
            col("underage_cost") + col("overage_cost"))
      },
      Some("""WITH daily AS (
             |  SELECT p_brand AS g,
             |         epoch_us(l_shipdate) // 86400000000 AS day,
             |         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
             |           AS BIGINT) AS demand
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1, 2),
             |qstar AS (SELECT g, n AS n_days, demand AS q_star FROM (
             |            SELECT *, row_number() OVER (PARTITION BY g
             |              ORDER BY demand, day) AS rn,
             |              CAST(count(*) OVER (PARTITION BY g) AS BIGINT)
             |                AS n
             |            FROM daily)
             |          WHERE rn = (3 * n + 3) // 4)
             |SELECT daily.g, n_days, q_star,
             |       CAST(sum(greatest(demand - q_star, 0) * 3) AS BIGINT)
             |         AS underage_cost,
             |       CAST(sum(greatest(q_star - demand, 0) * 1) AS BIGINT)
             |         AS overage_cost,
             |       CAST(sum(greatest(demand - q_star, 0) * 3)
             |            + sum(greatest(q_star - demand, 0) * 1) AS BIGINT)
             |         AS total_cost
             |FROM daily JOIN qstar ON daily.g = qstar.g
             |GROUP BY 1, 2, 3""".stripMargin)),

    // ── SLA attainment: orders shipped (first lineitem ship) within
    //    30/60 days, by priority; plus the positional p90 ship lag.
    QueryDef("q_sla_attainment",
      (s, d) => {
        val ship = Tables.lineitem(s, d).groupBy(col("l_orderkey"))
          .agg(min(expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"))
            .as("ship_day"))
        val lags = Tables.orders(s, d)
          .join(ship, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderpriority").as("pri"),
            col("o_orderkey").as("ok"),
            (col("ship_day") -
              expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))" +
                " div 86400000000")).as("lag_d"))
          .localCheckpoint(false) // reused: p90 pick + attainment rollup
        val w = Window.partitionBy(col("pri"))
        val p90 = lags
          .withColumn("rn", row_number().over(
            w.orderBy(col("lag_d"), col("ok"))))
          .withColumn("n", count(lit(1)).over(w))
          .where(col("rn") === expr("(9 * n + 9) div 10"))
          .select(col("pri"), col("lag_d").as("p90_lag_d"))
        lags.join(broadcast(p90), "pri")
          .groupBy(col("pri"), col("p90_lag_d"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("lag_d") <= 30, 1L).otherwise(0L)).as("in_30d"),
            sum(when(col("lag_d") <= 60, 1L).otherwise(0L)).as("in_60d"))
          .selectExpr("pri", "n_orders", "p90_lag_d",
            "in_30d * 1000000 div n_orders AS sla30_e6",
            "in_60d * 1000000 div n_orders AS sla60_e6")
      },
      Some("""WITH ship AS (SELECT l_orderkey,
             |                CAST(min(epoch_us(l_shipdate) // 86400000000)
             |                  AS BIGINT) AS ship_day
             |              FROM lineitem GROUP BY 1),
             |lags AS (SELECT o_orderpriority AS pri, o_orderkey AS ok,
             |                ship_day - epoch_us(o_orderdate)
             |                  // 86400000000 AS lag_d
             |         FROM orders JOIN ship ON o_orderkey = l_orderkey),
             |p90 AS (SELECT pri, lag_d AS p90_lag_d FROM (
             |          SELECT pri, lag_d, ok,
             |                 row_number() OVER (PARTITION BY pri
             |                   ORDER BY lag_d, ok) AS rn,
             |                 CAST(count(*) OVER (PARTITION BY pri)
             |                   AS BIGINT) AS n
             |          FROM lags)
             |        WHERE rn = (9 * n + 9) // 10)
             |SELECT lags.pri, CAST(count(*) AS BIGINT) AS n_orders,
             |       p90_lag_d,
             |       CAST(sum(CASE WHEN lag_d <= 30 THEN 1 ELSE 0 END)
             |         AS BIGINT) * 1000000 // count(*) AS sla30_e6,
             |       CAST(sum(CASE WHEN lag_d <= 60 THEN 1 ELSE 0 END)
             |         AS BIGINT) * 1000000 // count(*) AS sla60_e6
             |FROM lags JOIN p90 ON lags.pri = p90.pri
             |GROUP BY 1, 3""".stripMargin)),

    // ── ABC–XYZ: brands classified by cumulative revenue share
    //    (A<70%≤B<90%≤C) × daily-demand VMR (X<1≤Y<5≤Z), exact e6.
    QueryDef("q_abc_xyz",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("g"),
            expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
              " div 86400000000").as("day"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("v"),
            floor(col("l_quantity") + 0.5).cast("long").as("q"))
          .localCheckpoint(false) // revenue rollup + daily variability
        val rev = li.groupBy(col("g")).agg(sum(col("v")).as("rev"))
          .withColumn("cum", sum(col("rev")).over(
            Window.orderBy(col("rev").desc, col("g"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("tot", sum(col("rev")).over(Window.partitionBy()))
          .withColumn("abc", expr(
            """CASE WHEN (cum - rev) * 10 < tot * 7 THEN 'A'
              |     WHEN (cum - rev) * 10 < tot * 9 THEN 'B'
              |     ELSE 'C' END""".stripMargin))
        val xyz = li.groupBy(col("g"), col("day"))
          .agg(sum(col("q")).as("x"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("nd"), sum(col("x")).as("s"),
            sum(col("x") * col("x")).as("qq"))
          .withColumn("vmr_e6", expr(
            "(nd * qq - s * s) * 1000000 div (nd * s)"))
          .withColumn("xyz", expr(
            """CASE WHEN vmr_e6 < 1000000 THEN 'X'
              |     WHEN vmr_e6 < 5000000 THEN 'Y'
              |     ELSE 'Z' END""".stripMargin))
        rev.join(xyz, "g")
          .groupBy(col("abc"), col("xyz"))
          .agg(count(lit(1)).as("n_brands"), sum(col("rev")).as("rev_cents"))
      },
      Some("""WITH li AS (
             |  SELECT p_brand AS g,
             |         epoch_us(l_shipdate) // 86400000000 AS day,
             |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             |           AS v,
             |         CAST(floor(l_quantity + 0.5) AS BIGINT) AS q
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |rev AS (SELECT g, CAST(sum(v) AS BIGINT) AS rev
             |        FROM li GROUP BY 1),
             |r2 AS (SELECT g, rev,
             |              CAST(sum(rev) OVER (ORDER BY rev DESC, g
             |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             |              CAST(sum(rev) OVER () AS BIGINT) AS tot
             |       FROM rev),
             |r3 AS (SELECT g, rev,
             |              CASE WHEN (cum - rev) * 10 < tot * 7 THEN 'A'
             |                   WHEN (cum - rev) * 10 < tot * 9 THEN 'B'
             |                   ELSE 'C' END AS abc
             |       FROM r2),
             |dd AS (SELECT g, day, CAST(sum(q) AS BIGINT) AS x
             |       FROM li GROUP BY 1, 2),
             |mo AS (SELECT g, CAST(count(*) AS BIGINT) AS nd,
             |              CAST(sum(x) AS BIGINT) AS s,
             |              CAST(sum(x * x) AS BIGINT) AS qq
             |       FROM dd GROUP BY 1),
             |x3 AS (SELECT g,
             |              CASE WHEN (nd * qq - s * s) * 1000000
             |                        // (nd * s) < 1000000 THEN 'X'
             |                   WHEN (nd * qq - s * s) * 1000000
             |                        // (nd * s) < 5000000 THEN 'Y'
             |                   ELSE 'Z' END AS xyz
             |       FROM mo)
             |SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_brands,
             |       CAST(sum(rev) AS BIGINT) AS rev_cents
             |FROM r3 JOIN x3 ON r3.g = x3.g
             |GROUP BY 1, 2""".stripMargin)),

    // ── Economic order quantity per part brand: with annual demand D
    //    (summed line quantities), fixed order cost K = 100 and unit
    //    holding cost h = 4, EOQ = √(2DK/h) = √(50·D) — one
    //    correctly-rounded IEEE sqrt of an exact long, floored to whole
    //    units in both engines. Reorder point assumes a 7-day lead on
    //    the 365-day year. One lineitem⋈part rollup, 25-brand axis.
    QueryDef("q_eoq",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity").cast("long")).as("demand"))
        .selectExpr("p_brand", "CAST(demand AS BIGINT) AS demand",
          """CAST(floor(sqrt(CAST(50 * demand AS DOUBLE))) AS BIGINT)
            |  AS eoq""".stripMargin,
          """demand div greatest(CAST(floor(sqrt(CAST(50 * demand
            |  AS DOUBLE))) AS BIGINT), 1) AS n_orders""".stripMargin,
          "demand * 7 div 365 AS reorder_point"),
      Some("""WITH b AS (SELECT p_brand,
             |                  CAST(sum(CAST(l_quantity AS BIGINT))
             |                    AS BIGINT) AS demand
             |           FROM lineitem
             |           JOIN part ON l_partkey = p_partkey
             |           GROUP BY 1)
             |SELECT p_brand, demand,
             |       CAST(floor(sqrt(CAST(50 * demand AS DOUBLE)))
             |         AS BIGINT) AS eoq,
             |       demand // greatest(CAST(floor(sqrt(CAST(50 * demand
             |         AS DOUBLE))) AS BIGINT), 1) AS n_orders,
             |       demand * 7 // 365 AS reorder_point
             |FROM b""".stripMargin)),

    // ── ABC migration: revenue class (A = top 20% of parts by revenue
    //    rank, B = next 30%, C = rest) in 1996 vs 1997, per-part, and
    //    the 3×3 transition matrix with revenue carried. Classes come
    //    from deterministic revenue-rank cutoffs (rank·5 ≤ n → A,
    //    rank·10 ≤ 5n → B) — pure integer tests on the part axis.
    QueryDef("q_abc_migration",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .filter(expr("year(l_shipdate) IN (1996, 1997)"))
          .groupBy(col("l_partkey"), expr("year(l_shipdate)").as("yr"))
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5)
            .cast("long")).as("r"))
          .localCheckpoint(false) // both year legs rank independently
        def classed(yr: Int) = rev.filter(col("yr") === yr)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("r").desc, col("l_partkey"))).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
          .select(col("l_partkey"), col("r"),
            when(col("rk") * 5 <= col("n"), "A")
              .when(col("rk") * 2 <= col("n"), "B")
              .otherwise("C").as("cls"))
        classed(1996).as("a")
          .join(classed(1997).as("b"), "l_partkey")
          .groupBy(col("a.cls").as("cls_1996"), col("b.cls").as("cls_1997"))
          .agg(count(lit(1)).as("n_parts"),
            sum(col("b.r")).as("rev_1997_cents"))
          .selectExpr("cls_1996", "cls_1997",
            "CAST(n_parts AS BIGINT) AS n_parts",
            "CAST(rev_1997_cents AS BIGINT) AS rev_1997_cents")
      },
      Some("""WITH rev AS (SELECT l_partkey, year(l_shipdate) AS yr,
             |                  CAST(sum(CAST(floor(l_extendedprice * 100
             |                    + 0.5) AS BIGINT)) AS BIGINT) AS r
             |           FROM lineitem
             |           WHERE year(l_shipdate) IN (1996, 1997)
             |           GROUP BY 1, 2),
             |cl AS (SELECT l_partkey, yr, r,
             |              CASE WHEN rk * 5 <= n THEN 'A'
             |                   WHEN rk * 2 <= n THEN 'B'
             |                   ELSE 'C' END AS cls
             |       FROM (SELECT *,
             |               CAST(row_number() OVER (PARTITION BY yr
             |                 ORDER BY r DESC, l_partkey) AS BIGINT) AS rk,
             |               CAST(count(*) OVER (PARTITION BY yr)
             |                 AS BIGINT) AS n
             |             FROM rev))
             |SELECT a.cls AS cls_1996, b.cls AS cls_1997,
             |       CAST(count(*) AS BIGINT) AS n_parts,
             |       CAST(sum(b.r) AS BIGINT) AS rev_1997_cents
             |FROM (SELECT * FROM cl WHERE yr = 1996) a
             |JOIN (SELECT * FROM cl WHERE yr = 1997) b
             |  ON a.l_partkey = b.l_partkey
             |GROUP BY 1, 2""".stripMargin)),

    /* Supply-chain service metrics over order→ship lead
     * times (ship lag = whole days between o_orderdate and l_shipdate; 90
     * days is the service cutoff throughout) — quantity fill rate per
     * brand (the service-level read beside q_sla_attainment's latency
     * SLA), supplier lead-time reliability (exact integer variance of lead
     * days — the vendor-scorecard ranking), and OTIF by order priority
     * (all-lines-on-time-in-full, the order-grain conjunction a
     * line-grain rate hides). Lead days are integer divs; every share is
     * an exact e6. */

    // ── Fill rate per brand: on-time (≤90-day) quantity share, e6.
    //    ONE lineitem×orders join (order side projected to the key +
    //    date), part dim broadcast; one brand rollup on the bounded
    //    brand axis.
    QueryDef("q_fill_rate",
      (s, d) => {
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"), col("l_quantity").cast("long").as("q"),
            expr("""(unix_micros(CAST(l_shipdate AS TIMESTAMP))
                   | - unix_micros(CAST(o_orderdate AS TIMESTAMP)))
                   |div 86400000000""".stripMargin).as("lead_days"))
          .groupBy(col("p_brand"))
          .agg(sum(col("q")).as("q_total"),
            sum(when(col("lead_days") <= 90, col("q")).otherwise(0L))
              .as("q_on_time"),
            count(lit(1)).as("n_lines"))
          .selectExpr("p_brand", "CAST(n_lines AS BIGINT) AS n_lines",
            "CAST(q_total AS BIGINT) AS q_total",
            "CAST(q_on_time AS BIGINT) AS q_on_time",
            "q_on_time * 1000000 div q_total AS fill_e6")
      },
      Some("""WITH t AS (
             |  SELECT p.p_brand, CAST(l.l_quantity AS BIGINT) AS q,
             |         (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
             |           // 86400000000 AS lead_days
             |  FROM lineitem l
             |  JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  JOIN part p ON l.l_partkey = p.p_partkey)
             |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
             |       CAST(sum(q) AS BIGINT) AS q_total,
             |       CAST(sum(CASE WHEN lead_days <= 90 THEN q ELSE 0
             |         END) AS BIGINT) AS q_on_time,
             |       CAST(sum(CASE WHEN lead_days <= 90 THEN q ELSE 0
             |         END) AS BIGINT) * 1000000
             |         // CAST(sum(q) AS BIGINT) AS fill_e6
             |FROM t GROUP BY 1""".stripMargin)),

    // ── Lead-time reliability: the 10 most variable suppliers by the
    //    exact population variance of lead days, e4 via the integer
    //    moment identity (n·Σd² − (Σd)²)·1e4 div n². Lead days ≤ ~200,
    //    so Σd² stays far inside int64 at any SF.
    QueryDef("q_lead_time_reliability",
      (s, d) => {
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey"),
            expr("""(unix_micros(CAST(l_shipdate AS TIMESTAMP))
                   | - unix_micros(CAST(o_orderdate AS TIMESTAMP)))
                   |div 86400000000""".stripMargin).as("dd"))
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n"), sum(col("dd")).as("sd"),
            sum(expr("dd * dd")).as("sdd"))
          .filter(col("n") >= 20)
          .withColumn("var_e4",
            expr("(n * sdd - sd * sd) * 10000 div (n * n)"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("var_e4").desc, col("l_suppkey"))))
          .filter(col("rk") <= 10)
          .selectExpr("l_suppkey AS suppkey", "CAST(n AS BIGINT) AS n",
            "sd div n AS mean_days", "var_e4",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH t AS (
             |  SELECT l_suppkey,
             |         (epoch_us(l_shipdate) - epoch_us(o_orderdate))
             |           // 86400000000 AS dd
             |  FROM lineitem l JOIN orders o
             |    ON l.l_orderkey = o.o_orderkey),
             |m AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(dd) AS BIGINT) AS sd,
             |             CAST(sum(dd * dd) AS BIGINT) AS sdd
             |      FROM t GROUP BY 1 HAVING count(*) >= 20)
             |SELECT l_suppkey AS suppkey, n, sd // n AS mean_days,
             |       var_e4, rk
             |FROM (SELECT *,
             |             (n * sdd - sd * sd) * 10000 // (n * n)
             |               AS var_e4,
             |             CAST(row_number() OVER (ORDER BY
             |               (n * sdd - sd * sd) * 10000 // (n * n) DESC,
             |               l_suppkey) AS BIGINT) AS rk
             |      FROM m)
             |WHERE rk <= 10""".stripMargin)),

    // ── OTIF by priority: an order counts only if EVERY line shipped
    //    within 90 days (max lead ≤ 90 — the conjunction as ONE keyed
    //    aggregate, no per-line EXISTS). Order rollup then the bounded
    //    priority axis.
    QueryDef("q_otif",
      (s, d) => {
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_orderdate"),
              col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderpriority"))
          .agg(max(expr("""(unix_micros(CAST(l_shipdate AS TIMESTAMP))
                          | - unix_micros(CAST(o_orderdate AS TIMESTAMP)))
                          |div 86400000000""".stripMargin)).as("max_lead"),
            count(lit(1)).as("n_lines"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("max_lead") <= 90, 1L).otherwise(0L))
              .as("n_otif"),
            sum(col("n_lines")).as("n_lines"))
          .selectExpr("o_orderpriority",
            "CAST(n_orders AS BIGINT) AS n_orders",
            "CAST(n_otif AS BIGINT) AS n_otif",
            "CAST(n_lines AS BIGINT) AS n_lines",
            "n_otif * 1000000 div n_orders AS otif_e6")
      },
      Some("""WITH o AS (
             |  SELECT l.l_orderkey, o.o_orderpriority,
             |         max((epoch_us(l.l_shipdate)
             |              - epoch_us(o.o_orderdate)) // 86400000000)
             |           AS max_lead,
             |         CAST(count(*) AS BIGINT) AS n_lines
             |  FROM lineitem l JOIN orders o
             |    ON l.l_orderkey = o.o_orderkey
             |  GROUP BY 1, 2)
             |SELECT o_orderpriority,
             |       CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(sum(CASE WHEN max_lead <= 90 THEN 1 ELSE 0
             |         END) AS BIGINT) AS n_otif,
             |       CAST(sum(n_lines) AS BIGINT) AS n_lines,
             |       CAST(sum(CASE WHEN max_lead <= 90 THEN 1 ELSE 0
             |         END) AS BIGINT) * 1000000 // count(*) AS otif_e6
             |FROM o GROUP BY 1""".stripMargin)),

    // ── Safety stock: per brand, calendar 7-day lead-time demand via a
    //    RANGE frame over the day axis (missing days contribute 0 by
    //    construction), complete windows only (day ≤ max_day − 6);
    //    reorder point = exact nearest-rank p95; safety stock =
    //    p95 − mean. Windows ride each brand's bounded day axis.
    QueryDef("q_safety_stock",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .select(col("p_brand").as("brand"),
            expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
              .as("day"),
            expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("q"))
          .groupBy(col("brand"), col("day")).agg(sum(col("q")).as("dq"))
        val lead = Window.partitionBy(col("brand")).orderBy(col("day"))
          .rangeBetween(0, 6)
        val wnd = daily
          .withColumn("d7", sum(col("dq")).over(lead))
          .withColumn("max_day",
            max(col("day")).over(Window.partitionBy(col("brand"))))
          .filter(col("day") <= col("max_day") - 6)
        val ranked = wnd
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("brand")).orderBy(col("d7"), col("day"))))
        val stats = wnd.groupBy(col("brand"))
          .agg(count(lit(1)).as("n"), sum(col("d7")).as("s7"))
        ranked.join(stats, "brand")
          .filter(col("rk") === expr("(95 * n + 99) div 100"))
          .selectExpr("brand", "CAST(n AS BIGINT) AS n_windows",
            "s7 div n AS mean7_qty", "d7 AS rop_p95_qty",
            "d7 - s7 div n AS safety_qty")
      },
      Some("""WITH daily AS (
             |  SELECT p.p_brand AS brand,
             |         epoch_us(l.l_shipdate) // 86400000000 AS day,
             |         CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT))
             |           AS BIGINT) AS dq
             |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |  GROUP BY 1, 2),
             |wnd AS (
             |  SELECT brand, day,
             |         CAST(sum(dq) OVER (PARTITION BY brand ORDER BY day
             |           RANGE BETWEEN CURRENT ROW AND 6 FOLLOWING)
             |           AS BIGINT) AS d7,
             |         max(day) OVER (PARTITION BY brand) AS max_day
             |  FROM daily),
             |cw AS (SELECT brand, day, d7 FROM wnd
             |       WHERE day <= max_day - 6),
             |rk AS (SELECT brand, d7,
             |         CAST(row_number() OVER (PARTITION BY brand
             |           ORDER BY d7, day) AS BIGINT) AS rk
             |       FROM cw),
             |st AS (SELECT brand, CAST(count(*) AS BIGINT) AS n,
             |              CAST(sum(d7) AS BIGINT) AS s7
             |       FROM cw GROUP BY 1)
             |SELECT rk.brand, st.n AS n_windows,
             |       st.s7 // st.n AS mean7_qty,
             |       rk.d7 AS rop_p95_qty,
             |       rk.d7 - st.s7 // st.n AS safety_qty
             |FROM rk JOIN st ON rk.brand = st.brand
             |WHERE rk.rk = (95 * st.n + 99) // 100""".stripMargin)),

    /* Little's-law audit (`q_littles_law`): L = λ·W is an identity on
     * any stationary window; comparing the directly-measured average
     * work-in-progress L against arrival-rate × residence-time
     * quantifies boundary clipping / censoring in the pipeline — the
     * standard sanity gate on latency dashboards. */
    // ── Little's law on the 1996–97 order pipeline: arrival = order
    //    day, departure = last ship day; W = mean residence (days,
    //    e3), λ = orders/day (e3), L = mean open orders measured by
    //    in-window overlap days (e3). ratio_e6 = L/(λW) — below 1e6
    //    exactly when departures clip past the window edge.
    QueryDef("q_littles_law",
      (s, d) => {
        val dep = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(max(expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000"))
            .as("dep"))
        Tables.orders(s, d)
          .select(col("o_orderkey"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
              .as("arr"))
          .join(dep, "o_orderkey")
          .selectExpr("arr", "greatest(dep, arr) AS dep",
            "unix_micros(CAST('1996-01-01' AS TIMESTAMP)) div 86400000000 AS d0",
            "unix_micros(CAST('1997-12-31' AS TIMESTAMP)) div 86400000000 AS d1")
          .filter(col("arr") >= col("d0") && col("arr") <= col("d1"))
          .agg(count(lit(1)).as("n"),
            sum(expr("dep - arr + 1")).as("sres"),
            sum(expr("least(dep, d1) - arr + 1")).as("sover"),
            max(expr("d1 - d0 + 1")).as("days"))
          .selectExpr("CAST(n AS BIGINT) AS n_orders",
            "n * 1000 div days AS lambda_e3",
            "sres * 1000 div n AS w_e3",
            "sover * 1000 div days AS l_e3",
            """sover * 1000 div days * 1000000
              |  div greatest(1L, (n * 1000 div days) * (sres * 1000 div n)
              |    div 1000) AS ratio_e6""".stripMargin)
      },
      Some("""WITH dep AS (
             |  SELECT l_orderkey AS o_orderkey,
             |         max(epoch_us(l_shipdate) // 86400000000) AS dep
             |  FROM lineitem GROUP BY 1),
             |o AS (
             |  SELECT epoch_us(o.o_orderdate) // 86400000000 AS arr,
             |         greatest(dep.dep,
             |           epoch_us(o.o_orderdate) // 86400000000) AS dep,
             |         epoch_us(TIMESTAMP '1996-01-01') // 86400000000 AS d0,
             |         epoch_us(TIMESTAMP '1997-12-31') // 86400000000 AS d1
             |  FROM orders o JOIN dep ON o.o_orderkey = dep.o_orderkey),
             |a AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(dep - arr + 1) AS BIGINT) AS sres,
             |         CAST(sum(least(dep, d1) - arr + 1) AS BIGINT) AS sover,
             |         CAST(max(d1 - d0 + 1) AS BIGINT) AS days
             |  FROM o WHERE arr >= d0 AND arr <= d1)
             |SELECT n AS n_orders,
             |       n * 1000 // days AS lambda_e3,
             |       sres * 1000 // n AS w_e3,
             |       sover * 1000 // days AS l_e3,
             |       sover * 1000 // days * 1000000
             |         // greatest(1, (n * 1000 // days) * (sres * 1000 // n)
             |           // 1000) AS ratio_e6
             |FROM a""".stripMargin)),

    /* G/G/1 queue waits (`q_queue_waits`): per priority class, treat
     * orders as arrivals and price-proportional service times; the
     * Lindley recursion W_n = max(0, W_{n−1} + s_{n−1} − a_n) closes
     * over prefix sums via the reflection identity (the
     * q_clamped_balance trick re-aimed at waiting time), so mean/max/
     * exact-p95 wait per class costs two windows and a rank — no fold. */
    // ── Lindley waits per priority. d_n = s_{n−1} − a_n over arrival
    //    order (ties → orderkey); W = S − min(0, running-min S).
    //    Service = totalprice dollars (seconds, arbitrary unit);
    //    arrival gaps in seconds. First order per class waits 0.
    QueryDef("q_queue_waits",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byP = Window.partitionBy(col("pr"))
          .orderBy(col("t"), col("ok"))
        val cum = byP.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        val base = Tables.orders(s, d)
          .select(col("o_orderpriority").as("pr"),
            col("o_orderkey").as("ok"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 1000000")
              .as("t"),
            expr("CAST(floor(o_totalprice) AS BIGINT)").as("svc"))
          .withColumn("a", col("t") - lag(col("t"), 1).over(byP))
          .withColumn("sprev", lag(col("svc"), 1).over(byP))
          .withColumn("dd",
            when(col("a").isNull, lit(0L))
              .otherwise(col("sprev") - col("a")))
          .withColumn("run", sum(col("dd")).over(cum))
          .withColumn("w",
            col("run") - least(lit(0L), min(col("run")).over(cum)))
          .localCheckpoint(false)
        val ranked = base.withColumn("rk", row_number().over(
          Window.partitionBy(col("pr")).orderBy(col("w"), col("t"),
            col("ok"))))
        val stats = base.groupBy(col("pr"))
          .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
            max(col("w")).as("max_wait_s"))
        ranked.join(stats, "pr")
          .filter(col("rk") === expr("(95 * n + 99) div 100"))
          .selectExpr("pr AS priority", "CAST(n AS BIGINT) AS n_jobs",
            "sw div n AS mean_wait_s", "w AS p95_wait_s", "max_wait_s")
      },
      Some("""WITH base AS (
             |  SELECT o_orderpriority AS pr, o_orderkey AS ok,
             |         epoch_us(o_orderdate) // 1000000 AS t,
             |         CAST(floor(o_totalprice) AS BIGINT) AS svc
             |  FROM orders),
             |lagd AS (SELECT pr, ok, t, svc,
             |           t - lag(t) OVER w AS a,
             |           lag(svc) OVER w AS sprev
             |         FROM base WINDOW w AS (PARTITION BY pr
             |           ORDER BY t, ok)),
             |dd AS (SELECT pr, ok, t,
             |         CASE WHEN a IS NULL THEN 0 ELSE sprev - a END AS dd
             |       FROM lagd),
             |r AS (SELECT pr, ok, t,
             |        CAST(sum(dd) OVER w AS BIGINT) AS run
             |      FROM dd WINDOW w AS (PARTITION BY pr ORDER BY t, ok
             |        ROWS UNBOUNDED PRECEDING)),
             |wt AS (SELECT pr, ok, t,
             |         run - least(0, CAST(min(run) OVER w AS BIGINT))
             |           AS w
             |       FROM r WINDOW w AS (PARTITION BY pr ORDER BY t, ok
             |         ROWS UNBOUNDED PRECEDING)),
             |rk AS (SELECT pr, w,
             |         CAST(row_number() OVER (PARTITION BY pr
             |           ORDER BY w, t, ok) AS BIGINT) AS rk
             |       FROM wt),
             |st AS (SELECT pr, CAST(count(*) AS BIGINT) AS n,
             |              CAST(sum(w) AS BIGINT) AS sw,
             |              CAST(max(w) AS BIGINT) AS max_wait_s
             |       FROM wt GROUP BY 1)
             |SELECT rk.pr AS priority, st.n AS n_jobs,
             |       st.sw // st.n AS mean_wait_s,
             |       rk.w AS p95_wait_s, st.max_wait_s
             |FROM rk JOIN st ON rk.pr = st.pr
             |WHERE rk.rk = (95 * st.n + 99) // 100""".stripMargin)),

    /* Bullwhip effect (`q_bullwhip`): CV²(upstream ship-month revenue) /
     * CV²(downstream order-month demand) per year — Lee et al.'s
     * variance-amplification reading of the order→fulfillment pipeline.
     * Two independent monthly rollups (cents-exact), CV² at n²-scale
     * integers, ratio closed as one double division. No fact-fact join. */
    // ── Bullwhip per year: CV²(ship-month revenue) over
    //    CV²(order-month demand), both cents-exact; CV² at n² scale:
    //    cv2 = (m·Σx² − (Σx)²) / (Σx)², m = months in year.
    QueryDef("q_bullwhip",
      (s, d) => {
        def monthly(df: org.apache.spark.sql.DataFrame, ts: String,
                    amt: String) = df
          .select(year(col(ts)).as("yr"),
            date_trunc("month", col(ts)).as("mo"),
            floor(col(amt) * 100 + 0.5).cast("long").as("cents"))
          .groupBy(col("yr"), col("mo")).agg(sum(col("cents")).as("x"))
          .groupBy(col("yr"))
          .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
            sum(expr(s"CAST(x AS $dec) * x")).as("sxx"))
        val down = monthly(Tables.orders(s, d), "o_orderdate",
          "o_totalprice")
          .selectExpr("yr", "m AS m_dn",
            s"CAST(m AS $dec) * sxx - CAST(sx AS $dec) * sx AS v_dn",
            s"CAST(sx AS $dec) * sx AS s2_dn")
        val up = monthly(Tables.lineitem(s, d), "l_shipdate",
          "l_extendedprice")
          .selectExpr("yr", "m AS m_up",
            s"CAST(m AS $dec) * sxx - CAST(sx AS $dec) * sx AS v_up",
            s"CAST(sx AS $dec) * sx AS s2_up")
        down.join(up, "yr")
          .selectExpr("CAST(yr AS BIGINT) AS yr", "m_dn", "m_up",
            """round(CAST(v_dn AS DOUBLE) / CAST(s2_dn AS DOUBLE), 6)
              |AS cv2_down""".stripMargin,
            """round(CAST(v_up AS DOUBLE) / CAST(s2_up AS DOUBLE), 6)
              |AS cv2_up""".stripMargin,
            """CASE WHEN v_dn = 0 THEN NULL ELSE
              |round((CAST(v_up AS DOUBLE) * CAST(s2_dn AS DOUBLE))
              |  / (CAST(s2_up AS DOUBLE) * CAST(v_dn AS DOUBLE)), 6)
              |END AS bullwhip""".stripMargin)
      },
      Some("""WITH dn0 AS (
             |  SELECT year(o_orderdate) AS yr,
             |         date_trunc('month', o_orderdate) AS mo,
             |         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             |           AS x
             |  FROM orders GROUP BY 1, 2),
             |dn AS (SELECT yr, CAST(count(*) AS BIGINT) AS m_dn,
             |         CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
             |           - CAST(sum(x) AS HUGEINT) * sum(x) AS v_dn,
             |         CAST(sum(x) AS HUGEINT) * sum(x) AS s2_dn
             |       FROM dn0 GROUP BY 1),
             |up0 AS (
             |  SELECT year(l_shipdate) AS yr,
             |         date_trunc('month', l_shipdate) AS mo,
             |         sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS x
             |  FROM lineitem GROUP BY 1, 2),
             |up AS (SELECT yr, CAST(count(*) AS BIGINT) AS m_up,
             |         CAST(count(*) AS HUGEINT) * sum(CAST(x AS HUGEINT) * x)
             |           - CAST(sum(x) AS HUGEINT) * sum(x) AS v_up,
             |         CAST(sum(x) AS HUGEINT) * sum(x) AS s2_up
             |       FROM up0 GROUP BY 1)
             |SELECT CAST(dn.yr AS BIGINT) AS yr, m_dn, m_up,
             |       round(CAST(v_dn AS DOUBLE) / CAST(s2_dn AS DOUBLE), 6)
             |         AS cv2_down,
             |       round(CAST(v_up AS DOUBLE) / CAST(s2_up AS DOUBLE), 6)
             |         AS cv2_up,
             |       CASE WHEN v_dn = 0 THEN NULL ELSE
             |         round((CAST(v_up AS DOUBLE) * CAST(s2_dn AS DOUBLE))
             |           / (CAST(s2_up AS DOUBLE) * CAST(v_dn AS DOUBLE)),
             |           6) END AS bullwhip
             |FROM dn JOIN up ON up.yr = dn.yr""".stripMargin)),

    /* TOPSIS (`q_topsis_suppliers`): rank suppliers by closeness to the
     * ideal point over three criteria (revenue ↑, avg discount given ↓,
     * part variety ↑), min-max normalized to e6 integers; d⁺/d⁻ are
     * per-row scalar √ chains (portable), top-10 by closeness with a
     * full tie-break. The standard MCDM read absent from the ranking
     * family (q_skyline gives the frontier, TOPSIS gives the order). */
    // ── TOPSIS: top-10 suppliers by closeness to the ideal point.
    QueryDef("q_topsis_suppliers",
      (s, d) => {
        val crit = Tables.lineitem(s, d)
          .groupBy(col("l_suppkey"))
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5)
            .cast("long")).as("rev"),
            expr("sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT))" +
              " * 100 div count(*)").as("disc_e2"),
            expr("CAST(count(DISTINCT l_partkey) AS BIGINT)")
              .as("variety"))
          .localCheckpoint(false) // bounds + normalize
        val bounds = crit.agg(
          min(col("rev")).as("rev_lo"), max(col("rev")).as("rev_hi"),
          min(col("disc_e2")).as("d_lo"), max(col("disc_e2")).as("d_hi"),
          min(col("variety")).as("v_lo"), max(col("variety")).as("v_hi"))
        crit.crossJoin(broadcast(bounds))
          .selectExpr("l_suppkey",
            "(rev - rev_lo) * 1000000 div greatest(1L, rev_hi - rev_lo)" +
              " AS n1",
            // cost criterion: flip so 1e6 is best (lowest discount)
            "(d_hi - disc_e2) * 1000000 div greatest(1L, d_hi - d_lo)" +
              " AS n2",
            "(variety - v_lo) * 1000000 div greatest(1L, v_hi - v_lo)" +
              " AS n3")
          .selectExpr("l_suppkey", "n1", "n2", "n3",
            """sqrt(CAST((1000000 - n1) * (1000000 - n1)
              | + (1000000 - n2) * (1000000 - n2)
              | + (1000000 - n3) * (1000000 - n3) AS DOUBLE)) AS dp"""
              .stripMargin,
            """sqrt(CAST(n1 * n1 + n2 * n2 + n3 * n3 AS DOUBLE))
              | AS dm""".stripMargin)
          .selectExpr("l_suppkey", "n1", "n2", "n3",
            """CAST(round(dm * CAST('1000000.0' AS DOUBLE) / (dp + dm))
              | AS BIGINT) AS closeness_e6""".stripMargin)
          .orderBy(col("closeness_e6").desc, col("l_suppkey"))
          .limit(10)
      },
      Some("""WITH crit AS (
             |  SELECT l_suppkey,
             |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS rev,
             |         CAST(sum(CAST(floor(l_discount * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) * 100
             |           // CAST(count(*) AS BIGINT) AS disc_e2,
             |         CAST(count(DISTINCT l_partkey) AS BIGINT)
             |           AS variety
             |  FROM lineitem GROUP BY 1),
             |b AS (SELECT min(rev) AS rev_lo, max(rev) AS rev_hi,
             |             min(disc_e2) AS d_lo, max(disc_e2) AS d_hi,
             |             min(variety) AS v_lo, max(variety) AS v_hi
             |      FROM crit),
             |nrm AS (SELECT l_suppkey,
             |          (rev - rev_lo) * 1000000
             |            // greatest(1, rev_hi - rev_lo) AS n1,
             |          (d_hi - disc_e2) * 1000000
             |            // greatest(1, d_hi - d_lo) AS n2,
             |          (variety - v_lo) * 1000000
             |            // greatest(1, v_hi - v_lo) AS n3
             |        FROM crit CROSS JOIN b),
             |dist AS (SELECT l_suppkey, n1, n2, n3,
             |           sqrt(CAST((1000000 - n1) * (1000000 - n1)
             |             + (1000000 - n2) * (1000000 - n2)
             |             + (1000000 - n3) * (1000000 - n3) AS DOUBLE))
             |             AS dp,
             |           sqrt(CAST(n1 * n1 + n2 * n2 + n3 * n3
             |             AS DOUBLE)) AS dm
             |         FROM nrm)
             |SELECT l_suppkey, n1, n2, n3,
             |       CAST(round(dm * CAST('1000000.0' AS DOUBLE)
             |         / (dp + dm)) AS BIGINT) AS closeness_e6
             |FROM dist
             |ORDER BY closeness_e6 DESC, l_suppkey
             |LIMIT 10""".stripMargin)),

    /* Wagner–Whitin (`q_lot_sizing`): optimal setup/holding schedule
     * for monthly demand — the classic sequential DP re-expressed as a
     * shortest path on the bounded month DAG: edge (i→j) = one setup
     * at i covering i..j−1, cost K + h·Σ(t−i)d_t closed from TWO
     * prefix sums (no per-edge scan). The DP recursion becomes
     * SEVEN min-plus matrix squarings (2⁷=128 ≥ any month count this
     * time axis can produce — the axis is calendar-bounded, NOT
     * SF-bounded, so the unroll depth is a constant, the same reason
     * q_viterbi_maxplus's ⌈log₂T⌉ works) — each squaring one keyed
     * join + min aggregate on the T² edge frame. Identity self-loops
     * make plain squaring monotone. Single-setup and setup-every-month
     * policies ride along as bounds. */
    // ── Wagner–Whitin via 7 min-plus squarings on the month DAG.
    QueryDef("q_lot_sizing",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val K = 10000000L // setup: $100k in cents
        val monthly = Tables.lineitem(s, d)
          .groupBy(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
            " div 2592000000000").as("mo"))
          .agg(sum(floor(col("l_quantity") + 0.5).cast("long")).as("dq"))
        val idx = monthly
          .withColumn("t",
            (row_number().over(Window.orderBy("mo")) - 1).cast("long"))
          .withColumn("p1", sum(col("dq")).over(Window.orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("p2", sum(expr("t * dq")).over(Window.orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .localCheckpoint(false) // both prefix endpoints of every edge
        // prefix rows: P(j) = sums over t < j → shift by one; add j=0
        val pfx = idx.select((col("t") + 1).as("j"), col("p1"), col("p2"))
          .unionByName(s.range(1)
            .selectExpr("CAST(0 AS BIGINT) AS j", "CAST(0 AS BIGINT) AS p1",
              "CAST(0 AS BIGINT) AS p2"))
          .localCheckpoint(false)
        val edges = pfx.as("a").join(pfx.as("b"),
            col("b.j") > col("a.j"))
          .selectExpr("a.j AS i", "b.j AS j",
            s"$K + (b.p2 - a.p2) - a.j * (b.p1 - a.p1) AS c")
        val ident = pfx.selectExpr("j AS i", "j AS j",
          "CAST(0 AS BIGINT) AS c")
        var dk = edges.unionByName(ident).localCheckpoint(false)
        for (_ <- 1 to 7) {
          dk = dk.as("x").join(dk.as("y"), col("y.i") === col("x.j"))
            .selectExpr("x.i AS i", "y.j AS j", "x.c + y.c AS c")
            .groupBy(col("i"), col("j")).agg(min(col("c")).as("c"))
            .localCheckpoint(false)
        }
        val horizon = pfx.agg(max(col("j")).as("tt"))
        val best = dk.crossJoin(broadcast(horizon))
          .where(col("i") === 0L && col("j") === col("tt"))
          .selectExpr("j AS n_months", "c AS opt_cost_cents")
        val single = edges.crossJoin(broadcast(horizon))
          .where(col("i") === 0L && col("j") === col("tt"))
          .selectExpr("c AS single_setup_cents")
        val every = horizon.selectExpr(s"tt * $K AS monthly_setup_cents")
        best.crossJoin(broadcast(single)).crossJoin(broadcast(every))
      },
      Some {
        val K = 10000000L
        def sq(prev: String, cur: String) =
          s"""$cur AS MATERIALIZED (SELECT i, j, min(c) AS c FROM (
             |  SELECT x.i AS i, y.j AS j, x.c + y.c AS c
             |  FROM $prev x JOIN $prev y ON y.i = x.j
             |  UNION ALL SELECT i, j, c FROM $prev)
             |GROUP BY 1, 2)""".stripMargin
        s"""WITH monthly AS (
           |  SELECT epoch_us(l_shipdate) // 2592000000000 AS mo,
           |         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
           |           AS BIGINT) AS dq
           |  FROM lineitem GROUP BY 1),
           |idx AS (SELECT CAST(row_number() OVER (ORDER BY mo) - 1
           |          AS BIGINT) AS t, dq
           |        FROM monthly),
           |pfx0 AS (SELECT t + 1 AS j,
           |           CAST(sum(dq) OVER (ORDER BY t
           |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p1,
           |           CAST(sum(t * dq) OVER (ORDER BY t
           |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p2
           |         FROM idx),
           |pfx AS MATERIALIZED (SELECT * FROM pfx0
           |        UNION ALL SELECT 0, 0, 0),
           |edges AS MATERIALIZED (SELECT a.j AS i, b.j AS j,
           |            $K + (b.p2 - a.p2) - a.j * (b.p1 - a.p1) AS c
           |          FROM pfx a JOIN pfx b ON b.j > a.j),
           |d0 AS MATERIALIZED (SELECT * FROM edges
           |       UNION ALL SELECT j, j, 0 FROM pfx),
           |${sq("d0", "s1")},
           |${sq("s1", "s2")},
           |${sq("s2", "s3")},
           |${sq("s3", "s4")},
           |${sq("s4", "s5")},
           |${sq("s5", "s6")},
           |${sq("s6", "s7")},
           |hz AS (SELECT max(j) AS tt FROM pfx)
           |SELECT hz.tt AS n_months,
           |       (SELECT c FROM s7 CROSS JOIN hz
           |        WHERE i = 0 AND j = hz.tt) AS opt_cost_cents,
           |       (SELECT c FROM edges CROSS JOIN hz
           |        WHERE i = 0 AND j = hz.tt) AS single_setup_cents,
           |       hz.tt * $K AS monthly_setup_cents
           |FROM hz""".stripMargin
      }),

    /* Sourcing coverage (`q_sourcing_coverage`): observed
     * suppliers-per-part distribution — single-source share (the
     * supply-chain risk headline), mean suppliers per part, and the
     * mean unit-price spread (max−min) across each part's observed
     * source set. Two grouped aggregates over lineitem; exact integer
     * e6 (the unit price is floor(extprice·100/qty + 0.5), identical
     * IEEE text both engines). */
    // ── Observed suppliers-per-part coverage + unit-price spread.
    QueryDef("q_sourcing_coverage",
      (s, d) => {
        val links = Tables.lineitem(s, d)
          .where(col("l_quantity") >= 1.0)
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(expr("CAST(floor(l_extendedprice * 100 / l_quantity" +
            " + 0.5) AS BIGINT)")).as("unit_cents"))
        val perPart = links.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("ns"),
            (max(col("unit_cents")) - min(col("unit_cents")))
              .as("spread"))
        perPart.agg(count(lit(1)).as("n_parts"),
            sum(col("ns")).as("links"),
            sum(when(col("ns") === 1L, 1L).otherwise(0L))
              .as("single_src"),
            sum(col("spread")).as("spread_sum"))
          .selectExpr("n_parts", "links", "single_src",
            "single_src * 1000000 div n_parts AS single_share_e6",
            "links * 1000000 div n_parts AS suppliers_per_part_e6",
            "spread_sum div n_parts AS mean_spread_cents")
      },
      Some("""WITH links AS (
             |  SELECT l_partkey, l_suppkey,
             |         CAST(min(CAST(floor(l_extendedprice * 100
             |           / l_quantity + 0.5) AS BIGINT)) AS BIGINT)
             |           AS unit_cents
             |  FROM lineitem WHERE l_quantity >= 1.0 GROUP BY 1, 2),
             |pp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS ns,
             |         CAST(max(unit_cents) - min(unit_cents) AS BIGINT)
             |           AS spread
             |       FROM links GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_parts,
             |       CAST(sum(ns) AS BIGINT) AS links,
             |       CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS single_src,
             |       CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END)
             |         AS BIGINT) * 1000000 // count(*) AS single_share_e6,
             |       CAST(sum(ns) AS BIGINT) * 1000000 // count(*)
             |         AS suppliers_per_part_e6,
             |       CAST(sum(spread) AS BIGINT) // count(*)
             |         AS mean_spread_cents
             |FROM pp""".stripMargin)),

    /* Supplier-nation overlap (`q_supplier_overlap`): pairwise Jaccard
     * and containment of the part catalogs sourced from each supplier
     * nation — where could sourcing shift in a disruption? Distinct
     * (nation, part) frame self-joined on the part key (the supply-side
     * twin of q_ngram_overlap's shape); nation-pair grid bounded at
     * 25². */
    // ── Pairwise part-catalog overlap between supplier nations.
    QueryDef("q_supplier_overlap",
      (s, d) => {
        val np = Tables.lineitem(s, d)
          .select(col("l_suppkey"), col("l_partkey"))
          .join(Tables.supplier(s, d)
            .select(col("s_suppkey").as("l_suppkey"),
              col("s_nationkey").as("nk")), Seq("l_suppkey"))
          .select(col("nk"), col("l_partkey").as("pk"))
          .distinct()
          .localCheckpoint(false) // distinct (nation, part)
        val sizes = np.groupBy(col("nk")).agg(count(lit(1)).as("n"))
        val inter = np.as("x").join(np.as("y"), Seq("pk"))
          .where(col("x.nk") < col("y.nk"))
          .groupBy(col("x.nk").as("n1k"), col("y.nk").as("n2k"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(sizes.select(col("nk").as("n1k"),
            col("n").as("c1"))), Seq("n1k"))
          .join(broadcast(sizes.select(col("nk").as("n2k"),
            col("n").as("c2"))), Seq("n2k"))
          .selectExpr("n1k", "n2k", "inter", "c1", "c2",
            "inter * 1000000 div (c1 + c2 - inter) AS jaccard_e6",
            """CASE WHEN c1 <= c2 THEN inter * 1000000 div c1
              |ELSE inter * 1000000 div c2
              |END AS containment_e6""".stripMargin)
      },
      Some("""WITH np AS (
             |  SELECT DISTINCT s_nationkey AS nk, l_partkey AS pk
             |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
             |sizes AS (SELECT nk, CAST(count(*) AS BIGINT) AS n
             |          FROM np GROUP BY 1),
             |inter AS (SELECT x.nk AS n1k, y.nk AS n2k,
             |            CAST(count(*) AS BIGINT) AS inter
             |          FROM np x JOIN np y ON x.pk = y.pk
             |          WHERE x.nk < y.nk GROUP BY 1, 2)
             |SELECT n1k, n2k, inter, a.n AS c1, b.n AS c2,
             |       inter * 1000000 // (a.n + b.n - inter) AS jaccard_e6,
             |       CASE WHEN a.n <= b.n THEN inter * 1000000 // a.n
             |       ELSE inter * 1000000 // b.n
             |       END AS containment_e6
             |FROM inter JOIN sizes a ON a.nk = n1k
             |JOIN sizes b ON b.nk = n2k""".stripMargin))
  )
}
