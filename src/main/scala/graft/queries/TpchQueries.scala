package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TPC-H-shaped queries adapted to the shared schema (no partsupp: lineitem
  * is the supply relation). */
object TpchQueries extends QueryCatalog {

  import Fixtures._

  private val day = "86400000000"
  def defs: Seq[QueryDef] = Seq(

    // ── TPC-H Q5 shape: revenue from lineitems where supplier and
    //    customer share a nation, within one region and a two-year
    //    window. ONE big shuffle join (orders ⋈ lineitem); customer /
    //    supplier / nation⋈region all broadcast.
    QueryDef("q_tpch_local_volume",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
          centsCol("l_extendedprice").as("pc"), centsCol("l_discount").as("dc"))
        val o = Tables.orders(s, d)
          .filter(unix_timestamp(col("o_orderdate")).between(757382400L, 820454399L))
          .select(col("o_orderkey"), col("o_custkey"))
        val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
        val su = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
        val nr = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")
            .select(col("r_regionkey"))), col("n_regionkey") === col("r_regionkey"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey")
            && col("s_nationkey") === col("c_nationkey"))
          .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("pc") * (lit(100L) - col("dc"))).as("rev_cp"))
      },
      Some(s"""SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
              |       CAST(sum(${cents("l_extendedprice")}
              |                * (100 - ${cents("l_discount")})) AS BIGINT) AS rev_cp
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN supplier ON l_suppkey = s_suppkey
              |              AND s_nationkey = c_nationkey
              |JOIN nation   ON s_nationkey = n_nationkey
              |JOIN region   ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |  AND CAST(floor(epoch(o_orderdate)) AS BIGINT) BETWEEN 757382400 AND 820454399
              |GROUP BY 1""".stripMargin)),

    // ── TPC-H Q18 shape: aggregate lineitem FIRST (map-side partial
    //    combine), filter to the tiny survivor set, then broadcast it
    //    back against orders — never orders⋈lineitem row-level.
    QueryDef("q_tpch_top_orders",
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum(floor(col("l_quantity") + 0.5).cast("long")).as("sum_qty"))
          .filter(col("sum_qty") >= 180L)
        Tables.orders(s, d)
          .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey"), col("o_custkey"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long").as("total_cents"),
            col("sum_qty"))
          .orderBy(col("sum_qty").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""WITH big AS (
             |  SELECT l_orderkey,
             |         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
             |           AS sum_qty
             |  FROM lineitem GROUP BY l_orderkey
             |  HAVING sum_qty >= 180)
             |SELECT o.o_orderkey, o.o_custkey,
             |       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
             |       b.sum_qty
             |FROM orders o JOIN big b ON b.l_orderkey = o.o_orderkey
             |ORDER BY b.sum_qty DESC, o.o_orderkey LIMIT 10""".stripMargin)),

    // ── TPC-H Q3 shape: top-10 not-yet-shipped orders by revenue for
    //    the BUILDING segment at cutoff 1998-01-01. Lineitem (big) joins
    //    the filtered orders; the segment-filtered customer set
    //    broadcasts; one (order) keyed aggregate then a top-k merge.
    QueryDef("q_tpch_unshipped",
      (s, d) => {
        val cut = 883612800L // 1998-01-01 UTC epoch seconds
        val c = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val o = Tables.orders(s, d)
          .filter(unix_timestamp(col("o_orderdate")) < cut)
          .select(col("o_orderkey"), col("o_custkey"),
            expr("unix_timestamp(o_orderdate) div 86400").as("o_day"),
            col("o_orderpriority"))
        val li = Tables.lineitem(s, d)
          .filter(unix_timestamp(col("l_shipdate")) > cut)
          .select(col("l_orderkey"),
            (centsCol("l_extendedprice") *
              (lit(100L) - centsCol("l_discount"))).as("rev_cp"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_day"), col("o_orderpriority"))
          .agg(sum(col("rev_cp")).as("rev_cp"), count(lit(1)).as("n_items"))
          .orderBy(col("rev_cp").desc, col("o_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT o_orderkey,
              |       CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS o_day,
              |       o_orderpriority,
              |       CAST(sum(${cents("l_extendedprice")}
              |                * (100 - ${cents("l_discount")})) AS BIGINT)
              |         AS rev_cp,
              |       CAST(count(*) AS BIGINT) AS n_items
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING'
              |  AND epoch(o_orderdate) < 883612800
              |  AND epoch(l_shipdate) > 883612800
              |GROUP BY 1, 2, 3
              |ORDER BY rev_cp DESC, o_orderkey LIMIT 10""".stripMargin)),

    /* The four classic TPC-H ad-hoc shapes the suite did
     * not yet cover — Q13 (customer order-count distribution, the outer-join
     * histogram), Q14 (promo revenue share, conditional aggregation), Q10
     * (returned-item revenue ranking) and Q22 (idle rich customers:
     * scalar-subquery threshold + anti join). Adapted to the shared testdata
     * columns (no comment/shipmode columns; `p_type` is single-word, so the
     * promo predicate is equality). Money rides the repo-standard exact
     * cents / cent-percent integers; the one share ratio is a DECIMAL(38,0)
     * truncating division (HUGEINT `//` on the oracle side).
     *
     * Scale notes per query inline — the common theme: aggregate the fact
     * table FIRST (map-side partial combine), join dims after, broadcast
     * only genuinely dim-sized sides. */

    // ── TPC-H Q13 shape: how many customers placed 0, 1, 2, … orders?
    //    Orders pre-aggregate to the customer grain (ONE fact exchange),
    //    then a LEFT join keeps the zero-order customers, then the
    //    histogram aggregate is over a tiny domain. The priority filter
    //    stands in for Q13's comment regex (no o_comment column).
    QueryDef("q_tpch_custdist",
      (s, d) => {
        val oc = Tables.orders(s, d)
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        Tables.customer(s, d).select(col("c_custkey"))
          .join(oc, col("c_custkey") === col("o_custkey"), "left")
          .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
      },
      Some("""WITH oc AS (
             |  SELECT o_custkey, count(*) AS n FROM orders
             |  WHERE o_orderpriority <> '1-URGENT' GROUP BY 1)
             |SELECT CAST(coalesce(n, 0) AS BIGINT) AS c_count,
             |       CAST(count(*) AS BIGINT) AS custdist
             |FROM customer LEFT JOIN oc ON c_custkey = o_custkey
             |GROUP BY 1""".stripMargin)),

    // ── TPC-H Q14 shape: what share of 1997 revenue came from PROMO
    //    parts? Part is the only join (p_partkey → p_type); the share is
    //    one conditional aggregate over the joined scan. part is a true
    //    dimension (200k·SF rows) — broadcast it; revenue stays in exact
    //    cent-percent integers and the share is a DECIMAL(38,0)
    //    truncating division (sums overflow BIGINT·1e6).
    QueryDef("q_tpch_promo",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .filter(year(col("l_shipdate")) === 1997)
          .select(col("l_partkey"),
            (centsCol("l_extendedprice") *
              (lit(100L) - centsCol("l_discount"))).as("rev_cp"))
        val p = Tables.part(s, d).select(col("p_partkey"), col("p_type"))
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", col("rev_cp"))
              .otherwise(0L)).as("promo_cp"),
            sum(col("rev_cp")).as("total_cp"))
          .select(col("promo_cp"), col("total_cp"),
            expr("""CAST(CAST(promo_cp AS DECIMAL(38,0)) * 1000000
                   |     div CAST(total_cp AS DECIMAL(38,0)) AS BIGINT)
                   |""".stripMargin).as("promo_share_e6"))
      },
      Some(s"""WITH j AS (
              |  SELECT p_type,
              |         ${cents("l_extendedprice")}
              |           * (100 - ${cents("l_discount")}) AS rev_cp
              |  FROM lineitem JOIN part ON l_partkey = p_partkey
              |  WHERE year(l_shipdate) = 1997),
              |m AS (
              |  SELECT sum(CASE WHEN p_type = 'PROMO' THEN rev_cp
              |                  ELSE 0 END) AS promo_cp,
              |         sum(rev_cp) AS total_cp
              |  FROM j)
              |SELECT CAST(promo_cp AS BIGINT) AS promo_cp,
              |       CAST(total_cp AS BIGINT) AS total_cp,
              |       CAST(CAST(promo_cp AS HUGEINT) * 1000000
              |            // CAST(total_cp AS HUGEINT) AS BIGINT)
              |         AS promo_share_e6
              |FROM m""".stripMargin)),

    // ── TPC-H Q10 shape: top-20 customers by returned-item revenue.
    //    lineitem(R) ⋈ orders is the one big shuffle; the result is
    //    pre-aggregated to the customer grain BEFORE customer attributes
    //    join in (broadcast — the survivor set is ≤ |customer|).
    //    Deterministic: rev desc, custkey asc.
    QueryDef("q_tpch_returns",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"),
            (centsCol("l_extendedprice") *
              (lit(100L) - centsCol("l_discount"))).as("rev_cp"))
        val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          centsCol("c_acctbal").as("acctbal_c"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("rev_cp")).as("rev_cp"), count(lit(1)).as("n_items"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("acctbal_c"), col("rev_cp"), col("n_items"))
          .orderBy(col("rev_cp").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""WITH r AS (
              |  SELECT o_custkey,
              |         sum(${cents("l_extendedprice")}
              |             * (100 - ${cents("l_discount")})) AS rev_cp,
              |         count(*) AS n_items
              |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |  WHERE l_returnflag = 'R'
              |  GROUP BY 1)
              |SELECT c_custkey, c_name,
              |       CAST(c_nationkey AS BIGINT) AS c_nationkey,
              |       ${cents("c_acctbal")} AS acctbal_c,
              |       CAST(rev_cp AS BIGINT) AS rev_cp,
              |       CAST(n_items AS BIGINT) AS n_items
              |FROM r JOIN customer ON o_custkey = c_custkey
              |ORDER BY rev_cp DESC, c_custkey LIMIT 20""".stripMargin)),

    // ── TPC-H Q22 shape: "idle rich" — customers whose balance beats the
    //    average positive balance but who placed no order since 2000-01-01
    //    (the corpus runs 1995..2001-08; "never ordered at all" is empty
    //    on this data, so recency-idle is the meaningful Q22 reading).
    //    The threshold is a 1-row scalar aggregate (broadcast cross
    //    join); the idle test is ONE left-anti join against the
    //    date-filtered orders scan (pushed predicate, o_custkey-pruned
    //    columns). Exact integer threshold: sum-cents div count.
    QueryDef("q_tpch_idle_rich",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_custkey"),
          col("c_nationkey").cast("long").as("c_nationkey"),
          centsCol("c_acctbal").as("bal_c"))
        val thr = c.filter(col("bal_c") > 0)
          .agg(expr("sum(bal_c) div count(*)").as("thr_c"))
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select(col("o_custkey"))
        c.join(broadcast(thr))
          .filter(col("bal_c") > col("thr_c"))
          .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_cust"), sum(col("bal_c")).as("bal_sum_c"))
      },
      Some(s"""WITH c AS (
              |  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
              |         ${cents("c_acctbal")} AS bal_c
              |  FROM customer),
              |t AS (SELECT sum(bal_c) // count(*) AS thr_c
              |      FROM c WHERE bal_c > 0)
              |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
              |       CAST(sum(bal_c) AS BIGINT) AS bal_sum_c
              |FROM c CROSS JOIN t
              |WHERE bal_c > thr_c
              |  AND NOT EXISTS (SELECT 1 FROM orders
              |                  WHERE o_custkey = c_custkey
              |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
              |GROUP BY 1""".stripMargin)),

    // ── TPC-H Q7 shape: revenue flowing supplier-nation → customer-
    //    nation for cross-nation 1996–97 shipments, by year. ONE
    //    big li⋈orders shuffle; supplier, customer and nation are
    //    broadcast dims.
    QueryDef("q_tpch_trade_flows",
      (s, d) => {
        def centsCol(c: String) = floor(col(c) * 100 + 0.5).cast("long")
        val li = Tables.lineitem(s, d)
          .filter(year(col("l_shipdate")).between(1996, 1997))
          .select(col("l_orderkey"), col("l_suppkey"),
            year(col("l_shipdate")).cast("long").as("l_year"),
            (centsCol("l_extendedprice") *
              (lit(100L) - centsCol("l_discount"))).as("rev_cp"))
        val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        val n = Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))
        val sup = Tables.supplier(s, d)
          .join(n, col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        val cust = Tables.customer(s, d)
          .join(n, col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name").as("cust_nation"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
          .agg(sum(col("rev_cp")).as("rev_cp"), count(lit(1)).as("n_items"))
      },
      Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
             |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |                     AS BIGINT)
             |                * (100 - CAST(floor(l_discount * 100 + 0.5)
             |                              AS BIGINT))) AS BIGINT) AS rev_cp,
             |       CAST(count(*) AS BIGINT) AS n_items
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation sn ON s_nationkey = sn.n_nationkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation cn ON c_nationkey = cn.n_nationkey
             |WHERE year(l_shipdate) BETWEEN 1996 AND 1997
             |  AND sn.n_name <> cn.n_name
             |GROUP BY 1, 2, 3""".stripMargin)),

    /* Three more TPC-H ad-hoc shapes over the shared
     * schema (which carries no partsupp — lineitem is the supply
     * relation): Q2's correlated min-cost supplier (per-part argmin with
     * tie-keep-all, a grouped-min broadcast join-back, NOT a window over
     * the supply table), Q18's large-order having-join-back, and Q16's
     * excluded-supplier distinct-count rollup. */

    // ── Q2 shape: for each STANDARD part of size ≤ 10, the cheapest
    //    EUROPE supplier by best historical unit price. Supply pairs
    //    reduce FIRST (one groupBy off the raw scan); the per-part min
    //    broadcasts back — ties keep every optimal supplier, as Q2's
    //    correlated subquery does.
    QueryDef("q_tpch_min_cost",
      (s, d) => {
        val eur = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d)
              .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name"))
        val pts = Tables.part(s, d)
          .filter(col("p_type") === "STANDARD" && col("p_size") <= 10)
          .select(col("p_partkey"))
        val supply = Tables.lineitem(s, d).select(
            col("l_partkey"), col("l_suppkey"),
            centsCol("l_extendedprice").as("pc"),
            floor(col("l_quantity") + 0.5).cast("long").as("qb"))
          .withColumn("unit_mc", expr("(pc * 1000) div qb"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(col("unit_mc")).as("cost_mc"))
          .join(broadcast(pts), col("l_partkey") === col("p_partkey"))
          .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
        val best = supply.groupBy(col("p_partkey").as("pk"))
          .agg(min(col("cost_mc")).as("best_mc"))
        supply.join(broadcast(best),
            col("p_partkey") === col("pk") && col("cost_mc") === col("best_mc"))
          .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
            col("n_name"), col("cost_mc"))
      },
      Some(s"""WITH eur AS (SELECT s_suppkey, s_name, n_name
              |            FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |                 JOIN region ON n_regionkey = r_regionkey
              |            WHERE r_name = 'EUROPE'),
              |pts AS (SELECT p_partkey FROM part
              |        WHERE p_type = 'STANDARD' AND p_size <= 10),
              |supply AS (SELECT l_partkey AS p_partkey, s_suppkey, s_name, n_name,
              |             CAST(min((${cents("l_extendedprice")} * 1000)
              |               // CAST(floor(l_quantity + 0.5) AS BIGINT))
              |               AS BIGINT) AS cost_mc
              |           FROM lineitem
              |           JOIN pts ON l_partkey = p_partkey
              |           JOIN eur ON l_suppkey = s_suppkey
              |           GROUP BY 1, 2, 3, 4),
              |best AS (SELECT p_partkey, min(cost_mc) AS best_mc
              |         FROM supply GROUP BY 1)
              |SELECT p_partkey, s_suppkey, s_name, n_name, cost_mc
              |FROM supply JOIN best USING (p_partkey)
              |WHERE cost_mc = best_mc""".stripMargin)),

    // ── Q18 shape: orders whose total quantity tops 300 — the grouped
    //    HAVING filter join-back, with the customer dim broadcast.
    QueryDef("q_tpch_large_orders",
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum(floor(col("l_quantity") + 0.5).cast("long")).as("total_qty"))
          .filter(col("total_qty") > 300L)
        Tables.orders(s, d)
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_name"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
              .as("o_day"),
            centsCol("o_totalprice").as("price_c"), col("total_qty"))
      },
      Some(s"""WITH big AS (SELECT l_orderkey,
              |               CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
              |                 AS BIGINT) AS total_qty
              |             FROM lineitem GROUP BY 1 HAVING total_qty > 300)
              |SELECT c_name, c_custkey, o_orderkey,
              |       epoch_us(o_orderdate) // 86400000000 AS o_day,
              |       ${cents("o_totalprice")} AS price_c, total_qty
              |FROM orders JOIN big ON o_orderkey = l_orderkey
              |JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // ── Q16 shape: how many distinct suppliers can deliver each
    //    (brand, type, size-bucket) — PROMO parts excluded, suppliers
    //    in deficit (negative account balance) excluded via anti-join.
    QueryDef("q_tpch_parts_supp",
      (s, d) => {
        val excl = Tables.supplier(s, d)
          .filter(col("s_acctbal") < 0.0).select(col("s_suppkey").as("xk"))
        val pa = Tables.part(s, d)
          .filter(col("p_type") =!= "PROMO")
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            (col("p_size") % 5).cast("long").as("size_bucket"))
        Tables.lineitem(s, d)
          .select(col("l_partkey"), col("l_suppkey")).distinct()
          .join(broadcast(excl), col("l_suppkey") === col("xk"), "left_anti")
          .join(broadcast(pa), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("size_bucket"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      },
      Some("""SELECT p_brand, p_type, CAST(p_size % 5 AS BIGINT) AS size_bucket,
             |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
             |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sp
             |JOIN part ON l_partkey = p_partkey
             |WHERE p_type <> 'PROMO'
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
             |                        WHERE s_acctbal < 0)
             |GROUP BY 1, 2, 3""".stripMargin)),

    /* The three classic TPC-H shapes still missing from
     * the relational sweep — Q6 (forecasting revenue change: the pure
     * scan-filter-agg whose entire cost is predicate pushdown), Q4 (order
     * priority checking: EXISTS → left-semi with an inequality residual;
     * adapted to ship-lateness since the testdata lineitem carries no
     * commit/receipt dates), and Q17 (small-quantity-order revenue: the
     * correlated per-part average turned into one grouped join). */

    // ── Q6 shape: one scan, every predicate pushed; revenue in
    //    cents×cents (price_cents · discount_cents) exact units.
    QueryDef("q_tpch_forecast_revenue",
      (s, d) => Tables.lineitem(s, d)
        // Pushdown companions: conservative RAW-column supersets of the
        // exact cents predicates below. The exact forms wrap columns in
        // floor()/unix_micros() and can never reach the parquet reader;
        // these raw comparisons DO (PushedFilters + row-group stats
        // pruning), and the exact predicates still decide membership.
        .where(expr(
          "l_shipdate >= TIMESTAMP '1993-12-31 00:00:00' AND " +
            "l_shipdate <= TIMESTAMP '1995-01-02 00:00:00' AND " +
            "l_discount >= 0.0449 AND l_discount <= 0.0751 AND " +
            "l_quantity <= 23.51"))
        .select(
          expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $day")
            .as("sday"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("pc"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("dc"),
          floor(col("l_quantity") + 0.5).cast("long").as("q"))
        // 1994 = days [8766, 9131); discount 5..7 cents; qty < 24
        .where(col("sday") >= 8766L && col("sday") < 9131L &&
          col("dc").between(5L, 7L) && col("q") < 24L)
        .agg(count(lit(1)).as("n_items"),
          sum(col("pc") * col("dc")).as("revenue_cc")),
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_items,
              |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
              |                AS BIGINT)
              |              * CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
              |         AS BIGINT) AS revenue_cc
              |FROM lineitem
              |WHERE epoch_us(l_shipdate) // $day >= 8766
              |  AND epoch_us(l_shipdate) // $day < 9131
              |  AND CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
              |        BETWEEN 5 AND 7
              |  AND CAST(floor(l_quantity + 0.5) AS BIGINT) < 24"""
        .stripMargin)),

    // ── Q4 shape: orders placed in 1994H1 with at least one lineitem
    //    shipped 60+ days after order date (EXISTS → left semi with
    //    an inequality residual on the join).
    QueryDef("q_tpch_priority",
      (s, d) => {
        val o = Tables.orders(s, d)
          // pushdown companion (see q_tpch_forecast_revenue)
          .where(expr("o_orderdate >= TIMESTAMP '1994-12-31 00:00:00' " +
            "AND o_orderdate <= TIMESTAMP '1995-07-02 00:00:00'"))
          .select(col("o_orderkey"),
          col("o_orderpriority"),
          expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div $day")
            .as("oday"))
          .where(col("oday") >= 9131L && col("oday") < 9312L)
        val li = Tables.lineitem(s, d).select(col("l_orderkey"),
          expr(s"unix_micros(CAST(l_shipdate AS TIMESTAMP)) div $day")
            .as("sday"))
        o.join(li, col("o_orderkey") === col("l_orderkey") &&
            col("sday") >= col("oday") + 60L, "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"))
      },
      Some(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
              |FROM orders
              |WHERE epoch_us(o_orderdate) // $day >= 9131
              |  AND epoch_us(o_orderdate) // $day < 9312
              |  AND EXISTS (
              |    SELECT 1 FROM lineitem
              |    WHERE l_orderkey = o_orderkey
              |      AND epoch_us(l_shipdate) // $day
              |            >= epoch_us(o_orderdate) // $day + 60)
              |GROUP BY 1""".stripMargin)),

    // ── Q17 shape: revenue (÷7, offset-free: numerator nonneg) from
    //    lineitems under 20% of their part's average quantity, for one
    //    brand's small parts. The correlated AVG is ONE grouped join:
    //    per-part thresholds broadcast back onto the scan.
    QueryDef("q_tpch_small_qty",
      (s, d) => {
        val brand = Tables.part(s, d)
          .where(col("p_brand") === "Brand#23" && col("p_size") < 20)
          .select(col("p_partkey"))
        val li = Tables.lineitem(s, d).select(col("l_partkey"),
          floor(col("l_quantity") + 0.5).cast("long").as("q"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("pc"))
        val thr = li.join(broadcast(brand),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey").as("tk"))
          .agg(expr("sum(q) * 20 div count(1)").as("thr_e2"))
        li.join(broadcast(thr), col("l_partkey") === col("tk"))
          .where(col("q") * 100 < col("thr_e2"))
          .agg(count(lit(1)).as("n_items"),
            expr("sum(pc) div 7").as("avg_yearly_cents"))
      },
      Some("""WITH brand AS (SELECT p_partkey FROM part
             |               WHERE p_brand = 'Brand#23' AND p_size < 20),
             |li AS (SELECT l_partkey,
             |              CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
             |              CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             |                AS pc
             |       FROM lineitem),
             |thr AS (SELECT l_partkey AS tk,
             |               CAST(sum(q) AS BIGINT) * 20 // count(*) AS thr_e2
             |        FROM li JOIN brand ON l_partkey = p_partkey
             |        GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_items,
             |       CAST(sum(pc) // 7 AS BIGINT) AS avg_yearly_cents
             |FROM li JOIN thr ON l_partkey = tk
             |WHERE q * 100 < thr_e2""".stripMargin)),

    /* Three TPC-H-flavored relational shapes the
     * q_tpch_* family didn't yet cover, adapted to the shared schema
     * (no partsupp / receipt dates in the testdata) — supplier variety
     * per part class (Q16's distinct-count-with-exclusion shape), sole-
     * blame attribution on multi-supplier orders (Q21's "only one
     * offender" semantics re-expressed as one keyed aggregation instead
     * of EXISTS/NOT-EXISTS chains — the Spark-native plan), and supply
     * concentration (Q20-adjacent: which suppliers dominate a part's
     * volume). All broadcast the dimension sides. */

    // ── Supplier variety: distinct suppliers per (brand, size),
    //    excluding "complaint" suppliers (s_name ending in '7' — the
    //    deterministic stand-in for Q16's LIKE filter), top 20 classes.
    //    One lineitem pass; part + the exclusion list broadcast.
    QueryDef("q_supplier_variety",
      (s, d) => {
        val excl = Tables.supplier(s, d)
          .filter(col("s_name").endsWith("7"))
          .select(col("s_suppkey").as("x_suppkey"))
        val li = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"), col("p_size"))),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(excl),
            col("l_suppkey") === col("x_suppkey"), "left_anti")
        li.groupBy(col("p_brand"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("supplier_cnt").desc, col("p_brand"),
              col("p_size"))))
          .filter(col("rk") <= 20)
          .selectExpr("p_brand", "CAST(p_size AS BIGINT) AS p_size",
            "CAST(supplier_cnt AS BIGINT) AS supplier_cnt",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH li AS (
             |  SELECT l.l_suppkey, p.p_brand, p.p_size
             |  FROM lineitem l
             |  JOIN part p ON l.l_partkey = p.p_partkey
             |  WHERE l.l_suppkey NOT IN (
             |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')),
             |cls AS (SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
             |               CAST(count(DISTINCT l_suppkey) AS BIGINT)
             |                 AS supplier_cnt
             |        FROM li GROUP BY 1, 2)
             |SELECT p_brand, p_size, supplier_cnt, rk
             |FROM (SELECT *, CAST(row_number() OVER (ORDER BY
             |        supplier_cnt DESC, p_brand, p_size) AS BIGINT) AS rk
             |      FROM cls)
             |WHERE rk <= 20""".stripMargin)),

    // ── Sole blame (Q21 semantics, aggregation form): on orders with
    //    ≥2 distinct suppliers where EXACTLY ONE supplier has returned
    //    lines, charge that supplier. One (order, supplier) rollup +
    //    one order rollup + the blame join — three keyed exchanges vs
    //    Q21's four-way EXISTS chain; identical result set.
    QueryDef("q_sole_blame",
      (s, d) => {
        val os = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("ret"))
          .localCheckpoint(false) // order rollup + blame leg
        val ord = os.groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_supp"), sum(col("ret")).as("n_ret"))
          .filter(col("n_supp") >= 2 && col("n_ret") === 1)
        os.filter(col("ret") === 1L)
          .join(ord, "l_orderkey")
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .join(broadcast(Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("numwait").desc, col("s_name"))))
          .filter(col("rk") <= 10)
          .selectExpr("s_name", "CAST(numwait AS BIGINT) AS numwait",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH os AS (
             |  SELECT l_orderkey, l_suppkey,
             |         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
             |             END) AS ret
             |  FROM lineitem GROUP BY 1, 2),
             |ord AS (SELECT l_orderkey
             |        FROM os GROUP BY 1
             |        HAVING count(*) >= 2 AND sum(ret) = 1),
             |blame AS (SELECT os.l_suppkey,
             |                 CAST(count(*) AS BIGINT) AS numwait
             |          FROM os JOIN ord ON os.l_orderkey = ord.l_orderkey
             |          WHERE os.ret = 1
             |          GROUP BY 1)
             |SELECT s_name, numwait, rk
             |FROM (SELECT s.s_name, b.numwait,
             |             CAST(row_number() OVER (ORDER BY b.numwait DESC,
             |               s.s_name) AS BIGINT) AS rk
             |      FROM blame b JOIN supplier s
             |        ON b.l_suppkey = s.s_suppkey)
             |WHERE rk <= 10""".stripMargin)),

    // ── Supply concentration: per part, the 1997 volume share of its
    //    top supplier (exact e6 on integer quantities); parts above 50%
    //    roll up to the dominating supplier — who controls the most
    //    part markets. One (part, supplier) rollup; window on the part
    //    key reuses the same partitioning.
    QueryDef("q_supply_concentration",
      (s, d) => {
        val ps = Tables.lineitem(s, d)
          .filter(expr("year(l_shipdate) = 1997"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity").cast("long")).as("q"))
        val shared = ps
          .withColumn("tot", sum(col("q")).over(
            Window.partitionBy(col("l_partkey"))))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("l_partkey"))
              .orderBy(col("q").desc, col("l_suppkey"))))
          .filter(col("rk") === 1)
          .withColumn("share_e6", expr("q * 1000000 div tot"))
          .filter(col("share_e6") > 500000L)
        shared.groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_dominated"),
            sum(col("q")).as("q_dominated"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("n_dominated").desc, col("l_suppkey"))))
          .filter(col("rk") <= 10)
          .selectExpr("l_suppkey AS suppkey",
            "CAST(n_dominated AS BIGINT) AS n_dominated",
            "CAST(q_dominated AS BIGINT) AS q_dominated",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey, l_suppkey,
             |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
             |           AS q
             |  FROM lineitem WHERE year(l_shipdate) = 1997
             |  GROUP BY 1, 2),
             |sh AS (SELECT l_partkey, l_suppkey, q,
             |              CAST(sum(q) OVER (PARTITION BY l_partkey)
             |                AS BIGINT) AS tot,
             |              row_number() OVER (PARTITION BY l_partkey
             |                ORDER BY q DESC, l_suppkey) AS rk
             |       FROM ps),
             |dom AS (SELECT l_suppkey,
             |               CAST(count(*) AS BIGINT) AS n_dominated,
             |               CAST(sum(q) AS BIGINT) AS q_dominated
             |        FROM sh
             |        WHERE rk = 1 AND q * 1000000 // tot > 500000
             |        GROUP BY 1)
             |SELECT l_suppkey AS suppkey, n_dominated, q_dominated, rk
             |FROM (SELECT *, CAST(row_number() OVER (ORDER BY n_dominated
             |        DESC, l_suppkey) AS BIGINT) AS rk
             |      FROM dom)
             |WHERE rk <= 10""".stripMargin))
  )
}
