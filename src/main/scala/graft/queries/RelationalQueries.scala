package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Behavior, Hierarchy, History, IntervalJoin, Quantiles,
  Ranking, Sampling, Skyline, Snapshot, TimeSeries}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational capability over the shared star schema: multi-way joins,
  * rollup/grouping sets, window frames, set operations, pivot/unpivot,
  * as-of and interval joins, skylines, and temporal (SCD2, bitemporal,
  * snapshot) shapes. */
object RelationalQueries extends QueryCatalog {

  import Fixtures._

  private def centsFloor(c: String) = floor(col(c) * 100 + 0.5)

  /** Synthetic epoch mapping events (2024) into the orders era (1997+):
    * 1997-01-01 + (ts − 2024-01-01)×20, in exact integer seconds. */
  private val eAsofEpoch = "852076800 + (CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) * 20"

  def defs: Seq[QueryDef] = Seq(

    /* Relational capability extensions over the shared star schema
     * (SURVEY.md §7.4): multi-way joins with broadcast dims, rollup/grouping
     * sets, distinct and approximate aggregation, window functions, semi/anti
     * joins, and an as-of join built the scale-correct way (union + ordered
     * window, no range-explosion join).
     *
     * Money columns are integer-ized to cents (`floor(x*100 + 0.5)`) before
     * summing so results are exact integers — immune to FP summation-order
     * differences between engines at any scale factor. */

    // ── TPC-H Q1-shaped pricing summary (partial+final hash agg, pushdown
    //    filter reaches the parquet scan).
    QueryDef("q_tpch_pricing",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .withColumn("cents", centsFloor("l_extendedprice"))
        .withColumn("discpct", centsFloor("l_discount"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(col("cents")).as("sum_base_cents"),
          sum(col("cents") * (lit(100L) - col("discpct"))).as("sum_disc_cp"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("cnt")),
      Some(s"""SELECT l_returnflag, l_linestatus,
              |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
              |       CAST(sum(${cents("l_extendedprice")}) AS BIGINT) AS sum_base_cents,
              |       CAST(sum(${cents("l_extendedprice")} * (100 - ${cents("l_discount")})) AS BIGINT) AS sum_disc_cp,
              |       round(avg(l_quantity), 4) AS avg_qty,
              |       count(*) AS cnt
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
              |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // ── Five-way star join: fact shuffles once; all dims broadcast.
    QueryDef("q_star_join",
      (s, d) => Tables.lineitem(s, d)
        .withColumn("cents", centsFloor("l_extendedprice"))
        .withColumn("discpct", centsFloor("l_discount"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"), col("r_name"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("cents") * (lit(100L) - col("discpct"))).as("rev_cp")),
      Some(s"""SELECT n_name, r_name, count(*) AS cnt,
              |       CAST(sum(${cents("l_extendedprice")} * (100 - ${cents("l_discount")})) AS BIGINT) AS rev_cp
              |FROM lineitem
              |JOIN orders   ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation   ON c_nationkey = n_nationkey
              |JOIN region   ON n_regionkey = r_regionkey
              |GROUP BY n_name, r_name""".stripMargin)),

    // ── Top-k with deterministic tie-break (TakeOrderedAndProject).
    QueryDef("q_topk_orders",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"), centsFloor("o_totalprice").as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey").asc)
        .limit(10),
      Some(s"""SELECT o_orderkey, ${cents("o_totalprice")} AS price_cents
              |FROM orders ORDER BY price_cents DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    // ── ROLLUP with grouping indicators.
    QueryDef("q_rollup",
      (s, d) => Tables.orders(s, d)
        .withColumn("price_cents", centsFloor("o_totalprice"))
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), sum(col("price_cents")).as("sum_cents"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio")),
      Some(s"""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
              |       CAST(sum(${cents("o_totalprice")}) AS BIGINT) AS sum_cents,
              |       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
              |       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
              |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin)),

    // ── Explicit GROUPING SETS (SQL surface).
    QueryDef("q_grouping_sets",
      (s, d) => {
        Tables.orders(s, d).withColumn("price_cents", centsFloor("o_totalprice"))
          .createOrReplaceTempView("orders_pc")
        s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
                |       sum(price_cents) AS sum_cents
                |FROM orders_pc
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)
      },
      Some(s"""SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
              |       CAST(sum(${cents("o_totalprice")}) AS BIGINT) AS sum_cents
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin)),

    // ── Window functions: row_number, lag, running sum (sequential frame —
    //    bit-identical across engines before the safety rounding).
    QueryDef("q_window_funcs",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("run_sum", round(sum(col("value"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("ts_es"), col("rn"), col("prev_value"), col("run_sum"))
      },
      Some("""SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_es,
             |       row_number() OVER w AS rn,
             |       lag(value, 1) OVER w AS prev_value,
             |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_sum
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // ── RANGE window frame (value-based, vs q_window_funcs' ROWS frame):
    //    per event, neighbors within ±50 of its value among same-type events.
    QueryDef("q_range_frame",
      (s, d) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
          .rangeBetween(-50L, 50L)
        Tables.events(s, d)
          .withColumn("n_near", count(lit(1)).over(w))
          .select(col("event_id"), col("event_type"), col("n_near"))
      },
      Some("""SELECT event_id, event_type,
             |       count(*) OVER (PARTITION BY event_type ORDER BY value
             |                      RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING) AS n_near
             |FROM events""".stripMargin)),

    // ── As-of join (events ↦ most recent order at-or-before the mapped
    //    event time). Scale path: tag + union + one ordered window pass —
    //    never a t1.t >= t2.t range join, which explodes at 100 TB.
    QueryDef("q_asof_join",
      (s, d) => {
        val queries = Tables.events(s, d).select(
          col("user_id").as("k"),
          (lit(852076800L) + (unix_timestamp(col("ts")) - lit(1704067200L)) * 20).as("t"),
          lit(1).as("tag"), col("event_id"),
          lit(null).cast("long").as("o_orderkey"))
        val refs = Tables.orders(s, d).select(
          col("o_custkey").as("k"),
          unix_timestamp(col("o_orderdate")).as("t"),
          lit(0).as("tag"), lit(null).cast("long").as("event_id"),
          col("o_orderkey"))
        val w = Window.partitionBy(col("k"))
          .orderBy(col("t"), col("tag"), coalesce(col("o_orderkey"), col("event_id")))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        refs.unionByName(queries)
          .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
          .filter(col("tag") === 1)
          .select(col("event_id"), col("k").as("user_id"), col("t").as("t_es"),
            col("asof_orderkey"))
      },
      Some(s"""SELECT e.event_id, e.user_id, $eAsofEpoch AS t_es,
              |  (SELECT o.o_orderkey FROM orders o
              |    WHERE o.o_custkey = e.user_id
              |      AND CAST(floor(epoch(o.o_orderdate)) AS BIGINT) <= $eAsofEpoch
              |    ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1) AS asof_orderkey
              |FROM events e""".stripMargin)),

    // ── Semi/anti joins (EXISTS / NOT EXISTS).
    QueryDef("q_semi_anti",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
          .withColumn("kind", lit("with"))
        val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("cnt"))
          .withColumn("kind", lit("without"))
        semi.unionByName(anti)
      },
      Some("""SELECT c_nationkey, count(*) AS cnt, 'with' AS kind FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |GROUP BY c_nationkey
             |UNION ALL
             |SELECT c_nationkey, count(*) AS cnt, 'without' AS kind FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |GROUP BY c_nationkey""".stripMargin)),

    // ── Exact distinct aggregation (expand + two-phase agg).
    QueryDef("q_distinct_agg",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("dparts"),
          countDistinct(col("l_suppkey")).as("dsupps"),
          count(lit(1)).as("cnt")),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS dparts,
             |       count(DISTINCT l_suppkey) AS dsupps, count(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ── Set operations (INTERSECT/EXCEPT — absent from the reference,
    //    SURVEY §2.7): buyers vs clickers user sets.
    QueryDef("q_set_ops",
      (s, d) => {
        val ev = Tables.events(s, d)
        def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
        // scalar aggregates (not groupBy over the set) so an EMPTY set still
        // yields its 0-count row, matching the oracle's SELECT count(*)
        val both = users("purchase").intersect(users("click"))
          .agg(count(lit(1)).as("n_users")).withColumn("kind", lit("purchase_and_click"))
        val only = users("purchase").except(users("click"))
          .agg(count(lit(1)).as("n_users")).withColumn("kind", lit("purchase_no_click"))
        both.unionByName(only).select(col("kind"), col("n_users"))
      },
      Some("""SELECT 'purchase_and_click' AS kind, count(*) AS n_users FROM (
             |  SELECT user_id FROM events WHERE event_type = 'purchase'
             |  INTERSECT
             |  SELECT user_id FROM events WHERE event_type = 'click') t
             |UNION ALL
             |SELECT 'purchase_no_click' AS kind, count(*) AS n_users FROM (
             |  SELECT user_id FROM events WHERE event_type = 'purchase'
             |  EXCEPT
             |  SELECT user_id FROM events WHERE event_type = 'click') u""".stripMargin)),

    // ── Exact row-level dedup via dropDuplicates (projection-level DISTINCT;
    //    the streaming twin dropDuplicatesWithinWatermark is spec-covered).
    QueryDef("q_drop_duplicates",
      (s, d) => Tables.events(s, d)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates(),
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    // ── Pivot: per-user-bucket counts fanned across event types (explicit
    //    value list keeps the plan single-pass; oracle via CASE aggregation).
    QueryDef("q_pivot",
      (s, d) => Tables.events(s, d)
        .withColumn("ub", col("user_id") % 5)
        .groupBy(col("ub"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L), // empty combos: pivot yields NULL, the oracle's count(CASE) yields 0
      Some("""SELECT user_id % 5 AS ub,
             |       CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
             |       CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
             |       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
             |       CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
             |       CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
             |FROM events GROUP BY user_id % 5""".stripMargin)),

    // ── Statistical aggregates: exact interpolated percentiles, sample
    //    stddev, Pearson correlation (identical definitions both engines).
    QueryDef("q_stats_agg",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.9)"), 4).as("p90"),
          round(stddev_samp(col("value")), 4).as("sd"),
          round(corr(col("value"), col("user_id").cast("double")), 6).as("corr_vu"),
          count(lit(1)).as("cnt")),
      Some("""SELECT event_type,
             |       round(quantile_cont(value, 0.5), 4) AS p50,
             |       round(quantile_cont(value, 0.9), 4) AS p90,
             |       round(stddev_samp(value), 4) AS sd,
             |       round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_vu,
             |       count(*) AS cnt
             |FROM events GROUP BY event_type""".stripMargin)),

    // ── Histogram-sketch quantiles ([[graft.ops.Quantiles]]): the
    //    mergeable O(bins) scale path next to q_stats_agg's exact
    //    percentile (which buffers every value per group).
    QueryDef("q_quantile_hist",
      (s, d) => graft.ops.Quantiles.fromHistogram(
        graft.ops.Quantiles.histogram(Tables.events(s, d), "event_type", "value"),
        "event_type", Seq(0.5, 0.9)),
      Some("""WITH h AS (SELECT event_type,
             |                  least(CAST(floor(value / 2.0) AS BIGINT), 255) AS bin,
             |                  count(*) AS cnt
             |           FROM events GROUP BY 1, 2),
             |c AS (SELECT event_type, bin, cnt,
             |             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |             sum(cnt) OVER (PARTITION BY event_type) AS total
             |      FROM h),
             |x AS (SELECT c.*, p.p, p.p * c.total AS target
             |      FROM c CROSS JOIN (VALUES (CAST('0.5' AS DOUBLE)),
             |                                (CAST('0.9' AS DOUBLE))) p(p)
             |      WHERE c.cum >= p.p * c.total),
             |r AS (SELECT *, row_number() OVER (PARTITION BY event_type, p ORDER BY bin) AS rn
             |      FROM x)
             |SELECT event_type, p,
             |       round(bin * 2.0 + 2.0 * (target - (cum - cnt)) / cnt, 4) AS q_est
             |FROM r WHERE rn = 1""".stripMargin)),

    // ── Array collection ops (§2.10): collect_set canonicalized by
    //    sort_array so the set-valued result is deterministic cross-engine.
    QueryDef("q_collect_ops",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          array_join(sort_array(collect_set(col("event_type"))), ",").as("types_str"),
          size(collect_set(col("event_type"))).cast("long").as("n_types"),
          count(lit(1)).as("cnt")),
      Some("""SELECT user_id,
             |       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_str,
             |       count(DISTINCT event_type) AS n_types,
             |       count(*) AS cnt
             |FROM events GROUP BY user_id""".stripMargin)),

    // ── Map-typed columns (§2.10): props parsed as map<string,int>,
    //    observed via scalar projections (sorted keys + value sum).
    QueryDef("q_map_ops",
      (s, d) => Tables.events(s, d)
        .withColumn("m", from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
        .select(col("event_id"),
          array_join(sort_array(map_keys(col("m"))), ",").as("keys_str"),
          aggregate(map_values(col("m")), lit(0L), (acc, x) => acc + x).as("vals_sum")),
      Some("""SELECT event_id, 'k' AS keys_str,
             |       CAST(regexp_extract(props, '"k": *(-?\d+)', 1) AS BIGINT) AS vals_sum
             |FROM events""".stripMargin)),

    // ── Deterministic stratified sampling ([[graft.ops.Sampling]]): keep
    //    10% of 'view' events, 50% of everything else, decided by the
    //    portable content hash — observable via per-stratum counts/sums.
    QueryDef("q_sample_stratified",
      (s, d) => {
        val rate = when(col("event_type") === "view", lit(10)).otherwise(lit(50))
        val kept = graft.ops.Sampling.keepHash(col("event_id").cast("string"), "samp", rate)
        Tables.events(s, d).groupBy(col("event_type"))
          .agg(count(lit(1)).as("total"),
            sum(when(kept, 1L).otherwise(0L)).as("sampled"),
            round(sum(when(kept, col("value"))), 4).as("sampled_value"))
      },
      Some {
        val h = PortableSql.hash48("CAST(event_id AS VARCHAR)", "'samp'")
        s"""SELECT event_type, count(*) AS total,
           |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS sampled,
           |       round(sum(CASE WHEN kept THEN value END), 4) AS sampled_value
           |FROM (SELECT event_type, value,
           |             $h % 100 < CASE WHEN event_type = 'view' THEN 10 ELSE 50 END AS kept
           |      FROM events) t
           |GROUP BY event_type""".stripMargin
      }),

    // ── Approximate distinct via the KMV sketch ([[graft.functions.KmvDistinct]]):
    //    integer-only estimator over the portable 48-bit hash, so unlike
    //    HLL the sketch output itself is oracle-checkable bit-for-bit.
    //    (Spark's builtin HLL approx_count_distinct is exercised in the
    //    spec suite with a tolerance assert — its sketch is engine-specific.)
    QueryDef("q_approx_distinct",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(graft.functions.KmvDistinct.kmv_distinct(col("user_id")).as("approx_users"),
          count(lit(1)).as("cnt")),
      Some {
        val h = PortableSql.hash48("CAST(user_id AS VARCHAR)", "'kmv'")
        s"""WITH b AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
           |hs AS (SELECT DISTINCT event_type, $h AS h FROM events),
           |r AS (SELECT event_type, h,
           |             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
           |             count(*) OVER (PARTITION BY event_type) AS nh
           |      FROM hs),
           |e AS (SELECT event_type,
           |             CAST(CASE WHEN max(nh) < 64 THEN max(nh)
           |                  ELSE 63 * 281474976710656 // min(CASE WHEN rn = 64 THEN h END)
           |                  END AS BIGINT) AS approx_users
           |      FROM r GROUP BY 1)
           |SELECT b.event_type, e.approx_users, b.cnt
           |FROM b JOIN e USING (event_type)""".stripMargin
      }),

    // ── CUBE over two dims with grouping indicators.
    QueryDef("q_cube",
      (s, d) => Tables.events(s, d)
        .withColumn("user_bucket", col("user_id") % 10)
        .cube(col("event_type"), col("user_bucket"))
        .agg(count(lit(1)).as("cnt"),
          grouping(col("event_type")).cast("int").as("g_type"),
          grouping(col("user_bucket")).cast("int").as("g_user")),
      Some("""SELECT event_type, user_id % 10 AS user_bucket, count(*) AS cnt,
             |       CAST(GROUPING(event_type) AS INTEGER) AS g_type,
             |       CAST(GROUPING(user_id % 10) AS INTEGER) AS g_user
             |FROM events GROUP BY CUBE (event_type, user_id % 10)""".stripMargin)),

    // ── Bucket-blocked batch interval self-join ([[IntervalJoin]]): pairs
    //    of orders from the same customer within 30 days — an equi-join on
    //    (customer, time-cell) instead of a per-customer cross join.
    QueryDef("q_interval_pairs",
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("es"))
        IntervalJoin.selfPairsWithin(o, "o_custkey", "o_orderkey", "es", 2592000L)
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_pairs"))
      },
      Some("""WITH o AS (SELECT o_custkey, o_orderkey,
             |                  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS es FROM orders)
             |SELECT a.o_custkey, count(*) AS n_pairs
             |FROM o a JOIN o b ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
             |  AND abs(a.es - b.es) <= 2592000
             |GROUP BY 1""".stripMargin)),

    // ── NTILE decile bucketing: customers ranked into 10 equal-size
    //    account-balance bands — the quantile-bucketing window function
    //    (ties broken by key for a deterministic band edge), observed as
    //    per-band size + cent-exact balance range.
    QueryDef("q_ntile_buckets",
      (s, d) => {
        // ntile(10) computed ARITHMETICALLY from the distributed global
        // rank (Ranks.globalRowNumber — range partitions + offsets), not
        // from an unpartitioned window: identical bucket assignment
        // (SQL ntile semantics: first n%10 buckets get one extra row),
        // but no single-partition sort of the whole table.
        val ranked = graft.ops.Ranks.globalRowNumber(
          Tables.customer(s, d)
            .select(col("c_custkey"),
              floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bal_c")),
          Seq(col("bal_c").asc, col("c_custkey").asc), "r")
        // count from the BASE frame (a bare scan), not `ranked` — the
        // latter would re-plan the whole rank subtree under the broadcast
        val tot = Tables.customer(s, d).agg(count(lit(1)).as("nt"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("decile", expr(decileOfRank).cast("long"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n"), min(col("bal_c")).as("min_bal_c"),
            max(col("bal_c")).as("max_bal_c"))
      },
      Some("""WITH t AS (SELECT c_custkey,
             |                  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
             |           FROM customer),
             |d AS (SELECT bal_c,
             |             CAST(ntile(10) OVER (ORDER BY bal_c ASC, c_custkey ASC) AS BIGINT) AS decile
             |      FROM t)
             |SELECT decile, count(*) AS n, min(bal_c) AS min_bal_c, max(bal_c) AS max_bal_c
             |FROM d GROUP BY 1""".stripMargin)),

    // ── SCD2 change-capture over each user's event-type stream: one row
    //    per run of equal types with validity bounds and a current flag.
    QueryDef("q_scd2_intervals",
      (s, d) => History.scd2(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_type"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS et FROM events),
             |c AS (SELECT user_id, t, et, lag(et) OVER w AS prev, lag(t) OVER w AS prev_t
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
             |ch AS (SELECT user_id, t, et FROM c WHERE prev_t IS NULL OR prev <> et)
             |SELECT user_id, t AS valid_from_us, et AS attr,
             |       lead(t) OVER w2 AS valid_to_us,
             |       lead(t) OVER w2 IS NULL AS is_current
             |FROM ch WINDOW w2 AS (PARTITION BY user_id ORDER BY t)""".stripMargin)),

    // ── Skyline of customers trading off order count (maximize) against
    //    cheapest order price in cents (minimize). The oracle mirrors the
    //    x-level sweep, not the quadratic NOT-EXISTS check, so it stays
    //    linear at every SF.
    QueryDef("q_skyline",
      (s, d) => {
        val pts = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            min(floor(col("o_totalprice") * 100 + 0.5)).as("min_price_cents"))
        Skyline.skyline2D(pts, "n_orders", "min_price_cents")
      },
      Some("""WITH pts AS (SELECT o_custkey, count(*) AS n_orders,
             |                    min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS min_price_cents
             |             FROM orders GROUP BY o_custkey),
             |lv AS (SELECT n_orders AS x, min(min_price_cents) AS min_y FROM pts GROUP BY 1),
             |f AS (SELECT x, min_y, min(min_y) OVER (ORDER BY x DESC
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS better FROM lv)
             |SELECT p.o_custkey, p.n_orders, p.min_price_cents
             |FROM pts p JOIN f ON p.n_orders = f.x AND p.min_price_cents = f.min_y
             |WHERE f.better IS NULL OR f.min_y < f.better""".stripMargin)),

    // ── Batch CDC between two synthetic snapshot versions of the events
    //    table: per-key digest (count + order-independent portable-hash
    //    sum), one full outer join, delta-only output.
    QueryDef("q_snapshot_diff",
      (s, d) => {
        val ev = Tables.events(s, d)
        val v1 = ev.filter(col("event_id") % 7 =!= 0 && col("user_id") % 13 =!= 0)
        val v2 = ev.filter(col("event_id") % 11 =!= 0 && col("user_id") % 17 =!= 0)
        Snapshot.diff(v1, v2, "user_id", "event_id")
      },
      Some {
        val h = PortableSql.hash48("CAST(event_id AS VARCHAR)", "'snap'")
        s"""WITH v1 AS (SELECT user_id, event_id FROM events
           |            WHERE event_id % 7 <> 0 AND user_id % 13 <> 0),
           |v2 AS (SELECT user_id, event_id FROM events
           |       WHERE event_id % 11 <> 0 AND user_id % 17 <> 0),
           |a AS (SELECT user_id AS k, count(*) AS n1, CAST(sum($h) AS BIGINT) AS h1
           |      FROM v1 GROUP BY 1),
           |b AS (SELECT user_id AS k, count(*) AS n2, CAST(sum($h) AS BIGINT) AS h2
           |      FROM v2 GROUP BY 1),
           |j AS (SELECT coalesce(a.k, b.k) AS user_id,
           |             CASE WHEN a.k IS NULL THEN 'added'
           |                  WHEN b.k IS NULL THEN 'removed'
           |                  WHEN n1 <> n2 OR h1 <> h2 THEN 'changed'
           |                  ELSE 'unchanged' END AS status
           |      FROM a FULL OUTER JOIN b ON a.k = b.k)
           |SELECT user_id, status FROM j WHERE status <> 'unchanged'""".stripMargin
      }),

    // ── Column-attributed snapshot CDC: v2 mutates event_type on a slice
    //    of rows and drops/adds users, so `changed` keys name the column.
    QueryDef("q_snapshot_cols",
      (s, d) => {
        val ev = Tables.events(s, d)
        val v1 = ev.filter(col("user_id") % 13 =!= 0)
        val v2 = ev.filter(col("user_id") % 17 =!= 0)
          .withColumn("event_type",
            when(col("event_id") % 31 === 0, lit("modified"))
              .otherwise(col("event_type")))
        // Driver-portability: serialize the changed-column list to a CSV
        // string (the checker's pandas sort cannot hash list cells).
        Snapshot.diffColumns(v1, v2, "user_id", Seq("event_type", "props"))
          .withColumn("changed_cols", concat_ws(",", col("changed_cols")))
      },
      Some {
        val het = PortableSql.hash48("CAST(event_type AS VARCHAR)", "'event_type'")
        val hpr = PortableSql.hash48("CAST(props AS VARCHAR)", "'props'")
        s"""WITH v1 AS (SELECT user_id, event_type, props FROM events WHERE user_id % 13 <> 0),
           |v2 AS (SELECT user_id,
           |              CASE WHEN event_id % 31 = 0 THEN 'modified' ELSE event_type END AS event_type,
           |              props
           |       FROM events WHERE user_id % 17 <> 0),
           |a AS (SELECT user_id AS k, count(*) AS n1, CAST(sum($het) AS BIGINT) AS h1_et,
           |             CAST(sum($hpr) AS BIGINT) AS h1_pr FROM v1 GROUP BY 1),
           |b AS (SELECT user_id AS k, count(*) AS n2, CAST(sum($het) AS BIGINT) AS h2_et,
           |             CAST(sum($hpr) AS BIGINT) AS h2_pr FROM v2 GROUP BY 1),
           |j AS (SELECT coalesce(a.k, b.k) AS user_id, a.k AS ak, b.k AS bk,
           |             n1, n2, h1_et, h2_et, h1_pr, h2_pr
           |      FROM a FULL OUTER JOIN b ON a.k = b.k),
           |c AS (SELECT user_id,
           |             CASE WHEN ak IS NULL THEN 'added' WHEN bk IS NULL THEN 'removed'
           |                  WHEN n1 <> n2 OR h1_et IS DISTINCT FROM h2_et
           |                    OR h1_pr IS DISTINCT FROM h2_pr THEN 'changed'
           |                  ELSE 'unchanged' END AS status,
           |             h1_et, h2_et, h1_pr, h2_pr FROM j)
           |SELECT user_id, status,
           |       coalesce(array_to_string(
           |         CASE WHEN status = 'changed' THEN
           |                list_filter([CASE WHEN h1_et IS DISTINCT FROM h2_et THEN 'event_type' END,
           |                             CASE WHEN h1_pr IS DISTINCT FROM h2_pr THEN 'props' END],
           |                            x -> x IS NOT NULL)
           |              ELSE CAST([] AS VARCHAR[]) END, ','), '') AS changed_cols
           |FROM c WHERE status <> 'unchanged'""".stripMargin
      }),

    // ── 3-D skyline of customers: order count (max) vs cheapest order
    //    (min) vs first-purchase epoch (min) — "prolific, cheap, early".
    //    The oracle affords the quadratic NOT-EXISTS; the engine runs
    //    level-reduce → per-x sweep → small broadcast anti-join.
    QueryDef("q_skyline_3d",
      (s, d) => {
        val pts = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            min(floor(col("o_totalprice") * 100 + 0.5)).as("min_price_cents"),
            min(unix_timestamp(col("o_orderdate"))).as("first_s"))
        Skyline.skyline3D(pts, "n_orders", "min_price_cents", "first_s")
      },
      Some("""WITH pts AS (SELECT o_custkey, count(*) AS n_orders,
             |                    min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS min_price_cents,
             |                    CAST(min(epoch(o_orderdate)) AS BIGINT) AS first_s
             |             FROM orders GROUP BY 1)
             |SELECT p.o_custkey, p.n_orders, p.min_price_cents, p.first_s
             |FROM pts p
             |WHERE NOT EXISTS (SELECT 1 FROM pts q
             |  WHERE q.n_orders >= p.n_orders AND q.min_price_cents <= p.min_price_cents
             |    AND q.first_s <= p.first_s
             |    AND (q.n_orders > p.n_orders OR q.min_price_cents < p.min_price_cents
             |         OR q.first_s < p.first_s))""".stripMargin)),

    // ── Trailing-24h distinct event-type count at every event, via the
    //    interval-stabbing +1/−1 identity (one exchange; the oracle pays
    //    the quadratic correlated subquery instead).
    QueryDef("q_sliding_distinct",
      (s, d) => Behavior.slidingDistinct(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_id", "event_type", 86400000000L)
        .select(col("tie").as("event_id"), col("entity").as("user_id"),
          col("n_distinct")),
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type AS et FROM events)
             |SELECT e.event_id, e.user_id,
             |       (SELECT CAST(count(DISTINCT e2.et) AS BIGINT) FROM e e2
             |        WHERE e2.user_id = e.user_id
             |          AND e2.t > e.t - 86400000000 AND e2.t <= e.t) AS n_distinct
             |FROM e""".stripMargin)),

    // ── Running distinct event-type count per user at every event — the
    //    first-occurrence-flag + running-sum identity, one exchange.
    QueryDef("q_cum_distinct",
      (s, d) => Behavior.cumulativeDistinct(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_id", "event_type")
        .select(col("event_id"), col("user_id"), col("n_distinct")),
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t, event_type AS et FROM events),
             |f AS (SELECT event_id, user_id, t,
             |        CASE WHEN lag(et) OVER (PARTITION BY user_id ORDER BY et, t, event_id)
             |               IS DISTINCT FROM et THEN 1 ELSE 0 END AS is_first
             |      FROM e)
             |SELECT event_id, user_id,
             |       CAST(sum(is_first) OVER (PARTITION BY user_id ORDER BY t, event_id
             |                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_distinct
             |FROM f""".stripMargin)),

    // ── 4-D skyline over lineitem: maximize quantity (negated), minimize
    //    price bucket, discount, tax. The oracle level-reduces the same
    //    way before its quadratic NOT EXISTS, which is sound because a
    //    level-dominated vector's dominatees are covered by the level min
    //    (transitivity) — so skyline(levels) = skyline(all vectors).
    QueryDef("q_skyline_4d",
      (s, d) => Skyline.skylineND(
        Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          (-col("l_quantity").cast("long")).as("neg_qty"),
          expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) div 1000000")
            .as("price_b"),
          floor(col("l_discount") * 100 + 0.5).cast("long").as("disc_e2"),
          floor(col("l_tax") * 100 + 0.5).cast("long").as("tax_e2")),
        Seq("neg_qty", "price_b", "disc_e2", "tax_e2")),
      Some("""WITH t AS (SELECT l_orderkey, l_linenumber,
             |                 -CAST(l_quantity AS BIGINT) AS neg_qty,
             |                 CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) // 1000000 AS price_b,
             |                 CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_e2,
             |                 CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tax_e2
             |          FROM lineitem),
             |lv AS (SELECT neg_qty, price_b, disc_e2, min(tax_e2) AS tax_e2
             |       FROM t GROUP BY 1, 2, 3),
             |sky AS (SELECT * FROM lv p WHERE NOT EXISTS (
             |          SELECT 1 FROM lv q
             |          WHERE q.neg_qty <= p.neg_qty AND q.price_b <= p.price_b
             |            AND q.disc_e2 <= p.disc_e2 AND q.tax_e2 <= p.tax_e2
             |            AND (q.neg_qty < p.neg_qty OR q.price_b < p.price_b
             |                 OR q.disc_e2 < p.disc_e2 OR q.tax_e2 < p.tax_e2)))
             |SELECT t.* FROM t
             |JOIN sky USING (neg_qty, price_b, disc_e2, tax_e2)""".stripMargin)),

    // ── Interval-union coverage: every event opens a 30-minute exposure
    //    window; per type, merged segment count and covered seconds.
    QueryDef("q_interval_coverage",
      (s, d) => IntervalJoin.coverage(
        Tables.events(s, d)
          .withColumn("t_s", expr("unix_micros(ts) div 1000000"))
          .select(col("event_type"), col("t_s").as("s0"),
            (col("t_s") + 1800L).as("e0")),
        "event_type", "s0", "e0"),
      Some("""WITH iv AS (SELECT event_type AS key,
             |                  epoch_us(ts) // 1000000 AS s,
             |                  epoch_us(ts) // 1000000 + 1800 AS e
             |           FROM events),
             |w AS (SELECT key, s, e,
             |             max(e) OVER (PARTITION BY key ORDER BY s, e
             |                          ROWS BETWEEN UNBOUNDED PRECEDING
             |                          AND 1 PRECEDING) AS prev_max
             |      FROM iv),
             |f AS (SELECT key, s, e,
             |             CASE WHEN prev_max IS NULL OR s > prev_max
             |                  THEN 1 ELSE 0 END AS brk
             |      FROM w),
             |g AS (SELECT key, s, e,
             |             sum(brk) OVER (PARTITION BY key ORDER BY s, e
             |                            ROWS UNBOUNDED PRECEDING) AS seg
             |      FROM f),
             |seg AS (SELECT key, seg, min(s) AS seg_s, max(e) AS seg_e,
             |               count(*) AS n_iv
             |        FROM g GROUP BY key, seg)
             |SELECT key, CAST(count(*) AS BIGINT) AS n_segments,
             |       CAST(sum(n_iv) AS BIGINT) AS n_intervals,
             |       CAST(sum(seg_e - seg_s) AS BIGINT) AS covered
             |FROM seg GROUP BY key""".stripMargin)),

    // ── Nearest-event join: sampled probes (event_id % 100 = 0) matched
    //    to the closest other event of the same type in EITHER direction;
    //    the oracle does the quadratic argmin the window trick avoids.
    QueryDef("q_nearest_event",
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("t_us", unix_micros(col("ts")))
        TimeSeries.nearestEvent(
          ev.filter(col("event_id") % 100 === 0),
          ev.filter(col("event_id") % 100 =!= 0),
          "event_type", "t_us", "event_id")
      },
      Some("""WITH e AS (SELECT event_type AS key, epoch_us(ts) AS t,
             |                 event_id AS id FROM events),
             |l AS (SELECT * FROM e WHERE id % 100 = 0),
             |r AS (SELECT * FROM e WHERE id % 100 <> 0),
             |j AS (SELECT l.key, l.id AS left_id, r.id AS rid,
             |             abs(r.t - l.t) AS dist, r.t AS rt
             |      FROM l LEFT JOIN r ON r.key = l.key),
             |p AS (SELECT key, left_id, rid, dist,
             |             row_number() OVER (PARTITION BY key, left_id
             |                                ORDER BY dist, rt, rid) AS pk
             |      FROM j)
             |SELECT key, left_id, rid AS right_id, CAST(dist AS BIGINT) AS gap
             |FROM p WHERE pk = 1""".stripMargin)),

    // ── Multi-series clock alignment: all event types forward-filled
    //    onto one 6-hour grid (last-known value per tick, NULL before a
    //    series starts). Oracle is DuckDB's native ASOF join.
    QueryDef("q_align_clock",
      (s, d) => TimeSeries.alignClock(
        Tables.events(s, d)
          .withColumn("t_s", expr("unix_micros(ts) div 1000000"))
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long")),
        "event_type", "t_s", "event_id", "cents", 21600L),
      Some("""WITH obs AS (SELECT event_type AS series, epoch_us(ts) // 1000000 AS t,
             |                    arg_max(CAST(floor(value * 100 + 0.5) AS BIGINT),
             |                            event_id) AS c
             |             FROM events GROUP BY 1, 2),
             |b AS (SELECT min(t) AS t0, max(t) AS t1
             |      FROM (SELECT epoch_us(ts) // 1000000 AS t FROM events)),
             |ticks AS (SELECT unnest(generate_series((b.t0 // 21600) * 21600,
             |                                        b.t1, 21600)) AS t FROM b),
             |grid AS (SELECT s.series, ticks.t
             |         FROM (SELECT DISTINCT series FROM obs) s CROSS JOIN ticks)
             |SELECT grid.series, grid.t AS bucket_es, obs.c AS v_cents
             |FROM grid ASOF LEFT JOIN obs
             |  ON obs.series = grid.series AND obs.t <= grid.t""".stripMargin)),

    // ── Top-3 customers-per-priority with an "other" rollup: identity
    //    for the head, one deterministic bucket for the tail.
    QueryDef("q_topk_other",
      (s, d) => graft.ops.Ranking.topKWithOther(
        Tables.orders(s, d).select(col("o_orderpriority").as("grp"),
          (col("o_custkey") % 10).as("member"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")),
        "grp", "member", "cents", 3),
      Some("""WITH t AS (SELECT o_orderpriority AS grp, o_custkey % 10 AS member,
             |                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total
             |           FROM orders GROUP BY 1, 2),
             |r AS (SELECT grp, member, total,
             |             row_number() OVER (PARTITION BY grp
             |                                ORDER BY total DESC, member) AS rk
             |      FROM t)
             |SELECT grp,
             |       CASE WHEN rk <= 3 THEN CAST(member AS VARCHAR) ELSE 'other' END AS who,
             |       CAST(sum(total) AS BIGINT) AS total,
             |       CAST(count(*) AS BIGINT) AS n_members
             |FROM r GROUP BY 1, 2""".stripMargin)),

    // ── Unpivot / melt — wide metric columns to (metric, value) rows,
    //    the inverse of q_pivot. Spark's native `unpivot` keeps the
    //    melt inside whole-stage codegen (one Expand node, no shuffle
    //    until the final aggregate).
    QueryDef("q_unpivot",
      (s, d) => {
        val src = Tables.lineitem(s, d).select(
          centsCol("l_quantity").as("qty_cents"),
          centsCol("l_extendedprice").as("price_cents"),
          centsCol("l_discount").as("disc_cents"),
          centsCol("l_tax").as("tax_cents"))
        src.unpivot(Array.empty, src.columns.map(col), "metric", "v_cents")
          .groupBy(col("metric"))
          .agg(count(lit(1)).as("n"), sum(col("v_cents")).as("sum_cents"))
          .withColumn("mean_e4", expr("sum_cents * 10000L div n"))
      },
      Some(s"""WITH src AS (SELECT ${cents("l_quantity")} AS qty_cents,
              |                    ${cents("l_extendedprice")} AS price_cents,
              |                    ${cents("l_discount")} AS disc_cents,
              |                    ${cents("l_tax")} AS tax_cents FROM lineitem),
              |u AS (UNPIVOT src ON qty_cents, price_cents, disc_cents, tax_cents
              |      INTO NAME metric VALUE v_cents)
              |SELECT metric, CAST(count(*) AS BIGINT) AS n,
              |       CAST(sum(v_cents) AS BIGINT) AS sum_cents,
              |       CAST(sum(v_cents) * 10000 // count(*) AS BIGINT) AS mean_e4
              |FROM u GROUP BY 1""".stripMargin)),

    // ── Bill-of-materials rollup over a binary assembly tree (ids
    //    1..127, child qty 1+(child%3)): effective per-unit quantity =
    //    product of edge quantities down the root path — the recursive
    //    workload Spark SQL lacks, done in depth-many frontier rounds.
    QueryDef("q_bom_rollup",
      (s, d) => {
        val nodes = Tables.part(s, d)
          .select((col("p_partkey") % 127 + 1).as("id")).distinct()
        val left = nodes.filter(col("id") * 2 <= 127)
          .select(col("id").as("src"), (col("id") * 2).as("dst"))
        val right = nodes.filter(col("id") * 2 + 1 <= 127)
          .select(col("id").as("src"), (col("id") * 2 + 1).as("dst"))
        val edges = left.unionByName(right)
          .withColumn("qty", lit(1L) + col("dst") % 3)
        Hierarchy.pathProductRollup(
          nodes.withColumn("is_root", col("id") === 1), edges, "is_root", 8)
      },
      Some("""WITH RECURSIVE nodes AS (SELECT DISTINCT p_partkey % 127 + 1 AS id FROM part),
             |e AS (SELECT id AS src, id * 2 AS dst, 1 + (id * 2) % 3 AS qty
             |      FROM nodes WHERE id * 2 <= 127
             |      UNION ALL
             |      SELECT id, id * 2 + 1, 1 + (id * 2 + 1) % 3
             |      FROM nodes WHERE id * 2 + 1 <= 127),
             |r AS (SELECT id, 0 AS depth, CAST(1 AS BIGINT) AS eff_qty
             |      FROM nodes WHERE id = 1
             |      UNION
             |      SELECT e.dst AS id, r.depth + 1 AS depth,
             |             r.eff_qty * e.qty AS eff_qty
             |      FROM r JOIN e ON e.src = r.id WHERE r.depth < 8)
             |SELECT id, CAST(depth AS BIGINT) AS depth, eff_qty FROM r""".stripMargin)),

    // ── Semi-additive measure: the month-end (last-observation) value
    //    per user, SUMMED per month — balances add across accounts but
    //    not across time. One argmax-struct aggregate + one keyed sum.
    QueryDef("q_semiadditive",
      (s, d) => Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000 div 30").as("month"),
          unix_micros(col("ts")).as("t_us"), col("event_id").as("tie"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        .groupBy(col("user_id"), col("month"))
        .agg(max(struct(col("t_us"), col("tie"), col("cents")))
          .getField("cents").as("eom_cents"))
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("eom_cents")).as("balance_cents")),
      Some("""WITH e AS (
             |  SELECT user_id,
             |         epoch_us(ts) // 86400000000 // 30 AS month,
             |         epoch_us(ts) AS t_us, event_id AS tie,
             |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |eom AS (
             |  SELECT user_id, month, cents AS eom_cents FROM (
             |    SELECT user_id, month, cents,
             |           row_number() OVER (PARTITION BY user_id, month
             |             ORDER BY t_us DESC, tie DESC) AS rn
             |    FROM e) WHERE rn = 1)
             |SELECT month, CAST(count(*) AS BIGINT) AS n_users,
             |       CAST(sum(eom_cents) AS BIGINT) AS balance_cents
             |FROM eom GROUP BY month""".stripMargin)),

    // ── Bitemporal: v1 recorded at order day; +5% correction recorded
    //    30 days later for every 10th order. As-of system day 9312
    //    (1995-07-01), valid window [9131, 9312) (H1 1995): corrections
    //    are visible only where their transaction day made the cut.
    QueryDef("q_bitemporal",
      (s, d) => {
        val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000")
            .as("valid_day"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        val v1 = base.select(col("k"), col("status"), col("valid_day"),
          col("valid_day").as("tx_day"), col("cents"), lit(1L).as("rev"))
        val v2 = base.where(col("k") % 10 === 0)
          .select(col("k"), col("status"), col("valid_day"),
            (col("valid_day") + 30).as("tx_day"),
            (col("cents") + expr("cents div 20")).as("cents"),
            lit(2L).as("rev"))
        v1.unionByName(v2)
          .where(col("valid_day") >= 9131L && col("valid_day") < 9312L &&
            col("tx_day") <= 9312L)
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("k")).orderBy(col("rev").desc)))
          .where(col("rn") === 1)
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("rev") === 2L, 1L).otherwise(0L)).as("n_corrected"),
            sum(col("cents")).as("total_cents"))
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k, o_orderstatus AS status,
             |         epoch_us(o_orderdate) // 86400000000 AS valid_day,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders),
             |v AS (
             |  SELECT k, status, valid_day, valid_day AS tx_day, cents,
             |         1 AS rev FROM base
             |  UNION ALL
             |  SELECT k, status, valid_day, valid_day + 30 AS tx_day,
             |         cents + cents // 20 AS cents, 2 AS rev
             |  FROM base WHERE k % 10 = 0),
             |vis AS (
             |  SELECT *, row_number() OVER (PARTITION BY k
             |    ORDER BY rev DESC) AS rn
             |  FROM v
             |  WHERE valid_day >= 9131 AND valid_day < 9312
             |    AND tx_day <= 9312)
             |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(sum(CASE WHEN rev = 2 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_corrected,
             |       CAST(sum(cents) AS BIGINT) AS total_cents
             |FROM vis WHERE rn = 1 GROUP BY 1""".stripMargin)),

    // ── Left-outer interval join batch twin (StreamJoins
    //    .joinLeftOuterWithin): clicks left-joined to same-user
    //    purchases within ±1 h; unmatched clicks survive null-padded.
    //    Per user: distinct clicks, matched pairs, clicks with NO
    //    purchase in range. One keyed shuffle; range predicate applies
    //    inside the joined key group.
    QueryDef("q_interval_left_outer",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("t", unix_micros(col("ts")))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("u"), col("t").as("tc"),
            col("event_id").as("cid"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("u2"), col("t").as("tp"))
        clicks.join(buys,
            col("u") === col("u2") &&
              col("tp") >= col("tc") - 3600000000L &&
              col("tp") <= col("tc") + 3600000000L, "left_outer")
          .groupBy(col("u"))
          .agg(countDistinct(col("cid")).as("n_clicks"),
            count(col("tp")).as("n_pairs"),
            countDistinct(when(col("tp").isNull, col("cid")))
              .as("n_unmatched"))
      },
      Some("""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t,
             |                 event_type AS et, event_id FROM events),
             |c AS (SELECT u, t AS tc, event_id AS cid FROM e
             |      WHERE et = 'click'),
             |b AS (SELECT u, t AS tp FROM e WHERE et = 'purchase')
             |SELECT c.u, CAST(count(DISTINCT c.cid) AS BIGINT) AS n_clicks,
             |       CAST(count(b.tp) AS BIGINT) AS n_pairs,
             |       CAST(count(DISTINCT CASE WHEN b.tp IS NULL THEN c.cid
             |         END) AS BIGINT) AS n_unmatched
             |FROM c LEFT JOIN b ON c.u = b.u
             |  AND b.tp >= c.tc - 3600000000 AND b.tp <= c.tc + 3600000000
             |GROUP BY 1""".stripMargin)),

    // ── Modal brand per nation by line count (ties → brand asc): one
    //    (nation, brand) rollup; the argmax window and the nation total
    //    reuse its partitioning. Dims broadcast.
    QueryDef("q_mode_per_group",
      (s, d) => {
        val nb = Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("c_nationkey"), col("p_brand"))
          .agg(count(lit(1)).as("cnt"))
        nb
          .withColumn("tot", sum(col("cnt")).over(
            Window.partitionBy(col("c_nationkey"))))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("c_nationkey"))
              .orderBy(col("cnt").desc, col("p_brand"))))
          .filter(col("rk") === 1)
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name"))),
            col("c_nationkey") === col("n_nationkey"))
          .selectExpr("n_name", "p_brand AS modal_brand",
            "CAST(cnt AS BIGINT) AS cnt",
            "cnt * 1000000 div tot AS share_e6")
      },
      Some("""WITH nb AS (
             |  SELECT c.c_nationkey, p.p_brand,
             |         CAST(count(*) AS BIGINT) AS cnt
             |  FROM lineitem l
             |  JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  JOIN customer c ON o.o_custkey = c.c_custkey
             |  JOIN part p ON l.l_partkey = p.p_partkey
             |  GROUP BY 1, 2),
             |m AS (SELECT c_nationkey, p_brand, cnt,
             |             CAST(sum(cnt) OVER (PARTITION BY c_nationkey)
             |               AS BIGINT) AS tot,
             |             row_number() OVER (PARTITION BY c_nationkey
             |               ORDER BY cnt DESC, p_brand) AS rk
             |      FROM nb)
             |SELECT n.n_name, m.p_brand AS modal_brand, m.cnt,
             |       m.cnt * 1000000 // m.tot AS share_e6
             |FROM m JOIN nation n ON m.c_nationkey = n.n_nationkey
             |WHERE m.rk = 1""".stripMargin)),

    // ── Exact gap percentiles per segment: inter-order day gaps per
    //    customer (lag over the customer-keyed shuffle), then p50/90/99
    //    by ceil-rank selection over (gap, cust, day) — a total order,
    //    so both engines pick the identical row. The rank window is
    //    segment-partitioned; no sketch, no doubles.
    QueryDef("q_order_gap_percentiles",
      (s, d) => {
        val w = Window.partitionBy(col("cust")).orderBy(col("day"))
        val gaps = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("seg"),
            col("o_custkey").as("cust"),
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
              "div 86400000000").as("day"))
          .distinct()
          .withColumn("gap", col("day") - lag(col("day"), 1).over(w))
          .filter(col("gap").isNotNull)
        val ranked = gaps
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("seg"))
              .orderBy(col("gap"), col("cust"), col("day"))))
          .withColumn("n", count(lit(1)).over(
            Window.partitionBy(col("seg"))))
        ranked.groupBy(col("seg"))
          .agg(max(col("n")).as("n_gaps"),
            max(when(col("rk") === expr("greatest(1, (n * 50 + 99) div 100)"),
              col("gap"))).as("p50_days"),
            max(when(col("rk") === expr("greatest(1, (n * 90 + 99) div 100)"),
              col("gap"))).as("p90_days"),
            max(when(col("rk") === expr("greatest(1, (n * 99 + 99) div 100)"),
              col("gap"))).as("p99_days"))
          .selectExpr("seg", "CAST(n_gaps AS BIGINT) AS n_gaps",
            "CAST(p50_days AS BIGINT) AS p50_days",
            "CAST(p90_days AS BIGINT) AS p90_days",
            "CAST(p99_days AS BIGINT) AS p99_days")
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT c.c_mktsegment AS seg,
             |         o.o_custkey AS cust,
             |         epoch_us(o.o_orderdate) // 86400000000 AS day
             |  FROM orders o JOIN customer c
             |    ON o.o_custkey = c.c_custkey),
             |gaps AS (SELECT seg, cust, day,
             |                day - lag(day) OVER (PARTITION BY cust
             |                  ORDER BY day) AS gap
             |         FROM days),
             |g AS (SELECT seg, cust, day, gap FROM gaps
             |      WHERE gap IS NOT NULL),
             |ranked AS (SELECT seg, gap,
             |                  CAST(row_number() OVER (PARTITION BY seg
             |                    ORDER BY gap, cust, day) AS BIGINT)
             |                    AS rk,
             |                  CAST(count(*) OVER (PARTITION BY seg)
             |                    AS BIGINT) AS n
             |           FROM g)
             |SELECT seg, CAST(max(n) AS BIGINT) AS n_gaps,
             |       CAST(max(CASE WHEN rk = greatest(1,
             |         (n * 50 + 99) // 100) THEN gap END) AS BIGINT)
             |         AS p50_days,
             |       CAST(max(CASE WHEN rk = greatest(1,
             |         (n * 90 + 99) // 100) THEN gap END) AS BIGINT)
             |         AS p90_days,
             |       CAST(max(CASE WHEN rk = greatest(1,
             |         (n * 99 + 99) // 100) THEN gap END) AS BIGINT)
             |         AS p99_days
             |FROM ranked GROUP BY 1""".stripMargin))
  )
}
