package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{BloomJoin, Bm25, Bucketed, Dedup, Incremental, StarComponents}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical layout and incremental maintenance: bucketed and Bloom-pruned
  * joins, zone maps, compaction and encoding audits, skew handling,
  * rendezvous sharding, and delta maintenance of aggregates and components. */
object LayoutQueries extends QueryCatalog {

  def defs: Seq[QueryDef] = Seq(

    // ── Salted two-phase aggregate: the skew pattern (few hot keys fan out
    //    across 8 salts for the partial phase, then re-combine). Result is
    //    identical to the plain aggregate — which is exactly the oracle.
    QueryDef("q_salted_agg",
      (s, d) => Tables.events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(8)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("c"), sum(col("value")).as("sv"))
        .groupBy(col("event_type"))
        .agg(sum(col("c")).as("cnt"), round(sum(col("sv")), 4).as("sum_value")),
      Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
             |FROM events GROUP BY event_type""".stripMargin)),

    // ── Salted equi-join: hot join keys fan across 8 salts (small side
    //    replicated), result provably identical to the plain join.
    QueryDef("q_salted_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val dim = ev.select(col("event_type")).distinct()
          .withColumn("w", length(col("event_type")).cast("long"))
        graft.ops.Skew.saltedJoin(ev, dim, "event_type", 8, col("event_id"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            round(sum(col("value") * col("w")), 4).as("wsum"))
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |       round(sum(value * length(event_type)), 4) AS wsum
             |FROM events GROUP BY event_type""".stripMargin)),

    // ── Bloom-pruned fact⋈dim join ([[BloomJoin]]): the fact side is
    //    filtered by a portable-hash Bloom bitmap of the dim keys BEFORE
    //    its shuffle; false positives are discarded by the real join, so
    //    the result is bit-identical to the plain join the oracle runs.
    QueryDef("q_bloom_join",
      (s, d) => {
        val dim = Tables.supplier(s, d).filter(col("s_nationkey") < 5)
          .select(col("s_suppkey"), col("s_name"))
        val fact = Tables.lineitem(s, d)
          .select(col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
        BloomJoin.pruneJoin(fact, dim, "l_suppkey", "s_suppkey")
          .groupBy(col("s_suppkey"), col("s_name"))
          .agg(count(lit(1)).as("n_items"),
            sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0)
              + lit(0.5)).cast("long")).as("revenue_c"))
      },
      Some("""SELECT s_suppkey, s_name, count(*) AS n_items,
             |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_c
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |WHERE s_nationkey < 5
             |GROUP BY 1, 2""".stripMargin)),

    // ── Materialized-aggregate maintenance: base excludes orderkey % 10
    //    = 0; the change feed inserts those and deletes base rows with
    //    orderkey % 7 = 0. The oracle recomputes the final set directly
    //    — equality proves delta-merge ≡ full recompute.
    QueryDef("q_incremental_agg",
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority").as("g"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
        val base = o.filter(col("o_orderkey") % 10 =!= 0)
          .groupBy(col("g"))
          .agg(count(lit(1)).as("cnt"), sum(col("v")).as("total"))
        val changes = o.filter(col("o_orderkey") % 10 === 0)
          .select(col("g"), col("v"), lit(1L).as("op"))
          .unionByName(o.filter(col("o_orderkey") % 10 =!= 0 &&
              col("o_orderkey") % 7 === 0)
            .select(col("g"), col("v"), lit(-1L).as("op")))
        Incremental.maintainAgg(base, changes)
      },
      Some("""SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS cnt,
             |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             |         AS total
             |FROM orders
             |WHERE o_orderkey % 10 = 0
             |   OR (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0)
             |GROUP BY 1""".stripMargin)),

    // ── KMV sketch maintenance: per-type distinct-user sketches under a
    //    value-level change feed — inserts merge, deletes inside the
    //    sketch horizon rebuild their group; oracle rebuilds everything.
    QueryDef("q_kmv_maintain",
      (s, d) => {
        val eu = Tables.events(s, d)
          .select(col("event_type").as("g"), col("user_id").as("v")).distinct()
        val base = eu.filter(col("v") % 10 =!= 0)
          .select(col("g"),
            Dedup.hash48(col("v").cast("string"), lit("kmv")).as("h"))
          .groupBy(col("g"))
          .agg(slice(array_sort(collect_set(col("h"))), 1, 64).as("sketch"))
        val changes = eu.filter(col("v") % 10 === 0)
          .select(col("g"), col("v"), lit(1L).as("op"))
          .unionByName(eu.filter(col("v") % 10 =!= 0 && col("v") % 7 === 0)
            .select(col("g"), col("v"), lit(-1L).as("op")))
        val raw = eu.filter(col("v") % 10 === 0 || col("v") % 7 =!= 0)
        // Driver-portability: the checker's pandas sort cannot hash list
        // cells, so project the sketch to a CSV string at the API edge
        // (the library form keeps the array — q_collect_ops precedent).
        Incremental.maintainKmv(base, changes, raw, 64)
          .withColumn("sketch",
            concat_ws(",", col("sketch").cast("array<string>")))
      },
      Some {
        val h = PortableSql.hash48("CAST(u AS VARCHAR)", "'kmv'")
        s"""WITH eu AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events),
           |fin AS (SELECT g, u FROM eu WHERE u % 10 = 0 OR u % 7 <> 0),
           |hs AS (SELECT DISTINCT g, $h AS hh FROM fin),
           |r AS (SELECT g, hh,
           |             row_number() OVER (PARTITION BY g ORDER BY hh) AS rn,
           |             count(*) OVER (PARTITION BY g) AS nh
           |      FROM hs),
           |sk AS (SELECT g, list(hh ORDER BY hh) FILTER (WHERE rn <= 64) AS sketch,
           |              max(nh) AS nh,
           |              min(CASE WHEN rn = 64 THEN hh END) AS kth
           |       FROM r GROUP BY g)
           |SELECT g, array_to_string(sketch, ',') AS sketch,
           |       CAST(CASE WHEN nh < 64 THEN nh
           |            ELSE 63 * 281474976710656 // kth END AS BIGINT) AS est
           |FROM sk""".stripMargin
      }),

    // ── Trailing-window maintenance: slide a 30-day grouped aggregate
    //    forward 7 days WITHOUT rescanning the window — new days are
    //    inserts, aged-out days are deletes, both through the same
    //    delta-merge. Oracle recomputes the slid window directly.
    QueryDef("q_incremental_window",
      (s, d) => {
        val o = Tables.orders(s, d).select(
          col("o_orderpriority").as("g"),
          expr("unix_timestamp(o_orderdate) div 86400").as("day"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
        val d0 = o.agg(min(col("day")).as("d0"))
        val w = o.crossJoin(broadcast(d0))
        val base = w.filter(col("day") >= col("d0") && col("day") < col("d0") + 30)
          .groupBy(col("g"))
          .agg(count(lit(1)).as("cnt"), sum(col("v")).as("total"))
        val changes = w
          .filter(col("day") >= col("d0") + 30 && col("day") < col("d0") + 37)
          .select(col("g"), col("v"), lit(1L).as("op"))
          .unionByName(w
            .filter(col("day") >= col("d0") && col("day") < col("d0") + 7)
            .select(col("g"), col("v"), lit(-1L).as("op")))
        Incremental.maintainAgg(base, changes)
      },
      Some("""WITH o AS (SELECT o_orderpriority AS g,
             |                 epoch(o_orderdate) // 86400 AS day,
             |                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
             |           FROM orders),
             |d0 AS (SELECT min(day) AS d0 FROM o)
             |SELECT g, CAST(count(*) AS BIGINT) AS cnt,
             |       CAST(sum(v) AS BIGINT) AS total
             |FROM o, d0
             |WHERE day >= d0.d0 + 7 AND day < d0.d0 + 37
             |GROUP BY g""".stripMargin)),

    // ── Min/max maintenance under a change feed: deletes that hit the
    //    standing extreme rebuild ONLY their group from the post-change
    //    rows; the oracle recomputes everything directly.
    QueryDef("q_incremental_minmax",
      (s, d) => {
        val o = Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderpriority").as("g"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("v"))
        val base = o.filter(col("o_orderkey") % 10 =!= 0)
          .groupBy(col("g")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        val changes = o.filter(col("o_orderkey") % 10 === 0)
          .select(col("g"), col("v"), lit(1L).as("op"))
          .unionByName(o.filter(col("o_orderkey") % 10 =!= 0 &&
              col("o_orderkey") % 7 === 0)
            .select(col("g"), col("v"), lit(-1L).as("op")))
        val raw = o.filter(col("o_orderkey") % 10 === 0 ||
            col("o_orderkey") % 7 =!= 0)
          .select(col("g"), col("v"))
        Incremental.maintainMinMax(base, changes, raw)
      },
      Some("""SELECT o_orderpriority AS g,
             |       CAST(min(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS mn,
             |       CAST(max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS mx
             |FROM orders
             |WHERE o_orderkey % 10 = 0
             |   OR (o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 0)
             |GROUP BY 1""".stripMargin)),

    // ── Skew advisor over candidate shuffle keys: hot-key share and the
    //    salt factor that would level its partition to the mean.
    QueryDef("q_skew_advisor",
      (s, d) => graft.ops.Skew.advisor(
        Tables.events(s, d), Seq("event_type", "user_id")),
      Some("""WITH a AS (SELECT CAST(event_type AS VARCHAR) AS k FROM events),
             |ga AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM a GROUP BY k),
             |sa AS (SELECT CAST('event_type' AS VARCHAR) AS key_col,
             |              CAST(sum(c) AS BIGINT) AS n_rows,
             |              CAST(count(*) AS BIGINT) AS n_keys,
             |              CAST((SELECT c FROM ga ORDER BY c DESC, k DESC LIMIT 1) AS BIGINT) AS top1_cnt
             |       FROM ga),
             |b AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
             |gb AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY k),
             |sb AS (SELECT CAST('user_id' AS VARCHAR) AS key_col,
             |              CAST(sum(c) AS BIGINT) AS n_rows,
             |              CAST(count(*) AS BIGINT) AS n_keys,
             |              CAST((SELECT c FROM gb ORDER BY c DESC, k DESC LIMIT 1) AS BIGINT) AS top1_cnt
             |       FROM gb),
             |u AS (SELECT * FROM sa UNION ALL SELECT * FROM sb)
             |SELECT key_col, n_rows, n_keys, top1_cnt,
             |       CAST(top1_cnt * 1000000 // n_rows AS BIGINT) AS top1_share_e6,
             |       CAST((top1_cnt * n_keys + n_rows - 1) // n_rows AS BIGINT) AS salt_factor
             |FROM u""".stripMargin)),

    // ── Zone-map pruning audit: files = 200 orderkey buckets per
    //    return-flag partition, predicate = ship day ∈ [9131, 9161)
    //    (Jan 1995). A file is prunable when its [min, max] day span
    //    misses the window entirely.
    QueryDef("q_zonemap_prune",
      (s, d) => {
        val files = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("part"),
            (col("l_orderkey") % 200).as("file_id"),
            expr("unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
              .as("day"))
          .groupBy(col("part"), col("file_id"))
          .agg(min(col("day")).as("min_day"), max(col("day")).as("max_day"),
            count(lit(1)).as("n_rows"))
        files
          .withColumn("prunable",
            (col("max_day") < 9131L) || (col("min_day") >= 9161L))
          .groupBy(col("part"))
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("prunable"), 1L).otherwise(0L)).as("n_prunable"),
            sum(when(col("prunable"), col("n_rows")).otherwise(0L))
              .as("rows_skipped"),
            sum(col("n_rows")).as("rows_total"))
          .withColumn("prune_e6",
            expr("n_prunable * 1000000 div n_files"))
      },
      Some("""WITH f AS (SELECT l_returnflag AS part, l_orderkey % 200 AS file_id,
             |                 min(epoch_us(l_shipdate) // 86400000000) AS min_day,
             |                 max(epoch_us(l_shipdate) // 86400000000) AS max_day,
             |                 CAST(count(*) AS BIGINT) AS n_rows
             |          FROM lineitem GROUP BY 1, 2)
             |SELECT part, CAST(count(*) AS BIGINT) AS n_files,
             |       CAST(sum(CASE WHEN max_day < 9131 OR min_day >= 9161
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_prunable,
             |       CAST(sum(CASE WHEN max_day < 9131 OR min_day >= 9161
             |                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
             |       CAST(sum(n_rows) AS BIGINT) AS rows_total,
             |       CAST(sum(CASE WHEN max_day < 9131 OR min_day >= 9161
             |                     THEN 1 ELSE 0 END) * 1000000 // count(*)
             |            AS BIGINT) AS prune_e6
             |FROM f GROUP BY 1""".stripMargin)),

    // ── Compaction planner: per-ship-day row counts packed in day order
    //    into 16 ~equal bins (target = ceil(total/16)). The day axis is
    //    calendar-bounded, so the planning window is scale-invariant.
    QueryDef("q_compaction_bins",
      (s, d) => {
        val days = Tables.lineitem(s, d)
          .groupBy(expr(
            "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
            .as("day"))
          .agg(count(lit(1)).as("n_rows"))
        val tot = days.agg(sum(col("n_rows")).as("tot"))
        days.crossJoin(broadcast(tot))
          .withColumn("cum_before", coalesce(
            sum(col("n_rows")).over(Window.orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("bin", expr("cum_before div ((tot + 15) div 16)"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("rows_total"),
            min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      },
      Some("""WITH f AS (SELECT epoch_us(l_shipdate) // 86400000000 AS day,
             |                  CAST(count(*) AS BIGINT) AS n_rows
             |           FROM lineitem GROUP BY 1),
             |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot FROM f),
             |c AS (SELECT day, n_rows,
             |             CAST(coalesce(sum(n_rows) OVER (ORDER BY day
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |               0) AS BIGINT) AS cum_before,
             |             (tot + 15) // 16 AS target
             |      FROM f CROSS JOIN t)
             |SELECT CAST(cum_before // target AS BIGINT) AS bin,
             |       CAST(count(*) AS BIGINT) AS n_files,
             |       CAST(sum(n_rows) AS BIGINT) AS rows_total,
             |       CAST(min(day) AS BIGINT) AS first_day,
             |       CAST(max(day) AS BIGINT) AS last_day
             |FROM c GROUP BY 1""".stripMargin)),

    // ── Delta-encoding audit: per user the timestamp-delta width the
    //    column would need (bits = ⌊log₂ max gap⌋ + 1) vs raw 64-bit.
    QueryDef("q_delta_encoding",
      (s, d) => {
        val t = Tables.events(s, d).select(col("user_id").as("u"),
          expr("unix_micros(ts)").as("t"), col("event_id").as("eid"))
        val w = Window.partitionBy(col("u")).orderBy(col("t"), col("eid"))
        t.withColumn("dt", col("t") - lag(col("t"), 1).over(w))
          .groupBy(col("u"))
          .agg(count(lit(1)).as("n"), max(col("dt")).as("max_dt"),
            sum(col("dt")).as("sum_dt"))
          .where(col("n") > 1)
          .withColumn("avg_dt", expr("sum_dt div (n - 1)"))
          .withColumn("lg", Bm25.log2E6(greatest(col("max_dt"), lit(1L))))
          .selectExpr("u", "n", "max_dt", "avg_dt",
            "lg div 1000000 + 1 AS bits",
            "(lg div 1000000 + 1) * 1000000 div 64 AS ratio_e6")
      },
      Some(s"""WITH t AS (SELECT user_id AS u, epoch_us(ts) AS t,
              |                 event_id AS eid FROM events),
              |dt AS (SELECT u, t - lag(t) OVER (PARTITION BY u
              |                ORDER BY t, eid) AS dt FROM t),
              |g AS (SELECT u, CAST(count(*) AS BIGINT) AS n,
              |             CAST(max(dt) AS BIGINT) AS max_dt,
              |             CAST(sum(dt) AS BIGINT) AS sum_dt
              |      FROM dt GROUP BY 1 HAVING count(*) > 1),
              |b AS (SELECT u, n, max_dt, sum_dt // (n - 1) AS avg_dt,
              |             ${Bm25.log2E6Sql("greatest(max_dt, 1)")}
              |               // 1000000 + 1 AS bits
              |      FROM g)
              |SELECT u, n, max_dt, avg_dt, CAST(bits AS BIGINT) AS bits,
              |       CAST(bits AS BIGINT) * 1000000 // 64 AS ratio_e6
              |FROM b""".stripMargin)),

    // ── Rendezvous rebalance: highest-random-weight placement of user
    //    keys on 4 vs 5 nodes; the node-join disruption readout.
    QueryDef("q_rendezvous_rebalance",
      (s, d) => {
        val keys = Tables.events(s, d).select(col("user_id").as("u"))
          .distinct()
        val nodes = keys.sparkSession.range(5).select(col("id").as("node"))
        val scored = keys.crossJoin(broadcast(nodes))
          .withColumn("h", Dedup.hash48(
            concat(col("u").cast("string"), lit("#"),
              col("node").cast("string")), lit("rdv")))
        def assign(n: Int) = scored.where(col("node") < n)
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("u"))
              .orderBy(col("h").desc, col("node"))))
          .where(col("rk") === 1)
          .select(col("u"), col("node").as(s"a$n"))
        val j = assign(4).join(assign(5), "u")
          .localCheckpoint(false) // reused: per-node loads + move total
        val moves = j.agg(count(lit(1)).as("n_keys"),
          sum(when(col("a4") =!= col("a5"), 1L).otherwise(0L)).as("moved"))
        val perNode = j.groupBy(col("a5").as("node"))
          .agg(count(lit(1)).as("load_n5"))
          .join(j.groupBy(col("a4").as("node"))
            .agg(count(lit(1)).as("load_n4")), Seq("node"), "left")
        perNode.crossJoin(broadcast(moves))
          .selectExpr("node", "coalesce(load_n4, CAST(0 AS BIGINT)) AS load_n4",
            "load_n5", "n_keys", "moved",
            "moved * 1000000 div n_keys AS moved_e6")
      },
      Some {
        val h = PortableSql.hash48("concat(CAST(u AS VARCHAR), '#', " +
          "CAST(node AS VARCHAR))", "'rdv'")
        s"""WITH keys AS (SELECT DISTINCT user_id AS u FROM events),
           |scored AS (
           |  SELECT u, CAST(n.range AS BIGINT) AS node, $h AS h
           |  FROM keys CROSS JOIN range(5) n),
           |a4 AS (SELECT u, node AS a4 FROM (
           |         SELECT u, node, row_number() OVER (PARTITION BY u
           |           ORDER BY h DESC, node) AS rk
           |         FROM scored WHERE node < 4) WHERE rk = 1),
           |a5 AS (SELECT u, node AS a5 FROM (
           |         SELECT u, node, row_number() OVER (PARTITION BY u
           |           ORDER BY h DESC, node) AS rk
           |         FROM scored WHERE node < 5) WHERE rk = 1),
           |j AS (SELECT a4.u, a4.a4, a5.a5 FROM a4 JOIN a5 ON a4.u = a5.u),
           |mv AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
           |              CAST(sum(CASE WHEN a4 <> a5 THEN 1 ELSE 0 END)
           |                AS BIGINT) AS moved
           |       FROM j),
           |pn AS (SELECT n5.node, coalesce(load_n4, 0) AS load_n4, load_n5
           |       FROM (SELECT a5 AS node, CAST(count(*) AS BIGINT)
           |               AS load_n5 FROM j GROUP BY 1) n5
           |       LEFT JOIN (SELECT a4 AS node, CAST(count(*) AS BIGINT)
           |               AS load_n4 FROM j GROUP BY 1) n4
           |         ON n5.node = n4.node)
           |SELECT node, load_n4, load_n5, n_keys, moved,
           |       moved * 1000000 // n_keys AS moved_e6
           |FROM pn CROSS JOIN mv""".stripMargin
      }),

    // ── Bitmaps: word = user div 63, bit = user mod 63 (63-bit words: DuckDB range-checks the sign-bit shift); pairwise AND
    //    cardinalities via popcount over the word-aligned join.
    QueryDef("q_bitmap_intersect",
      (s, d) => {
        val bm = Tables.events(s, d)
          .select(col("event_type").as("et"),
            expr("user_id div 63").as("w"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))")
              .as("bit"))
          .groupBy(col("et"), col("w"))
          .agg(expr("bit_or(bit)").as("bits"))
          .localCheckpoint(false) // both pair sides + per-type counts
        val sizes = bm.groupBy(col("et"))
          .agg(sum(expr("bit_count(bits)")).as("n_users"))
        val b = bm.select(col("et").as("eb"), col("w"),
          col("bits").as("bb"))
        bm.join(b, "w").where(col("et") < col("eb"))
          .groupBy(col("et"), col("eb"))
          .agg(sum(expr("bit_count(bits & bb)")).as("n_and"))
          .join(sizes, "et")
          .join(sizes.select(col("et").as("eb"),
            col("n_users").as("n_b")), "eb")
          .selectExpr("et AS type_a", "eb AS type_b",
            "n_users AS n_a", "n_b", "n_and",
            "n_and * 1000000 div (n_users + n_b - n_and) AS jaccard_e6")
      },
      Some("""WITH bm AS (
             |  SELECT event_type AS et, user_id // 63 AS w,
             |         bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63
             |           AS INTEGER)) AS bits
             |  FROM events GROUP BY 1, 2),
             |sizes AS (SELECT et, CAST(sum(bit_count(bits)) AS BIGINT)
             |                 AS n_users
             |          FROM bm GROUP BY 1),
             |pairs AS (
             |  SELECT a.et, b.et AS eb,
             |         CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT)
             |           AS n_and
             |  FROM bm a JOIN bm b ON a.w = b.w AND a.et < b.et
             |  GROUP BY 1, 2)
             |SELECT p.et AS type_a, p.eb AS type_b,
             |       sa.n_users AS n_a, sb.n_users AS n_b, n_and,
             |       n_and * 1000000 // (sa.n_users + sb.n_users - n_and)
             |         AS jaccard_e6
             |FROM pairs p JOIN sizes sa ON sa.et = p.et
             |     JOIN sizes sb ON sb.et = p.eb""".stripMargin)),

    // ── Customer order rollup over bucketed orders ⋈ bucketed customer
    //    (both bucketBy(8, custkey) + sortBy): scan → SMJ (no exchange,
    //    no sort) → keyed agg (no exchange) → one top-level plan with
    //    zero ShuffleExchange nodes. The layout write inside the query
    //    is the amortized one-time cost; rerunning overwrites.
    QueryDef("q_bucketed_join",
      (s, d) => {
        Bucketed.writeBucketed(
          Tables.orders(s, d).select(col("o_custkey"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
              .as("cents")),
          "graft_bkt_orders", "o_custkey", 8)
        Bucketed.writeBucketed(
          Tables.customer(s, d).select(col("c_custkey").as("o_custkey"),
            col("c_mktsegment")),
          "graft_bkt_customer", "o_custkey", 8)
        Bucketed.join(s, "graft_bkt_orders", "graft_bkt_customer",
            "o_custkey")
          .groupBy(col("o_custkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_c"))
      },
      Some("""SELECT o_custkey, c_mktsegment,
             |       CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             |         AS BIGINT) AS rev_c
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1, 2""".stripMargin)),

    // ── Incremental CC under edge inserts: standing labels for the
    //    chain-block graph arrive PRECOMPUTED (as production would hold
    //    them — yesterday's labeling at rest), then a DELTA batch (one
    //    bridge per block pair) merges neighbors — via the super-node
    //    graph only (O(|delta|) work), never re-touching base edges.
    //    The base graph is blocks of 50 consecutive doc_ids (edges
    //    id→id+1 except across id%50==49), so its exact CC labeling is
    //    analytic: cluster_id = id − id%50 (the block min — the same
    //    min-id contract every CC producer keeps; IncrementalCcFixture-
    //    Spec pins fixture == full StarComponents CC). Deriving labels
    //    in-query made the bench pay full CC + rebuild and overstated
    //    the operator's cost ~2.5×. Oracle: full CC
    //    over base ∪ delta, proving the increment is exact.
    QueryDef("q_incremental_cc",
      (s, d) => {
        val ids = Tables.documents(s, d).select(col("doc_id").as("id"))
        val labels = ids.select(col("id"),
          (col("id") - col("id") % 50).as("cluster_id"))
        val delta = ids.as("x")
          .join(ids.as("y"), col("y.id") === col("x.id") + 50)
          .filter(col("x.id") % 100 === 0)
          .select(col("x.id").as("a"), col("y.id").as("b"))
        graft.ops.StarComponents
          .incrementalConnectedComponents(labels, delta)
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"),
            max(col("id")).as("max_id"))
      },
      Some("""WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
             |base AS (SELECT x.id AS a, x.id + 1 AS b FROM ids x
             |         JOIN ids y ON y.id = x.id + 1 WHERE x.id % 50 <> 49),
             |delta AS (SELECT x.id AS a, x.id + 50 AS b FROM ids x
             |          JOIN ids y ON y.id = x.id + 50 WHERE x.id % 100 = 0),
             |e AS (SELECT a, b FROM base UNION ALL SELECT a, b FROM delta),
             |e2 AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
             |reach(id, label) AS (
             |  SELECT id, id FROM ids
             |  UNION
             |  SELECT e2.b, r.label FROM reach r JOIN e2 ON e2.a = r.id),
             |cc AS (SELECT id, min(label) AS cluster_id FROM reach
             |       GROUP BY id)
             |SELECT cluster_id, count(*) AS n_nodes, min(id) AS min_id,
             |       max(id) AS max_id
             |FROM cc GROUP BY 1""".stripMargin)),

    // ── HRW/rendezvous sharding: shard(key) = argmax over shards of
    //    hash(key, shard). The audit assigns every doc under N=8 and
    //    N=9 and measures movement: exactly the keys whose N=9 argmax
    //    IS the new shard move — the stability property that lets a
    //    100 TB keyed store grow by one node without a full reshuffle.
    //    All-integer, one projection + one aggregate; the shard axis
    //    unrolls as a literal array (no join).
    QueryDef("q_rendezvous_shards",
      (s, d) => {
        def shardOf(n: Int): org.apache.spark.sql.Column = {
          val scores = (0 until n).map(j =>
            struct(Dedup.hash48(col("doc_id").cast("string"),
              lit(s"shard$j")).as("h"), lit(j.toLong).as("j")))
          greatest(scores: _*).getField("j")
        }
        Tables.documents(s, d).select(col("doc_id"))
          .withColumn("s8", shardOf(8))
          .withColumn("s9", shardOf(9))
          .withColumn("moved", (col("s8") =!= col("s9")).cast("long"))
          .agg(count(lit(1)).as("n_keys"),
            sum(col("moved")).as("n_moved"),
            sum(when(col("moved") === 1L && col("s9") === 8L, 1L)
              .otherwise(0L)).as("moved_to_new"))
          .selectExpr("n_keys", "n_moved", "moved_to_new",
            "n_moved * 1000000 div n_keys AS moved_rate_e6",
            // HRW invariant: EVERY move lands on the new shard — a
            // violated row here means the hash isn't per-(key, shard).
            "CAST(n_moved = moved_to_new AS BOOLEAN) AS minimal_movement")
      },
      Some {
        def h(j: Int) =
          PortableSql.hash48("CAST(doc_id AS VARCHAR)", s"'shard$j'")
        def shardOf(n: Int) = {
          // argmax via greatest over (h, j) pairs encoded as h*16+j —
          // h < 2^48, shard < 16, so the pack is collision-free and
          // preserves (h, j) lexicographic order.
          val packed = (0 until n).map(j => s"(${h(j)} * 16 + $j)")
          s"greatest(${packed.mkString(", ")}) % 16"
        }
        s"""WITH a AS (SELECT doc_id,
           |                  ${shardOf(8)} AS s8,
           |                  ${shardOf(9)} AS s9
           |           FROM documents)
           |SELECT CAST(count(*) AS BIGINT) AS n_keys,
           |       CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_moved,
           |       CAST(sum(CASE WHEN s8 <> s9 AND s9 = 8 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS moved_to_new,
           |       CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END)
           |         AS BIGINT) * 1000000 // count(*) AS moved_rate_e6,
           |       sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END)
           |         = sum(CASE WHEN s8 <> s9 AND s9 = 8 THEN 1 ELSE 0 END)
           |         AS minimal_movement
           |FROM a""".stripMargin
      }),

    /* The two remaining §7.4m layout/maintenance ops —
     * capacity-WEIGHTED rendezvous sharding (heterogeneous executors) and
     * incremental CC under edge DELETES (the split-detecting direction,
     * rebuilt only inside the blast radius). */

    // ── Weighted rendezvous: score_j = w_j / (−log₂ u_j) with
    //    u_j = hash(key, shard_j)/2^48 — the classic weighted-HRW
    //    transform, all in e6/e12 integers so both engines agree
    //    bit-for-bit. Keys land on shard argmax score; long-run share
    //    is proportional to weight. The audit emits per-shard counts
    //    beside the weight-implied expectation.
    QueryDef("q_rendezvous_weighted",
      (s, d) => {
        val weights = (0 until 8).map(j => (j % 4) + 1L)
        val wsum = weights.sum
        // nl ≥ 1 (h < 2^48 ⇒ log2E6 ≤ 48e6); score ≤ 4e12, ×16 fits.
        // Bind each hash to a COLUMN before feeding it to log2E6 —
        // the msb WHEN-ladder inside log2E6 references its argument ~48
        // times, so an inline md5+conv argument was re-evaluated ~100×
        // per (row, shard) (measured 3.5 s warm for 5 000 docs; ~0.5 s
        // after). The separate projection survives CollapseProject
        // because h$j is non-cheap and multiply-referenced; the ladder
        // then reads a cheap attribute. Same math, same results.
        val withH = (0 until 8).foldLeft(
          Tables.documents(s, d).select(col("doc_id"))) { (df, j) =>
          df.withColumn(s"h$j",
            greatest(Dedup.hash48(col("doc_id").cast("string"),
              lit(s"wshard$j")), lit(1L)))
        }
        val withNl = (0 until 8).foldLeft(withH) { (df, j) =>
          df.withColumn(s"nl$j",
            lit(48000000L) - Bm25.log2E6(col(s"h$j")) + lit(1L))
        }
        val packed = (0 until 8).map(j =>
          s"((${weights(j)}L * 1000000000000L div nl$j) * 16L + ${j}L)")
        withNl
          .withColumn("shard", expr(
            s"greatest(${packed.mkString(", ")}) % 16"))
          .groupBy(col("shard")).agg(count(lit(1)).as("n_keys"))
          .withColumn("weight",
            expr("CAST(shard % 4 + 1 AS BIGINT)"))
          .crossJoin(broadcast(
            Tables.documents(s, d).agg(count(lit(1)).as("n_total"))))
          .selectExpr("shard", "weight", "n_keys",
            "n_keys * 1000000 div n_total AS share_e6",
            s"weight * 1000000 div ${wsum}L AS expected_e6")
      },
      Some {
        val weights = (0 until 8).map(j => (j % 4) + 1L)
        val wsum = weights.sum
        val packed = (0 until 8).map { j =>
          val h = s"greatest(${PortableSql.hash48(
            "CAST(doc_id AS VARCHAR)", s"'wshard$j'")}, 1)"
          s"((${weights(j)} * 1000000000000 // " +
            s"(48000000 - ${Bm25.log2E6Sql(h)} + 1)) * 16 + $j)"
        }
        s"""WITH a AS (SELECT doc_id,
           |                  greatest(${packed.mkString(",\n        ")}) % 16
           |                    AS shard
           |           FROM documents),
           |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
           |SELECT CAST(shard AS BIGINT) AS shard,
           |       CAST(shard % 4 + 1 AS BIGINT) AS weight,
           |       CAST(count(*) AS BIGINT) AS n_keys,
           |       CAST(count(*) AS BIGINT) * 1000000 // n_total AS share_e6,
           |       CAST(shard % 4 + 1 AS BIGINT) * 1000000 // $wsum
           |         AS expected_e6
           |FROM a CROSS JOIN t GROUP BY shard, n_total""".stripMargin
      }),

    // ── Incremental CC DELETE: standing labels for the chain+bridge
    //    graph arrive PRECOMPUTED (production holds yesterday's labels
    //    at rest; deriving them in-query made the bench pay full CC +
    //    rebuild). Bridges pair consecutive blocks
    //    of 50 (edge 100k→100k+50), so the exact standing labeling is
    //    analytic: cluster_id = id − id%100 (the pair min; holds for a
    //    trailing unpaired block too, since id%100 < 50 there —
    //    IncrementalCcFixtureSpec pins fixture == full StarComponents
    //    CC). Then remove half the bridges and rebuild ONLY the
    //    clusters that owned a removed edge (their surviving internal
    //    edges re-cluster; the untouched half keep labels without an
    //    edge read). Oracle: full CC over (edges − removed) — the
    //    increment must be exact, including the component SPLITS the
    //    removals cause.
    QueryDef("q_incremental_cc_delete",
      (s, d) => {
        val ids = Tables.documents(s, d).select(col("doc_id").as("id"))
        val chain = ids.as("x")
          .join(ids.as("y"), col("y.id") === col("x.id") + 1)
          .filter(col("x.id") % 50 =!= 49)
          .select(col("x.id").as("a"), col("y.id").as("b"))
        val bridges = ids.as("x")
          .join(ids.as("y"), col("y.id") === col("x.id") + 50)
          .filter(col("x.id") % 100 === 0)
          .select(col("x.id").as("a"), col("y.id").as("b"))
        val edges = chain.unionByName(bridges)
        val labels = ids.select(col("id"),
          (col("id") - col("id") % 100).as("cluster_id"))
        val removed = bridges.filter(col("a") % 200 === 0)
        StarComponents
          .incrementalDeleteConnectedComponents(labels, edges, removed)
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"),
            max(col("id")).as("max_id"))
      },
      Some("""WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
             |chain AS (SELECT x.id AS a, x.id + 1 AS b FROM ids x
             |          JOIN ids y ON y.id = x.id + 1 WHERE x.id % 50 <> 49),
             |bridges AS (SELECT x.id AS a, x.id + 50 AS b FROM ids x
             |            JOIN ids y ON y.id = x.id + 50
             |            WHERE x.id % 100 = 0),
             |surv AS (SELECT a, b FROM chain
             |         UNION ALL
             |         SELECT a, b FROM bridges WHERE a % 200 <> 0),
             |e2 AS (SELECT a, b FROM surv UNION ALL SELECT b, a FROM surv),
             |reach(id, label) AS (
             |  SELECT id, id FROM ids
             |  UNION
             |  SELECT e2.b, r.label FROM reach r JOIN e2 ON e2.a = r.id),
             |cc AS (SELECT id, min(label) AS cluster_id FROM reach
             |       GROUP BY id)
             |SELECT cluster_id, count(*) AS n_nodes, min(id) AS min_id,
             |       max(id) AS max_id
             |FROM cc GROUP BY 1""".stripMargin)),

    /* Bucketed-layout ADOPTION pass 2.
     * BucketAuditMain's registry-wide recommendation table (broadcast
     * disabled so the cluster-scale sort-merge shape is audited) ranks the
     * fact tables' hot keys:
     *
     *   orders(o_custkey) 23 join sides / orders(o_orderkey) 20 /
     *   customer(c_custkey) 20 / lineitem(l_orderkey) 19
     *
     * The two FACT tables are orders and lineitem, and their shared hot key
     * is the orderkey — the one join where neither side can broadcast at
     * 100 TB (customer-keyed joins pair a fact with a dim that still
     * broadcasts at scale). So the adoption target is: orders bucketBy
     * o_orderkey + lineitem bucketBy l_orderkey (written under the shared
     * column name), making every later orders⋈lineitem join AND any
     * orderkey-keyed aggregate exchange-free. */

    // ── Fact⋈fact rollup over the two bucketed FACT tables: per-order
    //    line revenue vs header price from bucketed lineitem ⋈ bucketed
    //    orders — scan → SMJ (no exchange) → orderkey-keyed agg (no
    //    exchange). BucketedLayoutAdoptionSpec pins the zero-exchange
    //    plan; the oracle pins that bucketing never changes results.
    QueryDef("q_bucketed_fact_join",
      (s, d) => {
        Bucketed.writeBucketed(
          Tables.orders(s, d).select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
              .as("hdr_c")),
          "graft_bkt_orders_ok", "o_orderkey", 8)
        Bucketed.writeBucketed(
          Tables.lineitem(s, d).select(col("l_orderkey").as("o_orderkey"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
              .as("line_c")),
          "graft_bkt_lineitem_ok", "o_orderkey", 8)
        Bucketed.join(s, "graft_bkt_lineitem_ok", "graft_bkt_orders_ok",
            "o_orderkey")
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_lines"), sum(col("line_c")).as("lines_c"),
            max(col("hdr_c")).as("hdr_c"))
      },
      Some("""SELECT l_orderkey AS o_orderkey,
             |       CAST(count(*) AS BIGINT) AS n_lines,
             |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |         AS BIGINT)) AS BIGINT) AS lines_c,
             |       CAST(max(CAST(floor(o_totalprice * 100 + 0.5)
             |         AS BIGINT)) AS BIGINT) AS hdr_c
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1""".stripMargin))
  )
}
