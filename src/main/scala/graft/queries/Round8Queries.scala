package graft.queries

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.ops.{Anomaly, Dedup, Graph, Quantiles, Skyline, TimeSeries}

/** Round-8 extensions: weighted-teleport PPR, BFS shortest hops,
  * common-neighbor link prediction, exact selection-based percentiles,
  * time-weighted averages, and the prefix-filtered Jaccard join.
  * All-integer arithmetic so every oracle is bit-exact.
  */
object Round8Queries {

  /** The round-7 asymmetric test graph (ring + every-third-node quadratic
    * chords) as SQL CTEs — shared by the graph oracles here. */
  private val graphSql =
    """WITH nodes AS (SELECT DISTINCT p_partkey % 100 AS id FROM part),
      |e AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
      |      UNION
      |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0)""".stripMargin

  /** Unrolled DuckDB twin of [[Graph.pageRankWeightedTeleport]] with
    * portfolio weights 50/30/20 on seeds {0, 30, 60}. */
  private def wtPprSql(iters: Int): String = {
    val head = graphSql +
      """,
        |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |ed AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
        |v AS (SELECT id, CAST(CASE id WHEN 0 THEN 500000 WHEN 30 THEN 300000
        |                              WHEN 60 THEN 200000 ELSE 0 END AS BIGINT) AS w
        |      FROM nodes),
        |p0 AS (SELECT id, w AS pr FROM v)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""p$k AS (SELECT v.id, CAST((15 * v.w) // 100
         |                         + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS pr
         |       FROM v LEFT JOIN (SELECT ed.dst, sum(p.pr // ed.outdeg) AS s
         |                         FROM ed JOIN p${k - 1} p ON p.id = ed.src
         |                         GROUP BY ed.dst) m ON m.dst = v.id)""".stripMargin
    }
    (head +: its).mkString(",\n") + s"\nSELECT id, pr AS pr_e6 FROM p$iters"
  }

  /** Unrolled k-core peeling oracle on the broken-ring graph: ring edges
    * except multiples of 7 (chains with loose ends) + the quadratic
    * chords; `rounds` must be ≥ the peeling convergence depth. */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val head =
      """WITH nodes AS (SELECT DISTINCT p_partkey % 100 AS id FROM part),
        |raw AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes WHERE id % 7 <> 0
        |        UNION
        |        SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0),
        |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |       FROM raw WHERE src <> dst)""".stripMargin
    // MATERIALIZED: each CTE is referenced 3-4 times; default inlining
    // would expand the chain exponentially (DuckDB runs out of file
    // handles re-opening the base parquet ~4^rounds times)
    val its = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT id FROM (SELECT id, count(*) AS c FROM (
         |          SELECT a AS id FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) u
         |        GROUP BY id) d WHERE c >= $k),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |        JOIN k$i x ON x.id = e.a JOIN k$i y ON y.id = e.b)""".stripMargin
    }
    (head +: its).mkString(",\n") +
      s"""\nSELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds) u
         |GROUP BY id""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    // ── Weighted (term-frequency) Jaccard at τ = 0.3: repeated terms
    //    count via Σmin / (totA + totB − Σmin).
    QueryDef("q_jaccard_weighted",
      (s, d) => Dedup.weightedJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 50)
          .select(col("doc_id"), col("text")),
        300000L),
      Some("""WITH tf AS (SELECT doc_id, wd AS word, CAST(count(*) AS BIGINT) AS tf
             |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |                  FROM documents WHERE doc_id < 50) u
             |            WHERE wd <> '' GROUP BY 1, 2),
             |tot AS (SELECT doc_id, sum(tf) AS tot FROM tf GROUP BY doc_id),
             |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |              sum(least(a.tf, b.tf)) AS wmin
             |       FROM tf a JOIN tf b ON a.word = b.word AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2)
             |SELECT sh.doc_a, sh.doc_b, CAST(sh.wmin AS BIGINT) AS wmin,
             |       CAST(ta.tot + tb.tot - sh.wmin AS BIGINT) AS wuni
             |FROM sh JOIN tot ta ON ta.doc_id = sh.doc_a
             |        JOIN tot tb ON tb.doc_id = sh.doc_b
             |WHERE sh.wmin * 1000000 >= 300000 * (ta.tot + tb.tot - sh.wmin)""".stripMargin)),

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

    // ── 2-core of the broken-ring graph: chain tails peel away in
    //    cascading rounds; only cycle-supported structure survives.
    QueryDef("q_kcore",
      (s, d) => {
        val nodes = Tables.part(s, d)
          .select((col("p_partkey") % 100).as("id")).distinct()
        val edges = nodes.filter(col("id") % 7 =!= 0)
          .select(col("id").as("a"), ((col("id") + 1) % 100).as("b"))
          .unionByName(nodes.filter(col("id") % 3 === 0)
            .select(col("id").as("a"), ((col("id") * col("id") + 7) % 100).as("b")))
        Graph.kCore(edges, 2, 16)
      },
      Some(kCoreSql(2, 16))),

    // ── PPR with a weighted teleport vector: portfolio mass 50/30/20 over
    //    seeds {0, 30, 60} — "importance relative to this portfolio".
    QueryDef("q_pagerank_teleport",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        val seeds = s.createDataFrame(
          Seq((0L, 500000L), (30L, 300000L), (60L, 200000L))).toDF("seed", "w_e6")
        Graph.pageRankWeightedTeleport(nodes, edges, seeds, 6)
      },
      Some(wtPprSql(6))),

    // ── BFS minimum-hop distance from the seed set {ids % 25 = 0} to
    //    depth 6; the oracle is a recursive CTE taking min over paths.
    QueryDef("q_bfs_levels",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        Graph.bfsLevels(nodes.withColumn("is_src", col("id") % 25 === 0),
          edges, "is_src", 6)
      },
      Some((graphSql +
        """,
          |bfs AS (
          |  SELECT id, CAST(0 AS BIGINT) AS d FROM nodes WHERE id % 25 = 0
          |  UNION
          |  SELECT e.dst AS id, bfs.d + 1 AS d
          |  FROM bfs JOIN e ON e.src = bfs.id WHERE bfs.d < 6)
          |SELECT id, min(d) AS dist FROM bfs GROUP BY id""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── Common-neighbor link prediction on the undirected view of the
    //    test graph: distance-2 pairs scored by shared-neighbor count.
    QueryDef("q_common_neighbors",
      (s, d) => {
        val (_, edges) = RingGraph.directed(s, d)
        Graph.commonNeighbors(edges.select(col("src").as("a"), col("dst").as("b")), 2L)
      },
      Some(graphSql +
        """,
          |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |        FROM e WHERE src <> dst),
          |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
          |wedge AS (SELECT l.u AS a, r.v AS b FROM adj l JOIN adj r
          |          ON l.v = r.u AND l.u < r.v),
          |scored AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common
          |           FROM wedge GROUP BY a, b)
          |SELECT s.a, s.b, s.n_common FROM scored s
          |LEFT JOIN und ON und.a = s.a AND und.b = s.b
          |WHERE und.a IS NULL AND s.n_common >= 2""".stripMargin)),

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

    // ── Per-type time-weighted average of event values: each value is
    //    weighted by its dwell time to the next event (seconds).
    QueryDef("q_time_weighted_avg",
      (s, d) => TimeSeries.timeWeightedAvg(
        Tables.events(s, d)
          .withColumn("t_us", unix_micros(col("ts")))
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long")),
        "event_type", "t_us", "event_id", "cents"),
      Some("""WITH e AS (SELECT event_type AS key, epoch_us(ts) AS t, event_id,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
             |g AS (SELECT key, c,
             |        lead(t) OVER (PARTITION BY key ORDER BY t, event_id) // 1000000
             |          - t // 1000000 AS dt_s
             |      FROM e)
             |SELECT key, CAST(sum(c * dt_s) // nullif(sum(dt_s), 0) AS BIGINT) AS twa_cents,
             |       CAST(sum(dt_s) AS BIGINT) AS dwell_s,
             |       CAST(count(*) AS BIGINT) AS n_spans
             |FROM g WHERE dt_s IS NOT NULL GROUP BY key""".stripMargin)),

    // ── Resource-allocation link prediction: common neighbors weighted
    //    1/deg(z) as e6 truncating integers — hubs count less.
    QueryDef("q_resource_allocation",
      (s, d) => {
        val (_, edges) = RingGraph.directed(s, d)
        Graph.resourceAllocation(
          edges.select(col("src").as("a"), col("dst").as("b")), 2L)
      },
      Some(graphSql +
        """,
          |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |        FROM e WHERE src <> dst),
          |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
          |deg AS (SELECT u AS z, count(*) AS degz FROM adj GROUP BY u),
          |wedge AS (SELECT l.u AS a, r.v AS b, 1000000 // deg.degz AS ra
          |          FROM adj l JOIN adj r ON l.v = r.u AND l.u < r.v
          |          JOIN deg ON deg.z = l.v),
          |scored AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
          |                  CAST(sum(ra) AS BIGINT) AS ra_e6
          |           FROM wedge GROUP BY a, b)
          |SELECT s.a, s.b, s.n_common, s.ra_e6 FROM scored s
          |LEFT JOIN und ON und.a = s.a AND und.b = s.b
          |WHERE und.a IS NULL AND s.n_common >= 2""".stripMargin)),

    // ── Bounded-hop weighted shortest paths from the seed set
    //    {id % 25 = 0}: edge cost 1 on ring edges, 3 on chords; ≤ 8 hops.
    QueryDef("q_shortest_paths",
      (s, d) => {
        val nodes = Tables.part(s, d)
          .select((col("p_partkey") % 100).as("id")).distinct()
          .withColumn("is_src", col("id") % 25 === 0)
        val edges = nodes
          .select(col("id").as("src"), ((col("id") + 1) % 100).as("dst"),
            lit(1L).as("w"))
          .unionByName(nodes.filter(col("id") % 3 === 0)
            .select(col("id").as("src"),
              ((col("id") * col("id") + 7) % 100).as("dst"), lit(3L).as("w")))
        Graph.shortestPaths(nodes, edges, "is_src", 8)
      },
      Some(("""WITH nodes AS (SELECT DISTINCT p_partkey % 100 AS id FROM part),
             |e AS (SELECT src, dst, min(w) AS w FROM (
             |        SELECT id AS src, (id + 1) % 100 AS dst, 1 AS w FROM nodes
             |        UNION ALL
             |        SELECT id AS src, (id * id + 7) % 100 AS dst, 3 AS w
             |        FROM nodes WHERE id % 3 = 0) u
             |      GROUP BY src, dst),
             |sp AS (
             |  SELECT id, CAST(0 AS BIGINT) AS cost, 0 AS hops
             |  FROM nodes WHERE id % 25 = 0
             |  UNION
             |  SELECT e.dst AS id, sp.cost + e.w AS cost, sp.hops + 1 AS hops
             |  FROM sp JOIN e ON e.src = sp.id WHERE sp.hops < 8)
             |SELECT id, min(cost) AS cost FROM sp GROUP BY id""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

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

    // ── Prefix-filtered exact Jaccard join at τ = 0.2 over the word sets
    //    of the first 50 documents; the oracle is the NAIVE all-pairs
    //    Jaccard with the same threshold — equality proves the prefix
    //    filter lossless.
    QueryDef("q_jaccard_prefix",
      (s, d) => Dedup.jaccardPrefixJoin(
        Tables.documents(s, d).filter(col("doc_id") < 50)
          .select(col("doc_id"), col("text")),
        200000L),
      Some("""WITH w AS (SELECT DISTINCT doc_id, wd AS word
             |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |                 FROM documents WHERE doc_id < 50) u
             |           WHERE wd <> ''),
             |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM w GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                 CAST(count(*) AS BIGINT) AS inter
             |          FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT i.doc_a, i.doc_b, i.inter,
             |       sa.sz + sb.sz - i.inter AS uni
             |FROM inter i
             |JOIN sizes sa ON sa.doc_id = i.doc_a
             |JOIN sizes sb ON sb.doc_id = i.doc_b
             |WHERE i.inter * 1000000 >= 200000 * (sa.sz + sb.sz - i.inter)""".stripMargin))
  )
}
