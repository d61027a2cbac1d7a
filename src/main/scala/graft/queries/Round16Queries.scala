package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Bm25, Diversify, Graph, Quantiles, Sketches, TextAnalysis, TimeSeries}
import org.apache.spark.sql.functions._

/** Round-16 batch: bounded-hop eccentricity and the double-sweep
  * diameter lower bound (closing the §7.4k graph-diameter candidate),
  * the DDSketch-vs-exact quantile accuracy audit, and MMR
  * diversification of embedding retrieval. Graph oracles replay BFS as
  * recursive CTEs; the MMR oracle unrolls the greedy picks. */
object Round16Queries {

  /** Shared ring graph (ring + every-third-node quadratic chords) —
    * same construction as Round8/Round14. */
  private val graphSql =
    """WITH nodes AS (SELECT DISTINCT p_partkey % 100 AS id FROM part),
      |e AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
      |      UNION
      |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0)""".stripMargin

  /** Leading-`dims` e6-quantized embedding components, as in
    * Similarity.gramMatrix / Round15's PCA oracle. */
  private def compSql(i: Int) =
    s"CAST(floor(CAST(embedding AS DOUBLE[])[${i + 1}] * 1000000 + 0.5) AS BIGINT)"

  private val mmrDims = 8

  /** Unrolled greedy-MMR oracle: candidates = top 8 by integer inner
    * product against the smallest-vec_id query vector; picks 1..4 with
    * margin rel − max(sim to selected), ties to the smaller id. */
  private def mmrSql(k: Int): String = {
    val comps = (0 until mmrDims).map(i => s"${compSql(i)} AS c$i").mkString(", ")
    def ip(x: String, y: String) =
      (0 until mmrDims).map(i => s"$x.c$i * $y.c$i").mkString(" + ")
    val picks = (2 to k).map { r =>
      s"""sel${r - 1} AS MATERIALIZED (${(1 until r).map(i => s"SELECT id FROM s$i").mkString(" UNION ALL ")}),
         |s$r AS MATERIALIZED (
         |  SELECT c.id, c.rel, c.rel - max(s.sim) AS mmr2, CAST($r AS BIGINT) AS pick
         |  FROM cand c JOIN sims s ON s.a = c.id AND s.b IN (SELECT id FROM sel${r - 1})
         |  WHERE c.id NOT IN (SELECT id FROM sel${r - 1})
         |  GROUP BY c.id, c.rel ORDER BY mmr2 DESC, c.id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH cc AS (SELECT vec_id, $comps FROM embeddings),
       |q AS MATERIALIZED (SELECT * FROM cc ORDER BY vec_id LIMIT 1),
       |rel AS (SELECT cc.vec_id AS id, ${ip("cc", "q")} AS rel
       |        FROM cc CROSS JOIN q WHERE cc.vec_id <> q.vec_id),
       |cand AS MATERIALIZED (SELECT id, rel FROM rel ORDER BY rel DESC, id LIMIT 8),
       |cs AS (SELECT c.id, c.rel, ${(0 until mmrDims).map(i => s"cc.c$i").mkString(", ")}
       |       FROM cand c JOIN cc ON cc.vec_id = c.id),
       |sims AS MATERIALIZED (SELECT x.id AS a, y.id AS b, ${ip("x", "y")} AS sim
       |       FROM cs x JOIN cs y ON x.id <> y.id),
       |s1 AS MATERIALIZED (SELECT id, rel, rel AS mmr2, CAST(1 AS BIGINT) AS pick
       |      FROM cand ORDER BY rel DESC, id LIMIT 1),
       |$picks
       |SELECT pick, CAST(id AS BIGINT) AS id, CAST(rel AS BIGINT) AS rel,
       |       CAST(mmr2 AS BIGINT) AS mmr2
       |FROM (${(1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")})""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    // ── Bounded-hop (≤ 20) eccentricity of the 4 seed nodes over the
    //    directed ring graph: farthest min-hop reach per seed, one
    //    labeled multi-source frontier for all seeds.
    QueryDef("q_eccentricity",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        Graph.eccentricity(nodes.withColumn("is_seed", col("id") % 25 === 0),
          edges, "is_seed", 20)
      },
      Some((graphSql +
        """,
          |bfs AS (
          |  SELECT id AS seed, id, 0 AS d FROM nodes WHERE id % 25 = 0
          |  UNION
          |  SELECT bfs.seed, e.dst AS id, bfs.d + 1 AS d
          |  FROM bfs JOIN e ON e.src = bfs.id WHERE bfs.d < 20),
          |md AS (SELECT seed, id, min(d) AS dist FROM bfs GROUP BY 1, 2)
          |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
          |       CAST(max(dist) AS BIGINT) AS ecc
          |FROM md GROUP BY 1""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── Double-sweep diameter lower bound on the UNDIRECTED ring graph:
    //    BFS from node 0, re-BFS from its farthest reach u (ties →
    //    smallest id); ecc(u) ≥ radius and lower-bounds the diameter.
    QueryDef("q_diameter_sweep",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        val adj = edges
          .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
        Graph.doubleSweepDiameter(nodes.withColumn("is_root", col("id") === 0),
          adj, "is_root", 64)
      },
      Some((graphSql +
        """,
          |adj AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e),
          |b0 AS (
          |  SELECT CAST(0 AS BIGINT) AS id, 0 AS d
          |  UNION
          |  SELECT adj.v AS id, b0.d + 1 AS d
          |  FROM b0 JOIN adj ON adj.u = b0.id WHERE b0.d < 64),
          |m0 AS (SELECT id, min(d) AS dist FROM b0 GROUP BY 1),
          |far AS MATERIALIZED (SELECT id AS u, dist AS ecc_root FROM m0
          |       ORDER BY dist DESC, id LIMIT 1),
          |b1 AS (
          |  SELECT (SELECT u FROM far) AS id, 0 AS d
          |  UNION
          |  SELECT adj.v AS id, b1.d + 1 AS d
          |  FROM b1 JOIN adj ON adj.u = b1.id WHERE b1.d < 64),
          |m1 AS (SELECT id, min(d) AS dist FROM b1 GROUP BY 1)
          |SELECT (SELECT CAST(u AS BIGINT) FROM far) AS u,
          |       (SELECT CAST(ecc_root AS BIGINT) FROM far) AS ecc_root,
          |       CAST(max(dist) AS BIGINT) AS diameter_lb,
          |       CAST(count(*) AS BIGINT) AS n_reached
          |FROM m1""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── Sketch-accuracy audit: DDSketch-style log-bucket p50/p99
    //    estimates vs the exact rank statistics, per returnflag — the
    //    relative error the sketch PROMISES (~2% at 5-bit mantissa ×
    //    k=57536) measured, not assumed. Sketch: one (g, bucket) count
    //    aggregate; exact: the histogram-selection grouped percentile.
    QueryDef("q_quantile_audit",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_returnflag").as("g"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
        val sk = Sketches.logBucketQuantile(li, "g", "cents", 57536L,
            Seq(500000L, 990000L))
          .withColumn("mid_l", expr("bucket * 57536L + 28768L"))
          .withColumn("est_cents", Sketches.pow2E6Expr("mid_l"))
        val ex = Quantiles.groupedPercentileBands(li, "g", "cents",
          Seq(500000L, 990000L))
        sk.join(ex.select(col("g"), col("p_e6"),
            col("value").as("exact_cents")), Seq("g", "p_e6"))
          .select(col("g"), col("p_e6"), col("bucket"), col("k"), col("n"),
            col("est_cents"), col("exact_cents"),
            expr("abs(est_cents - exact_cents) * 1000000L div exact_cents")
              .as("err_e6"))
      },
      Some {
        val lg = Bm25.log2E6Sql("v")
        val est = Sketches.pow2E6Sql("bucket * 57536 + 28768")
        s"""WITH e AS (SELECT l_returnflag AS g,
           |                 greatest(1, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS v
           |           FROM lineitem),
           |b AS (SELECT g, v, $lg // 57536 AS bucket FROM e),
           |c AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
           |w AS (SELECT g, bucket, cnt,
           |             CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS BIGINT) AS cum,
           |             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
           |      FROM c),
           |ps AS (SELECT unnest([500000, 990000]) AS p_e6),
           |land AS (SELECT g, CAST(ps.p_e6 AS BIGINT) AS p_e6,
           |                CAST(bucket AS BIGINT) AS bucket,
           |                CAST((n * ps.p_e6 + 999999) // 1000000 AS BIGINT) AS k, n,
           |                CAST($est AS BIGINT) AS est_cents
           |         FROM w JOIN ps ON cum >= (n * ps.p_e6 + 999999) // 1000000
           |                       AND cum - cnt < (n * ps.p_e6 + 999999) // 1000000),
           |ranked AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
           |           FROM e)
           |SELECT l.g, l.p_e6, l.bucket, l.k, l.n, l.est_cents,
           |       r.v AS exact_cents,
           |       CAST(abs(l.est_cents - r.v) * 1000000 // r.v AS BIGINT) AS err_e6
           |FROM land l JOIN ranked r ON r.g = l.g AND r.rn = l.k""".stripMargin
      }),

    // ── MMR diversification (λ = ½) of the top-8 inner-product
    //    retrieval against the smallest-vec_id query embedding: 4
    //    greedy picks trading relevance against max similarity to the
    //    already-picked — e6-integer vector math end to end.
    QueryDef("q_mmr_diversify",
      (s, d) => {
        val cc = (0 until mmrDims).foldLeft(
          Tables.embeddings(s, d)
            .withColumn("ev", col("embedding").cast("array<double>"))) {
          (acc, i) => acc.withColumn(s"c$i",
            expr(s"CAST(floor(element_at(ev, ${i + 1}) * 1000000 + 0.5) AS BIGINT)"))
        }.select(col("vec_id") +: (0 until mmrDims).map(i => col(s"c$i")): _*)
        val q = cc.orderBy(col("vec_id")).limit(1)
          .select((0 until mmrDims).map(i => col(s"c$i").as(s"q$i")) :+
            col("vec_id").as("q_id"): _*)
        val ip = (0 until mmrDims)
          .map(i => col(s"c$i") * col(s"q$i")).reduce(_ + _)
        val cand = cc.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("rel", ip)
          .orderBy(col("rel").desc, col("vec_id").asc).limit(8)
          .select(col("vec_id").as("id") +: col("rel") +:
            (0 until mmrDims).map(i => col(s"c$i")): _*)
          .localCheckpoint(false)
        val right = cand.select(col("id").as("b") +:
          (0 until mmrDims).map(i => col(s"c$i").as(s"q$i")): _*)
        val sims = cand.crossJoin(right)
          .filter(col("id") =!= col("b"))
          .select(col("id").as("a"), col("b"), ip.as("sim"))
        Diversify.mmr(cand.select(col("id"), col("rel")), sims, 4)
      },
      Some(mmrSql(4))),

    // ── Exact betweenness centrality (ordered-pair, e6) on the
    //    chain-with-chords graph: |V|-source BFS + layered σ counts +
    //    the tight-triangle pair-dependency join. Chain interiors score
    //    high, chord-bypassed nodes low, isolated endpoints zero.
    QueryDef("q_betweenness",
      (s, d) => {
        val (nodes, und) = chainGraph(s, d)
        val adj = und.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
        Graph.betweenness(nodes, adj, 10)
      },
      Some("WITH RECURSIVE " + chainGraphSql + ",\n" + betweennessSql(8))),

    // ── Holt double-exponential smoothing (α = β = ½) of each event
    //    type's first 6 values: bounded-horizon unroll — the coupled
    //    (level, trend) recursion as one pivot aggregate + fixed column
    //    arithmetic, closing SURVEY §7.4k's blocked candidate.
    QueryDef("q_holt_linear",
      (s, d) => TimeSeries.holtLinear(
        Tables.events(s, d)
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long")),
        "event_type", "ts", "event_id", "cents", 6),
      Some(holtSql(6))),

    // ── Zipf-law slope of the token-frequency distribution (top 256
    //    ranks): fixed-point log-log least squares, DECIMAL(38,0)
    //    moments, one deterministic-double division.
    QueryDef("q_zipf_slope",
      (s, d) => TextAnalysis.zipfSlope(
        Tables.documents(s, d).select(col("text")), 256),
      Some {
        val lx = Bm25.log2E6Sql("rk")
        val ly = Bm25.log2E6Sql("f")
        s"""WITH t AS (SELECT wd FROM (SELECT unnest(string_split(text, ' ')) AS wd
           |                           FROM documents) u WHERE wd <> ''),
           |f AS (SELECT wd, CAST(count(*) AS BIGINT) AS f FROM t GROUP BY 1),
           |top AS (SELECT f, wd, row_number() OVER (ORDER BY f DESC, wd) AS rk
           |        FROM f ORDER BY f DESC, wd LIMIT 256),
           |xy AS (SELECT CAST($lx AS BIGINT) AS x, CAST($ly AS BIGINT) AS y FROM top),
           |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |             sum(x * x) AS sxx, sum(x * y) AS sxy FROM xy)
           |SELECT CAST(n AS BIGINT) AS n_ranks,
           |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
           |             CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
           |FROM m""".stripMargin
      })
  )

  /** Unrolled Holt (α = β = ½) oracle: pivot each key's first `m`
    * values via CASE-max, then m−1 step CTEs with uniquely-numbered
    * level/trend columns (no lateral-alias ambiguity); halves are
    * sign-factored to match Spark's toward-zero `div`. */
  private def holtSql(m: Int): String = {
    def sdiv2(v: String) =
      s"(CASE WHEN ($v) >= 0 THEN ($v) // 2 ELSE -((-($v)) // 2) END)"
    val xs = (1 to m).map(i =>
      s"max(CASE WHEN rn = $i THEN x END) AS x$i").mkString(",\n         ")
    val steps = (2 to m).map { t =>
      val carry = ((t + 1) to m).map(i => s"x$i").mkString(", ")
      val carrySql = if (carry.isEmpty) "" else s"$carry, "
      val lNew = sdiv2(s"x$t + l${t - 1} + b${t - 1}")
      s"""h$t AS (SELECT key, $carrySql$lNew AS l$t,
         |  ${sdiv2(s"$lNew - l${t - 1} + b${t - 1}")} AS b$t FROM h${t - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT event_type AS key,
       |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS x,
       |                 row_number() OVER (PARTITION BY event_type
       |                                    ORDER BY ts, event_id) AS rn
       |           FROM events),
       |p AS (SELECT key, count(*) AS n,
       |         $xs
       |      FROM e WHERE rn <= $m GROUP BY key),
       |h1 AS (SELECT key, ${(2 to m).map(i => s"x$i").mkString(", ")},
       |              x1 AS l1, x2 - x1 AS b1 FROM p WHERE n = $m),
       |$steps
       |SELECT key, CAST(l$m AS BIGINT) AS level_cents,
       |       CAST(b$m AS BIGINT) AS trend_cents,
       |       CAST(l$m + b$m AS BIGINT) AS forecast_cents
       |FROM h$m""".stripMargin
  }

  /** The chain-with-chords graph of Round12/Round14 (10 ten-node
    * chains; chords (c, c+4) everywhere and (c+4, c+9) on even
    * chains) — small components exercise the all-pairs-exact regime. */
  private[queries] val chainGraphSql =
    """nodes AS (SELECT DISTINCT p_partkey % 100 AS id FROM part),
      |ce AS (
      |  SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 10 <> 9
      |  UNION SELECT id, id + 4 FROM nodes WHERE id % 10 = 0
      |  UNION SELECT id, id + 5 FROM nodes WHERE id % 10 = 4 AND (id // 10) % 2 = 0),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM ce WHERE src <> dst)""".stripMargin

  private[queries] def chainGraph(s: org.apache.spark.sql.SparkSession, d: String) = {
    val nodes = Tables.part(s, d)
      .select((col("p_partkey") % 100).as("id")).distinct()
    val chain = nodes.filter(col("id") % 10 =!= 9)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val c1 = nodes.filter(col("id") % 10 === 0)
      .select(col("id").as("src"), (col("id") + 4).as("dst"))
    val c2 = nodes.filter(col("id") % 10 === 4 && expr("(id div 10) % 2") === 0)
      .select(col("id").as("src"), (col("id") + 5).as("dst"))
    val und = chain.unionByName(c1).unionByName(c2)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    (nodes, und)
  }

  /** Layered-σ betweenness oracle body through the `contrib` CTE
    * (expects `nodes` and `und` CTEs in scope): recursive BFS distances
    * seeded where `seedPred` holds, `layers` unrolled σ CTEs, the
    * tight-triangle triple join. Callers append their final SELECT
    * (exact: coalesce join-back; sampled: the pair-count rescale). */
  private[queries] def betweennessBodySql(layers: Int,
                                          seedPred: String = "TRUE"): String = {
    val sigs = (1 to layers).map { k =>
      s"""sig$k AS MATERIALIZED (
         |  SELECT f.s, adj.v, CAST(sum(f.sig) AS BIGINT) AS sig, $k AS d
         |  FROM sig${k - 1} f JOIN adj ON adj.u = f.v
         |  JOIN md ON md.s = f.s AND md.v = adj.v AND md.dist = $k
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""adj AS (SELECT a AS u, b AS v FROM und UNION SELECT b, a FROM und),
       |bfs AS (
       |  SELECT id AS s, id AS v, 0 AS dd FROM nodes WHERE $seedPred
       |  UNION
       |  SELECT bfs.s, adj.v, bfs.dd + 1 AS dd
       |  FROM bfs JOIN adj ON adj.u = bfs.v WHERE bfs.dd < $layers),
       |md AS MATERIALIZED (SELECT s, v, min(dd) AS dist FROM bfs GROUP BY 1, 2),
       |sig0 AS (SELECT s, v, CAST(1 AS BIGINT) AS sig, 0 AS d FROM md WHERE dist = 0),
       |$sigs,
       |sigd AS MATERIALIZED (${(0 to layers).map(k => s"SELECT * FROM sig$k").mkString(" UNION ALL ")}),
       |contrib AS (
       |  SELECT a.v AS v, CAST(sum(a.sig * b.sig * 1000000 // c.sig) AS BIGINT) AS bc_e6
       |  FROM sigd a
       |  JOIN sigd b ON b.v = a.v AND b.s <> a.s AND a.v <> a.s AND a.v <> b.s
       |  JOIN sigd c ON c.s = a.s AND c.v = b.s AND c.d = a.d + b.d
       |  GROUP BY 1)""".stripMargin
  }

  private def betweennessSql(layers: Int): String =
    betweennessBodySql(layers) +
      s"""
         |SELECT CAST(n.id AS BIGINT) AS v,
         |       CAST(coalesce(bc.bc_e6, 0) AS BIGINT) AS bc_e6
         |FROM nodes n LEFT JOIN contrib bc ON bc.v = n.id""".stripMargin
}
