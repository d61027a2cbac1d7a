package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Bm25, Graph}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-75 batch: Hill tail-index estimator (how heavy the order-value
  * tail is — the parametric reading behind q_zipf_slope / q_lorenz),
  * Katz centrality (attenuated all-walks influence, the directed
  * centrality between q_pagerank's random surfer and q_hits's
  * mutual reinforcement), and weighted least squares (value-weighted
  * discount→quantity slope — q_linreg2's fit where rows genuinely
  * shouldn't count equally).
  */
object Round75Queries {

  def defs: Seq[QueryDef] = Seq(

    // ── Hill: top-100 order values vs the rank-101 reference, all in
    //    fixed-point log₂ — α̂ = k / mean ln(x_i/x_ref).
    QueryDef("q_hill_tail",
      (s, d) => {
        val ranked = Tables.orders(s, d)
          .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("v"), col("o_orderkey").as("ok"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("v").desc, col("ok"))))
          .where(col("rk") <= 101)
          .withColumn("lg", Bm25.log2E6(col("v")))
          .localCheckpoint(false) // top axis reused: head sum + reference
        val ref = ranked.where(col("rk") === 101)
          .select(col("lg").as("lg_ref"))
        ranked.where(col("rk") <= 100).crossJoin(broadcast(ref))
          .agg(count(lit(1)).as("k"),
            sum(col("lg") - col("lg_ref")).as("slg"))
          .selectExpr("k",
            "CAST(slg AS BIGINT) * 693147 div 1000000 AS sum_ln_e6",
            """CAST(k * 1000000000000 div
              |  greatest(CAST(slg AS BIGINT) * 693147 div 1000000, 1)
              |  AS BIGINT) AS alpha_e6""".stripMargin)
      },
      Some {
        val lg = Bm25.log2E6Sql("v")
        s"""WITH ranked AS (
           |  SELECT v, $lg AS lg, rk FROM (
           |    SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
           |           row_number() OVER (ORDER BY
           |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           |             DESC, o_orderkey) AS rk
           |    FROM orders)
           |  WHERE rk <= 101),
           |ref AS (SELECT lg AS lg_ref FROM ranked WHERE rk = 101),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS k,
           |               CAST(sum(lg - lg_ref) AS BIGINT) AS slg
           |        FROM ranked CROSS JOIN ref WHERE rk <= 100)
           |SELECT k, slg * 693147 // 1000000 AS sum_ln_e6,
           |       CAST(k * 1000000000000 //
           |         greatest(slg * 693147 // 1000000, 1) AS BIGINT)
           |         AS alpha_e6
           |FROM agg""".stripMargin
      }),

    // ── Katz: x ← 1e6·1 + (Aᵀx) div 10, three unrolled rounds over the
    //    event digraph; every frame after the edge dedup is node-sized.
    QueryDef("q_katz_centrality",
      (s, d) => {
        val e = Tables.events(s, d)
          .select((col("user_id") % 500).as("src"),
            (col("event_id") % 500).as("dst"))
          .where(col("src") =!= col("dst")).distinct()
          .localCheckpoint(false) // reused by all 3 rounds
        val nodes = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct()
        Graph.propagateFor(3, nodes.withColumn("x", lit(1000000L)))(
          Graph.propagate(e, nodes, Seq("id"), col("x"),
            expr("1000000L + coalesce(in_mass, 0L) div 10"), "x"))
          .select(col("id"), col("x").as("katz_e6"))
      },
      Some {
        def round(k: Int) =
          s"""x$k AS (SELECT n.id,
             |              1000000 + coalesce(i.sx, 0) // 10 AS x
             |       FROM nodes n LEFT JOIN (
             |         SELECT e.dst AS id, CAST(sum(p.x) AS BIGINT) AS sx
             |         FROM e JOIN x${k - 1} p ON p.id = e.src
             |         GROUP BY 1) i ON n.id = i.id)""".stripMargin
        s"""WITH e AS (
           |  SELECT DISTINCT user_id % 500 AS src, event_id % 500 AS dst
           |  FROM events WHERE user_id % 500 <> event_id % 500),
           |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
           |x0 AS (SELECT id, CAST(1000000 AS BIGINT) AS x FROM nodes),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT id, CAST(x AS BIGINT) AS katz_e6 FROM x3"""
          .stripMargin
      }),

    // ── WLS: value-weighted discount→quantity slope per return flag;
    //    exact decimal moments, one double close.
    QueryDef("q_wls_slope",
      (s, d) => {
        val dec = "decimal(38,0)"
        Tables.lineitem(s, d)
          .select(col("l_returnflag").as("g"),
            floor(col("l_discount") * 100 + 0.5).cast(dec).as("x"),
            floor(col("l_quantity") + 0.5).cast(dec).as("y"),
            floor(col("l_extendedprice") * 100 + 0.5).cast(dec).as("w"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
            sum(col("w") * col("x")).as("swx"),
            sum(col("w") * col("y")).as("swy"),
            sum(col("w") * col("x") * col("x")).as("swxx"),
            sum(col("w") * col("x") * col("y")).as("swxy"))
          .selectExpr("g", "CAST(n AS BIGINT) AS n",
            """CASE WHEN sw * swxx - swx * swx = 0 THEN NULL
              |     ELSE round(CAST(sw * swxy - swx * swy AS DOUBLE)
              |          / CAST(sw * swxx - swx * swx AS DOUBLE), 6)
              |END AS wls_slope""".stripMargin)
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag AS g,
             |         CAST(floor(l_discount * 100 + 0.5) AS HUGEINT) AS x,
             |         CAST(floor(l_quantity + 0.5) AS HUGEINT) AS y,
             |         CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT)
             |           AS w
             |  FROM lineitem),
             |mom AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             |               sum(w) AS sw, sum(w * x) AS swx,
             |               sum(w * y) AS swy, sum(w * x * x) AS swxx,
             |               sum(w * x * y) AS swxy
             |        FROM li GROUP BY 1)
             |SELECT g, n,
             |       CASE WHEN sw * swxx - swx * swx = 0 THEN NULL
             |            ELSE round(CAST(sw * swxy - swx * swy AS DOUBLE)
             |                 / CAST(sw * swxx - swx * swx AS DOUBLE), 6)
             |       END AS wls_slope
             |FROM mom""".stripMargin))
  )
}
