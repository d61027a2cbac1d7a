package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Bm25, Graph, Sketches, Stats, TimeSeries}
import org.apache.spark.sql.functions._

/** Round-12 extension batch. Headline: bridge (cut-edge) detection —
  * the graph item open since round 10 — by the tree-XOR technique over
  * the unique MSF, graded against a fully independent path-covering
  * oracle (root the forest with a recursive CTE, then a forest edge is
  * a bridge iff NO non-forest edge's endpoints straddle it, decided by
  * ancestor-closure membership). Every oracle is plain DuckDB SQL over
  * the shared parquet. */
object Round12Queries {

  /** Dedicated test graph WITH bridges (the shared ring graph is
    * 2-edge-connected, so it has none): 10 ten-node chains
    * (ring broken at id%10=9) plus chords — (c, c+4) on every chain,
    * (c+4, c+9) on even chains only. Odd chains therefore keep five
    * uncovered chain edges each (25 bridges total); even chains are
    * fully cycle-covered. */
  private val bridgeGraphSql =
    """nodes AS MATERIALIZED (SELECT DISTINCT p_partkey % 100 AS id FROM part),
      |e AS MATERIALIZED (
      |  SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 10 <> 9
      |  UNION SELECT id, id + 4 FROM nodes WHERE id % 10 = 0
      |  UNION SELECT id, id + 5 FROM nodes WHERE id % 10 = 4 AND (id // 10) % 2 = 0),
      |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |     FROM e WHERE src <> dst),
      |we AS MATERIALIZED (SELECT a, b, a * 1000 + b AS w FROM und)""".stripMargin

  private def bridgeGraph(s: org.apache.spark.sql.SparkSession, d: String) = {
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
    (nodes, und.withColumn("w", col("a") * 1000 + col("b")))
  }

  def defs: Seq[QueryDef] = Seq(

    // ── Bridges via tree-XOR leaf peeling over the unique MSF. The
    //    oracle shares only the graph + the cut-property forest
    //    reconstruction (proven independently by q_msf) and then uses a
    //    COMPLETELY different bridge criterion: root each tree
    //    (recursive BFS walk), build the ancestor-or-self closure, and
    //    count for each tree edge the non-forest edges whose endpoints
    //    lie on opposite sides (exactly one endpoint has the edge's
    //    child as ancestor-or-self). Bridge ⟺ count = 0.
    QueryDef("q_bridges",
      (s, d) => {
        val (nodes, edges) = bridgeGraph(s, d)
        Graph.bridges(nodes, edges, 15)
      },
      Some {
        val head = "WITH RECURSIVE\n" + bridgeGraphSql +
          """,
            |d0 AS MATERIALIZED (SELECT a AS u, b AS v, w AS d FROM we
            |      UNION ALL SELECT b, a, w FROM we)""".stripMargin
        val rounds = (1 to 4).map { i =>
          s"""d$i AS MATERIALIZED (SELECT u, v, min(d) AS d FROM (
             |      SELECT u, v, d FROM d${i - 1}
             |      UNION ALL
             |      SELECT x.u, y.v, greatest(x.d, y.d) AS d
             |      FROM d${i - 1} x JOIN d${i - 1} y ON x.v = y.u AND x.u <> y.v)
             |      GROUP BY u, v)""".stripMargin
        }
        (head +: rounds.map("," + _)).mkString("\n") +
          """,
            |forest AS MATERIALIZED (SELECT we.a, we.b FROM we
            |      JOIN d4 ON d4.u = we.a AND d4.v = we.b WHERE d4.d = we.w),
            |nf AS MATERIALIZED (SELECT u.a, u.b FROM und u
            |      LEFT JOIN forest f ON f.a = u.a AND f.b = u.b WHERE f.a IS NULL),
            |fadj AS MATERIALIZED (SELECT a AS u, b AS v FROM forest
            |      UNION ALL SELECT b, a FROM forest),
            |root AS MATERIALIZED (SELECT n.id AS v, least(n.id, coalesce(min(d4.v), n.id)) AS r
            |      FROM nodes n LEFT JOIN d4 ON d4.u = n.id GROUP BY n.id),
            |walk AS (
            |  SELECT v, CAST(NULL AS BIGINT) AS parent FROM root WHERE r = v
            |  UNION ALL
            |  SELECT fadj.v, w.v FROM walk w JOIN fadj ON fadj.u = w.v
            |  WHERE w.parent IS NULL OR fadj.v <> w.parent),
            |anc AS (
            |  SELECT v AS dn, v AS an FROM walk
            |  UNION ALL
            |  SELECT anc.dn, w.parent FROM anc JOIN walk w ON w.v = anc.an
            |  WHERE w.parent IS NOT NULL),
            |straddle AS (
            |  SELECT t.x, t.y, t.an AS c FROM (
            |    SELECT nf.a AS x, nf.b AS y, anc.an FROM nf JOIN anc ON anc.dn = nf.a
            |    UNION ALL
            |    SELECT nf.a, nf.b, anc.an FROM nf JOIN anc ON anc.dn = nf.b) t
            |  GROUP BY t.x, t.y, t.an HAVING count(*) = 1),
            |cov AS MATERIALIZED (SELECT c, CAST(count(*) AS BIGINT) AS k
            |      FROM straddle GROUP BY c),
            |te AS MATERIALIZED (SELECT v AS c, parent AS p FROM walk WHERE parent IS NOT NULL)
            |SELECT CAST(least(te.c, te.p) AS BIGINT) AS a,
            |       CAST(greatest(te.c, te.p) AS BIGINT) AS b,
            |       coalesce(cov.k, 0) = 0 AS is_bridge
            |FROM te LEFT JOIN cov ON cov.c = te.c""".stripMargin
      }),

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

    // ── Chi-square independence of event_type × day-of-week (epoch-day
    //    mod 7 — identical on both engines, unlike dayofweek()).
    //    Per-cell e6 rounding before the integer cross-cell sum.
    QueryDef("q_chi_square",
      (s, d) => Stats.chiSquare(
        Tables.events(s, d)
          .select(col("event_type").as("x"),
            expr("(unix_micros(ts) div 86400000000) % 7").as("y")),
        "x", "y"),
      Some("""WITH e AS (SELECT event_type AS x,
             |                 (epoch_us(ts) // 86400000000) % 7 AS y FROM events),
             |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS o FROM e GROUP BY x, y),
             |rm AS (SELECT x, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY x),
             |cm AS (SELECT y, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY y),
             |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             |               CAST(count(DISTINCT x) AS BIGINT) AS nx,
             |               CAST(count(DISTINCT y) AS BIGINT) AS ny FROM cells),
             |grid AS (SELECT rm.x, rm.r, cm.y, cm.c, coalesce(cells.o, 0) AS o
             |         FROM rm CROSS JOIN cm
             |         LEFT JOIN cells ON cells.x = rm.x AND cells.y = cm.y),
             |terms AS (SELECT n, nx, ny,
             |            CAST(floor(CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
             |              / CAST(r * c * n AS DOUBLE) * CAST('1000000' AS DOUBLE)
             |              + CAST('0.5' AS DOUBLE)) AS BIGINT) AS term_e6
             |          FROM grid CROSS JOIN tot),
             |agg AS (SELECT n, nx, ny, CAST(sum(term_e6) AS BIGINT) AS chi2_e6
             |        FROM terms GROUP BY n, nx, ny)
             |SELECT n, (nx - 1) * (ny - 1) AS dof, chi2_e6,
             |       CAST(floor(sqrt(CAST(chi2_e6 AS DOUBLE) / CAST('1000000' AS DOUBLE)
             |         / CAST(n * least(nx - 1, ny - 1) AS DOUBLE))
             |         * CAST('1000000' AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT) AS v_e6
             |FROM agg""".stripMargin)),

    // ── Mutual information I(event_type; dow) in e6 bits — all integer
    //    via the shared fixed-point log₂.
    QueryDef("q_mutual_info",
      (s, d) => Stats.mutualInfo(
        Tables.events(s, d)
          .select(col("event_type").as("x"),
            expr("(unix_micros(ts) div 86400000000) % 7").as("y")),
        "x", "y"),
      Some {
        val lg = Bm25.log2E6Sql("(cxy * n)") + " - " + Bm25.log2E6Sql("(cx * cy)")
        s"""WITH e AS (SELECT event_type AS x,
           |                 (epoch_us(ts) // 86400000000) % 7 AS y FROM events),
           |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cxy FROM e GROUP BY x, y),
           |rm AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx FROM cells GROUP BY x),
           |cm AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy FROM cells GROUP BY y),
           |tot AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM cells),
           |terms AS (SELECT n, cxy * ($lg) AS contrib
           |          FROM cells JOIN rm USING (x) JOIN cm USING (y) CROSS JOIN tot)
           |SELECT n, CAST(count(*) AS BIGINT) AS n_cells,
           |       CAST(sum(contrib) // n AS BIGINT) AS mi_e6
           |FROM terms GROUP BY n""".stripMargin
      }),

    // ── Kaplan–Meier survival over customer order-span durations
    //    (days first→last order), churn-event if the last order is >60
    //    days before corpus end, else censored. Fixed-point log₂ sum
    //    inverted by the 2^-x table — all integer.
    QueryDef("q_kaplan_meier",
      (s, d) => Stats.kaplanMeier(
        Tables.orders(s, d)
          .withColumn("day",
            expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
          .groupBy(col("o_custkey"))
          .agg(min(col("day")).as("f"), max(col("day")).as("l"))
          .crossJoin(broadcast(
            Tables.orders(s, d).agg(max(
              expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"))
              .as("e"))))
          .select((col("l") - col("f")).as("t"),
            when(col("e") - col("l") > 60L, 1L).otherwise(0L).as("ev")),
        "t", "ev"),
      Some {
        val stepL = Bm25.log2E6Sql("(n_risk - d)") + " - " + Bm25.log2E6Sql("n_risk")
        s"""WITH od AS (SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS day
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
           |         WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)),
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

    // ── Lagged cross-correlation of hourly click vs view counts,
    //    lags 0–3 on a dense 0-filled hour spine.
    QueryDef("q_cross_corr",
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("h", expr("unix_micros(ts) div 3600000000"))
        TimeSeries.crossCorr(
          ev.filter(col("event_type") === "click")
            .groupBy(col("h")).agg(count(lit(1)).as("x")),
          ev.filter(col("event_type") === "view")
            .groupBy(col("h")).agg(count(lit(1)).as("y")),
          3)
      },
      Some("""WITH ev AS (SELECT epoch_us(ts) // 3600000000 AS h, event_type FROM events),
             |hx AS (SELECT h, CAST(count(*) AS BIGINT) AS x FROM ev
             |       WHERE event_type = 'click' GROUP BY h),
             |hy AS (SELECT h, CAST(count(*) AS BIGINT) AS y FROM ev
             |       WHERE event_type = 'view' GROUP BY h),
             |b AS (SELECT min(h) AS h0, max(h) AS h1
             |      FROM (SELECT h FROM hx UNION ALL SELECT h FROM hy)),
             |spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM b),
             |sx AS (SELECT h, coalesce(x, 0) AS x FROM spine LEFT JOIN hx USING (h)),
             |sy AS (SELECT h, coalesce(y, 0) AS y FROM spine LEFT JOIN hy USING (h)),
             |lagged AS (SELECT k.lag, sy.h - k.lag AS h, sy.y
             |           FROM sy CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS lag) k),
             |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
             |             CAST(sum(x) AS HUGEINT) AS s1, CAST(sum(y) AS HUGEINT) AS s2,
             |             CAST(sum(x * x) AS HUGEINT) AS s11,
             |             CAST(sum(y * y) AS HUGEINT) AS s22,
             |             CAST(sum(x * y) AS HUGEINT) AS s12
             |      FROM sx JOIN lagged USING (h) GROUP BY lag)
             |SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
             |       CASE WHEN n_pairs * s11 - s1 * s1 = 0 OR n_pairs * s22 - s2 * s2 = 0
             |            THEN NULL
             |            ELSE round(CAST(n_pairs * s12 - s1 * s2 AS DOUBLE) /
             |                       sqrt(CAST(n_pairs * s11 - s1 * s1 AS DOUBLE) *
             |                            CAST(n_pairs * s22 - s2 * s2 AS DOUBLE)), 6)
             |       END AS xcorr
             |FROM m""".stripMargin)),

    // ── Per-vertex local clustering coefficient on the ring graph.
    QueryDef("q_local_clustering",
      (s, d) => {
        val (_, edges) = RingGraph.simple(s, d)
        Graph.localClustering(edges)
      },
      Some(RingGraph.sql +
        """,
          |deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY u),
          |tri AS (SELECT l.u AS id, CAST(count(*) AS BIGINT) AS triangles
          |        FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
          |        JOIN und ON und.a = l.v AND und.b = r.v
          |        GROUP BY l.u)
          |SELECT d.id, d.degree, coalesce(t.triangles, 0) AS triangles,
          |       CAST(CASE WHEN d.degree >= 2
          |            THEN 2 * coalesce(t.triangles, 0) * 1000000 // (d.degree * (d.degree - 1))
          |            ELSE 0 END AS BIGINT) AS lcc_e6
          |FROM deg d LEFT JOIN tri t ON t.id = d.id""".stripMargin)),

    // ── Degree assortativity of the ring graph (Newman convention:
    //    every undirected edge counted both ways).
    QueryDef("q_assortativity",
      (s, d) => {
        val (_, edges) = RingGraph.simple(s, d)
        Graph.assortativity(edges)
      },
      Some(RingGraph.sql +
        """,
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
          |pairs AS (SELECT du.d AS x, dv.d AS y
          |          FROM adj JOIN deg du ON du.u = adj.u
          |                   JOIN deg dv ON dv.u = adj.v),
          |m AS (SELECT CAST(count(*) AS BIGINT) AS n_dir,
          |             CAST(sum(x) AS HUGEINT) AS s1, CAST(sum(y) AS HUGEINT) AS s2,
          |             CAST(sum(x * x) AS HUGEINT) AS s11,
          |             CAST(sum(y * y) AS HUGEINT) AS s22,
          |             CAST(sum(x * y) AS HUGEINT) AS s12
          |      FROM pairs)
          |SELECT n_dir,
          |       CASE WHEN n_dir * s11 - s1 * s1 = 0 OR n_dir * s22 - s2 * s2 = 0
          |            THEN NULL
          |            ELSE round(CAST(n_dir * s12 - s1 * s2 AS DOUBLE) /
          |                       sqrt(CAST(n_dir * s11 - s1 * s1 AS DOUBLE) *
          |                            CAST(n_dir * s22 - s2 * s2 AS DOUBLE)), 6)
          |       END AS r
          |FROM m""".stripMargin)),

    // ── Synchronous label-propagation communities, 4 rounds,
    //    deterministic (count desc, label asc) tie-break; oracle is the
    //    unrolled 4-round SQL replay.
    QueryDef("q_label_prop",
      (s, d) => {
        val (nodes, edges) = RingGraph.simple(s, d)
        Graph.labelPropagation(nodes, edges, 4)
      },
      Some {
        val head = RingGraph.sql +
          ",\nl0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)"
        val rounds = (1 to 4).map { i =>
          s"""r$i AS (SELECT v AS id, label FROM (
             |        SELECT v, label, row_number() OVER
             |            (PARTITION BY v ORDER BY cnt DESC, label ASC) AS rn
             |        FROM (SELECT adj.v, p.label, count(*) AS cnt
             |              FROM adj JOIN l${i - 1} p ON p.id = adj.u
             |              GROUP BY adj.v, p.label))
             |      WHERE rn = 1),
             |l$i AS MATERIALIZED (SELECT n.id, coalesce(r$i.label, n.label) AS label
             |      FROM l${i - 1} n LEFT JOIN r$i ON r$i.id = n.id)""".stripMargin
        }
        (head +: rounds.map("," + _)).mkString("\n") +
          "\nSELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label FROM l4"
      }))
}
