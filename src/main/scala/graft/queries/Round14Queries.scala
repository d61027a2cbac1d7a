package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Experiment, Graph, Hierarchy, Similarity}
import org.apache.spark.sql.functions._

/** Round-14 graph batch: multi-source closeness centrality, the
  * two-colorability (bipartiteness) certificate, edge-neighborhood
  * Jaccard (tie strength), and the degree histogram. Oracles replay
  * BFS as recursive CTEs (the q_bfs_levels precedent) over the shared
  * deterministic test graphs. */
object Round14Queries {

  /** Shared ring graph (ring + every-third-node quadratic chords) —
    * same construction as Round8Queries. */
  private val graphSql =
    """WITH nodes AS (SELECT DISTINCT p_partkey % 100 AS id FROM part),
      |e AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
      |      UNION
      |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0)""".stripMargin

  /** The chain-with-chords graph of Round12Queries (10 ten-node chains;
    * chords (c, c+4) everywhere and (c+4, c+9) on even chains). Unlike
    * the ring graph — whose every cycle is EVEN (ring steps and chords
    * both flip id parity) — the (c, c+4) chord closes a 5-cycle, so
    * this graph certifies the NON-bipartite branch. */
  private val chainGraphSql =
    """nodes AS (SELECT DISTINCT p_partkey % 100 AS id FROM part),
      |e AS (
      |  SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 10 <> 9
      |  UNION SELECT id, id + 4 FROM nodes WHERE id % 10 = 0
      |  UNION SELECT id, id + 5 FROM nodes WHERE id % 10 = 4 AND (id // 10) % 2 = 0),
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM e WHERE src <> dst)""".stripMargin

  private def chainGraph(s: org.apache.spark.sql.SparkSession, d: String) = {
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

  def defs: Seq[QueryDef] = Seq(

    // ── Bounded-hop (≤ 20) closeness centrality of the 4 seed nodes,
    //    all seeds carried by ONE labeled frontier loop.
    QueryDef("q_closeness",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        Graph.closeness(nodes.withColumn("is_seed", col("id") % 25 === 0),
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
          |       CAST(sum(dist) AS BIGINT) AS sum_dist,
          |       CAST(CASE WHEN sum(dist) = 0 THEN NULL
          |            ELSE (count(*) - 1) * 1000000 // sum(dist)
          |            END AS BIGINT) AS closeness_e6
          |FROM md GROUP BY 1""".stripMargin)
        .replaceFirst("WITH ", "WITH RECURSIVE "))),

    // ── Bipartiteness certificate on the chain graph (whose 5-cycles
    //    make it NON-bipartite, unlike the all-even-cycle ring): BFS
    //    parity coloring from node 0, then count same-color edges in
    //    the root's component.
    QueryDef("q_bipartite",
      (s, d) => {
        val (nodes, und) = chainGraph(s, d)
        Graph.bipartiteCheck(nodes.withColumn("is_root", col("id") === 0),
          und, "is_root", 64)
      },
      Some(("WITH RECURSIVE " + chainGraphSql +
        """,
          |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
          |bfs AS (
          |  SELECT id, 0 AS d FROM nodes WHERE id = 0
          |  UNION
          |  SELECT adj.v AS id, bfs.d + 1 AS d
          |  FROM bfs JOIN adj ON adj.u = bfs.id WHERE bfs.d < 64),
          |md AS (SELECT id, min(d) % 2 AS c FROM bfs GROUP BY 1),
          |j AS (SELECT und.a, und.b, ca.c AS ca, cb.c AS cb
          |      FROM und JOIN md ca ON ca.id = und.a
          |               JOIN md cb ON cb.id = und.b)
          |SELECT (SELECT CAST(count(*) AS BIGINT) FROM md) AS n_reached,
          |       CAST(count(*) AS BIGINT) AS n_edges_reached,
          |       CAST(count(*) FILTER (WHERE ca = cb) AS BIGINT) AS n_violating,
          |       count(*) FILTER (WHERE ca = cb) = 0 AS is_bipartite
          |FROM j""".stripMargin))),

    // ── Edge embeddedness: neighborhood Jaccard of each adjacent pair
    //    on the undirected ring graph — the tie-strength score.
    QueryDef("q_edge_jaccard",
      (s, d) => {
        val (_, edges) = RingGraph.directed(s, d)
        Graph.edgeJaccard(edges.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b")))
      },
      Some(graphSql +
        """,
          |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |        FROM e WHERE src <> dst),
          |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
          |common AS (SELECT l.v AS x, r.v AS y, CAST(count(*) AS BIGINT) AS c
          |           FROM adj l JOIN adj r ON l.u = r.u AND l.v < r.v
          |           GROUP BY 1, 2),
          |j AS (SELECT und.a, und.b, coalesce(common.c, 0) AS n_common
          |      FROM und LEFT JOIN common ON common.x = und.a AND common.y = und.b)
          |SELECT j.a, j.b, j.n_common,
          |       CAST(j.n_common * 1000000 // (da.d + db.d - j.n_common) AS BIGINT) AS jac_e6
          |FROM j JOIN deg da ON da.u = j.a JOIN deg db ON db.u = j.b""".stripMargin)),

    // ── Degree histogram of the undirected ring graph — the first plot
    //    of any graph audit; one degree aggregate + one histogram
    //    aggregate, both map-side combinable.
    QueryDef("q_degree_hist",
      (s, d) => {
        val (_, edges) = RingGraph.directed(s, d)
        val und = edges.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct().localCheckpoint(false) // edge axis: tiny; ONE raw scan
        und.select(col("a").as("u")).unionByName(und.select(col("b").as("u")))
          .groupBy(col("u")).agg(count(lit(1)).as("degree"))
          .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      },
      Some(graphSql +
        """,
          |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          |        FROM e WHERE src <> dst),
          |adj AS (SELECT a AS u FROM und UNION ALL SELECT b FROM und),
          |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY 1)
          |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
          |FROM deg GROUP BY 1""".stripMargin)),

    // ── Gram matrix of the leading 8 embedding dimensions: ONE scalar
    //    moment aggregate (36 conditional sums, zero hash exchange) in
    //    exact e12 integers — the covariance/PCA precursor.
    QueryDef("q_gram_matrix",
      (s, d) => Similarity.gramMatrix(Tables.embeddings(s, d), 8),
      Some {
        val dims = 8
        def c(i: Int) =
          s"CAST(floor(CAST(embedding AS DOUBLE[])[${i + 1}] * 1000000 + 0.5) AS BIGINT)"
        val pairs = for (i <- 0 until dims; j <- i until dims) yield (i, j)
        val sums = pairs.map { case (i, j) =>
          s"sum(c$i * c$j) AS g_${i}_$j" }.mkString(",\n  ")
        val comps = (0 until dims).map(i => s"${c(i)} AS c$i").mkString(",\n  ")
        val rows = pairs.map { case (i, j) =>
          s"SELECT CAST($i AS BIGINT) AS i, CAST($j AS BIGINT) AS j, CAST(g_${i}_$j AS BIGINT) AS g_e12, n_rows FROM m"
        }.mkString("\nUNION ALL\n")
        s"""WITH cc AS (SELECT
           |  $comps
           |  FROM embeddings),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  $sums
           |  FROM cc)
           |$rows""".stripMargin
      }),

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

    // ── Poisson-bootstrap confidence envelope of per-type mean event
    //    value: 16 hash-derandomized Poisson(1) resamples inside ONE
    //    map-side-combinable aggregate — the distributed bootstrap.
    QueryDef("q_bootstrap_ci",
      (s, d) => Experiment.bootstrapCi(
        Tables.events(s, d).select(col("event_type"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "event_type", "event_id", "cents"),
      Some {
        val b = 16
        def h(i: Int) =
          PortableSql.hash48("CAST(event_id AS VARCHAR)", s"'bs$i'") + " % 1000000"
        val pms = (0 until b).map(i => s"${h(i)} AS pm$i").mkString(",\n  ")
        val mults = (0 until b).map(i =>
          s"${Experiment.poissonMultSql(s"pm$i")} AS m$i").mkString(",\n  ")
        val sums = (0 until b).map(i =>
          s"CAST(sum(m$i * cents) AS BIGINT) AS bs$i, CAST(sum(m$i) AS BIGINT) AS bn$i")
          .mkString(",\n  ")
        val means = (0 until b).map(i =>
          s"CASE WHEN bn$i = 0 THEN NULL ELSE bs$i * 10000 // bn$i END").mkString(", ")
        s"""WITH raw AS (SELECT event_type, event_id,
           |                    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           |             FROM events),
           |hh AS (SELECT event_type, cents,
           |  $pms
           |  FROM raw),
           |mm AS (SELECT event_type, cents,
           |  $mults
           |  FROM hh),
           |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |             CAST(sum(cents) AS BIGINT) AS s,
           |  $sums
           |  FROM mm GROUP BY 1)
           |SELECT event_type, n, CAST(s * 10000 // n AS BIGINT) AS mean_e4,
           |       CAST(least($means) AS BIGINT) AS boot_lo_e4,
           |       CAST(greatest($means) AS BIGINT) AS boot_hi_e4,
           |       CAST($b AS BIGINT) AS n_resamples
           |FROM g""".stripMargin
      }),

    // ── Corpus mix report: docs/tokens per (lang, source) with each
    //    cell's share of the global token budget — the first table of
    //    any training-mix design review.
    QueryDef("q_doc_mix",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("lang"), col("source"),
            size(split(col("text"), " ")).cast("long").as("toks"))
        val cells = base.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        cells.crossJoin(broadcast(cells.agg(sum(col("n_tokens")).as("tot"))))
          .withColumn("tok_share_e6", expr("n_tokens * 1000000L div tot"))
          .drop("tot")
      },
      Some("""WITH base AS (SELECT lang, source,
             |                     CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
             |              FROM documents),
             |cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
             |                 CAST(sum(toks) AS BIGINT) AS n_tokens
             |          FROM base GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM cells)
             |SELECT lang, source, n_docs, n_tokens,
             |       CAST(n_tokens * 1000000 // tot AS BIGINT) AS tok_share_e6
             |FROM cells CROSS JOIN tot""".stripMargin))
  )
}
