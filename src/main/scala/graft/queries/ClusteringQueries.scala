package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{ClusterEval, Dbscan, Graph, GridCluster, Outlier, Similarity,
  Stats}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Clustering and cluster-quality reads: k-means, DBSCAN, agglomerative
  * merges, LOF, and internal/external validity indices. */
object ClusteringQueries extends QueryCatalog {

  import Fixtures._

  /** e3-quantized embedding components keyed (vec_id, i), 1-based i. */
  private val compSql =
    """comp AS MATERIALIZED (
      |  SELECT vec_id,
      |         unnest(list_transform(CAST(embedding AS DOUBLE[]),
      |           x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))) AS v,
      |         unnest(range(1, len(embedding) + 1)) AS i
      |  FROM embeddings)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── One full k-means training round (assign → recompute → re-assign):
    //    the centroid-training step q_sim_ivf's Scaladoc points at, oracle-
    //    checked with the iteration unrolled. Output: post-round cluster
    //    sizes + recomputed-centroid norms.
    QueryDef("q_kmeans_round",
      (s, d) => {
        val e = Similarity.cast(Tables.embeddings(s, d)).select(col("vec_id"), col("ev"))
        val c0 = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("c_id"), col("ev").as("cv"))
        val c1 = Similarity.kmeansRecompute(Similarity.ivfAssign(e, c0))
        val asn1 = Similarity.ivfAssign(e, c1)
        asn1.groupBy(col("c_id")).agg(count(lit(1)).as("n_vecs"))
          .join(c1.select(col("c_id"),
            round(Similarity.dot(col("cv"), col("cv")), 4).as("centroid_norm_sq")), "c_id")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
             |c0 AS (SELECT vec_id AS c_id, ev AS cv FROM e WHERE vec_id < 8),
             |a0 AS (SELECT vec_id, ev, c_id FROM (
             |         SELECT e.vec_id, e.ev, c.c_id,
             |                row_number() OVER (PARTITION BY e.vec_id
             |                  ORDER BY list_dot_product(e.ev, c.cv) /
             |                    (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
             |                  c.c_id ASC) AS rn
             |         FROM e CROSS JOIN c0 c) t WHERE rn = 1),
             |c1e AS (SELECT c_id, i, round(avg(v), 4) AS c
             |        FROM (SELECT c_id, generate_subscripts(ev, 1) AS i, unnest(ev) AS v
             |              FROM a0) x
             |        GROUP BY 1, 2),
             |c1 AS (SELECT c_id, list(c ORDER BY i) AS cv FROM c1e GROUP BY 1),
             |a1 AS (SELECT vec_id, c_id FROM (
             |         SELECT e.vec_id, c.c_id,
             |                row_number() OVER (PARTITION BY e.vec_id
             |                  ORDER BY list_dot_product(e.ev, c.cv) /
             |                    (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
             |                  c.c_id ASC) AS rn
             |         FROM e CROSS JOIN c1 c) t WHERE rn = 1),
             |sz AS (SELECT c_id, count(*) AS n_vecs FROM a1 GROUP BY 1)
             |SELECT sz.c_id, sz.n_vecs,
             |       round(list_dot_product(c1.cv, c1.cv), 4) AS centroid_norm_sq
             |FROM sz JOIN c1 ON sz.c_id = c1.c_id""".stripMargin)),

    // ── Grid-density clustering (DBSCAN-lite) of the derived position
    //    grid: dense cells (≥ 2× mean occupancy, scale-free threshold)
    //    8-neighbor-joined and component-labeled — the neighborhood
    //    query is an equi-join, the closure runs on cells, not points.
    QueryDef("q_grid_clusters",
      (s, d) => GridCluster.denseCellClusters(
        Tables.events(s, d)
          .select(expr("((user_id * 37) % 17000) div 100").as("cx"),
            expr("((event_id * 91) % 35000) div 100").as("cy")),
        "cx", "cy"),
      Some("""WITH RECURSIVE c AS (
             |  SELECT (user_id * 37) % 17000 // 100 AS cx,
             |         (event_id * 91) % 35000 // 100 AS cy, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT (2 * sum(n)) // count(*) AS thr FROM c),
             |d AS MATERIALIZED (
             |  SELECT cx, cy, n, cx * 1000 + cy AS k FROM c, t WHERE n >= thr),
             |e AS (SELECT a.k AS a, b.k AS b FROM d a JOIN d b
             |      ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
             |     AND b.cy BETWEEN a.cy - 1 AND a.cy + 1 AND a.k < b.k),
             |e2 AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
             |reach(id, label) AS (
             |  SELECT k, k FROM d
             |  UNION
             |  SELECT e2.b, r.label FROM reach r JOIN e2 ON e2.a = r.id),
             |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
             |SELECT cluster_id, count(*) AS n_cells,
             |       CAST(sum(d.n) AS BIGINT) AS n_points
             |FROM cc JOIN d ON d.k = cc.id GROUP BY 1""".stripMargin)),

    // ── B-cubed quality of the 4-round label-prop communities against
    //    the decade ground truth (id div 10) on the ring graph.
    QueryDef("q_bcubed",
      (s, d) => {
        val (nodes, edges) = RingGraph.simple(s, d)
        Stats.bcubed(Graph.labelPropagation(nodes, edges, 4)
          .select(col("id"), col("label").as("cluster"),
            expr("id div 10").as("truth")))
      },
      Some {
        val tail =
          """asg AS (SELECT id, label AS cluster, id // 10 AS truth FROM l4),
            |cells AS (SELECT cluster, truth, count(*) AS sct
            |          FROM asg GROUP BY 1, 2),
            |csz AS (SELECT cluster, sum(sct) AS sc FROM cells GROUP BY 1),
            |tsz AS (SELECT truth, sum(sct) AS st FROM cells GROUP BY 1),
            |ag AS (SELECT sum(sct) AS n,
            |         sum(sct * (sct * 1000000 // sc)) AS psum,
            |         sum(sct * (sct * 1000000 // st)) AS rsum
            |       FROM cells JOIN csz USING (cluster) JOIN tsz USING (truth)),
            |pr AS (SELECT CAST(n AS BIGINT) AS n,
            |         CAST(psum // n AS BIGINT) AS precision_e6,
            |         CAST(rsum // n AS BIGINT) AS recall_e6
            |       FROM ag)
            |SELECT n, precision_e6, recall_e6,
            |       CASE WHEN precision_e6 + recall_e6 = 0 THEN 0
            |            ELSE CAST(2 * precision_e6 * recall_e6
            |                 // (precision_e6 + recall_e6) AS BIGINT)
            |       END AS f1_e6
            |FROM pr""".stripMargin
        RingGraph.labelPropSql + ",\n" + tail
      }),

    // ── Simplified silhouette per label over the embeddings table:
    //    squared-distance score in e6 fixed point (see ClusterEval).
    QueryDef("q_silhouette",
      (s, d) => ClusterEval.centroidSilhouette(Tables.embeddings(s, d)),
      Some(s"""WITH $quantEmbeddingsSql,
             |comp AS MATERIALIZED (
             |  SELECT vec_id, label, unnest(qv) AS v,
             |         unnest(range(1, len(qv) + 1)) AS i
             |  FROM q),
             |cent AS (
             |  SELECT label AS cl, i,
             |         CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT)
             |           AS c
             |  FROM comp GROUP BY 1, 2),
             |d2 AS (
             |  SELECT p.vec_id, p.label, c.cl,
             |         CAST(sum((p.v - c.c) * (p.v - c.c)) AS BIGINT) AS d2
             |  FROM comp p JOIN cent c ON c.i = p.i
             |  GROUP BY 1, 2, 3),
             |ab AS (
             |  SELECT vec_id, label,
             |         max(CASE WHEN cl = label THEN d2 END) AS a,
             |         min(CASE WHEN cl <> label THEN d2 END) AS b
             |  FROM d2 GROUP BY 1, 2),
             |s AS (
             |  SELECT label,
             |         CASE WHEN a = b THEN 0
             |              WHEN b > a THEN 1000000 - CAST(
             |                (CAST(1000000 AS HUGEINT) * CAST(a AS HUGEINT))
             |                // CAST(b AS HUGEINT) AS BIGINT)
             |              ELSE CAST(
             |                (CAST(1000000 AS HUGEINT) * CAST(b AS HUGEINT))
             |                // CAST(a AS HUGEINT) AS BIGINT) - 1000000
             |         END AS s_e6
             |  FROM ab)
             |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             |       CAST(sum(s_e6) AS BIGINT) AS sum_sil_e6,
             |       CAST(sum(CASE WHEN s_e6 < 0 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_neg
             |FROM s GROUP BY label""".stripMargin)),

    // ── L∞ DBSCAN point classification over positions (ε = 200 e2-deg,
    //    minPts = 5), counted per provider. Coordinates shift to ≥ 0 so
    //    ε-cell bucketing truncates identically cross-engine.
    QueryDef("q_dbscan_classify",
      (s, d) => Dbscan.classify(
        Tables.positions(s, d).select(
          col("event_id").as("id"), col("provider").as("grp"),
          (floor(col("lat") * 100 + 0.5).cast("long") + 10000L).as("x"),
          (floor(col("lon") * 100 + 0.5).cast("long") + 20000L).as("y")),
        eps = 200L, minPts = 5L),
      Some(s"""WITH p AS MATERIALIZED (
              |  SELECT event_id AS id, provider AS grp,
              |         CAST(floor(lat * 100 + 0.5) AS BIGINT) + 10000 AS x,
              |         CAST(floor(lon * 100 + 0.5) AS BIGINT) + 20000 AS y
              |  FROM ${Tables.positionsSql} pp),
              |c AS MATERIALIZED (
              |  SELECT id, grp, x, y, x // 200 AS cx, y // 200 AS cy FROM p),
              |scat AS (
              |  SELECT id AS ida, x AS xa, y AS ya,
              |         cx + dx.d AS ncx, cy + dy.d AS ncy
              |  FROM c, (VALUES (-1), (0), (1)) dx(d),
              |          (VALUES (-1), (0), (1)) dy(d)),
              |pairs AS MATERIALIZED (
              |  SELECT s.ida, b.id AS idb
              |  FROM scat s JOIN c b ON b.cx = s.ncx AND b.cy = s.ncy
              |  WHERE greatest(abs(s.xa - b.x), abs(s.ya - b.y)) <= 200),
              |nb AS (SELECT ida, count(*) AS n FROM pairs GROUP BY ida),
              |core AS (SELECT ida AS idc FROM nb WHERE n >= 5),
              |hascore AS (
              |  SELECT DISTINCT pr.ida FROM pairs pr
              |  JOIN core ON core.idc = pr.idb)
              |SELECT grp,
              |       CAST(sum(CASE WHEN core.idc IS NOT NULL THEN 1 ELSE 0
              |                END) AS BIGINT) AS core_pts,
              |       CAST(sum(CASE WHEN core.idc IS NULL
              |                      AND h.ida IS NOT NULL THEN 1 ELSE 0
              |                END) AS BIGINT) AS border_pts,
              |       CAST(sum(CASE WHEN core.idc IS NULL AND h.ida IS NULL
              |                THEN 1 ELSE 0 END) AS BIGINT) AS noise_pts
              |FROM p LEFT JOIN core ON core.idc = p.id
              |       LEFT JOIN hascore h ON h.ida = p.id
              |GROUP BY grp""".stripMargin)),

    // ── Inter-centroid distance matrix over the embeddings labels,
    //    nearest-pair flagged.
    QueryDef("q_centroid_matrix",
      (s, d) => ClusterEval.centroidMatrix(Tables.embeddings(s, d)),
      Some("""WITH comp AS MATERIALIZED (
             |  SELECT CAST(label AS BIGINT) AS label,
             |         unnest(list_transform(CAST(embedding AS DOUBLE[]),
             |           x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))) AS v,
             |         unnest(range(1, len(embedding) + 1)) AS i
             |  FROM embeddings),
             |cent AS (SELECT label, i,
             |           CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))
             |             AS BIGINT) AS c
             |         FROM comp GROUP BY 1, 2),
             |d2 AS (SELECT a.label AS la, b.label AS lb,
             |              CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS d2_e12
             |       FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
             |       GROUP BY 1, 2),
             |sym AS (SELECT la, lb, d2_e12 FROM d2
             |        UNION ALL SELECT lb, la, d2_e12 FROM d2),
             |mins AS (SELECT la, min(d2_e12) AS mn FROM sym GROUP BY 1)
             |SELECT d2.la AS label_a, d2.lb AS label_b, d2.d2_e12,
             |       (d2.d2_e12 = ma.mn OR d2.d2_e12 = mb.mn) AS is_nn
             |FROM d2 JOIN mins ma ON ma.la = d2.la
             |     JOIN mins mb ON mb.la = d2.lb""".stripMargin)),

    // ── LOF k=5 within each label block, top-10 outliers per label.
    QueryDef("q_lof",
      (s, d) => Outlier.lofWithinLabel(Tables.embeddings(s, d), 5, 10),
      Some(s"""WITH $quantEmbeddingsSql,
             |knn AS MATERIALIZED (
             |  SELECT * FROM (
             |    SELECT a.label, a.vec_id AS ia, b.vec_id AS ib,
             |           CAST(list_sum(list_transform(
             |             generate_series(1, len(a.qv)),
             |             i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))
             |             AS BIGINT) AS d2,
             |           row_number() OVER (PARTITION BY a.vec_id
             |             ORDER BY list_sum(list_transform(
             |               generate_series(1, len(a.qv)),
             |               i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))),
             |               b.vec_id) AS rk
             |    FROM q a JOIN q b
             |      ON a.label = b.label AND a.vec_id <> b.vec_id)
             |  WHERE rk <= 5),
             |kd AS (SELECT ia, CAST(max(d2) AS BIGINT) AS kdist
             |       FROM knn GROUP BY 1),
             |sr AS (SELECT k.label, k.ia,
             |              greatest(CAST(sum(greatest(kb.kdist, k.d2))
             |                AS BIGINT), 200000) AS sreach
             |       FROM knn k JOIN kd kb ON k.ib = kb.ia
             |       GROUP BY 1, 2),
             |inv AS (SELECT ia AS ib,
             |               CAST(CAST('1000000000000000000000000' AS HUGEINT)
             |                 // CAST(sreach AS HUGEINT) AS BIGINT) AS inv_b
             |        FROM sr),
             |si AS (SELECT k.ia, CAST(sum(i.inv_b) AS BIGINT) AS sinv
             |       FROM knn k JOIN inv i ON k.ib = i.ib GROUP BY 1),
             |lof AS (SELECT sr.label, sr.ia AS vec_id, kd.kdist AS kdist_e12,
             |               CAST(CAST(sr.sreach AS HUGEINT)
             |                 * CAST(si.sinv AS HUGEINT)
             |                 // CAST('5000000000000000000' AS HUGEINT)
             |                 AS BIGINT) AS lof_e6
             |        FROM sr JOIN si ON sr.ia = si.ia
             |             JOIN kd ON sr.ia = kd.ia)
             |SELECT label, vec_id, kdist_e12, lof_e6 FROM (
             |  SELECT *, row_number() OVER (PARTITION BY label
             |    ORDER BY lof_e6 DESC, vec_id) AS pick FROM lof)
             |WHERE pick <= 10""".stripMargin)),

    // ── Davies–Bouldin over the labeled embeddings: centroids stay
    //    exact rationals (sv/nv per dim); every per-member distance and
    //    centroid-pair distance is rounded to an e6 INTEGER before any
    //    cross-row aggregation, so no double ever sums in
    //    nondeterministic order. Squared sums ride decimal(38,0)/
    //    HUGEINT; DBᵢ = max_j (Sᵢ+Sⱼ)·1e6 div d(cᵢ,cⱼ) is pure integer
    //    arithmetic on the bounded label axis.
    QueryDef("q_davies_bouldin",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            posexplode(expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
              "x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))"))
              .as(Seq("i", "v")))
          .localCheckpoint(false) // centroid build + scatter join-back
        val cent = e.groupBy(col("label"), col("i"))
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("nv"))
          .localCheckpoint(false) // member join + the label-pair grid
        val scat = e.join(cent, Seq("label", "i"))
          .groupBy(col("label"), col("vec_id"))
          .agg(sum(expr(s"CAST(nv * v - sv AS $dec)" +
            s" * CAST(nv * v - sv AS $dec)")).as("ssq"),
            max(col("nv")).as("nv"))
          .select(col("label"), expr(
            """CAST(round(sqrt(CAST(ssq AS DOUBLE)) / CAST(nv AS DOUBLE)
              |* CAST('1000000' AS DOUBLE), 0) AS BIGINT)"""
              .stripMargin).as("dist_e6"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("nl"), sum(col("dist_e6")).as("sd"))
          .select(col("label"), expr("sd div nl").as("s_e6"))
          .localCheckpoint(false) // joined twice into the pair frame
        val cpair = cent.as("a").join(cent.as("b"),
            col("a.i") === col("b.i") && col("a.label") < col("b.label"))
          .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
          .agg(sum(expr(
            s"""CAST(a.sv * b.nv - b.sv * a.nv AS $dec)
               |* CAST(a.sv * b.nv - b.sv * a.nv AS $dec)"""
              .stripMargin)).as("dsq"),
            max(expr("a.nv * b.nv")).as("nn"))
          .select(col("la"), col("lb"), expr(
            """CAST(round(sqrt(CAST(dsq AS DOUBLE)) / CAST(nn AS DOUBLE)
              |* CAST('1000000' AS DOUBLE), 0) AS BIGINT)"""
              .stripMargin).as("dc_e6"))
        val both = cpair
          .unionByName(cpair.select(col("lb").as("la"),
            col("la").as("lb"), col("dc_e6")))
        val dbi = both
          .join(scat.select(col("label").as("la"), col("s_e6").as("sa")),
            "la")
          .join(scat.select(col("label").as("lb"), col("s_e6").as("sb")),
            "lb")
          .groupBy(col("la"))
          .agg(max(expr(
            "CASE WHEN dc_e6 = 0 THEN 0 " +
              "ELSE (sa + sb) * 1000000 div dc_e6 END")).as("db_e6"))
        dbi.agg(count(lit(1)).as("k"), sum(col("db_e6")).as("sdb"))
          .selectExpr("CAST(k AS BIGINT) AS n_labels",
            "sdb div k AS db_index_e6")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
             |                 generate_subscripts(
             |                   CAST(embedding AS DOUBLE[]), 1) AS i,
             |                 unnest(list_transform(
             |                   CAST(embedding AS DOUBLE[]),
             |                   x -> CAST(floor(x * 1000000 + 0.5)
             |                        AS BIGINT))) AS v
             |          FROM embeddings),
             |cent AS (SELECT label, i, CAST(sum(v) AS BIGINT) AS sv,
             |                CAST(count(*) AS BIGINT) AS nv
             |         FROM e GROUP BY 1, 2),
             |mem AS (SELECT e.label, e.vec_id,
             |               sum(CAST(nv * v - sv AS HUGEINT)
             |                   * CAST(nv * v - sv AS HUGEINT)) AS ssq,
             |               max(nv) AS nv
             |        FROM e JOIN cent ON e.label = cent.label
             |          AND e.i = cent.i
             |        GROUP BY 1, 2),
             |md AS (SELECT label,
             |              CAST(round(sqrt(CAST(ssq AS DOUBLE))
             |                / CAST(nv AS DOUBLE)
             |                * CAST('1000000' AS DOUBLE), 0) AS BIGINT)
             |                AS dist_e6
             |       FROM mem),
             |scat AS (SELECT label,
             |                CAST(sum(dist_e6) AS BIGINT) // count(*)
             |                  AS s_e6
             |         FROM md GROUP BY 1),
             |cp AS (SELECT a.label AS la, b.label AS lb,
             |              CAST(round(sqrt(CAST(sum(
             |                CAST(a.sv * b.nv - b.sv * a.nv AS HUGEINT)
             |                * CAST(a.sv * b.nv - b.sv * a.nv
             |                    AS HUGEINT)) AS DOUBLE))
             |                / CAST(max(a.nv * b.nv) AS DOUBLE)
             |                * CAST('1000000' AS DOUBLE), 0) AS BIGINT)
             |                AS dc_e6
             |       FROM cent a JOIN cent b ON a.i = b.i
             |         AND a.label < b.label
             |       GROUP BY 1, 2),
             |pr AS (SELECT la, lb, dc_e6 FROM cp
             |       UNION ALL SELECT lb, la, dc_e6 FROM cp),
             |dbi AS (SELECT la,
             |               max(CASE WHEN dc_e6 = 0 THEN 0
             |                        ELSE (sa.s_e6 + sb.s_e6) * 1000000
             |                             // dc_e6 END) AS db_e6
             |        FROM pr
             |        JOIN scat sa ON sa.label = pr.la
             |        JOIN scat sb ON sb.label = pr.lb
             |        GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_labels,
             |       CAST(sum(db_e6) AS BIGINT) // count(*)
             |         AS db_index_e6
             |FROM dbi""".stripMargin)),

    /* K-means inertia curve (`q_kmeans_inertia_curve`): two full
     * Lloyd's rounds from the first-8-vector seed; per round, the
     * rounded-cosine inertia and the number of vectors that changed
     * cluster — the convergence trace behind q_kmeans_round's single
     * step. Centroids round to 4 dp (engine-portable means), distances
     * to 6 dp, inertia sums exact integers after e6 scaling. */
    // ── Two Lloyd's rounds with per-round inertia (Σ rounded
    //    (1−cos)·1e6) and moved-vector counts vs the previous
    //    assignment. Centroid means at 4 dp keep the whole trace
    //    engine-portable.
    QueryDef("q_kmeans_inertia_curve",
      (s, d) => {
        val e = Similarity.cast(Tables.embeddings(s, d))
          .select(col("vec_id"), col("ev")).localCheckpoint(false)
        val c0 = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("c_id"), col("ev").as("cv"))

        // rank by RAW cosine (the ivfAssign convention — IEEE-identical
        // expression text both engines); round only the kept value
        def assignWithCos(cents: org.apache.spark.sql.DataFrame) = {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("vec_id"))
            .orderBy(col("rawc").desc, col("c_id"))
          e.crossJoin(broadcast(cents))
            .withColumn("rawc", Similarity.cosine(col("ev"), col("cv")))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("vec_id"), col("ev"), col("c_id"),
              round(col("rawc"), 6).as("ccos"))
            .localCheckpoint(false)
        }
        val a0 = assignWithCos(c0)
        val c1 = Similarity.kmeansRecompute(
          a0.select(col("vec_id"), col("ev"), col("c_id")))
          .localCheckpoint(false)
        val a1 = assignWithCos(c1)
        val c2 = Similarity.kmeansRecompute(
          a1.select(col("vec_id"), col("ev"), col("c_id")))
          .localCheckpoint(false)
        val a2 = assignWithCos(c2)

        def inertia(a: org.apache.spark.sql.DataFrame, r: Int) = a
          .selectExpr("CAST(round((1 - ccos) * 1000000) AS BIGINT) AS i")
          .agg(sum(col("i")).as("inertia_e6"))
          .selectExpr(s"CAST($r AS BIGINT) AS round", "inertia_e6")
        def moved(prev: org.apache.spark.sql.DataFrame,
                  cur: org.apache.spark.sql.DataFrame) = prev
          .select(col("vec_id"), col("c_id").as("p"))
          .join(cur.select(col("vec_id"), col("c_id").as("c")), "vec_id")
          .agg(sum(when(col("p") =!= col("c"), 1L).otherwise(0L))
            .as("n_moved"))

        val r0 = inertia(a0, 0).crossJoin(broadcast(
          s.range(1).selectExpr("CAST(0 AS BIGINT) AS n_moved")))
        val r1 = inertia(a1, 1).crossJoin(broadcast(moved(a0, a1)))
        val r2 = inertia(a2, 2).crossJoin(broadcast(moved(a1, a2)))
        r0.unionByName(r1).unionByName(r2)
          .selectExpr("round", "inertia_e6",
            "CAST(n_moved AS BIGINT) AS n_moved")
      },
      Some {
        val cos = (a: String, b: String) =>
          s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
        def assign(cents: String, out: String) =
          s"""$out AS (SELECT vec_id, ev, c_id,
             |  round(${cos("ev", "cv")}, 6) AS ccos FROM (
             |  SELECT e.vec_id, e.ev, c.c_id, c.cv,
             |         row_number() OVER (PARTITION BY e.vec_id
             |           ORDER BY ${cos("e.ev", "c.cv")} DESC,
             |           c.c_id ASC) AS rn
             |  FROM e CROSS JOIN $cents c) t WHERE rn = 1)""".stripMargin
        def recompute(asn: String, out: String) =
          s"""$out AS (
             |  SELECT c_id, list(c ORDER BY i) AS cv FROM (
             |    SELECT c_id, i, round(avg(v), 4) AS c
             |    FROM (SELECT c_id, generate_subscripts(ev, 1) AS i,
             |                 unnest(ev) AS v
             |          FROM $asn) x
             |    GROUP BY 1, 2) g GROUP BY 1)""".stripMargin
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
           |           FROM embeddings),
           |c0 AS (SELECT vec_id AS c_id, ev AS cv FROM e
           |       WHERE vec_id < 8),
           |${assign("c0", "a0")},
           |${recompute("a0", "c1")},
           |${assign("c1", "a1")},
           |${recompute("a1", "c2")},
           |${assign("c2", "a2")},
           |i0 AS (SELECT CAST(0 AS BIGINT) AS round,
           |         CAST(sum(CAST(round((1 - ccos) * 1000000) AS BIGINT))
           |           AS BIGINT) AS inertia_e6,
           |         CAST(0 AS BIGINT) AS n_moved FROM a0),
           |i1 AS (SELECT CAST(1 AS BIGINT),
           |         CAST(sum(CAST(round((1 - ccos) * 1000000) AS BIGINT))
           |           AS BIGINT),
           |         (SELECT CAST(sum(CASE WHEN p.c_id <> c.c_id THEN 1
           |            ELSE 0 END) AS BIGINT)
           |          FROM a0 p JOIN a1 c ON p.vec_id = c.vec_id)
           |       FROM a1),
           |i2 AS (SELECT CAST(2 AS BIGINT),
           |         CAST(sum(CAST(round((1 - ccos) * 1000000) AS BIGINT))
           |           AS BIGINT),
           |         (SELECT CAST(sum(CASE WHEN p.c_id <> c.c_id THEN 1
           |            ELSE 0 END) AS BIGINT)
           |          FROM a1 p JOIN a2 c ON p.vec_id = c.vec_id)
           |       FROM a2)
           |SELECT * FROM i0 UNION ALL SELECT * FROM i1
           |UNION ALL SELECT * FROM i2""".stripMargin
      }),

    /* Calinski–Harabasz index (`q_calinski_harabasz`): the
     * between/within variance-ratio cluster-quality score over the
     * labeled embeddings — completes the internal-validity trio next
     * to q_silhouette and q_davies_bouldin. Centroids round to 4 dp,
     * distances to 6 dp, sums are exact integers after e6 scaling
     * (the q_kmeans_inertia_curve convention). */
    // ── Calinski–Harabasz over the labeled embeddings: B = Σ n_l·
    //    d²(c_l, c̄), W = Σ d²(x, c_label); CH = (B/(k−1))/(W/(n−k)).
    //    One explode feeds both centroid builds; distances are
    //    per-element joins on (label, i) — groupBy-partial all the way,
    //    no wide pivot, no all-pairs.
    //    Everything lives on the 4dp-quantized integer grid (v_e4 =
    //    round(v·1e4), centroids = truncated integer means of v_e4) so
    //    every sum is EXACT — the first draft summed 64 doubles per
    //    distance and the accumulation-order ulp flipped a 6dp rounding
    //    at sf0.001 (only B; W matched — the classic silent class).
    QueryDef("q_calinski_harabasz",
      (s, d) => {
        val e = Similarity.cast(Tables.embeddings(s, d))
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("ev"))
        val el = e.select(col("vec_id"), col("label"),
            posexplode(col("ev")).as(Seq("i", "v")))
          .selectExpr("vec_id", "label", "i",
            "CAST(round(v * 10000) AS BIGINT) AS v_e4")
          .localCheckpoint(false) // one explode feeds centroids AND W
        val cent = el.groupBy(col("label"), col("i"))
          .agg(expr("sum(v_e4) div count(1)").as("c_e4"),
            count(lit(1)).as("n_l"))
          .localCheckpoint(false) // label×dim axis (10×64)
        val gcent = cent.groupBy(col("i"))
          .agg(expr("sum(c_e4) div count(1)").as("gc_e4"))
        val bPer = cent.join(broadcast(gcent), "i")
          .groupBy(col("label"))
          .agg(sum(expr("(c_e4 - gc_e4) * (c_e4 - gc_e4)")).as("d2_e8"),
            first(col("n_l")).as("n_l"))
          .selectExpr("label", "n_l * d2_e8 AS b_l_e8")
        val b = bPer.agg(sum(col("b_l_e8")).as("b_e8"),
          count(lit(1)).as("k"))
        val w = el.join(broadcast(cent.select(col("label"), col("i"),
            col("c_e4"))), Seq("label", "i"))
          .groupBy(col("vec_id"))
          .agg(sum(expr("(v_e4 - c_e4) * (v_e4 - c_e4)")).as("w_e8"))
          .agg(sum(col("w_e8")).as("w_e8"), count(lit(1)).as("n"))
        b.crossJoin(broadcast(w))
          .selectExpr("CAST(n AS BIGINT) AS n_vecs",
            "CAST(k AS BIGINT) AS n_clusters",
            "b_e8 div 100 AS b_e6", "w_e8 div 100 AS w_e6",
            """(b_e8 div (k - 1)) * 1000000
              | div greatest(1L, w_e8 div (n - k)) AS ch_e6""".stripMargin)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
             |                 CAST(embedding AS DOUBLE[]) AS ev
             |           FROM embeddings),
             |el AS (SELECT vec_id, label,
             |              generate_subscripts(ev, 1) - 1 AS i,
             |              CAST(round(unnest(ev) * 10000) AS BIGINT) AS v_e4
             |       FROM e),
             |cent AS (SELECT label, i,
             |                CAST(sum(v_e4) AS BIGINT) // count(*) AS c_e4,
             |                CAST(count(*) AS BIGINT) AS n_l
             |         FROM el GROUP BY 1, 2),
             |gcent AS (SELECT i, CAST(sum(c_e4) AS BIGINT) // count(*)
             |            AS gc_e4
             |          FROM cent GROUP BY 1),
             |bper AS (SELECT cent.label,
             |                min(cent.n_l) * CAST(sum((cent.c_e4 - gcent.gc_e4)
             |                  * (cent.c_e4 - gcent.gc_e4)) AS BIGINT)
             |                  AS b_l_e8
             |         FROM cent JOIN gcent ON cent.i = gcent.i
             |         GROUP BY cent.label),
             |bb AS (SELECT CAST(sum(b_l_e8) AS BIGINT) AS b_e8,
             |              CAST(count(*) AS BIGINT) AS k
             |       FROM bper),
             |wper AS (SELECT el.vec_id,
             |                CAST(sum((el.v_e4 - cent.c_e4)
             |                  * (el.v_e4 - cent.c_e4)) AS BIGINT) AS w_e8
             |         FROM el JOIN cent
             |           ON el.label = cent.label AND el.i = cent.i
             |         GROUP BY el.vec_id),
             |ww AS (SELECT CAST(sum(w_e8) AS BIGINT) AS w_e8,
             |              CAST(count(*) AS BIGINT) AS n
             |       FROM wper)
             |SELECT n AS n_vecs, k AS n_clusters,
             |       b_e8 // 100 AS b_e6, w_e8 // 100 AS w_e6,
             |       (b_e8 // (k - 1)) * 1000000
             |         // greatest(1, w_e8 // (n - k)) AS ch_e6
             |FROM bb CROSS JOIN ww""".stripMargin)),

    /* Agglomerative merge step (`q_agglo_merge`): one single-linkage
     * round over nation-level customer centroids — closest centroid
     * pair (squared integer distance, tie → smaller pair) merges into
     * its size-weighted mean; 24 clusters out. The bounded-axis
     * induction step of hierarchical clustering (k² candidate pairs on
     * a 25-row axis — the fact scan happens once, in the rollup). */
    // ── One agglomerative (single-linkage) merge over nation centroids
    //    on (avg acctbal dollars, customers-per-nation): the closest
    //    pair by squared distance merges size-weighted; ties break on
    //    (a, b) nation-key order. Output: 24 surviving clusters.
    QueryDef("q_agglo_merge",
      (s, d) => {
        val cent = Tables.customer(s, d)
          .groupBy(col("c_nationkey").as("nk"))
          .agg(count(lit(1)).as("sz"),
            expr("CAST(sum(floor(c_acctbal)) AS BIGINT) div count(1)")
              .as("x"))
          .localCheckpoint(false) // 25-row axis: pairs AND output share it
        val pairs = cent.as("a").join(cent.as("b"),
            col("a.nk") < col("b.nk"))
          .selectExpr("a.nk AS an", "b.nk AS bn",
            "(a.x - b.x) * (a.x - b.x) + (a.sz - b.sz) * (a.sz - b.sz) AS d2")
        val best = pairs.withColumn("rk", row_number().over(
            Window.orderBy(col("d2"), col("an"), col("bn"))))
          .filter(col("rk") === 1)
          .selectExpr("an", "bn")
        val tagged = cent.crossJoin(broadcast(best))
        val merged = tagged.filter(col("nk") === col("an") ||
            col("nk") === col("bn"))
          .groupBy(col("an"))
          .agg(sum(col("sz")).as("sz"),
            expr("sum(x * sz) div sum(sz)").as("x"))
          .selectExpr("an AS cluster_id", "sz", "x", "2L AS n_members")
        tagged.filter(col("nk") =!= col("an") && col("nk") =!= col("bn"))
          .selectExpr("nk AS cluster_id", "sz", "x", "1L AS n_members")
          .unionByName(merged)
      },
      Some("""WITH cent AS (
             |  SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS sz,
             |         CAST(sum(floor(c_acctbal)) AS BIGINT) // count(*)
             |           AS x
             |  FROM customer GROUP BY 1),
             |pairs AS (SELECT a.nk AS an, b.nk AS bn,
             |                 (a.x - b.x) * (a.x - b.x)
             |                   + (a.sz - b.sz) * (a.sz - b.sz) AS d2
             |          FROM cent a JOIN cent b ON a.nk < b.nk),
             |best AS (SELECT an, bn FROM pairs
             |         QUALIFY row_number() OVER (ORDER BY d2, an, bn) = 1),
             |merged AS (SELECT b.an AS cluster_id,
             |                  CAST(sum(c.sz) AS BIGINT) AS sz,
             |                  CAST(sum(c.x * c.sz) AS BIGINT)
             |                    // CAST(sum(c.sz) AS BIGINT) AS x,
             |                  CAST(2 AS BIGINT) AS n_members
             |           FROM cent c CROSS JOIN best b
             |           WHERE c.nk = b.an OR c.nk = b.bn
             |           GROUP BY b.an)
             |SELECT c.nk AS cluster_id, c.sz, c.x,
             |       CAST(1 AS BIGINT) AS n_members
             |FROM cent c CROSS JOIN best b
             |WHERE c.nk <> b.an AND c.nk <> b.bn
             |UNION ALL SELECT * FROM merged""".stripMargin)),

    /* Dunn-style separation index (`q_dunn_index`): min inter-centroid
     * squared distance over max point-to-own-centroid squared distance
     * for the labeled embeddings — completes the internal-validity
     * quartet (silhouette, Davies–Bouldin, Calinski–Harabasz, Dunn).
     * Same exact 4dp-integer grid as q_calinski_harabasz. */
    // ── Dunn-style index on the labeled embeddings (squared-distance
    //    form, exact 4dp-integer grid): min centroid separation over
    //    max point-to-own-centroid spread.
    QueryDef("q_dunn_index",
      (s, d) => {
        val el = Similarity.cast(Tables.embeddings(s, d))
          .select(col("vec_id"), col("label").cast("long").as("label"),
            posexplode(col("ev")).as(Seq("i", "v")))
          .selectExpr("vec_id", "label", "i",
            "CAST(round(v * 10000) AS BIGINT) AS v_e4")
          .localCheckpoint(false)
        val cent = el.groupBy(col("label"), col("i"))
          .agg(expr("sum(v_e4) div count(1)").as("c_e4"))
          .localCheckpoint(false)
        val inter = cent.as("a").join(cent.as("b"),
            col("a.i") === col("b.i") && col("a.label") < col("b.label"))
          .groupBy(col("a.label"), col("b.label"))
          .agg(sum(expr("(a.c_e4 - b.c_e4) * (a.c_e4 - b.c_e4)"))
            .as("d2_e8"))
          .agg(min(col("d2_e8")).as("min_inter_e8"))
        val intra = el.join(broadcast(cent), Seq("label", "i"))
          .groupBy(col("vec_id"))
          .agg(sum(expr("(v_e4 - c_e4) * (v_e4 - c_e4)")).as("d2_e8"))
          .agg(max(col("d2_e8")).as("max_intra_e8"),
            count(lit(1)).as("n"))
        inter.crossJoin(broadcast(intra))
          .selectExpr("CAST(n AS BIGINT) AS n_vecs",
            "min_inter_e8 div 100 AS min_inter_e6",
            "max_intra_e8 div 100 AS max_intra_e6",
            "min_inter_e8 * 1000000 div greatest(1L, max_intra_e8) AS dunn_e6")
      },
      Some("""WITH el AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
             |                  generate_subscripts(CAST(embedding AS
             |                    DOUBLE[]), 1) - 1 AS i,
             |                  CAST(round(unnest(CAST(embedding AS
             |                    DOUBLE[])) * 10000) AS BIGINT) AS v_e4
             |            FROM embeddings),
             |cent AS (SELECT label, i,
             |                CAST(sum(v_e4) AS BIGINT) // count(*) AS c_e4
             |         FROM el GROUP BY 1, 2),
             |inter AS (SELECT CAST(min(d2_e8) AS BIGINT) AS min_inter_e8
             |          FROM (SELECT a.label AS la, b.label AS lb,
             |                       CAST(sum((a.c_e4 - b.c_e4)
             |                         * (a.c_e4 - b.c_e4)) AS BIGINT)
             |                         AS d2_e8
             |                FROM cent a JOIN cent b
             |                  ON a.i = b.i AND a.label < b.label
             |                GROUP BY 1, 2)),
             |intra AS (SELECT CAST(max(d2_e8) AS BIGINT) AS max_intra_e8,
             |                 CAST(count(*) AS BIGINT) AS n
             |          FROM (SELECT el.vec_id,
             |                       CAST(sum((el.v_e4 - cent.c_e4)
             |                         * (el.v_e4 - cent.c_e4)) AS BIGINT)
             |                         AS d2_e8
             |                FROM el JOIN cent
             |                  ON el.label = cent.label AND el.i = cent.i
             |                GROUP BY el.vec_id))
             |SELECT n AS n_vecs, min_inter_e8 // 100 AS min_inter_e6,
             |       max_intra_e8 // 100 AS max_intra_e6,
             |       min_inter_e8 * 1000000 // greatest(1, max_intra_e8)
             |         AS dunn_e6
             |FROM inter CROSS JOIN intra""".stripMargin)),

    /* Hopkins statistic (`q_hopkins`): clustering tendency of the
     * embedding corpus — 16 hash-seeded synthetic uniform points in the
     * per-dimension bounding box vs 16 real probes; H = Σu/(Σu+Σw)
     * over nearest-neighbor squared distances (e3-quantized dims keep
     * every sum in BIGINT). H → 1 clustered, → 0.5 uniform. */
    // ── Hopkins clustering-tendency statistic on the embeddings.
    QueryDef("q_hopkins",
      (s, d) => {
        val comp = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding"))
            .as(Seq("p", "x")))
          .select(col("vec_id"), (col("p") + 1).as("i"),
            expr("CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)").as("v"))
          .localCheckpoint(false) // bounds + both distance scans
        val bounds = comp.groupBy(col("i"))
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        val ks = comp.sparkSession.range(0, 16).toDF("k")
        val synth = ks.crossJoin(broadcast(bounds))
          .selectExpr("k", "i",
            """mn + (mx - mn) * (((k + 1) * 73856093 + i * 19349663)
              |% 1000003) div 1000003 AS v""".stripMargin)
        val u = broadcast(synth).join(comp.select(col("i"),
            col("v").as("w"), col("vec_id")), Seq("i"))
          .groupBy(col("k"), col("vec_id"))
          .agg(sum((col("v") - col("w")) * (col("v") - col("w"))).as("d2"))
          .groupBy(col("k")).agg(min(col("d2")).as("ud"))
          .agg(sum(col("ud")).as("sum_u"), count(lit(1)).as("m_u"))
        val probes = comp.filter(col("vec_id") % 125 === 0)
          .select(col("vec_id").as("pk"), col("i"), col("v"))
        val w = broadcast(probes).join(comp.select(col("i"),
            col("v").as("w"), col("vec_id")), Seq("i"))
          .where(col("vec_id") =!= col("pk"))
          .groupBy(col("pk"), col("vec_id"))
          .agg(sum((col("v") - col("w")) * (col("v") - col("w"))).as("d2"))
          .groupBy(col("pk")).agg(min(col("d2")).as("wd"))
          .agg(sum(col("wd")).as("sum_w"), count(lit(1)).as("m_w"))
        u.crossJoin(broadcast(w))
          .selectExpr("m_u", "m_w", "sum_u", "sum_w",
            """CASE WHEN sum_u + sum_w = 0 THEN NULL
              |ELSE sum_u * 1000000 div (sum_u + sum_w)
              |END AS hopkins_e6""".stripMargin)
      },
      Some(s"""WITH $compSql,
              |bounds AS (SELECT i, CAST(min(v) AS BIGINT) AS mn,
              |             CAST(max(v) AS BIGINT) AS mx
              |           FROM comp GROUP BY 1),
              |synth AS (SELECT k, i,
              |            mn + (mx - mn) * (((k + 1) * 73856093
              |              + i * 19349663) % 1000003) // 1000003 AS v
              |          FROM (SELECT unnest(range(0, 16)) AS k)
              |          CROSS JOIN bounds),
              |ud AS (SELECT k, CAST(min(d2) AS BIGINT) AS ud
              |       FROM (SELECT s.k, c.vec_id,
              |               sum((s.v - c.v) * (s.v - c.v)) AS d2
              |             FROM synth s JOIN comp c USING (i)
              |             GROUP BY 1, 2)
              |       GROUP BY 1),
              |uu AS (SELECT CAST(sum(ud) AS BIGINT) AS sum_u,
              |         CAST(count(*) AS BIGINT) AS m_u FROM ud),
              |wd AS (SELECT pk, CAST(min(d2) AS BIGINT) AS wd
              |       FROM (SELECT p.vec_id AS pk, c.vec_id,
              |               sum((p.v - c.v) * (p.v - c.v)) AS d2
              |             FROM comp p JOIN comp c USING (i)
              |             WHERE p.vec_id % 125 = 0
              |               AND c.vec_id <> p.vec_id
              |             GROUP BY 1, 2)
              |       GROUP BY 1),
              |ww AS (SELECT CAST(sum(wd) AS BIGINT) AS sum_w,
              |         CAST(count(*) AS BIGINT) AS m_w FROM wd)
              |SELECT m_u, m_w, sum_u, sum_w,
              |       CASE WHEN sum_u + sum_w = 0 THEN NULL
              |       ELSE sum_u * 1000000 // (sum_u + sum_w)
              |       END AS hopkins_e6
              |FROM uu CROSS JOIN ww""".stripMargin))
  )
}
