package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{ClusterEval, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search and embedding analytics over `embeddings`: exact and
  * approximate top-k, LSH, IVF, product quantization, PCA, and
  * embedding-corpus QA. */
object SimilarityQueries extends QueryCatalog {

  import Fixtures._

  /** The IVF probe inputs: vectors e (vec_id, ev), the 8 fixed
    * centroids (c_id, cv) and the query vector qv of vec_id 0. */
  private def ivfInputs(s: SparkSession, d: String) = {
    val e = Similarity.cast(Tables.embeddings(s, d)).select(col("vec_id"), col("ev"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("ev").as("cv"))
    (e, cents, e.filter(col("vec_id") === 0).select(col("ev").as("qv")))
  }

  /** DuckDB twin of [[ivfInputs]] with each vector assigned to its
    * nearest centroid by cosine: CTEs `cents`, `e`, `asn` (vec_id, ev,
    * c_id). */
  private val ivfCellsSql =
    """cents AS (SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS cv
      |               FROM embeddings WHERE vec_id < 8),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
      |asn AS (SELECT vec_id, ev, c_id FROM (
      |          SELECT e.vec_id, e.ev, c.c_id,
      |                 row_number() OVER (PARTITION BY e.vec_id
      |                   ORDER BY list_dot_product(e.ev, c.cv) /
      |                     (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |                   c.c_id ASC) AS rn
      |          FROM e CROSS JOIN cents c) t
      |        WHERE rn = 1)""".stripMargin

  /** 8 integer hyperplanes in [-1000,1000]^64, seeded — embedded as
    * literals in both the Spark plan and the oracle SQL. */
  private val planesInt: Seq[Seq[Int]] = Similarity.hyperplanesInt(8, 64)

  private val planes: Seq[Seq[Double]] = planesInt.map(_.map(_.toDouble))

  private val planesSqlValues: String =
    planesInt.zipWithIndex.map { case (p, j) =>
      s"($j, CAST(${p.mkString("[", ", ", "]")} AS DOUBLE[]))"
    }.mkString(",\n            ")

  /** Embeddings with near-dup injection: every 20th vector re-keyed +1e6
    * and scaled ×1.001 (cos ≈ 1 → same LSH bucket, found as candidate). */
  private def augmented(s: org.apache.spark.sql.SparkSession, d: String) = {
    val e = Similarity.cast(Tables.embeddings(s, d)).select(col("vec_id"), col("ev"))
    e.unionByName(e.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("ev"), x => x * lit(1001.0) / lit(1000.0)).as("ev")))
  }

  private val augmentedSql =
    """(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
      | UNION ALL
      | SELECT vec_id + 1000000 AS vec_id,
      |        list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1001 / 1000) AS ev
      | FROM embeddings WHERE vec_id % 20 = 0)""".stripMargin

  /** DuckDB unroll of [[Similarity.powerIteration]] over the 8-dim Gram
    * matrix of the embeddings table. */
  private def pcaPowerSql(dims: Int, iters: Int): String = {
    def c(i: Int) =
      s"CAST(floor(CAST(embedding AS DOUBLE[])[${i + 1}] * 1000000 + 0.5) AS BIGINT)"
    val pairs = for (i <- 0 until dims; j <- i until dims) yield (i, j)
    val comps = (0 until dims).map(i => s"${c(i)} AS c$i").mkString(",\n  ")
    val sums = pairs.map { case (i, j) => s"sum(c$i * c$j) AS g_${i}_$j" }
      .mkString(",\n  ")
    val gp = pairs.map { case (i, j) =>
      s"SELECT $i AS i, $j AS j, g_${i}_$j AS g, n_rows FROM m"
    }.mkString("\nUNION ALL\n")
    def sdiv(v: String, d: String) =
      s"(CASE WHEN ($v) >= 0 THEN ($v) // ($d) ELSE -((-($v)) // ($d)) END)"
    val its = (1 to iters).map { k =>
      s"""y$k AS (SELECT gsc.i AS i, sum(gsc.g * x${k - 1}.x) AS y
         |        FROM gsc JOIN x${k - 1} ON x${k - 1}.j = gsc.j GROUP BY 1),
         |m$k AS (SELECT max(abs(y)) AS my FROM y$k),
         |x$k AS (SELECT i AS j, ${sdiv("y", "greatest(1, my // 10000)")} AS x
         |        FROM y$k CROSS JOIN m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH cc AS (SELECT
       |  $comps
       |  FROM embeddings),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |  $sums
       |  FROM cc),
       |gp AS ($gp),
       |sym AS (SELECT i, j, g, n_rows FROM gp
       |        UNION ALL
       |        SELECT j, i, g, n_rows FROM gp WHERE i <> j),
       |gsc AS (SELECT i, j, ${sdiv("g", "n_rows")} AS g FROM sym),
       |x0 AS (SELECT range AS j, CAST(10000 AS BIGINT) AS x FROM range($dims)),
       |$its
       |SELECT CAST(j AS BIGINT) AS i, CAST(x AS BIGINT) AS x_e4 FROM x$iters""".stripMargin
  }

  /** DuckDB unroll of [[Similarity.powerIterationDeflated]]: the
    * q_pca_power chain, then Rayleigh λ₁ + rank-one deflation, then the
    * same iteration over the deflated matrix. */
  private def pcaDeflationSql(dims: Int, iters: Int): String = {
    def c(i: Int) =
      s"CAST(floor(CAST(embedding AS DOUBLE[])[${i + 1}] * 1000000 + 0.5) AS BIGINT)"
    val pairs = for (i <- 0 until dims; j <- i until dims) yield (i, j)
    val comps = (0 until dims).map(i => s"${c(i)} AS c$i").mkString(",\n  ")
    val sums = pairs.map { case (i, j) => s"sum(c$i * c$j) AS g_${i}_$j" }
      .mkString(",\n  ")
    val gp = pairs.map { case (i, j) =>
      s"SELECT $i AS i, $j AS j, g_${i}_$j AS g, n_rows FROM m"
    }.mkString("\nUNION ALL\n")
    def sdiv(v: String, d: String) =
      s"(CASE WHEN ($v) >= 0 THEN ($v) // ($d) ELSE -((-($v)) // ($d)) END)"
    // Join key mirrors the Spark side exactly: x arrives keyed by j,
    // y_i = Σ_j g(i,j)·x(j).
    def loopJ(src: String, prev: String, k: Int, tag: String) =
      s"""y$tag$k AS (SELECT $src.i AS i, sum($src.g * $prev.x) AS y
         |        FROM $src JOIN $prev ON $prev.j = $src.j GROUP BY 1),
         |m$tag$k AS (SELECT max(abs(y)) AS my FROM y$tag$k),
         |x$tag$k AS (SELECT i AS j, ${sdiv("y", "greatest(1, my // 10000)")} AS x
         |        FROM y$tag$k CROSS JOIN m$tag$k)""".stripMargin
    val its1 = (1 to iters).map(k =>
      loopJ("gsc", if (k == 1) "xa0" else s"xa${k - 1}", k, "a"))
      .mkString(",\n")
    val its2 = (1 to iters).map(k =>
      loopJ("g2", if (k == 1) "xb0" else s"xb${k - 1}", k, "b"))
      .mkString(",\n")
    s"""WITH cc AS (SELECT
       |  $comps
       |  FROM embeddings),
       |m AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |  $sums
       |  FROM cc),
       |gp AS ($gp),
       |sym AS (SELECT i, j, g, n_rows FROM gp
       |        UNION ALL
       |        SELECT j, i, g, n_rows FROM gp WHERE i <> j),
       |gsc AS MATERIALIZED (SELECT i, j, ${sdiv("g", "n_rows")} AS g FROM sym),
       |xa0 AS (SELECT range AS j, CAST(10000 AS BIGINT) AS x
       |        FROM range($dims)),
       |$its1,
       |xx AS (SELECT sum(x * x) AS xx FROM xa$iters),
       |gx AS (SELECT gsc.i AS i, sum(gsc.g * v.x) AS gx
       |       FROM gsc JOIN xa$iters v ON v.j = gsc.j GROUP BY 1),
       |lam AS (SELECT sum(CAST(gx.gx AS HUGEINT) * CAST(v.x AS HUGEINT))
       |          AS lam_num
       |        FROM gx JOIN xa$iters v ON v.j = gx.i),
       |g2 AS MATERIALIZED (SELECT gsc.i, gsc.j,
       |              CAST(gsc.g AS HUGEINT) - ${sdiv(
               "lam_num * CAST(xi.x AS HUGEINT) * CAST(xj.x AS HUGEINT)",
               "CAST(xx AS HUGEINT) * CAST(xx AS HUGEINT)")} AS g
       |       FROM gsc JOIN xa$iters xi ON xi.j = gsc.i
       |            JOIN xa$iters xj ON xj.j = gsc.j
       |            CROSS JOIN lam CROSS JOIN xx),
       |xb0 AS (SELECT range AS j, CAST(10000 AS BIGINT) AS x
       |        FROM range($dims)),
       |$its2
       |SELECT CAST(a.j AS BIGINT) AS i, CAST(a.x AS BIGINT) AS x1_e4,
       |       CAST(b.x AS BIGINT) AS x2_e4
       |FROM xa$iters a JOIN xb$iters b ON a.j = b.j""".stripMargin
  }

  private def qvec(emb: org.apache.spark.sql.DataFrame) =
    emb.select(col("vec_id").cast("long").as("vec_id"),
      col("label").cast("long").as("label"),
      expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
        "x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))").as("qv"))

  private val qvecSql =
    """q AS MATERIALIZED (
      |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
      |         CAST(label AS BIGINT) AS label,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |           x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings)""".stripMargin

  private def d2Sql(a: String, b: String) =
    s"""CAST(list_sum(list_transform(generate_series(1, len($a)),
       |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)""".stripMargin

  /** (vec_id, label, i, v): embeddings flattened to e6-scaled-int
    * components — the shared entry point of all three queries. */
  private def comps(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))"))
          .as(Seq("i", "v")))

  private val compsSql =
    """e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
      |             generate_subscripts(
      |               CAST(embedding AS DOUBLE[]), 1) AS i,
      |             unnest(list_transform(
      |               CAST(embedding AS DOUBLE[]),
      |               x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))) AS v
      |      FROM embeddings)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── The vector primitive in isolation: squared norms.
    QueryDef("q_embedding_norms",
      (s, d) => Similarity.cast(Tables.embeddings(s, d))
        .select(col("vec_id"), col("label"),
          round(Similarity.dot(col("ev"), col("ev")), 6).as("norm_sq")),
      Some("""SELECT vec_id, label,
             |       round(list_dot_product(CAST(embedding AS DOUBLE[]),
             |                              CAST(embedding AS DOUBLE[])), 6) AS norm_sq
             |FROM embeddings""".stripMargin)),

    // ── Exact brute-force cosine top-10 against the vec_id=0 query vector.
    QueryDef("q_sim_topk_brute",
      (s, d) => {
        val e = Similarity.cast(Tables.embeddings(s, d))
        val q = e.filter(col("vec_id") === 0).select(col("ev").as("qv"))
        Similarity.topK(e.filter(col("vec_id") > 0).select(col("vec_id"), col("ev")), q, 10)
      },
      Some(cosineTop10Sql)),

    // ── LSH-bucketed ANN candidate pairs (the 100 TB path: pairs only ever
    //    form inside a bucket). Injected scaled copies land in the same
    //    bucket with cos ≈ 1.
    QueryDef("q_sim_lsh_pairs",
      (s, d) => Similarity.lshPairs(augmented(s, d), planes),
      Some(s"""WITH e AS $augmentedSql,
              |planes(j, p) AS (VALUES
              |            $planesSqlValues),
              |bk AS (SELECT vec_id,
              |              CAST(sum(CASE WHEN list_dot_product(e.ev, planes.p) > 0
              |                            THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
              |       FROM e CROSS JOIN planes GROUP BY vec_id),
              |b AS (SELECT e.vec_id, e.ev, bk.bucket FROM e JOIN bk USING (vec_id))
              |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
              |       round(list_dot_product(a.ev, b.ev) /
              |             (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))), 6) AS cos
              |FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id""".stripMargin)),

    // ── Embedding-cosine near-duplicate detection: LSH candidates filtered
    //    at cos ≥ 0.999 — recovers exactly the injected scaled copies
    //    without an all-pairs pass (the embedding leg of the dedup suite).
    QueryDef("q_dedup_embedding",
      (s, d) => Similarity.lshPairs(augmented(s, d), planes)
        .filter(col("cos") >= 0.999)
        .select(col("vec_a"), col("vec_b"), col("cos")),
      Some(s"""WITH e AS $augmentedSql,
              |planes(j, p) AS (VALUES
              |            $planesSqlValues),
              |bk AS (SELECT vec_id,
              |              CAST(sum(CASE WHEN list_dot_product(e.ev, planes.p) > 0
              |                            THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
              |       FROM e CROSS JOIN planes GROUP BY vec_id),
              |b AS (SELECT e.vec_id, e.ev, bk.bucket FROM e JOIN bk USING (vec_id))
              |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |       round(list_dot_product(a.ev, b.ev) /
              |             (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))), 6) AS cos
              |FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              |WHERE round(list_dot_product(a.ev, b.ev) /
              |            (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))), 6) >= 0.999""".stripMargin)),

    // ── IVF-style ANN: coarse-quantize to 8 fixed centroids, probe only
    //    the query's cell (corpus-wide scan never happens — the index
    //    path for 100 TB; a production index k-means-trains centroids).
    QueryDef("q_sim_ivf",
      (s, d) => {
        val (e, cents, q) = ivfInputs(s, d)
        Similarity.ivfProbe(Similarity.ivfAssign(e, cents), cents, q, 5)
      },
      Some(s"""WITH $ivfCellsSql,
             |q AS (SELECT ev AS qv, c_id AS q_cell FROM asn WHERE vec_id = 0)
             |SELECT a.vec_id,
             |       round(list_dot_product(a.ev, q.qv) /
             |             (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
             |FROM asn a, q WHERE a.c_id = q.q_cell
             |ORDER BY cos DESC, vec_id ASC LIMIT 5""".stripMargin)),

    // ── ANN self-evaluation: recall@5 of the IVF probe against the exact
    //    brute-force top-5 over the same corpus — the metric that decides
    //    whether an index's speed/recall trade is acceptable before it
    //    ships. Both legs reuse the library operators.
    QueryDef("q_sim_recall",
      (s, d) => {
        val (e, cents, q) = ivfInputs(s, d)
        val ivf = Similarity.ivfProbe(Similarity.ivfAssign(e, cents), cents, q, 5)
          .select(col("vec_id"))
        val brute = Similarity.topK(e, q, 5).select(col("vec_id"))
        ivf.join(brute, "vec_id")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(5L).as("k"), col("n_hits"),
            round(col("n_hits").cast("double") / 5.0, 2).as("recall"))
      },
      Some(s"""WITH $ivfCellsSql,
             |q AS (SELECT ev AS qv, c_id AS q_cell FROM asn WHERE vec_id = 0),
             |ivf AS (SELECT a.vec_id,
             |               round(list_dot_product(a.ev, q.qv) /
             |                     (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
             |        FROM asn a, q WHERE a.c_id = q.q_cell
             |        ORDER BY cos DESC, vec_id ASC LIMIT 5),
             |brute AS (SELECT e.vec_id,
             |                 round(list_dot_product(e.ev, q.qv) /
             |                       (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
             |          FROM e, q
             |          ORDER BY cos DESC, vec_id ASC LIMIT 5)
             |SELECT CAST(5 AS BIGINT) AS k, count(*) AS n_hits,
             |       round(CAST(count(*) AS DOUBLE) / CAST('5.0' AS DOUBLE), 2) AS recall
             |FROM ivf JOIN brute USING (vec_id)""".stripMargin)),

    // ── Per-label centroid statistics (element-wise mean via explode —
    //    groupBy(label, i) keeps partial aggregation; no wide-row pivot).
    QueryDef("q_label_centroids",
      (s, d) => {
        val e = Similarity.cast(Tables.embeddings(s, d))
        val el = e.select(col("label"), posexplode(col("ev")).as(Seq("i", "v")))
        val cent = el.groupBy(col("label"), col("i")).agg(avg(col("v")).as("c"))
        val norm = cent.groupBy(col("label"))
          .agg(round(sum(col("c") * col("c")), 4).as("centroid_norm_sq"))
        norm.join(e.groupBy(col("label")).agg(count(lit(1)).as("n_vecs")), Seq("label"))
      },
      Some("""WITH el AS (SELECT label, generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i,
             |                   unnest(CAST(embedding AS DOUBLE[])) AS v
             |            FROM embeddings),
             |cent AS (SELECT label, i, avg(v) AS c FROM el GROUP BY label, i),
             |norm AS (SELECT label, round(sum(c * c), 4) AS centroid_norm_sq FROM cent GROUP BY label),
             |sizes AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
             |SELECT norm.label, centroid_norm_sq, n_vecs FROM norm JOIN sizes USING (label)""".stripMargin)),

    // ── Product-quantization ANN ([[Similarity.pqEncode]]/[[Similarity.pqTopK]]):
    //    64-dim vectors → 4 sub-codes from an 8-codeword codebook per
    //    subspace (codewords = slices of vec_id<8, the same deterministic
    //    convention as q_sim_ivf's centroids); asymmetric-distance top-5
    //    for the vec_id=0 query. Distances are exact e6-unit integers, so
    //    the ranking is engine-portable.
    QueryDef("q_sim_pq",
      (s, d) => {
        val e = Similarity.cast(Tables.embeddings(s, d)).select(col("vec_id"), col("ev"))
        val cb = e.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("long").as("code"),
            explode(sequence(lit(0), lit(3))).as("sub"), col("ev"))
          .select(col("sub"), col("code"), expr("slice(ev, sub * 16 + 1, 16)").as("cw"))
        val q = e.filter(col("vec_id") === 0).select(col("ev").as("qv"))
        Similarity.pqTopK(Similarity.pqEncode(e, cb, 4, 64), cb, q, 4, 64, 5)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
             |subs(sub) AS (VALUES (0), (1), (2), (3)),
             |cb AS (SELECT s.sub, e.vec_id AS code,
             |              list_slice(e.ev, s.sub * 16 + 1, s.sub * 16 + 16) AS cw
             |       FROM e CROSS JOIN subs s WHERE e.vec_id < 8),
             |sv AS (SELECT e.vec_id, s.sub, list_slice(e.ev, s.sub * 16 + 1, s.sub * 16 + 16) AS sv
             |       FROM e CROSS JOIN subs s),
             |asn AS (SELECT vec_id, sub, code FROM (
             |          SELECT sv.vec_id, sv.sub, cb.code,
             |                 row_number() OVER (PARTITION BY sv.vec_id, sv.sub ORDER BY
             |                   CAST(floor((list_dot_product(sv.sv, sv.sv)
             |                     - 2 * list_dot_product(sv.sv, cb.cw)
             |                     + list_dot_product(cb.cw, cb.cw)) * 1000000 + 0.5) AS BIGINT) ASC,
             |                   cb.code ASC) AS rn
             |          FROM sv JOIN cb ON sv.sub = cb.sub) t
             |        WHERE rn = 1),
             |q AS (SELECT ev AS qv FROM e WHERE vec_id = 0),
             |qs AS (SELECT s.sub, list_slice(q.qv, s.sub * 16 + 1, s.sub * 16 + 16) AS qsv
             |       FROM q CROSS JOIN subs s),
             |dt AS (SELECT cb.sub, cb.code,
             |              CAST(floor((list_dot_product(qs.qsv, qs.qsv)
             |                - 2 * list_dot_product(qs.qsv, cb.cw)
             |                + list_dot_product(cb.cw, cb.cw)) * 1000000 + 0.5) AS BIGINT) AS qd2_e6
             |       FROM qs JOIN cb ON qs.sub = cb.sub)
             |SELECT a.vec_id, CAST(sum(dt.qd2_e6) AS BIGINT) AS adc_d2_e6
             |FROM asn a JOIN dt ON a.sub = dt.sub AND a.code = dt.code
             |GROUP BY a.vec_id
             |ORDER BY adc_d2_e6 ASC, vec_id ASC LIMIT 5""".stripMargin)),

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

    // ── Distributed PCA: top-eigenvector estimate of the 8-dim Gram
    //    matrix by 3 all-integer power-iteration rounds; every frame
    //    after the one Gram aggregate is dims-sized.
    QueryDef("q_pca_power",
      (s, d) => Similarity.powerIteration(
        Similarity.gramMatrix(Tables.embeddings(s, d), 8), 8, 3),
      Some(pcaPowerSql(8, 3))),

    // ── Did fold 0's embeddings move vs the rest? Per-label centroid
    //    squared-L2 drift in e12.
    QueryDef("q_centroid_drift",
      (s, d) => ClusterEval.centroidDrift(Tables.embeddings(s, d), 0L),
      Some("""WITH comp AS MATERIALIZED (
             |  SELECT vec_id, CAST(label AS BIGINT) AS label,
             |         CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END AS probe,
             |         unnest(list_transform(CAST(embedding AS DOUBLE[]),
             |           x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)))
             |           AS v,
             |         unnest(range(1, len(embedding) + 1)) AS i
             |  FROM embeddings),
             |p AS (SELECT label, i,
             |        CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))
             |          AS BIGINT) AS cp,
             |        CAST(count(*) AS BIGINT) AS np
             |      FROM comp WHERE probe = 1 GROUP BY 1, 2),
             |r AS (SELECT label, i,
             |        CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))
             |          AS BIGINT) AS cr,
             |        CAST(count(*) AS BIGINT) AS nr
             |      FROM comp WHERE probe = 0 GROUP BY 1, 2)
             |SELECT p.label, max(p.np) AS n_probe, max(r.nr) AS n_ref,
             |       CAST(sum((p.cp - r.cr) * (p.cp - r.cr)) AS BIGINT)
             |         AS drift_d2_e12
             |FROM p JOIN r ON r.label = p.label AND r.i = p.i
             |GROUP BY p.label""".stripMargin)),

    // ── PCA second component: 8 dims, 3 iterations each side.
    QueryDef("q_pca_deflation",
      (s, d) => Similarity.powerIterationDeflated(
        Similarity.gramMatrix(Tables.embeddings(s, d), 8), 8, 3),
      Some(pcaDeflationSql(8, 3))),

    /* Embedding-corpus QA: SMOTE-style midpoint synthesis
     * for the minority class (the oversampling data op — deterministic
     * nearest-neighbor interpolation), out-of-distribution margins
     * (own-centroid vs nearest-other-centroid distance — the label-noise
     * flag q_lof's density score can't attribute), and embedding isotropy
     * (top-eigenvalue share of total variance — how collapsed the space
     * is, the one-number summary over q_pca_power/q_pca_deflation). */

    // ── SMOTE midpoints: minority class (smallest, tie → lowest id),
    //    each point paired with its nearest same-class neighbor,
    //    synthetic = per-dim truncated midpoint.
    QueryDef("q_smote_midpoints",
      (s, d) => {
        val q = qvec(Tables.embeddings(s, d)).localCheckpoint(false)
        val minority = q.groupBy(col("label"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("n"), col("label"))))
          .where(col("rk") === 1).select(col("label"))
        val m = q.join(broadcast(minority), "label")
        val b = m.select(col("vec_id").as("ib"), col("qv").as("bv"))
        m.join(b, col("vec_id") =!= col("ib"))
          .select(col("label"), col("vec_id"), col("ib"),
            expr("""aggregate(zip_with(qv, bv, (x, y) -> (x - y) * (x - y)),
                   |0L, (acc, v) -> acc + v)""".stripMargin).as("d2"),
            expr("""aggregate(zip_with(qv, bv, (x, y) ->
                   |(CASE WHEN x + y >= 0 THEN (x + y) div 2
                   |      ELSE -((-(x + y)) div 2) END) *
                   |(CASE WHEN x + y >= 0 THEN (x + y) div 2
                   |      ELSE -((-(x + y)) div 2) END)),
                   |0L, (acc, v) -> acc + v)""".stripMargin).as("mid_norm2"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("ib"))))
          .where(col("rk") === 1)
          .select(col("label"), col("vec_id"), col("ib").as("nn_id"),
            col("d2").as("d2_pair"), col("mid_norm2"))
      },
      Some(s"""WITH $qvecSql,
              |minority AS (SELECT label FROM (
              |  SELECT label, count(*) AS n,
              |         row_number() OVER (ORDER BY count(*), label) AS rk
              |  FROM q GROUP BY 1) WHERE rk = 1),
              |m AS (SELECT q.* FROM q JOIN minority USING (label)),
              |pairs AS (
              |  SELECT a.label, a.vec_id, b.vec_id AS ib,
              |         ${d2Sql("a.qv", "b.qv")} AS d2,
              |         CAST(list_sum(list_transform(
              |           generate_series(1, len(a.qv)),
              |           i -> (CASE WHEN a.qv[i] + b.qv[i] >= 0
              |                 THEN (a.qv[i] + b.qv[i]) // 2
              |                 ELSE -((-(a.qv[i] + b.qv[i])) // 2) END)
              |                * (CASE WHEN a.qv[i] + b.qv[i] >= 0
              |                   THEN (a.qv[i] + b.qv[i]) // 2
              |                   ELSE -((-(a.qv[i] + b.qv[i])) // 2) END)))
              |           AS BIGINT) AS mid_norm2
              |  FROM m a JOIN m b ON a.vec_id <> b.vec_id)
              |SELECT label, vec_id, ib AS nn_id, d2 AS d2_pair, mid_norm2
              |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
              |        ORDER BY d2, ib) AS rk FROM pairs)
              |WHERE rk = 1""".stripMargin)),

    // ── OOD margin: distance to own centroid vs nearest other; the 20
    //    worst margins are the mislabel/OOD suspects.
    QueryDef("q_ood_margin",
      (s, d) => {
        val q = qvec(Tables.embeddings(s, d)).localCheckpoint(false)
        val cent = q
          .select(col("label"), posexplode(col("qv")).as(Seq("i", "v")))
          .groupBy(col("label"), col("i"))
          .agg(expr("CAST(floor(CAST(sum(v) AS DOUBLE) / count(1)) " +
            "AS BIGINT)").as("c"))
          .groupBy(col("label"))
          .agg(expr("transform(array_sort(collect_list(struct(i, c))), " +
            "s -> s.c)").as("cv"))
        val scored = q.crossJoin(broadcast(
            cent.select(col("label").as("cl"), col("cv"))))
          .select(col("vec_id"), col("label"), col("cl"),
            expr("""aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)),
                   |0L, (acc, v) -> acc + v)""".stripMargin).as("d2"))
        val own = scored.where(col("label") === col("cl"))
          .select(col("vec_id"), col("label"), col("d2").as("d_own"))
        val other = scored.where(col("label") =!= col("cl"))
          .groupBy(col("vec_id")).agg(min(col("d2")).as("d_other"))
        own.join(other, "vec_id")
          .withColumn("margin", col("d_other") - col("d_own"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("margin"), col("vec_id"))))
          .where(col("rk") <= 20).drop("rk")
      },
      Some(s"""WITH $qvecSql,
              |comp AS (SELECT label,
              |                unnest(qv) AS v,
              |                unnest(range(1, len(qv) + 1)) AS i
              |         FROM q),
              |cent AS (SELECT label, i,
              |                CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))
              |                  AS BIGINT) AS c
              |         FROM comp GROUP BY 1, 2),
              |cv AS (SELECT label AS cl,
              |              list(c ORDER BY i) AS cv
              |       FROM cent GROUP BY 1),
              |scored AS (SELECT q.vec_id, q.label, cv.cl,
              |                  ${d2Sql("q.qv", "cv.cv")} AS d2
              |           FROM q CROSS JOIN cv),
              |own AS (SELECT vec_id, label, d2 AS d_own FROM scored
              |        WHERE label = cl),
              |oth AS (SELECT vec_id, CAST(min(d2) AS BIGINT) AS d_other
              |        FROM scored WHERE label <> cl GROUP BY 1)
              |SELECT vec_id, label, d_own, d_other,
              |       d_other - d_own AS margin
              |FROM (SELECT own.vec_id, label, d_own, d_other,
              |             d_other - d_own AS margin,
              |             row_number() OVER (ORDER BY d_other - d_own,
              |               own.vec_id) AS rk
              |      FROM own JOIN oth ON own.vec_id = oth.vec_id)
              |WHERE rk <= 20""".stripMargin)),

    // ── Isotropy: λ₁/trace of the scaled covariance via the integer
    //    Rayleigh quotient over the q_pca_power iterate.
    QueryDef("q_isotropy",
      (s, d) => {
        val gram = Similarity.gramMatrix(Tables.embeddings(s, d), 8)
          .localCheckpoint(false)
        val x1 = Similarity.powerIteration(gram, 8, 3)
        val sym = gram.select(col("i"), col("j"), col("g_e12"),
            col("n_rows"))
          .unionByName(gram.filter(col("i") =!= col("j"))
            .select(col("j").as("i"), col("i").as("j"), col("g_e12"),
              col("n_rows")))
        val gsc = sym.select(col("i"), col("j"),
          expr("""(CASE WHEN g_e12 >= 0 THEN g_e12 div n_rows
                 |ELSE -((-g_e12) div n_rows) END)""".stripMargin).as("g"))
          .localCheckpoint(false)
        val trace = gsc.where(col("i") === col("j"))
          .agg(sum(col("g")).as("tr"))
        val xx = x1.agg(sum(col("x_e4") * col("x_e4")).as("xx"))
        val gx = gsc.join(x1.select(col("i").as("j"), col("x_e4").as("xj")),
            "j")
          .groupBy(col("i")).agg(sum(col("g") * col("xj")).as("gx"))
        val lam = gx.join(x1, "i")
          .agg(sum(col("gx").cast(dec) * col("x_e4").cast(dec))
            .as("lam_num"))
        lam.crossJoin(xx).crossJoin(trace)
          .selectExpr("CAST(8 AS BIGINT) AS dims", "CAST(tr AS BIGINT) AS trace_e12",
            s"CAST(lam_num div CAST(xx AS $dec) AS BIGINT) AS lam1_e12",
            s"""CAST(lam_num * 1000000 div
               |(CAST(xx AS $dec) * CAST(tr AS $dec)) AS BIGINT)
               |AS share_e6""".stripMargin)
      },
      Some {
        def c(i: Int) =
          s"CAST(floor(CAST(embedding AS DOUBLE[])[${i + 1}] * 1000000 + 0.5) AS BIGINT)"
        val dims = 8
        val pairs = for (i <- 0 until dims; j <- i until dims) yield (i, j)
        val comps = (0 until dims).map(i => s"${c(i)} AS c$i")
          .mkString(",\n  ")
        val sums = pairs.map { case (i, j) =>
          s"sum(c$i * c$j) AS g_${i}_$j" }.mkString(",\n  ")
        val gp = pairs.map { case (i, j) =>
          s"SELECT $i AS i, $j AS j, g_${i}_$j AS g, n_rows FROM m"
        }.mkString("\nUNION ALL\n")
        def sdiv(v: String, dv: String) =
          s"(CASE WHEN ($v) >= 0 THEN ($v) // ($dv) ELSE -((-($v)) // ($dv)) END)"
        def loopJ(k: Int) =
          s"""y$k AS (SELECT gsc.i AS i, sum(gsc.g * x${k - 1}.x) AS y
             |        FROM gsc JOIN x${k - 1} ON x${k - 1}.j = gsc.j
             |        GROUP BY 1),
             |m$k AS (SELECT max(abs(y)) AS my FROM y$k),
             |x$k AS (SELECT i AS j, ${sdiv("y", "greatest(1, my // 10000)")}
             |          AS x
             |        FROM y$k CROSS JOIN m$k)""".stripMargin
        s"""WITH cc AS (SELECT
           |  $comps
           |  FROM embeddings),
           |m AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  $sums
           |  FROM cc),
           |gp AS ($gp),
           |sym AS (SELECT i, j, g, n_rows FROM gp
           |        UNION ALL
           |        SELECT j, i, g, n_rows FROM gp WHERE i <> j),
           |gsc AS MATERIALIZED (SELECT i, j, ${sdiv("g", "n_rows")} AS g
           |                     FROM sym),
           |x0 AS (SELECT range AS j, CAST(10000 AS BIGINT) AS x
           |       FROM range($dims)),
           |${loopJ(1)},
           |${loopJ(2)},
           |${loopJ(3)},
           |tr AS (SELECT sum(g) AS tr FROM gsc WHERE i = j),
           |xx AS (SELECT sum(x * x) AS xx FROM x3),
           |gx AS (SELECT gsc.i AS i, sum(gsc.g * v.x) AS gx
           |       FROM gsc JOIN x3 v ON v.j = gsc.j GROUP BY 1),
           |lam AS (SELECT sum(CAST(gx.gx AS HUGEINT)
           |               * CAST(v.x AS HUGEINT)) AS lam_num
           |        FROM gx JOIN x3 v ON v.j = gx.i)
           |SELECT CAST($dims AS BIGINT) AS dims,
           |       CAST(tr AS BIGINT) AS trace_e12,
           |       CAST(lam_num // CAST(xx AS HUGEINT) AS BIGINT)
           |         AS lam1_e12,
           |       CAST(lam_num * 1000000 //
           |         (CAST(xx AS HUGEINT) * CAST(tr AS HUGEINT))
           |         AS BIGINT) AS share_e6
           |FROM lam CROSS JOIN xx CROSS JOIN tr""".stripMargin
      }),

    // ── Matryoshka recall: per query (vec_id < 16), overlap between
    //    cosine top-10 under the full 64-dim embedding and under its
    //    8-dim prefix. Dot products are e6-quantized integer sums
    //    (< 2⁵³ — exact even through a double accumulator); cosine
    //    rounds to 6 dp before ranking so tie order (cos desc, vec_id)
    //    is engine-identical. Query side broadcasts; the corpus never
    //    shuffles until the tiny per-query top-k rollup.
    QueryDef("q_matryoshka_recall",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"),
            expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
              "x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))").as("v"))
        val q = e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val scored = e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("dot_f", expr(
            """aggregate(zip_with(v, qv, (x, y) -> x * y), 0L,
              |(acc, t) -> acc + t)""".stripMargin))
          .withColumn("dot_p", expr(
            """aggregate(zip_with(slice(v, 1, 8), slice(qv, 1, 8),
              |(x, y) -> x * y), 0L, (acc, t) -> acc + t)""".stripMargin))
          .withColumn("n_c", expr(
            """aggregate(zip_with(v, v, (x, y) -> x * y), 0L,
              |(acc, t) -> acc + t)""".stripMargin))
          .withColumn("n_cp", expr(
            """aggregate(zip_with(slice(v, 1, 8), slice(v, 1, 8),
              |(x, y) -> x * y), 0L, (acc, t) -> acc + t)""".stripMargin))
          .withColumn("n_q", expr(
            """aggregate(zip_with(qv, qv, (x, y) -> x * y), 0L,
              |(acc, t) -> acc + t)""".stripMargin))
          .withColumn("n_qp", expr(
            """aggregate(zip_with(slice(qv, 1, 8), slice(qv, 1, 8),
              |(x, y) -> x * y), 0L, (acc, t) -> acc + t)""".stripMargin))
          .withColumn("cos_f", expr(
            """round(CAST(dot_f AS DOUBLE)
              |/ sqrt(CAST(n_c AS DOUBLE) * CAST(n_q AS DOUBLE)), 6)"""
              .stripMargin))
          .withColumn("cos_p", expr(
            """CASE WHEN n_cp = 0 OR n_qp = 0 THEN CAST('-2.0' AS DOUBLE)
              |ELSE round(CAST(dot_p AS DOUBLE)
              |/ sqrt(CAST(n_cp AS DOUBLE) * CAST(n_qp AS DOUBLE)), 6)
              |END""".stripMargin))
          .withColumn("rk_f", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("cos_f").desc, col("vec_id"))))
          .withColumn("rk_p", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("cos_p").desc, col("vec_id"))))
        scored.groupBy(col("q_id"))
          .agg(sum(when(col("rk_f") <= 10 && col("rk_p") <= 10, 1L)
            .otherwise(0L)).as("n_overlap"))
          .selectExpr("CAST(q_id AS BIGINT) AS q_id",
            "CAST(n_overlap AS BIGINT) AS n_overlap",
            "n_overlap * 1000000 div 10 AS recall_e6")
      },
      Some("""WITH e AS (SELECT vec_id,
             |                 list_transform(CAST(embedding AS DOUBLE[]),
             |                   x -> CAST(floor(x * 1000000 + 0.5)
             |                        AS BIGINT)) AS v
             |          FROM embeddings),
             |q AS (SELECT vec_id AS q_id, v AS qv FROM e
             |      WHERE vec_id < 16),
             |sc AS (SELECT e.vec_id, q.q_id,
             |              CAST(list_dot_product(e.v, q.qv) AS BIGINT)
             |                AS dot_f,
             |              CAST(list_dot_product(e.v[1:8], q.qv[1:8])
             |                AS BIGINT) AS dot_p,
             |              CAST(list_dot_product(e.v, e.v) AS BIGINT)
             |                AS n_c,
             |              CAST(list_dot_product(e.v[1:8], e.v[1:8])
             |                AS BIGINT) AS n_cp,
             |              CAST(list_dot_product(q.qv, q.qv) AS BIGINT)
             |                AS n_q,
             |              CAST(list_dot_product(q.qv[1:8], q.qv[1:8])
             |                AS BIGINT) AS n_qp
             |       FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
             |cs AS (SELECT q_id, vec_id,
             |              round(CAST(dot_f AS DOUBLE)
             |                / sqrt(CAST(n_c AS DOUBLE)
             |                       * CAST(n_q AS DOUBLE)), 6) AS cos_f,
             |              CASE WHEN n_cp = 0 OR n_qp = 0
             |                   THEN CAST('-2.0' AS DOUBLE)
             |                   ELSE round(CAST(dot_p AS DOUBLE)
             |                     / sqrt(CAST(n_cp AS DOUBLE)
             |                            * CAST(n_qp AS DOUBLE)), 6)
             |              END AS cos_p
             |       FROM sc),
             |rk AS (SELECT q_id,
             |              row_number() OVER (PARTITION BY q_id
             |                ORDER BY cos_f DESC, vec_id) AS rk_f,
             |              row_number() OVER (PARTITION BY q_id
             |                ORDER BY cos_p DESC, vec_id) AS rk_p
             |       FROM cs)
             |SELECT CAST(q_id AS BIGINT) AS q_id,
             |       CAST(sum(CASE WHEN rk_f <= 10 AND rk_p <= 10
             |                     THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_overlap,
             |       CAST(sum(CASE WHEN rk_f <= 10 AND rk_p <= 10
             |                     THEN 1 ELSE 0 END) AS BIGINT)
             |         * 1000000 // 10 AS recall_e6
             |FROM rk GROUP BY 1""".stripMargin)),

    /* Embedding-curation screens a vector store runs
     * before trusting compression or feature selection — uniform scalar
     * quantization error at 2/4/8 bits (the storage-budget curve: how
     * much cosine-relevant signal does b bits/dim keep), the per-dimension
     * variance profile (which dims carry the energy — the integer-moment
     * read PCA approximates), and label signature Hamming distances
     * (per-label majority-sign bitvectors — the cheapest class-separation
     * audit). Embeddings enter as e6-scaled integers (posexplode), so
     * every moment and quantizer is engine-exact; the dim and label axes
     * are bounded, so the heavy frame is only the (row × dim) explode —
     * one keyed rollup at any SF. */

    // ── Quantization error: per dim the [min,max] range (one rollup),
    //    then for b ∈ {2,4,8}: code = (v−mn)·(2ᵇ−1) div range, recon =
    //    mn + code·range div (2ᵇ−1), MSE over all components in e12 per
    //    bit width (÷1e6 twice keeps it in-range). Range rows broadcast
    //    back onto the component stream — ONE wide pass per the 3-row
    //    bit axis.
    QueryDef("q_quantization_error",
      (s, d) => {
        val e = comps(s, d).localCheckpoint(false) // range build + error pass
        val rng = e.groupBy(col("i"))
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
          .filter(col("mx") > col("mn"))
        val bits = s.range(1, 4)
          .select(expr("CAST(shiftleft(1, CAST(id AS INT)) AS INT)").as("b"))
          .withColumn("levels", expr("CAST(shiftleft(1, b) - 1 AS BIGINT)"))
        e.join(broadcast(rng), "i")
          .crossJoin(broadcast(bits))
          .withColumn("code",
            expr("(v - mn) * levels div (mx - mn)"))
          .withColumn("err",
            expr("v - (mn + code * (mx - mn) div levels)"))
          .groupBy(col("b"))
          .agg(count(lit(1)).as("n_components"),
            sum(expr("err * err div 1000000")).as("sse_e6"))
          .selectExpr("CAST(b AS BIGINT) AS bits",
            "CAST(n_components AS BIGINT) AS n_components",
            "sse_e6 div n_components AS mse_e6")
      },
      Some(s"""WITH $compsSql,
             |rng AS (SELECT i, CAST(min(v) AS BIGINT) AS mn,
             |               CAST(max(v) AS BIGINT) AS mx
             |        FROM e GROUP BY 1 HAVING max(v) > min(v)),
             |bits AS (SELECT b, CAST((1 << b) - 1 AS BIGINT) AS levels
             |         FROM (SELECT unnest([2, 4, 8]) AS b)),
             |q AS (SELECT bits.b,
             |             e.v - (rng.mn + ((e.v - rng.mn) * bits.levels
             |               // (rng.mx - rng.mn)) * (rng.mx - rng.mn)
             |               // bits.levels) AS err
             |      FROM e JOIN rng ON e.i = rng.i CROSS JOIN bits)
             |SELECT CAST(b AS BIGINT) AS bits,
             |       CAST(count(*) AS BIGINT) AS n_components,
             |       CAST(sum(err * err // 1000000) AS BIGINT)
             |         // count(*) AS mse_e6
             |FROM q GROUP BY 1""".stripMargin)),

    // ── Dimension variance profile: exact integer moments per dim,
    //    population variance in e6 units² (÷1e6 on the squared-e6
    //    scale), ranked; cumulative energy share over the rank order
    //    (bounded dim axis → the window is safe). The feature-selection
    //    read: how many dims hold 90% of the variance.
    QueryDef("q_dim_variance_profile",
      (s, d) => {
        val m = comps(s, d).groupBy(col("i"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("svv"))
          .withColumn("var_e6", expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * svv - " +
              "CAST(sv AS DECIMAL(38,0)) * sv) div " +
              "(CAST(n AS DECIMAL(38,0)) * n * 1000000) AS BIGINT)"))
        val tot = m.agg(sum(col("var_e6")).as("tv"))
        m.crossJoin(broadcast(tot))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("var_e6").desc, col("i"))))
          .withColumn("cum", sum(col("var_e6")).over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("var_e6").desc, col("i"))
              .rowsBetween(org.apache.spark.sql.expressions.Window
                .unboundedPreceding, 0)))
          .filter(col("rk") <= 16)
          // +1: posexplode is 0-based, the oracle's generate_subscripts
          // is 1-based — emit the 1-based dim index both sides.
          .selectExpr("CAST(i + 1 AS BIGINT) AS dim", "var_e6",
            "cum * 1000000 div tv AS cum_share_e6",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some(s"""WITH $compsSql,
             |m AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(v) AS BIGINT) AS sv,
             |             sum(CAST(v AS HUGEINT) * v) AS svv
             |      FROM e GROUP BY 1),
             |vr AS (SELECT i,
             |              CAST((CAST(n AS HUGEINT) * svv
             |                - CAST(sv AS HUGEINT) * sv)
             |                // (CAST(n AS HUGEINT) * n * 1000000)
             |                AS BIGINT) AS var_e6
             |       FROM m),
             |tot AS (SELECT CAST(sum(var_e6) AS BIGINT) AS tv FROM vr),
             |rkd AS (SELECT i, var_e6,
             |               CAST(row_number() OVER (ORDER BY var_e6 DESC,
             |                 i) AS BIGINT) AS rk,
             |               CAST(sum(var_e6) OVER (ORDER BY var_e6 DESC,
             |                 i ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |                 AS cum
             |        FROM vr)
             |SELECT CAST(i AS BIGINT) AS dim, var_e6,
             |       cum * 1000000 // tv AS cum_share_e6, rk
             |FROM rkd CROSS JOIN tot WHERE rk <= 16""".stripMargin)),

    // ── Label signatures: per (label, dim) the majority sign vs the
    //    global per-dim mean (ties → 0, deterministic), then pairwise
    //    label Hamming distance over the bounded label×dim grid — are
    //    classes separable in sign space alone.
    QueryDef("q_label_signature_hamming",
      (s, d) => {
        val e = comps(s, d).localCheckpoint(false) // global means + label votes
        val gm = e.groupBy(col("i"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        val sig = e.join(broadcast(gm), "i")
          // v > mean ⟺ v·n > sv (integer cross-multiply, no division)
          .groupBy(col("label"), col("i"))
          .agg(sum(when(expr("v * n > sv"), 1L).otherwise(-1L)).as("vote"))
          .select(col("label"), col("i"),
            signum(col("vote")).cast("long").as("bit"))
          .localCheckpoint(false) // both sides of the pair grid
        sig.as("a").join(sig.as("b"),
            col("a.i") === col("b.i") && col("a.label") < col("b.label"))
          .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
          .agg(count(lit(1)).as("n_dims"),
            sum(when(col("a.bit") =!= col("b.bit"), 1L).otherwise(0L))
              .as("hamming"))
          .selectExpr("la", "lb", "CAST(n_dims AS BIGINT) AS n_dims",
            "CAST(hamming AS BIGINT) AS hamming",
            "hamming * 1000000 div n_dims AS hamming_e6")
      },
      Some(s"""WITH $compsSql,
             |gm AS (SELECT i, CAST(count(*) AS BIGINT) AS n,
             |              CAST(sum(v) AS BIGINT) AS sv
             |       FROM e GROUP BY 1),
             |sig AS (SELECT e.label, e.i,
             |               CAST(CASE WHEN sum(CASE WHEN e.v * gm.n
             |                   > gm.sv THEN 1 ELSE -1 END) > 0 THEN 1
             |                 WHEN sum(CASE WHEN e.v * gm.n > gm.sv
             |                   THEN 1 ELSE -1 END) < 0 THEN -1
             |                 ELSE 0 END AS BIGINT) AS bit
             |        FROM e JOIN gm ON e.i = gm.i
             |        GROUP BY 1, 2)
             |SELECT a.label AS la, b.label AS lb,
             |       CAST(count(*) AS BIGINT) AS n_dims,
             |       CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0
             |         END) AS BIGINT) AS hamming,
             |       CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0
             |         END) AS BIGINT) * 1000000 // count(*) AS hamming_e6
             |FROM sig a JOIN sig b ON a.i = b.i AND a.label < b.label
             |GROUP BY 1, 2""".stripMargin)),

    /* IVF nprobe curve (`q_ivf_nprobe_curve`): recall@5 AND candidate
     * count as the probe width sweeps 1→8 cells — the cost/recall
     * tradeoff curve an ANN index is tuned by (q_sim_recall pins one
     * point; the curve shows the knee). One assignment pass, one brute
     * baseline; the sweep itself rides broadcast frames. */
    // ── IVF nprobe sweep: centroids = first 8 vectors; query = vec 0;
    //    per np ∈ {1,2,4,8}: search the np nearest cells, take top-5
    //    by rounded cosine, report candidates scanned + recall vs the
    //    brute top-5.
    QueryDef("q_ivf_nprobe_curve",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Similarity.cast(Tables.embeddings(s, d))
          .select(col("vec_id"), col("ev"))
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("c_id"), col("ev").as("cv"))
        val asn = Similarity.ivfAssign(e, cents).localCheckpoint(false)
        val q = asn.filter(col("vec_id") === 0)
          .select(col("ev").as("qv")).localCheckpoint(false)
        // centroid ranking for the query (probe order)
        val qc = cents.crossJoin(broadcast(q))
          .withColumn("ccos", Similarity.cosine(col("cv"), col("qv")))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("ccos").desc, col("c_id"))))
          .select(col("c_id"), col("rn"))
        val brute = e.crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(Similarity.cosine(col("ev"), col("qv")), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(5)
          .select(col("vec_id")).localCheckpoint(false)
        val nps = s.range(0, 4).selectExpr(
          "CAST(shiftleft(1, CAST(id AS INT)) AS BIGINT) AS np")
        val cand = asn.join(broadcast(qc), "c_id")
          .crossJoin(broadcast(nps)).filter(col("rn") <= col("np"))
          .crossJoin(broadcast(q))
          .select(col("np"), col("vec_id"),
            round(Similarity.cosine(col("ev"), col("qv")), 6).as("cos"))
          .localCheckpoint(false)
        val ncand = cand.groupBy(col("np")).agg(count(lit(1)).as("n_cand"))
        val top5 = cand.withColumn("rk", row_number().over(
            Window.partitionBy(col("np"))
              .orderBy(col("cos").desc, col("vec_id"))))
          .filter(col("rk") <= 5)
        val hits = top5.join(broadcast(brute), "vec_id")
          .groupBy(col("np")).agg(count(lit(1)).as("n_hits"))
        ncand.join(hits, Seq("np"), "left")
          .selectExpr("np AS nprobe", "CAST(n_cand AS BIGINT) AS n_cand",
            "CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits",
            "coalesce(n_hits, 0) * 200000 AS recall_e6")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
             |           FROM embeddings),
             |cents AS (SELECT vec_id AS c_id, ev AS cv FROM e
             |          WHERE vec_id < 8),
             |asn AS (SELECT vec_id, ev, c_id FROM (
             |          SELECT e.vec_id, e.ev, c.c_id,
             |                 row_number() OVER (PARTITION BY e.vec_id
             |                   ORDER BY list_dot_product(e.ev, c.cv) /
             |                     (sqrt(list_dot_product(e.ev, e.ev))
             |                      * sqrt(list_dot_product(c.cv, c.cv)))
             |                     DESC, c.c_id ASC) AS rn
             |          FROM e CROSS JOIN cents c) t WHERE rn = 1),
             |q AS (SELECT ev AS qv FROM asn WHERE vec_id = 0),
             |qc AS (SELECT c_id, row_number() OVER (
             |         ORDER BY list_dot_product(c.cv, q.qv) /
             |           (sqrt(list_dot_product(c.cv, c.cv))
             |            * sqrt(list_dot_product(q.qv, q.qv))) DESC,
             |           c.c_id ASC) AS rn
             |       FROM cents c CROSS JOIN q),
             |brute AS (SELECT e.vec_id FROM e CROSS JOIN q
             |          ORDER BY round(list_dot_product(e.ev, q.qv) /
             |            (sqrt(list_dot_product(e.ev, e.ev))
             |             * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
             |            e.vec_id ASC LIMIT 5),
             |nps AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS np),
             |cand AS (SELECT nps.np, a.vec_id,
             |                round(list_dot_product(a.ev, q.qv) /
             |                  (sqrt(list_dot_product(a.ev, a.ev))
             |                   * sqrt(list_dot_product(q.qv, q.qv))), 6)
             |                  AS cos
             |         FROM asn a JOIN qc ON a.c_id = qc.c_id
             |         CROSS JOIN nps CROSS JOIN q
             |         WHERE qc.rn <= nps.np),
             |nc AS (SELECT np, CAST(count(*) AS BIGINT) AS n_cand
             |       FROM cand GROUP BY 1),
             |top5 AS (SELECT np, vec_id FROM cand
             |         QUALIFY row_number() OVER (PARTITION BY np
             |           ORDER BY cos DESC, vec_id ASC) <= 5),
             |h AS (SELECT np, CAST(count(*) AS BIGINT) AS n_hits
             |      FROM top5 JOIN brute USING (vec_id) GROUP BY 1)
             |SELECT nc.np AS nprobe, nc.n_cand,
             |       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             |       coalesce(h.n_hits, 0) * 200000 AS recall_e6
             |FROM nc LEFT JOIN h ON nc.np = h.np""".stripMargin))
  )
}
