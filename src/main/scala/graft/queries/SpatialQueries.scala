package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.geo.{Geofence, HexSql, Hilbert, RadiusJoin}
import graft.stream.Pipeline
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial statistics and spatial joins: autocorrelation (global and
  * local), hotspots, point-pattern profiles, geofences, radius and k-NN
  * joins, and space-filling layouts. */
object SpatialQueries extends QueryCatalog {

  import Fixtures._

  /** Events per synthetic latitude band: (band, x). */
  private def userBands(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr("(user_id * 37 % 17000) div 500").as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("x"))

  /** DuckDB twin of [[userBands]] (CTE `bands`). */
  private val userBandsSql =
    """bands AS (
      |  SELECT (user_id * 37 % 17000) // 500 AS band,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1)""".stripMargin

  /** [[userBandsSql]] plus the band totals `tot` (n, sx). */
  private val userBandsTotSql = userBandsSql + """,
    |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
    |               CAST(sum(x) AS BIGINT) AS sx FROM bands)""".stripMargin

  /** Hexagonal fence (centidegrees) centered on the always-populated
    * southern latitude band of the synthetic positions. */
  private val fence = Seq((4000L, -8000L), (2000L, -5000L), (-2000L, -5000L),
    (-4000L, -8000L), (-2000L, -11000L), (2000L, -11000L))

  private val res = 8
  private val posCell = HexSql.withCellId(Tables.positionsSql, "lat", "lon", res)
  def defs: Seq[QueryDef] = Seq(

    // ── Grid-blocked radius self-join over deterministic integer planar
    //    coordinates: 3×3 neighbor stamp → one equi-join on cell → exact
    //    integer squared-distance filter. The oracle can afford the
    //    quadratic inequality join at oracle SFs; the engine never does it.
    QueryDef("q_radius_join",
      (s, d) => RadiusJoin.selfJoin(
        Tables.customer(s, d).select(col("c_custkey").as("id"),
          (col("c_custkey") * 7919 % 10000).as("x"),
          (col("c_custkey") * 104729 % 10000).as("y")),
        "id", "x", "y", 100L),
      Some("""WITH pts AS (SELECT c_custkey AS id,
             |                    c_custkey * 7919 % 10000 AS x,
             |                    c_custkey * 104729 % 10000 AS y FROM customer)
             |SELECT a.id AS id_a, b.id AS id_b,
             |       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist_sq
             |FROM pts a JOIN pts b ON a.id < b.id
             |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 10000""".stripMargin)),

    // ── Convex-hexagon geofence over integer centidegree positions:
    //    a pure codegen'd cross-product predicate — scan, filter,
    //    aggregate; zero joins at any scale.
    QueryDef("q_geofence",
      (s, d) => {
        val p = Tables.events(s, d).select(col("event_type"),
          (col("user_id") * 37 % 17000 - 8500).as("y"),
          (col("event_id") * 91 % 35000 - 17500).as("x"))
        p.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_total"),
            sum(when(Geofence.insideConvex(col("x"), col("y"), fence), 1L)
              .otherwise(0L)).as("n_inside"))
          .withColumn("share_e6", expr("n_inside * 1000000L div n_total"))
      },
      Some {
        val inside = Geofence.insideConvexSql("x", "y", fence)
        s"""WITH p AS (SELECT event_type, user_id * 37 % 17000 - 8500 AS y,
           |                  event_id * 91 % 35000 - 17500 AS x FROM events)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
           |       CAST(count(*) FILTER (WHERE $inside) AS BIGINT) AS n_inside,
           |       CAST(count(*) FILTER (WHERE $inside) * 1000000 // count(*) AS BIGINT) AS share_e6
           |FROM p GROUP BY 1""".stripMargin
      }),

    // ── Moran's I over latitude-band event volumes, rook adjacency
    //    (|Δband| = 1): exact n²-scaled integer moments, one close.
    QueryDef("q_morans_i",
      (s, d) => {
        val bands = userBands(s, d)
          .localCheckpoint(false) // both adjacency sides + moments
        val tot = bands.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        val z = bands.crossJoin(broadcast(tot))
          .withColumn("z", expr(s"CAST(n * x - sx AS $dec)"))
          .localCheckpoint(false)
        val num = z.join(z.select((col("band") + 1).as("band"),
            col("z").as("z2")), "band")
          .agg(sum(expr("z * z2")).as("cross2"), count(lit(1)).as("w_half"))
        val den = z.agg(sum(expr("z * z")).as("zz"), max("n").as("n"))
        num.crossJoin(den)
          .selectExpr("CAST(n AS BIGINT) AS n_bands",
            "2 * w_half AS w_pairs",
            """round(CAST(n AS DOUBLE) * (CAST('2.0' AS DOUBLE)
              |* CAST(cross2 AS DOUBLE))
              |/ (CAST(2 * w_half AS DOUBLE) * CAST(zz AS DOUBLE)), 6)
              |AS morans_i""".stripMargin)
      },
      Some(s"""WITH $userBandsTotSql,
             |z AS (SELECT band, CAST(n * x - sx AS HUGEINT) AS z
             |      FROM bands CROSS JOIN tot),
             |num AS (SELECT sum(a.z * b.z) AS cross2,
             |               CAST(count(*) AS BIGINT) AS w_half
             |        FROM z a JOIN z b ON b.band = a.band + 1),
             |den AS (SELECT sum(z * z) AS zz,
             |               (SELECT n FROM tot) AS n FROM z)
             |SELECT CAST(n AS BIGINT) AS n_bands, 2 * w_half AS w_pairs,
             |       round(CAST(n AS DOUBLE) * (CAST('2.0' AS DOUBLE)
             |         * CAST(cross2 AS DOUBLE))
             |         / (CAST(2 * w_half AS DOUBLE) * CAST(zz AS DOUBLE)),
             |         6) AS morans_i
             |FROM num CROSS JOIN den""".stripMargin)),

    // ── Hilbert layout audit (mirror of q_zorder_layout): occupied
    //    cells linearized by Hilbert index, bucketed into d-ranges
    //    (≈ output files). Unlike Morton, consecutive d are ALWAYS
    //    grid-adjacent (HilbertSpec proves it exhaustively), so each
    //    bucket is one connected blob — fewer files per viewport scan.
    QueryDef("q_hilbert_layout",
      (s, d) => {
        val cells = cellCounts(s, d, res)
        Hilbert.withHilbert(cells, col("qi"), col("ri"), "hd", bits = 10)
          .groupBy(expr("hd div 1024").as("d_bucket"))
          .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_events"),
            min(col("hd")).as("d_min"), max(col("hd")).as("d_max"))
      },
      Some(s"""WITH cells AS (SELECT g_qi AS qi, g_ri AS ri,
              |                      CAST(count(*) AS BIGINT) AS cnt
              |               FROM $posCell t GROUP BY 1, 2),
              |${Hilbert.cteSql("cells", "qi", "ri", Seq("cnt"), bits = 10)}
              |SELECT d // 1024 AS d_bucket, count(*) AS n_cells,
              |       CAST(sum(cnt) AS BIGINT) AS n_events,
              |       min(d) AS d_min, max(d) AS d_max
              |FROM hf GROUP BY 1""".stripMargin)),

    // ── Getis–Ord Gi* hotspot statistic per latitude band (the
    //    q_morans_i axis: 34 bands), neighborhood = band ± 1 incl.
    //    self via a RANGE window frame (gap-safe, unlike a rows
    //    frame). Exact long moments (n·S_i − Sx·w_i etc.); the close
    //    is a fixed-order IEEE sqrt/divide, identical text in both
    //    engines. Gi* > 0 marks a hot band, < 0 a cold one.
    QueryDef("q_getis_ord",
      (s, d) => {
        val bands = userBands(s, d)
          .localCheckpoint(false) // band axis: window + global moments
        val tot = bands.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(expr("x * x")).as("sxx"))
        val nb = Window.orderBy(col("band")).rangeBetween(-1, 1)
        bands
          .withColumn("s_i", sum(col("x")).over(nb))
          .withColumn("w_i", count(lit(1)).over(nb))
          .crossJoin(broadcast(tot))
          .selectExpr("band", "x", "CAST(w_i AS BIGINT) AS w_i",
            "CAST(s_i AS BIGINT) AS s_i",
            // Gi* is undefined when the neighborhood spans every band
            // (w_i = n) or the band counts are constant — NULL, not inf.
            """CASE WHEN n <= 1 OR n * w_i - w_i * w_i = 0
              |       OR n * sxx - sx * sx = 0 THEN NULL
              |ELSE round(CAST(n * s_i - sx * w_i AS DOUBLE)
              |  / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              |     * sqrt(CAST(n * w_i - w_i * w_i AS DOUBLE)
              |            / CAST(n - 1 AS DOUBLE))), 6) END AS gi"""
              .stripMargin)
      },
      Some(s"""WITH $userBandsSql,
             |w AS (SELECT band, x,
             |             CAST(count(*) OVER nb AS BIGINT) AS w_i,
             |             CAST(sum(x) OVER nb AS BIGINT) AS s_i
             |      FROM bands
             |      WINDOW nb AS (ORDER BY band
             |        RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(x) AS BIGINT) AS sx,
             |               CAST(sum(x * x) AS BIGINT) AS sxx FROM bands)
             |SELECT band, x, w_i, s_i,
             |       CASE WHEN n <= 1 OR n * w_i - w_i * w_i = 0
             |              OR n * sxx - sx * sx = 0 THEN NULL
             |       ELSE round(CAST(n * s_i - sx * w_i AS DOUBLE)
             |         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             |            * sqrt(CAST(n * w_i - w_i * w_i AS DOUBLE)
             |                   / CAST(n - 1 AS DOUBLE))), 6) END AS gi
             |FROM w CROSS JOIN tot""".stripMargin)),

    // ── Ripley's K on the latitude-band axis: for r ∈ {1, 2, 4}, the
    //    share of ordered point pairs within r bands of each other.
    //    With per-band counts x and the RANGE-window neighborhood sum
    //    S_r, pairs(r) = Σ x·S_r − N exactly (the subtraction removes
    //    each point paired with itself); K_e6 = pairs·1e6/(N(N−1)).
    //    Rising K(r)/expected marks clustering at that radius. All
    //    integer; the three radii ride one checkpointed 34-band axis.
    QueryDef("q_ripley_k",
      (s, d) => {
        val bands = userBands(s, d)
          .localCheckpoint(false) // three radii share the axis
        def nb(r: Int) = Window.orderBy(col("band")).rangeBetween(-r, r)
        val m = bands
          .withColumn("s1", sum(col("x")).over(nb(1)))
          .withColumn("s2", sum(col("x")).over(nb(2)))
          .withColumn("s4", sum(col("x")).over(nb(4)))
          .agg(sum(col("x")).as("n"),
            sum(expr("x * s1")).as("p1"), sum(expr("x * s2")).as("p2"),
            sum(expr("x * s4")).as("p4"))
          .localCheckpoint(false)
        def row(r: Int, p: String) = m.selectExpr(
          s"CAST($r AS BIGINT) AS r",
          s"CAST($p - n AS BIGINT) AS n_pairs",
          s"($p - n) * 1000000 div (n * (n - 1)) AS k_e6")
        row(1, "p1").unionByName(row(2, "p2")).unionByName(row(4, "p4"))
      },
      Some(s"""WITH $userBandsSql,
             |w AS (SELECT x,
             |        CAST(sum(x) OVER (ORDER BY band RANGE BETWEEN
             |          1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s1,
             |        CAST(sum(x) OVER (ORDER BY band RANGE BETWEEN
             |          2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS s2,
             |        CAST(sum(x) OVER (ORDER BY band RANGE BETWEEN
             |          4 PRECEDING AND 4 FOLLOWING) AS BIGINT) AS s4
             |      FROM bands),
             |m AS (SELECT CAST(sum(x) AS BIGINT) AS n,
             |             CAST(sum(x * s1) AS BIGINT) AS p1,
             |             CAST(sum(x * s2) AS BIGINT) AS p2,
             |             CAST(sum(x * s4) AS BIGINT) AS p4
             |      FROM w)
             |SELECT CAST(1 AS BIGINT) AS r, p1 - n AS n_pairs,
             |       (p1 - n) * 1000000 // (n * (n - 1)) AS k_e6 FROM m
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), p2 - n,
             |       (p2 - n) * 1000000 // (n * (n - 1)) FROM m
             |UNION ALL
             |SELECT CAST(4 AS BIGINT), p4 - n,
             |       (p4 - n) * 1000000 // (n * (n - 1)) FROM m"""
        .stripMargin)),

    /* Adaptive quadtree cells (`q_quadtree_cells`): split any cell
     * with more than T points into 4 until depth 5 — the
     * spatial-skew-aware partitioning a geo engine uses instead of a
     * uniform grid. Cell ids use the floor-halving identity
     * (qx_d div 2 = qx_{d-1}), so parents roll up from ONE leaf-depth
     * aggregate — no per-depth rescans. */
    // ── Adaptive quadtree: leaf depth 5 (32×32 scaled cell ids via
    //    la·2^d div extent — floor-halving gives parents for free);
    //    emit a cell at depth d when it holds ≤ T = 1000 points but
    //    its parent holds more; depth-5 cells still over T emit with
    //    overflow = 1 (the unsplittable hot spots a partitioner must
    //    salt).
    QueryDef("q_quadtree_cells",
      (s, d) => {
        val t = 1000L
        val leaf = Tables.events(s, d)
          .selectExpr(
            "((user_id * 37 + event_id * 13) % 17000) * 32 div 17000 AS qx",
            "((user_id * 91 + event_id * 29) % 35000) * 32 div 35000 AS qy")
          .groupBy(col("qx"), col("qy")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint(false)
        // parents roll up on the ≤4096-cell axis — no fact rescans; each
        // level checkpoints because it feeds TWO consumers (as child and
        // as parent) and would otherwise replay its rollup lineage twice
        def up(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(expr("qx div 2").as("qx"), expr("qy div 2").as("qy"))
          .agg(sum(col("cnt")).as("cnt"))
          .localCheckpoint(false)
        val levels = Iterator.iterate(leaf)(up).take(6).toSeq // d5..d0
        val emitted = (1 to 5).map { dd =>
          val child = levels(5 - dd)
          val parent = levels(5 - dd + 1)
            .select(expr("qx").as("px"), expr("qy").as("py"),
              col("cnt").as("pcnt"))
          child.join(broadcast(parent),
              expr("qx div 2") === col("px") &&
                expr("qy div 2") === col("py"))
            .filter(col("cnt") <= t && col("pcnt") > t)
            .selectExpr(s"CAST($dd AS BIGINT) AS depth",
              "CAST(qx AS BIGINT) AS qx", "CAST(qy AS BIGINT) AS qy",
              "CAST(cnt AS BIGINT) AS n_points", "CAST(0 AS BIGINT) AS overflow")
        }
        val overflow = levels(0).filter(col("cnt") > t)
          .selectExpr("CAST(5 AS BIGINT) AS depth",
            "CAST(qx AS BIGINT) AS qx", "CAST(qy AS BIGINT) AS qy",
            "CAST(cnt AS BIGINT) AS n_points", "CAST(1 AS BIGINT) AS overflow")
        emitted.reduce(_ unionByName _).unionByName(overflow)
      },
      Some("""WITH pts AS (
             |  SELECT ((user_id * 37 + event_id * 13) % 17000) * 32
             |           // 17000 AS qx,
             |         ((user_id * 91 + event_id * 29) % 35000) * 32
             |           // 35000 AS qy
             |  FROM events),
             |c5 AS (SELECT qx, qy, CAST(count(*) AS BIGINT) AS cnt
             |       FROM pts GROUP BY 1, 2),
             |c4 AS (SELECT qx // 2 AS qx, qy // 2 AS qy,
             |              CAST(sum(cnt) AS BIGINT) AS cnt
             |       FROM c5 GROUP BY 1, 2),
             |c3 AS (SELECT qx // 2 AS qx, qy // 2 AS qy,
             |              CAST(sum(cnt) AS BIGINT) AS cnt
             |       FROM c4 GROUP BY 1, 2),
             |c2 AS (SELECT qx // 2 AS qx, qy // 2 AS qy,
             |              CAST(sum(cnt) AS BIGINT) AS cnt
             |       FROM c3 GROUP BY 1, 2),
             |c1 AS (SELECT qx // 2 AS qx, qy // 2 AS qy,
             |              CAST(sum(cnt) AS BIGINT) AS cnt
             |       FROM c2 GROUP BY 1, 2),
             |c0 AS (SELECT qx // 2 AS qx, qy // 2 AS qy,
             |              CAST(sum(cnt) AS BIGINT) AS cnt
             |       FROM c1 GROUP BY 1, 2)
             |SELECT CAST(1 AS BIGINT) AS depth, c.qx, c.qy,
             |       c.cnt AS n_points, CAST(0 AS BIGINT) AS overflow
             |FROM c1 c JOIN c0 p ON c.qx // 2 = p.qx AND c.qy // 2 = p.qy
             |WHERE c.cnt <= 1000 AND p.cnt > 1000
             |UNION ALL
             |SELECT 2, c.qx, c.qy, c.cnt, 0
             |FROM c2 c JOIN c1 p ON c.qx // 2 = p.qx AND c.qy // 2 = p.qy
             |WHERE c.cnt <= 1000 AND p.cnt > 1000
             |UNION ALL
             |SELECT 3, c.qx, c.qy, c.cnt, 0
             |FROM c3 c JOIN c2 p ON c.qx // 2 = p.qx AND c.qy // 2 = p.qy
             |WHERE c.cnt <= 1000 AND p.cnt > 1000
             |UNION ALL
             |SELECT 4, c.qx, c.qy, c.cnt, 0
             |FROM c4 c JOIN c3 p ON c.qx // 2 = p.qx AND c.qy // 2 = p.qy
             |WHERE c.cnt <= 1000 AND p.cnt > 1000
             |UNION ALL
             |SELECT 5, c.qx, c.qy, c.cnt, 0
             |FROM c5 c JOIN c4 p ON c.qx // 2 = p.qx AND c.qy // 2 = p.qy
             |WHERE c.cnt <= 1000 AND p.cnt > 1000
             |UNION ALL
             |SELECT 5, qx, qy, cnt, 1 FROM c5 WHERE cnt > 1000"""
        .stripMargin)),

    /* The LOCAL spatial-autocorrelation family, completing
     * the global single-number reads (q_morans_i, q_getis_ord) with the
     * per-cell decomposition an analyst actually maps:
     *
     *  - Local Moran's I (LISA, `q_local_morans`): per latitude band,
     *    I_i = n·z_i·Σ_{j∈N(i)} z_j / Σz² with the Anselin HH/LL/HL/LH
     *    quadrant labels — WHERE the clustering lives, not just whether it
     *    exists. Same rook adjacency (|Δband| = 1) and the same exact
     *    n²-scaled integer centering (z = n·x − Σx) as q_morans_i, so the
     *    global I is literally sum(local numerators)/(W·Σz²) of this frame.
     *  - Geary's C (`q_gearys_c`): the difference-based global twin —
     *    C = (n−1)·Σ_{adj}(z_i−z_j)² / (2W·Σz²). Sensitive to local
     *    dissimilarity where Moran's I reads co-movement; C≈1 null,
     *    C<1 positive autocorrelation. All-integer until one division.
     *  - Join counts (`q_join_counts`): binarize bands hot/cold at the
     *    mean (z>0) and count BB/WW/BW adjacent pairs vs the free-sampling
     *    expectation E[BB] = W·p_b², E[BW] = 2W·p_b·p_w — the categorical
     *    spatial-autocorrelation test (hot next to hot more than chance?).
     *
     * Scale: the band axis is bounded (34 cells) — every aggregate is a
     * partial+final over it; the neighbor "join" is a shifted union +
     * groupBy on the bounded axis, no pairwise blow-up. At 100 TB the only
     * full-data pass is the first groupBy(band); everything after runs on
     * 34 rows. Reference anchor: the reference's heatmap cells
     * (heatmap_stream.py:105-125) are exactly such bounded spatial bins. */

    // ── LISA: z and neighbor-lag per band; quadrant from the signs.
    QueryDef("q_local_morans",
      (s, d) => {
        val bands = userBands(s, d)
          .localCheckpoint(false) // reused: z build + both neighbor shifts
        val tot = bands.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        val z = bands.crossJoin(broadcast(tot))
          .withColumn("z", expr(s"CAST(n * x - sx AS $dec)"))
          .localCheckpoint(false)
        val nb = z.select((col("band") + 1).as("band"), col("z").as("zn"))
          .unionByName(
            z.select((col("band") - 1).as("band"), col("z").as("zn")))
        val lag = nb.groupBy(col("band"))
          .agg(sum(col("zn")).as("lagz"), count(lit(1)).as("wdeg"))
        val zz = z.agg(sum(expr("z * z")).as("zz"))
        z.join(lag, Seq("band"), "left").crossJoin(broadcast(zz))
          .selectExpr("band", "x", "CAST(z AS BIGINT) AS z",
            "CAST(coalesce(wdeg, 0) AS BIGINT) AS wdeg",
            "CAST(coalesce(lagz, 0) AS BIGINT) AS lag_z",
            s"""round(CAST(CAST(n AS $dec) * z * coalesce(lagz, 0)
               |  AS DOUBLE) / CAST(zz AS DOUBLE), 6) AS local_i"""
              .stripMargin,
            """CASE WHEN coalesce(wdeg, 0) = 0 OR z = 0
              |       OR coalesce(lagz, 0) = 0 THEN 'NA'
              |     WHEN z > 0 AND lagz > 0 THEN 'HH'
              |     WHEN z < 0 AND lagz < 0 THEN 'LL'
              |     WHEN z > 0 THEN 'HL' ELSE 'LH' END AS quadrant"""
              .stripMargin)
      },
      Some(s"""WITH $userBandsTotSql,
             |z AS (SELECT band, x, n,
             |             CAST(n * x - sx AS HUGEINT) AS z
             |      FROM bands CROSS JOIN tot),
             |nb AS (SELECT band + 1 AS band, z AS zn FROM z
             |       UNION ALL
             |       SELECT band - 1 AS band, z AS zn FROM z),
             |lag AS (SELECT band, CAST(sum(zn) AS HUGEINT) AS lagz,
             |               CAST(count(*) AS BIGINT) AS wdeg
             |        FROM nb GROUP BY 1),
             |zz AS (SELECT CAST(sum(z * z) AS HUGEINT) AS zz FROM z)
             |SELECT z.band AS band, x, CAST(z AS BIGINT) AS z,
             |       CAST(coalesce(wdeg, 0) AS BIGINT) AS wdeg,
             |       CAST(coalesce(lagz, 0) AS BIGINT) AS lag_z,
             |       round(CAST(CAST(n AS HUGEINT) * z
             |           * coalesce(lagz, 0) AS DOUBLE)
             |         / CAST(zz AS DOUBLE), 6) AS local_i,
             |       CASE WHEN coalesce(wdeg, 0) = 0 OR z = 0
             |              OR coalesce(lagz, 0) = 0 THEN 'NA'
             |            WHEN z > 0 AND lagz > 0 THEN 'HH'
             |            WHEN z < 0 AND lagz < 0 THEN 'LL'
             |            WHEN z > 0 THEN 'HL' ELSE 'LH' END AS quadrant
             |FROM z LEFT JOIN lag ON lag.band = z.band
             |CROSS JOIN zz""".stripMargin)),

    // ── Geary's C: (n−1)·Σ_adj(z_i−z_j)² / (2·W_unordered·Σz²).
    QueryDef("q_gearys_c",
      (s, d) => {
        val bands = userBands(s, d)
          .localCheckpoint(false)
        val tot = bands.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        val z = bands.crossJoin(broadcast(tot))
          .withColumn("z", expr(s"CAST(n * x - sx AS $dec)"))
          .localCheckpoint(false)
        val adj = z.join(z.select((col("band") + 1).as("band"),
            col("z").as("z2")), "band")
          .agg(sum(expr("(z - z2) * (z - z2)")).as("dsum"),
            count(lit(1)).as("w_half"))
        val den = z.agg(sum(expr("z * z")).as("zz"), max(col("n")).as("n"))
        adj.crossJoin(den)
          .selectExpr("CAST(n AS BIGINT) AS n_bands",
            "2 * w_half AS w_pairs",
            s"""round(CAST(CAST(n - 1 AS $dec) * dsum AS DOUBLE)
               |/ (CAST('2.0' AS DOUBLE) * CAST(w_half AS DOUBLE)
               |   * CAST(zz AS DOUBLE)), 6) AS gearys_c""".stripMargin)
      },
      Some(s"""WITH $userBandsTotSql,
             |z AS (SELECT band, CAST(n * x - sx AS HUGEINT) AS z, n
             |      FROM bands CROSS JOIN tot),
             |adj AS (SELECT sum((a.z - b.z) * (a.z - b.z)) AS dsum,
             |               CAST(count(*) AS BIGINT) AS w_half
             |        FROM z a JOIN z b ON b.band = a.band + 1),
             |den AS (SELECT CAST(sum(z * z) AS HUGEINT) AS zz,
             |               max(n) AS n FROM z)
             |SELECT CAST(n AS BIGINT) AS n_bands, 2 * w_half AS w_pairs,
             |       round(CAST(CAST(n - 1 AS HUGEINT) * dsum AS DOUBLE)
             |         / (CAST('2.0' AS DOUBLE) * CAST(w_half AS DOUBLE)
             |            * CAST(zz AS DOUBLE)), 6) AS gearys_c
             |FROM adj CROSS JOIN den""".stripMargin)),

    // ── Join counts: hot = above-mean band (z>0); BB/WW/BW over the
    //    rook pairs vs free-sampling expectations, e6 integers.
    QueryDef("q_join_counts",
      (s, d) => {
        val bands = userBands(s, d)
          .localCheckpoint(false)
        val tot = bands.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        val h = bands.crossJoin(broadcast(tot))
          .withColumn("hot",
            expr("CASE WHEN n * x - sx > 0 THEN 1 ELSE 0 END"))
          .localCheckpoint(false)
        val pairs = h.join(h.select((col("band") + 1).as("band"),
            col("hot").as("hot2")), "band")
          .agg(sum(expr("hot * hot2")).as("bb"),
            sum(expr("(1 - hot) * (1 - hot2)")).as("ww"),
            sum(expr("CASE WHEN hot <> hot2 THEN 1 ELSE 0 END")).as("bw"),
            count(lit(1)).as("w"))
        val marg = h.agg(sum(col("hot")).as("nb"), max(col("n")).as("n"))
        pairs.crossJoin(marg)
          .selectExpr("CAST(w AS BIGINT) AS w_pairs",
            "CAST(bb AS BIGINT) AS bb", "CAST(ww AS BIGINT) AS ww",
            "CAST(bw AS BIGINT) AS bw",
            "w * nb * nb * 1000000 div (n * n) AS e_bb_e6",
            "w * 2 * nb * (n - nb) * 1000000 div (n * n) AS e_bw_e6")
      },
      Some(s"""WITH $userBandsTotSql,
             |h AS (SELECT band,
             |             CASE WHEN n * x - sx > 0 THEN 1 ELSE 0 END
             |               AS hot, n
             |      FROM bands CROSS JOIN tot),
             |pairs AS (SELECT CAST(sum(a.hot * b.hot) AS BIGINT) AS bb,
             |                 CAST(sum((1 - a.hot) * (1 - b.hot))
             |                   AS BIGINT) AS ww,
             |                 CAST(sum(CASE WHEN a.hot <> b.hot THEN 1
             |                               ELSE 0 END) AS BIGINT) AS bw,
             |                 CAST(count(*) AS BIGINT) AS w
             |          FROM h a JOIN h b ON b.band = a.band + 1),
             |marg AS (SELECT CAST(sum(hot) AS BIGINT) AS nb,
             |                max(n) AS n FROM h)
             |SELECT w AS w_pairs, bb, ww, bw,
             |       w * nb * nb * 1000000 // (n * n) AS e_bb_e6,
             |       w * 2 * nb * (n - nb) * 1000000 // (n * n) AS e_bw_e6
             |FROM pairs CROSS JOIN marg""".stripMargin)),

    /* Madogram + variogram (`q_madogram`): γ_M(h) = ½E|x_t − x_{t+h}|
     * and γ(h) = ½E(x_t − x_{t+h})² of daily revenue for lags 1..7 —
     * the robust/classical dependence-by-lag pair (q_acf's rank-free
     * cousins). Exact integer diffs on hecto-dollar revenue, decimal
     * close for the squared sum. */
    // ── Madogram + variogram of daily revenue at lags 1..7.
    QueryDef("q_madogram",
      (s, d) => {
        val daily = ordersDailyHecto(s, d)
          .localCheckpoint(false) // calendar-bounded (~days, not SF)
        val lagged = daily
          .withColumn("h", explode(array((1 to 7).map(lit(_)): _*)))
          .withColumn("dt2", date_add(col("dt"), col("h")))
        lagged.join(broadcast(daily.select(col("dt").as("dt2"),
            col("x").as("x2"))), Seq("dt2"))
          .groupBy(col("h"))
          .agg(count(lit(1)).as("nh"),
            sum(expr("abs(x - x2)")).as("sad"),
            sum(expr(s"CAST(x - x2 AS $dec) * (x - x2)")).as("ssq"))
          .selectExpr("h", "nh",
            "sad * 1000000 div (2 * nh) AS mado_e6",
            s"CAST(CAST(ssq AS $dec) * 1000000 div (2 * nh) AS BIGINT)" +
              " AS vario_e6")
      },
      Some(s"""WITH $ordersDailyHectoSql,
             |lagged AS (SELECT a.x, a.dt + l.h AS dt2, l.h
             |           FROM daily a CROSS JOIN
             |             (SELECT unnest([1,2,3,4,5,6,7]) AS h) l)
             |SELECT l.h AS h, CAST(count(*) AS BIGINT) AS nh,
             |       CAST(sum(abs(l.x - b.x)) AS BIGINT) * 1000000
             |         // (2 * count(*)) AS mado_e6,
             |       CAST(CAST(sum(CAST(l.x - b.x AS HUGEINT)
             |           * (l.x - b.x)) AS HUGEINT) * 1000000
             |         // (2 * count(*)) AS BIGINT) AS vario_e6
             |FROM lagged l JOIN daily b ON b.dt = l.dt2
             |GROUP BY 1""".stripMargin))
  )
}
