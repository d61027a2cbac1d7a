package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.geo.HexSql
import graft.geo.hexfunctions._
import graft.ops.{Bm25, Mobility}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trajectory and movement analytics over the positions and events feeds:
  * origin-destination flows, stay points, co-location, home/work anchors,
  * trip shape, and heatmap dynamics. */
object MobilityQueries extends QueryCatalog {

  import Fixtures._

  // Coarse grid so cells actually collide (res 3 ≈ 15° edges).
  private val res = 3

  private val posCell = HexSql.withCellId(Tables.positionsSql, "lat", "lon", res)
  private val dayUs = 86400000000L
  private val contactBucketUs = 300000000L // 5-minute co-location buckets
  private val convoyBucketUs = 21600000000L // 6-hour convoy buckets
  private val fineRes = 8

  /** (day, cx, cy, c): per-cell daily ping counts. */
  private def cellDay(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
        expr("((user_id * 37) % 17000) div 100").as("cx"),
        expr("((event_id * 91) % 35000) div 100").as("cy"))
      .agg(count(lit(1)).as("c"))

  private val cellDaySql =
    """cd AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |              ((user_id * 37) % 17000) // 100 AS cx,
      |              ((event_id * 91) % 35000) // 100 AS cy,
      |              CAST(count(*) AS BIGINT) AS c
      |       FROM events GROUP BY 1, 2, 3)""".stripMargin

  private val laExpr = "(user_id * 37 + event_id * 13) % 17000"
  private val loExpr = "(user_id * 91 + event_id * 29) % 35000"

  /** Probe predicate: ~1 in 3000 events serve as KNN query points. */
  private val probeExpr = "event_id % 2999 = 1"

  def defs: Seq[QueryDef] = Seq(

    /* Mobility analytics over the position stream —
     * origin–destination flows, neighbor-smoothed heatmap intensity, and
     * per-cell dwell time — each with an exact DuckDB oracle twin built on
     * the [[HexSql]] snap. */

    // ── OD matrix: per (vehicle, day), first → last cell, counted.
    QueryDef("q_od_matrix",
      (s, d) => Mobility.odMatrix(Tables.positions(s, d), res, dayUs),
      Some(s"""WITH p AS (SELECT vehicleId AS veh,
              |            epoch_us(eventTs) // $dayUs AS bkt,
              |            epoch_us(eventTs) AS t, event_id AS tie, cell_id
              |          FROM $posCell t),
              |od AS (SELECT veh, bkt,
              |         (SELECT p2.cell_id FROM p p2
              |          WHERE p2.veh = p.veh AND p2.bkt = p.bkt
              |          ORDER BY p2.t, p2.tie LIMIT 1) AS o_cell,
              |         (SELECT p2.cell_id FROM p p2
              |          WHERE p2.veh = p.veh AND p2.bkt = p.bkt
              |          ORDER BY p2.t DESC, p2.tie DESC LIMIT 1) AS d_cell
              |       FROM (SELECT DISTINCT veh, bkt FROM p) p)
              |SELECT o_cell, d_cell, CAST(count(*) AS BIGINT) AS flows
              |FROM od GROUP BY 1, 2""".stripMargin)),

    // ── One-ring box blur: smoothed = 7-cell disk total / 7 (e6).
    QueryDef("q_hex_smooth",
      (s, d) => Mobility.hexSmooth(Tables.positions(s, d), res),
      Some(s"""WITH c AS MATERIALIZED (
              |  SELECT cell_id AS cell, g_qi AS q, g_ri AS r,
              |         CAST(count(*) AS BIGINT) AS cnt
              |  FROM $posCell t GROUP BY 1, 2, 3),
              |scatter AS (
              |  SELECT c.q + d.dq AS tq, c.r + d.dr AS tr, c.cnt
              |  FROM c CROSS JOIN (VALUES (0, 0), (1, 0), (1, -1), (0, -1),
              |                            (-1, 0), (-1, 1), (0, 1)) d(dq, dr)),
              |disk AS (SELECT tq, tr, sum(cnt) AS disk FROM scatter
              |         GROUP BY 1, 2)
              |SELECT c.cell, c.cnt,
              |       CAST(k.disk * 1000000 // 7 AS BIGINT) AS smoothed_e6
              |FROM c JOIN disk k ON k.tq = c.q AND k.tr = c.r""".stripMargin)),

    // ── Dwell time per cell: lead-gap per vehicle, capped at 1 hour.
    QueryDef("q_dwell_time",
      (s, d) => Mobility.dwellTime(Tables.positions(s, d), res, 3600000000L),
      Some(s"""WITH p AS (SELECT vehicleId AS veh, epoch_us(eventTs) AS t,
              |            event_id AS tie, cell_id
              |          FROM $posCell t),
              |g AS (SELECT cell_id, least(coalesce(
              |         lead(t) OVER (PARTITION BY veh ORDER BY t, tie) - t,
              |         0), 3600000000) AS dwell
              |      FROM p)
              |SELECT cell_id AS cell, CAST(count(*) AS BIGINT) AS visits,
              |       CAST(sum(dwell) // 1000000 AS BIGINT) AS dwell_s
              |FROM g GROUP BY 1""".stripMargin)),

    // ── Radius of gyration per vehicle (planar, degree² units).
    QueryDef("q_radius_gyration",
      (s, d) => Mobility.radiusOfGyration(Tables.positions(s, d)),
      Some(s"""WITH pts AS (
              |  SELECT vehicleId AS veh,
              |         CAST(floor(lat * 100 + 0.5) AS HUGEINT) AS x,
              |         CAST(floor(lon * 100 + 0.5) AS HUGEINT) AS y
              |  FROM ${Tables.positionsSql} p),
              |m AS (SELECT veh, CAST(count(*) AS HUGEINT) AS n,
              |             sum(x) AS sx, sum(y) AS sy
              |      FROM pts GROUP BY veh),
              |ss AS (SELECT p.veh, max(m.n) AS n,
              |         sum((m.n * p.x - m.sx) * (m.n * p.x - m.sx)
              |           + (m.n * p.y - m.sy) * (m.n * p.y - m.sy)) AS ss
              |       FROM pts p JOIN m ON m.veh = p.veh
              |       GROUP BY p.veh)
              |SELECT veh, CAST(n AS BIGINT) AS n,
              |       round(CAST(ss AS DOUBLE) /
              |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              |          * CAST('10000.0' AS DOUBLE)), 6) AS rog2
              |FROM ss""".stripMargin)),

    // ── Per-route (event_type) polyline length in e2-degree units.
    QueryDef("q_path_length",
      (s, d) => Mobility.pathLength(
        Tables.positions(s, d).withColumn("route", col("event_type")),
        "route"),
      Some(s"""WITH p AS (
              |  SELECT event_type AS route, epoch_us(eventTs) AS t,
              |         event_id AS tie,
              |         CAST(floor(lat * 100 + 0.5) AS BIGINT) AS x,
              |         CAST(floor(lon * 100 + 0.5) AS BIGINT) AS y
              |  FROM ${Tables.positionsSql} pp),
              |st AS (
              |  SELECT route, x, y,
              |         lag(x) OVER (PARTITION BY route ORDER BY t, tie) AS px,
              |         lag(y) OVER (PARTITION BY route ORDER BY t, tie) AS py
              |  FROM p),
              |g AS (
              |  SELECT route,
              |         CASE WHEN px IS NULL THEN NULL
              |              ELSE CAST(floor(sqrt(CAST(
              |                (x - px) * (x - px) + (y - py) * (y - py)
              |                AS DOUBLE))) AS BIGINT) END AS seg
              |  FROM st)
              |SELECT route, CAST(count(*) AS BIGINT) AS n_pts,
              |       CAST(count(seg) AS BIGINT) AS n_segs,
              |       CAST(coalesce(sum(seg), 0) AS BIGINT) AS len_total,
              |       CAST(coalesce(max(seg), 0) AS BIGINT) AS len_max
              |FROM g GROUP BY route""".stripMargin)),

    /* The trajectory-mining layer over the position stream
     * — co-location contact pairs, stay-point detection, per-vehicle
     * location entropy (predictability), and the serving tier's
     * hour-of-day × day-of-week heatmap matrix. All cell math rides the
     * shared [[HexSql]] snap; entropy rides the shared fixed-point log₂. */

    // ── Contact pairs: vehicles sharing a (cell, 5-min bucket), top 20
    //    by distinct shared blocks. Presence dedups BEFORE the blocked
    //    self-join — the join never sees raw pings.
    QueryDef("q_colocation",
      (s, d) => Mobility.colocation(Tables.positions(s, d), res, contactBucketUs, 20),
      Some(s"""WITH presence AS (
              |  SELECT DISTINCT vehicleId AS veh, cell_id AS cell,
              |         epoch_us(eventTs) // $contactBucketUs AS bkt
              |  FROM $posCell t)
              |SELECT a.veh AS veh_a, b.veh AS veh_b,
              |       CAST(count(*) AS BIGINT) AS n_blocks
              |FROM presence a JOIN presence b
              |  ON a.cell = b.cell AND a.bkt = b.bkt AND a.veh < b.veh
              |GROUP BY 1, 2
              |ORDER BY n_blocks DESC, veh_a, veh_b LIMIT 20""".stripMargin)),

    // ── Stay points: maximal same-cell runs ≥ 15 min per vehicle,
    //    rolled up per cell (gaps-and-islands on the vehicle key).
    QueryDef("q_stay_points",
      (s, d) => Mobility.stayPoints(Tables.positions(s, d), res, 900000000L),
      Some(s"""WITH p AS (
              |  SELECT vehicleId AS veh, epoch_us(eventTs) AS t,
              |         event_id AS tie, cell_id AS cell
              |  FROM $posCell t),
              |b AS (
              |  SELECT veh, t, tie, cell,
              |         CASE WHEN lag(cell) OVER (PARTITION BY veh
              |                ORDER BY t, tie) IS DISTINCT FROM cell
              |              THEN 1 ELSE 0 END AS brk
              |  FROM p),
              |r AS (
              |  SELECT veh, cell,
              |         sum(brk) OVER (PARTITION BY veh ORDER BY t, tie
              |                        ROWS UNBOUNDED PRECEDING) AS run, t
              |  FROM b),
              |stays AS (
              |  SELECT veh, run, cell, max(t) - min(t) AS dur
              |  FROM r GROUP BY 1, 2, 3
              |  HAVING max(t) - min(t) >= 900000000)
              |SELECT cell, CAST(count(*) AS BIGINT) AS n_stays,
              |       CAST(sum(dur) // 1000000 AS BIGINT) AS stay_s,
              |       CAST(max(dur) // 1000000 AS BIGINT) AS max_stay_s
              |FROM stays GROUP BY 1""".stripMargin)),

    // ── Location entropy per vehicle (Song et al. predictability):
    //    H_e6 = log2e6(T) − (Σ cnt·log2e6(cnt)) div T, integer-exact on
    //    the shared fixed-point log₂.
    QueryDef("q_location_entropy",
      (s, d) => Mobility.locationEntropy(Tables.positions(s, d), res),
      Some(s"""WITH vc AS (
              |  SELECT vehicleId AS veh, cell_id AS cell, count(*) AS cnt
              |  FROM $posCell t GROUP BY 1, 2),
              |v AS (
              |  SELECT veh, CAST(sum(cnt) AS BIGINT) AS n_visits,
              |         count(*) AS n_cells,
              |         sum(cnt * ${Bm25.log2E6Sql("cnt")}) AS clc
              |  FROM vc GROUP BY 1)
              |SELECT veh, CAST(n_visits AS BIGINT) AS n_visits,
              |       CAST(n_cells AS BIGINT) AS n_cells,
              |       CAST(${Bm25.log2E6Sql("n_visits")} - clc // n_visits
              |            AS BIGINT) AS entropy_e6
              |FROM v""".stripMargin)),

    // ── Serving heatmap matrix: hour-of-day × day-of-week occupancy per
    //    event type with each cell's share of the type total (e6). The
    //    dow is epoch-day mod 7 (identical on both engines — the
    //    q_chi_square convention); totals ride a type-keyed window over
    //    the ≤ 168-cell aggregate, not a second scan.
    QueryDef("q_hourly_heatmap",
      (s, d) => {
        val cells = Tables.events(s, d)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 86400000000 % 7").as("dow"),
            expr("unix_micros(ts) div 3600000000 % 24").as("hour"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("event_type"))
        cells.withColumn("total", sum(col("cnt")).over(w))
          .select(col("event_type"), col("dow"), col("hour"), col("cnt"),
            expr("cnt * 1000000 div total").as("share_e6"))
      },
      Some("""WITH c AS (
             |  SELECT event_type,
             |         epoch_us(ts) // 86400000000 % 7 AS dow,
             |         epoch_us(ts) // 3600000000 % 24 AS hour,
             |         count(*) AS cnt
             |  FROM events GROUP BY 1, 2, 3)
             |SELECT event_type, CAST(dow AS BIGINT) AS dow,
             |       CAST(hour AS BIGINT) AS hour,
             |       CAST(cnt AS BIGINT) AS cnt,
             |       CAST(cnt * 1000000 //
             |            sum(cnt) OVER (PARTITION BY event_type)
             |            AS BIGINT) AS share_e6
             |FROM c""".stripMargin)),

    // ── Convoys: pairs sharing a (cell, 6-hour) block in ≥2
    //    CONSECUTIVE buckets. Pair presence dedups to (pair, bucket)
    //    before the gaps-and-islands run detection.
    QueryDef("q_convoy",
      (s, d) => Mobility.convoys(Tables.positions(s, d), res, convoyBucketUs, 2),
      Some(s"""WITH presence AS (
              |  SELECT DISTINCT vehicleId AS veh, cell_id AS cell,
              |         epoch_us(eventTs) // $convoyBucketUs AS bkt
              |  FROM $posCell t),
              |pb AS (
              |  SELECT DISTINCT a.veh AS veh_a, b.veh AS veh_b, a.bkt
              |  FROM presence a JOIN presence b
              |    ON a.cell = b.cell AND a.bkt = b.bkt AND a.veh < b.veh),
              |runs AS (
              |  SELECT veh_a, veh_b,
              |         bkt - row_number() OVER (PARTITION BY veh_a, veh_b
              |                                  ORDER BY bkt) AS grp
              |  FROM pb),
              |lens AS (
              |  SELECT veh_a, veh_b, CAST(count(*) AS BIGINT) AS len
              |  FROM runs GROUP BY veh_a, veh_b, grp
              |  HAVING count(*) >= 2)
              |SELECT veh_a, veh_b, CAST(count(*) AS BIGINT) AS n_convoys,
              |       CAST(max(len) AS BIGINT) AS max_len,
              |       CAST(sum(len) AS BIGINT) AS convoy_bkts
              |FROM lens GROUP BY 1, 2""".stripMargin)),

    // ── Hausdorff between sampled users' visited-cell sets, blocked by
    //    the (per-user constant) latitude band. Cells are pure-integer
    //    0.5° buckets of the positions derivation (Tables.positions).
    QueryDef("q_hausdorff_traj",
      (s, d) => {
        val cells = Tables.events(s, d)
          .where(col("user_id") % 20 < 2)
          .select(col("user_id").as("u"),
            expr("(user_id * 37 % 17000) div 50").as("cx"),
            expr("(event_id * 91 % 35000) div 50").as("cy"))
          .distinct()
          .localCheckpoint(false) // both pair sides read it
        val b = cells.select(col("u").as("ub"), col("cx").as("bx"),
          col("cy").as("by"))
        val dmin = cells.join(b, col("cx") === col("bx") &&
            col("u") < col("ub"))
          .select(col("u"), col("ub"), col("cy"), col("by"))
          .groupBy(col("u"), col("ub"), col("cy"))
          .agg(min((col("cy") - col("by")) * (col("cy") - col("by")))
            .as("dmin_ab"))
        val dminRev = cells.join(b, col("cx") === col("bx") &&
            col("u") < col("ub"))
          .select(col("u"), col("ub"), col("cy"), col("by"))
          .groupBy(col("u"), col("ub"), col("by"))
          .agg(min((col("cy") - col("by")) * (col("cy") - col("by")))
            .as("dmin_ba"))
        val hab = dmin.groupBy(col("u"), col("ub"))
          .agg(max(col("dmin_ab")).as("h_ab"))
        val hba = dminRev.groupBy(col("u"), col("ub"))
          .agg(max(col("dmin_ba")).as("h_ba"))
        hab.join(hba, Seq("u", "ub"))
          .selectExpr("u AS user_a", "ub AS user_b", "h_ab", "h_ba",
            "greatest(h_ab, h_ba) AS hausdorff_d2")
      },
      Some("""WITH cells AS (
             |  SELECT DISTINCT user_id AS u,
             |         (user_id * 37 % 17000) // 50 AS cx,
             |         (event_id * 91 % 35000) // 50 AS cy
             |  FROM events WHERE user_id % 20 < 2),
             |p AS (SELECT a.u, b.u AS ub, a.cy, b.cy AS by2
             |      FROM cells a JOIN cells b
             |        ON a.cx = b.cx AND a.u < b.u),
             |hab AS (SELECT u, ub, CAST(max(dmin) AS BIGINT) AS h_ab
             |        FROM (SELECT u, ub, cy,
             |                     min((cy - by2) * (cy - by2)) AS dmin
             |              FROM p GROUP BY 1, 2, 3)
             |        GROUP BY 1, 2),
             |hba AS (SELECT u, ub, CAST(max(dmin) AS BIGINT) AS h_ba
             |        FROM (SELECT u, ub, by2,
             |                     min((cy - by2) * (cy - by2)) AS dmin
             |              FROM p GROUP BY 1, 2, 3)
             |        GROUP BY 1, 2)
             |SELECT hab.u AS user_a, hab.ub AS user_b, h_ab, h_ba,
             |       greatest(h_ab, h_ba) AS hausdorff_d2
             |FROM hab JOIN hba ON hab.u = hba.u AND hab.ub = hba.ub"""
        .stripMargin)),

    // ── Gravity model: observed per-user consecutive-cell-band flows vs
    //    K·w_o·w_d/d² expectations (7×7 band grid, decimal-normalized).
    QueryDef("q_od_gravity",
      (s, d) => {
        val pts = Tables.events(s, d).select(col("user_id").as("u"),
          expr("unix_micros(ts)").as("t"), col("event_id").as("eid"),
          expr("((event_id * 91 % 35000) div 50) div 100").as("band"))
        val w = Window.partitionBy(col("u")).orderBy(col("t"), col("eid"))
        val obs = pts.withColumn("o", lag(col("band"), 1).over(w))
          .where(col("o").isNotNull)
          .groupBy(col("o"), col("band").as("dst"))
          .agg(count(lit(1)).as("obs"))
          .localCheckpoint(false) // reused: margins + normalization + fit
        val wo = obs.groupBy(col("o")).agg(sum(col("obs")).as("wo"))
        val wd = obs.groupBy(col("dst")).agg(sum(col("obs")).as("wd"))
        val tot = obs.agg(sum(col("obs")).as("tot"))
        val m = obs.join(broadcast(wo), "o").join(broadcast(wd), "dst")
          .withColumn("d2", expr("(abs(o - dst) + 1) * (abs(o - dst) + 1)"))
          .withColumn("m", expr("wo * wd * 1000000 div d2"))
        val sm = m.agg(sum(col("m").cast(dec)).as("sm"))
        m.crossJoin(broadcast(sm)).crossJoin(broadcast(tot))
          .selectExpr("o AS origin", "dst", "obs",
            s"CAST(CAST(tot AS $dec) * CAST(m AS $dec) * 1000000" +
              s" div CAST(sm AS $dec) AS BIGINT) AS exp_e6",
            s"obs * 1000000 - CAST(CAST(tot AS $dec) * CAST(m AS $dec)" +
              s" * 1000000 div CAST(sm AS $dec) AS BIGINT) AS resid_e6")
      },
      Some("""WITH pts AS (
             |  SELECT user_id AS u, epoch_us(ts) AS t, event_id AS eid,
             |         ((event_id * 91 % 35000) // 50) // 100 AS band
             |  FROM events),
             |seq AS (SELECT u, band,
             |               lag(band) OVER (PARTITION BY u
             |                 ORDER BY t, eid) AS o
             |        FROM pts),
             |obs AS (SELECT o, band AS dst, CAST(count(*) AS BIGINT) AS obs
             |        FROM seq WHERE o IS NOT NULL GROUP BY 1, 2),
             |wo AS (SELECT o, CAST(sum(obs) AS BIGINT) AS wo
             |       FROM obs GROUP BY 1),
             |wd AS (SELECT dst, CAST(sum(obs) AS BIGINT) AS wd
             |       FROM obs GROUP BY 1),
             |tot AS (SELECT CAST(sum(obs) AS HUGEINT) AS tot FROM obs),
             |m AS (SELECT obs.o, obs.dst, obs.obs,
             |             CAST(wo AS HUGEINT) * CAST(wd AS HUGEINT)
             |               * 1000000
             |               // ((abs(obs.o - obs.dst) + 1)
             |                  * (abs(obs.o - obs.dst) + 1)) AS m
             |      FROM obs JOIN wo ON obs.o = wo.o
             |           JOIN wd ON obs.dst = wd.dst),
             |sm AS (SELECT sum(m) AS sm FROM m)
             |SELECT o AS origin, dst, obs,
             |       CAST(tot * m * 1000000 // sm AS BIGINT) AS exp_e6,
             |       obs * 1000000 - CAST(tot * m * 1000000 // sm AS BIGINT)
             |         AS resid_e6
             |FROM m CROSS JOIN sm CROSS JOIN tot""".stripMargin)),

    /* Three mobility-mining staples over the synthetic
     * positions stream (reference domain — `heatmap_stream.py`'s feed) —
     * home/work anchor detection (modal night vs office-hours cell per
     * vehicle, the first step of any commute model), per-cell flow
     * imbalance (net arrivals − departures by hour of day: where does the
     * fleet pool and drain), and the jump-length distribution (log₂-
     * bucketed displacement histogram — the Lévy-flight diagnostic of
     * human-mobility papers). Hours derive from epoch microseconds (no
     * timezone surface); cells via the shared [[HexSql]] axial snap. */

    // ── Home/work anchors: per vehicle, the modal cell over night
    //    pings (hod ≥22 or <6) and over office-hour pings (9–16);
    //    rolled up to the top-5 home cells per provider with commuter
    //    counts (home ≠ work). Modal pick tie-breaks (cnt desc, cell
    //    asc) identically in both engines. The (vehicle, cell, class)
    //    rollup is the only data-sized exchange; anchors live on the
    //    vehicle axis.
    QueryDef("q_home_work",
      (s, d) => {
        val pos = Tables.positions(s, d)
          .withColumn("cellId", hex_cell_id(col("lat"), col("lon"), fineRes))
          .withColumn("hod",
            expr("(unix_micros(eventTs) div 3600000000) % 24"))
          .withColumn("cls", when(col("hod") >= 22 || col("hod") < 6, "h")
            .when(col("hod") >= 9 && col("hod") <= 16, "w"))
          .filter(col("cls").isNotNull)
        val modal = pos
          .groupBy(col("provider"), col("vehicleId"), col("cls"),
            col("cellId"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("vehicleId"), col("cls"))
              .orderBy(col("cnt").desc, col("cellId"))))
          .filter(col("rn") === 1)
          .localCheckpoint(false) // home + work legs of the anchor join
        val home = modal.filter(col("cls") === "h")
          .select(col("provider"), col("vehicleId"),
            col("cellId").as("home_cell"))
        val work = modal.filter(col("cls") === "w")
          .select(col("vehicleId"), col("cellId").as("work_cell"))
        home.join(work, "vehicleId")
          .groupBy(col("provider"), col("home_cell"))
          .agg(count(lit(1)).as("n_vehicles"),
            sum(when(col("home_cell") =!= col("work_cell"), 1L)
              .otherwise(0L)).as("n_commuters"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("provider"))
              .orderBy(col("n_vehicles").desc, col("home_cell"))))
          .filter(col("rk") <= 5)
          .selectExpr("provider", "home_cell",
            "CAST(n_vehicles AS BIGINT) AS n_vehicles",
            "CAST(n_commuters AS BIGINT) AS n_commuters",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some {
        val posCell = HexSql.withCellId(Tables.positionsSql,
          "lat", "lon", fineRes)
        s"""WITH pos AS (
           |  SELECT provider, vehicleId, cell_id,
           |         (epoch_us(eventTs) // 3600000000) % 24 AS hod
           |  FROM $posCell t),
           |cls AS (SELECT provider, vehicleId, cell_id,
           |               CASE WHEN hod >= 22 OR hod < 6 THEN 'h'
           |                    WHEN hod >= 9 AND hod <= 16 THEN 'w'
           |               END AS cls
           |        FROM pos),
           |cnt AS (SELECT provider, vehicleId, cls, cell_id,
           |               CAST(count(*) AS BIGINT) AS cnt
           |        FROM cls WHERE cls IS NOT NULL GROUP BY 1, 2, 3, 4),
           |modal AS (SELECT provider, vehicleId, cls, cell_id
           |          FROM (SELECT *, row_number() OVER (
           |                  PARTITION BY vehicleId, cls
           |                  ORDER BY cnt DESC, cell_id) AS rn
           |                FROM cnt) WHERE rn = 1),
           |hw AS (SELECT h.provider, h.cell_id AS home_cell,
           |              w.cell_id AS work_cell
           |       FROM (SELECT * FROM modal WHERE cls = 'h') h
           |       JOIN (SELECT * FROM modal WHERE cls = 'w') w
           |         ON h.vehicleId = w.vehicleId),
           |agg AS (SELECT provider, home_cell,
           |               CAST(count(*) AS BIGINT) AS n_vehicles,
           |               CAST(sum(CASE WHEN home_cell <> work_cell
           |                             THEN 1 ELSE 0 END) AS BIGINT)
           |                 AS n_commuters
           |        FROM hw GROUP BY 1, 2)
           |SELECT provider, home_cell, n_vehicles, n_commuters, rk
           |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY provider
           |        ORDER BY n_vehicles DESC, home_cell) AS BIGINT) AS rk
           |      FROM agg)
           |WHERE rk <= 5""".stripMargin
      }),

    // ── Flow imbalance: consecutive-ping cell transitions per vehicle
    //    (lag over (eventTs, event_id) — one keyed shuffle), then net
    //    arrivals − departures per (cell, hour-of-day); top 20 by
    //    |net|. Departure hour = the arrival row's hour (the hour the
    //    move completed) on both legs, so in/out books balance.
    QueryDef("q_flow_imbalance",
      (s, d) => {
        val w = Window.partitionBy(col("vehicleId"))
          .orderBy(col("eventTs"), col("event_id"))
        val trans = Tables.positions(s, d)
          .withColumn("cellId", hex_cell_id(col("lat"), col("lon"), fineRes))
          .withColumn("hod",
            expr("(unix_micros(eventTs) div 3600000000) % 24"))
          .withColumn("prev", lag(col("cellId"), 1).over(w))
          .filter(col("prev").isNotNull && col("prev") =!= col("cellId"))
          .select(col("prev").as("from_cell"), col("cellId").as("to_cell"),
            col("hod"))
          .localCheckpoint(false) // arrival + departure rollups
        val in = trans.groupBy(col("to_cell").as("cell"), col("hod"))
          .agg(count(lit(1)).as("n_in"))
        val out = trans.groupBy(col("from_cell").as("cell"), col("hod"))
          .agg(count(lit(1)).as("n_out"))
        in.join(out, Seq("cell", "hod"), "full")
          .select(col("cell"), col("hod"),
            coalesce(col("n_in"), lit(0L)).as("n_in"),
            coalesce(col("n_out"), lit(0L)).as("n_out"))
          .withColumn("net", col("n_in") - col("n_out"))
          .withColumn("rk", row_number().over(
            Window.orderBy(abs(col("net")).desc, col("cell"), col("hod"))))
          .filter(col("rk") <= 20)
          .selectExpr("cell", "CAST(hod AS BIGINT) AS hod",
            "CAST(n_in AS BIGINT) AS n_in",
            "CAST(n_out AS BIGINT) AS n_out", "net",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some {
        val posCell = HexSql.withCellId(Tables.positionsSql,
          "lat", "lon", fineRes)
        s"""WITH pos AS (
           |  SELECT vehicleId, cell_id, event_id,
           |         eventTs,
           |         (epoch_us(eventTs) // 3600000000) % 24 AS hod
           |  FROM $posCell t),
           |tr AS (SELECT lag(cell_id) OVER (PARTITION BY vehicleId
           |                ORDER BY eventTs, event_id) AS from_cell,
           |              cell_id AS to_cell, hod
           |       FROM pos),
           |trans AS (SELECT from_cell, to_cell, hod FROM tr
           |          WHERE from_cell IS NOT NULL
           |            AND from_cell <> to_cell),
           |i AS (SELECT to_cell AS cell, hod,
           |             CAST(count(*) AS BIGINT) AS n_in
           |      FROM trans GROUP BY 1, 2),
           |o AS (SELECT from_cell AS cell, hod,
           |             CAST(count(*) AS BIGINT) AS n_out
           |      FROM trans GROUP BY 1, 2),
           |f AS (SELECT coalesce(i.cell, o.cell) AS cell,
           |             coalesce(i.hod, o.hod) AS hod,
           |             coalesce(n_in, 0) AS n_in,
           |             coalesce(n_out, 0) AS n_out
           |      FROM i FULL JOIN o ON i.cell = o.cell AND i.hod = o.hod)
           |SELECT cell, CAST(hod AS BIGINT) AS hod, n_in, n_out,
           |       n_in - n_out AS net, rk
           |FROM (SELECT *, n_in - n_out AS net,
           |             CAST(row_number() OVER (ORDER BY
           |               abs(n_in - n_out) DESC, cell, hod) AS BIGINT)
           |               AS rk
           |      FROM f)
           |WHERE rk <= 20""".stripMargin
      }),

    // ── Jump-length distribution: squared centidegree displacement
    //    between consecutive pings per vehicle, log₂-bucketed through
    //    the shared fixed-point [[Bm25.log2E6]] (bit-identical in both
    //    engines — no IEEE log in the bucket boundary). Displacements
    //    are exact integers (the synthetic lat/lon are e2 fixed-point
    //    by construction), so the whole histogram is integer-exact.
    QueryDef("q_jump_lengths",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val d2f = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            expr("(user_id * 37) % 17000").as("lat_e2"),
            expr("(event_id * 91) % 35000").as("lon_e2"))
          .withColumn("dlat", col("lat_e2") - lag(col("lat_e2"), 1).over(w))
          .withColumn("dlon", col("lon_e2") - lag(col("lon_e2"), 1).over(w))
          .filter(col("dlat").isNotNull)
          .select(expr("dlat * dlat + dlon * dlon").as("d2"))
        val hist = d2f
          .select((Bm25.log2E6(col("d2") + 1) / lit(1000000L))
            .cast("long").as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .localCheckpoint(false) // bucket axis; reused by the total
        val tot = hist.agg(sum(col("n")).as("tot"))
        hist.crossJoin(broadcast(tot))
          .selectExpr("bucket", "CAST(n AS BIGINT) AS n",
            "n * 1000000 div tot AS pct_e6")
      },
      Some(s"""WITH pts AS (
             |  SELECT user_id, ts, event_id,
             |         (user_id * 37) % 17000 AS lat_e2,
             |         (event_id * 91) % 35000 AS lon_e2
             |  FROM events),
             |dd AS (SELECT lat_e2 - lag(lat_e2) OVER w AS dlat,
             |              lon_e2 - lag(lon_e2) OVER w AS dlon
             |       FROM pts
             |       WINDOW w AS (PARTITION BY user_id
             |                    ORDER BY ts, event_id)),
             |d2 AS (SELECT CAST(dlat * dlat + dlon * dlon AS BIGINT)
             |                AS d2
             |       FROM dd WHERE dlat IS NOT NULL),
             |hist AS (SELECT ${Bm25.log2E6Sql("(d2 + 1)")} // 1000000
             |                  AS bucket,
             |                CAST(count(*) AS BIGINT) AS n
             |         FROM d2 GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM hist)
             |SELECT CAST(bucket AS BIGINT) AS bucket, n,
             |       n * 1000000 // tot AS pct_e6
             |FROM hist CROSS JOIN tot""".stripMargin)),

    /* Trajectory-shape analytics over the deterministic
     * ping grid ((user_id·37)%17000, (event_id·91)%35000 — the
     * [[graft.Tables.positions]] coordinate convention): detour ratio
     * (path length vs net displacement — the route-efficiency read beside
     * q_radius_gyration's spread), a predictability histogram (top-cell
     * share per user — the Song-et-al. regularity proxy next to
     * q_location_entropy), and gap-split trip statistics (the trip-count ×
     * path-length profile that q_session_window's sessionization implies
     * but never rolls up). All distances are Manhattan on e2-scaled
     * integer coordinates — engine-exact, no sqrt anywhere. */

    // ── Detour ratio per (user, day): Σ|step| over the ts-ordered pings
    //    vs |last − first|, both Manhattan-integer; ≥3 pings and a
    //    nonzero net. ONE user-day keyed shuffle carries the lag window,
    //    the frame-wide first/last, and the rollup.
    QueryDef("q_detour_ratio",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts"), col("event_id"))
        val wf = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        val pts = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            expr("(user_id * 37) % 17000").as("lat_e2"),
            expr("(event_id * 91) % 35000").as("lon_e2"))
        pts
          .withColumn("dlat", col("lat_e2") - lag(col("lat_e2"), 1).over(w))
          .withColumn("dlon", col("lon_e2") - lag(col("lon_e2"), 1).over(w))
          .withColumn("flat", first(col("lat_e2")).over(wf))
          .withColumn("flon", first(col("lon_e2")).over(wf))
          .withColumn("llat", last(col("lat_e2")).over(wf))
          .withColumn("llon", last(col("lon_e2")).over(wf))
          .groupBy(col("user_id"), col("day"))
          .agg(count(lit(1)).as("n_pings"),
            sum(expr("abs(dlat) + abs(dlon)")).as("path_m"),
            max(expr("abs(llat - flat) + abs(llon - flon)")).as("net_m"))
          .filter(col("n_pings") >= 3 && col("net_m") > 0)
          .withColumn("detour_e6", expr("path_m * 1000000 div net_m"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("detour_e6").desc, col("user_id"),
              col("day"))))
          .filter(col("rk") <= 20)
          .selectExpr("user_id", "day", "CAST(n_pings AS BIGINT) AS n_pings",
            "CAST(path_m AS BIGINT) AS path_m",
            "CAST(net_m AS BIGINT) AS net_m", "detour_e6",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH pts AS (
             |  SELECT user_id, ts, event_id,
             |         epoch_us(ts) // 86400000000 AS day,
             |         (user_id * 37) % 17000 AS lat_e2,
             |         (event_id * 91) % 35000 AS lon_e2
             |  FROM events),
             |st AS (SELECT user_id, day,
             |              lat_e2 - lag(lat_e2) OVER w AS dlat,
             |              lon_e2 - lag(lon_e2) OVER w AS dlon,
             |              first_value(lat_e2) OVER wf AS flat,
             |              first_value(lon_e2) OVER wf AS flon,
             |              last_value(lat_e2) OVER wf AS llat,
             |              last_value(lon_e2) OVER wf AS llon
             |       FROM pts
             |       WINDOW w AS (PARTITION BY user_id, day
             |                    ORDER BY ts, event_id),
             |              wf AS (PARTITION BY user_id, day
             |                     ORDER BY ts, event_id
             |                     ROWS BETWEEN UNBOUNDED PRECEDING
             |                     AND UNBOUNDED FOLLOWING)),
             |ud AS (SELECT user_id, day,
             |              CAST(count(*) AS BIGINT) AS n_pings,
             |              CAST(sum(abs(dlat) + abs(dlon)) AS BIGINT)
             |                AS path_m,
             |              CAST(max(abs(llat - flat) + abs(llon - flon))
             |                AS BIGINT) AS net_m
             |       FROM st GROUP BY 1, 2
             |       HAVING count(*) >= 3
             |          AND max(abs(llat - flat) + abs(llon - flon)) > 0)
             |SELECT user_id, day, n_pings, path_m, net_m, detour_e6, rk
             |FROM (SELECT *, path_m * 1000000 // net_m AS detour_e6,
             |             CAST(row_number() OVER (ORDER BY
             |               path_m * 1000000 // net_m DESC, user_id, day)
             |               AS BIGINT) AS rk
             |      FROM ud)
             |WHERE rk <= 20""".stripMargin)),

    // ── Predictability histogram: per user the top-cell visit share
    //    (cell = e2 coords div 100 ≈ 1°×1° grid), bucketed into deciles
    //    — how regular is the population. Two keyed aggregates sharing
    //    the user prefix + one bounded-axis rollup.
    QueryDef("q_predictability",
      (s, d) => {
        val perCell = Tables.events(s, d)
          .select(col("user_id"),
            expr("((user_id * 37) % 17000) div 100").as("cx"),
            expr("((event_id * 91) % 35000) div 100").as("cy"))
          .groupBy(col("user_id"), col("cx"), col("cy"))
          .agg(count(lit(1)).as("c"))
        val perUser = perCell.groupBy(col("user_id"))
          .agg(sum(col("c")).as("n"), max(col("c")).as("m"),
            count(lit(1)).as("k"))
          .filter(col("n") >= 10)
          .withColumn("pred_e6", expr("m * 1000000 div n"))
        perUser
          .groupBy(expr("least(pred_e6 div 100000, 9)").as("decile"))
          .agg(count(lit(1)).as("n_users"), sum(col("k")).as("sk"),
            sum(col("n")).as("sn"))
          .selectExpr("CAST(decile AS BIGINT) AS decile",
            "CAST(n_users AS BIGINT) AS n_users",
            "sk div n_users AS avg_cells",
            "sn div n_users AS avg_pings")
      },
      Some("""WITH pc AS (
             |  SELECT user_id,
             |         ((user_id * 37) % 17000) // 100 AS cx,
             |         ((event_id * 91) % 35000) // 100 AS cy,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2, 3),
             |pu AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
             |              CAST(max(c) AS BIGINT) AS m,
             |              CAST(count(*) AS BIGINT) AS k
             |       FROM pc GROUP BY 1 HAVING sum(c) >= 10)
             |SELECT CAST(least(m * 1000000 // n // 100000, 9) AS BIGINT)
             |         AS decile,
             |       CAST(count(*) AS BIGINT) AS n_users,
             |       CAST(sum(k) AS BIGINT) // count(*) AS avg_cells,
             |       CAST(sum(n) AS BIGINT) // count(*) AS avg_pings
             |FROM pu GROUP BY 1""".stripMargin)),

    // ── Trip stats: a user-day's pings split into trips at >1 h gaps
    //    (cumulative gap-flag sum over the SAME ts-ordered window as the
    //    step deltas — one shuffle), then the n_trips profile across
    //    user-days with total Manhattan path per bucket.
    QueryDef("q_trip_stats",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts"), col("event_id"))
        val pts = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            expr("unix_micros(ts)").as("us"),
            expr("(user_id * 37) % 17000").as("lat_e2"),
            expr("(event_id * 91) % 35000").as("lon_e2"))
          .withColumn("gap", when(
            col("us") - lag(col("us"), 1).over(w) > 3600000000L, 1L)
            .otherwise(lit(0L)))
          .withColumn("step", when(col("gap") === 0L,
            abs(col("lat_e2") - lag(col("lat_e2"), 1).over(w)) +
              abs(col("lon_e2") - lag(col("lon_e2"), 1).over(w))))
        pts.groupBy(col("user_id"), col("day"))
          .agg((sum(col("gap")) + 1L).as("n_trips"),
            coalesce(sum(col("step")), lit(0L)).as("path_m"))
          .groupBy(col("n_trips"))
          .agg(count(lit(1)).as("n_user_days"), sum(col("path_m")).as("sp"))
          .selectExpr("CAST(n_trips AS BIGINT) AS n_trips",
            "CAST(n_user_days AS BIGINT) AS n_user_days",
            "sp div n_user_days AS avg_path_m")
      },
      Some("""WITH pts AS (
             |  SELECT user_id, ts, event_id,
             |         epoch_us(ts) // 86400000000 AS day,
             |         epoch_us(ts) AS us,
             |         (user_id * 37) % 17000 AS lat_e2,
             |         (event_id * 91) % 35000 AS lon_e2
             |  FROM events),
             |st AS (SELECT user_id, day,
             |              CASE WHEN us - lag(us) OVER w > 3600000000
             |                THEN 1 ELSE 0 END AS gap,
             |              CASE WHEN us - lag(us) OVER w <= 3600000000
             |                THEN abs(lat_e2 - lag(lat_e2) OVER w)
             |                   + abs(lon_e2 - lag(lon_e2) OVER w)
             |              END AS step
             |       FROM pts
             |       WINDOW w AS (PARTITION BY user_id, day
             |                    ORDER BY ts, event_id)),
             |ud AS (SELECT user_id, day,
             |              CAST(sum(gap) + 1 AS BIGINT) AS n_trips,
             |              CAST(coalesce(sum(step), 0) AS BIGINT)
             |                AS path_m
             |       FROM st GROUP BY 1, 2)
             |SELECT n_trips, CAST(count(*) AS BIGINT) AS n_user_days,
             |       CAST(sum(path_m) AS BIGINT) // count(*) AS avg_path_m
             |FROM ud GROUP BY 1""".stripMargin)),

    /* Temporal heatmap analytics over the deterministic
     * ping grid — hotspot persistence (cells in their day's top decile on
     * k of the last 7 days; the stability read a heatmap UI colors),
     * emerging cells (last-3-day surge ≥3× the prior-30-day daily mean —
     * the new-hotspot alert), and OD reciprocity (what share of directed
     * cell-to-cell flow mass has a reverse flow — q_flow_imbalance's
     * companion summary). Cells are the 1°×1° grid of
     * q_predictability; day-scoped ranks are partitioned windows, and
     * every surge test is an integer cross-multiply. */

    // ── Hotspot persistence: within each of the last 7 days, a cell is
    //    "hot" if its rank ≤ ceil(n_cells/10) (day-partitioned rank);
    //    output the persistence histogram — how many cells were hot on
    //    exactly k days.
    QueryDef("q_hotspot_persistence",
      (s, d) => {
        val cd = cellDay(s, d)
          .withColumn("mxd", max(col("day")).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
          .filter(col("day") > col("mxd") - 7)
        val hot = cd
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("day"))
              .orderBy(col("c").desc, col("cx"), col("cy"))))
          .withColumn("nc", count(lit(1)).over(
            Window.partitionBy(col("day"))))
          .filter(col("rk") * 10 <= col("nc") + 9) // rk ≤ ceil(nc/10)
        hot.groupBy(col("cx"), col("cy"))
          .agg(count(lit(1)).as("k_days"))
          .groupBy(col("k_days"))
          .agg(count(lit(1)).as("n_cells"))
          .selectExpr("CAST(k_days AS BIGINT) AS k_days",
            "CAST(n_cells AS BIGINT) AS n_cells")
      },
      Some(s"""WITH $cellDaySql,
             |win AS (SELECT * FROM
             |          (SELECT cd.*, max(day) OVER () AS mxd FROM cd)
             |        WHERE day > mxd - 7),
             |hot AS (SELECT cx, cy FROM
             |          (SELECT cx, cy,
             |                  row_number() OVER (PARTITION BY day
             |                    ORDER BY c DESC, cx, cy) AS rk,
             |                  count(*) OVER (PARTITION BY day) AS nc
             |           FROM win)
             |        WHERE rk * 10 <= nc + 9),
             |per AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS k_days
             |        FROM hot GROUP BY 1, 2)
             |SELECT k_days, CAST(count(*) AS BIGINT) AS n_cells
             |FROM per GROUP BY 1""".stripMargin)),

    // ── Emerging cells: recent = last-3-day total, base = prior-30-day
    //    total; emerging ⟺ recent·30 ≥ 3·base·3 (≥3× the base daily
    //    rate, integer cross-multiply) with base present. Top 20 by
    //    the e6 surge ratio.
    QueryDef("q_emerging_cells",
      (s, d) => {
        val cd = cellDay(s, d)
          .withColumn("mxd", max(col("day")).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        val agg = cd
          .filter(col("day") > col("mxd") - 33)
          .groupBy(col("cx"), col("cy"))
          .agg(sum(when(col("day") > col("mxd") - 3, col("c"))
            .otherwise(0L)).as("recent"),
            sum(when(col("day") <= col("mxd") - 3, col("c"))
              .otherwise(0L)).as("base"))
          .filter(col("base") > 0L && col("recent") * 30L >= col("base") * 9L)
          .withColumn("surge_e6", expr("recent * 10 * 1000000 div base"))
        agg.orderBy(col("surge_e6").desc, col("cx"), col("cy")).limit(20)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("surge_e6").desc, col("cx"), col("cy"))))
          .selectExpr("cx", "cy", "CAST(recent AS BIGINT) AS recent",
            "CAST(base AS BIGINT) AS base", "surge_e6",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some(s"""WITH $cellDaySql,
             |w AS (SELECT * FROM
             |        (SELECT cd.*, max(day) OVER () AS mxd FROM cd)
             |      WHERE day > mxd - 33),
             |agg AS (SELECT cx, cy,
             |               CAST(sum(CASE WHEN day > mxd - 3 THEN c
             |                 ELSE 0 END) AS BIGINT) AS recent,
             |               CAST(sum(CASE WHEN day <= mxd - 3 THEN c
             |                 ELSE 0 END) AS BIGINT) AS base
             |        FROM w GROUP BY 1, 2),
             |em AS (SELECT cx, cy, recent, base,
             |              recent * 10 * 1000000 // base AS surge_e6
             |       FROM agg
             |       WHERE base > 0 AND recent * 30 >= base * 9)
             |SELECT cx, cy, recent, base, surge_e6, rk
             |FROM (SELECT *, CAST(row_number() OVER (ORDER BY surge_e6
             |        DESC, cx, cy) AS BIGINT) AS rk
             |      FROM em)
             |WHERE rk <= 20""".stripMargin)),

    // ── OD reciprocity: directed flows = consecutive-ping cell
    //    transitions per user (ONE user-keyed lag); reciprocity =
    //    Σ min(f(a→b), f(b→a)) / Σ f over distinct ordered pairs —
    //    the full-join on the canonical pair key is flow-axis sized.
    QueryDef("q_od_reciprocity",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val flows = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            expr("((user_id * 37) % 17000) div 100").as("cx"),
            expr("((event_id * 91) % 35000) div 100").as("cy"))
          .withColumn("pcx", lag(col("cx"), 1).over(w))
          .withColumn("pcy", lag(col("cy"), 1).over(w))
          .filter(col("pcx").isNotNull &&
            (col("pcx") =!= col("cx") || col("pcy") =!= col("cy")))
          .groupBy(col("pcx"), col("pcy"), col("cx"), col("cy"))
          .agg(count(lit(1)).as("f"))
        val fwd = flows.select(col("pcx").as("ax"), col("pcy").as("ay"),
          col("cx").as("bx"), col("cy").as("by"), col("f"))
        val rev = flows.select(col("cx").as("ax"), col("cy").as("ay"),
          col("pcx").as("bx"), col("pcy").as("by"), col("f").as("fr"))
        fwd.join(rev, Seq("ax", "ay", "bx", "by"), "left")
          .agg(count(lit(1)).as("n_flows"), sum(col("f")).as("mass"),
            sum(least(col("f"), coalesce(col("fr"), lit(0L))))
              .as("recip_mass"))
          .selectExpr("CAST(n_flows AS BIGINT) AS n_flows",
            "CAST(mass AS BIGINT) AS mass",
            "CAST(recip_mass AS BIGINT) AS recip_mass",
            "recip_mass * 1000000 div mass AS reciprocity_e6")
      },
      Some("""WITH pts AS (
             |  SELECT user_id, ts, event_id,
             |         ((user_id * 37) % 17000) // 100 AS cx,
             |         ((event_id * 91) % 35000) // 100 AS cy
             |  FROM events),
             |tr AS (SELECT user_id, cx, cy,
             |              lag(cx) OVER w AS pcx,
             |              lag(cy) OVER w AS pcy
             |       FROM pts
             |       WINDOW w AS (PARTITION BY user_id
             |                    ORDER BY ts, event_id)),
             |flows AS (SELECT pcx, pcy, cx, cy,
             |                 CAST(count(*) AS BIGINT) AS f
             |          FROM tr
             |          WHERE pcx IS NOT NULL
             |            AND (pcx <> cx OR pcy <> cy)
             |          GROUP BY 1, 2, 3, 4)
             |SELECT CAST(count(*) AS BIGINT) AS n_flows,
             |       CAST(sum(a.f) AS BIGINT) AS mass,
             |       CAST(sum(least(a.f, coalesce(b.f, 0))) AS BIGINT)
             |         AS recip_mass,
             |       CAST(sum(least(a.f, coalesce(b.f, 0))) AS BIGINT)
             |         * 1000000 // CAST(sum(a.f) AS BIGINT)
             |         AS reciprocity_e6
             |FROM flows a LEFT JOIN flows b
             |  ON a.pcx = b.cx AND a.pcy = b.cy
             |  AND a.cx = b.pcx AND a.cy = b.pcy""".stripMargin)),

    /* Bucketed spatial analytics over an exact-integer
     * synthetic trajectory (coords derive from (user_id, event_id) by
     * modular arithmetic — no floats anywhere, so every distance and
     * heading is bit-exact cross-engine):
     *
     *  - grid-bucketed k-nearest-neighbor JOIN (each probe point's top-3
     *    neighbors among the 3×3 adjacent-cell candidates — the canonical
     *    scale shape for spatial KNN: candidate count is bounded by cell
     *    density, never all-pairs);
     *  - KNN regression audit (predict each probe's value from its
     *    neighbors' mean; report per-probe absolute error) — the lazy-
     *    learner accuracy check a feature-store pipeline runs;
     *  - heading octants (movement direction classified into 8 sectors by
     *    integer sign/magnitude comparisons — no trig — then a per-
     *    provider directional histogram).
     *
     * Coordinates: la = (user_id·37 + event_id·13) mod 17000, lo =
     * (user_id·91 + event_id·29) mod 35000 — kept non-negative so `div`
     * grid snapping truncates identically in Spark and DuckDB. */

    // ── Grid-bucketed 3-NN join: cells are 500×500 units; candidates
    //    come ONLY from the probe's 3×3 cell neighborhood (exact for
    //    any true neighbor within 500 units; documented bucketed
    //    semantics beyond that). Ties break on (d2, neighbor id).
    QueryDef("q_knn_grid_join",
      (s, d) => {
        val pts = Tables.events(s, d)
          .selectExpr("event_id", s"$laExpr AS la", s"$loExpr AS lo")
          .selectExpr("event_id", "la", "lo",
            "la div 500 AS cx", "lo div 500 AS cy")
          .localCheckpoint(false)
        val probes = pts.filter(expr(probeExpr))
        val offsets = expr(
          "explode(transform(sequence(0, 8), i -> named_struct(" +
            "'dx', i div 3 - 1, 'dy', i % 3 - 1)))")
        val cand = probes
          .select(col("event_id").as("qid"), col("la").as("qla"),
            col("lo").as("qlo"), col("cx"), col("cy"))
          .select(col("qid"), col("qla"), col("qlo"), offsets.as("o"),
            col("cx"), col("cy"))
          .select(col("qid"), col("qla"), col("qlo"),
            (col("cx") + col("o.dx")).as("cx"),
            (col("cy") + col("o.dy")).as("cy"))
          .join(pts.select(col("event_id").as("nid"), col("la"), col("lo"),
            col("cx"), col("cy")), Seq("cx", "cy"))
          .filter(col("nid") =!= col("qid"))
          .select(col("qid"), col("nid"),
            ((col("qla") - col("la")) * (col("qla") - col("la")) +
              (col("qlo") - col("lo")) * (col("qlo") - col("lo")))
              .as("d2"))
        import org.apache.spark.sql.expressions.Window
        cand.withColumn("nn_rank",
            row_number().over(Window.partitionBy(col("qid"))
              .orderBy(col("d2"), col("nid"))).cast("long"))
          .filter(col("nn_rank") <= 3)
          .select(col("qid").as("event_id"), col("nn_rank"),
            col("nid").as("nbr_event_id"), col("d2"))
      },
      Some(s"""WITH pts AS (
              |  SELECT event_id, $laExpr AS la, $loExpr AS lo,
              |         ($laExpr) // 500 AS cx, ($loExpr) // 500 AS cy
              |  FROM events),
              |probes AS (SELECT * FROM pts WHERE $probeExpr),
              |offs AS (SELECT dx, dy
              |         FROM (VALUES (-1), (0), (1)) a(dx)
              |         CROSS JOIN (VALUES (-1), (0), (1)) b(dy)),
              |cand AS (
              |  SELECT q.event_id AS qid, p.event_id AS nid,
              |         (q.la - p.la) * (q.la - p.la)
              |           + (q.lo - p.lo) * (q.lo - p.lo) AS d2
              |  FROM probes q CROSS JOIN offs o
              |  JOIN pts p ON p.cx = q.cx + o.dx AND p.cy = q.cy + o.dy
              |  WHERE p.event_id <> q.event_id)
              |SELECT qid AS event_id,
              |       CAST(row_number() OVER (PARTITION BY qid
              |         ORDER BY d2, nid) AS BIGINT) AS nn_rank,
              |       nid AS nbr_event_id, d2
              |FROM cand
              |QUALIFY nn_rank <= 3""".stripMargin)),

    // ── KNN regression audit: predict each probe's cents from the mean
    //    of its ≤3 bucketed nearest neighbors; emit per-probe counts,
    //    prediction, and absolute error. Same candidate construction as
    //    q_knn_grid_join (the shared scale story: density-bounded).
    QueryDef("q_knn_regress",
      (s, d) => {
        val pts = Tables.events(s, d)
          .selectExpr("event_id",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
            s"$laExpr AS la", s"$loExpr AS lo")
          .selectExpr("event_id", "cents", "la", "lo",
            "la div 500 AS cx", "lo div 500 AS cy")
          .localCheckpoint(false)
        val probes = pts.filter(expr(probeExpr))
        val offsets = expr(
          "explode(transform(sequence(0, 8), i -> named_struct(" +
            "'dx', i div 3 - 1, 'dy', i % 3 - 1)))")
        val cand = probes
          .select(col("event_id").as("qid"), col("cents").as("qc"),
            col("la").as("qla"), col("lo").as("qlo"), col("cx"), col("cy"))
          .select(col("qid"), col("qc"), col("qla"), col("qlo"),
            offsets.as("o"), col("cx"), col("cy"))
          .select(col("qid"), col("qc"),
            (col("cx") + col("o.dx")).as("cx"),
            (col("cy") + col("o.dy")).as("cy"),
            col("qla"), col("qlo"))
          .join(pts.select(col("event_id").as("nid"), col("cents"),
            col("la"), col("lo"), col("cx"), col("cy")), Seq("cx", "cy"))
          .filter(col("nid") =!= col("qid"))
          .select(col("qid"), col("qc"), col("nid"), col("cents"),
            ((col("qla") - col("la")) * (col("qla") - col("la")) +
              (col("qlo") - col("lo")) * (col("qlo") - col("lo")))
              .as("d2"))
        import org.apache.spark.sql.expressions.Window
        cand.withColumn("nn_rank",
            row_number().over(Window.partitionBy(col("qid"))
              .orderBy(col("d2"), col("nid"))))
          .filter(col("nn_rank") <= 3)
          .groupBy(col("qid"))
          .agg(max(col("qc")).as("own_cents"),
            count(lit(1)).as("n_nbrs"), sum(col("cents")).as("sc"))
          .selectExpr("qid AS event_id", "own_cents",
            "CAST(n_nbrs AS BIGINT) AS n_nbrs",
            "sc div n_nbrs AS pred_cents",
            "abs(own_cents - sc div n_nbrs) AS abs_err_cents")
      },
      Some(s"""WITH pts AS (
              |  SELECT event_id,
              |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
              |         $laExpr AS la, $loExpr AS lo,
              |         ($laExpr) // 500 AS cx, ($loExpr) // 500 AS cy
              |  FROM events),
              |probes AS (SELECT * FROM pts WHERE $probeExpr),
              |offs AS (SELECT dx, dy
              |         FROM (VALUES (-1), (0), (1)) a(dx)
              |         CROSS JOIN (VALUES (-1), (0), (1)) b(dy)),
              |cand AS (
              |  SELECT q.event_id AS qid, q.cents AS qc,
              |         p.event_id AS nid, p.cents,
              |         (q.la - p.la) * (q.la - p.la)
              |           + (q.lo - p.lo) * (q.lo - p.lo) AS d2
              |  FROM probes q CROSS JOIN offs o
              |  JOIN pts p ON p.cx = q.cx + o.dx AND p.cy = q.cy + o.dy
              |  WHERE p.event_id <> q.event_id),
              |nn AS (SELECT qid, qc, nid, cents
              |       FROM cand
              |       QUALIFY row_number() OVER (PARTITION BY qid
              |         ORDER BY d2, nid) <= 3),
              |a AS (SELECT qid, max(qc) AS own_cents,
              |             CAST(count(*) AS BIGINT) AS n_nbrs,
              |             CAST(sum(cents) AS BIGINT) AS sc
              |      FROM nn GROUP BY 1)
              |SELECT qid AS event_id, own_cents, n_nbrs,
              |       sc // n_nbrs AS pred_cents,
              |       abs(own_cents - sc // n_nbrs) AS abs_err_cents
              |FROM a""".stripMargin)),

    // ── Heading octants: consecutive-event displacement per user,
    //    classified into 8 directional sectors by integer sign and
    //    |dla| vs |dlo| comparisons (boundaries assigned by the CASE
    //    order — identical text both engines); per-provider histogram
    //    with e6 shares. One user-keyed window + one bounded rollup.
    QueryDef("q_heading_octants",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val moves = Tables.events(s, d)
          .selectExpr("user_id", "ts", "event_id",
            s"$laExpr AS la", s"$loExpr AS lo",
            "concat('p', CAST(user_id % 3 AS STRING)) AS provider")
          .withColumn("dla", col("la") - lag(col("la"), 1).over(w))
          .withColumn("dlo", col("lo") - lag(col("lo"), 1).over(w))
          .filter(col("dla").isNotNull)
          .selectExpr("provider",
            """CASE
              |  WHEN dla = 0 AND dlo = 0 THEN 'stay'
              |  WHEN dlo > 0 AND dla >= 0 AND dlo >= dla THEN 'E'
              |  WHEN dla > 0 AND dlo >= 0 AND dla > dlo THEN 'NE_N'
              |  WHEN dla > 0 AND dlo < 0 AND dla >= -dlo THEN 'N_NW'
              |  WHEN dlo < 0 AND dla >= 0 AND -dlo > dla THEN 'W_hi'
              |  WHEN dlo < 0 AND dla < 0 AND -dlo >= -dla THEN 'W_lo'
              |  WHEN dla < 0 AND dlo <= 0 AND -dla > -dlo THEN 'SW_S'
              |  WHEN dla < 0 AND dlo > 0 AND -dla >= dlo THEN 'S_SE'
              |  ELSE 'SE_E'
              |END AS octant""".stripMargin)
        val counts = moves.groupBy(col("provider"), col("octant"))
          .agg(count(lit(1)).as("n"))
        val tot = counts.groupBy(col("provider"))
          .agg(sum(col("n")).as("tn"))
        counts.join(tot, "provider")
          .selectExpr("provider", "octant", "CAST(n AS BIGINT) AS n",
            "n * 1000000 div tn AS share_e6")
      },
      Some(s"""WITH m AS (
              |  SELECT concat('p', CAST(user_id % 3 AS VARCHAR)) AS provider,
              |         $laExpr - lag($laExpr) OVER w AS dla,
              |         $loExpr - lag($loExpr) OVER w AS dlo
              |  FROM events
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              |c AS (
              |  SELECT provider,
              |         CASE
              |           WHEN dla = 0 AND dlo = 0 THEN 'stay'
              |           WHEN dlo > 0 AND dla >= 0 AND dlo >= dla THEN 'E'
              |           WHEN dla > 0 AND dlo >= 0 AND dla > dlo THEN 'NE_N'
              |           WHEN dla > 0 AND dlo < 0 AND dla >= -dlo THEN 'N_NW'
              |           WHEN dlo < 0 AND dla >= 0 AND -dlo > dla THEN 'W_hi'
              |           WHEN dlo < 0 AND dla < 0 AND -dlo >= -dla THEN 'W_lo'
              |           WHEN dla < 0 AND dlo <= 0 AND -dla > -dlo THEN 'SW_S'
              |           WHEN dla < 0 AND dlo > 0 AND -dla >= dlo THEN 'S_SE'
              |           ELSE 'SE_E'
              |         END AS octant
              |  FROM m WHERE dla IS NOT NULL),
              |cnt AS (SELECT provider, octant, CAST(count(*) AS BIGINT) AS n
              |        FROM c GROUP BY 1, 2),
              |tot AS (SELECT provider, CAST(sum(n) AS BIGINT) AS tn
              |        FROM cnt GROUP BY 1)
              |SELECT cnt.provider, cnt.octant, cnt.n,
              |       cnt.n * 1000000 // tot.tn AS share_e6
              |FROM cnt JOIN tot ON cnt.provider = tot.provider"""
        .stripMargin))
  )
}
