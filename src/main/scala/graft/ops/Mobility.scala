package graft.ops

import graft.geo.hexfunctions.hex_cell_id
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mobility analytics over the position stream — the aggregate layer a
  * heatmap serving tier sits on (the reference's domain): flows between
  * cells, neighbor-smoothed intensity, and dwell time. All cell math
  * rides the codegen'd [[graft.geo.hexfunctions.hex_cell_id]] snap;
  * axial neighbor arithmetic parses the `h{res}:{q}:{r}` id — string
  * ops, no UDF.
  */
object Mobility {

  private val dirs: Seq[(Int, Int)] =
    Seq((1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1))

  /** Origin–destination flow matrix: per (vehicle, time bucket), the
    * first and last snapped cell (by (ts, tie) — exact argmin/argmax as
    * struct extrema), counted into (origin, destination) flows.
    * Output: (o_cell, d_cell, flows).
    *
    * Scale: one keyed (vehicle, bucket) aggregate off the scan, one
    * keyed flow count — both map-side combinable. */
  def odMatrix(pos: DataFrame, res: Int, bucketUs: Long): DataFrame = {
    require(bucketUs > 0L)
    pos
      .select(col("vehicleId").as("veh"),
        expr(s"unix_micros(eventTs) div ${bucketUs}L").as("bkt"),
        unix_micros(col("eventTs")).as("t"), col("event_id").as("tie"),
        hex_cell_id(col("lat"), col("lon"), res).as("cell"))
      .groupBy(col("veh"), col("bkt"))
      .agg(min(struct(col("t"), col("tie"), col("cell"))).getField("cell")
          .as("o_cell"),
        max(struct(col("t"), col("tie"), col("cell"))).getField("cell")
          .as("d_cell"))
      .groupBy(col("o_cell"), col("d_cell"))
      .agg(count(lit(1)).as("flows"))
  }

  /** Neighbor-smoothed cell intensity: each occupied cell's smoothed
    * count is the mean over its 7-cell disk (itself + 6 axial
    * neighbors, absent neighbors = 0): smoothed_e6 = disk_total·10⁶
    * div 7 — the one-ring box blur a heatmap renderer applies before
    * coloring. Only OCCUPIED cells emit. Output:
    * (cell, cnt, smoothed_e6).
    *
    * Scale: counts once (one keyed agg), then each cell SCATTERS its
    * count to its 7 disk targets (bounded ×7 row fan-out, no join on
    * geometry) and one keyed gather sums per target. */
  def hexSmooth(pos: DataFrame, res: Int): DataFrame = {
    val cnts = pos
      .select(hex_cell_id(col("lat"), col("lon"), res).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
      .withColumn("parts", split(expr("substring(cell, 2)"), ":"))
      .select(col("cell"), col("cnt"),
        expr("CAST(parts[1] AS BIGINT)").as("q"),
        expr("CAST(parts[2] AS BIGINT)").as("r"))
      .localCheckpoint(false)
    val scatter = cnts.select(col("cnt"), col("q"), col("r"),
        explode(array(((0, 0) +: dirs).map { case (dq, dr) =>
          struct(lit(dq.toLong).as("dq"), lit(dr.toLong).as("dr"))
        }: _*)).as("d"))
      .select((col("q") + col("d.dq")).as("tq"),
        (col("r") + col("d.dr")).as("tr"), col("cnt"))
      .groupBy(col("tq"), col("tr")).agg(sum(col("cnt")).as("disk"))
    cnts.join(scatter, col("q") === col("tq") && col("r") === col("tr"))
      .selectExpr("cell", "cnt", "disk * 1000000 div 7 AS smoothed_e6")
  }

  /** Radius of gyration per vehicle — the canonical human-mobility
    * spread metric (González et al., Nature 2008, planar form): rog² =
    * (1/n)·Σᵢ ‖pᵢ − centroid‖². Coordinates are e2-quantized
    * (positions are exact centi-degree lattices), centered EXACTLY by
    * the n-scaling trick (n·x − Σx, so the rational centroid never
    * materializes): rog² = [Σ(n·x − Sx)² + Σ(n·y − Sy)²] / n³, one
    * double division rounded to 6 (degree² units). Output:
    * (veh, n, rog2).
    *
    * Scale: ONE map-side-combinable aggregate per vehicle (moments),
    * then a second keyed pass for the centered squares — both on the
    * vehicle key, no windows. */
  def radiusOfGyration(pos: DataFrame): DataFrame = {
    val pts = pos.select(col("vehicleId").as("veh"),
        floor(col("lat") * 100 + 0.5).cast(dec).as("x"),
        floor(col("lon") * 100 + 0.5).cast(dec).as("y"))
      .localCheckpoint(false) // ONE raw scan feeds both passes
    val m = pts.groupBy(col("veh"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"))
    pts.join(m, "veh")
      .groupBy(col("veh"))
      .agg(max(col("n")).as("n"),
        sum((col("n") * col("x") - col("sx")) *
          (col("n") * col("x") - col("sx")) +
          (col("n") * col("y") - col("sy")) *
            (col("n") * col("y") - col("sy"))).as("ss"))
      .selectExpr("veh", "CAST(n AS BIGINT) AS n",
        // e2 coords → /1e4 converts cd² to degree²; n³ undoes scaling
        """round(CAST(ss AS DOUBLE) /
          |  (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
          |   * CAST('10000.0' AS DOUBLE)), 6) AS rog2""".stripMargin)
  }

  /** Dwell time per cell: each position's dwell is the gap to the
    * vehicle's NEXT position (capped at `capUs` so overnight gaps don't
    * dominate; the last position contributes 0), summed per snapped
    * cell. Output: (cell, visits, dwell_s).
    *
    * Scale: one keyed lead window over the scan + one cell-keyed
    * aggregate. */
  def dwellTime(pos: DataFrame, res: Int, capUs: Long): DataFrame = {
    val w = Window.partitionBy(col("veh")).orderBy(col("t"), col("tie"))
    pos
      .select(col("vehicleId").as("veh"),
        unix_micros(col("eventTs")).as("t"), col("event_id").as("tie"),
        hex_cell_id(col("lat"), col("lon"), res).as("cell"))
      .withColumn("dwell",
        least(coalesce(lead(col("t"), 1).over(w) - col("t"), lit(0L)),
          lit(capUs)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("visits"),
        expr("sum(dwell) div 1000000 AS dwell_s"))
  }

  /** Polyline path length per route: positions ordered by (ts, event_id)
    * within `routeCol`, each step contributing the planar segment length
    * floor(√(Δx²+Δy²)) in e2-degree units. IEEE sqrt is correctly
    * rounded and Δ²-sums (≤ 1.5e9) are exactly representable, so the
    * floored lengths are bit-identical cross-engine — integer sums then
    * avoid order-dependent double accumulation. Output:
    * (route, n_pts, n_segs, len_total, len_max).
    *
    * Scale: one keyed sort-window (the same shuffle a sessionizer pays)
    * plus one keyed aggregate; nothing quadratic. */
  def pathLength(pos: DataFrame, routeCol: String): DataFrame = {
    val w = Window.partitionBy(col("route")).orderBy(col("t"), col("tie"))
    pos.select(col(routeCol).as("route"),
        unix_micros(col("eventTs")).as("t"), col("event_id").as("tie"),
        floor(col("lat") * 100 + 0.5).cast("long").as("x"),
        floor(col("lon") * 100 + 0.5).cast("long").as("y"))
      .withColumn("px", lag(col("x"), 1).over(w))
      .withColumn("py", lag(col("y"), 1).over(w))
      .withColumn("seg", floor(sqrt(
        ((col("x") - col("px")) * (col("x") - col("px")) +
          (col("y") - col("py")) * (col("y") - col("py"))).cast("double")))
        .cast("long"))
      .groupBy(col("route"))
      .agg(count(lit(1)).as("n_pts"), count(col("seg")).as("n_segs"),
        coalesce(sum(col("seg")), lit(0L)).as("len_total"),
        coalesce(max(col("seg")), lit(0L)).as("len_max"))
  }

  /** Co-location pairs: vehicles observed in the SAME snapped cell
    * within the SAME time bucket, scored by how many distinct
    * (cell, bucket) blocks they share; top `k` pairs (count desc,
    * pair asc). The contact-graph builder of proximity analytics.
    * Output: (veh_a, veh_b, n_blocks).
    *
    * Scale: presence is deduplicated to the (veh, cell, bucket) grain
    * FIRST (one keyed agg — the self-join never sees raw pings), then
    * the pair join is blocked on (cell, bucket): only same-block
    * vehicles ever pair, the classic spatial-join blocking. A hot block
    * with V vehicles costs V²/2 pairs — bound it upstream by bucket
    * width, never by sampling pairs. */
  def colocation(pos: DataFrame, res: Int, bucketUs: Long,
                 k: Int): DataFrame = {
    require(bucketUs > 0L)
    val presence = pos.select(col("vehicleId").as("veh"),
        hex_cell_id(col("lat"), col("lon"), res).as("cell"),
        expr(s"unix_micros(eventTs) div ${bucketUs}L").as("bkt"))
      .distinct()
    val a = presence.select(col("cell"), col("bkt"), col("veh").as("veh_a"))
    val b = presence.select(col("cell"), col("bkt"), col("veh").as("veh_b"))
    a.join(b, Seq("cell", "bkt"))
      .filter(col("veh_a") < col("veh_b"))
      .groupBy(col("veh_a"), col("veh_b"))
      .agg(count(lit(1)).as("n_blocks"))
      .orderBy(col("n_blocks").desc, col("veh_a"), col("veh_b"))
      .limit(k)
  }

  /** Convoy detection: vehicle pairs co-located (same snapped cell,
    * same time bucket) for at least `minLen` CONSECUTIVE buckets — the
    * temporal-persistence upgrade of [[colocation]] (a chance shared
    * block is contact; a sustained run is co-movement). Pair presence
    * is deduplicated to the (pair, bucket) grain before run detection,
    * so two vehicles sharing several cells in one bucket count once.
    * Runs come from the gaps-and-islands trick (bucket − row_number is
    * constant inside a consecutive run). Output per qualifying pair:
    * (veh_a, veh_b, n_convoys, max_len, convoy_bkts).
    *
    * Scale: the [[colocation]] contract — dedup to presence first, the
    * self-join blocked on (cell, bucket) — then one pair-keyed window
    * and two pair-keyed aggregates; nothing global. */
  def convoys(pos: DataFrame, res: Int, bucketUs: Long,
              minLen: Int): DataFrame = {
    require(bucketUs > 0L && minLen >= 2)
    val presence = pos.select(col("vehicleId").as("veh"),
        hex_cell_id(col("lat"), col("lon"), res).as("cell"),
        expr(s"unix_micros(eventTs) div ${bucketUs}L").as("bkt"))
      .distinct()
    val a = presence.select(col("cell"), col("bkt"), col("veh").as("veh_a"))
    val b = presence.select(col("cell"), col("bkt"), col("veh").as("veh_b"))
    val pairBkt = a.join(b, Seq("cell", "bkt"))
      .filter(col("veh_a") < col("veh_b"))
      .select(col("veh_a"), col("veh_b"), col("bkt")).distinct()
    val w = Window.partitionBy(col("veh_a"), col("veh_b")).orderBy(col("bkt"))
    pairBkt
      .withColumn("grp", col("bkt") - row_number().over(w))
      .groupBy(col("veh_a"), col("veh_b"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .filter(col("len") >= minLen.toLong)
      .groupBy(col("veh_a"), col("veh_b"))
      .agg(count(lit(1)).as("n_convoys"), max(col("len")).as("max_len"),
        sum(col("len")).as("convoy_bkts"))
  }

  /** Stay-point detection: maximal runs of CONSECUTIVE positions (by
    * (ts, tie) within a vehicle) snapped to the same cell, kept when the
    * run spans ≥ `minStayUs`, rolled up per cell. The stop/POI-visit
    * primitive of trajectory mining. Output:
    * (cell, n_stays, stay_s, max_stay_s).
    *
    * Scale: run detection is the standard gaps-and-islands window pair
    * on the vehicle key (ONE keyed exchange); the rollup re-keys to the
    * cell. Nothing quadratic, no self-join. */
  def stayPoints(pos: DataFrame, res: Int, minStayUs: Long): DataFrame = {
    val w = Window.partitionBy(col("veh")).orderBy(col("t"), col("tie"))
    val runs = pos.select(col("vehicleId").as("veh"),
        unix_micros(col("eventTs")).as("t"), col("event_id").as("tie"),
        hex_cell_id(col("lat"), col("lon"), res).as("cell"))
      .withColumn("brk",
        when(lag(col("cell"), 1).over(w).isNull ||
          lag(col("cell"), 1).over(w) =!= col("cell"), 1L).otherwise(0L))
      .withColumn("run", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy(col("veh"), col("run"), col("cell"))
      .agg((max(col("t")) - min(col("t"))).as("dur"))
      .filter(col("dur") >= minStayUs)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_stays"),
        expr("sum(dur) div 1000000").as("stay_s"),
        expr("max(dur) div 1000000").as("max_stay_s"))
  }

  /** Location entropy per vehicle: Shannon entropy of its cell-visit
    * distribution in e6 log₂ fixed point — the predictability measure
    * of Song et al. (Science 2010)'s mobility-limits analysis.
    * H_e6 = log2e6(T) − (Σ cnt·log2e6(cnt)) div T (exact identity on
    * the shared fixed-point log₂, integer end to end). Output:
    * (veh, n_visits, n_cells, entropy_e6).
    *
    * Scale: a (veh, cell) count then a veh rollup — two map-side-
    * combinable aggregates, no windows, no joins. */
  def locationEntropy(pos: DataFrame, res: Int): DataFrame =
    pos.select(col("vehicleId").as("veh"),
        hex_cell_id(col("lat"), col("lon"), res).as("cell"))
      .groupBy(col("veh"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("veh"))
      .agg(sum(col("cnt")).as("n_visits"), count(lit(1)).as("n_cells"),
        sum(col("cnt") * Bm25.log2E6(col("cnt"))).as("clc"))
      .select(col("veh"), col("n_visits"), col("n_cells"),
        (Bm25.log2E6(col("n_visits")) -
          expr("clc div n_visits")).as("entropy_e6"))
}
