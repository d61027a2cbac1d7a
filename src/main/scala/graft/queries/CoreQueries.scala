package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.functions.{LatestPositionAgg, PosRec, ShingleGenerator}
import graft.geo.HexSql
import graft.geo.hexfunctions._
import graft.ops.TimeSeries
import graft.sink.Upsert
import graft.stream.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference pipeline's operators and their batch twins: sanitize, hex
  * snap, windowed tiles, latest-position argmax, upsert/TTL sinks, window
  * semantics, watermark and ingest audits, the stream operators' batch
  * replays, and the custom Catalyst surfaces (native Generator, typed
  * Aggregator). */
object CoreQueries extends QueryCatalog {

  import Fixtures._

  private val res = 8

  /** positions subquery + its hex-snapped extension, oracle side. */
  private val pos = Tables.positionsSql

  private val posCell = HexSql.withCellId(pos, "lat", "lon", res)

  /** Oracle-side tiles aggregate (A1 batch re-expression) used by several
    * serving queries. Null-speed injection (event_id % 7) makes the
    * count-includes-nulls vs avg-skips-nulls semantics observable. */
  private val tilesSub: String =
    s"""(SELECT cell_id,
       |        CAST(floor(epoch(eventTs) / 300) * 300 AS BIGINT) AS ws_es,
       |        CAST(floor(epoch(eventTs) / 300) * 300 + 300 AS BIGINT) AS we_es,
       |        count(*) AS cnt,
       |        round(avg(CASE WHEN event_id % 7 = 0 THEN NULL ELSE speedKmh END), 4) AS avg_speed,
       |        round(avg(lon), 4) AS avg_lon,
       |        round(avg(lat), 4) AS avg_lat
       | FROM $posCell t
       | GROUP BY cell_id, floor(epoch(eventTs) / 300))""".stripMargin

  /** Spark-side positions with the same null-speed injection. */
  private def posDf(s: SparkSession, d: String): DataFrame =
    Tables.positions(s, d).withColumn("speedKmh",
      when(col("event_id") % 7 === 0, lit(null).cast("double")).otherwise(col("speedKmh")))

  /** Spark-side tiles frame: sanitize → snap → window agg → epoch columns. */
  private def tilesDf(s: SparkSession, d: String): DataFrame = {
    val snapped = Pipeline.snap(Pipeline.sanitize(posDf(s, d)), res)
    Pipeline.tiles(snapped)
      .select(col("cellId").as("cell_id"),
        unix_timestamp(col("windowStart")).as("ws_es"),
        unix_timestamp(col("windowEnd")).as("we_es"),
        col("cnt"),
        round(col("avgSpeedKmh"), 4).as("avg_speed"),
        round(col("avgLon"), 4).as("avg_lon"),
        round(col("avgLat"), 4).as("avg_lat"))
  }

  private def latestDf(s: SparkSession, d: String): DataFrame =
    Pipeline.latestByKeyMaxBy(Pipeline.sanitize(Tables.positions(s, d)),
      Seq("event_id", "lat", "lon"))

  private val latestOracle: String =
    s"""SELECT provider, vehicleId AS vehicle_id,
       |       CAST(floor(epoch(eventTs)) AS BIGINT) AS ts_es, event_id, lat, lon
       |FROM (SELECT *, row_number() OVER (PARTITION BY provider, vehicleId
       |                                   ORDER BY eventTs DESC, event_id DESC) AS rn
       |      FROM $pos p) t
       |WHERE rn = 1""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    /* One named query per reference operator (SURVEY.md §2), each with ANSI
     * oracle SQL for the DuckDB gate. Conventions shared by Spark and oracle
     * sides so hashes match:
     *  - final columns lowercase snake_case, aggregates aliased identically
     *  - timestamps emitted as epoch-seconds BIGINT (`*_es`)
     *  - double aggregates rounded to 4 decimals on both sides
     *  - all cell math via [[graft.geo.HexGrid]] / [[HexSql]] (bit-identical) */

    // ── The flagship pipeline: parse-equivalent → sanitize → U1 snap →
    //    5-min tumbling window (W2) → A1 aggregate → P8/P9/W6 projection.
    QueryDef("q_pipeline_tiles",
      (s, d) => tilesDf(s, d)
        .withColumn("tile_key", concat(lit("city|h3r8|"), col("cell_id"), lit("|"),
          col("ws_es").cast("string")))
        .withColumn("stale_at_es", col("we_es") + lit(2700L)),
      Some(s"""SELECT *, concat('city|h3r8|', cell_id, '|', CAST(ws_es AS VARCHAR)) AS tile_key,
              |       we_es + 2700 AS stale_at_es
              |FROM $tilesSub t""".stripMargin)),

    // ── U1 in isolation: cell occupancy histogram.
    QueryDef("q_hex_snap",
      (s, d) => Pipeline.snap(Pipeline.sanitize(Tables.positions(s, d)), res)
        .groupBy(col("cellId").as("cell_id")).agg(count(lit(1)).as("cnt")),
      Some(s"SELECT cell_id, count(*) AS cnt FROM $posCell t GROUP BY cell_id")),

    // ── F1/F2 sanitize filters over injected corruption.
    QueryDef("q_sanitize",
      (s, d) => {
        val p = Tables.positions(s, d)
          .withColumn("lat", when(col("event_id") % 97 === 0, lit(null).cast("double")).otherwise(col("lat")))
          .withColumn("lon", when(col("event_id") % 89 === 1, col("lon") + 400.0).otherwise(col("lon")))
          .withColumn("provider", when(col("event_id") % 101 === 5, lit(null).cast("string")).otherwise(col("provider")))
        Pipeline.sanitize(p).groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("lat")), 4).as("sum_lat"))
      },
      Some(s"""SELECT event_type, count(*) AS cnt, round(sum(lat), 4) AS sum_lat
              |FROM (SELECT event_type,
              |             CASE WHEN event_id % 97 = 0 THEN NULL ELSE lat END AS lat,
              |             CASE WHEN event_id % 89 = 1 THEN lon + 400.0 ELSE lon END AS lon,
              |             CASE WHEN event_id % 101 = 5 THEN NULL ELSE provider END AS provider,
              |             vehicleId, eventTs
              |      FROM $pos p) t
              |WHERE provider IS NOT NULL AND vehicleId IS NOT NULL AND eventTs IS NOT NULL
              |  AND lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180
              |GROUP BY event_type""".stripMargin)),

    // ── P2-adjacent: schemaless JSON field extraction from events.props.
    QueryDef("q_json_extract",
      (s, d) => Tables.events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("value"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value")),
      Some("""SELECT CAST(regexp_extract(props, '"k": *(-?\d+)', 1) AS INTEGER) % 10 AS k_bucket,
             |       count(*) AS cnt, round(sum(value), 4) AS sum_value
             |FROM events GROUP BY 1""".stripMargin)),

    // ── A2+A3: the reference's argmax (grouped max + join-back, J1).
    QueryDef("q_latest_join",
      (s, d) => Pipeline.latestByKeyJoin(Pipeline.sanitize(Tables.positions(s, d)))
        .select(col("provider"), col("vehicleId").as("vehicle_id"),
          unix_timestamp(col("eventTs")).as("ts_es"), col("lat"), col("lon"))
        .distinct(),
      Some(s"""SELECT DISTINCT m.provider, m.vehicleId AS vehicle_id,
              |       CAST(floor(epoch(m.eventTs)) AS BIGINT) AS ts_es, p.lat, p.lon
              |FROM (SELECT provider, vehicleId, max(eventTs) AS eventTs
              |      FROM $pos g GROUP BY provider, vehicleId) m
              |LEFT JOIN $pos p ON m.provider = p.provider
              |  AND m.vehicleId = p.vehicleId AND m.eventTs = p.eventTs""".stripMargin)),

    // ── Idiomatic argmax via max_by (deterministic tie-break).
    QueryDef("q_latest_maxby",
      (s, d) => latestDf(s, d)
        .select(col("provider"), col("vehicleId").as("vehicle_id"),
          unix_timestamp(col("eventTs")).as("ts_es"), col("event_id"), col("lat"), col("lon")),
      Some(latestOracle)),

    // ── Same semantics via window row_number (third formulation).
    QueryDef("q_latest_window",
      (s, d) => {
        val w = Window.partitionBy(col("provider"), col("vehicleId"))
          .orderBy(col("eventTs").desc, col("event_id").desc)
        Pipeline.sanitize(Tables.positions(s, d))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("provider"), col("vehicleId").as("vehicle_id"),
            unix_timestamp(col("eventTs")).as("ts_es"), col("event_id"), col("lat"), col("lon"))
      },
      Some(latestOracle)),

    // ── A4+F6 (Q1 serving shape): all tiles of the latest window.
    QueryDef("q_top_window",
      (s, d) => {
        val t = tilesDf(s, d).select("cell_id", "ws_es", "cnt")
        t.join(broadcast(t.agg(max(col("ws_es")).as("mw"))), col("ws_es") === col("mw"))
          .drop("mw")
      },
      Some(s"""WITH t AS (SELECT cell_id, ws_es, cnt FROM $tilesSub x)
              |SELECT cell_id, ws_es, cnt FROM t
              |WHERE ws_es = (SELECT max(ws_es) FROM t)""".stripMargin)),

    // ── Q3: sort-desc + limit-1 (TakeOrderedAndProject).
    QueryDef("q_sort_limit",
      (s, d) => tilesDf(s, d).select("cell_id", "ws_es", "cnt")
        .orderBy(col("ws_es").desc, col("cell_id").desc).limit(1),
      Some(s"""SELECT cell_id, ws_es, cnt FROM $tilesSub t
              |ORDER BY ws_es DESC, cell_id DESC LIMIT 1""".stripMargin)),

    // ── SO1+P5+F4: schema-aligned union multiplex + routing, observed via
    //    the null-fill footprint of each leg.
    QueryDef("q_union_multiplex",
      (s, d) => {
        val t = tilesDf(s, d).withColumnRenamed("cell_id", "cellId")
        val mux = Pipeline.multiplex(t, latestDf(s, d))
        mux.groupBy(col("__part").as("part"))
          .agg(count(lit(1)).as("rows_cnt"),
            count(col("cellId")).as("with_cell"), count(col("lat")).as("with_lat"))
      },
      Some(s"""SELECT 'tiles' AS part, count(*) AS rows_cnt,
              |       count(*) AS with_cell, CAST(0 AS BIGINT) AS with_lat
              |FROM $tilesSub t
              |UNION ALL
              |SELECT 'latest' AS part, count(*) AS rows_cnt,
              |       CAST(0 AS BIGINT) AS with_cell, count(lat) AS with_lat
              |FROM ($latestOracle) l""".stripMargin)),

    // ── A5 roadmap op: re-aggregate the trailing 15-minute horizon per cell.
    QueryDef("q_range_merge",
      (s, d) => {
        val p = Pipeline.snap(Pipeline.sanitize(Tables.positions(s, d)), res)
        val mx = p.agg(max(col("eventTs")).as("mts"))
        p.join(broadcast(mx), col("eventTs") >= col("mts") - expr("interval 15 minutes"))
          .groupBy(col("cellId").as("cell_id"))
          .agg(count(lit(1)).as("cnt"), round(avg(col("speedKmh")), 4).as("avg_speed"))
      },
      Some(s"""SELECT cell_id, count(*) AS cnt, round(avg(speedKmh), 4) AS avg_speed
              |FROM $posCell t
              |WHERE eventTs >= (SELECT max(eventTs) FROM $pos m) - INTERVAL 15 MINUTE
              |GROUP BY cell_id""".stripMargin)),

    // ── W5: monotonic-guard upsert, replay-safe (epoch2 merged twice).
    QueryDef("q_upsert_merge",
      (s, d) => {
        val p = Pipeline.sanitize(Tables.positions(s, d))
        val epoch1 = p.filter(col("event_id") % 2 === 0)
        val epoch2 = p.filter(col("event_id") % 2 === 1)
        val keys = Seq("provider", "vehicleId")
        val once = Upsert.merge(epoch1, epoch2, keys, Seq("eventTs"), Seq("event_id", "lat", "lon"))
        val replayed = Upsert.merge(once, epoch2, keys, Seq("eventTs"), Seq("event_id", "lat", "lon"))
        replayed.select(col("provider"), col("vehicleId").as("vehicle_id"),
          unix_timestamp(col("eventTs")).as("ts_es"), col("event_id"), col("lat"), col("lon"))
      },
      Some(latestOracle)),

    // ── W6: TTL/retention compaction filter over stamped tiles.
    QueryDef("q_ttl_filter",
      (s, d) => {
        val t = tilesDf(s, d).withColumn("stale_at_es", col("we_es") + lit(2700L))
        t.join(broadcast(t.agg(max(col("we_es")).as("mwe"))),
            col("stale_at_es") > col("mwe") + lit(1200L))
          .select("cell_id", "ws_es", "stale_at_es")
      },
      Some(s"""WITH t AS (SELECT cell_id, ws_es, we_es + 2700 AS stale_at_es FROM $tilesSub x)
              |SELECT cell_id, ws_es, stale_at_es FROM t
              |WHERE stale_at_es > (SELECT max(stale_at_es) - 2700 FROM t) + 1200""".stripMargin)),

    // ── U2: boundary polygonization of occupied cells (posexplode = our
    //    Generator surface; corners are exact constants, no rounding).
    QueryDef("q_boundary",
      (s, d) => {
        val cells = Pipeline.snap(Pipeline.sanitize(Tables.positions(s, d)), res)
          .groupBy(col("cellId")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 3).select(col("cellId"))
        cells.select(col("cellId").as("cell_id"),
            posexplode(hex_boundary(col("cellId"))))
          .select(col("cell_id"), col("pos").as("corner_i"),
            element_at(col("col"), 1).as("lon"), element_at(col("col"), 2).as("lat"))
      },
      Some(s"""WITH cells AS (SELECT g_qi, g_ri, cell_id FROM $posCell t
              |               GROUP BY g_qi, g_ri, cell_id HAVING count(*) >= 3)
              |SELECT cell_id, i AS corner_i,
              |       ${HexSql.cornerLonSql("g_qi", "g_ri", "i", res)} AS lon,
              |       ${HexSql.cornerLatSql("g_qi", "g_ri", "i", res)} AS lat
              |FROM cells CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6)) c(i)""".stripMargin)),

    // ── Z-order spatial layout: occupied cells linearized by Morton code,
    //    bucketed into z-ranges (≈ output files) — per-bucket cell counts
    //    and z bounds show each bucket covers one contiguous spatial blob.
    QueryDef("q_zorder_layout",
      (s, d) => {
        val cells = cellCounts(s, d, res)
        cells.withColumn("z", graft.geo.ZOrder.zvalue(col("qi"), col("ri")))
          .groupBy((col("z") / lit(1L << 12)).cast("long").as("z_bucket"))
          .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_events"),
            min(col("z")).as("z_min"), max(col("z")).as("z_max"))
      },
      Some {
        val zv = graft.geo.ZOrder.zvalueSql("g_qi", "g_ri")
        s"""WITH cells AS (SELECT g_qi, g_ri, count(*) AS cnt FROM $posCell t
           |               GROUP BY g_qi, g_ri),
           |z AS (SELECT cnt, $zv AS z FROM cells)
           |SELECT z // ${1L << 12} AS z_bucket, count(*) AS n_cells,
           |       CAST(sum(cnt) AS BIGINT) AS n_events,
           |       min(z) AS z_min, max(z) AS z_max
           |FROM z GROUP BY 1""".stripMargin
      }),

    // ── Blocked fuzzy join ([[graft.ops.FuzzyJoin]]): typo'd vehicle ids
    //    resolved back to clean ids within 1 edit, candidates blocked on a
    //    2-char prefix (never cross-join).
    QueryDef("q_fuzzy_match",
      (s, d) => {
        val p = Tables.positions(s, d)
        val clean = p.select(col("vehicleId"))
        val dirty = p.filter(col("event_id") % 5 === 0)
          .select(concat(col("vehicleId"), (col("event_id") % 10).cast("string"))
            .as("vehicleId"))
        graft.ops.FuzzyJoin.byEditDistance(clean, dirty, "vehicleId")
      },
      Some(s"""WITH clean AS (SELECT DISTINCT vehicleId AS l_key,
              |                      substr(vehicleId, 1, 2) AS blk FROM $pos p),
              |dirty AS (SELECT DISTINCT concat(vehicleId, CAST(event_id % 10 AS VARCHAR)) AS r_key,
              |                 substr(concat(vehicleId, CAST(event_id % 10 AS VARCHAR)), 1, 2) AS blk
              |          FROM $pos p WHERE event_id % 5 = 0)
              |SELECT l_key, r_key, CAST(levenshtein(l_key, r_key) AS BIGINT) AS dist
              |FROM clean JOIN dirty USING (blk)
              |WHERE levenshtein(l_key, r_key) <= 1""".stripMargin)),

    // ── P12: GeoJSON Point construction (struct+array ctor, flattened for
    //    the oracle; the nested form is unit-tested).
    QueryDef("q_geojson_points",
      (s, d) => latestDf(s, d)
        .withColumn("loc", struct(lit("Point").as("type"),
          array(col("lon"), col("lat")).as("coordinates")))
        .select(col("provider"), col("vehicleId").as("vehicle_id"),
          col("loc.type").as("gj_type"),
          element_at(col("loc.coordinates"), 1).as("gj_lon"),
          element_at(col("loc.coordinates"), 2).as("gj_lat")),
      Some(s"""SELECT provider, vehicle_id, 'Point' AS gj_type,
              |       lon AS gj_lon, lat AS gj_lat FROM ($latestOracle) t""".stripMargin)),

    /* Queries exercising the custom Catalyst surfaces: native Generator
     * (UDTF) and typed Aggregator (UDAF). */

    // ── Native Generator UDTF: shingle histogram via a streamed Generate
    //    node (no per-row array materialization).
    QueryDef("q_shingle_hist",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), ShingleGenerator.shingles(col("text"), 3))
        .groupBy(col("shingle")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 3),
      Some("""SELECT shingle, count(*) AS cnt
             |FROM (SELECT doc_id,
             |             unnest(list_transform(range(1, len(ws) - 1),
             |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
             |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w
             |      WHERE len(ws) >= 3) sh
             |GROUP BY shingle HAVING count(*) >= 3""".stripMargin)),

    // ── Typed Aggregator UDAF: the FOURTH argmax formulation (after
    //    join-back, max_by, row_number) — all checked against one oracle.
    QueryDef("q_latest_aggregator",
      (s, d) => {
        import s.implicits._
        val pos = Pipeline.sanitize(Tables.positions(s, d))
          .select(col("provider"), col("vehicleId"),
            unix_micros(col("eventTs")).as("ts_us"),
            col("event_id"), col("lat"), col("lon"))
          .as[PosRec]
        pos.groupByKey(r => (r.provider, r.vehicleId))
          .agg(LatestPositionAgg.toColumn.name("m"))
          .select(col("m.provider").as("provider"),
            col("m.vehicleId").as("vehicle_id"),
            expr("m.ts_us div 1000000").as("ts_es"),
            col("m.event_id").as("event_id"), col("m.lat").as("lat"), col("m.lon").as("lon"))
      },
      Some(latestOracle)),

    // ── Bounded-heap top-k Aggregator: O(k) state per partition instead
    //    of a global sort; same oracle as the brute-force TakeOrdered form.
    QueryDef("q_sim_topk_agg",
      (s, d) => {
        import s.implicits._
        import graft.functions.{Scored, TopKAgg}
        import graft.ops.Similarity
        val e = Similarity.cast(Tables.embeddings(s, d))
        val q = e.filter(col("vec_id") === 0).select(col("ev").as("qv"))
        val scored = e.filter(col("vec_id") > 0).select(col("vec_id"), col("ev"))
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(Similarity.cosine(col("ev"), col("qv")), 6).as("cos"))
          .as[Scored]
        // the Aggregator's product output is flattened: column `items`
        scored.select(new TopKAgg(10).toColumn.name("top"))
          .select(explode(col("items")).as("x"))
          .select(col("x.vec_id").as("vec_id"), col("x.cos").as("cos"))
      },
      Some(cosineTop10Sql)),

    // ── Column-level data profiling (single-pass wide aggregation) — the
    //    pre-ingest quality gate of a training-data pipeline.
    QueryDef("q_data_profile",
      (s, d) => graft.ops.Profile.profile(Tables.events(s, d)),
      Some {
        val numeric = Map("event_id" -> true, "ts" -> false, "user_id" -> true,
          "event_type" -> false, "value" -> true, "props" -> false)
        Seq("event_id", "ts", "user_id", "event_type", "value", "props").map { c =>
          val mn = if (numeric(c)) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          val mx = if (numeric(c)) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          s"""SELECT '$c' AS col_name, count(*) AS rows_total, count($c) AS non_null,
             |       count(DISTINCT $c) AS n_distinct, $mn AS min_d, $mx AS max_d
             |FROM events""".stripMargin
        }.mkString("\nUNION ALL\n")
      }),

    // ── TypedImperativeAggregate surface: exact-distinct sketch with a
    //    serialized imperative buffer, checked against count(DISTINCT).
    QueryDef("q_distinct_sketch",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(graft.functions.ExactDistinct.exact_distinct(col("user_id")).as("dusers"),
          count(lit(1)).as("cnt")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS dusers, count(*) AS cnt
             |FROM events GROUP BY event_type""".stripMargin)),

    // ── Sliding window (10-min length, 5-min slide): every event lands in
    //    exactly two windows. Oracle: union of the two shifted tumbling
    //    assignments.
    QueryDef("q_sliding_window",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("ws_es"), col("event_type"),
          col("cnt"), col("sum_value")),
      Some("""SELECT ws_es, event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
             |FROM (SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS ws_es, event_type, value FROM events
             |      UNION ALL
             |      SELECT CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT) AS ws_es, event_type, value FROM events) t
             |GROUP BY ws_es, event_type""".stripMargin)),

    // ── Session window (30-min inactivity gap) per user. Oracle:
    //    gaps-and-islands over exact micros.
    QueryDef("q_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"), col("cnt")),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
             |s AS (SELECT user_id, t,
             |             CASE WHEN lag(t) OVER w IS NULL
             |                    OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
             |g AS (SELECT user_id, t,
             |             sum(brk) OVER (PARTITION BY user_id ORDER BY t
             |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
             |      FROM s)
             |SELECT user_id, min(t) AS start_us, max(t) + 1800000000 AS end_us,
             |       count(*) AS cnt
             |FROM g GROUP BY user_id, grp""".stripMargin)),

    // ── Daily OHLC candlesticks per event type: open/close are
    //    struct-extrema (totally ordered by the unique (ts, event_id)),
    //    so ONE map-side-combinable aggregate — no window, no sort.
    QueryDef("q_ohlc",
      (s, d) => TimeSeries.ohlc(
        Tables.events(s, d)
          .withColumn("tmicros", unix_micros(col("ts")))
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long")),
        "event_type", "tmicros", "event_id", "cents", 86400000000L),
      Some(s"""WITH b AS (
              |  SELECT event_type AS key,
              |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS bucket,
              |         $valueCents AS x,
              |         row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
              |                            ORDER BY ts, event_id) AS ra,
              |         row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
              |                            ORDER BY ts DESC, event_id DESC) AS rd
              |  FROM events)
              |SELECT key, CAST(bucket AS BIGINT) AS bucket,
              |       max(CASE WHEN ra = 1 THEN x END) AS open_cents,
              |       max(x) AS high_cents, min(x) AS low_cents,
              |       max(CASE WHEN rd = 1 THEN x END) AS close_cents,
              |       count(*) AS n_events
              |FROM b GROUP BY 1, 2""".stripMargin)),

    /* Watermark-lateness audit — the batch replay of the
     * reference's 10-minute watermark admission rule
     * (`heatmap_stream.py:107`) over the events feed. */

    // ── Would a 10-min watermark drop anything? Replay per event type in
    //    event_id (producer append) order.
    QueryDef("q_watermark_audit",
      (s, d) => TimeSeries.watermarkAudit(
        Tables.events(s, d), "event_type", "ts", "event_id",
        delayUs = 600L * 1000000L),
      Some("""WITH e AS (
             |  SELECT event_type AS k, epoch_us(ts) AS t_us,
             |         event_id AS seq
             |  FROM events),
             |wm AS (
             |  SELECT k, t_us,
             |         max(t_us) OVER (PARTITION BY k ORDER BY seq
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |           - 600000000 AS wm_us
             |  FROM e),
             |l AS (
             |  SELECT k,
             |         CASE WHEN wm_us IS NULL THEN 0
             |              ELSE greatest(wm_us - t_us, 0) END AS late_us
             |  FROM wm)
             |SELECT k, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CASE WHEN late_us = 0 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_kept,
             |       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_dropped,
             |       CAST(max(late_us) // 1000000 AS BIGINT) AS max_late_s
             |FROM l GROUP BY k""".stripMargin)),

    // ── Event-time disorder histogram: lateness = running-max event
    //    time in ARRIVAL order minus own event time, banded per type.
    //    The shared events table is perfectly time-sorted (zero native
    //    disorder — verified), so arrival order models a jittering
    //    producer deterministically: each event arrives at
    //    t + hash(event_id) mod 600 seconds (a Knuth multiplicative
    //    hash — portable integer arithmetic on both engines). The
    //    distribution behind any watermark choice (q_watermark_audit
    //    answers for ONE delay; this shows the whole curve). One keyed
    //    window + one tiny aggregate.
    QueryDef("q_lateness_histogram",
      (s, d) => {
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("t"))
          .withColumn("arr",
            expr("t + (event_id * 2654435761 % 600) * 1000000"))
          .withColumn("late_s",
            expr("(max(t) OVER (PARTITION BY event_type "
              + "ORDER BY arr, event_id "
              + "ROWS UNBOUNDED PRECEDING) - t) div 1000000"))
          .withColumn("band",
            when(col("late_s") === 0, "0_ontime")
              .when(col("late_s") <= 60, "1_le_1m")
              .when(col("late_s") <= 300, "2_le_5m")
              .when(col("late_s") <= 600, "3_le_10m")
              .when(col("late_s") <= 1800, "4_le_30m")
              .otherwise("5_gt_30m"))
          .groupBy(col("event_type"), col("band"))
          .agg(count(lit(1)).as("cnt"), max(col("late_s")).as("max_late_s"))
      },
      Some("""WITH a AS (
             |  SELECT event_type, event_id, epoch_us(ts) AS t,
             |         epoch_us(ts) + (event_id * 2654435761 % 600) * 1000000
             |           AS arr
             |  FROM events),
             |l AS (
             |  SELECT event_type,
             |         (max(t) OVER (PARTITION BY event_type
             |            ORDER BY arr, event_id ROWS UNBOUNDED PRECEDING)
             |          - t) // 1000000 AS late_s
             |  FROM a),
             |b AS (
             |  SELECT event_type, late_s,
             |         CASE WHEN late_s = 0 THEN '0_ontime'
             |              WHEN late_s <= 60 THEN '1_le_1m'
             |              WHEN late_s <= 300 THEN '2_le_5m'
             |              WHEN late_s <= 600 THEN '3_le_10m'
             |              WHEN late_s <= 1800 THEN '4_le_30m'
             |              ELSE '5_gt_30m' END AS band
             |  FROM l)
             |SELECT event_type, band, CAST(count(*) AS BIGINT) AS cnt,
             |       CAST(max(late_s) AS BIGINT) AS max_late_s
             |FROM b GROUP BY 1, 2""".stripMargin)),

    // ── Token-bucket admission replay per user: cap 3 tokens, one
    //    token per DAY of accumulated gap, one token per event — tuned
    //    so this corpus (~2.2 events/user/day) exercises BOTH branches
    //    (roughly half admitted, half rejected). The fold state is a
    //    packed long; both engines replay the identical fold.
    QueryDef("q_token_bucket",
      (s, d) => TimeSeries.tokenBucketReplay(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_id", 3L, 86400L),
      // Constants: tok = 86400e6 µs (one token), cap = 3 tok =
      // 259200000000 µs, packed scale 2^40 = 1099511627776.
      Some("""WITH e AS (
             |  SELECT user_id AS key, epoch_us(ts) AS t, event_id AS tie
             |  FROM events),
             |g AS (
             |  SELECT key, t, tie,
             |         coalesce(t - lag(t) OVER (PARTITION BY key
             |                    ORDER BY t, tie), 0) AS dt
             |  FROM e),
             |f AS (
             |  SELECT key, count(*) AS n_events,
             |         list_reduce(
             |           list_prepend(CAST(259200000000 AS BIGINT),
             |                        list(dt ORDER BY t, tie)),
             |           (acc, x) -> CASE
             |             WHEN least(259200000000, acc % 1099511627776 + x)
             |                  >= 86400000000
             |             THEN (acc // 1099511627776 + 1) * 1099511627776
             |                  + least(259200000000,
             |                          acc % 1099511627776 + x)
             |                  - 86400000000
             |             ELSE (acc // 1099511627776) * 1099511627776
             |                  + least(259200000000,
             |                          acc % 1099511627776 + x)
             |           END) AS st
             |  FROM g GROUP BY key)
             |SELECT key, CAST(n_events AS BIGINT) AS n_events,
             |       CAST(st // 1099511627776 AS BIGINT) AS admitted,
             |       CAST(n_events - st // 1099511627776 AS BIGINT)
             |         AS rejected,
             |       CAST((st % 1099511627776) // 86400000000 AS BIGINT)
             |         AS tokens_left
             |FROM f""".stripMargin)),

    // ── CDC replay: op stream keyed by user bucket, every 10th event a
    //    DELETE tombstone, last-writer-wins on (ts, event_id).
    QueryDef("q_cdc_replay",
      (s, d) => {
        val log = Tables.events(s, d).select(
          (col("user_id") % 200).as("k"),
          expr("unix_micros(ts)").as("t"), col("event_id").as("eid"),
          when(col("event_id") % 10 === 0, "D").otherwise("U").as("op"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        val w = Window.partitionBy(col("k"))
        log
          .withColumn("rn", row_number().over(
            w.orderBy(col("t").desc, col("eid").desc)))
          .withColumn("n_ops", count(lit(1)).over(w))
          .withColumn("n_deletes",
            sum(when(col("op") === "D", 1L).otherwise(0L)).over(w))
          .where(col("rn") === 1 && col("op") =!= "D")
          .select(col("k"), col("n_ops"), col("n_deletes"),
            col("v").as("final_cents"), col("eid").as("last_eid"))
      },
      Some("""WITH log AS (
             |  SELECT user_id % 200 AS k, epoch_us(ts) AS t,
             |         event_id AS eid,
             |         CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
             |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
             |  FROM events),
             |wnd AS (
             |  SELECT *, row_number() OVER (PARTITION BY k
             |           ORDER BY t DESC, eid DESC) AS rn,
             |         CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n_ops,
             |         CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY k) AS BIGINT) AS n_deletes
             |  FROM log)
             |SELECT k, n_ops, n_deletes, v AS final_cents, eid AS last_eid
             |FROM wnd WHERE rn = 1 AND op <> 'D'""".stripMargin)),

    // ── Tombstone GC: a delete is collectible iff it is its key's LAST
    //    op AND older than the global watermark (max ts − 7 days).
    QueryDef("q_tombstone_gc",
      (s, d) => {
        val log = Tables.events(s, d).select(
          (col("user_id") % 200).as("k"),
          expr("unix_micros(ts)").as("t"), col("event_id").as("eid"),
          when(col("event_id") % 10 === 0, "D").otherwise("U").as("op"))
        val wm = log.agg((max(col("t")) - 7L * 86400000000L).as("wm"))
        log
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("k"))
              .orderBy(col("t").desc, col("eid").desc)))
          .where(col("rn") === 1 && col("op") === "D")
          .crossJoin(broadcast(wm))
          .groupBy()
          .agg(count(lit(1)).as("n_tombstones"),
            sum(when(col("t") < col("wm"), 1L).otherwise(0L))
              .as("n_collectible"),
            min(col("t")).as("oldest_t_us"), max(col("wm")).as("wm_us"))
      },
      Some("""WITH log AS (
             |  SELECT user_id % 200 AS k, epoch_us(ts) AS t,
             |         event_id AS eid,
             |         CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END
             |           AS op
             |  FROM events),
             |wm AS (SELECT max(t) - 604800000000 AS wm FROM log),
             |last AS (SELECT * FROM (
             |           SELECT *, row_number() OVER (PARTITION BY k
             |             ORDER BY t DESC, eid DESC) AS rn FROM log)
             |         WHERE rn = 1 AND op = 'D')
             |SELECT CAST(count(*) AS BIGINT) AS n_tombstones,
             |       CAST(sum(CASE WHEN t < wm THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_collectible,
             |       CAST(min(t) AS BIGINT) AS oldest_t_us,
             |       CAST(max(wm) AS BIGINT) AS wm_us
             |FROM last CROSS JOIN wm""".stripMargin)),

    // ── Idempotent ingest: replay every 13th event, dedup on
    //    (producer, sequence) keeping the FIRST arrival; report the
    //    drop count per producer.
    QueryDef("q_idempotent_ingest",
      (s, d) => {
        val base = Tables.events(s, d).select(
          (col("user_id") % 3).as("producer"), col("event_id").as("seq"),
          expr("unix_micros(ts)").as("t"), lit(0L).as("replay"))
        val replayed = base.where(col("seq") % 13 === 0)
          .withColumn("replay", lit(1L))
        val all = base.unionByName(replayed)
        all
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("producer"), col("seq"))
              .orderBy(col("replay"), col("t"))))
          .groupBy(col("producer"))
          .agg(count(lit(1)).as("n_arrivals"),
            sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_accepted"),
            sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"))
          .withColumn("dup_rate_e6",
            expr("n_dropped * 1000000 div n_arrivals"))
      },
      Some("""WITH base AS (
             |  SELECT user_id % 3 AS producer, event_id AS seq,
             |         epoch_us(ts) AS t, 0 AS replay
             |  FROM events),
             |allv AS (
             |  SELECT * FROM base
             |  UNION ALL
             |  SELECT producer, seq, t, 1 FROM base WHERE seq % 13 = 0),
             |r AS (SELECT producer,
             |             row_number() OVER (PARTITION BY producer, seq
             |               ORDER BY replay, t) AS rn
             |      FROM allv)
             |SELECT producer, CAST(count(*) AS BIGINT) AS n_arrivals,
             |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_accepted,
             |       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_dropped,
             |       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |         * 1000000 // count(*) AS dup_rate_e6
             |FROM r GROUP BY 1""".stripMargin)),

    // ── Watermark advisor: lateness vs the running high-watermark in
    //    arrival order (the q_lateness_histogram skew convention);
    //    positional p50/p95/p99 + the share beyond p99.
    QueryDef("q_watermark_advisor",
      (s, d) => {
        val late = Tables.events(s, d)
          .select(col("event_type").as("et"), col("event_id").as("eid"),
            expr("unix_micros(ts)").as("t"))
          .withColumn("arr",
            expr("t + (eid * 2654435761 % 600) * 1000000"))
          .withColumn("late_s",
            expr("(max(t) OVER (PARTITION BY et ORDER BY arr, eid " +
              "ROWS UNBOUNDED PRECEDING) - t) div 1000000"))
          .localCheckpoint(false) // reused: 3 percentile picks + tail frac
        val w = Window.partitionBy(col("et"))
        val ranked = late
          .withColumn("rn", row_number().over(
            w.orderBy(col("late_s"), col("eid"))))
          .withColumn("n", count(lit(1)).over(w))
        def pick(p: Int, nm: String) = ranked
          .where(col("rn") === expr(s"($p * n + 99) div 100"))
          .select(col("et"), col("n"), col("late_s").as(nm))
        val ps = pick(50, "p50_s").join(pick(95, "p95_s"), Seq("et", "n"))
          .join(pick(99, "p99_s"), Seq("et", "n"))
        late.join(broadcast(ps), "et")
          .groupBy(col("et"), col("n"), col("p50_s"), col("p95_s"),
            col("p99_s"))
          .agg(sum(when(col("late_s") > col("p99_s"), 1L).otherwise(0L))
            .as("n_beyond"))
          .withColumn("beyond_e6", expr("n_beyond * 1000000 div n"))
      },
      Some {
        def pick(p: Int, nm: String) =
          s"""p$p AS (SELECT et, n, late_s AS $nm FROM ranked
             |        WHERE rn = ($p * n + 99) // 100)""".stripMargin
        s"""WITH late AS (
           |  SELECT et, eid, (max(t) OVER (PARTITION BY et ORDER BY arr,
           |    eid ROWS UNBOUNDED PRECEDING) - t) // 1000000 AS late_s
           |  FROM (SELECT event_type AS et, event_id AS eid,
           |               epoch_us(ts) AS t,
           |               epoch_us(ts) + (event_id * 2654435761 % 600)
           |                 * 1000000 AS arr
           |        FROM events)),
           |ranked AS (SELECT et, late_s,
           |                  row_number() OVER (PARTITION BY et
           |                    ORDER BY late_s, eid) AS rn,
           |                  CAST(count(*) OVER (PARTITION BY et)
           |                    AS BIGINT) AS n
           |           FROM late),
           |${pick(50, "p50_s")},
           |${pick(95, "p95_s")},
           |${pick(99, "p99_s")},
           |ps AS (SELECT p50.et, p50.n, p50_s, p95_s, p99_s
           |       FROM p50 JOIN p95 ON p50.et = p95.et
           |            JOIN p99 ON p50.et = p99.et)
           |SELECT late.et, n, p50_s, p95_s, p99_s,
           |       CAST(sum(CASE WHEN late_s > p99_s THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_beyond,
           |       CAST(sum(CASE WHEN late_s > p99_s THEN 1 ELSE 0 END)
           |         AS BIGINT) * 1000000 // n AS beyond_e6
           |FROM late JOIN ps ON late.et = ps.et
           |GROUP BY 1, 2, 3, 4, 5""".stripMargin
      }),

    // ── StreamDedup.firstPerKey batch twin: deterministic FIRST event
    //    per user (argmin by event time, event_id tiebreak) — one keyed
    //    aggregate with map-side combine; the struct-min is the same
    //    argmax trick as q_latest_maxby, flipped. Streaming keeps one
    //    row per key in the state store; batch reduces to it exactly.
    QueryDef("q_first_per_key",
      (s, d) => Tables.events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("event_id"), col("event_type"))
        .groupBy(col("user_id"))
        .agg(min(struct(col("t_us"), col("event_id"), col("event_type")))
          .as("f"))
        .select(col("user_id"), col("f.t_us").as("first_t_us"),
          col("f.event_id").as("first_event_id"),
          col("f.event_type").as("first_event_type")),
      Some("""SELECT user_id, t_us AS first_t_us,
             |       event_id AS first_event_id,
             |       event_type AS first_event_type
             |FROM (SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type,
             |             row_number() OVER (PARTITION BY user_id
             |               ORDER BY epoch_us(ts), event_id) AS rn
             |      FROM events)
             |WHERE rn = 1""".stripMargin)),

    // ── StreamTopK (Misra–Gries) batch twin: the exact per-key top-5
    //    heavy hitters with the MG capacity-7 GUARANTEE flag — a value
    //    is guaranteed tracked by the stream summary iff
    //    cnt·(capacity+1) > N(key). The stream emits under-estimates of
    //    exactly these counts; this is the ground truth it approximates.
    //    Scale: two keyed aggregates + a top-k window per key — no
    //    all-values state anywhere.
    QueryDef("q_mg_guarantee",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type").as("k"), (col("user_id") % 50).as("v"))
        val cnt = e.groupBy(col("k"), col("v")).agg(count(lit(1)).as("cnt"))
        val tot = cnt.groupBy(col("k")).agg(sum(col("cnt")).as("n"))
        cnt.join(tot, "k")
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("k"))
              .orderBy(col("cnt").desc, col("v"))))
          .where(col("rk") <= 5)
          .select(col("k").as("key"), col("v").as("value"),
            col("cnt"), col("n"), col("rk"),
            (col("cnt") * 8 > col("n")).as("mg_guaranteed"))
      },
      Some("""WITH c AS (SELECT event_type AS k, user_id % 50 AS v,
             |                  CAST(count(*) AS BIGINT) AS cnt
             |           FROM events GROUP BY 1, 2),
             |t AS (SELECT k, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1)
             |SELECT k AS key, v AS value, cnt, n, rk,
             |       cnt * 8 > n AS mg_guaranteed
             |FROM (SELECT c.k, c.v, c.cnt, t.n,
             |             CAST(row_number() OVER (PARTITION BY c.k
             |               ORDER BY c.cnt DESC, c.v) AS BIGINT) AS rk
             |      FROM c JOIN t ON c.k = t.k)
             |WHERE rk <= 5""".stripMargin)),

    /* OHLC candles (`q_ohlc_candles`): per (event_type, day) open/high/
     * low/close/volume via rank windows with a unique total order
     * (ts, event_id) — the batch twin of [[graft.stream.StreamOhlc]],
     * and the argmax form the verify recipe mandates (DuckDB struct-max
     * goes superlinear at sf0.1; engine-arbitrary max_by ties can't
     * happen under a unique key but rank windows make that structural). */
    // ── Daily OHLC candles per event type: open/close via rank windows
    //    over the unique (ts, event_id) order (never struct-max — the
    //    DuckDB superlinear trap), high/low/volume/amount from the same
    //    keyed shuffle. Batch twin of stream.StreamOhlc.
    QueryDef("q_ohlc_candles",
      (s, d) => {
        val base = Tables.events(s, d).selectExpr(
          "event_type AS sym",
          "unix_micros(ts) div 86400000000 AS day",
          "unix_micros(ts) AS t", "event_id AS eid",
          "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents")
        val grp = Window.partitionBy(col("sym"), col("day"))
        base
          .withColumn("ra", row_number().over(
            grp.orderBy(col("t"), col("eid"))))
          .withColumn("rd", row_number().over(
            grp.orderBy(col("t").desc, col("eid").desc)))
          .groupBy(col("sym"), col("day"))
          .agg(max(when(col("ra") === 1, col("cents"))).as("open_c"),
            max(col("cents")).as("high_c"),
            min(col("cents")).as("low_c"),
            max(when(col("rd") === 1, col("cents"))).as("close_c"),
            count(lit(1)).as("volume"),
            sum(col("cents")).as("amount_c"))
      },
      Some("""WITH base AS (
             |  SELECT event_type AS sym,
             |         epoch_us(ts) // 86400000000 AS day,
             |         epoch_us(ts) AS t, event_id AS eid,
             |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
             |  FROM events),
             |r AS (SELECT *,
             |        row_number() OVER (PARTITION BY sym, day
             |          ORDER BY t, eid) AS ra,
             |        row_number() OVER (PARTITION BY sym, day
             |          ORDER BY t DESC, eid DESC) AS rd
             |      FROM base)
             |SELECT sym, day,
             |       CAST(max(CASE WHEN ra = 1 THEN cents END) AS BIGINT)
             |         AS open_c,
             |       CAST(max(cents) AS BIGINT) AS high_c,
             |       CAST(min(cents) AS BIGINT) AS low_c,
             |       CAST(max(CASE WHEN rd = 1 THEN cents END) AS BIGINT)
             |         AS close_c,
             |       CAST(count(*) AS BIGINT) AS volume,
             |       CAST(sum(cents) AS BIGINT) AS amount_c
             |FROM r GROUP BY 1, 2""".stripMargin))
  )
}
