package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Stats, TimeSeries, Viterbi}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Series regularization, decomposition and shape: resampling and gap fill,
  * seasonal profiles and decomposition, smoothing filters, symbolic and PAA
  * representations, motifs and discords, and hidden-state decoding. */
object SeriesShapeQueries extends QueryCatalog {

  import Fixtures._

  private val N = 7   // PAA frames
  private val W = 2   // Sakoe–Chiba band half-width

  /** DTW cell expressions in anti-diagonal order: (name, expr). */
  private val dtwCells: Seq[(String, String)] = {
    def valid(i: Int, j: Int) =
      i >= 1 && j >= 1 && i <= N && j <= N && math.abs(i - j) <= W
    for {
      k <- 2 to 2 * N
      i <- 1 to N
      j = k - i
      if valid(i, j)
    } yield {
      val prev = Seq((i - 1, j), (i, j - 1), (i - 1, j - 1))
        .filter { case (a, b) => valid(a, b) }
        .map { case (a, b) => s"d_${a}_$b" }
      val base = s"abs(a$i - b$j)"
      val e =
        if (prev.isEmpty) base
        else if (prev.size == 1) s"$base + ${prev.head}"
        else s"$base + least(${prev.mkString(", ")})"
      (s"d_${i}_$j", e)
    }
  }

  /** PAA pivot per key: 7 frames of 4-day truncated means over the
    * first 28 days (keys with fewer days drop). */
  private def paa(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
    daily.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 28)
      .groupBy(col("k"), expr("(rn - 1) div 4").as("f"))
      .agg(expr("sum(c) div 4").as("pa"), count(lit(1)).as("nf"))
      .groupBy(col("k"))
      .agg(sum(col("nf")).as("nd"), (0 until N).map(f =>
        min(when(col("f") === f, col("pa"))).as(s"p${f + 1}")): _*)
      .filter(col("nd") === 28)
  }

  private val paaSql =
    s"""(WITH $eventTypeDailySql,
       |r AS (SELECT k, c, row_number() OVER (PARTITION BY k ORDER BY day)
       |        AS rn FROM daily),
       |fr AS (SELECT k, (rn - 1) // 4 AS f, sum(c) // 4 AS pa,
       |              count(*) AS nf
       |       FROM r WHERE rn <= 28 GROUP BY 1, 2)
       |SELECT k, ${(0 until N).map(f =>
           s"min(CASE WHEN f = $f THEN pa END) AS p${f + 1}").mkString(", ")}
       |FROM fr GROUP BY k HAVING sum(nf) = 28)""".stripMargin

  private val m = 7 // subsequence length (days)

  private def windowsDf(s: org.apache.spark.sql.SparkSession, d: String) = {
    val daily = eventsPerDay(s, d)
    val ord = Window.orderBy(col("day"))
    val leads = (1 until m).foldLeft(
      daily.withColumn("i", row_number().over(ord))
        .withColumn("v0", col("c"))) { (df, k) =>
      df.withColumn(s"v$k", lead(col("c"), k).over(ord))
    }
    leads.where(col(s"v${m - 1}").isNotNull)
      .select(Seq(col("day"), col("i")) ++
        (0 until m).map(k => col(s"v$k")): _*)
      .localCheckpoint(false) // both pair sides
  }

  private def windowsSql: String = {
    val leads = (1 until m).map(k =>
      s"lead(c, $k) OVER (ORDER BY day) AS v$k").mkString(", ")
    s"""daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |                CAST(count(*) AS BIGINT) AS c
       |          FROM events GROUP BY 1),
       |w0 AS (SELECT day, row_number() OVER (ORDER BY day) AS i,
       |              c AS v0, $leads
       |       FROM daily),
       |w AS (SELECT * FROM w0 WHERE v${m - 1} IS NOT NULL)""".stripMargin
  }

  private def d2Sql(a: String, b: String) = (0 until m).map(k =>
    s"($a.v$k - $b.v$k) * ($a.v$k - $b.v$k)").mkString(" + ")

  // 2-state HMM parameters, log2-prob e6 (fixed literals both engines):
  // T = [[0.9, 0.1], [0.3, 0.7]], E[s=0] = [0.8, 0.2], E[s=1] = [0.25,
  // 0.75], pi = [0.5, 0.5].
  private val T00 = -152003L; private val T01 = -3321928L

  private val T10 = -1736966L; private val T11 = -514573L
  private val E00 = -321928L; private val E01 = -2321928L
  private val E10 = -2000000L; private val E11 = -415037L
  private val PI = -1000000L
  /** The Viterbi observation sequence: per day (in dense order `idx`
    * from 0) whether its event count n beats the integer mean (o). */
  private def highDayObs(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .selectExpr("unix_micros(ts) div 86400000000 AS day")
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val tot = daily.agg(expr("sum(n) div count(1)").as("mean_n"))
    daily.crossJoin(broadcast(tot))
      .withColumn("o", (col("n") > col("mean_n")).cast("long"))
      .withColumn("idx", row_number().over(Window.orderBy(col("day"))) - 1)
  }

  /** DuckDB twin of [[highDayObs]]: CTEs `daily`, `tot`, `obs` (idx, o). */
  private val highDayObsSql =
    """daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) // count(*) AS mean_n
      |        FROM daily),
      |obs AS (SELECT row_number() OVER (ORDER BY day) - 1 AS idx,
      |               CASE WHEN n > mean_n THEN 1 ELSE 0 END AS o
      |        FROM daily CROSS JOIN tot)""".stripMargin

  /** DuckDB twin of the 5-minute resample per user group (user_id % 3)
    * and its dense bucket grid: CTEs `r` (grp, bucket_es, cnt, avg_e4),
    * `span`, `spine` (grp, bucket_es). */
  private val groupSpineSql =
    """r AS (SELECT user_id % 3 AS grp,
      |                  (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS bucket_es,
      |                  count(*) AS cnt,
      |                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 100
      |                       // count(*) AS BIGINT) AS avg_e4
      |           FROM events GROUP BY 1, 2),
      |span AS (SELECT grp, min(bucket_es) AS b0, max(bucket_es) AS b1 FROM r GROUP BY 1),
      |spine AS (SELECT grp, unnest(range(b0, b1 + 300, 300)) AS bucket_es FROM span)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Resample events to a dense 5-min grid per user-group with
    //    forward-filled averages ([[graft.ops.TimeSeries]]).
    QueryDef("q_resample_fill",
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("grp", col("user_id") % 3)
        graft.ops.TimeSeries.fillGaps(
          graft.ops.TimeSeries.resample(ev, "grp", "ts", "value", 300L), "grp", 300L)
      },
      Some(s"""WITH $groupSpineSql,
             |j AS (SELECT s.grp, s.bucket_es, coalesce(r.cnt, 0) AS cnt, r.avg_e4
             |      FROM spine s LEFT JOIN r USING (grp, bucket_es))
             |SELECT grp, bucket_es, cnt,
             |       last_value(avg_e4 IGNORE NULLS) OVER (PARTITION BY grp ORDER BY bucket_es
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_filled_e4
             |FROM j""".stripMargin)),

    // ── Linear-interpolation gap fill ([[TimeSeries.interpolate]]): the
    //    forward-fill resample's sibling, with the one division done as
    //    floor(double) — exact while products stay under 2^53, identical
    //    under both engines' division semantics (truncating integer div
    //    would disagree with floor div on negative slopes).
    QueryDef("q_resample_interp",
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("grp", col("user_id") % 3)
        TimeSeries.interpolate(
          TimeSeries.resample(ev, "grp", "ts", "value", 300L), "grp", 300L)
      },
      Some(s"""WITH $groupSpineSql,
             |j AS (SELECT s.grp, s.bucket_es, coalesce(r.cnt, 0) AS cnt, r.avg_e4,
             |             CASE WHEN r.avg_e4 IS NOT NULL THEN s.bucket_es END AS obs_es
             |      FROM spine s LEFT JOIN r USING (grp, bucket_es)),
             |w AS (SELECT grp, bucket_es, cnt,
             |        last_value(avg_e4 IGNORE NULLS) OVER (PARTITION BY grp ORDER BY bucket_es
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
             |        last_value(obs_es IGNORE NULLS) OVER (PARTITION BY grp ORDER BY bucket_es
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
             |        first_value(avg_e4 IGNORE NULLS) OVER (PARTITION BY grp ORDER BY bucket_es
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
             |        first_value(obs_es IGNORE NULLS) OVER (PARTITION BY grp ORDER BY bucket_es
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
             |      FROM j)
             |SELECT grp, bucket_es, cnt,
             |       CASE WHEN t0 IS NULL THEN v1
             |            WHEN t1 IS NULL OR t1 = t0 THEN v0
             |            ELSE v0 + CAST(floor(CAST((v1 - v0) * (bucket_es - t0) AS DOUBLE)
             |                                 / CAST(t1 - t0 AS DOUBLE)) AS BIGINT) END AS interp_e4
             |FROM w""".stripMargin)),

    // ── Per-type time-weighted average of event values: each value is
    //    weighted by its dwell time to the next event (seconds).
    QueryDef("q_time_weighted_avg",
      (s, d) => TimeSeries.timeWeightedAvg(
        eventsTimedCents(s, d),
        "event_type", "t_us", "event_id", "cents"),
      Some("""WITH e AS (SELECT event_type AS key, epoch_us(ts) AS t, event_id,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
             |g AS (SELECT key, c,
             |        lead(t) OVER (PARTITION BY key ORDER BY t, event_id) // 1000000
             |          - t // 1000000 AS dt_s
             |      FROM e)
             |SELECT key, CAST(sum(c * dt_s) // nullif(sum(dt_s), 0) AS BIGINT) AS twa_cents,
             |       CAST(sum(dt_s) AS BIGINT) AS dwell_s,
             |       CAST(count(*) AS BIGINT) AS n_spans
             |FROM g WHERE dt_s IS NOT NULL GROUP BY key""".stripMargin)),

    // ── Day-of-week seasonal profile of event values per type: per-dow
    //    truncated mean + cross-multiplied seasonal lift.
    QueryDef("q_seasonal_profile",
      (s, d) => TimeSeries.seasonalProfile(
        eventsTimedCents(s, d),
        "event_type", "t_us", "cents"),
      Some("""WITH e AS (SELECT event_type AS key,
             |                 ((epoch_us(ts) // 86400000000) + 3) % 7 AS dow,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
             |           FROM events),
             |pd AS (SELECT key, dow, CAST(count(*) AS BIGINT) AS n,
             |              CAST(sum(c) AS BIGINT) AS s
             |       FROM e GROUP BY key, dow),
             |pk AS (SELECT key, CAST(count(*) AS BIGINT) AS n_all,
             |              CAST(sum(c) AS BIGINT) AS s_all
             |       FROM e GROUP BY key)
             |SELECT pd.key, pd.dow, pd.n, pd.s // pd.n AS mean_cents,
             |       CAST((CAST(pd.s AS HUGEINT) * pk.n_all * 1000000)
             |            // (CAST(pd.n AS HUGEINT) * pk.s_all) AS BIGINT) AS lift_e6
             |FROM pd JOIN pk ON pk.key = pd.key""".stripMargin)),

    // ── SAX symbolization of each type's daily series: PAA over 4-day
    //    frames, quartile-coded against the series' own breakpoints
    //    (integer-exact, no z-normalization), concatenated in time
    //    order into a shape fingerprint string.
    QueryDef("q_sax",
      (s, d) => TimeSeries.saxSymbols(eventsDaily(s, d), "event_type"),
      Some(s"""$eventsDailySql,
              |f AS (SELECT event_type, t // 4 AS frame,
              |             CAST(sum(v) // count(*) AS BIGINT) AS paa
              |      FROM s GROUP BY 1, 2),
              |q AS (SELECT event_type, frame,
              |             ntile(4) OVER (PARTITION BY event_type
              |                            ORDER BY paa, frame) AS q FROM f),
              |sym AS (SELECT event_type, frame,
              |               CASE q WHEN 1 THEN 'a' WHEN 2 THEN 'b'
              |                      WHEN 3 THEN 'c' ELSE 'd' END AS sym FROM q)
              |SELECT event_type, CAST(count(*) AS BIGINT) AS n_frames,
              |       string_agg(sym, '' ORDER BY frame) AS sax
              |FROM sym GROUP BY 1""".stripMargin)),

    // ── MATCH_RECOGNIZE-style row patterns over the daily series:
    //    strict V-shapes (prev > v < next) with maximal depth, and the
    //    longest strictly-decreasing run (gaps-and-islands in the
    //    oracle; a struct-accumulator fold on the engine side).
    QueryDef("q_pattern_vshape",
      (s, d) => TimeSeries.vShapeRuns(eventsDaily(s, d), "event_type"),
      Some(s"""$eventsDailySql,
              |w AS (SELECT event_type, t, v,
              |             lag(v) OVER w1 AS pv, lead(v) OVER w1 AS nv
              |      FROM s WINDOW w1 AS (PARTITION BY event_type ORDER BY t)),
              |dd AS (SELECT *,
              |              (pv IS NOT NULL AND nv IS NOT NULL
              |               AND pv > v AND nv > v) AS vmin,
              |              (pv IS NOT NULL AND v < pv) AS down FROM w),
              |isl AS (SELECT event_type, t, down,
              |               sum(CASE WHEN down THEN 0 ELSE 1 END)
              |                 OVER (PARTITION BY event_type ORDER BY t) AS grp
              |        FROM dd),
              |runs AS (SELECT event_type, grp,
              |                count(*) FILTER (WHERE down) AS len
              |         FROM isl GROUP BY 1, 2),
              |base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_points,
              |                CAST(count(*) FILTER (WHERE vmin) AS BIGINT) AS n_vshapes,
              |                CAST(max(CASE WHEN vmin THEN least(pv, nv) - v END) AS BIGINT) AS max_v_depth
              |         FROM dd GROUP BY 1),
              |lr AS (SELECT event_type, CAST(max(len) AS BIGINT) AS longest_down_run
              |       FROM runs GROUP BY 1)
              |SELECT base.*, lr.longest_down_run
              |FROM base JOIN lr USING (event_type)""".stripMargin)),

    // ── Burstiness: Fano factor (variance/mean) of daily event counts
    //    per type — all integer, one truncating division.
    QueryDef("q_burstiness",
      (s, d) => TimeSeries.fanoFactor(
        Tables.events(s, d)
          .withColumn("day", expr("unix_micros(ts) div 86400000000L")),
        "event_type", "day"),
      Some("""WITH c AS (
             |  SELECT event_type AS key,
             |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             |         count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |m AS (SELECT key, count(*) AS n, sum(c) AS s, sum(c * c) AS q
             |      FROM c GROUP BY key)
             |SELECT key, CAST(n AS BIGINT) AS n_buckets,
             |       CAST((n * q - s * s) * 1000000 // (n * s) AS BIGINT) AS fano_e6
             |FROM m""".stripMargin)),

    // ── Seasonal strength: per event type, eta² of the day-of-week
    //    classes over the daily count series (1 − Var(resid)/Var(x)
    //    of the seasonal-means model).
    QueryDef("q_seasonal_strength",
      (s, d) => Stats.etaSquared(
        Tables.events(s, d)
          .withColumn("day", expr("unix_micros(ts) div 86400000000L"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("c"))
          .select(col("event_type").as("key"),
            pmod(col("day"), lit(7L)).as("cls"), col("c")),
        "key", "cls", "c"),
      Some("""WITH dd AS (
             |  SELECT event_type AS key,
             |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             |         count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |cells AS (SELECT key, day % 7 AS cls, count(*) AS n_g,
             |                 sum(c) AS s_g, sum(c * c) AS q_g
             |          FROM dd GROUP BY 1, 2),
             |terms AS (SELECT key, n_g, s_g, q_g,
             |            CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
             |                 CAST(n_g AS DOUBLE) + CAST('0.5' AS DOUBLE))
             |                 AS BIGINT) AS term_c2
             |          FROM cells),
             |agg AS (SELECT key, count(*) AS k, sum(n_g) AS n, sum(s_g) AS s,
             |               sum(q_g) AS q, sum(term_c2) AS ssb_raw
             |        FROM terms GROUP BY key),
             |fin AS (SELECT key, CAST(k AS BIGINT) AS k_classes,
             |          CAST(n AS BIGINT) AS n,
             |          CAST(ssb_raw - CAST(floor(CAST(s AS DOUBLE) *
             |               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) +
             |               CAST('0.5' AS DOUBLE)) AS BIGINT) AS BIGINT) AS ssb_c2,
             |          CAST(q - ssb_raw AS BIGINT) AS ssw_c2
             |        FROM agg)
             |SELECT key, k_classes, n, ssb_c2, ssw_c2,
             |       CASE WHEN ssb_c2 + ssw_c2 = 0 THEN NULL
             |            ELSE round(CAST(ssb_c2 AS DOUBLE) /
             |                 CAST(ssb_c2 + ssw_c2 AS DOUBLE), 6)
             |       END AS strength
             |FROM fin""".stripMargin)),

    // ── Banded DTW (|i−j| ≤ 2) between every pair of event types'
    //    PAA-reduced daily series, with the aligned L1 distance for
    //    contrast (DTW ≤ L1 by construction — the slack is what
    //    alignment buys).
    QueryDef("q_dtw_paa",
      (s, d) => {
        val daily = eventTypeDaily(s, d)
        val p = paa(daily).localCheckpoint(false)
        val a = p.select(col("k").as("ka") +:
          (1 to N).map(i => col(s"p$i").as(s"a$i")): _*)
        val b = p.select(col("k").as("kb") +:
          (1 to N).map(i => col(s"p$i").as(s"b$i")): _*)
        val pairs = a.crossJoin(broadcast(b)).filter(col("ka") < col("kb"))
        val stepped = dtwCells.foldLeft(pairs) { case (acc, (nm, e)) =>
          acc.withColumn(nm, expr(e))
        }
        stepped.select(col("ka"), col("kb"),
          col(s"d_${N}_$N").as("dtw"),
          expr((1 to N).map(i => s"abs(a$i - b$i)").mkString(" + "))
            .as("l1_aligned"))
      },
      Some {
        val steps = dtwCells.grouped(8).zipWithIndex.map { case (cs, gi) =>
          val from = if (gi == 0) "pairs" else s"s${gi - 1}"
          s"s$gi AS (SELECT *, ${cs.map { case (nm, e) => s"$e AS $nm" }
            .mkString(",\n  ")} FROM $from)"
        }.toSeq
        s"""WITH p AS MATERIALIZED (SELECT * FROM $paaSql t),
           |pairs AS (
           |  SELECT a.k AS ka, b.k AS kb,
           |         ${(1 to N).map(i => s"a.p$i AS a$i").mkString(", ")},
           |         ${(1 to N).map(i => s"b.p$i AS b$i").mkString(", ")}
           |  FROM p a JOIN p b ON a.k < b.k),
           |${steps.mkString(",\n")}
           |SELECT ka, kb, CAST(d_${N}_$N AS BIGINT) AS dtw,
           |       CAST(${(1 to N).map(i => s"abs(a$i - b$i)")
             .mkString(" + ")} AS BIGINT) AS l1_aligned
           |FROM s${steps.size - 1}""".stripMargin
      }),

    // ── Dispersion index: population VMR = (nΣx²−(Σx)²)/(n·Σx) per
    //    event type over daily counts, exact e6.
    QueryDef("q_dispersion_index",
      (s, d) => Tables.events(s, d)
        .select(col("event_type").as("et"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .groupBy(col("et"), col("day")).agg(count(lit(1)).as("x"))
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("s"),
          sum(col("x") * col("x")).as("q"))
        .selectExpr("et", "n_days", "s * 1000000 div n_days AS mean_e6",
          "(n_days * q - s * s) * 1000000 div (n_days * s) AS vmr_e6"),
      Some("""WITH daily AS (SELECT event_type AS et,
             |                     epoch_us(ts) // 86400000000 AS day,
             |                     CAST(count(*) AS BIGINT) AS x
             |              FROM events GROUP BY 1, 2),
             |mom AS (SELECT et, CAST(count(*) AS BIGINT) AS n_days,
             |               CAST(sum(x) AS BIGINT) AS s,
             |               CAST(sum(x * x) AS BIGINT) AS q
             |        FROM daily GROUP BY 1)
             |SELECT et, n_days, s * 1000000 // n_days AS mean_e6,
             |       (n_days * q - s * s) * 1000000 // (n_days * s) AS vmr_e6
             |FROM mom""".stripMargin)),

    // ── Discord: weeks as 7-day count vectors (dense via dow pivot),
    //    brute pairwise d², the week with the LARGEST nearest-neighbor
    //    distance is the discord.
    QueryDef("q_ts_discord",
      (s, d) => {
        val daily = eventsPerDay(s, d)
          .withColumn("w", expr("day div 7"))
          .withColumn("dw", expr("day % 7"))
        val weeks = daily.groupBy(col("w"))
          .pivot("dw", 0 to 6).agg(first(col("c")))
          .na.fill(0L)
          .withColumn("n_days", expr((0 to 6).map(i => s"CAST(`$i` IS NOT NULL AS INT)").mkString(" + ")))
          .localCheckpoint(false) // both pair sides
        val b = weeks.columns.filter(_ != "w").foldLeft(
          weeks.withColumnRenamed("w", "w2")) { (df, c) =>
          df.withColumnRenamed(c, c + "_b")
        }
        val d2expr = (0 to 6).map(i =>
          s"(coalesce(`$i`, 0) - coalesce(`${i}_b`, 0)) * " +
            s"(coalesce(`$i`, 0) - coalesce(`${i}_b`, 0))").mkString(" + ")
        weeks.join(b, col("w") =!= col("w2"))
          .withColumn("d2", expr(d2expr))
          .groupBy(col("w")).agg(min(col("d2")).as("nn_d2"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("nn_d2").desc, col("w"))))
          .where(col("rk") <= 3)
          .select(col("w").as("week"), col("nn_d2"), col("rk"))
      },
      Some {
        val d2 = (0 to 6).map(i =>
          s"(coalesce(a.d$i, 0) - coalesce(b.d$i, 0)) * " +
            s"(coalesce(a.d$i, 0) - coalesce(b.d$i, 0))").mkString(" + ")
        val piv = (0 to 6).map(i =>
          s"max(CASE WHEN day % 7 = $i THEN c END) AS d$i").mkString(", ")
        s"""WITH $eventsPerDaySql,
           |weeks AS (SELECT day // 7 AS w, $piv
           |          FROM daily GROUP BY 1),
           |pairs AS (SELECT a.w, min($d2) AS nn_d2
           |          FROM weeks a JOIN weeks b ON a.w <> b.w
           |          GROUP BY 1)
           |SELECT w AS week, CAST(nn_d2 AS BIGINT) AS nn_d2, rk FROM (
           |  SELECT *, CAST(row_number() OVER (ORDER BY nn_d2 DESC, w)
           |    AS BIGINT) AS rk FROM pairs)
           |WHERE rk <= 3""".stripMargin
      }),

    // ── Max subarray: demeaned daily counts (n-scaled to stay exact),
    //    best burst = max over t of prefix_t − min(prefix before t).
    QueryDef("q_max_subarray",
      (s, d) => {
        val daily = eventsPerDay(s, d)
        val tot = daily.agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
        val ord = Window.orderBy(col("day"))
        val p = daily.crossJoin(broadcast(tot))
          // n-scaled demeaned value: n·c − s (integer, no division)
          .withColumn("v", expr("n * c - s"))
          .withColumn("pre", sum(col("v")).over(
            ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          // least(0, …): the empty prefix (sum 0) is always a valid start,
          // so subarrays beginning at day 1 count even when every strictly
          // preceding prefix is positive (Kadane's empty-prefix case).
          .withColumn("minpre", least(lit(0L), coalesce(min(col("pre")).over(
            ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
          .withColumn("burst_n", col("pre") - col("minpre"))
        p.withColumn("rk", row_number().over(
            Window.orderBy(col("burst_n").desc, col("day"))))
          .where(col("rk") === 1)
          .selectExpr("day AS burst_end_day", "burst_n AS burst_sum_nscaled",
            "CAST(n AS BIGINT) AS n_days")
      },
      Some(s"""WITH $eventsPerDaySql,
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(c) AS BIGINT) AS s FROM daily),
             |p AS (SELECT day, n,
             |             CAST(sum(n * c - s) OVER (ORDER BY day
             |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
             |      FROM daily CROSS JOIN tot),
             |q AS (SELECT day, n, pre,
             |             least(0, coalesce(min(pre) OVER (ORDER BY day
             |               ROWS BETWEEN UNBOUNDED PRECEDING
             |               AND 1 PRECEDING), 0)) AS minpre
             |      FROM p)
             |SELECT day AS burst_end_day,
             |       pre - minpre AS burst_sum_nscaled,
             |       n AS n_days
             |FROM (SELECT *, row_number() OVER (ORDER BY pre - minpre
             |        DESC, day) AS rk FROM q)
             |WHERE rk = 1""".stripMargin)),

    // ── Discord: the subsequence whose NEAREST non-overlapping
    //    neighbor is farthest — the week-shaped anomaly overlapping
    //    windows can see and disjoint weeks can't (e.g. a shift
    //    straddling a week boundary).
    QueryDef("q_matrix_profile",
      (s, d) => {
        val w = windowsDf(s, d)
        val b = w.columns.foldLeft(w)((df, c) =>
          df.withColumnRenamed(c, c + "_b"))
        val d2 = (0 until m).map(k =>
          s"(v$k - v${k}_b) * (v$k - v${k}_b)").mkString(" + ")
        w.join(b, abs(col("i") - col("i_b")) >= m)
          .withColumn("d2", expr(d2))
          .groupBy(col("day"), col("i"))
          .agg(min(col("d2")).as("nn_d2"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("nn_d2").desc, col("day"))))
          .where(col("rk") <= 3)
          .select(col("day").as("start_day"), col("nn_d2"), col("rk"))
      },
      Some(s"""WITH $windowsSql,
              |prof AS (SELECT a.day, min(${d2Sql("a", "b")}) AS nn_d2
              |         FROM w a JOIN w b ON abs(a.i - b.i) >= $m
              |         GROUP BY 1)
              |SELECT day AS start_day, CAST(nn_d2 AS BIGINT) AS nn_d2, rk
              |FROM (SELECT *, CAST(row_number() OVER (ORDER BY nn_d2 DESC,
              |        day) AS BIGINT) AS rk FROM prof)
              |WHERE rk <= 3""".stripMargin)),

    // ── Motif: the CLOSEST non-overlapping subsequence pair — the
    //    repeated weekly pattern; same pipeline, opposite extreme.
    QueryDef("q_mp_motif",
      (s, d) => {
        val w = windowsDf(s, d)
        val b = w.columns.foldLeft(w)((df, c) =>
          df.withColumnRenamed(c, c + "_b"))
        val d2 = (0 until m).map(k =>
          s"(v$k - v${k}_b) * (v$k - v${k}_b)").mkString(" + ")
        w.join(b, col("i_b") - col("i") >= m)
          .withColumn("d2", expr(d2))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("d2").asc, col("day"), col("day_b"))))
          .where(col("rk") === 1)
          .select(col("day").as("day_a"), col("day_b"),
            col("d2").as("motif_d2"))
      },
      Some(s"""WITH $windowsSql
              |SELECT a.day AS day_a, b.day AS day_b,
              |       CAST(${d2Sql("a", "b")} AS BIGINT) AS motif_d2
              |FROM w a JOIN w b ON b.i - a.i >= $m
              |ORDER BY ${d2Sql("a", "b")} ASC, a.day, b.day
              |LIMIT 1""".stripMargin)),

    // ── Kolmogorov–Zurbenko KZ(5,2) smoother on daily order volume:
    //    two passes of a centered 5-day moving average, kept exact by
    //    carrying the ×25 scale (each pass sums 5 terms instead of
    //    dividing). RANGE frames keyed on the day value make both
    //    passes gap-safe (the order calendar has a few holes), and the
    //    full-window count filter drops edge/gap-shortened smooths
    //    instead of emitting biased ones.
    QueryDef("q_kz_filter",
      (s, d) => {
        val daily = ordersPerDay(s, d)
        val w2 = Window.orderBy(col("day")).rangeBetween(-2, 2)
        val p1 = daily
          .withColumn("s1", sum(col("c")).over(w2))
          .withColumn("n1", count(lit(1)).over(w2))
          .filter(col("n1") === 5L)
          .select(col("day"), col("s1"))
          .localCheckpoint(false) // second pass re-windows the first
        p1.withColumn("s2", sum(col("s1")).over(w2))
          .withColumn("n2", count(lit(1)).over(w2))
          .filter(col("n2") === 5L)
          .select(col("day"), col("s2").as("kz_x25"))
      },
      Some(s"""WITH $ordersPerDaySql,
             |p1 AS (SELECT day,
             |              CAST(sum(c) OVER w AS BIGINT) AS s1,
             |              count(*) OVER w AS n1
             |       FROM daily
             |       WINDOW w AS (ORDER BY day RANGE BETWEEN 2 PRECEDING
             |                    AND 2 FOLLOWING)),
             |f1 AS (SELECT day, s1 FROM p1 WHERE n1 = 5),
             |p2 AS (SELECT day,
             |              CAST(sum(s1) OVER w AS BIGINT) AS s2,
             |              count(*) OVER w AS n2
             |       FROM f1
             |       WINDOW w AS (ORDER BY day RANGE BETWEEN 2 PRECEDING
             |                    AND 2 FOLLOWING))
             |SELECT day, s2 AS kz_x25 FROM p2 WHERE n2 = 5"""
        .stripMargin)),

    /* STL-lite seasonal decomposition (`q_stl_lite`): trend = 7-day
     * centered moving average on the bounded daily axis, seasonal =
     * per-day-of-week mean of the detrended series re-centered to sum
     * zero, residual = remainder — the classic additive decomposition
     * with every division the engine-portable truncate-toward-zero
     * (verified: DuckDB -7//2 = Spark -7 div 2 = -3). */
    // ── STL-lite: day axis (bounded, post-aggregate) → centered 7-day
    //    MA trend (full windows only), per-dow seasonal re-centered to
    //    Σ=0 over the week, residual. NULL trend at the 3-day edges.
    QueryDef("q_stl_lite",
      (s, d) => {
        val daily = Tables.events(s, d)
          .selectExpr("unix_micros(ts) div 86400000000 AS day")
          .groupBy(col("day")).agg(count(lit(1)).as("n"))
        val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
        // checkpoint AFTER the window so (a) the moving average runs
        // once for its two consumers and (b) the unpartitioned window's
        // visible input keeps the bounded day-axis Aggregate (gate)
        val tr = daily
          .withColumn("wn", count(lit(1)).over(w7))
          .withColumn("s7", sum(col("n")).over(w7))
          .withColumn("trend", when(col("wn") === 7, expr("s7 div 7")))
          .drop("s7")
          .withColumn("detr", col("n") - col("trend"))
          .withColumn("dow", col("day") % 7)
          .localCheckpoint(false) // 30-row axis; seas + final join share it
        val seas = tr.filter(col("detr").isNotNull)
          .groupBy(col("dow"))
          .agg(expr("sum(detr) div count(1)").as("s_raw"))
        val sAdj = seas.crossJoin(broadcast(
            seas.agg(expr("sum(s_raw) div count(1)").as("s_mean"))))
          .select(col("dow"), (col("s_raw") - col("s_mean")).as("seasonal"))
        tr.join(broadcast(sAdj), Seq("dow"), "left")
          .selectExpr("day", "CAST(dow AS BIGINT) AS dow", "n", "trend",
            "detr AS detrended", "seasonal",
            "detr - seasonal AS residual")
      },
      Some("""WITH daily AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day,
             |         CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1),
             |tr AS (SELECT day, n,
             |         CASE WHEN count(*) OVER w = 7
             |           THEN CAST(sum(n) OVER w AS BIGINT) // 7 END AS trend
             |       FROM daily
             |       WINDOW w AS (ORDER BY day
             |         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |dt AS (SELECT day, day % 7 AS dow, n, trend,
             |              n - trend AS detr FROM tr),
             |seas AS (SELECT dow, CAST(sum(detr) AS BIGINT) // count(*)
             |           AS s_raw
             |         FROM dt WHERE detr IS NOT NULL GROUP BY 1),
             |sm AS (SELECT CAST(sum(s_raw) AS BIGINT) // count(*) AS s_mean
             |       FROM seas),
             |sa AS (SELECT dow, s_raw - s_mean AS seasonal
             |       FROM seas CROSS JOIN sm)
             |SELECT dt.day, CAST(dt.dow AS BIGINT) AS dow, dt.n, dt.trend,
             |       dt.detr AS detrended, sa.seasonal,
             |       dt.detr - sa.seasonal AS residual
             |FROM dt LEFT JOIN sa ON dt.dow = sa.dow""".stripMargin)),

    /* Viterbi regime decode (`q_viterbi_maxplus`): 2-state HMM over the
     * daily high/low-traffic observation sequence, decoded by
     * [[graft.ops.Viterbi]]'s max-plus doubling — ⌈log₂ T⌉ keyed
     * aggregates instead of T sequential steps. The oracle runs the
     * textbook recursion (recursive CTE carrying both state scores as
     * columns), so the reduction's algebra is proven against the
     * sequential definition on every run. */
    // ── Viterbi: obs o_d = (day count > integer mean); day axis dense
    //    re-indexed; M_d[s',s] = T[s'][s] + E[s][o_d] for d ≥ 1; answer
    //    = max over end states of (v0 ⊗ M_1 ⊗ … ⊗ M_{T−1}).
    QueryDef("q_viterbi_maxplus",
      (s, d) => {
        val obs = highDayObs(s, d)
          .select(col("idx"), col("o"))
          .localCheckpoint(false) // bounded day axis, feeds v0 AND chain
        val mats = obs.filter(col("idx") > 0)
          .selectExpr("idx - 1 AS idx",
            s"CASE WHEN o = 0 THEN ${T00 + E00}L ELSE ${T00 + E01}L END AS m00",
            s"CASE WHEN o = 0 THEN ${T01 + E10}L ELSE ${T01 + E11}L END AS m01",
            s"CASE WHEN o = 0 THEN ${T10 + E00}L ELSE ${T10 + E01}L END AS m10",
            s"CASE WHEN o = 0 THEN ${T11 + E10}L ELSE ${T11 + E11}L END AS m11")
        val p = Viterbi.reduceMaxPlus(mats)
        val v0 = obs.filter(col("idx") === 0)
          .selectExpr(
            s"CASE WHEN o = 0 THEN ${PI + E00}L ELSE ${PI + E01}L END AS v00",
            s"CASE WHEN o = 0 THEN ${PI + E10}L ELSE ${PI + E11}L END AS v01")
        val nd = obs.agg(count(lit(1)).as("n_days"))
        v0.crossJoin(broadcast(p)).crossJoin(broadcast(nd))
          .selectExpr("CAST(n_days AS BIGINT) AS n_days",
            "greatest(v00 + m00, v01 + m10) AS v_end0",
            "greatest(v00 + m01, v01 + m11) AS v_end1")
          .selectExpr("n_days", "v_end0", "v_end1",
            "CASE WHEN v_end0 >= v_end1 THEN 0L ELSE 1L END AS best_state",
            "greatest(v_end0, v_end1) AS best_logp_e6")
      },
      Some(s"""WITH $highDayObsSql,
              |dp AS (
              |  SELECT 0 AS d,
              |         CASE WHEN o = 0 THEN $PI + $E00
              |              ELSE $PI + $E01 END AS v0,
              |         CASE WHEN o = 0 THEN $PI + $E10
              |              ELSE $PI + $E11 END AS v1
              |  FROM obs WHERE idx = 0
              |  UNION ALL
              |  SELECT dp.d + 1,
              |         greatest(dp.v0 + $T00, dp.v1 + $T10)
              |           + CASE WHEN obs.o = 0 THEN $E00 ELSE $E01 END,
              |         greatest(dp.v0 + $T01, dp.v1 + $T11)
              |           + CASE WHEN obs.o = 0 THEN $E10 ELSE $E11 END
              |  FROM dp JOIN obs ON obs.idx = dp.d + 1),
              |fin AS (SELECT v0 AS v_end0, v1 AS v_end1 FROM dp
              |        WHERE d = (SELECT max(idx) FROM obs)),
              |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM obs)
              |SELECT n_days, CAST(v_end0 AS BIGINT) AS v_end0,
              |       CAST(v_end1 AS BIGINT) AS v_end1,
              |       CAST(CASE WHEN v_end0 >= v_end1 THEN 0 ELSE 1 END
              |         AS BIGINT) AS best_state,
              |       CAST(greatest(v_end0, v_end1) AS BIGINT)
              |         AS best_logp_e6
              |FROM fin CROSS JOIN nd"""
        .stripMargin.replaceFirst("WITH ", "WITH RECURSIVE "))),

    /* FULL Viterbi path decode (`q_viterbi_path`) — the
     * per-position regime sequence, not just the end score. Sequential
     * backtracking is useless on a cluster; instead the max-plus PREFIX
     * scan gives forward scores f_d = v0 ⊗ (M_1⊗…⊗M_d) and the SUFFIX
     * scan gives best-completion scores b_d (row maxes of M_{d+1}⊗…),
     * both in ⌈log₂ T⌉ self-joins of the bounded time axis
     * ([[Viterbi.scanMaxPlus]]); the decoded state at every position is
     * argmax_s f_d[s]+b_d[s] (max-marginal decoding; ties → state 0 in
     * BOTH engines), and f+b is the SAME global optimum at every position
     * — emitted as a built-in consistency column. The oracle computes the
     * identical forward and backward recursions sequentially (two
     * recursive CTEs), so the scan algebra is checked against the
     * textbook definition day by day. */

    QueryDef("q_viterbi_path",
      (s, d) => {
        val obs = highDayObs(s, d)
          .select(col("idx"), col("o"))
          .localCheckpoint(false)
        val mats = obs.filter(col("idx") > 0)
          .selectExpr("idx",
            s"CASE WHEN o = 0 THEN ${T00 + E00}L ELSE ${T00 + E01}L END AS m00",
            s"CASE WHEN o = 0 THEN ${T01 + E10}L ELSE ${T01 + E11}L END AS m01",
            s"CASE WHEN o = 0 THEN ${T10 + E00}L ELSE ${T10 + E01}L END AS m10",
            s"CASE WHEN o = 0 THEN ${T11 + E10}L ELSE ${T11 + E11}L END AS m11")
        val pfx = Viterbi.scanMaxPlus(mats, forward = true)
          .selectExpr("idx", "m00 AS p00", "m01 AS p01", "m10 AS p10",
            "m11 AS p11")
        val sfx = Viterbi.scanMaxPlus(mats, forward = false)
          .selectExpr("idx - 1 AS idx", "greatest(m00, m01) AS bw0",
            "greatest(m10, m11) AS bw1") // completion FROM day idx
        val v0 = obs.filter(col("idx") === 0)
          .selectExpr(
            s"CASE WHEN o = 0 THEN ${PI + E00}L ELSE ${PI + E01}L END AS v00",
            s"CASE WHEN o = 0 THEN ${PI + E10}L ELSE ${PI + E11}L END AS v01")
        obs.join(broadcast(pfx), Seq("idx"), "left")
          .join(broadcast(sfx), Seq("idx"), "left")
          .crossJoin(broadcast(v0))
          // f_d: day 0 is v0 itself (no prefix row); b_d: last day has
          // no suffix row -> identity completion (0)
          .selectExpr("idx", "o",
            "CASE WHEN p00 IS NULL THEN v00 ELSE greatest(v00 + p00, v01 + p10) END AS f0",
            "CASE WHEN p00 IS NULL THEN v01 ELSE greatest(v00 + p01, v01 + p11) END AS f1",
            "coalesce(bw0, 0L) AS b0", "coalesce(bw1, 0L) AS b1")
          .selectExpr("idx AS day_idx", "o AS obs_high",
            "CASE WHEN f0 + b0 >= f1 + b1 THEN 0L ELSE 1L END AS state",
            "greatest(f0 + b0, f1 + b1) AS path_score_e6")
      },
      Some(s"""WITH $highDayObsSql,
              |mx AS (SELECT CAST(max(idx) AS BIGINT) AS t_last FROM obs),
              |fwd AS (
              |  SELECT 0 AS d,
              |         CASE WHEN o = 0 THEN $PI + $E00
              |              ELSE $PI + $E01 END AS f0,
              |         CASE WHEN o = 0 THEN $PI + $E10
              |              ELSE $PI + $E11 END AS f1
              |  FROM obs WHERE idx = 0
              |  UNION ALL
              |  SELECT fwd.d + 1,
              |         greatest(fwd.f0 + $T00, fwd.f1 + $T10)
              |           + CASE WHEN obs.o = 0 THEN $E00 ELSE $E01 END,
              |         greatest(fwd.f0 + $T01, fwd.f1 + $T11)
              |           + CASE WHEN obs.o = 0 THEN $E10 ELSE $E11 END
              |  FROM fwd JOIN obs ON obs.idx = fwd.d + 1),
              |bwd AS (
              |  SELECT t_last AS d, CAST(0 AS BIGINT) AS b0,
              |         CAST(0 AS BIGINT) AS b1
              |  FROM mx
              |  UNION ALL
              |  SELECT bwd.d - 1,
              |         greatest($T00 + CASE WHEN obs.o = 0 THEN $E00
              |             ELSE $E01 END + bwd.b0,
              |           $T01 + CASE WHEN obs.o = 0 THEN $E10
              |             ELSE $E11 END + bwd.b1),
              |         greatest($T10 + CASE WHEN obs.o = 0 THEN $E00
              |             ELSE $E01 END + bwd.b0,
              |           $T11 + CASE WHEN obs.o = 0 THEN $E10
              |             ELSE $E11 END + bwd.b1)
              |  FROM bwd JOIN obs ON obs.idx = bwd.d WHERE bwd.d > 0)
              |SELECT obs.idx AS day_idx, CAST(obs.o AS BIGINT) AS obs_high,
              |       CAST(CASE WHEN fwd.f0 + bwd.b0 >= fwd.f1 + bwd.b1
              |         THEN 0 ELSE 1 END AS BIGINT) AS state,
              |       CAST(greatest(fwd.f0 + bwd.b0, fwd.f1 + bwd.b1)
              |         AS BIGINT) AS path_score_e6
              |FROM obs JOIN fwd ON fwd.d = obs.idx
              |JOIN bwd ON bwd.d = obs.idx"""
        .stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")))
  )
}
