package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: resample an event stream to fixed buckets,
  * then densify per-key gaps and forward-fill — the step between raw
  * events and anything that assumes a regular grid (charting, windowed
  * models, downstream joins on bucket). The reference's tile pipeline
  * leaves gaps where no events landed; a serving layer then has to
  * special-case missing windows. This materializes the dense grid instead.
  *
  * Scale shape: resample is one partial-aggregable groupBy. The spine is
  * built from a per-key (min,max) aggregate — tiny — then exploded, so
  * spine size is output size, never input size. Fill is one window per
  * key ordered by bucket. No driver-side loops, no global windows.
  */
object TimeSeries {

  /** Aggregate `valueCol` into `everySec`-second epoch buckets per `key`:
    * (key, bucket_es, cnt, avg_e4). The average is an exact integer in
    * 1e-4 units — values are cent-scaled (exact) then integrally divided —
    * because a rounded double avg lands on .00005 half-way points whose
    * last digit flips between engines/summation orders (observed at
    * sf0.1); integer division cannot. Only occupied buckets appear — feed
    * [[fillGaps]] for the dense grid. */
  def resample(df: DataFrame, key: String, tsCol: String, valueCol: String,
               everySec: Long = 300L): DataFrame =
    df.groupBy(col(key),
        expr(s"(unix_timestamp($tsCol) div $everySec) * $everySec").as("bucket_es"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col(valueCol) * 100 + 0.5)).cast("long").as("sum_cents"))
      .withColumn("avg_e4", expr("(sum_cents * 100) div cnt"))
      .drop("sum_cents")

  /** Densify [[resample]] output to every `everySec` bucket between each
    * key's first and last observation; absent buckets get cnt=0 and the
    * last seen `avg_e4` (forward fill). */
  /** Per-key exponentially-weighted moving average with α = 1/2 in
    * TRUNCATING integer arithmetic: s ← (s + x) div 2 over the key's
    * time-ordered values, s₀ = 0. The binary α is what makes the result
    * bit-exact across engines (a float α compounds rounding per step);
    * halving is also the classic hardware EWMA. The recursion has no
    * prefix-sum identity under truncation, so it folds per key inside one
    * `aggregate` expression — ONE shuffle, O(1) fold state, the same
    * shape as the funnel fold. Emits the final smoothed value per key
    * (the online estimate "now"), plus the count folded in.
    */
  /** Align N series onto ONE shared clock — the multi-way as-of: every
    * `everySec` tick carries each series' last-known value (NULL before
    * a series' first observation). This is what joins "sensor A at 10 Hz,
    * sensor B on change" into one comparable frame; pairwise as-of joins
    * compose the same answer in N−1 shuffles, this does it in one pass.
    *
    * Same-second duplicate observations collapse latest-writer-wins
    * (max_by on `tieCol`) BEFORE the sweep, so the alignment is
    * deterministic. The clock spans floor(min/E)·E .. max, per tick
    * cross-joined onto the (tiny, distinct) series set.
    *
    * Scale: one (series, t) pre-aggregate + one series-keyed window over
    * observations ∪ ticks — the union trick again; no join against the
    * observation stream at all.
    */
  def alignClock(df: DataFrame, seriesCol: String, tsSecCol: String,
                 tieCol: String, centsCol: String, everySec: Long): DataFrame = {
    require(everySec > 0L, "everySec must be positive")
    val obs = df.select(col(seriesCol).as("series"), col(tsSecCol).as("t"),
        col(tieCol).as("tie"), col(centsCol).as("c"))
      .groupBy(col("series"), col("t"))
      .agg(max_by(col("c"), col("tie")).as("c"))
      .withColumn("side", lit(0))
    val bounds = df.select(col(tsSecCol).as("t"))
      .agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
    val ticks = bounds.select(explode(
      sequence(expr(s"(t0 div ${everySec}L) * ${everySec}L"), col("t1"),
        lit(everySec))).as("t"))
    val tickRows = obs.select(col("series")).distinct()
      .crossJoin(broadcast(ticks))
      .withColumn("c", lit(null).cast("long")).withColumn("side", lit(1))
    val prefix = Window.partitionBy(col("series")).orderBy(col("t"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs.unionByName(tickRows)
      .withColumn("ff", last(col("c"), ignoreNulls = true).over(prefix))
      .filter(col("side") === 1)
      .select(col("series"), col("t").as("bucket_es"), col("ff").as("v_cents"))
  }

  /** Day-of-week seasonal profile — the "S" of an STL-lite
    * decomposition: per (key, dow), the truncated mean level and its
    * seasonal LIFT against the key's overall mean (both e6/cents
    * integers: lift = sum_dow·cnt_all·1e6 div (cnt_dow·sum_all), the
    * cross-multiplied form, so no intermediate mean truncation skews
    * the ratio). Day-of-week from epoch days, Monday = 0 (1970-01-01
    * was a Thursday). Callers subtract the dow mean for the
    * deseasonalized residual and feed it to [[trendSlope]].
    *
    * Two keyed aggregates + a broadcast-size join of per-key totals.
    * The s_dow·n_all·1e6 cross term is computed in DECIMAL(38,0) (exact
    * to 1e38 — no silent long wrap at any realistic sum·count scale);
    * the final e6 lift ratio always fits a BIGINT.
    */
  def seasonalProfile(df: DataFrame, keyCol: String, tsMicrosCol: String,
                      centsCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("key"),
      expr(s"(($tsMicrosCol div 86400000000L) + 3) % 7").as("dow"),
      col(centsCol).as("c"))
    val perDow = base.groupBy(col("key"), col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
    val perKey = base.groupBy(col("key"))
      .agg(count(lit(1)).as("n_all"), sum(col("c")).as("s_all"))
    perDow.join(perKey, "key")
      .select(col("key"), col("dow"), col("n"),
        expr("s div n").as("mean_cents"),
        expr("""CAST((CAST(s AS DECIMAL(38,0)) * n_all * 1000000)
               |     div (CAST(n AS DECIMAL(38,0)) * s_all) AS BIGINT)"""
          .stripMargin).as("lift_e6"))
  }

  /** NEAREST-event join: for every left row, the closest right row in
    * time on the same key — EITHER direction, unlike the backward-only
    * as-of join. Equidistant ties take the EARLIER right row. Built with
    * the same union+ordered-window trick as the as-of join (no range
    * join, no per-key quadratic): one sorted pass finds each left row's
    * latest right-at-or-before and earliest right-after, and a final
    * projection picks the closer. Left rows whose key has no right rows
    * emit NULL right_id/gap.
    *
    * Scale: ONE exchange (the union sorts and both window frames
    * partition by key); the quadratic "min |Δt| per left row" join this
    * replaces is what the oracle uses — on a bounded left side — to
    * prove the window construction right.
    */
  def nearestEvent(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, idCol: String): DataFrame = {
    val l = left.select(col(keyCol).as("key"), col(tsCol).as("t"),
      col(idCol).as("id"), lit(1).as("side"))
    val r = right.select(col(keyCol).as("key"), col(tsCol).as("t"),
      col(idCol).as("id"), lit(0).as("side"))
    // side 0 < 1: a right row at the same instant sorts BEFORE the left
    // row, so it is visible in the preceding frame with gap 0. Ties among
    // same-t rights resolve to the SMALLEST right id on both sides, which
    // needs opposite positional picks: id DESC for the `last`-of-prefix,
    // id ASC for the `first`-of-suffix. Two sorts, same partitioning —
    // still one exchange.
    val ordPrev = Window.partitionBy(col("key"))
      .orderBy(col("t"), col("side"), col("id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ordNext = Window.partitionBy(col("key"))
      .orderBy(col("t"), col("side"), col("id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val rStruct = when(col("side") === 0, struct(col("t"), col("id")))
    l.unionByName(r)
      .withColumn("prev_r", last(rStruct, ignoreNulls = true).over(ordPrev))
      .withColumn("next_r", first(rStruct, ignoreNulls = true).over(ordNext))
      .filter(col("side") === 1)
      .withColumn("gap_prev",
        when(col("prev_r").isNotNull, col("t") - col("prev_r.t")))
      .withColumn("gap_next",
        when(col("next_r").isNotNull, col("next_r.t") - col("t")))
      .withColumn("pick_prev",
        col("gap_prev").isNotNull &&
          (col("gap_next").isNull || col("gap_prev") <= col("gap_next")))
      .select(col("key"), col("id").as("left_id"),
        when(col("pick_prev"), col("prev_r.id"))
          .otherwise(col("next_r.id")).as("right_id"),
        when(col("pick_prev"), col("gap_prev"))
          .otherwise(col("gap_next")).as("gap"))
  }

  /** Per-key linear TREND: least-squares slope
    * (n·Σty − Σt·Σy) / (n·Σt² − (Σt)²) over the key's (t seconds,
    * value cents) points, in cents/second rounded to 6 dp. Time is
    * CENTERED per key (t′ = t − min t) before squaring — epoch seconds
    * squared (~3e18) would overflow — and the moment sums stay exact
    * longs; only the FINAL ratio runs in doubles (explicit casts, IEEE
    * ·, −, /, round only — the repo's cross-engine-deterministic double
    * convention), because n·Σty at million-row keys exceeds the long
    * range that truncating-integer e6 scaling would need, and engines
    * disagree on wrap behavior (DuckDB promotes to HUGEINT, Spark
    * wraps). Centering shifts the intercept, never the slope.
    *
    * One min-window + one aggregate, both keyed — ONE exchange. Keys
    * with a degenerate time spread (all one second) emit NULL slope.
    */
  def trendSlope(df: DataFrame, keyCol: String, tsMicrosCol: String,
                 centsCol: String): DataFrame = {
    val w = Window.partitionBy(col("key"))
    df.select(col(keyCol).as("key"),
        expr(s"$tsMicrosCol div 1000000").as("t"), col(centsCol).as("c"))
      .withColumn("t0", min(col("t")).over(w))
      .withColumn("tc", col("t") - col("t0"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("tc")).as("st"),
        sum(col("c")).as("sy"), sum(expr("tc * c")).as("sty"),
        sum(expr("tc * tc")).as("stt"))
      .select(col("key"), col("n"),
        expr("""round((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)
                 - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
                / nullif(CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                 - CAST(st AS DOUBLE) * CAST(st AS DOUBLE), CAST(0 AS DOUBLE)),
                6)""").as("slope"))
  }

  /** Per-key TIME-weighted average (TWAP shape): each observation is
    * weighted by how long it was "current" — the gap to the next
    * observation in seconds — so a price that held for an hour counts
    * 3600× one that held a second, unlike the event-weighted mean. The
    * last observation per key has no successor and drops out (standard
    * left-closed convention). All integer: dt truncates micros→seconds,
    * the weighted mean truncates cents.
    *
    * Scale: one lead() window and the final aggregate, both keyed by
    * `keyCol` — the groupBy reuses the window's hash partitioning, so the
    * whole thing is ONE exchange. Σ(c·dt) fits a long for cents ≤ ~1e6
    * and spans ≤ ~centuries.
    *
    * Keys with a single observation (or all-equal timestamps) have
    * Σdt = 0 and emit a NULL twa_cents rather than dropping — the caller
    * sees the key existed but had no dwell time.
    */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsMicrosCol: String,
                      tieCol: String, centsCol: String): DataFrame = {
    df.select(col(keyCol).as("key"), col(tsMicrosCol).as("t"),
        col(tieCol).as("tie"), col(centsCol).as("c"))
      // truncate each stamp to seconds FIRST, then diff — the convention
      // the oracle replays (differs from diff-then-truncate at sub-second
      // phase offsets)
      .withColumn("dt_s",
        expr("lead(t, 1) over (partition by key order by t, tie) div 1000000")
          - expr("t div 1000000"))
      .filter(col("dt_s").isNotNull)
      .groupBy(col("key"))
      .agg(sum(expr("c * dt_s")).as("cdt"), sum(col("dt_s")).as("dt"),
        count(lit(1)).as("n_spans"))
      .select(col("key"), expr("cdt div nullif(dt, 0)").as("twa_cents"),
        col("dt").as("dwell_s"), col("n_spans"))
  }

  def ewmaHalf(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
               centsCol: String): DataFrame =
    df.select(col(keyCol).as("key"),
        struct(col(tsCol).as("t"), col(tieCol).as("tie"),
          col(centsCol).as("c")).as("e"))
      .groupBy(col("key"))
      .agg(sort_array(collect_list(col("e"))).as("seq"))
      .select(col("key"),
        expr("aggregate(seq, CAST(0 AS BIGINT), (acc, x) -> (acc + x.c) div 2)")
          .as("ewma_cents"),
        expr("size(seq)").cast("long").as("n_points"))

  /** Holt DOUBLE-exponential (level + trend) smoothing with α = β = ½
    * over each key's FIRST `m` observations. The coupled (l, b)
    * recursion has no prefix-sum closed form (and list-fold oracles are
    * off the table — DuckDB struct-accumulator list_reduce is broken),
    * so the horizon is BOUNDED instead: the m points pivot into ONE row
    * per key (a map-side-combining min-when aggregate, no collect), and
    * the m−1 smoothing steps unroll as plain column arithmetic — zero
    * shuffles beyond the one rank window + groupBy pair. Init l₁ = x₁,
    * b₁ = x₂ − x₁ (textbook); keys with fewer than m points are dropped
    * (a bounded-horizon contract, not a ragged fold). Every halving is
    * sign-factored so Spark `div` (toward zero) and DuckDB `//` (floor)
    * agree on negative trends. Output: (key, level_cents, trend_cents,
    * forecast_cents) where forecast = l_m + b_m is the one-step-ahead
    * prediction. */
  def holtLinear(df: DataFrame, keyCol: String, tsCol: String,
                 tieCol: String, centsCol: String, m: Int = 6): DataFrame = {
    require(m >= 3 && m <= 12, "m must be in [3, 12]")
    def sdiv2(v: String) =
      s"(CASE WHEN ($v) >= 0 THEN ($v) div 2 ELSE -((-($v)) div 2) END)"
    val w = Window.partitionBy(col("key")).orderBy(col("t"), col("tie"))
    val ranked = df.select(col(keyCol).as("key"), col(tsCol).as("t"),
        col(tieCol).as("tie"), col(centsCol).as("x"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m)
    val pivoted = ranked.groupBy(col("key"))
      .agg(count(lit(1)).as("n"), (1 to m).map(i =>
        min(when(col("rn") === i, col("x"))).as(s"x$i")): _*)
      .filter(col("n") === m)
    val stepped = (2 to m).foldLeft(
      pivoted.withColumn("l1", col("x1"))
        .withColumn("b1", col("x2") - col("x1"))) { (acc, t) =>
      acc.withColumn(s"l$t", expr(sdiv2(s"x$t + l${t - 1} + b${t - 1}")))
        .withColumn(s"b$t", expr(sdiv2(s"l$t - l${t - 1} + b${t - 1}")))
    }
    stepped.select(col("key"), col(s"l$m").as("level_cents"),
      col(s"b$m").as("trend_cents"),
      (col(s"l$m") + col(s"b$m")).as("forecast_cents"))
  }

  /** Token-bucket admission replay per key — the batch twin of a
    * streaming rate limiter: the bucket starts full (`cap` tokens),
    * refills one token per `refillSec` seconds of inter-event gap
    * (truncating), costs one token per admitted event, and rejects when
    * empty. The fold state packs (admitted·2²⁰ + tokens) into ONE
    * BIGINT because DuckDB's list_reduce cannot carry struct
    * accumulators — the same packed-long trick as q_attribution's range
    * windows. Output: (key, n_events, admitted, rejected, tokens_left).
    *
    * Scale: the lag window and the per-key fold share one keyed
    * exchange; state is O(1) per key — exactly the state a
    * mapGroupsWithState limiter would carry. */
  def tokenBucketReplay(df: DataFrame, keyCol: String, tsCol: String,
                        tieCol: String, cap: Long = 10L,
                        refillSec: Long = 60L): DataFrame = {
    require(cap >= 1 && refillSec >= 1)
    // Credit is carried in MICROSECONDS (one whole token = refillSec·1e6)
    // so sub-token gaps accumulate exactly instead of truncating away.
    val tokUs = refillSec * 1000000L
    val capUs = cap * tokUs
    val scale = 1L << 40 // capUs < 2^40 ⇒ admitted count rides the high bits
    require(capUs < scale, "cap*refillSec too large for the packed state")
    val w = Window.partitionBy(col("key")).orderBy(col("t"), col("tie"))
    val withDt = df.select(col(keyCol).as("key"), col(tsCol).as("t"),
        col(tieCol).as("tie"))
      .withColumn("prev_t", lag(col("t"), 1).over(w))
      .withColumn("dt", expr("coalesce(t - prev_t, 0L)"))
    withDt
      .groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("t"), col("tie"),
        col("dt")))).as("seq"))
      .select(col("key"), expr("size(seq)").cast("long").as("n_events"),
        expr(
          s"""aggregate(seq, ${capUs}L, (acc, x) ->
             |  CASE WHEN least(${capUs}L, acc % ${scale}L + x.dt)
             |            >= ${tokUs}L
             |       THEN (acc div ${scale}L + 1) * ${scale}L
             |            + least(${capUs}L, acc % ${scale}L + x.dt)
             |            - ${tokUs}L
             |       ELSE (acc div ${scale}L) * ${scale}L
             |            + least(${capUs}L, acc % ${scale}L + x.dt)
             |  END)""".stripMargin).as("st"))
      .select(col("key"), col("n_events"),
        expr(s"st div ${scale}L").as("admitted"),
        (col("n_events") - expr(s"st div ${scale}L")).as("rejected"),
        expr(s"(st % ${scale}L) div ${tokUs}L").as("tokens_left"))
  }

  /** Holt–Winters additive triple smoothing (α = β = γ = ½) of each
    * key's first 2m values with season period m: bounded-horizon unroll
    * like [[holtLinear]], plus the coupled seasonal state. Classic
    * init — level = mean of season 1, trend = (mean₂ − mean₁)/m,
    * seasonals = deviations from level — then m recursion steps
    *   l_t = ((x_t − s_{t−m}) + l_{t−1} + b_{t−1}) div 2
    *   b_t = ((l_t − l_{t−1}) + b_{t−1}) div 2
    *   s_t = ((x_t − l_t) + s_{t−m}) div 2
    * with every halving (and the /m² trend init) sign-factored so Spark
    * `div` and DuckDB `//` agree. Keys with < 2m points drop (bounded-
    * horizon contract). forecast = l + b + s_{m+1} (one step ahead).
    * Output: (key, level, trend, season_next, forecast).
    *
    * Scale: rank window + ONE pivot aggregate per key; the unroll is
    * fixed column arithmetic on a k-row frame — no joins, no loops. */
  def holtWinters(df: DataFrame, keyCol: String, tsCol: String,
                  tieCol: String, valCol: String, m: Int = 7): DataFrame = {
    require(m >= 2 && m <= 12, "season period must be in [2, 12]")
    def sdiv(v: String, q: Long) =
      s"(CASE WHEN ($v) >= 0 THEN ($v) div $q ELSE -((-($v)) div $q) END)"
    val n = 2 * m
    val w = Window.partitionBy(col("key")).orderBy(col("t"), col("tie"))
    val ranked = df.select(col(keyCol).as("key"), col(tsCol).as("t"),
        col(tieCol).as("tie"), col(valCol).as("x"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
    val pivoted = ranked.groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"), (1 to n).map(i =>
        min(when(col("rn") === i, col("x"))).as(s"x$i")): _*)
      .filter(col("cnt") === n)
    val week1 = (1 to m).map(i => s"x$i").mkString(" + ")
    val week2 = ((m + 1) to n).map(i => s"x$i").mkString(" + ")
    val init = pivoted
      .withColumn(s"l$m", expr(sdiv(week1, m)))
      .withColumn(s"b$m", expr(sdiv(s"($week2) - ($week1)", m.toLong * m)))
    val seeded = (1 to m).foldLeft(init) { (acc, i) =>
      acc.withColumn(s"s$i", expr(s"x$i - l$m"))
    }
    val stepped = ((m + 1) to n).foldLeft(seeded) { (acc, t) =>
      acc
        .withColumn(s"l$t",
          expr(sdiv(s"(x$t - s${t - m}) + l${t - 1} + b${t - 1}", 2)))
        .withColumn(s"b$t",
          expr(sdiv(s"(l$t - l${t - 1}) + b${t - 1}", 2)))
        .withColumn(s"s$t", expr(sdiv(s"(x$t - l$t) + s${t - m}", 2)))
    }
    stepped.select(col("key"), col(s"l$n").as("level"),
      col(s"b$n").as("trend"), col(s"s${m + 1}").as("season_next"),
      (col(s"l$n") + col(s"b$n") + col(s"s${m + 1}")).as("forecast"))
  }

  /** SQL twin of [[holtWinters]] — the same unroll as chained CTEs
    * (DuckDB `SELECT *, …` carries prior columns forward). */
  def holtWintersSql(dailySql: String, m: Int = 7): String = {
    def sdiv(v: String, q: Long) =
      s"(CASE WHEN ($v) >= 0 THEN ($v) // $q ELSE -((-($v)) // $q) END)"
    val n = 2 * m
    val xs = (1 to n).map(i =>
      s"min(CASE WHEN rn = $i THEN x END) AS x$i").mkString(",\n  ")
    val week1 = (1 to m).map(i => s"x$i").mkString(" + ")
    val week2 = ((m + 1) to n).map(i => s"x$i").mkString(" + ")
    val seeds = (1 to m).map(i => s"x$i - l$m AS s$i").mkString(", ")
    val steps = ((m + 1) to n).map { t =>
      val from = if (t == m + 1) "hs" else s"h${t - 1}"
      // two nested CTE hops per step: l_t first (b_t and s_t read it)
      s"""h${t}a AS (SELECT *,
         |  ${sdiv(s"(x$t - s${t - m}) + l${t - 1} + b${t - 1}", 2)} AS l$t
         |  FROM $from),
         |h$t AS (SELECT *,
         |  ${sdiv(s"(l$t - l${t - 1}) + b${t - 1}", 2)} AS b$t,
         |  ${sdiv(s"(x$t - l$t) + s${t - m}", 2)} AS s$t
         |  FROM h${t}a)""".stripMargin
    }.mkString(",\n")
    s"""WITH series AS ($dailySql),
       |ranked AS (
       |  SELECT key, x, row_number() OVER (PARTITION BY key
       |           ORDER BY t, tie) AS rn
       |  FROM series),
       |piv AS (
       |  SELECT key, count(*) AS cnt,
       |  $xs
       |  FROM ranked WHERE rn <= $n GROUP BY key),
       |h$m AS (
       |  SELECT *, ${sdiv(week1, m)} AS l$m,
       |         ${sdiv(s"($week2) - ($week1)", m.toLong * m)} AS b$m
       |  FROM piv WHERE cnt = $n),
       |hs AS (SELECT *, $seeds FROM h$m),
       |$steps
       |SELECT key, CAST(l$n AS BIGINT) AS level,
       |       CAST(b$n AS BIGINT) AS trend,
       |       CAST(s${m + 1} AS BIGINT) AS season_next,
       |       CAST(l$n + b$n + s${m + 1} AS BIGINT) AS forecast
       |FROM h$n""".stripMargin
  }

  /** Burstiness per key as the Fano factor of per-bucket event counts:
    * variance-to-mean ratio over the OBSERVED buckets (Poisson arrivals
    * → 1; bursty → > 1; regular → < 1). ALL integer: with S = Σc,
    * Q = Σc², fano_e6 = (n·Q − S²)·10⁶ div (n·S) — population variance
    * over mean, one truncating division, no doubles anywhere. Keys
    * with a single bucket yield 0 variance. `bucketCol` is the
    * pre-computed integer bucket (e.g. epoch day). Output:
    * (key, n_buckets, fano_e6).
    *
    * Scale: two map-side-combinable aggregates, both keyed. */
  def fanoFactor(df: DataFrame, keyCol: String,
                 bucketCol: String): DataFrame = {
    df.groupBy(col(keyCol).as("key"), col(bucketCol).as("bucket"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("c").cast(dec)).as("s"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("q"))
      .selectExpr("key", "CAST(n AS BIGINT) AS n_buckets",
        "CAST((n * q - s * s) * 1000000 div (n * s) AS BIGINT) AS fano_e6")
  }

  /** Multi-lag autocorrelation function of a per-key daily count
    * series, lags 1..`maxLag` — the full ACF behind the lag-1
    * [[autocorr]], with the CLASSIC estimator (global mean and global
    * variance denominator, so r_k comparisons across lags are
    * well-defined): r_k = Σ_t (x_t − μ)(x_{t+k} − μ) / Σ_t (x_t − μ)².
    * Scaled by n to stay exact: numerator terms are (n·x_t − S)·
    * (n·x_{t+k} − S) in DECIMAL(38,0); ONE double division per lag,
    * round 6. Output: (key, lag, n_pairs, r).
    *
    * Scale: the day axis comes from ONE keyed count aggregate and is
    * bounded; the lag pairing is a keyed equi-join on (key, day + k)
    * with a bounded `maxLag` fan-out. */
  def acf(df: DataFrame, keyCol: String, dayCol: String,
          maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64)
    val ax = df.groupBy(col(keyCol).as("key"), col(dayCol).as("day"))
      .agg(count(lit(1)).cast(dec).as("x"))
      .localCheckpoint(false) // day axis: bounded; ONE raw scan
    val tot = ax.groupBy(col("key"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("s"))
    val cen = ax.join(tot, "key")
      .select(col("key"), col("day"), (col("n") * col("x") - col("s")).as("c"))
    val den = cen.groupBy(col("key")).agg(sum(col("c") * col("c")).as("den"))
    cen
      .select(col("key"), col("day"), col("c"),
        explode(expr(s"sequence(1, $maxLag)")).as("lag"))
      .withColumn("pd", col("day") + col("lag"))
      .join(cen.select(col("key"), col("day").as("pd"), col("c").as("cl")),
        Seq("key", "pd"))
      .groupBy(col("key"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("c") * col("cl")).as("num"))
      .join(den, "key")
      .selectExpr("key", "CAST(lag AS BIGINT) AS lag",
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        """CASE WHEN den = 0 THEN NULL
          |     ELSE round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
          |END AS r""".stripMargin)
  }

  /** Rolling-origin backtest of the SEASONAL-NAIVE forecaster: for each
    * of the last `horizon` days of a per-key daily count series, the
    * forecast is the mean count over SAME-day-of-week training days
    * strictly before the cutoff, as an exact e6 integer (sum·10⁶ div
    * n_train); the absolute error is |actual·10⁶ − forecast_e6|. Test
    * days whose dow never occurred before the cutoff emit nothing.
    * Output: (key, day, n_train, forecast_e6, actual, abs_err_e6).
    *
    * Scale: the day axis (key × observed days) comes from ONE keyed
    * count aggregate and is BOUNDED (time buckets); the train↔test
    * pairing is a keyed self-join on that axis, quadratic only in the
    * bounded day count. */
  def backtestSeasonalNaive(df: DataFrame, keyCol: String, dayCol: String,
                            horizon: Int): DataFrame = {
    require(horizon >= 1)
    val ax = df.groupBy(col(keyCol).as("key"), col(dayCol).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
      .localCheckpoint(false) // day axis: bounded; ONE raw scan
    val maxDay = ax.groupBy(col("key")).agg(max(col("day")).as("md"))
    val test = ax.join(maxDay, "key")
      .filter(col("day") > col("md") - horizon.toLong)
    test.as("t")
      .join(ax.as("r"), col("t.key") === col("r.key") &&
        col("t.dow") === col("r.dow") && col("r.day") < col("t.day"))
      .groupBy(col("t.key").as("key"), col("t.day").as("day"),
        col("t.c").as("actual"))
      .agg(count(lit(1)).as("n_train"), sum(col("r.c")).as("s"))
      .selectExpr("key", "day", "n_train",
        "s * 1000000 div n_train AS forecast_e6", "actual",
        "abs(actual * 1000000 - s * 1000000 div n_train) AS abs_err_e6")
  }

  /** OHLC (open/high/low/close) candlestick aggregation: per key and
    * fixed time bucket, first/last value by (t, tie) plus min/max and
    * count. First/last are struct-extrema aggregates — min/max of
    * (t, tie, x) with the unique tie column making the ordering total,
    * so ONE map-side-combinable groupBy does everything: no window, no
    * per-bucket sort, no second shuffle. `bucketWidth` is in the raw
    * units of `tsCol` (e.g. 86 400e9 for daily buckets over nanos).
    * Output: (key, bucket, open_cents, high_cents, low_cents,
    * close_cents, n_events). */
  def ohlc(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
           centsCol: String, bucketWidth: Long): DataFrame =
    df.select(col(keyCol).as("key"), col(tsCol).as("t"),
        col(tieCol).as("tie"), col(centsCol).as("x"))
      .withColumn("bucket", expr(s"t div ${bucketWidth}L"))
      .groupBy(col("key"), col("bucket"))
      .agg(
        min(struct(col("t"), col("tie"), col("x"))).getField("x")
          .as("open_cents"),
        max(col("x")).as("high_cents"),
        min(col("x")).as("low_cents"),
        max(struct(col("t"), col("tie"), col("x"))).getField("x")
          .as("close_cents"),
        count(lit(1)).as("n_events"))

  /** Clamp-at-zero running balance per key (inventory/credit semantics:
    * stock can't go negative; excess demand is lost, not backordered).
    * The recursion W_n = max(0, W_{n−1} + x_n) looks sequential, but the
    * LINDLEY REFLECTION identity closes it over prefix sums:
    *   W_n = S_n − min(0, min_{k≤n} S_k)
    * so balance, running peak, and clamp events (W_{n−1} + x_n < 0 ⟺
    * S_n < min_{k<n} S_k floored at 0) all fall out of ordinary
    * cumulative windows — no fold, no per-key buffering, and the oracle
    * is plain windowed SQL. All-integer. Output: (key, balance, peak,
    * n_clamps, n_moves).
    *
    * Scale: ONE keyed shuffle — the cumulative sum/min windows and the
    * final per-key aggregate all share the same partitioning; contrast
    * with the collect-and-fold shape ([[ewmaHalf]]) this identity
    * avoids. */
  def clampedBalance(df: DataFrame, keyCol: String, tsCol: String,
                     tieCol: String, deltaCol: String): DataFrame = {
    val ord = Window.partitionBy(col("key")).orderBy(col("t"), col("tie"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(keyCol).as("key"), col(tsCol).as("t"),
        col(tieCol).as("tie"), col(deltaCol).as("d"))
      .withColumn("run", sum(col("d")).over(cum))
      .withColumn("floor_prev",
        least(lit(0L), coalesce(min(col("run")).over(prev), lit(0L))))
      .withColumn("bal",
        col("run") - least(lit(0L), min(col("run")).over(cum)))
      .withColumn("clamp", when(col("run") < col("floor_prev"), 1L)
        .otherwise(0L))
      .groupBy(col("key"))
      .agg(expr("sum(d) - least(CAST(0 AS BIGINT), min(run))").as("balance"),
        max(col("bal")).as("peak"), sum(col("clamp")).as("n_clamps"),
        count(lit(1)).as("n_moves"))
  }

  /** Lag-1 autocorrelation per key: Pearson correlation between each
    * point and its successor in event-time order — the standard
    * "is this series momentum or mean-reverting" probe (positive =
    * trending, near 0 = noise, negative = oscillating).
    *
    * Determinism across engines: the five sums over the lagged pairs
    * (Σx, Σy, Σx², Σy², Σxy) are computed EXACTLY in DECIMAL(38,0)
    * (the oracle's int128 twin), and only the final ratio goes through
    * doubles — both engines convert the same exact integers with IEEE
    * round-to-nearest, then apply the same *,/,sqrt sequence, so
    * round(…, 6) matches bit-for-bit (the repo's deterministic-double
    * convention). Keys with zero variance on either side emit NULL.
    *
    * Scale: one window pass (lead over the per-key order — the same
    * single exchange every per-key sequence op here pays) + one keyed
    * aggregate. Output: (key, n_pairs, acf1). */
  def autocorr(df: DataFrame, keyCol: String, tsMicrosCol: String,
               tieCol: String, centsCol: String): DataFrame = {
    val ord = Window.partitionBy(col("key")).orderBy(col("t"), col("tie"))
    df.select(col(keyCol).as("key"), col(tsMicrosCol).as("t"),
        col(tieCol).as("tie"), col(centsCol).as("x"))
      .withColumn("y", lead(col("x"), 1).over(ord))
      .filter(col("y").isNotNull)
      .selectExpr("key",
        "CAST(x AS DECIMAL(38,0)) AS x", "CAST(y AS DECIMAL(38,0)) AS y")
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("s1"), sum(col("y")).as("s2"),
        sum(col("x") * col("x")).as("s11"),
        sum(col("y") * col("y")).as("s22"),
        sum(col("x") * col("y")).as("s12"))
      .selectExpr("key", "n_pairs",
        """CASE WHEN n_pairs * s11 - s1 * s1 = 0 OR n_pairs * s22 - s2 * s2 = 0
          |     THEN NULL
          |     ELSE round(CAST(n_pairs * s12 - s1 * s2 AS DOUBLE) /
          |                sqrt(CAST(n_pairs * s11 - s1 * s1 AS DOUBLE) *
          |                     CAST(n_pairs * s22 - s2 * s2 AS DOUBLE)), 6)
          |END AS acf1""".stripMargin)
  }

  /** Lagged cross-correlation between two integer series sampled on a
    * shared integer clock. `x` carries (h, x) and `y` carries (h, y) —
    * one row per OBSERVED bucket; the op densifies both onto the
    * [min h, max h] spine with 0-fill, then for every lag k ∈
    * [0, maxLag] correlates (x_t, y_{t+k}) with the same exactness
    * contract as [[autocorr]]: DECIMAL(38,0) moment sums, one final
    * IEEE ratio, round(…, 6). Output per lag: (lag, n_pairs, xcorr).
    *
    * Scale: the spine is generated per-partition from broadcast
    * bounds; the lag fan-out is an explode by (maxLag+1) before ONE
    * (lag)-keyed moment aggregate — no self-join of the series. */
  def crossCorr(x: DataFrame, y: DataFrame, maxLag: Int): DataFrame = {
    require(maxLag >= 0 && maxLag <= 64, "maxLag must be in [0, 64]")
    val xc = x.localCheckpoint(false) // bucket axis: tiny; ONE pass per input
    val yc = y.localCheckpoint(false)
    val bounds = xc.select(col("h")).unionByName(yc.select(col("h")))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = broadcast(bounds)
      .select(explode(sequence(col("h0"), col("h1"))).as("h"))
    val sx = spine.join(xc, Seq("h"), "left")
      .select(col("h"), coalesce(col("x"), lit(0L)).as("x"))
    val sy = spine.join(yc, Seq("h"), "left")
      .select(col("h"), coalesce(col("y"), lit(0L)).as("y"))
    val lagged = sy.select(explode(sequence(lit(0), lit(maxLag))).as("lag"),
      (col("h") - col("lag")).as("h"), col("y"))
    sx.join(lagged, "h")
      .selectExpr("lag", "CAST(x AS DECIMAL(38,0)) AS x",
        "CAST(y AS DECIMAL(38,0)) AS y")
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("s1"), sum(col("y")).as("s2"),
        sum(col("x") * col("x")).as("s11"),
        sum(col("y") * col("y")).as("s22"),
        sum(col("x") * col("y")).as("s12"))
      .selectExpr("CAST(lag AS BIGINT) AS lag", "n_pairs",
        """CASE WHEN n_pairs * s11 - s1 * s1 = 0 OR n_pairs * s22 - s2 * s2 = 0
          |     THEN NULL
          |     ELSE round(CAST(n_pairs * s12 - s1 * s2 AS DOUBLE) /
          |                sqrt(CAST(n_pairs * s11 - s1 * s1 AS DOUBLE) *
          |                     CAST(n_pairs * s22 - s2 * s2 AS DOUBLE)), 6)
          |END AS xcorr""".stripMargin)
  }

  def fillGaps(resampled: DataFrame, key: String, everySec: Long = 300L): DataFrame = {
    val span = resampled.groupBy(col(key))
      .agg(min(col("bucket_es")).as("b0"), max(col("bucket_es")).as("b1"))
    val spine = span.select(col(key),
      explode(sequence(col("b0"), col("b1"), lit(everySec))).as("bucket_es"))
    val w = Window.partitionBy(col(key)).orderBy(col("bucket_es"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(resampled, Seq(key, "bucket_es"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("avg_filled_e4", last(col("avg_e4"), ignoreNulls = true).over(w))
      .drop("avg_e4")
  }

  /** Densify like [[fillGaps]] but LINEARLY interpolate gap values between
    * the surrounding observations instead of holding the last one:
    * v = v0 + (v1−v0)·(t−t0)/(t1−t0), in exact e4 integer units with the
    * one division done as floor(double) — the products stay < 2^53 so the
    * double is exact and IEEE division + floor reproduce bit-for-bit in
    * any engine (truncating integer division would disagree with floor
    * division on negative slopes). Leading/trailing edges (no neighbor on
    * one side) hold the available side flat. */
  def interpolate(resampled: DataFrame, key: String, everySec: Long = 300L): DataFrame = {
    val span = resampled.groupBy(col(key))
      .agg(min(col("bucket_es")).as("b0"), max(col("bucket_es")).as("b1"))
    val spine = span.select(col(key),
      explode(sequence(col("b0"), col("b1"), lit(everySec))).as("bucket_es"))
    val back = Window.partitionBy(col(key)).orderBy(col("bucket_es"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col(key)).orderBy(col("bucket_es"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obs = resampled.withColumn("obs_es", col("bucket_es"))
    spine.join(obs, Seq(key, "bucket_es"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("v0", last(col("avg_e4"), ignoreNulls = true).over(back))
      .withColumn("t0", last(col("obs_es"), ignoreNulls = true).over(back))
      .withColumn("v1", first(col("avg_e4"), ignoreNulls = true).over(fwd))
      .withColumn("t1", first(col("obs_es"), ignoreNulls = true).over(fwd))
      .withColumn("interp_e4",
        when(col("t0").isNull, col("v1"))
          .when(col("t1").isNull || (col("t1") === col("t0")), col("v0"))
          .otherwise(col("v0") + floor(
            ((col("v1") - col("v0")) * (col("bucket_es") - col("t0"))).cast("double")
              / (col("t1") - col("t0")).cast("double")).cast("long")))
      .select(col(key), col("bucket_es"), col("cnt"), col("interp_e4"))
  }

  // ── Series-shape operators over a per-key (key, t, v) frame ─────────
  // (t = integer bucket index, v = integer fixed-point value, occupied
  // buckets only). All four keep ONE key-partitioned exchange: windows
  // partition by key, and the rollup that follows groups by the same
  // key, so Catalyst reuses the partitioning.

  /** SAX symbolization: PAA-average `frameLen` consecutive buckets,
    * quartile-code each frame (ntile over the key's own frames — the
    * data-driven breakpoint table, integer-exact unlike classic
    * z-normalized SAX), emit the symbol string in time order. The
    * string is the series' shape fingerprint — equal strings ⇒ similar
    * shape, and downstream ops (motif counting, shape dedup) work on a
    * tiny alphabet instead of raw floats.
    * Output: (key, n_frames, sax). */
  def saxSymbols(series: DataFrame, key: String, frameLen: Int = 4,
                 alphabet: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alphabet >= 2 && alphabet <= 26, "alphabet in [2, 26]")
    val letters = ('a' until ('a' + alphabet).toChar).map(c => s"'$c'")
    val frames = series
      .groupBy(col(key), expr(s"t div $frameLen").as("frame"))
      .agg(expr("sum(v) div count(1)").as("paa"))
    val w = Window.partitionBy(col(key)).orderBy(col("paa"), col("frame"))
    frames.withColumn("q", ntile(alphabet).over(w))
      .withColumn("sym", expr(s"element_at(array(${letters.mkString(",")}), q)"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_frames"),
        expr("array_join(transform(array_sort(collect_list(struct(frame, sym))), x -> x.sym), '')")
          .as("sax"))
  }

  /** Row-pattern mining à la MATCH_RECOGNIZE (which Spark lacks): per
    * key, count strict V-shapes (DOWN+ UP+ at a point: prev > v < next),
    * their maximal depth, and the longest strictly-decreasing run. The
    * run length folds over the collected (t, down) flags with a struct
    * accumulator — per-key state is O(days), the plan stays at ONE
    * exchange. Output: (key, n_points, n_vshapes, max_v_depth,
    * longest_down_run). */
  def vShapeRuns(series: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col("t"))
    series
      .withColumn("pv", lag(col("v"), 1).over(w))
      .withColumn("nv", lead(col("v"), 1).over(w))
      .withColumn("vmin", col("pv") > col("v") && col("nv") > col("v"))
      .withColumn("down", col("v") < col("pv"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("vmin"), 1L).otherwise(0L)).as("n_vshapes"),
        max(when(col("vmin"), least(col("pv"), col("nv")) - col("v"))).as("max_v_depth"),
        expr("""aggregate(
          |  transform(array_sort(collect_list(struct(t, down))), x -> x.down),
          |  named_struct('m', 0L, 'c', 0L),
          |  (acc, d) -> named_struct(
          |    'm', greatest(acc.m, CASE WHEN d THEN acc.c + 1L ELSE 0L END),
          |    'c', CASE WHEN d THEN acc.c + 1L ELSE 0L END),
          |  acc -> acc.m)""".stripMargin).as("longest_down_run"))
  }

  /** Theil–Sen robust slope per key: the LOWER MEDIAN of all pairwise
    * slopes (v_j − v_i)·10⁶ div (t_j − t_i), i < j — the classic
    * outlier-immune trend (breakdown point 29%). The pair join is
    * per-key, so work is Σ_key days², bounded by the series length, not
    * the raw row count; ties order by (slope, t_i, t_j) so the median
    * pick is deterministic. Output: (key, n_points, n_pairs,
    * slope_e6). */
  def theilSen(series: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s0 = series.localCheckpoint(false) // series axis: tiny; ONE raw scan
    val a = s0.select(col(key), col("t").as("ti"), col("v").as("vi"))
    val b = s0.select(col(key), col("t").as("tj"), col("v").as("vj"))
    val pairs = a.join(b, Seq(key)).filter(col("ti") < col("tj"))
      .withColumn("slope_e6",
        // sign factored out: truncating div on POSITIVE operands is
        // identical in Spark (`div`) and DuckDB (`//`); on negatives
        // they disagree (truncate vs floor)
        expr("""CASE WHEN vj >= vi THEN (vj - vi) * 1000000L div (tj - ti)
               |     ELSE -((vi - vj) * 1000000L div (tj - ti)) END""".stripMargin))
    val w = Window.partitionBy(col(key))
    val wOrd = w.orderBy(col("slope_e6"), col("ti"), col("tj"))
    pairs
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("np", count(lit(1)).over(w))
      .filter(expr("rn = (np + 1) div 2"))
      .join(s0.groupBy(col(key)).agg(count(lit(1)).as("n_points")), key)
      .select(col(key), col("n_points"), col("np").as("n_pairs"),
        col("slope_e6"))
  }

  /** MASE-style forecast-error ratio per key: MAE of the seasonal-naive
    * forecast (v_{t−season}) over MAE of the one-step naive (v_{t−1}),
    * both summed over the rows where BOTH lags exist (row-based lags
    * over occupied buckets). < 1e6 means the seasonal pattern beats
    * plain persistence. Output: (key, n, mae_naive_cents_e?, …,
    * mase_e6). */
  def maseRatio(series: DataFrame, key: String, season: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(key)).orderBy(col("t"))
    series
      .withColumn("l1", lag(col("v"), 1).over(w))
      .withColumn("ls", lag(col("v"), season).over(w))
      .filter(col("l1").isNotNull && col("ls").isNotNull)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(abs(col("v") - col("l1"))).as("sae_naive"),
        sum(abs(col("v") - col("ls"))).as("sae_seasonal"))
      .withColumn("mase_e6",
        expr("CASE WHEN sae_naive = 0 THEN NULL ELSE sae_seasonal * 1000000L div sae_naive END"))
  }

  /** Watermark-lateness audit — the BATCH answer to "is the streaming
    * watermark wide enough for this feed": replay events in arrival order
    * (`seqCol`, the producer's append sequence) per key, track the
    * running max event time (what the stream's watermark tracker sees),
    * and classify each event against watermark = maxSoFar − `delayUs`:
    * kept if its event time is ≥ the watermark at arrival, dropped
    * otherwise — exactly the Structured Streaming admission rule
    * (`withWatermark`). Output per key: (key, n, n_kept, n_dropped,
    * max_late_s — worst lateness beyond the delay among drops, 0 if
    * none).
    *
    * Scale: one key-partitioned arrival-order window + one keyed
    * aggregate — the sessionizer shuffle shape, nothing global. */
  def watermarkAudit(df: DataFrame, keyCol: String, tsCol: String,
                     seqCol: String, delayUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(delayUs >= 0L)
    val w = Window.partitionBy(col("k")).orderBy(col("seq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(keyCol).as("k"), unix_micros(col(tsCol)).as("t_us"),
        col(seqCol).as("seq"))
      .withColumn("wm_us", max(col("t_us")).over(w) - delayUs)
      .withColumn("late_us",
        when(col("wm_us").isNull, 0L)
          .otherwise(greatest(col("wm_us") - col("t_us"), lit(0L))))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("late_us") === 0L, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("late_us") > 0L, 1L).otherwise(0L)).as("n_dropped"),
        expr("max(late_us) div 1000000 AS max_late_s"))
  }

  /** Croston's method for intermittent demand: per key, z = the α=½
    * truncating EWMA of NONZERO demand sizes (oldest first) and p = the
    * same EWMA of the inter-demand day gaps; the per-period forecast is
    * z/p. Gaps come from a key-partitioned lag window FIRST so both
    * folds keep scalar `(acc + x) div 2` accumulators — the
    * [[ewmaHalf]] oracle contract (DuckDB's struct-accumulator
    * list_reduce is broken, SURVEY §7.4j). The first demand has no gap
    * (NULL → dropped by collect_list / the oracle's FILTER). Output:
    * (key, n_demands, z_q, p_days, forecast_e3).
    *
    * Scale: one (key, day) aggregate off the raw scan, one
    * key-partitioned lag window, one keyed fold — demand sequences are
    * per-key and bounded by the calendar, never a global sort. */
  def croston(df: DataFrame, keyCol: String, dayCol: String,
              qtyCol: String): DataFrame = {
    val nz = df.select(col(keyCol).as("key"), col(dayCol).as("day"),
        col(qtyCol).as("q"))
      .filter(col("q") > 0L)
      .groupBy(col("key"), col("day")).agg(sum(col("q")).as("q"))
    nz.withColumn("gap", col("day") -
        lag(col("day"), 1).over(Window.partitionBy(col("key")).orderBy(col("day"))))
      .groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("day"), col("q")))).as("qs"),
        sort_array(collect_list(when(col("gap").isNotNull,
          struct(col("day"), col("gap"))))).as("gs"))
      .select(col("key"),
        expr("size(qs)").cast("long").as("n_demands"),
        expr("aggregate(qs, CAST(0 AS BIGINT), (acc, x) -> (acc + x.q) div 2)")
          .as("z_q"),
        expr("aggregate(gs, CAST(0 AS BIGINT), (acc, x) -> (acc + x.gap) div 2)")
          .as("p_days"))
      .withColumn("forecast_e3",
        expr("z_q * 1000 div greatest(p_days, 1)"))
  }

  /** Permutation entropy of order 3: the series' value sequence is cut
    * into overlapping windows of 3 consecutive points (key-partitioned
    * lag windows), each window maps to its ordinal pattern — encoded as
    * the 3 pairwise `<=` bits (a≤b)+2·(b≤c)+4·(a≤c), 6 of the 8 codes
    * are order-consistent and reachable — and the pattern distribution's
    * entropy comes out in e6 log₂ units via the shared fixed-point
    * table, normalized by log₂(6) (the literal is [[Bm25.log2E6Int]] at
    * plan-build time, so the Spark plan and the SQL oracle embed the
    * identical constant). Low values = predictable dynamics, 10⁶ =
    * white noise. Output: (key, n_windows, n_patterns, h_e6, norm_e6).
    *
    * Scale: key-partitioned lag windows + a (key, pattern) count
    * aggregate — the pattern axis is ≤ 6 rows per key. */
  def permutationEntropy(df: DataFrame, keyCol: String, tsCol: String,
                         tieCol: String, vCol: String): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("t"), col("tie"))
    val pat = df.select(col(keyCol).as("key"), col(tsCol).as("t"),
        col(tieCol).as("tie"), col(vCol).as("v"))
      .withColumn("a", lag(col("v"), 2).over(w))
      .withColumn("b", lag(col("v"), 1).over(w))
      .filter(col("a").isNotNull)
      .withColumn("pid",
        (col("a") <= col("b")).cast("long") +
          (col("b") <= col("v")).cast("long") * 2 +
          (col("a") <= col("v")).cast("long") * 4)
    val cnt = pat.groupBy(col("key"), col("pid")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("key")).agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_patterns"))
      .join(cnt, "key")
      .withColumn("contrib",
        col("c") * (Bm25.log2E6(col("n")) - Bm25.log2E6(col("c"))))
      .groupBy(col("key"))
      .agg(max(col("n")).as("n_windows"),
        max(col("n_patterns")).as("n_patterns"),
        expr("sum(contrib) div max(n)").as("h_e6"))
      .withColumn("norm_e6",
        expr(s"h_e6 * 1000000 div ${Bm25.log2E6Int(6L)}"))
  }

  /** Epoch-folding periodicity scan: fold the event-hour stream by
    * each candidate period p (phase = hour mod p), compare observed
    * per-phase event counts against the uniform expectation scaled by
    * each phase's SUPPORT in the dense [h₀, h₁] hour spine (a 719-hour
    * span is NOT an integer number of weeks — unequal support is the
    * normal case, not a corner), and score χ² in e3 fixed point:
    * contrib = (o·10³ − e_e3)² div e_e3 = (o−e)²/e · 10³. The true
    * period and its harmonics score high; off-periods hug 0. Output one
    * row per candidate: (p, n_phases, n_events, chi2_e3).
    *
    * Scale: the spine is |hours| rows (calendar-bounded, broadcast);
    * events reduce to one hour-keyed count before touching it — the
    * phase grid is Σp rows per candidate set. */
  def epochFolding(df: DataFrame, tsMicrosCol: String,
                   periods: Seq[Int]): DataFrame = {
    import df.sparkSession.implicits._
    val hours = df.select(expr(s"$tsMicrosCol div 3600000000").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("o_h"))
      .localCheckpoint(false) // hour axis: calendar-bounded; ONE raw scan
    val bounds = hours.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = bounds.select(explode(expr("sequence(h0, h1)")).as("h"))
    val pdf = periods.toDF("p")
    val support = spine.crossJoin(broadcast(pdf))
      .groupBy(col("p"), (col("h") % col("p")).as("ph"))
      .agg(count(lit(1)).as("s_ph"))
    val sTot = support.groupBy(col("p")).agg(sum(col("s_ph")).as("s_tot"))
    val obs = hours.crossJoin(broadcast(pdf))
      .groupBy(col("p"), (col("h") % col("p")).as("ph"))
      .agg(sum(col("o_h")).as("o_ph"))
    val tot = hours.agg(sum(col("o_h")).as("n_events"))
    support.join(obs, Seq("p", "ph"), "left")
      .withColumn("o_ph", coalesce(col("o_ph"), lit(0L)))
      .join(broadcast(sTot), "p").crossJoin(broadcast(tot))
      .withColumn("e_e3",
        expr("greatest((n_events * s_ph * 1000) div s_tot, 1)"))
      .withColumn("contrib",
        expr("((o_ph * 1000 - e_e3) * (o_ph * 1000 - e_e3)) div e_e3"))
      .groupBy(col("p").cast("long").as("p"))
      .agg(count(lit(1)).as("n_phases"), max(col("n_events")).as("n_events"),
        sum(col("contrib")).as("chi2_e3"))
  }
}
