package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavioral / event-sequence analytics: funnel progression, transition
  * (Markov) matrices, and frequent paths. The reference's event stream
  * (`mbta_to_kafka.py` positions keyed by vehicle) is exactly this shape —
  * a keyed, time-ordered sequence — and these are the standard questions a
  * telemetry engine answers over it.
  *
  * Scale design: every operator here is ONE shuffle on the entity key.
  * The funnel in particular avoids the naive step-cascade (one join per
  * funnel step → k shuffles): the whole per-entity sequence folds through
  * a state machine inside a single codegen'd higher-order `aggregate`
  * expression, so adding funnel steps adds zero shuffles.
  */
object Behavior {

  /** Highest funnel stage each entity reaches (0 = none), where stage k
    * requires an event of `steps(k-1)` STRICTLY after the event that
    * reached stage k-1 (greedy earliest progression — equivalent to the
    * stepwise `min ts > prev` definition because the fold scans in time
    * order). Events are sorted by (ts, type) per entity; ties cannot
    * regress the state machine because a non-matching event leaves the
    * accumulator unchanged.
    *
    * One shuffle (groupBy entity); the fold is O(events per entity) with
    * constant state — no join cascade, no window functions.
    */
  def funnelStages(events: DataFrame, entityCol: String, tsMicrosCol: String,
                   typeCol: String, steps: Seq[String],
                   maxStepGapUs: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty && steps.forall(_.matches("[A-Za-z0-9_]+")),
      "funnel steps must be simple identifiers")
    require(maxStepGapUs.forall(_ > 0), "maxStepGapUs must be positive")
    val cases = steps.zipWithIndex.map { case (st, i) =>
      // optional step deadline: stage k (k ≥ 2) must land within the gap
      // of stage k-1's reach time — one more guard, same one-shuffle plan.
      // Greedy-earliest stays ≡ stepwise-min: the gap only truncates each
      // stage's candidate set from above, and the fold still takes its
      // minimum.
      val gap = maxStepGapUs.filter(_ => i > 0)
        .map(g => s" AND x.t - acc.t <= ${g}L").getOrElse("")
      s"WHEN acc.stage = $i AND x.et = '$st' AND x.t > acc.t$gap THEN named_struct('stage', ${i + 1}, 't', x.t)"
    }.mkString(" ")
    events
      .select(col(entityCol).as("entity"), col(tsMicrosCol).as("t"),
        col(typeCol).as("et"))
      .groupBy(col("entity"))
      .agg(sort_array(collect_list(struct(col("t"), col("et")))).as("seq"))
      .withColumn("stage", expr(
        s"""aggregate(seq, named_struct('stage', 0, 't', CAST(-1 AS BIGINT)),
           |          (acc, x) -> CASE $cases ELSE acc END).stage""".stripMargin))
      .select(col("entity"), col("stage"))
  }

  /** Per-entity first-reach time of every funnel stage (null once the
    * funnel stalls): the same one-shuffle sorted fold as [[funnelStages]],
    * but the accumulator carries the full vector of stage times t1..tk,
    * so conversion lags (t2−t1, …) fall out as projections. Stage i+1
    * requires an event of `steps(i)` strictly after t_i; because stages
    * fill strictly in order, at most one CASE branch can fire per event. */
  def funnelTimes(events: DataFrame, entityCol: String, tsMicrosCol: String,
                  typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.forall(_.matches("[A-Za-z0-9_]+")),
      "funnel steps must be simple identifiers")
    val n = steps.size
    def stateOf(times: Seq[String]) =
      times.zipWithIndex.map { case (t, i) => s"'t${i + 1}', $t" }
        .mkString("named_struct(", ", ", ")")
    val init = stateOf(Seq.fill(n)("CAST(NULL AS BIGINT)"))
    val cases = steps.zipWithIndex.map { case (st, i) =>
      val guard = if (i == 0) "acc.t1 IS NULL"
        else s"acc.t${i + 1} IS NULL AND acc.t$i IS NOT NULL AND x.t > acc.t$i"
      val next = stateOf((1 to n).map(j => if (j == i + 1) "x.t" else s"acc.t$j"))
      s"WHEN $guard AND x.et = '$st' THEN $next"
    }.mkString(" ")
    events
      .select(col(entityCol).as("entity"), col(tsMicrosCol).as("t"),
        col(typeCol).as("et"))
      .groupBy(col("entity"))
      .agg(sort_array(collect_list(struct(col("t"), col("et")))).as("seq"))
      .withColumn("times", expr(
        s"aggregate(seq, $init, (acc, x) -> CASE $cases ELSE acc END)"))
      .select(col("entity") +: (1 to n).map(i => col(s"times.t$i").as(s"t$i")): _*)
  }

  /** Per-SESSION funnels: split each entity's stream into gap-bounded
    * sessions (a new session starts when the inter-event gap exceeds
    * `sessionGapUs`), then run the funnel state machine independently
    * inside each session. One row per (entity, session) with the session
    * start time and the highest stage reached in that session.
    *
    * Still ONE shuffle: sessionization does not get its own window pass —
    * the same sorted fold that advances the funnel also watches the gap,
    * closing the current session into an accumulator array and restarting
    * the state machine. Adding sessions, like adding steps, adds zero
    * shuffles. Per-entity state is O(sessions); entities with pathological
    * session counts are bounded by their event count, the same row-group
    * bound `collect_list` already has.
    */
  def funnelSessions(events: DataFrame, entityCol: String,
                     tsMicrosCol: String, typeCol: String,
                     steps: Seq[String], sessionGapUs: Long): DataFrame = {
    require(steps.nonEmpty && steps.forall(_.matches("[A-Za-z0-9_]+")),
      "funnel steps must be simple identifiers")
    require(sessionGapUs > 0, "sessionGapUs must be positive")
    // A fresh session opened by event x: only step 1 can match immediately.
    def fresh(done: String) =
      s"""named_struct('done', $done, 'start', x.t, 'last', x.t,
         |  'stage', IF(x.et = '${steps.head}', 1, 0),
         |  'rt', IF(x.et = '${steps.head}', x.t, CAST(-1 AS BIGINT)))""".stripMargin
    val closed =
      "concat(acc.done, array(named_struct('st', acc.start, 'stage', acc.stage)))"
    val stepCases = steps.zipWithIndex.map { case (st, i) =>
      s"""WHEN acc.stage = $i AND x.et = '$st' AND x.t > acc.rt
         |  THEN named_struct('done', acc.done, 'start', acc.start,
         |    'last', x.t, 'stage', ${i + 1}, 'rt', x.t)""".stripMargin
    }.mkString("\n")
    val init =
      """named_struct(
        |  'done', CAST(array() AS array<struct<st: bigint, stage: int>>),
        |  'start', CAST(-1 AS BIGINT), 'last', CAST(-1 AS BIGINT),
        |  'stage', 0, 'rt', CAST(-1 AS BIGINT))""".stripMargin
    events
      .select(col(entityCol).as("entity"), col(tsMicrosCol).as("t"),
        col(typeCol).as("et"))
      .groupBy(col("entity"))
      .agg(sort_array(collect_list(struct(col("t"), col("et")))).as("seq"))
      .withColumn("fin", expr(
        s"""aggregate(seq, $init, (acc, x) -> CASE
           |  WHEN acc.start < 0 THEN ${fresh("acc.done")}
           |  WHEN x.t - acc.last > ${sessionGapUs}L THEN ${fresh(closed)}
           |  $stepCases
           |  ELSE named_struct('done', acc.done, 'start', acc.start,
           |    'last', x.t, 'stage', acc.stage, 'rt', acc.rt)
           |END)""".stripMargin))
      .withColumn("s", explode(expr(
        """IF(fin.start >= 0,
          |   concat(fin.done, array(named_struct('st', fin.start, 'stage', fin.stage))),
          |   fin.done)""".stripMargin)))
      .select(col("entity"), col("s.st").as("session_start_us"),
        col("s.stage").as("stage"))
  }

  /** Per-stage session conversion rates over [[funnelSessions]] output:
    * for each stage k, how many sessions reached at least k and what
    * fraction of all sessions that is (e6-integer rate — cross-engine
    * exact). One single-row aggregate over the session table (every
    * per-stage count is a conditional sum in the same pass), then the row
    * unpivots to one row per stage via a literal stage array — no second
    * scan, no shuffle beyond the funnel's own.
    */
  def funnelConversion(events: DataFrame, entityCol: String,
                       tsMicrosCol: String, typeCol: String,
                       steps: Seq[String], sessionGapUs: Long): DataFrame = {
    val sessions = funnelSessions(events, entityCol, tsMicrosCol, typeCol,
      steps, sessionGapUs)
    val aggs = count(lit(1)).as("total") +:
      steps.indices.map(i =>
        sum(when(col("stage") >= i + 1, 1L).otherwise(0L)).as(s"n${i + 1}"))
    val stageStructs = steps.indices.map(i =>
      struct(lit(i + 1).cast("int").as("stage"), col(s"n${i + 1}").as("n")))
    sessions.agg(aggs.head, aggs.tail: _*)
      .select(col("total"), explode(array(stageStructs: _*)).as("s"))
      .select(col("s.stage").as("stage"), col("s.n").as("n_sessions"),
        expr("s.n * 1000000L div total").as("rate_e6"))
  }

  /** Distinct `valueCol` count in the TRAILING event-time horizon
    * (t − horizonUs, t] at every event — "how many distinct event types
    * did this user produce in the last 24 h", evaluated at each event.
    *
    * The naive form is a per-event window re-scan (quadratic per entity).
    * This is the linear interval-stabbing identity instead: an occurrence
    * at time t with next same-value occurrence at nt is the window's
    * representative of its value exactly while the query time lies in
    * [t, min(nt, t + horizon)) — so each occurrence emits +1 at its start
    * and −1 at its (exclusive) end, and the answer at a query point is
    * the running sum of deltas at positions ≤ it, deltas applying before
    * queries at equal positions. The 3× row expansion happens via explode
    * (narrow — PRESERVES the entity hash partitioning; a union would
    * destroy it, UnionExec just concatenates partitions), so both window
    * passes share ONE exchange and no state ever exceeds a running long.
    */
  def slidingDistinct(events: DataFrame, entityCol: String, tsCol: String,
                      tieCol: String, valueCol: String,
                      horizonUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(horizonUs > 0, "horizonUs must be positive")
    val e = events.select(col(entityCol).as("entity"), col(tsCol).as("t"),
      col(tieCol).as("tie"), col(valueCol).as("v"))
    // next same-value occurrence, from ONE entity-partitioned window (the
    // lead-under-value-sort trick — no (entity, value) shuffle)
    val byValue = Window.partitionBy(col("entity"))
      .orderBy(col("v"), col("t"), col("tie"))
    val endPos = least(coalesce(col("nt"), col("t") + horizonUs),
      col("t") + horizonUs)
    val running = Window.partitionBy(col("entity"))
      .orderBy(col("pos"), col("q"), col("tie2"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("nt",
        when(lead(col("v"), 1).over(byValue) === col("v"),
          lead(col("t"), 1).over(byValue)))
      .select(col("entity"), explode(array(
        struct(col("t").as("pos"), lit(0).as("q"), lit(0L).as("tie2"),
          lit(1L).as("d")),
        struct(endPos.as("pos"), lit(0).as("q"), lit(0L).as("tie2"),
          lit(-1L).as("d")),
        struct(col("t").as("pos"), lit(1).as("q"), col("tie").as("tie2"),
          lit(0L).as("d")))).as("s"))
      .select(col("entity"), col("s.pos").as("pos"), col("s.q").as("q"),
        col("s.tie2").as("tie2"), col("s.d").as("d"))
      .withColumn("n_distinct", sum(col("d")).over(running))
      .filter(col("q") === 1)
      .select(col("entity"), col("pos").as("t"), col("tie2").as("tie"),
        col("n_distinct"))
  }

  /** First-order transition counts src→dst over each entity's time-ordered
    * event stream, with an integer transition probability in e6 units
    * (`cnt * 1e6 div Σ_src cnt` — all-integer, so cross-engine exact).
    * One shuffle for the per-entity ordering window, one for the pair
    * aggregate; the final per-src normalization window runs over the
    * already-tiny (src, dst) table. */
  def transitions(events: DataFrame, entityCol: String, tsCol: String,
                  typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol))
    events
      .withColumn("dst", lead(col(typeCol), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col(typeCol).as("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("prob_e6", expr(
        "cnt * 1000000 div sum(cnt) OVER (PARTITION BY src)"))
  }

  /** Running distinct-count of `valueCol` per entity in event-time order —
    * "how many distinct event types has this user produced so far" at
    * every event. Spark (like ANSI) has no `count(DISTINCT) OVER`, so this
    * uses the standard identity: flag each value's FIRST occurrence per
    * entity, then running-sum the flags over the entity's time order.
    * Both window passes partition by the ENTITY alone — the first-
    * occurrence flag comes from `lag(value)` under a (value, ts) sort
    * rather than a per-(entity, value) partition — so the plan has exactly
    * ONE exchange and two sorts; a per-(entity, value) row_number would
    * cost a second shuffle. `tieCol` must be a per-row unique key so the
    * running count is deterministic under timestamp ties.
    */
  def cumulativeDistinct(events: DataFrame, entityCol: String, tsCol: String,
                         tieCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byValue = Window.partitionBy(col(entityCol))
      .orderBy(col(valueCol), col(tsCol), col(tieCol))
    val running = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("is_first",
        when(lag(col(valueCol), 1).over(byValue).isNull ||
          lag(col(valueCol), 1).over(byValue) =!= col(valueCol), 1L)
          .otherwise(0L))
      .withColumn("n_distinct", sum(col("is_first")).over(running))
      .drop("is_first")
  }

  /** First/last-touch marketing attribution: for every conversion event,
    * which channel (event type) touched the entity first and last inside
    * the lookback window before it. The touch candidates are encoded as
    * a single sortable long — t·8 + channel-code (timestamps are unique
    * within an entity, codes < 8) — so min/max RANGE windows find both
    * touches with no join, no struct comparison, and full cross-engine
    * exactness (the as-of-join packing trick applied to attribution).
    * Conversions with no in-window touch attribute to '(none)'.
    *
    * Scale: ONE entity-keyed shuffle carrying two range-frame windows,
    * then a tiny channel-level aggregate. Output per channel:
    * (channel, first_touch, last_touch) conversion counts. */
  def attribution(events: DataFrame, entityCol: String, tsMicrosCol: String,
                  typeCol: String, convType: String, channels: Seq[String],
                  lookbackUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(channels.nonEmpty && channels.size < 8,
      "channel-code packing needs 1..7 channels")
    val code = channels.zipWithIndex
      .foldLeft(when(lit(false), 0L)) { case (acc, (c, i)) =>
        acc.when(col(typeCol) === c, (i + 1).toLong)
      }.otherwise(0L) // 0 = not a touch channel
    def decode(pkCol: String) = channels.zipWithIndex
      .foldLeft(when(lit(false), "")) { case (acc, (c, i)) =>
        acc.when(col(pkCol) % 8 === (i + 1).toLong, c)
      }.otherwise("(none)") // includes pk NULL: no touch in window
    val w = Window.partitionBy(col(entityCol)).orderBy(col("t"))
      .rangeBetween(-lookbackUs, -1L)
    events
      .select(col(entityCol), col(tsMicrosCol).as("t"), col(typeCol),
        code.as("c"))
      .withColumn("packed", when(col("c") > 0, col("t") * 8 + col("c")))
      .withColumn("first_pk", min(col("packed")).over(w))
      .withColumn("last_pk", max(col("packed")).over(w))
      .filter(col(typeCol) === convType)
      .select(decode("first_pk").as("first_ch"),
        decode("last_pk").as("last_ch"))
      .groupBy(col("first_ch"), col("last_ch"))
      .agg(count(lit(1)).as("conversions"))
  }

  /** Activity-day gap profile per entity: over the span [first active
    * day, last active day], how many days were active, how many gap runs
    * (consecutive missing-day stretches), and the longest gap. The
    * standard churn-risk / data-continuity probe. One entity-keyed
    * aggregate to distinct days, one ordered window for day-over-day
    * deltas, one final rollup — all integer day arithmetic. */
  def dayGaps(events: DataFrame, entityCol: String,
              tsMicrosCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(entityCol)).orderBy(col("day"))
    events
      .select(col(entityCol),
        expr(s"CAST($tsMicrosCol AS BIGINT) div 86400000000L").as("day"))
      .distinct()
      .withColumn("gap", col("day") - lag(col("day"), 1).over(w) - 1)
      .groupBy(col(entityCol))
      .agg(min(col("day")).as("d_min"), max(col("day")).as("d_max"),
        count(lit(1)).as("active_days"),
        sum(when(col("gap") > 0, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(max(when(col("gap") > 0, col("gap"))), lit(0L))
          .as("longest_gap"))
  }

  /** Stationary distribution of the event-type Markov chain by `iters`
    * rounds of integer power iteration ([[Graph.propagate]]) over the
    * [[transitions]] matrix:
    * π'(d) = Σ_s π(s)·prob_e6(s→d) div 1e6, every term truncating —
    * all-integer, so the unrolled SQL oracle replays it exactly. Starts
    * from the uniform e6 vector; states with no inbound transitions
    * decay to 0. The state space is the TYPE vocabulary (tiny by
    * construction), so after the one transition-counting shuffle every
    * iteration round is broadcast-sized — the 100 TB cost is the
    * [[transitions]] scan, not the chain analysis. */
  def markovStationary(events: DataFrame, entityCol: String, tsCol: String,
                       typeCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20, "iters must be in [1, 20]")
    val tr = transitions(events, entityCol, tsCol, typeCol)
      .select(col("src"), col("dst"), col("prob_e6")).localCheckpoint(false)
    val states = tr.select(col("src").as("state"))
      .unionByName(tr.select(col("dst").as("state")))
      .distinct().localCheckpoint(false)
    Graph.propagateFor(iters,
        states.select(col("state"), lit(1000000L).as("pi_e6")))(
      Graph.propagate(tr, states, Seq("state"),
        expr("pi_e6 * prob_e6 div 1000000L"), expr("coalesce(in_mass, 0L)"),
        "pi_e6"))
  }

  /** Session entry/exit/bounce profile: sessions are maximal runs with
    * inter-event gaps ≤ `gapUs` per entity; each session's first and
    * last event types are its entry and exit pages, and single-event
    * sessions are bounces. Output per type: (et, entries, exits,
    * bounces) — the standard web-analytics landing/exit report.
    *
    * ONE entity-keyed shuffle (gap flags + session ids + the per-session
    * min_by/max_by all share it — timestamps are unique per entity so
    * the argmin/argmax are deterministic), then a type-keyed rollup over
    * session-level rows (two orders of magnitude smaller than events). */
  def entryExit(events: DataFrame, entityCol: String, tsMicrosCol: String,
                typeCol: String, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gapUs > 0, "gapUs must be positive")
    val sessions = events
      .select(col(entityCol).as("ent"), col(tsMicrosCol).as("t"),
        col(typeCol).as("et"))
      .withColumn("new_s",
        when(col("t") - lag(col("t"), 1).over(
          Window.partitionBy(col("ent")).orderBy(col("t"))) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        Window.partitionBy(col("ent")).orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("ent"), col("sid"))
      .agg(min_by(col("et"), col("t")).as("first_et"),
        max_by(col("et"), col("t")).as("last_et"),
        count(lit(1)).as("n"))
    sessions
      .select(col("first_et").as("et"), lit(1L).as("entry"), lit(0L).as("exit"),
        when(col("n") === 1, 1L).otherwise(0L).as("bounce"))
      .unionByName(sessions.select(col("last_et").as("et"),
        lit(0L).as("entry"), lit(1L).as("exit"), lit(0L).as("bounce")))
      .groupBy(col("et"))
      .agg(sum(col("entry")).as("entries"), sum(col("exit")).as("exits"),
        sum(col("bounce")).as("bounces"))
  }

  /** Top-k most frequent length-3 event-type paths (consecutive per
    * entity). Same single ordering shuffle as [[transitions]]; the path
    * space is tiny (|types|³) so the final top-k is a broadcastable
    * aggregate. Ties break on path text for determinism. */
  def topPaths(events: DataFrame, entityCol: String, tsCol: String,
               typeCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol))
    events
      .withColumn("e2", lead(col(typeCol), 1).over(w))
      .withColumn("e3", lead(col(typeCol), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col(typeCol), col("e2"), col("e3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path"))
      .limit(k)
  }

  /** Markov (removal-effect) multi-touch attribution — the chain-based
    * counterpart of the positional [[attribution]]: user journeys
    * (channel events in (t, tie) order, truncated at the FIRST
    * conversion) become a first-order transition matrix over states
    * {start, channels..., conv, null}; conversion probability is read
    * off by `iters` rounds of absorbing-chain value iteration, and each
    * channel's removal effect is the relative drop in P(conv) when
    * every edge INTO that channel is redirected to the null absorber
    * (the standard "path through a removed touchpoint fails" model).
    * ALL integer: transition probabilities are e6 truncating divisions
    * of counts, each iteration divides ONCE after the row sum, and both
    * engines run the identical K rounds — no convergence test, the
    * K-round estimate IS the defined semantics. Output one row per
    * channel: (channel, p_full_e6, p_removed_e6, removal_e6).
    *
    * Scale: journey assembly is one keyed window pass over the events
    * scan; everything after lives on the STATES×STATES axis (≤ (c+2)²
    * rows, checkpointed), where 5·K tiny joins are noise. */
  def markovAttribution(events: DataFrame, entityCol: String,
                        tsMicrosCol: String, tieCol: String, typeCol: String,
                        convType: String, channels: Seq[String],
                        iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(channels.nonEmpty && iters >= 1 && iters <= 32)
    val ev = events
      .filter(col(typeCol).isin(convType +: channels: _*))
      .select(col(entityCol).as("u"), col(tsMicrosCol).as("t"),
        col(tieCol).as("tie"), col(typeCol).as("et"))
    val convPos = ev.filter(col("et") === convType)
      .groupBy(col("u"))
      .agg(min(struct(col("t"), col("tie"))).as("cp"))
    val chans = ev.filter(col("et") =!= convType)
      .join(convPos, Seq("u"), "left")
      .filter(col("cp").isNull || struct(col("t"), col("tie")) < col("cp"))
      .withColumn("converted", col("cp").isNotNull)
    val ord = Window.partitionBy(col("u")).orderBy(col("t"), col("tie"))
    val steps = chans
      .withColumn("src", lag(col("et"), 1, "start").over(ord))
      .select(col("src"), col("et").as("dst"))
    val terms = chans
      .groupBy(col("u"), col("converted"))
      .agg(max(struct(col("t"), col("tie"), col("et"))).as("last"))
      .select(col("last.et").as("src"),
        when(col("converted"), "conv").otherwise("null").as("dst"))
    val directs = convPos.join(
        chans.select(col("u")).distinct(), Seq("u"), "left_anti")
      .select(lit("start").as("src"), lit("conv").as("dst"))
    val trans = steps.unionByName(terms).unionByName(directs)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col("src"))))
      .selectExpr("src", "dst", "cnt * 1000000 div tot AS prob_e6")
      .localCheckpoint(false) // states axis: ≤ (channels + 2)²
    val spark = events.sparkSession
    import spark.implicits._
    // The matrix is ≤ (channels + 2)² rows: collect ONCE and run the
    // 5 chains × `iters` rounds driver-side (identical integer ops the
    // oracle replays) instead of 5·iters tiny Spark jobs.
    val tm = trans.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def absorb(t: Array[(String, String, Long)]): Long = {
      var p = Map("conv" -> 1000000L, "null" -> 0L) ++
        ("start" +: channels).map(_ -> 0L)
      (1 to iters).foreach { _ =>
        val nxt = t.groupBy(_._1).map { case (src, rows) =>
          src -> rows.map { case (_, dst, prob) =>
            prob * p.getOrElse(dst, 0L)
          }.sum./(1000000L)
        }
        p = Map("conv" -> 1000000L, "null" -> 0L) ++
          ("start" +: channels).map(s => s -> nxt.getOrElse(s, 0L))
      }
      p("start")
    }
    val pFull = absorb(tm)
    val rows = channels.sorted.map { c =>
      val tr = tm.filter(_._1 != c)
        .map { case (s, d, pr) => (s, if (d == c) "null" else d, pr) }
      val pRem = absorb(tr)
      val rem = if (pFull == 0L) 0L else (pFull - pRem) * 1000000L / pFull
      (c, pFull, pRem, rem)
    }
    rows.toDF("channel", "p_full_e6", "p_removed_e6", "removal_e6")
  }

  /** Shapley-value multi-touch attribution — the cooperative-game
    * counterpart of [[markovAttribution]]: each user's coalition is the
    * SET of channels touched before their first conversion (bit_or
    * mask), the characteristic function v(S) is the observed conversion
    * rate of users with exactly that touch set (e6 integer; unobserved
    * sets contribute v = 0), and each channel's Shapley value is the
    * exact discrete sum φ_c = Σ_{S ∌ c} |S|!·(n−1−|S|)!·(v(S∪c) −
    * v(S)) / n!. ALL integer: factorial weights are injected as
    * popcount CASE constants, and the single division by n! factors
    * the sign out (marginals can be negative; `div` truncates, `//`
    * floors — they agree only on non-negatives). Output one row per
    * channel: (channel, phi_e6).
    *
    * Scale: one keyed mask aggregate over the events scan; the
    * coalition lattice is 2ⁿ×n rows (n ≤ 6 enforced) — driver-noise
    * sized, joined broadcast. */
  def shapleyAttribution(events: DataFrame, entityCol: String,
                         tsMicrosCol: String, tieCol: String, typeCol: String,
                         convType: String, channels: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = channels.size
    require(n >= 1 && n <= 6, "coalition lattice is 2^n: keep n small")
    def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
    val ev = events
      .filter(col(typeCol).isin(convType +: channels: _*))
      .select(col(entityCol).as("u"), col(tsMicrosCol).as("t"),
        col(tieCol).as("tie"), col(typeCol).as("et"))
    val convPos = ev.filter(col("et") === convType)
      .groupBy(col("u")).agg(min(struct(col("t"), col("tie"))).as("cp"))
    val bit = channels.zipWithIndex
      .foldLeft(when(lit(false), 0L)) { case (acc, (c, i)) =>
        acc.when(col("et") === c, 1L << i)
      }.otherwise(0L)
    val touches = ev.filter(col("et") =!= convType)
      .join(convPos, Seq("u"), "left")
      .filter(col("cp").isNull || struct(col("t"), col("tie")) < col("cp"))
      .select(col("u"), bit.as("b"))
    val users = touches.groupBy(col("u")).agg(bit_or(col("b")).as("mask"))
      .unionByName(convPos.join(touches.select(col("u")).distinct(),
        Seq("u"), "left_anti").select(col("u"), lit(0L).as("mask")))
      .join(convPos.select(col("u"), lit(1L).as("cv")), Seq("u"), "left")
      .select(col("mask"), coalesce(col("cv"), lit(0L)).as("cv"))
    val vtab = users.groupBy(col("mask"))
      .agg(count(lit(1)).as("users"), sum(col("cv")).as("convs"))
      .selectExpr("mask", "convs * 1000000 div users AS v_e6")
      .localCheckpoint(false) // coalition axis: ≤ 2^n rows
    val spark = events.sparkSession
    import spark.implicits._
    val lattice = (0 until (1 << n)).toDF("s")
      .crossJoin(channels.zipWithIndex.map { case (c, i) => (c, 1L << i) }
        .toDF("channel", "cbit"))
      .filter(expr("(s & cbit) = 0"))
    val pop = (0 until n).map(i => s"((s >> $i) & 1)").mkString(" + ")
    val wCase = (0 until n).map(k =>
      s"WHEN $pop = $k THEN ${fact(k) * fact(n - 1 - k)}L").mkString(" ")
    lattice
      .join(broadcast(vtab.select(col("mask").as("s"), col("v_e6").as("v0"))),
        Seq("s"), "left")
      .join(broadcast(vtab.selectExpr("mask AS su", "v_e6 AS v1"))
          .as("w1"), expr("su = (s | cbit)"), "left")
      .selectExpr("channel",
        s"(CASE $wCase END) * (coalesce(v1, 0L) - coalesce(v0, 0L)) AS term")
      .groupBy(col("channel")).agg(sum(col("term")).as("num"))
      .selectExpr("channel",
        s"""CASE WHEN num < 0 THEN -((-num) div ${fact(n)}L)
           |     ELSE num div ${fact(n)}L END AS phi_e6""".stripMargin)
  }

  /** Per-state transition entropy of user event sequences — how
    * predictable the NEXT event type is given the current one
    * (H = 0 bits: deterministic behavior; log₂|types|: uniform).
    * Consecutive (prev → next) pairs per entity in (t, tie) order feed
    * a transition count matrix; each source state's entropy is
    * H_src = Σ_dst (c/tot)·log₂(tot/c), computed EXACTLY in e6
    * fixed-point log₂ ([[graft.ops.Bm25.log2E6]]):
    * h_e6 = Σ_dst c·(lg(tot) − lg(c)) div tot — integer products, ONE
    * truncating division per state. Output: (state, n_out, h_e6).
    *
    * Scale: one keyed lag window over the events scan, then keyed count
    * aggregates on the states axis. */
  def transitionEntropy(events: DataFrame, entityCol: String,
                        tsMicrosCol: String, tieCol: String,
                        typeCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("u")).orderBy(col("t"), col("tie"))
    val trans = events
      .select(col(entityCol).as("u"), col(tsMicrosCol).as("t"),
        col(tieCol).as("tie"), col(typeCol).as("et"))
      .withColumn("src", lag(col("et"), 1).over(ord))
      .filter(col("src").isNotNull)
      .groupBy(col("src"), col("et").as("dst"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // states axis
    trans
      .withColumn("tot", sum(col("c")).over(Window.partitionBy(col("src"))))
      .withColumn("t1", col("c") * (Bm25.log2E6(col("tot")) -
        Bm25.log2E6(col("c"))))
      .groupBy(col("src").as("state"))
      .agg(max(col("tot")).as("n_out"), sum(col("t1")).as("hsum"))
      .selectExpr("state", "n_out",
        "CAST(hsum div n_out AS BIGINT) AS h_e6")
  }

  /** Run-length compressibility of each entity's event-type sequence:
    * consecutive repeats collapse into runs (gaps-and-islands on the
    * entity key), and n_runs/n_events is the RLE compression ratio —
    * low means habitual repetition, 10⁶ means no two consecutive events
    * repeat. Output per entity: (u, n_events, n_runs, max_run,
    * ratio_e6).
    *
    * Scale: one entity-keyed lag window + one (entity, run) aggregate +
    * one entity rollup — the [[pathDrift]] shuffle contract. */
  def rleCompression(df: DataFrame, keyCol: String, tsUsCol: String,
                     tieCol: String, etCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("u")).orderBy(col("t"), col("tie"))
    val runs = df.select(col(keyCol).as("u"), col(tsUsCol).as("t"),
        col(tieCol).as("tie"), col(etCol).as("et"))
      .withColumn("brk",
        when(lag(col("et"), 1).over(w).isNull ||
          lag(col("et"), 1).over(w) =!= col("et"), 1L).otherwise(0L))
      .withColumn("run", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    runs.groupBy(col("u"), col("run"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("u"))
      .agg(sum(col("len")).as("n_events"), count(lit(1)).as("n_runs"),
        max(col("len")).as("max_run"))
      .withColumn("ratio_e6", expr("n_runs * 1000000 div n_events"))
  }

  /** Daily path drift per entity: each day's event-type sequence
    * renders to one '>'-joined path string, and consecutive days are
    * compared by Levenshtein edit distance — how much a user's routine
    * CHANGES day over day (the string-metric companion of the
    * transition-entropy predictability measures; both engines ship the
    * identical DP edit distance, so the metric is bit-exact). Entities
    * with a single active day drop (no transition to score). Output per
    * entity: (u, n_days, n_transitions, dist_total, drift_e3).
    *
    * Scale: one (entity, day) sort-fold aggregate + one entity-keyed
    * lag window + one entity rollup — the [[transitionEntropy]] shuffle
    * contract; path strings stay bounded by per-day event counts. */
  def pathDrift(df: DataFrame, keyCol: String, tsUsCol: String,
                tieCol: String, etCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = df.select(col(keyCol).as("u"),
        expr(s"$tsUsCol div 86400000000").as("day"),
        struct(col(tsUsCol).as("t"), col(tieCol).as("tie"),
          col(etCol).as("et")).as("s"))
      .groupBy(col("u"), col("day"))
      .agg(expr("array_join(transform(sort_array(collect_list(s)), x -> x.et), '>')")
        .as("path"))
    val w = Window.partitionBy(col("u")).orderBy(col("day"))
    daily.withColumn("prev", lag(col("path"), 1).over(w))
      .withColumn("dist",
        when(col("prev").isNull, lit(null))
          .otherwise(levenshtein(col("path"), col("prev")).cast("long")))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n_days"), count(col("dist")).as("n_transitions"),
        coalesce(sum(col("dist")), lit(0L)).as("dist_total"))
      .filter(col("n_transitions") >= 1L)
      .withColumn("drift_e3", expr("dist_total * 1000 div n_transitions"))
  }
}
