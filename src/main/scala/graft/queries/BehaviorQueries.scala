package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Behavior, Bm25, Engagement, Identity, IntervalJoin,
  Segmentation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-sequence analytics over the keyed, time-ordered `events` feed:
  * funnels, sessions, paths, transitions, retention, attribution, and
  * engagement reads. */
object BehaviorQueries extends QueryCatalog {

  private val mkChannels = Seq("view", "click", "signup", "error")

  /** One absorbing-chain value-iteration unroll (8 rounds) for the
    * oracle — `removed` = None for the full chain. */
  private def chainSql(tag: String, removed: Option[String]): String = {
    val redirect = removed match {
      case Some(c) =>
        s"""t$tag AS MATERIALIZED (
           |  SELECT src, CASE WHEN dst = '$c' THEN 'null' ELSE dst END AS dst,
           |         prob_e6
           |  FROM trans WHERE src <> '$c')""".stripMargin
      case None =>
        s"t$tag AS MATERIALIZED (SELECT src, dst, prob_e6 FROM trans)"
    }
    val p0 =
      s"""p${tag}0 AS (SELECT s.st,
         |  CASE WHEN s.st = 'conv' THEN 1000000 ELSE 0 END AS pv
         |  FROM (VALUES ('start'), ('conv'), ('null'),
         |        ${mkChannels.map(c => s"('$c')").mkString(", ")}) s(st))""".stripMargin
    val rounds = (1 to 8).map { i =>
      s"""p$tag$i AS MATERIALIZED (
         |  SELECT t.src AS st,
         |         CAST(sum(t.prob_e6 * p.pv) // 1000000 AS BIGINT) AS pv
         |  FROM t$tag t JOIN p$tag${i - 1} p ON p.st = t.dst
         |  GROUP BY t.src
         |  UNION ALL SELECT 'conv', 1000000
         |  UNION ALL SELECT 'null', 0)""".stripMargin
    }
    (redirect +: p0 +: rounds).mkString(",\n")
  }

  private val chs = Seq("view", "click", "signup", "error")
  /** Distinct (event type, user) pairs and the users per type: CTEs
    * `tu` (t, u), `sz` (t, nu). */
  private val typeUsersSql =
    """tu AS (SELECT DISTINCT event_type AS t, user_id AS u
      |            FROM events),
      |sz AS (SELECT t, CAST(count(*) AS BIGINT) AS nu
      |       FROM tu GROUP BY 1)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    /* Behavioral / event-sequence analytics over the keyed, time-ordered
     * `events` stream — the same shape as the reference's per-vehicle position
     * feed (`mbta_to_kafka.py:79` keys by vehicleId). Funnels, Markov
     * transition matrices, and frequent paths are the standard telemetry
     * questions over such a stream; none need more than one shuffle on the
     * entity key (see [[graft.ops.Behavior]] scaladoc for the scale argument). */

    // ── Funnel view→click→purchase per user: highest stage reached with
    //    strictly-increasing event times. Single groupBy(user) shuffle; the
    //    per-user fold is a codegen'd higher-order aggregate, so funnel
    //    depth adds zero shuffles (vs the naive one-join-per-step plan).
    //    Oracle: stepwise min-ts cascade (greedy-earliest ≡ stepwise-min).
    QueryDef("q_funnel_stages",
      (s, d) => Behavior.funnelStages(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_type", Seq("view", "click", "purchase")),
      Some("""WITH e AS (SELECT user_id AS entity, epoch_us(ts) AS t, event_type AS et FROM events),
             |u AS (SELECT DISTINCT entity FROM e),
             |s1 AS (SELECT entity, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
             |s2 AS (SELECT e.entity, min(t) AS t2 FROM e JOIN s1 USING (entity)
             |       WHERE et = 'click' AND t > t1 GROUP BY 1),
             |s3 AS (SELECT e.entity, min(t) AS t3 FROM e JOIN s2 USING (entity)
             |       WHERE et = 'purchase' AND t > t2 GROUP BY 1)
             |SELECT entity,
             |       CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
             |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage
             |FROM u LEFT JOIN s1 USING (entity) LEFT JOIN s2 USING (entity)
             |       LEFT JOIN s3 USING (entity)""".stripMargin)),

    // ── First-order transition (Markov) matrix src→dst with integer e6
    //    probabilities (cnt*1e6 div Σ_src — all-integer, cross-engine
    //    exact; `ts` is globally unique in the testdata so the ordering
    //    window is deterministic).
    QueryDef("q_event_transitions",
      (s, d) => Behavior.transitions(Tables.events(s, d),
        "user_id", "ts", "event_type"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS et FROM events),
             |p AS (SELECT et AS src, lead(et) OVER (PARTITION BY user_id ORDER BY t) AS dst
             |      FROM e)
             |SELECT src, dst, count(*) AS cnt,
             |       CAST(count(*) * 1000000 // sum(count(*)) OVER (PARTITION BY src) AS BIGINT) AS prob_e6
             |FROM p WHERE dst IS NOT NULL GROUP BY src, dst""".stripMargin)),

    // ── Top-15 most frequent consecutive length-3 event-type paths.
    //    |types|³ = 125 candidate paths ⇒ the final top-k aggregate is
    //    tiny regardless of input scale; ties break on path text.
    QueryDef("q_event_paths",
      (s, d) => Behavior.topPaths(Tables.events(s, d),
        "user_id", "ts", "event_type", 15),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS et FROM events),
             |p AS (SELECT et AS e1, lead(et, 1) OVER w AS e2, lead(et, 2) OVER w AS e3
             |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t))
             |SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS cnt
             |FROM p WHERE e3 IS NOT NULL
             |GROUP BY 1 ORDER BY cnt DESC, path LIMIT 15""".stripMargin)),

    // ── Cohort retention: users bucketed by first-seen week, activity
    //    counted per (cohort, weeks-since) cell — the standard retention
    //    matrix, all epoch-integer arithmetic. Two partial-aggregable
    //    passes (first-seen per user, then cell counts); the per-user
    //    firsts broadcast back.
    QueryDef("q_cohort_retention",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), unix_timestamp(col("ts")).as("es"))
        val first = ev.groupBy(col("user_id"))
          .agg(expr("min(es) div 604800").as("cohort_wk"))
        ev.withColumn("act_wk", expr("es div 604800"))
          .join(broadcast(first), "user_id")
          .groupBy(col("cohort_wk"), (col("act_wk") - col("cohort_wk")).as("weeks_since"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            count(lit(1)).as("n_events"))
      },
      Some("""WITH ev AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
             |f AS (SELECT user_id, min(es) // 604800 AS cohort_wk FROM ev GROUP BY 1)
             |SELECT f.cohort_wk, (ev.es // 604800) - f.cohort_wk AS weeks_since,
             |       count(DISTINCT ev.user_id) AS n_users, count(*) AS n_events
             |FROM ev JOIN f USING (user_id)
             |GROUP BY 1, 2""".stripMargin)),

    // ── Funnel first-reach times + conversion lags per user: the stage
    //    vector rides one fold accumulator, so lags are free projections.
    QueryDef("q_funnel_lag",
      (s, d) => Behavior.funnelTimes(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_type", Seq("view", "click", "purchase"))
        .select(col("entity"), col("t1"), col("t2"), col("t3"),
          (col("t2") - col("t1")).as("lag12_us"),
          (col("t3") - col("t2")).as("lag23_us")),
      Some("""WITH e AS (SELECT user_id AS entity, epoch_us(ts) AS t, event_type AS et FROM events),
             |u AS (SELECT DISTINCT entity FROM e),
             |s1 AS (SELECT entity, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
             |s2 AS (SELECT e.entity, min(t) AS t2 FROM e JOIN s1 USING (entity)
             |       WHERE et = 'click' AND t > t1 GROUP BY 1),
             |s3 AS (SELECT e.entity, min(t) AS t3 FROM e JOIN s2 USING (entity)
             |       WHERE et = 'purchase' AND t > t2 GROUP BY 1)
             |SELECT entity, t1, t2, t3, t2 - t1 AS lag12_us, t3 - t2 AS lag23_us
             |FROM u LEFT JOIN s1 USING (entity) LEFT JOIN s2 USING (entity)
             |       LEFT JOIN s3 USING (entity)""".stripMargin)),

    // ── Deadline-constrained funnel: each later stage must land within
    //    24 h of the previous reach (one extra guard in the fold's CASE —
    //    the plan is still one shuffle).
    QueryDef("q_funnel_gapped",
      (s, d) => Behavior.funnelStages(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_type", Seq("view", "click", "purchase"),
        Some(86400000000L)),
      Some("""WITH e AS (SELECT user_id AS entity, epoch_us(ts) AS t, event_type AS et FROM events),
             |u AS (SELECT DISTINCT entity FROM e),
             |s1 AS (SELECT entity, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
             |s2 AS (SELECT e.entity, min(t) AS t2 FROM e JOIN s1 USING (entity)
             |       WHERE et = 'click' AND t > t1 AND t - t1 <= 86400000000 GROUP BY 1),
             |s3 AS (SELECT e.entity, min(t) AS t3 FROM e JOIN s2 USING (entity)
             |       WHERE et = 'purchase' AND t > t2 AND t - t2 <= 86400000000 GROUP BY 1)
             |SELECT entity,
             |       CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
             |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage
             |FROM u LEFT JOIN s1 USING (entity) LEFT JOIN s2 USING (entity)
             |       LEFT JOIN s3 USING (entity)""".stripMargin)),

    // ── Per-session funnels: 1-hour inactivity gap splits each user's
    //    stream; the funnel restarts inside every session. One shuffle —
    //    sessionization rides the same fold as the stage machine.
    QueryDef("q_funnel_session",
      (s, d) => Behavior.funnelSessions(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_type", Seq("view", "click", "purchase"),
        3600000000L),
      Some("""WITH e AS (SELECT user_id AS entity, epoch_us(ts) AS t, event_type AS et FROM events),
             |o AS (SELECT entity, t, et,
             |        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 3600000000
             |             THEN 1 ELSE 0 END AS new_s
             |      FROM e WINDOW w AS (PARTITION BY entity ORDER BY t, et)),
             |s AS (SELECT entity, t, et,
             |        CAST(sum(new_s) OVER (PARTITION BY entity ORDER BY t, et
             |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |      FROM o),
             |g AS (SELECT entity, sid, min(t) AS session_start_us FROM s GROUP BY 1, 2),
             |s1 AS (SELECT entity, sid, min(t) AS t1 FROM s WHERE et = 'view' GROUP BY 1, 2),
             |s2 AS (SELECT s.entity, s.sid, min(t) AS t2 FROM s JOIN s1 USING (entity, sid)
             |       WHERE et = 'click' AND t > t1 GROUP BY 1, 2),
             |s3 AS (SELECT s.entity, s.sid, min(t) AS t3 FROM s JOIN s2 USING (entity, sid)
             |       WHERE et = 'purchase' AND t > t2 GROUP BY 1, 2)
             |SELECT g.entity, g.session_start_us,
             |       CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
             |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage
             |FROM g LEFT JOIN s1 USING (entity, sid) LEFT JOIN s2 USING (entity, sid)
             |       LEFT JOIN s3 USING (entity, sid)""".stripMargin)),

    // ── Per-stage session conversion rates: one single-row aggregate over
    //    the session table, unpivoted to a row per stage.
    QueryDef("q_funnel_rates",
      (s, d) => Behavior.funnelConversion(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_type", Seq("view", "click", "purchase"),
        3600000000L),
      Some("""WITH e AS (SELECT user_id AS entity, epoch_us(ts) AS t, event_type AS et FROM events),
             |o AS (SELECT entity, t, et,
             |        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 3600000000
             |             THEN 1 ELSE 0 END AS new_s
             |      FROM e WINDOW w AS (PARTITION BY entity ORDER BY t, et)),
             |s AS (SELECT entity, t, et,
             |        CAST(sum(new_s) OVER (PARTITION BY entity ORDER BY t, et
             |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
             |      FROM o),
             |s1 AS (SELECT entity, sid, min(t) AS t1 FROM s WHERE et = 'view' GROUP BY 1, 2),
             |s2 AS (SELECT s.entity, s.sid, min(t) AS t2 FROM s JOIN s1 USING (entity, sid)
             |       WHERE et = 'click' AND t > t1 GROUP BY 1, 2),
             |s3 AS (SELECT s.entity, s.sid, min(t) AS t3 FROM s JOIN s2 USING (entity, sid)
             |       WHERE et = 'purchase' AND t > t2 GROUP BY 1, 2),
             |st AS (SELECT g.entity, g.sid,
             |         CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
             |              WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage
             |       FROM (SELECT DISTINCT entity, sid FROM s) g
             |         LEFT JOIN s1 USING (entity, sid) LEFT JOIN s2 USING (entity, sid)
             |         LEFT JOIN s3 USING (entity, sid)),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS total,
             |        CAST(sum(CASE WHEN stage >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |        CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             |        CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
             |      FROM st)
             |SELECT 1 AS stage, n1 AS n_sessions, n1 * 1000000 // total AS rate_e6 FROM a
             |UNION ALL SELECT 2, n2, n2 * 1000000 // total FROM a
             |UNION ALL SELECT 3, n3, n3 * 1000000 // total FROM a""".stripMargin)),

    // ── Day-7 retention per activity day: distinct (user, epoch-day)
    //    self-joined against its horizon-shifted copy.
    QueryDef("q_retention_day7",
      (s, d) => Segmentation.retentionDayN(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", 7),
      Some("""WITH act AS (SELECT DISTINCT user_id AS entity,
             |                    epoch_us(ts) // 86400000000 AS day FROM events),
             |sh AS (SELECT entity, day - 7 AS day, 1 AS ret FROM act)
             |SELECT a.day, CAST(count(*) AS BIGINT) AS n_active,
             |       CAST(count(sh.ret) AS BIGINT) AS n_retained,
             |       CAST(count(sh.ret) * 1000000 // count(*) AS BIGINT) AS rate_e6
             |FROM act a LEFT JOIN sh ON sh.entity = a.entity AND sh.day = a.day
             |GROUP BY 1""".stripMargin)),

    // ── Per-identity funnel: the stitched view→click→purchase machine —
    //    cross-device conversions count.
    QueryDef("q_identity_funnel",
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("t_us", unix_micros(col("ts")))
        val devices = ev.select(col("user_id").as("id")).distinct()
        val links = devices.as("x").join(devices.as("y"),
            col("y.id") === col("x.id") + 1 && col("x.id") % 5 === 0)
          .select(col("x.id").as("a"), col("y.id").as("b"))
        Identity.stitchFunnel(ev, "user_id", "t_us", "event_type", links,
          Seq("view", "click", "purchase"))
      },
      Some("""WITH RECURSIVE ev0 AS (SELECT user_id AS device, epoch_us(ts) AS t,
             |                       event_type AS et FROM events),
             |devices AS (SELECT DISTINCT device AS id FROM ev0),
             |l0 AS (SELECT x.id AS a, y.id AS b FROM devices x
             |       JOIN devices y ON y.id = x.id + 1 WHERE x.id % 5 = 0),
             |e2 AS (SELECT a, b FROM l0 UNION ALL SELECT b, a FROM l0),
             |reach(id, label) AS (
             |  SELECT id, id FROM devices
             |  UNION
             |  SELECT e2.b, r.label FROM reach r JOIN e2 ON e2.a = r.id),
             |cc AS (SELECT id, min(label) AS identity FROM reach GROUP BY id),
             |e AS (SELECT cc.identity AS entity, ev0.t, ev0.et
             |      FROM ev0 JOIN cc ON cc.id = ev0.device),
             |u AS (SELECT DISTINCT entity FROM e),
             |s1 AS (SELECT entity, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY 1),
             |s2 AS (SELECT e.entity, min(t) AS t2 FROM e JOIN s1 USING (entity)
             |       WHERE et = 'click' AND t > t1 GROUP BY 1),
             |s3 AS (SELECT e.entity, min(t) AS t3 FROM e JOIN s2 USING (entity)
             |       WHERE et = 'purchase' AND t > t2 GROUP BY 1)
             |SELECT entity AS identity,
             |       CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
             |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage
             |FROM u LEFT JOIN s1 USING (entity) LEFT JOIN s2 USING (entity)
             |       LEFT JOIN s3 USING (entity)""".stripMargin)),

    // ── Identity stitching end-to-end: devices d and d+1 link when
    //    d % 5 = 0 → connected components → events re-keyed by resolved
    //    identity → 30-min gap sessions. Stitched sessions merge visits
    //    that per-device sessionization would split.
    QueryDef("q_identity_stitch",
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("t_us", unix_micros(col("ts")))
        val devices = ev.select(col("user_id").as("id")).distinct()
        val links = devices.as("x").join(devices.as("y"),
            col("y.id") === col("x.id") + 1 && col("x.id") % 5 === 0)
          .select(col("x.id").as("a"), col("y.id").as("b"))
        Identity.stitchSessions(ev, "user_id", "t_us", links,
          30L * 60 * 1000000)
      },
      Some("""WITH RECURSIVE ev AS (SELECT user_id AS device, epoch_us(ts) AS t
             |                      FROM events),
             |devices AS (SELECT DISTINCT device AS id FROM ev),
             |l0 AS (SELECT x.id AS a, y.id AS b FROM devices x
             |       JOIN devices y ON y.id = x.id + 1 WHERE x.id % 5 = 0),
             |e2 AS (SELECT a, b FROM l0 UNION ALL SELECT b, a FROM l0),
             |reach(id, label) AS (
             |  SELECT id, id FROM devices
             |  UNION
             |  SELECT e2.b, r.label FROM reach r JOIN e2 ON e2.a = r.id),
             |cc AS (SELECT id, min(label) AS identity FROM reach GROUP BY id),
             |nd AS (SELECT identity, CAST(count(*) AS BIGINT) AS n_devices
             |       FROM cc GROUP BY 1),
             |sess AS (SELECT cc.identity, ev.t,
             |                CASE WHEN lag(ev.t) OVER (PARTITION BY cc.identity
             |                                          ORDER BY ev.t) IS NULL
             |                       OR ev.t - lag(ev.t) OVER (PARTITION BY cc.identity
             |                                                 ORDER BY ev.t)
             |                          > 1800000000
             |                     THEN 1 ELSE 0 END AS brk
             |         FROM ev JOIN cc ON cc.id = ev.device)
             |SELECT s.identity, nd.n_devices, CAST(count(*) AS BIGINT) AS n_events,
             |       CAST(sum(s.brk) AS BIGINT) AS n_sessions
             |FROM sess s JOIN nd USING (identity)
             |GROUP BY s.identity, nd.n_devices""".stripMargin)),

    // ── First/last-touch attribution of purchases to the four non-
    //    purchase channels in a 1-day lookback — packed-long range
    //    windows, one entity shuffle, no joins.
    QueryDef("q_attribution",
      (s, d) => Behavior.attribution(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_type", "purchase",
        Seq("view", "click", "signup", "error"), 86400000000L),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS et FROM events),
             |p AS (SELECT user_id, t, et,
             |             CASE et WHEN 'view' THEN 1 WHEN 'click' THEN 2
             |                     WHEN 'signup' THEN 3 WHEN 'error' THEN 4
             |                     ELSE 0 END AS c
             |      FROM e),
             |x AS (SELECT user_id, t, et,
             |             min(CASE WHEN c > 0 THEN t * 8 + c END)
             |               OVER (PARTITION BY user_id ORDER BY t
             |                     RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING) AS fpk,
             |             max(CASE WHEN c > 0 THEN t * 8 + c END)
             |               OVER (PARTITION BY user_id ORDER BY t
             |                     RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING) AS lpk
             |      FROM p)
             |SELECT CASE fpk % 8 WHEN 1 THEN 'view' WHEN 2 THEN 'click'
             |            WHEN 3 THEN 'signup' WHEN 4 THEN 'error'
             |            ELSE '(none)' END AS first_ch,
             |       CASE lpk % 8 WHEN 1 THEN 'view' WHEN 2 THEN 'click'
             |            WHEN 3 THEN 'signup' WHEN 4 THEN 'error'
             |            ELSE '(none)' END AS last_ch,
             |       CAST(count(*) AS BIGINT) AS conversions
             |FROM x WHERE et = 'purchase' GROUP BY 1, 2""".stripMargin)),

    // ── Activity-day continuity per user: active days, gap runs, and
    //    the longest dark stretch between first and last activity.
    QueryDef("q_day_gaps",
      (s, d) => Behavior.dayGaps(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us"),
      Some("""WITH days AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
             |              FROM events),
             |g AS (SELECT user_id, day,
             |             day - lag(day) OVER (PARTITION BY user_id ORDER BY day) - 1 AS gap
             |      FROM days)
             |SELECT user_id, CAST(min(day) AS BIGINT) AS d_min,
             |       CAST(max(day) AS BIGINT) AS d_max,
             |       CAST(count(*) AS BIGINT) AS active_days,
             |       CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
             |       CAST(coalesce(max(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT) AS longest_gap
             |FROM g GROUP BY user_id""".stripMargin)),

    // ── Stationary distribution of the event-type Markov chain: 3
    //    integer power-iteration rounds over the transition matrix.
    QueryDef("q_markov_stationary",
      (s, d) => Behavior.markovStationary(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_type", 3),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS et FROM events),
             |p AS (SELECT et AS src, lead(et) OVER (PARTITION BY user_id ORDER BY t) AS dst FROM e),
             |tr AS MATERIALIZED (SELECT src, dst,
             |        CAST(count(*) * 1000000 // sum(count(*)) OVER (PARTITION BY src) AS BIGINT) AS prob_e6
             |      FROM p WHERE dst IS NOT NULL GROUP BY src, dst),
             |states AS MATERIALIZED (SELECT DISTINCT src AS state FROM tr
             |                        UNION SELECT DISTINCT dst FROM tr),
             |pi0 AS (SELECT state, CAST(1000000 AS BIGINT) AS pi FROM states),
             |pi1 AS MATERIALIZED (SELECT s.state, CAST(coalesce(sum(m.m), 0) AS BIGINT) AS pi
             |      FROM states s LEFT JOIN (SELECT dst, pi * prob_e6 // 1000000 AS m
             |                               FROM tr JOIN pi0 ON pi0.state = tr.src) m
             |        ON m.dst = s.state GROUP BY s.state),
             |pi2 AS MATERIALIZED (SELECT s.state, CAST(coalesce(sum(m.m), 0) AS BIGINT) AS pi
             |      FROM states s LEFT JOIN (SELECT dst, pi * prob_e6 // 1000000 AS m
             |                               FROM tr JOIN pi1 ON pi1.state = tr.src) m
             |        ON m.dst = s.state GROUP BY s.state),
             |pi3 AS (SELECT s.state, CAST(coalesce(sum(m.m), 0) AS BIGINT) AS pi
             |      FROM states s LEFT JOIN (SELECT dst, pi * prob_e6 // 1000000 AS m
             |                               FROM tr JOIN pi2 ON pi2.state = tr.src) m
             |        ON m.dst = s.state GROUP BY s.state)
             |SELECT state, pi AS pi_e6 FROM pi3""".stripMargin)),

    // ── Session entry/exit/bounce report: 30-minute-gap sessions per
    //    user; landing and exit types plus single-event bounces.
    QueryDef("q_entry_exit",
      (s, d) => Behavior.entryExit(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_type", 1800000000L),
      Some("""WITH e AS (SELECT user_id AS ent, epoch_us(ts) AS t, event_type AS et FROM events),
             |g AS (SELECT ent, t, et,
             |             CASE WHEN t - lag(t) OVER (PARTITION BY ent ORDER BY t)
             |                    > 1800000000 THEN 1 ELSE 0 END AS new_s
             |      FROM e),
             |sid AS (SELECT ent, t, et,
             |               sum(new_s) OVER (PARTITION BY ent ORDER BY t
             |                                ROWS UNBOUNDED PRECEDING) AS sid
             |        FROM g),
             |ses AS (SELECT ent, sid, min_by(et, t) AS first_et,
             |               max_by(et, t) AS last_et, count(*) AS n
             |        FROM sid GROUP BY ent, sid),
             |u AS (SELECT first_et AS et, 1 AS entry, 0 AS exit0,
             |             CASE WHEN n = 1 THEN 1 ELSE 0 END AS bounce FROM ses
             |      UNION ALL
             |      SELECT last_et, 0, 1, 0 FROM ses)
             |SELECT et, CAST(sum(entry) AS BIGINT) AS entries,
             |       CAST(sum(exit0) AS BIGINT) AS exits,
             |       CAST(sum(bounce) AS BIGINT) AS bounces
             |FROM u GROUP BY et""".stripMargin)),

    // ── Markov removal-effect attribution over user journeys
    //    (channels → first purchase), 8 value-iteration rounds.
    QueryDef("q_markov_attribution",
      (s, d) => Behavior.markovAttribution(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_id", "event_type", "purchase",
        mkChannels, 8),
      Some {
        val evHead =
          s"""WITH ev AS MATERIALIZED (
             |  SELECT user_id AS u, epoch_us(ts) AS t, event_id AS tie,
             |         event_type AS et
             |  FROM events
             |  WHERE event_type IN ('purchase',
             |        ${mkChannels.map(c => s"'$c'").mkString(", ")})),
             |cp AS (SELECT u, t AS ct, tie AS ctie FROM (
             |         SELECT u, t, tie, row_number() OVER
             |           (PARTITION BY u ORDER BY t, tie) AS rn
             |         FROM ev WHERE et = 'purchase') WHERE rn = 1),
             |chans AS MATERIALIZED (
             |  SELECT e.u, e.t, e.tie, e.et, cp.u IS NOT NULL AS converted
             |  FROM ev e LEFT JOIN cp ON cp.u = e.u
             |  WHERE e.et <> 'purchase'
             |    AND (cp.u IS NULL OR e.t < cp.ct
             |         OR (e.t = cp.ct AND e.tie < cp.ctie))),
             |steps AS (SELECT coalesce(lag(et) OVER
             |            (PARTITION BY u ORDER BY t, tie), 'start') AS src,
             |            et AS dst FROM chans),
             |terms AS (SELECT et AS src,
             |            CASE WHEN converted THEN 'conv' ELSE 'null' END AS dst
             |          FROM (SELECT u, et, converted, row_number() OVER
             |                  (PARTITION BY u ORDER BY t DESC, tie DESC) AS rn
             |                FROM chans) WHERE rn = 1),
             |directs AS (SELECT 'start' AS src, 'conv' AS dst FROM cp
             |            WHERE u NOT IN (SELECT DISTINCT u FROM chans)),
             |trans AS MATERIALIZED (
             |  SELECT src, dst,
             |         CAST(count(*) * 1000000 //
             |              sum(count(*)) OVER (PARTITION BY src) AS BIGINT)
             |           AS prob_e6
             |  FROM (SELECT * FROM steps UNION ALL SELECT * FROM terms
             |        UNION ALL SELECT * FROM directs)
             |  GROUP BY src, dst)""".stripMargin
        val chains = chainSql("f", None) +: mkChannels.map(c =>
          chainSql(s"r$c", Some(c)))
        val rows = mkChannels.map { c =>
          s"""SELECT '$c' AS channel,
             |  (SELECT pv FROM pf8 WHERE st = 'start') AS p_full_e6,
             |  (SELECT pv FROM pr${c}8 WHERE st = 'start') AS p_removed_e6,
             |  CASE WHEN (SELECT pv FROM pf8 WHERE st = 'start') = 0 THEN 0
             |       ELSE ((SELECT pv FROM pf8 WHERE st = 'start')
             |             - (SELECT pv FROM pr${c}8 WHERE st = 'start'))
             |            * 1000000
             |            // (SELECT pv FROM pf8 WHERE st = 'start')
             |  END AS removal_e6""".stripMargin
        }
        (evHead +: chains).mkString(",\n") + "\n" +
          rows.mkString("\nUNION ALL\n")
      }),

    // ── Transition entropy per event type: how predictable the next
    //    event is, exact e6 fixed-point log₂.
    QueryDef("q_entropy_rate",
      (s, d) => Behavior.transitionEntropy(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_id", "event_type"),
      Some {
        val lg = Bm25.log2E6Sql("tot") + " - " + Bm25.log2E6Sql("c")
        s"""WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS tie,
           |                  event_type AS et FROM events),
           |tr AS (SELECT src, et AS dst, CAST(count(*) AS BIGINT) AS c
           |       FROM (SELECT u, et, lag(et) OVER
           |               (PARTITION BY u ORDER BY t, tie) AS src
           |             FROM ev)
           |       WHERE src IS NOT NULL GROUP BY src, dst),
           |w AS (SELECT src, c,
           |        CAST(sum(c) OVER (PARTITION BY src) AS BIGINT) AS tot
           |      FROM tr)
           |SELECT src AS state, max(tot) AS n_out,
           |       CAST(sum(c * ($lg)) // max(tot) AS BIGINT) AS h_e6
           |FROM w GROUP BY src""".stripMargin
      }),

    // ── Shapley attribution over the 4-channel coalition lattice:
    //    v(S) = observed conversion rate of the exact touch set,
    //    factorial weights as popcount constants, sign-factored / 4!.
    QueryDef("q_shapley_attribution",
      (s, d) => Behavior.shapleyAttribution(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_id", "event_type", "purchase", chs),
      Some {
        val bitCase = chs.zipWithIndex.map { case (c, i) =>
          s"WHEN et = '$c' THEN ${1L << i}"
        }.mkString(" ")
        val pop = (0 until 4).map(i => s"((s >> $i) & 1)").mkString(" + ")
        def fact(x: Int): Long = (1 to x).foldLeft(1L)(_ * _)
        val wCase = (0 until 4).map(k =>
          s"WHEN $pop = $k THEN ${fact(k) * fact(3 - k)}").mkString(" ")
        s"""WITH ev AS MATERIALIZED (
           |  SELECT user_id AS u, epoch_us(ts) AS t, event_id AS tie,
           |         event_type AS et
           |  FROM events
           |  WHERE event_type IN ('purchase', ${chs.map(c => s"'$c'").mkString(", ")})),
           |cp AS (SELECT u, t AS ct, tie AS ctie FROM (
           |         SELECT u, t, tie, row_number() OVER
           |           (PARTITION BY u ORDER BY t, tie) AS rn
           |         FROM ev WHERE et = 'purchase') WHERE rn = 1),
           |touches AS MATERIALIZED (
           |  SELECT e.u, CASE $bitCase ELSE 0 END AS b
           |  FROM ev e LEFT JOIN cp ON cp.u = e.u
           |  WHERE e.et <> 'purchase'
           |    AND (cp.u IS NULL OR e.t < cp.ct
           |         OR (e.t = cp.ct AND e.tie < cp.ctie))),
           |masks AS (SELECT u, bit_or(b) AS mask FROM touches GROUP BY u
           |          UNION ALL
           |          SELECT u, 0 AS mask FROM cp
           |          WHERE u NOT IN (SELECT DISTINCT u FROM touches)),
           |users AS (SELECT m.mask,
           |            CASE WHEN cp.u IS NULL THEN 0 ELSE 1 END AS cv
           |          FROM masks m LEFT JOIN cp ON cp.u = m.u),
           |vtab AS MATERIALIZED (
           |  SELECT mask, CAST(sum(cv) * 1000000 // count(*) AS BIGINT) AS v_e6
           |  FROM users GROUP BY mask),
           |lattice AS (
           |  SELECT g.s, c.channel, c.cbit
           |  FROM (SELECT unnest(generate_series(0, 15)) AS s) g
           |  CROSS JOIN (VALUES ${chs.zipWithIndex.map { case (c, i) =>
          s"('$c', ${1L << i})"
        }.mkString(", ")}) c(channel, cbit)
           |  WHERE (g.s & c.cbit) = 0),
           |terms AS (
           |  SELECT l.channel,
           |         (CASE $wCase END) *
           |         (coalesce(v1.v_e6, 0) - coalesce(v0.v_e6, 0)) AS term
           |  FROM lattice l
           |  LEFT JOIN vtab v0 ON v0.mask = l.s
           |  LEFT JOIN vtab v1 ON v1.mask = (l.s | l.cbit)),
           |agg AS (SELECT channel, sum(term) AS num FROM terms GROUP BY channel)
           |SELECT channel,
           |       CAST(CASE WHEN num < 0 THEN -((-num) // 24)
           |                 ELSE num // 24 END AS BIGINT) AS phi_e6
           |FROM agg""".stripMargin
      }),

    /* Engagement analytics — DAU/WAU stickiness (scatter
     * formulation, no distinct-range window) and trigram path mining. */

    // ── DAU / trailing-7d WAU per observed day.
    QueryDef("q_dau_stickiness",
      (s, d) => Engagement.stickiness(Tables.events(s, d), "user_id", "ts"),
      Some("""WITH ud AS (
             |  SELECT DISTINCT user_id AS u,
             |         epoch_us(ts) // 86400000000 AS day
             |  FROM events),
             |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
             |        FROM ud GROUP BY 1),
             |sc AS (SELECT DISTINCT u, day + k.k AS day
             |       FROM ud, (SELECT unnest(generate_series(0, 6)) AS k) k),
             |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
             |        FROM sc GROUP BY 1)
             |SELECT dau.day, dau.dau, wau.wau,
             |       CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS stick_e6
             |FROM dau JOIN wau ON wau.day = dau.day""".stripMargin)),

    // ── Top-10 event-type trigrams over user journeys.
    QueryDef("q_event_trigrams",
      (s, d) => Engagement.trigrams(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type", 10),
      Some("""WITH e AS (
             |  SELECT user_id AS ent, epoch_us(ts) AS t, event_id AS tie,
             |         event_type AS e1
             |  FROM events),
             |p AS (
             |  SELECT e1,
             |         lead(e1, 1) OVER (PARTITION BY ent ORDER BY t, tie)
             |           AS e2,
             |         lead(e1, 2) OVER (PARTITION BY ent ORDER BY t, tie)
             |           AS e3
             |  FROM e)
             |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS cnt
             |FROM p WHERE e3 IS NOT NULL
             |GROUP BY 1, 2, 3
             |ORDER BY cnt DESC, e1, e2, e3 LIMIT 10""".stripMargin)),

    // ── Max simultaneous 30-min sessions per event type.
    QueryDef("q_peak_concurrency",
      (s, d) => IntervalJoin.peakConcurrency(
        Tables.events(s, d)
          .withColumn("t_s", expr("unix_micros(ts) div 1000000"))
          .select(col("event_type").as("k"), col("t_s").as("s0"),
            (col("t_s") + 1800L).as("e0")),
        "k", "s0", "e0"),
      Some("""WITH iv AS (
             |  SELECT event_type AS key,
             |         epoch_us(ts) // 1000000 AS s,
             |         epoch_us(ts) // 1000000 + 1800 AS e
             |  FROM events),
             |ev AS (
             |  SELECT key, s AS t, 1 AS delta FROM iv
             |  UNION ALL
             |  SELECT key, e AS t, -1 AS delta FROM iv),
             |run AS (
             |  SELECT key,
             |         sum(delta) OVER (PARTITION BY key ORDER BY t, delta
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |           AS c
             |  FROM ev)
             |SELECT key, CAST(count(*) / 2 AS BIGINT) AS n_intervals,
             |       CAST(max(c) AS BIGINT) AS peak
             |FROM run GROUP BY key""".stripMargin)),

    // ── Daily funnel conversion rollup over the shared session-funnel
    //    outcomes (1-hour gap sessions, view→click→purchase): per
    //    session-start day, sessions and stage-reach counts with the e6
    //    conversion rate — the deferred §7.4 downstream rollup.
    QueryDef("q_funnel_daily",
      (s, d) => Behavior.funnelSessions(
          Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
          "user_id", "t_us", "event_type",
          Seq("view", "click", "purchase"), 3600000000L)
        .groupBy(expr("session_start_us div 86400000000").as("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n_view"),
          sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n_click"),
          sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n_purchase"))
        .withColumn("cvr_e6",
          expr("n_purchase * 1000000 div n_sessions")),
      Some("""WITH e AS (SELECT user_id AS entity, epoch_us(ts) AS t,
             |                  event_type AS et FROM events),
             |o AS (SELECT entity, t, et,
             |        CASE WHEN lag(t) OVER w IS NULL
             |               OR t - lag(t) OVER w > 3600000000
             |             THEN 1 ELSE 0 END AS new_s
             |      FROM e WINDOW w AS (PARTITION BY entity ORDER BY t, et)),
             |s AS (SELECT entity, t, et,
             |        CAST(sum(new_s) OVER (PARTITION BY entity
             |          ORDER BY t, et ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |          AS sid
             |      FROM o),
             |g AS (SELECT entity, sid, min(t) AS st FROM s GROUP BY 1, 2),
             |s1 AS (SELECT entity, sid, min(t) AS t1 FROM s
             |       WHERE et = 'view' GROUP BY 1, 2),
             |s2 AS (SELECT s.entity, s.sid, min(t) AS t2
             |       FROM s JOIN s1 USING (entity, sid)
             |       WHERE et = 'click' AND t > t1 GROUP BY 1, 2),
             |s3 AS (SELECT s.entity, s.sid, min(t) AS t3
             |       FROM s JOIN s2 USING (entity, sid)
             |       WHERE et = 'purchase' AND t > t2 GROUP BY 1, 2),
             |st AS (SELECT g.st // 86400000000 AS day,
             |         CASE WHEN t3 IS NOT NULL THEN 3
             |              WHEN t2 IS NOT NULL THEN 2
             |              WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage
             |       FROM g LEFT JOIN s1 USING (entity, sid)
             |              LEFT JOIN s2 USING (entity, sid)
             |              LEFT JOIN s3 USING (entity, sid))
             |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
             |       CAST(sum(CASE WHEN stage >= 1 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_view,
             |       CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_click,
             |       CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END)
             |            AS BIGINT) AS n_purchase,
             |       CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END)
             |            * 1000000 // count(*) AS BIGINT) AS cvr_e6
             |FROM st GROUP BY 1""".stripMargin)),

    // ── Daily-path edit-distance drift per user over the event stream.
    QueryDef("q_path_drift",
      (s, d) => Behavior.pathDrift(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_id", "event_type"),
      Some("""WITH e AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS day,
             |                 epoch_us(ts) AS t, event_id AS tie,
             |                 event_type AS et FROM events),
             |daily AS (SELECT u, day,
             |                 string_agg(et, '>' ORDER BY t, tie) AS path
             |          FROM e GROUP BY 1, 2),
             |lg AS (SELECT u, path,
             |              lag(path) OVER (PARTITION BY u ORDER BY day) AS prev
             |       FROM daily),
             |d AS (SELECT u, CASE WHEN prev IS NULL THEN NULL
             |                     ELSE levenshtein(path, prev) END AS dist
             |      FROM lg)
             |SELECT u, CAST(count(*) AS BIGINT) AS n_days,
             |       CAST(count(dist) AS BIGINT) AS n_transitions,
             |       CAST(coalesce(sum(dist), 0) AS BIGINT) AS dist_total,
             |       CAST(coalesce(sum(dist), 0) * 1000 // count(dist) AS BIGINT)
             |         AS drift_e3
             |FROM d GROUP BY 1 HAVING count(dist) >= 1""".stripMargin)),

    // ── RLE compressibility of each user's event-type stream.
    QueryDef("q_rle_compression",
      (s, d) => Behavior.rleCompression(
        Tables.events(s, d).withColumn("t_us", unix_micros(col("ts"))),
        "user_id", "t_us", "event_id", "event_type"),
      Some("""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS tie,
             |                 event_type AS et FROM events),
             |b AS (SELECT u, t, tie,
             |             CASE WHEN lag(et) OVER w IS DISTINCT FROM et
             |                  THEN 1 ELSE 0 END AS brk
             |      FROM e WINDOW w AS (PARTITION BY u ORDER BY t, tie)),
             |r AS (SELECT u, sum(brk) OVER (PARTITION BY u ORDER BY t, tie
             |                               ROWS UNBOUNDED PRECEDING) AS run
             |      FROM b),
             |lens AS (SELECT u, run, CAST(count(*) AS BIGINT) AS len
             |         FROM r GROUP BY 1, 2)
             |SELECT u, CAST(sum(len) AS BIGINT) AS n_events,
             |       CAST(count(*) AS BIGINT) AS n_runs,
             |       CAST(max(len) AS BIGINT) AS max_run,
             |       CAST(count(*) * 1000000 // sum(len) AS BIGINT) AS ratio_e6
             |FROM lens GROUP BY 1""".stripMargin)),

    // ── Position-based (U-shape) attribution: 40/20/40 credit across
    //    each user's ordered touch sequence, summed per channel.
    QueryDef("q_position_attribution",
      (s, d) => {
        val t = Tables.events(s, d).select(col("user_id").as("u"),
          expr("unix_micros(ts)").as("t"), col("event_id").as("eid"),
          col("event_type").as("ch"))
        val w = Window.partitionBy(col("u"))
        t.withColumn("rn", row_number().over(
            w.orderBy(col("t"), col("eid"))).cast("long"))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("credit_e6",
            when(col("n") === 1, 1000000L)
              .when(col("n") === 2, 500000L)
              .when(col("rn") === 1 || col("rn") === col("n"), 400000L)
              .otherwise(expr("200000 div (n - 2)")))
          .groupBy(col("ch"))
          .agg(count(lit(1)).as("n_touches"),
            sum(col("credit_e6")).as("credit_e6"))
      },
      Some("""WITH t AS (
             |  SELECT user_id AS u, epoch_us(ts) AS t, event_id AS eid,
             |         event_type AS ch
             |  FROM events),
             |r AS (SELECT ch,
             |             CAST(row_number() OVER (PARTITION BY u
             |               ORDER BY t, eid) AS BIGINT) AS rn,
             |             CAST(count(*) OVER (PARTITION BY u) AS BIGINT) AS n
             |      FROM t),
             |c AS (SELECT ch,
             |             CASE WHEN n = 1 THEN 1000000
             |                  WHEN n = 2 THEN 500000
             |                  WHEN rn = 1 OR rn = n THEN 400000
             |                  ELSE 200000 // (n - 2) END AS credit_e6
             |      FROM r)
             |SELECT ch, CAST(count(*) AS BIGINT) AS n_touches,
             |       CAST(sum(credit_e6) AS BIGINT) AS credit_e6
             |FROM c GROUP BY 1""".stripMargin)),

    // ── Sequential 2-patterns (PrefixSpan depth-1 slice): for each
    //    user, the FIRST occurrence of each event type; directed pair
    //    a→b supported when first(a) precedes first(b) under the
    //    (ts, type) total order. Support = users with the pattern ÷
    //    active users. Order-sensitive — the itemset queries can't see
    //    the difference between signup→purchase and purchase→signup.
    //    Self-join stays within user (≤ |types|² rows each).
    QueryDef("q_seq_patterns",
      (s, d) => {
        val firsts = Tables.events(s, d)
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(expr("unix_micros(ts)")).as("f_us"))
          .localCheckpoint(false) // both sides of the in-user pair join
        val tot = firsts.agg(countDistinct(col("user_id")).as("n_users"))
        val b = firsts.select(col("user_id"),
          col("event_type").as("cons"), col("f_us").as("f_b"))
        firsts.join(b, "user_id")
          .where(col("f_us") < col("f_b") ||
            (col("f_us") === col("f_b") && col("event_type") < col("cons")))
          .groupBy(col("event_type").as("ante"), col("cons"))
          .agg(countDistinct(col("user_id")).as("n_pair"))
          .crossJoin(broadcast(tot))
          .withColumn("support_e6", expr("n_pair * 1000000 div n_users"))
          .where(col("support_e6") >= 100000)
          .select(col("ante"), col("cons"), col("n_pair"), col("support_e6"))
      },
      Some("""WITH f AS (SELECT user_id, event_type,
             |                  min(epoch_us(ts)) AS f_us
             |           FROM events GROUP BY 1, 2),
             |t AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             |      FROM f),
             |p AS (SELECT a.event_type AS ante, b.event_type AS cons,
             |             CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_pair
             |      FROM f a JOIN f b ON a.user_id = b.user_id
             |      WHERE a.f_us < b.f_us
             |         OR (a.f_us = b.f_us AND a.event_type < b.event_type)
             |      GROUP BY 1, 2)
             |SELECT ante, cons, n_pair, n_pair * 1000000 // n_users AS support_e6
             |FROM p CROSS JOIN t
             |WHERE n_pair * 1000000 // n_users >= 100000""".stripMargin)),

    // ── Bounce rate: sessions = 30-minute-gap splits per user (the
    //    registry's session convention); a bounce is a single-event
    //    session. One user-keyed lag/segment pass, per-event_type-of-
    //    first-event rollup.
    QueryDef("q_bounce_rate",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sess = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("pts", lag(col("ts"), 1).over(w))
          .withColumn("new_sess", when(col("pts").isNull ||
            expr("unix_micros(ts) - unix_micros(pts)") > 1800000000L, 1L)
            .otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("user_id"), col("sess_id"))
              .orderBy(col("ts"), col("event_id"))))
        val per = sess.groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_events"),
            max(when(col("rn") === 1, col("event_type"))).as("first_type"))
        per.groupBy(col("first_type"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_events") === 1L, 1L).otherwise(0L))
              .as("n_bounces"))
          .selectExpr("first_type",
            "CAST(n_sessions AS BIGINT) AS n_sessions",
            "CAST(n_bounces AS BIGINT) AS n_bounces",
            "n_bounces * 1000000 div n_sessions AS bounce_e6")
      },
      Some("""WITH sq AS (
             |  SELECT user_id, ts, event_id, event_type,
             |         CASE WHEN lag(ts) OVER w IS NULL
             |               OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
             |                  > 1800000000
             |              THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (SELECT user_id, ts, event_id, event_type,
             |                sum(new_sess) OVER (PARTITION BY user_id
             |                  ORDER BY ts, event_id
             |                  ROWS UNBOUNDED PRECEDING) AS sess_id
             |         FROM sq),
             |fr AS (SELECT user_id, sess_id, ts, event_id, event_type,
             |              row_number() OVER (PARTITION BY user_id,
             |                sess_id ORDER BY ts, event_id) AS rn
             |       FROM sess),
             |per AS (SELECT user_id, sess_id,
             |               CAST(count(*) AS BIGINT) AS n_events,
             |               max(CASE WHEN rn = 1 THEN event_type END)
             |                 AS first_type
             |        FROM fr GROUP BY 1, 2)
             |SELECT first_type,
             |       CAST(count(*) AS BIGINT) AS n_sessions,
             |       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_bounces,
             |       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             |         AS BIGINT) * 1000000 // count(*) AS bounce_e6
             |FROM per GROUP BY 1""".stripMargin)),

    /* Event-stream capacity and affinity reads —
     * peak-to-mean ratio of the hourly profile per event type (the
     * provisioning headroom number; a flat profile ≈ 1e6, a spiky one ≫),
     * pairwise user-set Jaccard between event types (do the same people
     * click and purchase — the co-usage matrix), and type-affinity lift
     * (P(does B | did A) vs P(does B) over users — the behavioral
     * cross-sell read beside q_cooc_lift's basket form). Event-type and
     * hour axes are bounded; the only data-sized pass is one keyed
     * rollup per query. */

    // ── Peak-to-mean per type over the 24-hour profile: exact integer
    //    cross-multiply (peak·24 vs total), peak hour deterministic
    //    (max count, then min hour).
    QueryDef("q_peak_to_mean",
      (s, d) => {
        val prof = Fixtures.hourProfile(s, d)
        prof
          .withColumn("pk", max(col("c")).over(
            Window.partitionBy(col("event_type"))))
          .groupBy(col("event_type"))
          .agg(sum(col("c")).as("total"), max(col("c")).as("peak"),
            min(when(col("c") === col("pk"), col("hod"))).as("peak_hour"))
          .selectExpr("event_type", "CAST(total AS BIGINT) AS total",
            "CAST(peak AS BIGINT) AS peak",
            "CAST(peak_hour AS BIGINT) AS peak_hour",
            "peak * 24 * 1000000 div total AS peak_to_mean_e6")
      },
      Some("""WITH prof AS (
             |  SELECT event_type,
             |         (epoch_us(ts) // 3600000000) % 24 AS hod,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM events GROUP BY 1, 2),
             |mx AS (SELECT event_type,
             |              CAST(sum(c) AS BIGINT) AS total,
             |              CAST(max(c) AS BIGINT) AS peak
             |       FROM prof GROUP BY 1)
             |SELECT mx.event_type, mx.total, mx.peak,
             |       CAST(min(prof.hod) AS BIGINT) AS peak_hour,
             |       mx.peak * 24 * 1000000 // mx.total
             |         AS peak_to_mean_e6
             |FROM mx JOIN prof ON prof.event_type = mx.event_type
             |  AND prof.c = mx.peak
             |GROUP BY 1, 2, 3, mx.peak * 24 * 1000000 // mx.total"""
        .stripMargin)),

    // ── User-set Jaccard between event types: ONE (type, user)
    //    distinct, per-type sizes, then the user-keyed self-join feeds
    //    the 10-pair intersection counts — never an all-pairs user
    //    scan.
    QueryDef("q_user_overlap_types",
      (s, d) => {
        val tu = Tables.events(s, d)
          .select(col("event_type").as("t"), col("user_id").as("u"))
          .distinct()
          .localCheckpoint(false) // sizes + both sides of the self-join
        val sz = tu.groupBy(col("t")).agg(count(lit(1)).as("nu"))
        tu.as("a").join(tu.as("b"),
            col("a.u") === col("b.u") && col("a.t") < col("b.t"))
          .groupBy(col("a.t").as("ta"), col("b.t").as("tb"))
          .agg(count(lit(1)).as("ninter"))
          .join(broadcast(sz.select(col("t").as("ta"), col("nu").as("na"))),
            "ta")
          .join(broadcast(sz.select(col("t").as("tb"), col("nu").as("nb"))),
            "tb")
          .selectExpr("ta", "tb", "CAST(ninter AS BIGINT) AS ninter",
            "CAST(na AS BIGINT) AS na", "CAST(nb AS BIGINT) AS nb",
            "ninter * 1000000 div (na + nb - ninter) AS jaccard_e6")
      },
      Some(s"""WITH $typeUsersSql,
             |inter AS (SELECT a.t AS ta, b.t AS tb,
             |                 CAST(count(*) AS BIGINT) AS ninter
             |          FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
             |          GROUP BY 1, 2)
             |SELECT ta, tb, ninter, za.nu AS na, zb.nu AS nb,
             |       ninter * 1000000 // (za.nu + zb.nu - ninter)
             |         AS jaccard_e6
             |FROM inter
             |JOIN sz za ON inter.ta = za.t
             |JOIN sz zb ON inter.tb = zb.t""".stripMargin)),

    // ── Type-affinity lift: over users, lift(A→B) = P(B|A)/P(B) =
    //    (n_AB · n_users) / (n_A · n_B) e6, all ordered pairs A≠B.
    //    Reuses the same distinct-user frame shape; the pair counts
    //    are symmetric but the lift matrix is emitted directed (the
    //    conditional read differs per direction only in its margin).
    QueryDef("q_type_affinity_lift",
      (s, d) => {
        val tu = Tables.events(s, d)
          .select(col("event_type").as("t"), col("user_id").as("u"))
          .distinct()
          .localCheckpoint(false) // margins + pair counts + user total
        val sz = tu.groupBy(col("t")).agg(count(lit(1)).as("nu"))
        val nus = tu.select(col("u")).distinct().agg(count(lit(1)).as("n"))
        tu.as("a").join(tu.as("b"),
            col("a.u") === col("b.u") && col("a.t") =!= col("b.t"))
          .groupBy(col("a.t").as("ta"), col("b.t").as("tb"))
          .agg(count(lit(1)).as("nab"))
          .join(broadcast(sz.select(col("t").as("ta"), col("nu").as("na"))),
            "ta")
          .join(broadcast(sz.select(col("t").as("tb"), col("nu").as("nb"))),
            "tb")
          .crossJoin(broadcast(nus))
          // decimal: nab·n·1e6 nears int64 at ~3M users — widen first.
          .selectExpr("ta", "tb", "CAST(nab AS BIGINT) AS nab",
            """CAST(CAST(nab AS DECIMAL(38,0)) * n * 1000000
              |div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)
              |AS lift_e6""".stripMargin)
      },
      Some(s"""WITH $typeUsersSql,
             |nus AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n
             |        FROM tu),
             |pr AS (SELECT a.t AS ta, b.t AS tb,
             |              CAST(count(*) AS BIGINT) AS nab
             |       FROM tu a JOIN tu b ON a.u = b.u AND a.t <> b.t
             |       GROUP BY 1, 2)
             |SELECT ta, tb, nab,
             |       CAST(CAST(nab AS HUGEINT) * n * 1000000
             |         // (CAST(za.nu AS HUGEINT) * zb.nu) AS BIGINT)
             |         AS lift_e6
             |FROM pr
             |JOIN sz za ON pr.ta = za.t
             |JOIN sz zb ON pr.tb = zb.t
             |CROSS JOIN nus""".stripMargin)),

    // ── Funnel latency percentiles: per user the first signup and the
    //    first LATER purchase; lag in minutes; p50/p90 by exact
    //    ceil-rank selection over (lag, user) — one user-keyed rollup,
    //    one unpartitioned rank on the post-aggregate lag axis.
    QueryDef("q_funnel_latency_percentiles",
      (s, d) => {
        val firsts = Tables.events(s, d)
          .filter(col("event_type").isin("signup", "purchase"))
          .groupBy(col("user_id"))
          .agg(min(when(col("event_type") === "signup",
            expr("unix_micros(ts)"))).as("t_signup"),
            min(when(col("event_type") === "purchase",
              expr("unix_micros(ts)"))).as("t_purchase"))
          .filter(col("t_signup").isNotNull &&
            col("t_purchase").isNotNull &&
            col("t_purchase") > col("t_signup"))
          .select(col("user_id"),
            expr("(t_purchase - t_signup) div 60000000").as("lag_min"))
        val ranked = firsts
          .withColumn("rk", row_number().over(
            Window.orderBy(col("lag_min"), col("user_id"))).cast("long"))
          .withColumn("n", count(lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        ranked.agg(max(col("n")).as("n_users"),
            max(when(col("rk") === expr("greatest(1, (n * 50 + 99) div 100)"),
              col("lag_min"))).as("p50_min"),
            max(when(col("rk") === expr("greatest(1, (n * 90 + 99) div 100)"),
              col("lag_min"))).as("p90_min"))
          .selectExpr("CAST(n_users AS BIGINT) AS n_users",
            "CAST(p50_min AS BIGINT) AS p50_min",
            "CAST(p90_min AS BIGINT) AS p90_min")
      },
      Some("""WITH f AS (
             |  SELECT user_id,
             |         min(CASE WHEN event_type = 'signup'
             |           THEN epoch_us(ts) END) AS t_signup,
             |         min(CASE WHEN event_type = 'purchase'
             |           THEN epoch_us(ts) END) AS t_purchase
             |  FROM events
             |  WHERE event_type IN ('signup', 'purchase')
             |  GROUP BY 1),
             |lags AS (SELECT user_id,
             |                (t_purchase - t_signup) // 60000000
             |                  AS lag_min
             |         FROM f
             |         WHERE t_signup IS NOT NULL
             |           AND t_purchase IS NOT NULL
             |           AND t_purchase > t_signup),
             |r AS (SELECT lag_min,
             |             CAST(row_number() OVER (ORDER BY lag_min,
             |               user_id) AS BIGINT) AS rk,
             |             CAST(count(*) OVER () AS BIGINT) AS n
             |      FROM lags)
             |SELECT CAST(max(n) AS BIGINT) AS n_users,
             |       CAST(max(CASE WHEN rk = greatest(1,
             |         (n * 50 + 99) // 100) THEN lag_min END) AS BIGINT)
             |         AS p50_min,
             |       CAST(max(CASE WHEN rk = greatest(1,
             |         (n * 90 + 99) // 100) THEN lag_min END) AS BIGINT)
             |         AS p90_min
             |FROM r""".stripMargin))
  )
}
