package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.{Behavior, Bm25, Graph, Quantiles, Sampling, TextAnalysis, TimeSeries}
import graft.geo.Geofence
import org.apache.spark.sql.functions._

/** Round-11 extension batch: HITS hubs/authorities and Adamic–Adar on
  * the shared broken-ring graph, corpus-self-trained bigram LM quality
  * scoring, lag-1 autocorrelation, l-diversity (the k-anonymity
  * companion audit), convex-polygon geofencing, temperature-rebalanced
  * mixture targets, and the weighted median. Every oracle is plain
  * DuckDB SQL over the shared parquet; every integer-fixed-point trick
  * (e6 scores, fixed-point log₂, isqrt) matches an existing portability
  * precedent in the repo. */
object Round11Queries {

  /** Shared directed test graph (same as Round8Queries): ring + quadratic
    * chords over part-key residues. */
  private val graphSql =
    """WITH nodes AS MATERIALIZED (SELECT DISTINCT p_partkey % 100 AS id FROM part),
      |e AS MATERIALIZED (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
      |      UNION
      |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0)""".stripMargin

  /** Unrolled 2-iteration HITS oracle: each half-round is a sum along
    * edges + an ∞-norm rescale to e6 (scalar-subquery max). */
  private def hitsSql(iters: Int): String = {
    require(iters >= 1)
    val rounds = (1 to iters).flatMap { i =>
      val hPrev = if (i == 1) "h0" else s"h${i - 1}"
      Seq(
        s"""a${i}r AS (SELECT dst AS id, CAST(sum(h) AS BIGINT) AS ar
           |        FROM e JOIN $hPrev ON $hPrev.id = e.src GROUP BY dst)""".stripMargin,
        s"""a$i AS MATERIALIZED (SELECT id, ar * 1000000 // (SELECT max(ar) FROM a${i}r) AS a
           |        FROM a${i}r)""".stripMargin,
        s"""h${i}r AS (SELECT src AS id, CAST(sum(a) AS BIGINT) AS hr
           |        FROM e JOIN a$i ON a$i.id = e.dst GROUP BY src)""".stripMargin,
        s"""h$i AS MATERIALIZED (SELECT id, hr * 1000000 // (SELECT max(hr) FROM h${i}r) AS h
           |        FROM h${i}r)""".stripMargin)
    }
    (graphSql +: ",\nh0 AS (SELECT id, 1000000 AS h FROM nodes)" +:
      rounds.map("," + _)).mkString("\n") +
      s"""
         |SELECT n.id, CAST(coalesce(h$iters.h, 0) AS BIGINT) AS hub_e6,
         |       CAST(coalesce(a$iters.a, 0) AS BIGINT) AS auth_e6
         |FROM nodes n LEFT JOIN h$iters ON h$iters.id = n.id
         |             LEFT JOIN a$iters ON a$iters.id = n.id""".stripMargin
  }

  /** SPRT coefficients for H0 p=0.18 vs H1 p=0.22, α = 0.05 — derived
    * through [[Bm25.log2E6Int]] so the Spark plan and the SQL oracle
    * embed the IDENTICAL e6 literals (c1 = log₂(p1/p0) > 0 >
    * c0 = log₂((1−p1)/(1−p0)); A = log₂(1/α)). */
  private val sprtC1 = Bm25.log2E6Int(220000L * 4096L / 180000L) - 12000000L
  private val sprtC0 = Bm25.log2E6Int(780000L * 4096L / 820000L) - 12000000L
  private val sprtA = Bm25.log2E6Int(20L)

  /** Hexagonal fence (centidegrees) centered on the always-populated
    * southern latitude band of the synthetic positions. */
  private val fence = Seq((4000L, -8000L), (2000L, -5000L), (-2000L, -5000L),
    (-4000L, -8000L), (-2000L, -11000L), (2000L, -11000L))

  def defs: Seq[QueryDef] = Seq(

    // ── HITS hubs & authorities, 2 synchronous rounds, ∞-norm e6
    //    integers: chord targets accumulate authority, chord sources
    //    hub mass — all-integer, so the unrolled SQL replays it exactly.
    QueryDef("q_hits",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        Graph.hits(nodes, edges, 2)
      },
      Some(hitsSql(2))),

    // ── Adamic–Adar link prediction on the same graph: common neighbors
    //    weighted 1e6/log₂(deg) via the shared fixed-point log₂ — the
    //    middle ground between raw counts and 1/deg resource allocation.
    QueryDef("q_adamic_adar",
      (s, d) => {
        val (_, edges) = RingGraph.directed(s, d)
        Graph.adamicAdar(
          edges.select(col("src").as("a"), col("dst").as("b")), 2L)
      },
      Some(graphSql +
        s""",
           |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |        FROM e WHERE src <> dst),
           |adj AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
           |deg AS (SELECT u AS z, CAST(count(*) AS BIGINT) AS degz FROM adj GROUP BY u),
           |wedge AS (SELECT l.u AS a, r.v AS b,
           |                 1000000000000 // ${Bm25.log2E6Sql("deg.degz")} AS aa
           |          FROM adj l JOIN adj r ON l.v = r.u AND l.u < r.v
           |          JOIN deg ON deg.z = l.v),
           |scored AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
           |                  CAST(sum(aa) AS BIGINT) AS aa_e6
           |           FROM wedge GROUP BY a, b)
           |SELECT s.a, s.b, s.n_common, s.aa_e6 FROM scored s
           |LEFT JOIN und ON und.a = s.a AND und.b = s.b
           |WHERE und.a IS NULL AND s.n_common >= 2""".stripMargin)),

    // ── Minimum spanning forest by distributed Borůvka over the shared
    //    graph with unique weights w = a·1000 + b. The oracle is an
    //    INDEPENDENT formulation: the cut property under distinct
    //    weights — e ∈ MSF iff the minimax bottleneck path cost between
    //    its endpoints equals its own weight — evaluated by all-pairs
    //    path-doubling relaxation (7 rounds cover paths ≤ 128 edges).
    QueryDef("q_msf",
      (s, d) => {
        val (nodes, edges) = RingGraph.directed(s, d)
        Graph.minimumSpanningForest(nodes,
          edges.filter(col("src") =!= col("dst"))
            .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
            .distinct()
            .withColumn("w", col("a") * 1000 + col("b")),
          10)
      },
      Some {
        val head = graphSql +
          """,
            |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            |       FROM e WHERE src <> dst),
            |we AS MATERIALIZED (SELECT a, b, a * 1000 + b AS w FROM und),
            |d0 AS MATERIALIZED (SELECT a AS u, b AS v, w AS d FROM we
            |      UNION ALL SELECT b, a, w FROM we)""".stripMargin
        val rounds = (1 to 7).map { i =>
          s"""d$i AS MATERIALIZED (SELECT u, v, min(d) AS d FROM (
             |      SELECT u, v, d FROM d${i - 1}
             |      UNION ALL
             |      SELECT x.u, y.v, greatest(x.d, y.d) AS d
             |      FROM d${i - 1} x JOIN d${i - 1} y ON x.v = y.u AND x.u <> y.v)
             |      GROUP BY u, v)""".stripMargin
        }
        (head +: rounds.map("," + _)).mkString("\n") +
          """
            |SELECT we.a, we.b, CAST(we.w AS BIGINT) AS w
            |FROM we JOIN d7 ON d7.u = we.a AND d7.v = we.b
            |WHERE d7.d = we.w""".stripMargin
      }),

    // ── Perplexity-style quality scoring: add-one-smoothed bigram LM
    //    trained on the corpus itself, per-doc average NLL in fixed-point
    //    log₂ e6 units — rare word transitions score high (= suspect).
    QueryDef("q_bigram_lm",
      (s, d) => TextAnalysis.bigramNll(
        Tables.documents(s, d).select(col("doc_id"), col("text"))),
      Some {
        val nll = Bm25.log2E6Sql("(c1.c1 + vv.v)") + " - " +
          Bm25.log2E6Sql("(c12.c12 + 1)")
        s"""WITH t AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
           |              i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
           |       FROM t WHERE len(ws) >= 2),
           |pair AS MATERIALIZED (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
           |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM pair GROUP BY 1, 2),
           |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM pair GROUP BY 1),
           |vv AS (SELECT CAST(count(DISTINCT wd) AS BIGINT) AS v
           |       FROM (SELECT unnest(ws) AS wd FROM t)),
           |sc AS (SELECT p.doc_id, $nll AS nll_e6
           |       FROM pair p JOIN c12 ON c12.w1 = p.w1 AND c12.w2 = p.w2
           |                   JOIN c1 ON c1.w1 = p.w1 CROSS JOIN vv)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |       CAST(sum(nll_e6) // count(*) AS BIGINT) AS avg_nll_e6
           |FROM sc GROUP BY doc_id""".stripMargin
      }),

    // ── Lag-1 autocorrelation of the cents series per event type:
    //    exact int128/decimal sums, one IEEE ratio at the end.
    QueryDef("q_autocorr",
      (s, d) => TimeSeries.autocorr(
        Tables.events(s, d)
          .withColumn("t_us", unix_micros(col("ts")))
          .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long")),
        "event_type", "t_us", "event_id", "cents"),
      Some("""WITH e AS (SELECT event_type AS key, epoch_us(ts) AS t, event_id,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events),
             |p AS (SELECT key, c AS x,
             |             lead(c) OVER (PARTITION BY key ORDER BY t, event_id) AS y
             |      FROM e),
             |s AS (SELECT key, CAST(count(*) AS BIGINT) AS n_pairs,
             |             CAST(sum(x) AS HUGEINT) AS s1, CAST(sum(y) AS HUGEINT) AS s2,
             |             CAST(sum(x * x) AS HUGEINT) AS s11,
             |             CAST(sum(y * y) AS HUGEINT) AS s22,
             |             CAST(sum(x * y) AS HUGEINT) AS s12
             |      FROM p WHERE y IS NOT NULL GROUP BY key)
             |SELECT key, n_pairs,
             |       CASE WHEN n_pairs * s11 - s1 * s1 = 0 OR n_pairs * s22 - s2 * s2 = 0
             |            THEN NULL
             |            ELSE round(CAST(n_pairs * s12 - s1 * s2 AS DOUBLE) /
             |                       sqrt(CAST(n_pairs * s11 - s1 * s1 AS DOUBLE) *
             |                            CAST(n_pairs * s22 - s2 * s2 AS DOUBLE)), 6)
             |       END AS acf1
             |FROM s""".stripMargin)),

    // ── l-diversity audit (companion to q_k_anonymity): per
    //    quasi-identifier group, how many DISTINCT sensitive values —
    //    a k-anonymous group with one sensitive value still leaks.
    QueryDef("q_l_diversity",
      (s, d) => Tables.customer(s, d)
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          countDistinct(floor(col("c_acctbal") / 1000).cast("long")).as("l_div"))
        .filter(col("n") >= 3),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT) AS l_div
             |FROM customer GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

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

    // ── Temperature-rebalanced (α = ½) training-mix targets per event
    //    type: shares follow √n instead of n — integer-exact via isqrt.
    QueryDef("q_sample_temperature",
      (s, d) => Sampling.temperatureTargets(Tables.events(s, d), "event_type"),
      Some("""WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
             |w AS (SELECT event_type, n,
             |             CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS weight FROM c),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(weight) AS BIGINT) AS sw FROM w)
             |SELECT event_type, n, weight,
             |       CAST(nn * weight // sw AS BIGINT) AS target,
             |       CAST(least(1000000, (nn * weight // sw) * 1000000 // n) AS BIGINT) AS p_e6
             |FROM w CROSS JOIN tot""".stripMargin)),

    // ── ROC-AUC of doc length as an English-detector, by the tie-exact
    //    Mann–Whitney rank sum in doubled-rank integer units.
    QueryDef("q_auc_rank",
      (s, d) => graft.ops.Ranking.aucRank(
        Tables.documents(s, d).select(col("n_chars"),
          (col("lang") === "en").as("is_en")),
        "n_chars", "is_en"),
      Some("""WITH byval AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt,
             |                      CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pc
             |               FROM documents GROUP BY 1),
             |r AS (SELECT v, cnt, pc,
             |             CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
             |      FROM byval)
             |SELECT CAST(sum(pc) AS BIGINT) AS n_pos,
             |       CAST(sum(cnt - pc) AS BIGINT) AS n_neg,
             |       CAST(CASE WHEN sum(pc) = 0 OR sum(cnt - pc) = 0 THEN NULL
             |            ELSE (sum(pc * ((cum - cnt) * 2 + cnt + 1)) - sum(pc) * (sum(pc) + 1))
             |                 * 1000000 // (2 * sum(pc) * sum(cnt - pc))
             |            END AS BIGINT) AS auc_e6
             |FROM r""".stripMargin)),

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

    // ── Per-source PII exposure: a third of the docs get a synthetic
    //    phone+email appended; the profile normalizes hits per Mtoken.
    QueryDef("q_pii_density",
      (s, d) => TextAnalysis.piiDensity(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" or u"), col("doc_id").cast("string"),
              lit("@example.com now")))
            .otherwise(col("text")).as("text")),
        "source"),
      Some(s"""WITH aug AS (SELECT doc_id, source,
              |              CASE WHEN doc_id % 3 = 0 THEN
              |                concat(text, ' call 555-',
              |                       lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
              |                       ' or u', CAST(doc_id AS VARCHAR),
              |                       '@example.com now')
              |              ELSE text END AS text
              |             FROM documents),
              |sc AS (SELECT source,
              |              CAST(len(regexp_extract_all(text, '${graft.ops.TextAnalysis.phonePattern}')) AS BIGINT) AS n_phone,
              |              CAST(len(regexp_extract_all(text, '${graft.ops.TextAnalysis.emailPattern}')) AS BIGINT) AS n_email,
              |              CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
              |       FROM aug)
              |SELECT source, CAST(count(*) AS BIGINT) AS docs,
              |       CAST(sum(CASE WHEN n_phone + n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
              |       CAST(sum(n_phone + n_email) AS BIGINT) AS pii_hits,
              |       CAST(sum(n_phone + n_email) * 1000000 // sum(toks) AS BIGINT) AS pii_per_mtok
              |FROM sc GROUP BY source""".stripMargin)),

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

    // ── Clamp-at-zero inventory balance per supplier bucket: returns
    //    deplete, other lines restock; the fold also counts stockouts.
    QueryDef("q_clamped_balance",
      (s, d) => TimeSeries.clampedBalance(
        Tables.lineitem(s, d).select(
          (col("l_suppkey") % 50).as("k"),
          expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("t"),
          (col("l_orderkey") * 8 + col("l_linenumber")).as("tie"),
          (col("l_quantity").cast("long") *
            when(col("l_returnflag") === "R", -1L).otherwise(1L)).as("d")),
        "k", "t", "tie", "d"),
      // Lindley reflection: W_n = S_n − min(0, min_{k≤n} S_k) turns the
      // clamp recursion into plain cumulative windows on both sides.
      Some("""WITH b AS (SELECT l_suppkey % 50 AS k,
             |                  epoch_us(l_shipdate) AS t,
             |                  l_orderkey * 8 + l_linenumber AS tie,
             |                  CAST(l_quantity AS BIGINT) *
             |                    (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) AS d
             |           FROM lineitem),
             |r AS (SELECT k, t, tie, d,
             |             sum(d) OVER (PARTITION BY k ORDER BY t, tie
             |                          ROWS UNBOUNDED PRECEDING) AS run
             |      FROM b),
             |m AS (SELECT k, d, run,
             |             least(0, coalesce(min(run) OVER (PARTITION BY k ORDER BY t, tie
             |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS floor_prev,
             |             run - least(0, min(run) OVER (PARTITION BY k ORDER BY t, tie
             |                        ROWS UNBOUNDED PRECEDING)) AS bal
             |      FROM r)
             |SELECT k AS key,
             |       CAST(sum(d) - least(0, min(run)) AS BIGINT) AS balance,
             |       CAST(max(bal) AS BIGINT) AS peak,
             |       CAST(sum(CASE WHEN run < floor_prev THEN 1 ELSE 0 END) AS BIGINT) AS n_clamps,
             |       CAST(count(*) AS BIGINT) AS n_moves
             |FROM m GROUP BY k""".stripMargin)),

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

    // ── PSI drift between the first and second half of the event
    //    stream, per type, over cents deciles — add-one-smoothed shares
    //    on the full bucket grid, fixed-point log₂, all integer.
    QueryDef("q_psi_drift",
      (s, d) => {
        val e = Tables.events(s, d).select(
          unix_micros(col("ts")).as("t"), col("event_type").as("g"),
          expr("least(9L, greatest(0L, CAST(floor(value * 100 + 0.5) AS BIGINT) div 1000L))")
            .as("bucket"))
        val mid = e.agg(expr("min(t) + (max(t) - min(t)) div 2").as("m"))
        val h = e.crossJoin(broadcast(mid))
          .withColumn("half", when(col("t") <= col("m"), 0L).otherwise(1L))
        graft.ops.Drift.psi(h, "g", "half", "bucket", 9)
      },
      Some {
        val term = s"(p_e6 - q_e6) * (${Bm25.log2E6Sql("p_e6")} - ${Bm25.log2E6Sql("q_e6")})"
        s"""WITH e AS (SELECT epoch_us(ts) AS t, event_type AS g,
           |                  least(9, greatest(0, CAST(floor(value * 100 + 0.5) AS BIGINT) // 1000)) AS bucket
           |           FROM events),
           |mid AS (SELECT min(t) + (max(t) - min(t)) // 2 AS m FROM e),
           |h AS (SELECT g, bucket, CASE WHEN t <= m THEN 0 ELSE 1 END AS half
           |      FROM e CROSS JOIN mid),
           |cnt AS (SELECT g, half, bucket, CAST(count(*) AS BIGINT) AS n
           |        FROM h GROUP BY 1, 2, 3),
           |tot AS (SELECT g, half, CAST(sum(n) AS BIGINT) AS nt FROM cnt GROUP BY 1, 2),
           |gb AS (SELECT gg.g, b.bucket, hh.half
           |       FROM (SELECT DISTINCT g FROM cnt) gg
           |       CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bucket) b
           |       CROSS JOIN (SELECT unnest([0, 1]) AS half) hh),
           |sh AS (SELECT gb.g, gb.bucket, gb.half,
           |              (coalesce(cnt.n, 0) + 1) * 1000000 // (tot.nt + 10) AS share_e6
           |       FROM gb LEFT JOIN cnt ON cnt.g = gb.g AND cnt.half = gb.half
           |                            AND cnt.bucket = gb.bucket
           |               JOIN tot ON tot.g = gb.g AND tot.half = gb.half),
           |pq AS (SELECT g, bucket,
           |              CAST(max(CASE WHEN half = 0 THEN share_e6 END) AS BIGINT) AS p_e6,
           |              CAST(max(CASE WHEN half = 1 THEN share_e6 END) AS BIGINT) AS q_e6
           |       FROM sh GROUP BY 1, 2)
           |SELECT g, CAST(sum($term) // 1000000 AS BIGINT) AS psi_e6,
           |       CAST(count(*) AS BIGINT) AS n_buckets
           |FROM pq GROUP BY g""".stripMargin
      }),

    // ── Top-3 customers-per-priority with an "other" rollup: identity
    //    for the head, one deterministic bucket for the tail.
    QueryDef("q_topk_other",
      (s, d) => graft.ops.Ranking.topKWithOther(
        Tables.orders(s, d).select(col("o_orderpriority").as("grp"),
          (col("o_custkey") % 10).as("member"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")),
        "grp", "member", "cents", 3),
      Some("""WITH t AS (SELECT o_orderpriority AS grp, o_custkey % 10 AS member,
             |                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total
             |           FROM orders GROUP BY 1, 2),
             |r AS (SELECT grp, member, total,
             |             row_number() OVER (PARTITION BY grp
             |                                ORDER BY total DESC, member) AS rk
             |      FROM t)
             |SELECT grp,
             |       CASE WHEN rk <= 3 THEN CAST(member AS VARCHAR) ELSE 'other' END AS who,
             |       CAST(sum(total) AS BIGINT) AS total,
             |       CAST(count(*) AS BIGINT) AS n_members
             |FROM r GROUP BY 1, 2""".stripMargin)),

    // ── p25/p50/p75 cents per event type from ONE shared histogram
    //    pass — multi-percentile at the cost of one.
    QueryDef("q_percentile_bands",
      (s, d) => Quantiles.groupedPercentileBands(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents", Seq(250000L, 500000L, 750000L)),
      Some("""WITH e AS (SELECT event_type AS g,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
             |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             |             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
             |      FROM e),
             |ps AS (SELECT unnest([250000, 500000, 750000]) AS p_e6)
             |SELECT r.g, CAST(ps.p_e6 AS BIGINT) AS p_e6,
             |       CAST((n * ps.p_e6 + 999999) // 1000000 AS BIGINT) AS k,
             |       n AS n_rows, v AS value
             |FROM r JOIN ps ON rn = (n * ps.p_e6 + 999999) // 1000000""".stripMargin)),

    // ── Winsorized mean: cents clamped to each type's own [p05, p95]
    //    before averaging — robust mean without dropping rows.
    QueryDef("q_winsorized_mean",
      (s, d) => Quantiles.winsorizedMean(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents", 50000L, 950000L),
      Some("""WITH e AS (SELECT event_type AS g,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events),
             |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
             |             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
             |      FROM e),
             |cuts AS (SELECT g,
             |                max(CASE WHEN rn = (n * 50000 + 999999) // 1000000 THEN v END) AS p_lo,
             |                max(CASE WHEN rn = (n * 950000 + 999999) // 1000000 THEN v END) AS p_hi
             |         FROM r GROUP BY g)
             |SELECT e.g, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(max(p_lo) AS BIGINT) AS p_lo, CAST(max(p_hi) AS BIGINT) AS p_hi,
             |       CAST(sum(v) // count(*) AS BIGINT) AS raw_mean,
             |       CAST(sum(greatest(p_lo, least(p_hi, v))) // count(*) AS BIGINT) AS win_mean
             |FROM e JOIN cuts ON cuts.g = e.g GROUP BY e.g""".stripMargin)),

    // ── Order-lifecycle latency: per priority, line-level ship delays
    //    from order date — the accumulating-snapshot fact rollup.
    QueryDef("q_order_lifecycle",
      (s, d) => Tables.orders(s, d)
        .join(Tables.lineitem(s, d),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          expr("""(unix_micros(CAST(l_shipdate AS TIMESTAMP))
                 | - unix_micros(CAST(o_orderdate AS TIMESTAMP))) div 86400000000L"""
            .stripMargin).as("delay_days"))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n_lines"),
          expr("sum(delay_days) * 100 div count(*)").as("avg_delay_days_e2"),
          min(col("delay_days")).as("min_days"),
          max(col("delay_days")).as("max_days")),
      Some("""SELECT o_orderpriority AS priority,
             |       CAST(count(*) AS BIGINT) AS n_lines,
             |       CAST(sum((epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000) * 100
             |            // count(*) AS BIGINT) AS avg_delay_days_e2,
             |       CAST(min((epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000) AS BIGINT) AS min_days,
             |       CAST(max((epoch_us(l_shipdate) - epoch_us(o_orderdate)) // 86400000000) AS BIGINT) AS max_days
             |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |GROUP BY 1""".stripMargin)),

    // ── Skew advisor over candidate shuffle keys: hot-key share and the
    //    salt factor that would level its partition to the mean.
    QueryDef("q_skew_advisor",
      (s, d) => graft.ops.Skew.advisor(
        Tables.events(s, d), Seq("event_type", "user_id")),
      Some("""WITH a AS (SELECT CAST(event_type AS VARCHAR) AS k FROM events),
             |ga AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM a GROUP BY k),
             |sa AS (SELECT CAST('event_type' AS VARCHAR) AS key_col,
             |              CAST(sum(c) AS BIGINT) AS n_rows,
             |              CAST(count(*) AS BIGINT) AS n_keys,
             |              CAST((SELECT c FROM ga ORDER BY c DESC, k DESC LIMIT 1) AS BIGINT) AS top1_cnt
             |       FROM ga),
             |b AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
             |gb AS (SELECT k, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY k),
             |sb AS (SELECT CAST('user_id' AS VARCHAR) AS key_col,
             |              CAST(sum(c) AS BIGINT) AS n_rows,
             |              CAST(count(*) AS BIGINT) AS n_keys,
             |              CAST((SELECT c FROM gb ORDER BY c DESC, k DESC LIMIT 1) AS BIGINT) AS top1_cnt
             |       FROM gb),
             |u AS (SELECT * FROM sa UNION ALL SELECT * FROM sb)
             |SELECT key_col, n_rows, n_keys, top1_cnt,
             |       CAST(top1_cnt * 1000000 // n_rows AS BIGINT) AS top1_share_e6,
             |       CAST((top1_cnt * n_keys + n_rows - 1) // n_rows AS BIGINT) AS salt_factor
             |FROM u""".stripMargin)),

    // ── DDSketch-style relative-error quantiles: log₂ buckets via the
    //    fixed-point log (γ = 2^0.057536 ≈ 1.041, α ≈ 2%), mergeable by
    //    addition; landing buckets for p50/p95/p99 per type.
    QueryDef("q_ddsketch",
      (s, d) => graft.ops.Sketches.logBucketQuantile(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents", 57536L, Seq(500000L, 950000L, 990000L)),
      Some {
        val lg = Bm25.log2E6Sql("v")
        s"""WITH e AS (SELECT event_type AS g,
           |                 greatest(1, CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
           |           FROM events),
           |b AS (SELECT g, $lg // 57536 AS bucket FROM e),
           |c AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
           |w AS (SELECT g, bucket, cnt,
           |             CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS BIGINT) AS cum,
           |             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
           |      FROM c),
           |ps AS (SELECT unnest([500000, 950000, 990000]) AS p_e6)
           |SELECT g, CAST(ps.p_e6 AS BIGINT) AS p_e6, CAST(bucket AS BIGINT) AS bucket,
           |       CAST((n * ps.p_e6 + 999999) // 1000000 AS BIGINT) AS k, n
           |FROM w JOIN ps ON cum >= (n * ps.p_e6 + 999999) // 1000000
           |              AND cum - cnt < (n * ps.p_e6 + 999999) // 1000000""".stripMargin
      }),

    // ── DDSketch with reconstructed values: the fixed-point 2^x inverse
    //    turns each landing bucket's midpoint back into a representative
    //    cents estimate — reconstruction stays engine-portable integer.
    QueryDef("q_ddsketch_values",
      (s, d) => graft.ops.Sketches.logBucketQuantile(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents", 57536L, Seq(500000L, 990000L))
        .withColumn("mid_l", expr("bucket * 57536L + 28768L"))
        .withColumn("est_cents", graft.ops.Sketches.pow2E6Expr("mid_l"))
        .drop("mid_l"),
      Some {
        val lg = Bm25.log2E6Sql("v")
        val est = graft.ops.Sketches.pow2E6Sql("bucket * 57536 + 28768")
        s"""WITH e AS (SELECT event_type AS g,
           |                 greatest(1, CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
           |           FROM events),
           |b AS (SELECT g, $lg // 57536 AS bucket FROM e),
           |c AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
           |w AS (SELECT g, bucket, cnt,
           |             CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS BIGINT) AS cum,
           |             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
           |      FROM c),
           |ps AS (SELECT unnest([500000, 990000]) AS p_e6)
           |SELECT g, CAST(ps.p_e6 AS BIGINT) AS p_e6, CAST(bucket AS BIGINT) AS bucket,
           |       CAST((n * ps.p_e6 + 999999) // 1000000 AS BIGINT) AS k, n,
           |       CAST($est AS BIGINT) AS est_cents
           |FROM w JOIN ps ON cum >= (n * ps.p_e6 + 999999) // 1000000
           |              AND cum - cnt < (n * ps.p_e6 + 999999) // 1000000""".stripMargin
      }),

    // ── Wald SPRT on the purchase-conversion stream per variant:
    //    sequential LLR walk with e6 fixed-point coefficients shared as
    //    literals by plan and oracle; peeking-sound decisions.
    QueryDef("q_sprt", {
      (s, d) => graft.ops.Experiment.sprt(
        Tables.events(s, d).select((col("user_id") % 2).as("variant"),
          unix_micros(col("ts")).as("t"), col("event_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("x")),
        "variant", "t", "event_id", "x", sprtC1, sprtC0, sprtA)
    },
      Some(s"""WITH e AS (SELECT user_id % 2 AS variant, epoch_us(ts) AS t, event_id,
              |                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
              |           FROM events),
              |w AS (SELECT variant, x,
              |             CAST(sum(x * ($sprtC1) + (1 - x) * ($sprtC0))
              |                    OVER (PARTITION BY variant ORDER BY t, event_id
              |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS llr,
              |             row_number() OVER (PARTITION BY variant ORDER BY t, event_id) AS rn
              |      FROM e),
              |fc AS (SELECT variant, CAST(arg_min(llr, rn) AS BIGINT) AS fllr,
              |              CAST(min(rn) AS BIGINT) AS frn
              |       FROM w WHERE llr >= $sprtA OR llr <= -($sprtA) GROUP BY variant),
              |tot AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
              |               CAST(sum(x) AS BIGINT) AS conv,
              |               CAST(arg_max(llr, rn) AS BIGINT) AS llr_final_e6
              |        FROM w GROUP BY variant)
              |SELECT t.variant, n, conv, llr_final_e6,
              |       CASE WHEN f.fllr >= $sprtA THEN 'h1'
              |            WHEN f.fllr <= -($sprtA) THEN 'h0'
              |            ELSE 'continue' END AS decision,
              |       f.frn AS n_at_decision
              |FROM tot t LEFT JOIN fc f ON f.variant = t.variant""".stripMargin)),

    // ── CUPED variance-reduced A/B read: pre-period spend adjusts the
    //    post-period metric; adjusted means need only per-variant sums.
    QueryDef("q_cuped",
      (s, d) => {
        val e = Tables.events(s, d).select(
          unix_micros(col("ts")).as("t"), col("user_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val mid = e.agg(expr("min(t) + (max(t) - min(t)) div 2").as("m"))
        val units = e.crossJoin(broadcast(mid))
          .groupBy(col("user_id"))
          .agg(sum(when(col("t") <= col("m"), col("cents")).otherwise(0L)).as("x"),
            sum(when(col("t") > col("m"), col("cents")).otherwise(0L)).as("y"))
          .select((col("user_id") % 2).as("variant"), col("x"), col("y"))
        graft.ops.Experiment.cuped(units, "variant", "x", "y")
      },
      Some("""WITH e AS (SELECT epoch_us(ts) AS t, user_id,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
             |mid AS (SELECT min(t) + (max(t) - min(t)) // 2 AS m FROM e),
             |u AS (SELECT user_id % 2 AS variant,
             |             CAST(sum(CASE WHEN t <= m THEN cents ELSE 0 END) AS HUGEINT) AS x,
             |             CAST(sum(CASE WHEN t > m THEN cents ELSE 0 END) AS HUGEINT) AS y
             |      FROM e CROSS JOIN mid GROUP BY user_id),
             |s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             |             sum(x) AS sx, sum(y) AS sy,
             |             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy,
             |             CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |             sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS sx_a,
             |             sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS sy_a,
             |             CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |             sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS sx_b,
             |             sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS sy_b
             |      FROM u),
             |m AS (SELECT n_a, n_b,
             |             CAST(n * sxy - sx * sy AS DOUBLE) AS cnum,
             |             CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
             |             CAST(n * syy - sy * sy AS DOUBLE) AS dy,
             |             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
             |             CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_y_a,
             |             CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_y_b,
             |             CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_x_a,
             |             CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_x_b
             |      FROM s)
             |SELECT n_a, n_b,
             |       round(mean_y_a, 6) AS mean_y_a, round(mean_y_b, 6) AS mean_y_b,
             |       CASE WHEN dx = 0 THEN NULL ELSE round(cnum / dx, 6) END AS theta,
             |       CASE WHEN dx = 0 THEN NULL
             |            ELSE round(mean_y_a - (cnum / dx) * (mean_x_a - xbar), 6)
             |       END AS mean_adj_a,
             |       CASE WHEN dx = 0 THEN NULL
             |            ELSE round(mean_y_b - (cnum / dx) * (mean_x_b - xbar), 6)
             |       END AS mean_adj_b,
             |       CASE WHEN dx = 0 OR dy = 0 THEN NULL
             |            ELSE round(cnum * cnum / (dx * dy), 6)
             |       END AS r2
             |FROM m""".stripMargin)),

    // ── Sketch MERGEABILITY proved by the oracle: per-shard DDSketches
    //    merged by adding counts must land identically to the one-shot
    //    sketch — the oracle computes the direct form, the engine the
    //    sharded+merged form.
    QueryDef("q_ddsketch_merged",
      (s, d) => {
        val base = Tables.events(s, d).select(col("event_type").as("g0"),
          (col("user_id") % 4).as("shard"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val perShard = graft.ops.Sketches.logBucketSketch(
          base.select(concat_ws("|", col("g0"), col("shard")).as("g"),
            col("cents")), "g", "cents", 57536L)
          .select(expr("split(g, '\\\\|')[0]").as("g"), col("bucket"), col("cnt"))
        graft.ops.Sketches.logBucketLanding(
          graft.ops.Sketches.mergeLogBuckets(perShard), Seq(500000L, 950000L))
      },
      Some {
        val lg = Bm25.log2E6Sql("v")
        s"""WITH e AS (SELECT event_type AS g,
           |                 greatest(1, CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
           |           FROM events),
           |b AS (SELECT g, $lg // 57536 AS bucket FROM e),
           |c AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
           |w AS (SELECT g, bucket, cnt,
           |             CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS BIGINT) AS cum,
           |             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
           |      FROM c),
           |ps AS (SELECT unnest([500000, 950000]) AS p_e6)
           |SELECT g, CAST(ps.p_e6 AS BIGINT) AS p_e6, CAST(bucket AS BIGINT) AS bucket,
           |       CAST((n * ps.p_e6 + 999999) // 1000000 AS BIGINT) AS k, n
           |FROM w JOIN ps ON cum >= (n * ps.p_e6 + 999999) // 1000000
           |              AND cum - cnt < (n * ps.p_e6 + 999999) // 1000000""".stripMargin
      }),

    // ── Gini concentration of spend per event type — rank-weighted
    //    exact integer identity, tie-order invariant.
    QueryDef("q_gini",
      (s, d) => Quantiles.gini(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents"),
      Some("""WITH e AS (SELECT event_type AS g,
             |                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS v FROM events
             |           WHERE floor(value * 100 + 0.5) >= 0),
             |r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS i FROM e),
             |s AS (SELECT g, CAST(count(*) AS HUGEINT) AS n, CAST(sum(v) AS HUGEINT) AS sv,
             |             CAST(sum(CAST(i AS HUGEINT) * v) AS HUGEINT) AS siv
             |      FROM r GROUP BY g)
             |SELECT g, CAST(n AS BIGINT) AS n_rows,
             |       CASE WHEN sv = 0 THEN NULL
             |            ELSE CAST((2 * siv - (n + 1) * sv) * 1000000 // (n * sv) AS BIGINT)
             |       END AS gini_e6
             |FROM s""".stripMargin)),

    // ── Benford first-digit screen on order totals per priority: the
    //    fabricated-numbers audit with shared e6 expectation literals.
    QueryDef("q_benford",
      (s, d) => graft.ops.Audit.benford(
        Tables.orders(s, d).select(col("o_orderpriority").as("g"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents"),
      Some {
        val exp = graft.ops.Audit.benfordE6.zipWithIndex
          .map { case (e, i) => s"WHEN ${i + 1} THEN $e" }.mkString(" ")
        s"""WITH e AS (SELECT o_orderpriority AS g,
           |                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
           |           FROM orders),
           |d AS (SELECT g, CAST(substring(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
           |             CAST(count(*) AS BIGINT) AS n
           |      FROM e WHERE v > 0 GROUP BY 1, 2),
           |t AS (SELECT g, CAST(sum(n) AS BIGINT) AS nt FROM d GROUP BY g)
           |SELECT d.g, digit, n,
           |       CAST(n * 1000000 // nt AS BIGINT) AS share_e6,
           |       CAST(CASE digit $exp ELSE 0 END AS BIGINT) AS expected_e6,
           |       CAST(abs(n * 1000000 // nt - (CASE digit $exp ELSE 0 END)) AS BIGINT) AS dev_e6
           |FROM d JOIN t ON t.g = d.g""".stripMargin
      }),

    // ── Weighted median: the price below which half the shipped QUANTITY
    //    sits, per return flag — cumulative-weight crossing, no division.
    QueryDef("q_weighted_median",
      (s, d) => Quantiles.weightedMedian(
        Tables.lineitem(s, d)
          .select(col("l_returnflag").as("flag"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
            col("l_quantity").cast("long").as("qty")),
        "flag", "cents", "qty")
        .withColumnRenamed("g", "flag"),
      Some("""WITH b AS (SELECT l_returnflag AS flag,
             |                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             |                  CAST(l_quantity AS BIGINT) AS w
             |           FROM lineitem),
             |g AS (SELECT flag, cents, CAST(sum(w) AS BIGINT) AS w FROM b GROUP BY 1, 2),
             |c AS (SELECT flag, cents, w,
             |             CAST(sum(w) OVER (PARTITION BY flag ORDER BY cents) AS BIGINT) AS cw,
             |             CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
             |      FROM g)
             |SELECT flag, CAST(min(cents) AS BIGINT) AS wmedian,
             |       CAST(max(tw) AS BIGINT) AS total_w
             |FROM c WHERE cw * 2 >= tw GROUP BY flag""".stripMargin))
  )
}
