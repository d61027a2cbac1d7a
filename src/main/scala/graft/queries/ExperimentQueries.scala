package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Dedup, Experiment, OffPolicy}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Online experiments and inference machinery: A/B reads, sequential tests,
  * variance reduction, multiple-testing control, resampling, and
  * bandit/off-policy evaluation. */
object ExperimentQueries extends QueryCatalog {

  import Fixtures._

  /** SPRT coefficients for H0 p=0.18 vs H1 p=0.22, α = 0.05 — derived
    * through [[Bm25.log2E6Int]] so the Spark plan and the SQL oracle
    * embed the IDENTICAL e6 literals (c1 = log₂(p1/p0) > 0 >
    * c0 = log₂((1−p1)/(1−p0)); A = log₂(1/α)). */
  private val sprtC1 = Bm25.log2E6Int(220000L * 4096L / 180000L) - 12000000L

  private val sprtC0 = Bm25.log2E6Int(780000L * 4096L / 820000L) - 12000000L
  private val sprtA = Bm25.log2E6Int(20L)

  /** OBF z²·1e4 bounds for K = 4 equal looks (two-sided α = .05):
    * z = 4.333, 2.963, 2.359, 2.014. */
  private val obf4 = Seq(187749L, 87794L, 55649L, 40562L)

  /** Φ⁻¹(1 − 0.025/d) in e6, d = 1..25 (python statistics.NormalDist,
    * floor-truncated) — Holm's step-down critical ladder at m ≤ 25. */
  private val zCritE6 = Seq(1959963L, 2241402L, 2393979L, 2497705L,
    2575829L, 2638257L, 2690109L, 2734368L, 2772921L, 2807033L, 2837596L,
    2865260L, 2890511L, 2913726L, 2935199L, 2955166L, 2973819L, 2991316L,
    3007786L, 3023341L, 3038074L, 3052065L, 3065383L, 3078088L, 3090232L)

  private def zCritArr: String = zCritE6.mkString("array(", ", ", ")")
  private def zCritList: String = zCritE6.mkString("[", ", ", "]")

  /** \u03a6\u207b\u00b9(1 \u2212 0.025/d) in e6 for d = 1..96 (python statistics
    * .NormalDist, floor-truncated) \u2014 covers every BY effective
    * denominator at m \u2264 25. */
  private val byCritE6 = Seq[Long](1959963L,2241402L,2393979L,2497705L,2575829L,2638257L,2690109L,2734368L,2772921L,2807033L,2837596L,2865260L,2890511L,2913726L,2935199L,2955166L,2973819L,2991316L,3007786L,3023341L,3038074L,3052065L,3065383L,3078088L,3090232L,3101861L,3113017L,3123734L,3134046L,3143980L,3153563L,3162817L,3171765L,3180425L,3188815L,3196950L,3204845L,3212513L,3219967L,3227218L,3234276L,3241152L,3247853L,3254389L,3260767L,3266994L,3273078L,3279024L,3284838L,3290526L,3296093L,3301545L,3306884L,3312117L,3317247L,3322277L,3327212L,3332056L,3336810L,3341478L,3346064L,3350570L,3354999L,3359353L,3363635L,3367847L,3371991L,3376069L,3380083L,3384036L,3387928L,3391763L,3395540L,3399263L,3402932L,3406550L,3410116L,3413634L,3417103L,3420526L,3423904L,3427237L,3430527L,3433774L,3436981L,3440148L,3443275L,3446365L,3449417L,3452432L,3455412L,3458358L,3461269L,3464147L,3466992L,3469806L)

  private def byCritArr: String = byCritE6.mkString("array(", ", ", ")")
  private def byCritList: String = byCritE6.mkString("[", ", ", "]")
  /** Orders per nation and how many are urgent: (n_name, n, k). */
  private def nationUrgent(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).as("k"))

  /** Spark SQL z-score (e6) of a nation's urgent share k / n against the
    * pooled share kk / nn. */
  private val nationUrgentZ =
    """CAST(round((CAST(k AS DOUBLE) * CAST(nn AS DOUBLE)
      |        - CAST(n AS DOUBLE) * CAST(kk AS DOUBLE))
      |      / sqrt(CAST(n AS DOUBLE) * CAST(kk AS DOUBLE)
      |             * CAST(nn - kk AS DOUBLE))
      |   * CAST('1000000' AS DOUBLE), 0) AS BIGINT)""".stripMargin

  /** DuckDB twin of [[nationUrgent]] (CTE `per`). */
  private val nationUrgentSql =
    """per AS (
      |  SELECT n_name, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── A/B readout: users split by id parity, conversion = any premium
    //    (>300.00) purchase. The pooled two-proportion z² decision is
    //    cross-multiplied into wide integers — no doubles anywhere.
    QueryDef("q_ab_test",
      (s, d) => {
        val perUser = Tables.events(s, d).groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" && col("value") > 300.0,
            1L).otherwise(0L)).as("converted"))
          .select((col("user_id") % 2).as("variant"), col("converted"))
        Experiment.twoProportionTest(perUser, "variant", "converted")
      },
      Some("""WITH pu AS (SELECT user_id,
             |              max(CASE WHEN event_type = 'purchase' AND value > CAST('300.0' AS DOUBLE)
             |                       THEN 1 ELSE 0 END) AS conv
             |            FROM events GROUP BY 1),
             |t AS (SELECT
             |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
             |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
             |  FROM pu)
             |SELECT n_a, conv_a, n_b, conv_b,
             |       CAST(10000 AS HUGEINT) * (n_a + n_b)
             |         * (conv_a * n_b - conv_b * n_a) * (conv_a * n_b - conv_b * n_a)
             |       > CAST(38416 AS HUGEINT) * n_a * n_b * (conv_a + conv_b)
             |         * (n_a + n_b - conv_a - conv_b) AS significant
             |FROM t""".stripMargin)),

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

    // ── Poisson-bootstrap confidence envelope of per-type mean event
    //    value: 16 hash-derandomized Poisson(1) resamples inside ONE
    //    map-side-combinable aggregate — the distributed bootstrap.
    QueryDef("q_bootstrap_ci",
      (s, d) => Experiment.bootstrapCi(
        Tables.events(s, d).select(col("event_type"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "event_type", "event_id", "cents"),
      Some {
        val b = 16
        def h(i: Int) =
          PortableSql.hash48("CAST(event_id AS VARCHAR)", s"'bs$i'") + " % 1000000"
        val pms = (0 until b).map(i => s"${h(i)} AS pm$i").mkString(",\n  ")
        val mults = (0 until b).map(i =>
          s"${Experiment.poissonMultSql(s"pm$i")} AS m$i").mkString(",\n  ")
        val sums = (0 until b).map(i =>
          s"CAST(sum(m$i * cents) AS BIGINT) AS bs$i, CAST(sum(m$i) AS BIGINT) AS bn$i")
          .mkString(",\n  ")
        val means = (0 until b).map(i =>
          s"CASE WHEN bn$i = 0 THEN NULL ELSE bs$i * 10000 // bn$i END").mkString(", ")
        s"""WITH raw AS (SELECT event_type, event_id,
           |                    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
           |             FROM events),
           |hh AS (SELECT event_type, cents,
           |  $pms
           |  FROM raw),
           |mm AS (SELECT event_type, cents,
           |  $mults
           |  FROM hh),
           |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |             CAST(sum(cents) AS BIGINT) AS s,
           |  $sums
           |  FROM mm GROUP BY 1)
           |SELECT event_type, n, CAST(s * 10000 // n AS BIGINT) AS mean_e4,
           |       CAST(least($means) AS BIGINT) AS boot_lo_e4,
           |       CAST(greatest($means) AS BIGINT) AS boot_hi_e4,
           |       CAST($b AS BIGINT) AS n_resamples
           |FROM g""".stripMargin
      }),

    // ── MDE sizing per order-priority segment over total-price cents:
    //    what lift a 50/50 split on this segment could detect at
    //    α=.05 / 80% power.
    QueryDef("q_mde",
      (s, d) => Experiment.mde(
        Tables.orders(s, d).select(col("o_orderpriority").as("seg"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")),
        "seg", "cents"),
      Some("""WITH o AS (SELECT o_orderpriority AS seg,
             |                 CAST(floor(o_totalprice * 100 + 0.5) AS HUGEINT) AS v
             |          FROM orders),
             |m AS (SELECT seg, CAST(count(*) AS HUGEINT) AS n,
             |             sum(v) AS s, sum(v * v) AS q
             |      FROM o GROUP BY 1),
             |e AS (SELECT seg, n, s,
             |             CAST(n * q - s * s AS DOUBLE)
             |               / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var0
             |      FROM m),
             |f AS (SELECT seg, CAST(n AS BIGINT) AS n,
             |             CAST(s // n AS BIGINT) AS mean_cents,
             |             CAST(CASE WHEN n < 4 OR var0 <= 0 THEN NULL
             |                  ELSE floor(CAST('2.801585' AS DOUBLE)
             |                       * sqrt(CAST('4' AS DOUBLE) * var0
             |                              / CAST(n AS DOUBLE))
             |                       + CAST('0.5' AS DOUBLE)) END AS BIGINT)
             |               AS mde_cents
             |      FROM e)
             |SELECT seg, n, mean_cents, mde_cents,
             |       CASE WHEN mde_cents IS NULL OR mean_cents = 0 THEN NULL
             |            ELSE mde_cents * 1000000 // mean_cents
             |       END AS mde_rel_e6
             |FROM f""".stripMargin)),

    // ── BH FDR over the (mktsegment × nation) grid: is this cell's mean
    //    balance off the global mean? Chebyshev p-bounds → step-up.
    QueryDef("q_bh_fdr",
      (s, d) => Experiment.chebyshevBh(
        Tables.customer(s, d)
          .withColumn("seg", col("c_mktsegment"))
          .withColumn("nk", col("c_nationkey").cast("long"))
          .withColumn("bal", floor(col("c_acctbal") * 100 + 0.5).cast("long")),
        Seq("seg", "nk"), "bal"),
      Some("""WITH t AS (SELECT c_mktsegment AS seg,
             |                  CAST(c_nationkey AS BIGINT) AS nk,
             |                  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS v
             |           FROM customer),
             |cells AS (SELECT seg, nk, CAST(count(*) AS HUGEINT) AS ng,
             |                 CAST(sum(v) AS HUGEINT) AS sg
             |          FROM t GROUP BY 1, 2),
             |gl AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             |                CAST(sum(v) AS HUGEINT) AS s,
             |                sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS q
             |         FROM t),
             |scored AS (
             |  SELECT seg, nk, CAST(ng AS BIGINT) AS n_g,
             |         CASE WHEN n * sg - ng * s = 0 THEN CAST(1.0 AS DOUBLE)
             |              ELSE least(CAST(1.0 AS DOUBLE),
             |                CAST(n * q - s * s AS DOUBLE)
             |                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             |                / (CAST(ng AS DOUBLE)
             |                   * (CAST(n * sg - ng * s AS DOUBLE)
             |                      / (CAST(ng AS DOUBLE) * CAST(n AS DOUBLE)))
             |                   * (CAST(n * sg - ng * s AS DOUBLE)
             |                      / (CAST(ng AS DOUBLE) * CAST(n AS DOUBLE)))))
             |         END AS p_raw
             |  FROM cells CROSS JOIN gl),
             |ranked AS (
             |  SELECT seg, nk, n_g, p_raw,
             |         CAST(row_number() OVER (ORDER BY p_raw, seg, nk)
             |           AS BIGINT) AS k_rank,
             |         CAST(count(*) OVER () AS BIGINT) AS m
             |  FROM scored),
             |flagged AS (
             |  SELECT *, CASE WHEN p_raw <= CAST(k_rank AS DOUBLE) * 0.05
             |                               / CAST(m AS DOUBLE)
             |                 THEN k_rank END AS ok_k
             |  FROM ranked)
             |SELECT seg, nk, n_g, round(p_raw, 6) AS p, k_rank,
             |       k_rank <= coalesce(max(ok_k) OVER (), CAST(0 AS BIGINT))
             |         AS rejected
             |FROM flagged""".stripMargin)),

    // ── Off-policy: ctx = user bucket, action = event type, reward =
    //    clamped value cents; uniform logging (propensity 1/K).
    QueryDef("q_offpolicy_eval",
      (s, d) => OffPolicy.evaluateGreedy(
        Tables.events(s, d).select(
          (col("user_id") % 4).as("ctx"), col("event_type").as("act"),
          greatest(lit(0L),
            floor(col("value") * 100 + 0.5).cast("long")).as("r")),
        "ctx", "act", "r"),
      Some("""WITH t AS (SELECT user_id % 4 AS ctx, event_type AS act,
             |                  greatest(CAST(0 AS BIGINT),
             |                    CAST(floor(value * 100 + 0.5) AS BIGINT)) AS r
             |           FROM events),
             |cells AS (SELECT ctx, act, CAST(count(*) AS BIGINT) AS n_ca,
             |                 CAST(sum(r) AS BIGINT) AS s_ca
             |          FROM t GROUP BY 1, 2),
             |c2 AS (SELECT *, CAST(s_ca * 1000000 // n_ca AS BIGINT) AS mu_e6
             |       FROM cells),
             |best AS (SELECT ctx, act AS best_act, mu_e6 AS mu_best_e6
             |         FROM (SELECT *, row_number() OVER
             |                 (PARTITION BY ctx ORDER BY mu_e6 DESC, act) AS rn
             |               FROM c2)
             |         WHERE rn = 1),
             |k AS (SELECT CAST(count(DISTINCT act) AS BIGINT) AS k_actions
             |      FROM t),
             |j AS (SELECT t.act, t.r, b.best_act, b.mu_best_e6
             |      FROM t JOIN best b ON t.ctx = b.ctx),
             |agg AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             |               CAST(sum(r) AS HUGEINT) AS s_log,
             |               CAST(sum(CASE WHEN act = best_act THEN r
             |                             ELSE 0 END) AS HUGEINT) AS s_match,
             |               CAST(sum(mu_best_e6) AS HUGEINT) AS s_mu,
             |               CAST(sum(CASE WHEN act = best_act
             |                             THEN r * 1000000 - mu_best_e6
             |                             ELSE 0 END) AS HUGEINT) AS s_dr
             |        FROM j)
             |SELECT CAST(n AS BIGINT) AS n, k_actions,
             |       CAST(s_log * 1000000 // n AS BIGINT) AS v_log_e6,
             |       CAST(k_actions * s_match * 1000000 // n AS BIGINT)
             |         AS v_ips_e6,
             |       CAST(s_mu // n AS BIGINT) AS v_dm_e6,
             |       CAST((s_mu + k_actions * s_dr) // n AS BIGINT) AS v_dr_e6
             |FROM agg CROSS JOIN k""".stripMargin)),

    // ── SRM: per experiment (event type), distinct users split by
    //    u % 2 should be 50/50; 1-dof chi-square entirely in integers,
    //    flagged at 3.84 (α = .05) via cross-multiplication.
    QueryDef("q_srm_check",
      (s, d) => Tables.events(s, d)
        .select(col("event_type").as("exp_id"), col("user_id").as("u"))
        .distinct()
        .groupBy(col("exp_id"))
        .agg(sum(when(col("u") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("u") % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
        .selectExpr("exp_id", "n_a", "n_b",
          "(n_a - n_b) * (n_a - n_b) * 1000000 div (n_a + n_b) AS chi2_e6",
          "(n_a - n_b) * (n_a - n_b) * 100 > 384 * (n_a + n_b) AS srm"),
      Some("""WITH units AS (SELECT DISTINCT event_type AS exp_id,
             |                      user_id AS u FROM events),
             |c AS (SELECT exp_id,
             |             CAST(sum(CASE WHEN u % 2 = 0 THEN 1 ELSE 0 END)
             |               AS BIGINT) AS n_a,
             |             CAST(sum(CASE WHEN u % 2 <> 0 THEN 1 ELSE 0 END)
             |               AS BIGINT) AS n_b
             |      FROM units GROUP BY 1)
             |SELECT exp_id, n_a, n_b,
             |       (n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b)
             |         AS chi2_e6,
             |       (n_a - n_b) * (n_a - n_b) * 100 > 384 * (n_a + n_b)
             |         AS srm
             |FROM c""".stripMargin)),

    // ── Bandit replay: per day the greedy arm on prior-day means
    //    (optimistic init for unexplored arms), regret vs the best
    //    fixed arm. All windows ride the bounded day×arm grid.
    QueryDef("q_bandit_regret",
      (s, d) => {
        val ev = Tables.events(s, d).select(
          expr("unix_micros(ts) div 86400000000").as("day"),
          col("event_type").as("arm"),
          greatest(lit(0L),
            floor(col("value") * 100 + 0.5).cast("long")).as("r"))
        val cell = ev.groupBy(col("day"), col("arm"))
          .agg(count(lit(1)).as("cnt"), sum(col("r")).as("s"))
        val grid = cell.select(col("day")).distinct()
          .crossJoin(cell.select(col("arm")).distinct())
          .join(cell, Seq("day", "arm"), "left")
          .select(col("day"), col("arm"),
            coalesce(col("cnt"), lit(0L)).as("cnt"),
            coalesce(col("s"), lit(0L)).as("s"))
        val wPrior = Window.partitionBy(col("arm")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val scored = grid
          .withColumn("ccnt", coalesce(sum(col("cnt")).over(wPrior), lit(0L)))
          .withColumn("cs", coalesce(sum(col("s")).over(wPrior), lit(0L)))
          .withColumn("mu_prior_e6",
            when(col("ccnt") === 0L, lit(1000000000000L))
              .otherwise(expr("cs * 1000000 div ccnt")))
          .withColumn("day_mu_e6", expr("s * 1000000 div greatest(cnt, 1)"))
          .localCheckpoint(false) // reused: chosen pick + best-arm scan
        val chosen = scored
          .withColumn("pk", row_number().over(Window.partitionBy(col("day"))
            .orderBy(col("mu_prior_e6").desc, col("arm"))))
          .where(col("pk") === 1)
          .select(col("day"), col("arm").as("chosen_arm"),
            col("day_mu_e6").as("chosen_mu_e6"))
        val best = scored.groupBy(col("arm"))
          .agg(sum(col("s")).as("ts"), sum(col("cnt")).as("tc"))
          .withColumn("mu_e6", expr("ts * 1000000 div greatest(tc, 1)"))
          .withColumn("bk", row_number().over(
            Window.orderBy(col("mu_e6").desc, col("arm"))))
          .where(col("bk") === 1)
          .select(col("arm").as("best_arm"))
        chosen.crossJoin(broadcast(best))
          .join(scored.select(col("day").as("bd"), col("arm").as("ba"),
            col("day_mu_e6").as("best_mu_e6")),
            col("day") === col("bd") && col("best_arm") === col("ba"))
          .withColumn("regret_e6", col("best_mu_e6") - col("chosen_mu_e6"))
          .withColumn("cum_regret_e6", sum(col("regret_e6")).over(
            Window.orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("day"), col("chosen_arm"), col("chosen_mu_e6"),
            col("best_arm"), col("best_mu_e6"), col("regret_e6"),
            col("cum_regret_e6"))
      },
      Some("""WITH ev AS (
             |  SELECT epoch_us(ts) // 86400000000 AS day,
             |         event_type AS arm,
             |         greatest(0, CAST(floor(value * 100 + 0.5) AS BIGINT))
             |           AS r
             |  FROM events),
             |cell AS (SELECT day, arm, CAST(count(*) AS BIGINT) AS cnt,
             |                CAST(sum(r) AS BIGINT) AS s
             |         FROM ev GROUP BY 1, 2),
             |grid AS (
             |  SELECT d.day, a.arm, coalesce(cnt, 0) AS cnt,
             |         coalesce(s, 0) AS s
             |  FROM (SELECT DISTINCT day FROM cell) d
             |  CROSS JOIN (SELECT DISTINCT arm FROM cell) a
             |  LEFT JOIN cell ON cell.day = d.day AND cell.arm = a.arm),
             |scored AS (
             |  SELECT day, arm, cnt, s,
             |         CASE WHEN coalesce(sum(cnt) OVER w, 0) = 0
             |              THEN 1000000000000
             |              ELSE coalesce(sum(s) OVER w, 0) * 1000000
             |                   // sum(cnt) OVER w END AS mu_prior_e6,
             |         s * 1000000 // greatest(cnt, 1) AS day_mu_e6
             |  FROM grid
             |  WINDOW w AS (PARTITION BY arm ORDER BY day
             |               ROWS BETWEEN UNBOUNDED PRECEDING
             |               AND 1 PRECEDING)),
             |chosen AS (
             |  SELECT day, arm AS chosen_arm, day_mu_e6 AS chosen_mu_e6
             |  FROM (SELECT *, row_number() OVER (PARTITION BY day
             |          ORDER BY mu_prior_e6 DESC, arm) AS pk FROM scored)
             |  WHERE pk = 1),
             |best AS (
             |  SELECT arm AS best_arm FROM (
             |    SELECT arm, row_number() OVER (ORDER BY
             |        CAST(sum(s) AS BIGINT) * 1000000
             |          // greatest(CAST(sum(cnt) AS BIGINT), 1) DESC,
             |        arm) AS bk
             |    FROM scored GROUP BY arm)
             |  WHERE bk = 1),
             |j AS (SELECT c.day, c.chosen_arm, c.chosen_mu_e6, b.best_arm,
             |             sc.day_mu_e6 AS best_mu_e6
             |      FROM chosen c CROSS JOIN best b
             |      JOIN scored sc ON sc.day = c.day AND sc.arm = b.best_arm)
             |SELECT day, chosen_arm, chosen_mu_e6, best_arm, best_mu_e6,
             |       best_mu_e6 - chosen_mu_e6 AS regret_e6,
             |       CAST(sum(best_mu_e6 - chosen_mu_e6) OVER (ORDER BY day
             |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_regret_e6
             |FROM j""".stripMargin)),

    // ── Permutation test: the k=0 real split vs 20 hash placebos;
    //    p = (1 + #{|placebo| ≥ |real|}) / 21 in e6.
    QueryDef("q_permutation_test",
      (s, d) => {
        val u = customerSpend(s, d)
          .select(col("c_custkey").as("ck"),
            coalesce(col("spend"), lit(0L)).as("y"))
        val splits = u.withColumn("k", explode(expr("sequence(0, 20)")))
          .withColumn("t",
            when(col("k") === 0, col("ck") % 3 === 0)
              .otherwise(Dedup.hash48(
                concat(col("ck").cast("string"), lit("#"),
                  col("k").cast("string")), lit("perm")) % 2 === 0))
        val eff = splits.groupBy(col("k"))
          .agg(sum(when(col("t"), 1L).otherwise(0L)).cast(dec).as("nt"),
            sum(when(!col("t"), 1L).otherwise(0L)).cast(dec).as("nc"),
            sum(when(col("t"), col("y")).otherwise(0L)).cast(dec).as("st"),
            sum(when(!col("t"), col("y")).otherwise(0L)).cast(dec).as("sc"))
          .selectExpr("k", "CAST(nt AS BIGINT) AS n_t",
            "CAST(nc AS BIGINT) AS n_c",
            """CAST(st * nc - sc * nt AS DOUBLE)
              |/ (CAST(nt AS DOUBLE) * CAST(nc AS DOUBLE)) AS diff0"""
              .stripMargin)
        eff
          .withColumn("real_abs", abs(max(when(col("k") === 0,
            col("diff0"))).over(Window.partitionBy())))
          .withColumn("p_e6", expr(
            """(1 + sum(CASE WHEN k > 0 AND abs(diff0) >= real_abs
              |THEN 1 ELSE 0 END) OVER ()) * 1000000 div 21"""
              .stripMargin))
          .selectExpr("k", "n_t", "n_c", "round(diff0, 6) AS diff_cents",
            "k = 0 AS is_real", "p_e6")
      },
      Some {
        val h = PortableSql.hash48(
          "concat(CAST(ck AS VARCHAR), '#', CAST(k AS VARCHAR))", "'perm'")
        s"""WITH $customerSpendSql,
           |u AS (SELECT c_custkey AS ck, coalesce(spend, 0) AS y
           |      FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
           |splits AS (
           |  SELECT ck, y, k,
           |         CASE WHEN k = 0 THEN ck % 3 = 0
           |              ELSE $h % 2 = 0 END AS t
           |  FROM u CROSS JOIN (SELECT range AS k FROM range(0, 21)) kk),
           |eff AS (SELECT k,
           |               CAST(sum(CASE WHEN t THEN 1 ELSE 0 END)
           |                 AS HUGEINT) AS nt,
           |               CAST(sum(CASE WHEN t THEN 0 ELSE 1 END)
           |                 AS HUGEINT) AS nc,
           |               CAST(sum(CASE WHEN t THEN y ELSE 0 END)
           |                 AS HUGEINT) AS st,
           |               CAST(sum(CASE WHEN t THEN 0 ELSE y END)
           |                 AS HUGEINT) AS sc
           |        FROM splits GROUP BY 1),
           |d AS (SELECT CAST(k AS BIGINT) AS k, CAST(nt AS BIGINT) AS n_t,
           |             CAST(nc AS BIGINT) AS n_c,
           |             CAST(st * nc - sc * nt AS DOUBLE)
           |               / (CAST(nt AS DOUBLE) * CAST(nc AS DOUBLE))
           |               AS diff0
           |      FROM eff),
           |w AS (SELECT *, abs(max(CASE WHEN k = 0 THEN diff0 END)
           |               OVER ()) AS real_abs
           |      FROM d)
           |SELECT k, n_t, n_c, round(diff0, 6) AS diff_cents,
           |       k = 0 AS is_real,
           |       CAST((1 + sum(CASE WHEN k > 0 AND abs(diff0) >= real_abs
           |                THEN 1 ELSE 0 END) OVER ()) * 1000000 // 21
           |         AS BIGINT) AS p_e6
           |FROM w""".stripMargin
      }),

    // ── Group-sequential: looks accumulate ck%4 < k; conversion =
    //    has-order; exact cross-multiplied z² vs the literal bound.
    QueryDef("q_group_sequential",
      (s, d) => {
        val conv = Tables.orders(s, d).select(col("o_custkey")).distinct()
        val u = Tables.customer(s, d)
          .join(conv, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey").as("ck"),
            (col("c_custkey") % 2 === 0).as("arm_a"),
            col("o_custkey").isNotNull.as("cv"))
          .localCheckpoint(false) // reused by the 4 looks
        (1 to 4).map { k =>
          u.where(col("ck") % 4 < k)
            .agg(
              sum(when(col("arm_a"), 1L).otherwise(0L)).cast(dec).as("na"),
              sum(when(!col("arm_a"), 1L).otherwise(0L)).cast(dec).as("nb"),
              sum(when(col("arm_a") && col("cv"), 1L).otherwise(0L))
                .cast(dec).as("ca"),
              sum(when(!col("arm_a") && col("cv"), 1L).otherwise(0L))
                .cast(dec).as("cb"))
            .selectExpr(s"CAST($k AS BIGINT) AS look",
              "CAST(na AS BIGINT) AS n_a", "CAST(nb AS BIGINT) AS n_b",
              "CAST(ca AS BIGINT) AS conv_a", "CAST(cb AS BIGINT) AS conv_b",
              s"""CAST(CASE WHEN na * nb * (ca + cb)
                 |* (na + nb - ca - cb) = 0 THEN 0
                 |ELSE 10000 * (na + nb) * (ca * nb - cb * na)
                 |     * (ca * nb - cb * na)
                 |     div (na * nb * (ca + cb) * (na + nb - ca - cb))
                 |END AS BIGINT) AS z2_e4""".stripMargin,
              s"""CASE WHEN na * nb * (ca + cb)
                 |* (na + nb - ca - cb) = 0 THEN false
                 |ELSE 10000 * (na + nb) * (ca * nb - cb * na)
                 |     * (ca * nb - cb * na)
                 |     > ${obf4(k - 1)} * na * nb * (ca + cb)
                 |       * (na + nb - ca - cb)
                 |END AS crossed""".stripMargin)
        }.reduce(_ unionByName _)
      },
      Some {
        def look(k: Int) =
          s"""SELECT CAST($k AS BIGINT) AS look,
             |       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             |       CAST(ca AS BIGINT) AS conv_a,
             |       CAST(cb AS BIGINT) AS conv_b,
             |       CAST(CASE WHEN na * nb * (ca + cb)
             |            * (na + nb - ca - cb) = 0 THEN 0
             |            ELSE 10000 * (na + nb) * (ca * nb - cb * na)
             |                 * (ca * nb - cb * na)
             |                 // (na * nb * (ca + cb)
             |                     * (na + nb - ca - cb))
             |       END AS BIGINT) AS z2_e4,
             |       CASE WHEN na * nb * (ca + cb)
             |            * (na + nb - ca - cb) = 0 THEN false
             |            ELSE 10000 * (na + nb) * (ca * nb - cb * na)
             |                 * (ca * nb - cb * na)
             |                 > ${obf4(k - 1)} * na * nb * (ca + cb)
             |                   * (na + nb - ca - cb)
             |       END AS crossed
             |FROM (SELECT
             |        CAST(sum(CASE WHEN arm_a THEN 1 ELSE 0 END)
             |          AS HUGEINT) AS na,
             |        CAST(sum(CASE WHEN arm_a THEN 0 ELSE 1 END)
             |          AS HUGEINT) AS nb,
             |        CAST(sum(CASE WHEN arm_a AND cv THEN 1 ELSE 0 END)
             |          AS HUGEINT) AS ca,
             |        CAST(sum(CASE WHEN NOT arm_a AND cv THEN 1 ELSE 0 END)
             |          AS HUGEINT) AS cb
             |      FROM u WHERE ck % 4 < $k)""".stripMargin
        s"""WITH conv AS (SELECT DISTINCT o_custkey FROM orders),
           |u AS (SELECT c_custkey AS ck, c_custkey % 2 = 0 AS arm_a,
           |             o_custkey IS NOT NULL AS cv
           |      FROM customer LEFT JOIN conv ON c_custkey = o_custkey)
           |${(1 to 4).map(look).mkString("\nUNION ALL\n")}""".stripMargin
      }),

    // ── Rate ratio: first vs second half of the day range per type;
    //    conditional-binomial z with the exposure split as p₀.
    QueryDef("q_rate_ratio_test",
      (s, d) => {
        val days = Tables.events(s, d)
          .select(col("event_type").as("et"),
            expr("unix_micros(ts) div 86400000000").as("day"))
        val mid = days.agg(expr("(min(day) + max(day)) div 2").as("mid"),
          (max(col("day")) - min(col("day")) + 1).as("span"),
          min(col("day")).as("d0"))
        days.crossJoin(broadcast(mid))
          .groupBy(col("et"), col("span"), col("mid"), col("d0"))
          .agg(sum(when(col("day") <= col("mid"), 1L).otherwise(0L))
            .as("c1"),
            sum(when(col("day") > col("mid"), 1L).otherwise(0L)).as("c2"))
          .selectExpr("et", "c1", "c2",
            "mid - d0 + 1 AS t1", "span - (mid - d0 + 1) AS t2")
          .selectExpr("et", "c1", "c2", "t1", "t2",
            """round((CAST(c1 AS DOUBLE) - CAST(c1 + c2 AS DOUBLE)
              |* CAST(t1 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE))
              |/ sqrt(CAST(c1 + c2 AS DOUBLE)
              |       * (CAST(t1 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE))
              |       * (CAST('1.0' AS DOUBLE) - CAST(t1 AS DOUBLE)
              |          / CAST(t1 + t2 AS DOUBLE))), 6) AS z"""
              .stripMargin)
      },
      Some("""WITH days AS (SELECT event_type AS et,
             |                    epoch_us(ts) // 86400000000 AS day
             |             FROM events),
             |mid AS (SELECT (min(day) + max(day)) // 2 AS mid,
             |               max(day) - min(day) + 1 AS span,
             |               min(day) AS d0
             |        FROM days),
             |c AS (SELECT et, span, mid, d0,
             |             CAST(sum(CASE WHEN day <= mid THEN 1 ELSE 0 END)
             |               AS BIGINT) AS c1,
             |             CAST(sum(CASE WHEN day > mid THEN 1 ELSE 0 END)
             |               AS BIGINT) AS c2
             |      FROM days CROSS JOIN mid GROUP BY 1, 2, 3, 4),
             |e AS (SELECT et, c1, c2, mid - d0 + 1 AS t1,
             |             span - (mid - d0 + 1) AS t2
             |      FROM c)
             |SELECT et, c1, c2, t1, t2,
             |       round((CAST(c1 AS DOUBLE) - CAST(c1 + c2 AS DOUBLE)
             |         * CAST(t1 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE))
             |         / sqrt(CAST(c1 + c2 AS DOUBLE)
             |                * (CAST(t1 AS DOUBLE)
             |                   / CAST(t1 + t2 AS DOUBLE))
             |                * (CAST('1.0' AS DOUBLE)
             |                   - CAST(t1 AS DOUBLE)
             |                     / CAST(t1 + t2 AS DOUBLE))), 6) AS z
             |FROM e""".stripMargin)),

    // ── Holm–Bonferroni step-down on per-nation urgent-order rates vs
    //    the pooled rate: |z| ranked descending, step i compared against
    //    the α/(m−i+1) ladder, and rejection stops at the first failure
    //    (running-min over the rank order — the step-down contract).
    //    The z→e6 rounding happens identically in both engines, so the
    //    ladder comparison is exact-integer.
    QueryDef("q_holm_step",
      (s, d) => {
        val per = nationUrgent(s, d)
          .localCheckpoint(false) // nation axis; reused by the pooled rollup
        val tot = per.agg(sum(col("n")).as("nn"), sum(col("k")).as("kk"),
          count(lit(1)).as("m"))
        per.crossJoin(broadcast(tot))
          .withColumn("z_e6", expr(nationUrgentZ))
          .withColumn("rk", row_number().over(
            Window.orderBy(abs(col("z_e6")).desc, col("n_name"))))
          .withColumn("crit_e6",
            expr(s"$zCritArr[CAST(m - rk AS INT)]"))
          .withColumn("exceeds",
            when(abs(col("z_e6")) > col("crit_e6"), 1L).otherwise(0L))
          .withColumn("reject", min(col("exceeds")).over(
            Window.orderBy(col("rk"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .selectExpr("n_name AS nation", "CAST(n AS BIGINT) AS n",
            "CAST(k AS BIGINT) AS k", "z_e6", "CAST(rk AS BIGINT) AS rk",
            "crit_e6", "CAST(reject AS BIGINT) AS reject")
      },
      Some(s"""WITH $nationUrgentSql,
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             |               CAST(sum(k) AS BIGINT) AS kk,
             |               CAST(count(*) AS BIGINT) AS m FROM per),
             |z AS (SELECT n_name, n, k,
             |             CAST(round((CAST(k AS DOUBLE) * CAST(nn AS DOUBLE)
             |                     - CAST(n AS DOUBLE) * CAST(kk AS DOUBLE))
             |                   / sqrt(CAST(n AS DOUBLE)
             |                          * CAST(kk AS DOUBLE)
             |                          * CAST(nn - kk AS DOUBLE))
             |                * CAST('1000000' AS DOUBLE), 0) AS BIGINT) AS z_e6,
             |             m
             |      FROM per CROSS JOIN tot),
             |rk AS (SELECT n_name, n, k, z_e6,
             |              CAST(row_number() OVER (ORDER BY abs(z_e6) DESC,
             |                n_name) AS BIGINT) AS rk,
             |              m
             |       FROM z),
             |lad AS (SELECT n_name, n, k, z_e6, rk,
             |               ($zCritList)[CAST(m - rk + 1 AS INT)] AS crit_e6,
             |               CASE WHEN abs(z_e6) > ($zCritList)
             |                      [CAST(m - rk + 1 AS INT)]
             |                    THEN 1 ELSE 0 END AS exceeds
             |        FROM rk)
             |SELECT n_name AS nation, n, k, z_e6, rk,
             |       CAST(crit_e6 AS BIGINT) AS crit_e6,
             |       CAST(min(exceeds) OVER (ORDER BY rk
             |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS reject
             |FROM lad""".stripMargin)),

    // ── Benjamini–Yekutieli at α=0.05 over the per-nation urgency |z|
    //    family: the dependence-robust step-up. Working erf-free, each
    //    rank i (1 = most significant) gets an EFFECTIVE two-sided
    //    denominator d = ⌈m·c(m)/(m−rk+1)⌉ (c(m) = Σ1/j, harmonic sum
    //    carried e9-truncated — identical both engines), and |z| is
    //    compared against the embedded Φ⁻¹(1 − 0.025/d) ladder
    //    (d ≤ 96 for m ≤ 25). Step-up: reject every rank ≤ the deepest
    //    clearing rank (running max from the bottom).
    QueryDef("q_by_fdr",
      (s, d) => {
        val per = nationUrgent(s, d)
          .localCheckpoint(false) // nation axis; pooled rollup reuses it
        val tot = per.agg(sum(col("n")).as("nn"), sum(col("k")).as("kk"),
          count(lit(1)).as("m"),
          expr("aggregate(sequence(1, CAST(count(1) AS INT)), 0L, " +
            "(acc, i) -> acc + 1000000000 div i)").as("cm_e9"))
        per.crossJoin(broadcast(tot))
          .withColumn("z_e6", expr(nationUrgentZ))
          .withColumn("rk", row_number().over(
            Window.orderBy(abs(col("z_e6")).desc, col("n_name")))
            .cast("long"))
          .withColumn("eff_den", expr(
            """least(96L, (m * cm_e9 + (m - rk + 1) * 1000000000 - 1)
              |div ((m - rk + 1) * 1000000000))""".stripMargin))
          .withColumn("crit_e6",
            expr(s"$byCritArr[CAST(eff_den - 1 AS INT)]"))
          .withColumn("exceeds",
            when(abs(col("z_e6")) > col("crit_e6"), 1L).otherwise(0L))
          .withColumn("deepest", max(when(col("exceeds") === 1L,
            col("rk")).otherwise(0L)).over(
            Window.orderBy(col("rk").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("reject",
            when(col("rk") <= col("deepest"), 1L).otherwise(0L))
          .selectExpr("n_name AS nation", "z_e6", "rk", "eff_den",
            "crit_e6", "CAST(reject AS BIGINT) AS reject")
      },
      Some(s"""WITH $nationUrgentSql,
             |hm AS (SELECT CAST(sum(1000000000 // i.i) AS BIGINT)
             |                AS cm_e9
             |       FROM (SELECT unnest(generate_series(1,
             |               CAST((SELECT count(*) FROM per) AS INT)))
             |               AS i) i),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             |               CAST(sum(k) AS BIGINT) AS kk,
             |               CAST(count(*) AS BIGINT) AS m
             |        FROM per),
             |z AS (SELECT n_name,
             |             CAST(round((CAST(k AS DOUBLE) * CAST(nn AS DOUBLE)
             |                     - CAST(n AS DOUBLE) * CAST(kk AS DOUBLE))
             |                   / sqrt(CAST(n AS DOUBLE)
             |                          * CAST(kk AS DOUBLE)
             |                          * CAST(nn - kk AS DOUBLE))
             |                * CAST('1000000' AS DOUBLE), 0) AS BIGINT)
             |               AS z_e6,
             |             m, cm_e9
             |      FROM per CROSS JOIN tot CROSS JOIN hm),
             |rk AS (SELECT n_name, z_e6, m, cm_e9,
             |              CAST(row_number() OVER (ORDER BY abs(z_e6)
             |                DESC, n_name) AS BIGINT) AS rk
             |       FROM z),
             |lad AS (SELECT n_name, z_e6, rk,
             |               least(96, (m * cm_e9
             |                 + (m - rk + 1) * 1000000000 - 1)
             |                 // ((m - rk + 1) * 1000000000)) AS eff_den
             |        FROM rk),
             |ex AS (SELECT n_name, z_e6, rk, eff_den,
             |              ($byCritList)[CAST(eff_den AS INT)] AS crit_e6,
             |              CASE WHEN abs(z_e6) > ($byCritList)
             |                     [CAST(eff_den AS INT)]
             |                   THEN 1 ELSE 0 END AS exceeds
             |       FROM lad)
             |SELECT n_name AS nation, z_e6, rk,
             |       CAST(eff_den AS BIGINT) AS eff_den,
             |       CAST(crit_e6 AS BIGINT) AS crit_e6,
             |       CAST(CASE WHEN rk <= max(CASE WHEN exceeds = 1
             |               THEN rk ELSE 0 END)
             |               OVER (ORDER BY rk DESC
             |                     ROWS UNBOUNDED PRECEDING)
             |            THEN 1 ELSE 0 END AS BIGINT) AS reject
             |FROM ex""".stripMargin)),

    /* Experimentation designs beyond the user-split
     * A/B — switchback analysis (hour-parity treatment slices with
     * boundary-hour exclusion, the marketplace-interference design),
     * trigger dilution (intent-to-treat vs triggered-population effect —
     * how much signal assignment-level analysis throws away), and
     * novelty decay (treatment effect by weeks-since-first-exposure —
     * does the lift survive). Assignments are deterministic functions of
     * ids/hours, outcomes are exact integer cents/counts, and every
     * effect is a cross-multiplied e6 — no randomness, no doubles. */

    // ── Switchback: treatment = odd hour index; boundary minutes
    //    (first/last 10 of each hour) excluded to blunt carryover.
    //    Effect = purchase-rate difference, e6, plus both arms' rates.
    QueryDef("q_switchback",
      (s, d) => {
        Tables.events(s, d)
          .select(expr("unix_micros(ts) div 3600000000").as("hr"),
            expr("(unix_micros(ts) div 60000000) % 60").as("minute"),
            (col("event_type") === "purchase").as("conv"))
          .filter(col("minute") >= 10 && col("minute") < 50)
          .select((col("hr") % 2 === 1).as("treated"), col("conv"))
          .agg(
            sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
            sum(when(col("treated") && col("conv"), 1L).otherwise(0L))
              .as("c_t"),
            sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
            sum(when(!col("treated") && col("conv"), 1L).otherwise(0L))
              .as("c_c"))
          .selectExpr("CAST(n_t AS BIGINT) AS n_t",
            "CAST(n_c AS BIGINT) AS n_c",
            "c_t * 1000000 div n_t AS rate_t_e6",
            "c_c * 1000000 div n_c AS rate_c_e6",
            """CASE WHEN c_t * n_c >= c_c * n_t
              |  THEN (c_t * n_c - c_c * n_t) * 1000000
              |       div (n_t * n_c)
              |  ELSE -((c_c * n_t - c_t * n_c) * 1000000
              |       div (n_t * n_c))
              |END AS effect_e6""".stripMargin)
      },
      Some("""WITH e AS (
             |  SELECT (epoch_us(ts) // 3600000000) % 2 = 1 AS treated,
             |         event_type = 'purchase' AS conv
             |  FROM events
             |  WHERE (epoch_us(ts) // 60000000) % 60 >= 10
             |    AND (epoch_us(ts) // 60000000) % 60 < 50),
             |a AS (SELECT
             |        CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_t,
             |        CAST(sum(CASE WHEN treated AND conv THEN 1 ELSE 0
             |          END) AS BIGINT) AS c_t,
             |        CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_c,
             |        CAST(sum(CASE WHEN NOT treated AND conv THEN 1
             |          ELSE 0 END) AS BIGINT) AS c_c
             |      FROM e)
             |SELECT n_t, n_c,
             |       c_t * 1000000 // n_t AS rate_t_e6,
             |       c_c * 1000000 // n_c AS rate_c_e6,
             |       CASE WHEN c_t * n_c >= c_c * n_t
             |         THEN (c_t * n_c - c_c * n_t) * 1000000
             |              // (n_t * n_c)
             |         ELSE -((c_c * n_t - c_t * n_c) * 1000000
             |              // (n_t * n_c))
             |       END AS effect_e6
             |FROM a""".stripMargin)),

    // ── Trigger dilution: assignment = even user id; triggered = had
    //    ≥1 click. ITT effect over all assigned vs the triggered-only
    //    effect, plus the trigger rate — the dilution factor an
    //    assignment-grain readout hides. ONE user rollup feeds both.
    QueryDef("q_trigger_dilution",
      (s, d) => {
        val u = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("triggered"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("purchases"))
          .select((col("user_id") % 2 === 0).as("t"), col("triggered"),
            col("purchases"))
        u.agg(
            sum(when(col("t"), 1L).otherwise(0L)).as("n_t"),
            sum(when(!col("t"), 1L).otherwise(0L)).as("n_c"),
            sum(when(col("t"), col("purchases")).otherwise(0L)).as("p_t"),
            sum(when(!col("t"), col("purchases")).otherwise(0L)).as("p_c"),
            sum(when(col("t") && col("triggered") === 1L, 1L)
              .otherwise(0L)).as("nt_t"),
            sum(when(!col("t") && col("triggered") === 1L, 1L)
              .otherwise(0L)).as("nt_c"),
            sum(when(col("t") && col("triggered") === 1L, col("purchases"))
              .otherwise(0L)).as("pt_t"),
            sum(when(!col("t") && col("triggered") === 1L, col("purchases"))
              .otherwise(0L)).as("pt_c"))
          .selectExpr("CAST(n_t AS BIGINT) AS n_t",
            "CAST(n_c AS BIGINT) AS n_c",
            "(nt_t + nt_c) * 1000000 div (n_t + n_c) AS trigger_rate_e6",
            """CASE WHEN p_t * n_c >= p_c * n_t
              |  THEN (p_t * n_c - p_c * n_t) * 1000000 div (n_t * n_c)
              |  ELSE -((p_c * n_t - p_t * n_c) * 1000000
              |       div (n_t * n_c)) END AS itt_e6""".stripMargin,
            """CASE WHEN pt_t * nt_c >= pt_c * nt_t
              |  THEN (pt_t * nt_c - pt_c * nt_t) * 1000000
              |       div (nt_t * nt_c)
              |  ELSE -((pt_c * nt_t - pt_t * nt_c) * 1000000
              |       div (nt_t * nt_c)) END AS triggered_e6"""
              .stripMargin)
      },
      Some("""WITH u AS (
             |  SELECT user_id % 2 = 0 AS t,
             |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0
             |           END) AS triggered,
             |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
             |           ELSE 0 END) AS BIGINT) AS purchases
             |  FROM events GROUP BY user_id),
             |a AS (SELECT
             |        CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
             |          AS n_t,
             |        CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_c,
             |        CAST(sum(CASE WHEN t THEN purchases ELSE 0 END)
             |          AS BIGINT) AS p_t,
             |        CAST(sum(CASE WHEN NOT t THEN purchases ELSE 0
             |          END) AS BIGINT) AS p_c,
             |        CAST(sum(CASE WHEN t AND triggered = 1 THEN 1
             |          ELSE 0 END) AS BIGINT) AS nt_t,
             |        CAST(sum(CASE WHEN NOT t AND triggered = 1 THEN 1
             |          ELSE 0 END) AS BIGINT) AS nt_c,
             |        CAST(sum(CASE WHEN t AND triggered = 1
             |          THEN purchases ELSE 0 END) AS BIGINT) AS pt_t,
             |        CAST(sum(CASE WHEN NOT t AND triggered = 1
             |          THEN purchases ELSE 0 END) AS BIGINT) AS pt_c
             |      FROM u)
             |SELECT n_t, n_c,
             |       (nt_t + nt_c) * 1000000 // (n_t + n_c)
             |         AS trigger_rate_e6,
             |       CASE WHEN p_t * n_c >= p_c * n_t
             |         THEN (p_t * n_c - p_c * n_t) * 1000000
             |              // (n_t * n_c)
             |         ELSE -((p_c * n_t - p_t * n_c) * 1000000
             |              // (n_t * n_c)) END AS itt_e6,
             |       CASE WHEN pt_t * nt_c >= pt_c * nt_t
             |         THEN (pt_t * nt_c - pt_c * nt_t) * 1000000
             |              // (nt_t * nt_c)
             |         ELSE -((pt_c * nt_t - pt_t * nt_c) * 1000000
             |              // (nt_t * nt_c)) END AS triggered_e6
             |FROM a""".stripMargin)),

    // ── Novelty decay: per user the first-event week is exposure week
    //    0; purchase-rate effect (even vs odd users) by weeks-since-
    //    exposure 0..3 — a lift that shrinks across the rows is a
    //    novelty artifact. One user min + one (week, arm) rollup.
    QueryDef("q_novelty_decay",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"),
            expr("unix_micros(ts) div 604800000000").as("wk"),
            (col("event_type") === "purchase").as("conv"))
        val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("wk0"))
        e.join(first, "user_id")
          .withColumn("wse", col("wk") - col("wk0"))
          .filter(col("wse") <= 3)
          .groupBy(col("wse"))
          .agg(
            sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_t"),
            sum(when(col("user_id") % 2 === 0 && col("conv"), 1L)
              .otherwise(0L)).as("c_t"),
            sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_c"),
            sum(when(col("user_id") % 2 =!= 0 && col("conv"), 1L)
              .otherwise(0L)).as("c_c"))
          .filter(col("n_t") > 0L && col("n_c") > 0L)
          .selectExpr("CAST(wse AS BIGINT) AS weeks_since_exposure",
            "CAST(n_t AS BIGINT) AS n_t", "CAST(n_c AS BIGINT) AS n_c",
            """CASE WHEN c_t * n_c >= c_c * n_t
              |  THEN (c_t * n_c - c_c * n_t) * 1000000 div (n_t * n_c)
              |  ELSE -((c_c * n_t - c_t * n_c) * 1000000
              |       div (n_t * n_c)) END AS effect_e6""".stripMargin)
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
             |         event_type = 'purchase' AS conv
             |  FROM events),
             |f AS (SELECT user_id, min(wk) AS wk0 FROM e GROUP BY 1),
             |j AS (SELECT e.user_id, e.wk - f.wk0 AS wse, e.conv
             |      FROM e JOIN f ON e.user_id = f.user_id
             |      WHERE e.wk - f.wk0 <= 3),
             |a AS (SELECT wse,
             |        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0
             |          END) AS BIGINT) AS n_t,
             |        CAST(sum(CASE WHEN user_id % 2 = 0 AND conv
             |          THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
             |        CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0
             |          END) AS BIGINT) AS n_c,
             |        CAST(sum(CASE WHEN user_id % 2 <> 0 AND conv
             |          THEN 1 ELSE 0 END) AS BIGINT) AS c_c
             |      FROM j GROUP BY 1)
             |SELECT CAST(wse AS BIGINT) AS weeks_since_exposure,
             |       n_t, n_c,
             |       CASE WHEN c_t * n_c >= c_c * n_t
             |         THEN (c_t * n_c - c_c * n_t) * 1000000
             |              // (n_t * n_c)
             |         ELSE -((c_c * n_t - c_t * n_c) * 1000000
             |              // (n_t * n_c)) END AS effect_e6
             |FROM a WHERE n_t > 0 AND n_c > 0""".stripMargin)),

    /* Fixed-effect meta-analysis (`q_meta_fixed`): per-nation
     * urgent-vs-other order-value effects pooled by inverse-variance
     * weights, plus Cochran's Q and I² heterogeneity — the
     * cross-cohort pooling read-out (per-shard A/B results, per-site
     * experiments) the registry lacked. Hecto-dollar units and a
     * weight cap keep every moment in BIGINT at any skew. */
    // ── Fixed-effect meta-analysis: per-nation effect θ = mean
    //    hecto-dollar order value, URGENT minus other; weight =
    //    min(1e9, 1e12/se²); pooled θ̂, Cochran's Q (e0, weights
    //    pre-scaled by 1e3), I². Nations with an empty arm drop.
    QueryDef("q_meta_fixed",
      (s, d) => {
        val o = Tables.orders(s, d).selectExpr("o_custkey",
          "CASE WHEN o_orderpriority = '1-URGENT' THEN 1L ELSE 0L END AS g",
          "CAST(floor(o_totalprice) AS BIGINT) div 100 AS x")
        val cust = Tables.customer(s, d)
          .select(col("c_custkey").as("o_custkey"),
            col("c_nationkey").as("nk"))
        val arms = o.join(broadcast(cust), "o_custkey")
          .groupBy(col("nk"), col("g"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("sx2"))
        val eff = arms.filter(col("g") === 1)
          .selectExpr("nk", "n AS n1", "sx AS s1", "sx2 AS q1")
          .join(arms.filter(col("g") === 0)
            .selectExpr("nk", "n AS n0", "sx AS s0", "sx2 AS q0"), "nk")
          .filter(col("n1") > 1 && col("n0") > 1)
          .selectExpr("nk", "s1 div n1 - s0 div n0 AS theta",
            """((q1 - s1 * s1 div n1) + (q0 - s0 * s0 div n0))
              | div (n1 + n0 - 2) AS pvar""".stripMargin,
            "n1", "n0")
          .selectExpr("nk", "theta",
            "greatest(1L, pvar * (n1 + n0) div (n1 * n0)) AS se2")
          .withColumn("w", least(lit(1000000000L),
            expr("1000000000000L div se2")))
          .localCheckpoint(false) // nation axis; pooled + Q share it
        val pooled = eff.agg(expr("sum(w * theta) div sum(w)").as("th"),
          count(lit(1)).as("k"))
        eff.crossJoin(broadcast(pooled))
          .agg(first(col("th")).as("theta_hat_h"), first(col("k")).as("k"),
            sum(expr("(w div 1000) * (theta - th) * (theta - th)"))
              .as("q_scaled"))
          // Q_true = q_scaled/1e9 (w carries 1e12, pre-divided by 1e3),
          // so the df threshold in q_scaled units is (k−1)·1e9; I²
          // computed at 1e-6 resolution via the pre-shrunk denominator
          // (q_scaled div 1e6 ≥ 24e3 whenever Q > df → rel err ≤ 4e-5)
          .selectExpr("CAST(k AS BIGINT) AS n_cohorts", "theta_hat_h",
            "q_scaled",
            """CASE WHEN q_scaled > (k - 1) * 1000000000L
              | THEN greatest(0L, 1000000L - (k - 1) * 1000000000L
              |   div greatest(1L, q_scaled div 1000000L))
              | ELSE 0L END AS i2_e6""".stripMargin)
      },
      Some("""WITH o AS (SELECT o_custkey,
             |                 CASE WHEN o_orderpriority = '1-URGENT'
             |                   THEN 1 ELSE 0 END AS g,
             |                 CAST(floor(o_totalprice) AS BIGINT) // 100
             |                   AS x
             |           FROM orders),
             |cust AS (SELECT c_custkey AS o_custkey, c_nationkey AS nk
             |         FROM customer),
             |arms AS (SELECT nk, g, CAST(count(*) AS BIGINT) AS n,
             |                CAST(sum(x) AS BIGINT) AS sx,
             |                CAST(sum(x * x) AS BIGINT) AS sx2
             |         FROM o JOIN cust USING (o_custkey) GROUP BY 1, 2),
             |eff0 AS (SELECT a.nk, a.sx // a.n - b.sx // b.n AS theta,
             |                ((a.sx2 - a.sx * a.sx // a.n)
             |                  + (b.sx2 - b.sx * b.sx // b.n))
             |                  // (a.n + b.n - 2) AS pvar,
             |                a.n AS n1, b.n AS n0
             |         FROM arms a JOIN arms b
             |           ON a.nk = b.nk AND a.g = 1 AND b.g = 0
             |         WHERE a.n > 1 AND b.n > 1),
             |eff AS (SELECT nk, theta,
             |               least(1000000000, CAST(1000000000000 AS BIGINT)
             |                 // greatest(1, pvar * (n1 + n0)
             |                   // (n1 * n0))) AS w
             |        FROM eff0),
             |pooled AS (SELECT CAST(sum(w * theta) AS BIGINT)
             |                    // CAST(sum(w) AS BIGINT) AS th,
             |                  CAST(count(*) AS BIGINT) AS k
             |           FROM eff),
             |qq AS (SELECT k, min(th) AS theta_hat_h,
             |              CAST(sum((w // 1000) * (theta - th)
             |                * (theta - th)) AS BIGINT) AS q_scaled
             |       FROM eff CROSS JOIN pooled GROUP BY k)
             |SELECT k AS n_cohorts, theta_hat_h, q_scaled,
             |       CASE WHEN q_scaled > (k - 1) * CAST(1000000000
             |           AS BIGINT)
             |         THEN greatest(0, 1000000 - (k - 1)
             |           * CAST(1000000000 AS BIGINT)
             |           // greatest(1, q_scaled // 1000000))
             |         ELSE 0 END AS i2_e6
             |FROM qq""".stripMargin)),

    /* TOST equivalence (`q_tost`): two one-sided Welch tests that
     * BUILDING and MACHINERY mean account balances are within ±$50 —
     * the right null when you want to CLAIM similarity (q_welch_ttest
     * answers the opposite question). Exact integer moments; the two
     * t statistics close in one double chain each; the equivalence
     * flag compares the 6dp-ROUNDED stats so it is engine-exact. */
    // ── TOST: equivalence of segment mean balances within ±$50.
    QueryDef("q_tost",
      (s, d) => {
        val m = Tables.customer(s, d)
          .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
          .select(when(col("c_mktsegment") === "BUILDING", 1L)
            .otherwise(0L).as("g"),
            floor(col("c_acctbal") * 100 + 0.5).cast("long").as("x"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(expr(s"CAST(x AS $dec) * x")).as("sxx"))
        val w = m.agg(
          max(when(col("g") === 1, col("n"))).as("n1"),
          max(when(col("g") === 1, col("sx"))).as("s1"),
          max(when(col("g") === 1, col("sxx"))).as("q1"),
          max(when(col("g") === 0, col("n"))).as("n2"),
          max(when(col("g") === 0, col("sx"))).as("s2"),
          max(when(col("g") === 0, col("sxx"))).as("q2"))
        w.selectExpr("n1", "n2",
            s"CAST(n1 AS $dec) * q1 - CAST(s1 AS $dec) * s1 AS c1",
            s"CAST(n2 AS $dec) * q2 - CAST(s2 AS $dec) * s2 AS c2",
            "s1", "s2")
          .selectExpr("n1", "n2",
            """round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              | - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
              | / CAST('100.0' AS DOUBLE), 6) AS mean_diff_usd"""
              .stripMargin,
            """sqrt(CAST(c1 AS DOUBLE) / (CAST(n1 AS DOUBLE)
              | * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))
              | + CAST(c2 AS DOUBLE) / (CAST(n2 AS DOUBLE)
              | * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))) AS se"""
              .stripMargin,
            """(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              | - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS md"""
              .stripMargin)
          .selectExpr("n1", "n2", "mean_diff_usd",
            "round((md + CAST('5000.0' AS DOUBLE)) / se, 6) AS t_lower",
            "round((CAST('5000.0' AS DOUBLE) - md) / se, 6) AS t_upper")
          .selectExpr("n1", "n2", "mean_diff_usd", "t_lower", "t_upper",
            """CASE WHEN t_lower > CAST('1.645' AS DOUBLE)
              |      AND t_upper > CAST('1.645' AS DOUBLE)
              | THEN 'EQUIVALENT' ELSE 'NOT_SHOWN' END AS verdict"""
              .stripMargin)
      },
      Some("""WITH b AS (
             |  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1
             |              ELSE 0 END AS g,
             |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS x
             |  FROM customer
             |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
             |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(x) AS BIGINT) AS sx,
             |             sum(CAST(x AS HUGEINT) * x) AS sxx
             |      FROM b GROUP BY 1),
             |w AS (SELECT max(CASE WHEN g = 1 THEN n END) AS n1,
             |             max(CASE WHEN g = 1 THEN sx END) AS s1,
             |             max(CASE WHEN g = 1 THEN sxx END) AS q1,
             |             max(CASE WHEN g = 0 THEN n END) AS n2,
             |             max(CASE WHEN g = 0 THEN sx END) AS s2,
             |             max(CASE WHEN g = 0 THEN sxx END) AS q2
             |      FROM m),
             |c AS (SELECT n1, n2, s1, s2,
             |        CAST(n1 AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1
             |          AS c1,
             |        CAST(n2 AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2
             |          AS c2 FROM w),
             |t AS (SELECT n1, n2,
             |        round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             |          - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             |          / CAST('100.0' AS DOUBLE), 6) AS mean_diff_usd,
             |        sqrt(CAST(c1 AS DOUBLE) / (CAST(n1 AS DOUBLE)
             |          * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))
             |          + CAST(c2 AS DOUBLE) / (CAST(n2 AS DOUBLE)
             |          * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)))
             |          AS se,
             |        (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             |          - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS md
             |      FROM c),
             |tt AS (SELECT n1, n2, mean_diff_usd,
             |         round((md + CAST('5000.0' AS DOUBLE)) / se, 6)
             |           AS t_lower,
             |         round((CAST('5000.0' AS DOUBLE) - md) / se, 6)
             |           AS t_upper FROM t)
             |SELECT n1, n2, mean_diff_usd, t_lower, t_upper,
             |       CASE WHEN t_lower > CAST('1.645' AS DOUBLE)
             |             AND t_upper > CAST('1.645' AS DOUBLE)
             |       THEN 'EQUIVALENT' ELSE 'NOT_SHOWN' END AS verdict
             |FROM tt""".stripMargin))
  )
}
