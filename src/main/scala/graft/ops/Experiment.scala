package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A/B experiment readout with an EXACT integer significance decision.
  * The two-proportion pooled z-test
  *   z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)),  p̂ = (c_a+c_b)/(n_a+n_b)
  * squares and cross-multiplies into pure integers:
  *   z² > α  ⟺  10⁴·n·(c_a·n_b − c_b·n_a)² > α₄·n_a·n_b·c·(n−c)
  * with n = n_a+n_b, c = c_a+c_b and α₄ the critical z² in 1e-4 units
  * (38416 = 1.96²). Wide products ride decimal(38,0) (HUGEINT in the
  * oracle), so the verdict cannot flip on floating-point rounding — the
  * same exactness trick as [[Anomaly.zscoreProfile]].
  *
  * Scale: one shuffle to collapse events per unit, then a single
  * partial-aggregated global reduction to the 2×2 table. Nothing about
  * the test statistic ever touches a double.
  */
object Experiment {

  /** `units` must carry one row per experimental unit with an integer
    * `variantCol` ∈ {0, 1} and integer `convertedCol` ∈ {0, 1}. Returns
    * one row: per-variant sizes/conversions and the significance flag. */
  def twoProportionTest(units: DataFrame, variantCol: String,
                        convertedCol: String,
                        alphaZ2e4: Long = 38416L): DataFrame = {
    val v = col(variantCol)
    val c = col(convertedCol)
    val agg = units.agg(
      sum(when(v === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(v === 0, c).otherwise(lit(0L))).as("conv_a"),
      sum(when(v === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(v === 1, c).otherwise(lit(0L))).as("conv_b"))
    val n = (col("n_a") + col("n_b")).cast(dec)
    val cc = (col("conv_a") + col("conv_b")).cast(dec)
    val diff = (col("conv_a").cast(dec) * col("n_b").cast(dec)
      - col("conv_b").cast(dec) * col("n_a").cast(dec))
    val lhs = lit(10000L).cast(dec) * n * diff * diff
    val rhs = lit(alphaZ2e4).cast(dec) * col("n_a").cast(dec) *
      col("n_b").cast(dec) * cc * (n - cc)
    agg.withColumn("significant", lhs > rhs)
  }

  /** Sequential probability ratio test (Wald SPRT) on a Bernoulli
    * conversion stream: walk each variant's events in time order
    * accumulating the log-likelihood ratio
    *   LLR_n = conv_n·c1 + (n − conv_n)·c0
    * (c1 = log₂(p1/p0), c0 = log₂((1−p1)/(1−p0)), both e6 fixed-point
    * constants the caller derives from [[Bm25.log2E6Int]] so the SQL
    * oracle embeds the IDENTICAL literals) and stop at the first
    * boundary crossing: LLR ≥ aE6 accepts H1, LLR ≤ −aE6 accepts H0,
    * never crossing means keep sampling. This is the always-monitoring
    * alternative to the fixed-horizon [[twoProportionTest]] — peeking
    * is sound by construction.
    *
    * One variant-keyed window (cumsum + row_number share the shuffle),
    * one filter for crossings, one min-struct per variant — the
    * decision point is the FIRST crossing even if the walk later
    * re-crosses. Output per variant: (variant, n, conv, llr_final_e6,
    * decision, n_at_decision — NULL while 'continue'). */
  def sprt(events: DataFrame, variantCol: String, tsCol: String,
           tieCol: String, convCol: String, c1E6: Long, c0E6: Long,
           aE6: Long): DataFrame = {
    require(aE6 > 0L, "aE6 must be positive")
    require(c1E6 > 0L && c0E6 < 0L,
      "H1 must make conversions evidence FOR it (c1 > 0 > c0)")
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("variant")).orderBy(col("t"), col("tie"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walked = events.select(col(variantCol).as("variant"),
        col(tsCol).as("t"), col(tieCol).as("tie"),
        col(convCol).cast("long").as("x"))
      .withColumn("llr",
        sum(col("x") * c1E6 + (lit(1L) - col("x")) * c0E6).over(cum))
      .withColumn("rn", row_number().over(ord))
    val firstCross = walked
      .filter(col("llr") >= aE6 || col("llr") <= -aE6)
      .groupBy(col("variant"))
      .agg(min(struct(col("rn"), col("llr"))).as("fc"))
    walked.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("conv"),
        max(struct(col("rn"), col("llr"))).as("last"))
      .join(firstCross, Seq("variant"), "left")
      .select(col("variant"), col("n"), col("conv"),
        col("last.llr").as("llr_final_e6"),
        when(col("fc.llr") >= aE6, "h1")
          .when(col("fc.llr") <= -aE6, "h0")
          .otherwise("continue").as("decision"),
        col("fc.rn").as("n_at_decision"))
  }

  /** CUPED variance reduction (Deng et al.): adjust each unit's
    * experiment metric y by its PRE-experiment covariate x,
    *   y_adj = y − θ·(x − x̄),   θ = cov(x, y)/var(x)  (pooled),
    * which shrinks metric variance by the squared correlation r² and
    * makes small treatment effects detectable with the same traffic —
    * the standard trick every mature experimentation platform runs.
    *
    * Because mean(y_adj | variant) = ȳ_v − θ·(x̄_v − x̄), the adjusted
    * means need ONLY per-variant sums — no second per-unit pass. All
    * moments are exact DECIMAL(38,0) sums; θ, the means, and r² go
    * through doubles once, with the same IEEE expression sequence the
    * SQL oracle runs, rounded to 6 dp (the repo's deterministic-double
    * convention). Zero pre-period variance yields NULLs.
    *
    * One aggregate over units (map-side combinable) → a scalar-sized
    * projection. Output one row: (n_a, n_b, mean_y_a, mean_y_b, theta,
    * mean_adj_a, mean_adj_b, r2_e6). */
  def cuped(units: DataFrame, variantCol: String, xCol: String,
            yCol: String): DataFrame = {
    val v = col(variantCol)
    val x = col(xCol).cast(dec)
    val y = col(yCol).cast(dec)
    units.agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum(x * x).as("sxx"), sum(x * y).as("sxy"), sum(y * y).as("syy"),
      sum(when(v === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(v === 0, x).otherwise(lit(0L).cast(dec))).as("sx_a"),
      sum(when(v === 0, y).otherwise(lit(0L).cast(dec))).as("sy_a"),
      sum(when(v === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(v === 1, x).otherwise(lit(0L).cast(dec))).as("sx_b"),
      sum(when(v === 1, y).otherwise(lit(0L).cast(dec))).as("sy_b"))
      .selectExpr("n_a", "n_b",
        "CAST(n * sxy - sx * sy AS DOUBLE) AS cnum",
        "CAST(n * sxx - sx * sx AS DOUBLE) AS dx",
        "CAST(n * syy - sy * sy AS DOUBLE) AS dy",
        "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar",
        "CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_y_a",
        "CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_y_b",
        "CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_x_a",
        "CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_x_b")
      .selectExpr("n_a", "n_b",
        "round(mean_y_a, 6) AS mean_y_a", "round(mean_y_b, 6) AS mean_y_b",
        "CASE WHEN dx = 0 THEN NULL ELSE round(cnum / dx, 6) END AS theta",
        """CASE WHEN dx = 0 THEN NULL
          |     ELSE round(mean_y_a - (cnum / dx) * (mean_x_a - xbar), 6)
          |END AS mean_adj_a""".stripMargin,
        """CASE WHEN dx = 0 THEN NULL
          |     ELSE round(mean_y_b - (cnum / dx) * (mean_x_b - xbar), 6)
          |END AS mean_adj_b""".stripMargin,
        """CASE WHEN dx = 0 OR dy = 0 THEN NULL
          |     ELSE round(cnum * cnum / (dx * dy), 6)
          |END AS r2""".stripMargin)
  }

  /** Difference-in-differences — the workhorse quasi-experimental
    * estimator when treatment wasn't randomized: compare the treated
    * group's pre→post change against the control group's,
    *   DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre),
    * which nets out both the fixed group gap and the common time trend.
    *
    * Values are integer cents; means are kept as exact rationals in e4
    * fixed point (sum·10⁴ div n), so the estimate replays integer-exact
    * in the oracle. One aggregate (map-side combinable) over the events
    * — the four cells are conditional sums, no join, no second pass.
    * Output one row: per-cell ns + means, did_e4 (cents · 10⁻⁴). */
  def diffInDiff(df: DataFrame, treatCol: String, postCol: String,
                 centsCol: String): DataFrame = {
    val t = col(treatCol)
    val p = col(postCol)
    def cell(tv: Int, pv: Int, tag: String) = Seq(
      sum(when(t === tv && p === pv, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(t === tv && p === pv, col(centsCol)).otherwise(0L)).as(s"s_$tag"))
    val cells = cell(0, 0, "c_pre") ++ cell(0, 1, "c_post") ++
      cell(1, 0, "t_pre") ++ cell(1, 1, "t_post")
    df.agg(cells.head, cells.tail: _*)
      .selectExpr("n_c_pre", "n_c_post", "n_t_pre", "n_t_post",
        "s_c_pre * 10000L div n_c_pre AS mean_c_pre_e4",
        "s_c_post * 10000L div n_c_post AS mean_c_post_e4",
        "s_t_pre * 10000L div n_t_pre AS mean_t_pre_e4",
        "s_t_post * 10000L div n_t_post AS mean_t_post_e4")
      .withColumn("did_e4",
        (col("mean_t_post_e4") - col("mean_t_pre_e4")) -
          (col("mean_c_post_e4") - col("mean_c_pre_e4")))
  }

  // ── Poisson bootstrap ───────────────────────────────────────────────
  // THE distributed bootstrap (Chamandy et al., "Estimating Uncertainty
  // for Massive Data Streams"): resample-with-replacement multiplicities
  // are approximated per row by independent Poisson(1) draws, so every
  // resample is a CONDITIONAL SUM inside one map-side-combinable
  // aggregate — no resample materialization, no second pass, no shuffle
  // beyond the group keys. Draws are derandomized through the portable
  // md5 hash, so both engines see identical multiplicities.

  /** Poisson(1) cumulative thresholds in e6 (m = 0..3, tail mass lumped
    * into m = 4). */
  val poissonCumE6: Seq[Long] = Seq(367879L, 735759L, 919699L, 980996L)

  /** SQL for the multiplicity of `idExpr` in resample `b` — shared by
    * the Column path and the DuckDB oracle (`hashExpr` is the engine's
    * hash48 of (id, salt b) already reduced mod 1e6). */
  def poissonMultSql(hashExpr: String): String = {
    val cases = poissonCumE6.zipWithIndex
      .map { case (t, m) => s"WHEN $hashExpr < $t THEN $m" }.mkString(" ")
    s"(CASE $cases ELSE 4 END)"
  }

  /** Per-group Poisson-bootstrap confidence envelope of the mean of
    * `centsCol`: B resample means (integer e4), reported as their
    * min/max envelope beside the point estimate. Output: (group, n,
    * mean_e4, boot_lo_e4, boot_hi_e4, n_resamples). */
  def bootstrapCi(df: DataFrame, groupCol: String, idCol: String,
                  centsCol: String, b: Int = 16): DataFrame = {
    require(b >= 2 && b <= 64, "resamples in [2, 64]")
    val base = (0 until b).foldLeft(df) { (acc, i) =>
      acc.withColumn(s"pm$i",
        Dedup.hash48(col(idCol).cast("string"), lit(s"bs$i")) % 1000000L)
    }
    val withMult = (0 until b).foldLeft(base) { (acc, i) =>
      acc.withColumn(s"m$i", expr(poissonMultSql(s"pm$i")))
    }
    val aggs = Seq(count(lit(1)).as("n"), sum(col(centsCol)).as("s")) ++
      (0 until b).flatMap { i => Seq(
        sum(col(s"m$i") * col(centsCol)).as(s"bs$i"),
        sum(col(s"m$i").cast("long")).as(s"bn$i")) }
    val means = (0 until b).map(i =>
      s"CASE WHEN bn$i = 0 THEN NULL ELSE bs$i * 10000L div bn$i END")
    withMult.groupBy(col(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(groupCol, "n", "s * 10000L div n AS mean_e4",
        s"array(${means.mkString(", ")}) AS bm")
      .selectExpr(groupCol, "n", "mean_e4",
        "array_min(bm) AS boot_lo_e4", "array_max(bm) AS boot_hi_e4",
        s"CAST($b AS BIGINT) AS n_resamples")
  }

  /** Minimum detectable effect per segment for a future 50/50 test at
    * α = 0.05 (two-sided) and 80% power: MDE = (z_{α/2} + z_β) ·
    * √(2σ²/(n/2)) with the z-sum embedded as one shared literal
    * (1.959964 + 0.841621). Moments are EXACT DECIMAL(38,0) integer
    * sums; only the single-row epilogue touches doubles ([[Stats.welchT]]
    * contract: IEEE ops on exact integers + one floor, identical in
    * both engines). Output per segment: (seg, n, mean_cents, mde_cents,
    * mde_rel_e6) — NULL mde when n < 4 or zero variance.
    *
    * Scale: ONE segment-keyed moment aggregate off the raw scan;
    * everything after is per-segment scalar arithmetic. */
  def mde(df: DataFrame, segCol: String, centsCol: String): DataFrame = {
    df.select(col(segCol).as("seg"), col(centsCol).cast(dec).as("v"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("q"))
      .selectExpr("seg", "n", "s",
        """CAST(n * q - s * s AS DOUBLE)
          |  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS var0""".stripMargin)
      .selectExpr("seg", "CAST(n AS BIGINT) AS n",
        "CAST(s div n AS BIGINT) AS mean_cents",
        """CASE WHEN n < 4 OR var0 <= 0 THEN NULL
          |     ELSE CAST(floor(CAST('2.801585' AS DOUBLE)
          |          * sqrt(CAST('4' AS DOUBLE) * var0 / CAST(n AS DOUBLE))
          |          + CAST('0.5' AS DOUBLE)) AS BIGINT)
          |END AS mde_cents""".stripMargin)
      .selectExpr("seg", "n", "mean_cents", "mde_cents",
        """CASE WHEN mde_cents IS NULL OR mean_cents = 0 THEN NULL
          |     ELSE mde_cents * 1000000 div mean_cents
          |END AS mde_rel_e6""".stripMargin)
  }

  /** Benjamini–Hochberg FDR step-up over one hypothesis per `keyCols`
    * cell, with DISTRIBUTION-FREE p-values: each cell's p is the
    * Chebyshev bound P(|mean_g − μ| ≥ d) ≤ Var/(n_g·d²) on the cell
    * mean under the global null — a valid (conservative) p-value with
    * no normality assumption and no special functions, so both engines
    * compute it from exact integer moments closed by one identical
    * double sequence. The step-up then sorts p ascending (key-tiebroken),
    * rejects ranks 1..k* where k* = max{k : p_(k) ≤ k·α/m}, α = 0.05.
    * Output per cell: (keys…, n_g, p, k_rank, rejected).
    *
    * Scale: one cell-keyed moment aggregate off the raw scan plus a
    * broadcast 1-row global; the sort window runs on the HYPOTHESIS
    * axis (|cells|, bounded by the key cardinality product, not the
    * data volume) — at 100 TB the window input is unchanged. */
  def chebyshevBh(df: DataFrame, keyCols: Seq[String],
                  valueCol: String): DataFrame = {
    val t = df.select(keyCols.map(col) :+ col(valueCol).cast(dec).as("v"): _*)
    val cells = t.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast(dec).as("ng"), sum(col("v")).as("sg"))
    val glob = t.agg(count(lit(1)).cast(dec).as("n"),
      sum(col("v")).as("s"), sum(col("v") * col("v")).as("q"))
    val keyList = keyCols.mkString(", ")
    val scored = cells.crossJoin(broadcast(glob))
      .selectExpr(keyCols :+ "CAST(ng AS BIGINT) AS n_g" :+
        // d = mean_g − μ and Var as one-division doubles off exact
        // integer numerators — both engines run this exact sequence.
        """CASE WHEN n * sg - ng * s = 0 THEN CAST(1.0 AS DOUBLE)
          |     ELSE least(CAST(1.0 AS DOUBLE),
          |       CAST(n * q - s * s AS DOUBLE)
          |         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
          |       / (CAST(ng AS DOUBLE)
          |          * (CAST(n * sg - ng * s AS DOUBLE)
          |             / (CAST(ng AS DOUBLE) * CAST(n AS DOUBLE)))
          |          * (CAST(n * sg - ng * s AS DOUBLE)
          |             / (CAST(ng AS DOUBLE) * CAST(n AS DOUBLE)))))
          |END AS p_raw""".stripMargin: _*)
    val w = Window.orderBy(col("p_raw") +: keyCols.map(col): _*)
    scored
      .withColumn("k_rank", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy()).cast("long"))
      .withColumn("ok_k", when(col("p_raw") <=
        col("k_rank").cast("double") * lit(0.05) / col("m").cast("double"),
        col("k_rank")))
      .withColumn("k_star", max(col("ok_k")).over(Window.partitionBy()))
      .selectExpr(keyCols :+ "n_g" :+ "round(p_raw, 6) AS p" :+ "k_rank" :+
        "k_rank <= coalesce(k_star, CAST(0 AS BIGINT)) AS rejected": _*)
  }

  /** Stratified average treatment effect: within each stratum (a
    * FIXED-WIDTH confounder band, so no global quantile sort) compare
    * treated vs control outcome means; the overall ATE is the
    * stratum-size-weighted mean of the per-stratum differences — the
    * classic propensity-stratification estimator with the bands playing
    * the propensity-score role. Strata missing either arm are DROPPED
    * (standard positivity handling) and excluded from the weights.
    * All integer: per-arm means are truncating cents divisions; the ATE
    * numerator Σ n_s·diff_s can be negative, so the closing division
    * rides a +C·n offset (C = 1e7 cents) to keep both engines'
    * truncation on the positive side. Output per kept stratum:
    * (stratum, n_s, n_t, n_c, mean_t_cents, mean_c_cents, diff_cents,
    * w_e6, ate_cents) with ate_cents constant across rows.
    *
    * Scale: ONE stratum-keyed aggregate off the unit table; the
    * weighting window runs on the STRATUM axis (fixed band count). */
  def stratifiedAte(units: DataFrame, strataCol: String, treatCol: String,
                    centsCol: String): DataFrame = {
    val cells = units.select(col(strataCol).as("stratum"),
        col(treatCol).cast("boolean").as("t"),
        col(centsCol).cast("long").as("y"))
      .groupBy(col("stratum"))
      .agg(sum(when(col("t"), 1L).otherwise(0L)).as("n_t"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("n_c"),
        sum(when(col("t"), col("y")).otherwise(0L)).as("s_t"),
        sum(when(!col("t"), col("y")).otherwise(0L)).as("s_c"))
      .where(col("n_t") > 0 && col("n_c") > 0)
    val all = Window.partitionBy()
    cells
      .selectExpr("stratum", "n_t + n_c AS n_s", "n_t", "n_c",
        "s_t div n_t AS mean_t_cents", "s_c div n_c AS mean_c_cents",
        "s_t div n_t - s_c div n_c AS diff_cents")
      .withColumn("n", sum(col("n_s")).over(all))
      .withColumn("num", sum(col("n_s") * col("diff_cents")).over(all))
      .selectExpr("stratum", "n_s", "n_t", "n_c", "mean_t_cents",
        "mean_c_cents", "diff_cents", "n_s * 1000000 div n AS w_e6",
        "(num + n * 10000000) div n - 10000000 AS ate_cents")
  }
}
