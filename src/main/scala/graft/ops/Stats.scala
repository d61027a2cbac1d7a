package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Classical statistical tests and curves, engine-portable by the
  * repo's two standing conventions: exact integer (or DECIMAL(38,0) /
  * HUGEINT) accumulation wherever sums can overflow a double's 53-bit
  * mantissa, and per-row (never cross-row) IEEE double arithmetic with
  * identical operation order on both engines where a ratio/sqrt is
  * unavoidable. Nothing here adds a shuffle beyond the grouping the
  * statistic itself requires.
  */
object Stats {

  /** Two-sample Kolmogorov–Smirnov over INTEGER-valued samples.
    * `df` carries (`sampleCol` ∈ {0, 1}, `valueCol` long). The KS
    * statistic D = max_v |F̂₁(v) − F̂₂(v)| is computed EXACTLY as
    * max |n₂·cum₁(v) − n₁·cum₂(v)| over the distinct pooled values —
    * integer throughout, so the argmax value is well defined (ties →
    * smallest v). Output one row: (n1, n2, at_v, d_e6) with
    * d_e6 = D·10⁶ div (n₁·n₂).
    *
    * Scale: one (value)-keyed count aggregate, then the cumulative
    * walk runs on the DISTINCT value axis — bounded by the value
    * domain, not the row count (same single-axis window contract as
    * q_auc_rank's rank prefix). */
  def ks2(df: DataFrame, sampleCol: String, valueCol: String): DataFrame = {
    val ord = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cells = df.select(col(sampleCol).as("s"), col(valueCol).as("v"))
      .groupBy(col("v"))
      .agg(sum(when(col("s") === 0L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("c2"))
      .localCheckpoint(false) // distinct-value axis: tiny; ONE raw scan
    val tot = cells.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    cells
      .withColumn("cum1", sum(col("c1")).over(ord))
      .withColumn("cum2", sum(col("c2")).over(ord))
      .crossJoin(broadcast(tot))
      .withColumn("d_abs", abs(col("n2") * col("cum1") - col("n1") * col("cum2")))
      .orderBy(col("d_abs").desc, col("v").asc)
      .limit(1)
      .selectExpr("n1", "n2", "v AS at_v",
        "d_abs * 1000000L div (n1 * n2) AS d_e6")
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, plus Cramér's V. Per-cell: the residual O·N − R·C is
    * EXACT in int64; only the square-over-expected ratio goes through
    * doubles, and it is rounded to an e6 INTEGER PER CELL before the
    * cross-cell sum — identical IEEE ops per cell on both engines, and
    * an order-independent integer sum across cells (the same
    * determinism recipe as the repo's e6 scores). Output one row:
    * (n, dof, chi2_e6, v_e6).
    *
    * Scale: one (x, y) count aggregate; margins derive from the cells
    * (broadcast-sized: |X|·|Y| cells). */
  def chiSquare(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.select(col(xCol).as("x"), col(yCol).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("o"))
      .localCheckpoint(false) // |X|x|Y| cells: tiny; ONE raw scan
    val rm = cells.groupBy(col("x")).agg(sum(col("o")).as("r"))
    val cm = cells.groupBy(col("y")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("x")).as("nx"), countDistinct(col("y")).as("ny"))
    // the FULL margin grid — zero cells carry (0 − E)²/E too
    broadcast(rm).crossJoin(broadcast(cm))
      .join(cells, Seq("x", "y"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .selectExpr("n", "nx", "ny", "o * n - r * c AS dres", "r * c * n AS rcn")
      .selectExpr("n", "nx", "ny",
        """CAST(floor(CAST(dres AS DOUBLE) * CAST(dres AS DOUBLE)
          |  / CAST(rcn AS DOUBLE) * CAST('1000000' AS DOUBLE)
          |  + CAST('0.5' AS DOUBLE)) AS BIGINT) AS term_e6""".stripMargin)
      .groupBy(col("n"), col("nx"), col("ny"))
      .agg(sum(col("term_e6")).as("chi2_e6"))
      .selectExpr("n", "(nx - 1) * (ny - 1) AS dof", "chi2_e6",
        """CAST(floor(sqrt(CAST(chi2_e6 AS DOUBLE) / CAST('1000000' AS DOUBLE)
          |  / CAST(n * least(nx - 1, ny - 1) AS DOUBLE))
          |  * CAST('1000000' AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT) AS v_e6""".stripMargin)
  }

  /** Mutual information I(X; Y) between two categorical columns in e6
    * log₂ units (bits·10⁶) — fully integer via the shared fixed-point
    * log₂: I = Σ_cells c_xy·(log₂(c_xy·N) − log₂(c_x·c_y)) / N, with
    * both log arguments positive integers and the division a final
    * truncating `div`. Truncated logs can leave a tiny negative
    * residue on independent columns — that is the fixed-point
    * contract, identical on both engines. Output one row:
    * (n, n_cells, mi_e6).
    *
    * Scale: one (x, y) count aggregate; margins broadcast. */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.select(col(xCol).as("x"), col(yCol).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
      .localCheckpoint(false) // |X|x|Y| cells: tiny; ONE raw scan
    val rm = cells.groupBy(col("x")).agg(sum(col("cxy")).as("cx"))
    val cm = cells.groupBy(col("y")).agg(sum(col("cxy")).as("cy"))
    val tot = cells.agg(sum(col("cxy")).as("n"))
    cells.join(broadcast(rm), "x").join(broadcast(cm), "y")
      .crossJoin(broadcast(tot))
      .withColumn("contrib",
        col("cxy") * (Bm25.log2E6(col("cxy") * col("n"))
          - Bm25.log2E6(col("cx") * col("cy"))))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("n_cells"), sum(col("contrib")).as("csum"))
      .selectExpr("n", "n_cells", "csum div n AS mi_e6")
  }

  /** Kaplan–Meier survival estimator over right-censored durations.
    * `df` carries one subject per row: (`durationCol` long ≥ 0,
    * `eventCol` 0/1 — 1 = event observed, 0 = censored at that time).
    * Using the convention that subjects censored at t are still AT
    * RISK at t, the curve at each distinct EVENT time is
    *   S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ),
    * computed portably as a fixed-point log₂ sum (each factor is
    * log₂(nᵢ−dᵢ) − log₂(nᵢ) via the shared mantissa table) inverted
    * through [[Sketches.pow2NegE6Expr]] — all integer, no cross-row
    * doubles. Once nᵢ = dᵢ (everyone at risk dies) survival is exactly
    * 0 from that time on. Output per event time:
    * (t, n_risk, d, surv_e6).
    *
    * Scale: one (t)-keyed aggregate; the cumulative walk runs on the
    * distinct-time axis (same bounded single-axis window as [[ks2]]). */
  def kaplanMeier(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val ord = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grp = df.select(col(durationCol).as("t"), col(eventCol).as("ev"))
      .groupBy(col("t"))
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("leave"))
      .localCheckpoint(false) // distinct-time axis: tiny; ONE raw scan
    val tot = grp.agg(sum(col("leave")).as("n_all"))
    grp.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("n_all") - (sum(col("leave")).over(ord) - col("leave")))
      .filter(col("d") > 0L)
      .withColumn("step_l",
        when(col("n_risk") > col("d"),
          Bm25.log2E6(col("n_risk") - col("d")) - Bm25.log2E6(col("n_risk")))
          .otherwise(lit(0L)))
      .withColumn("dead", max((col("n_risk") === col("d")).cast("int")).over(ord))
      .withColumn("y", -sum(col("step_l")).over(ord))
      .select(col("t"), col("n_risk"), col("d"),
        when(col("dead") === 1, lit(0L))
          .otherwise(Sketches.pow2NegE6Expr("y")).as("surv_e6"))
  }

  /** Nelson–Aalen cumulative hazard — the additive companion of
    * [[kaplanMeier]] over the same (duration, event) subjects:
    * H(t) = Σ_{tᵢ ≤ t} dᵢ/n_riskᵢ, ALL integer (each event-time term is
    * one e6 truncating division, the cumulative sum is exact — no logs,
    * no exponentials, unlike the KM product). Rows emit at event times
    * only. Output: (t, n_risk, d, term_e6, cumhaz_e6).
    *
    * Scale: the [[kaplanMeier]] contract — one duration-keyed count
    * aggregate off the raw scan, then the risk-set walk on the tiny
    * distinct-time axis. */
  def nelsonAalen(df: DataFrame, durationCol: String,
                  eventCol: String): DataFrame = {
    val ord = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grp = df.select(col(durationCol).as("t"), col(eventCol).as("ev"))
      .groupBy(col("t"))
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("leave"))
      .localCheckpoint(false) // distinct-time axis: tiny; ONE raw scan
    val tot = grp.agg(sum(col("leave")).as("n_all"))
    grp.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("n_all") - (sum(col("leave")).over(ord) - col("leave")))
      .filter(col("d") > 0L)
      .withColumn("term_e6", expr("d * 1000000 div n_risk"))
      .withColumn("cumhaz_e6", sum(col("term_e6")).over(ord))
      .select(col("t"), col("n_risk"), col("d"), col("term_e6"),
        col("cumhaz_e6"))
  }

  /** Aalen–Johansen cumulative incidence under COMPETING risks — the
    * correct replacement for "1 − KM per cause" (which over-counts
    * because a subject failing from cause 2 can never fail from cause
    * 1). Causes are 1 and 2; 0 = censored. At each event time:
    *   CIF_k(t) = Σ_{tᵢ ≤ t} S(tᵢ⁻) · d_{k,i} / n_riskᵢ
    * where S(t⁻) is the all-cause KM survival just BEFORE tᵢ — here the
    * same e6 log₂-sum/2^(−y) integer machinery as [[kaplanMeier]]
    * (5-bit-mantissa accuracy), with the strictly-preceding window
    * giving S(t⁻) for free. Output rows at event times:
    * (t, n_risk, d1, d2, cif1_e6, cif2_e6); cif1+cif2 converges to
    * 1e6 − S only through the shared approximate S, so the identity
    * holds to mantissa accuracy by construction.
    *
    * Scale: the [[kaplanMeier]] contract — one duration-keyed count
    * aggregate off the raw scan, then the walk on the tiny
    * distinct-time axis (the unpartitioned windows are bounded by it). */
  def competingRisks(df: DataFrame, durationCol: String,
                     causeCol: String): DataFrame = {
    val ord = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val grp = df.select(col(durationCol).as("t"), col(causeCol).as("cz"))
      .groupBy(col("t"))
      .agg(sum(when(col("cz") === 1L, 1L).otherwise(0L)).as("d1"),
        sum(when(col("cz") === 2L, 1L).otherwise(0L)).as("d2"),
        count(lit(1)).as("leave"))
      .localCheckpoint(false) // distinct-time axis: tiny; ONE raw scan
    val tot = grp.agg(sum(col("leave")).as("n_all"))
    grp.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("n_all") - (sum(col("leave")).over(ord) - col("leave")))
      .withColumn("d", col("d1") + col("d2"))
      .filter(col("d") > 0L)
      .withColumn("step_l",
        when(col("n_risk") > col("d"),
          Bm25.log2E6(col("n_risk") - col("d")) - Bm25.log2E6(col("n_risk")))
          .otherwise(lit(0L)))
      .withColumn("y_prev",
        -coalesce(sum(col("step_l")).over(prev), lit(0L)))
      .withColumn("dead_prev",
        coalesce(max((col("n_risk") === col("d")).cast("int")).over(prev),
          lit(0)))
      .withColumn("lag_surv_e6",
        when(col("dead_prev") === 1, lit(0L))
          .otherwise(Sketches.pow2NegE6Expr("y_prev")))
      .withColumn("t1", expr("lag_surv_e6 * d1 div n_risk"))
      .withColumn("t2", expr("lag_surv_e6 * d2 div n_risk"))
      .select(col("t"), col("n_risk"), col("d1"), col("d2"),
        sum(col("t1")).over(ord).as("cif1_e6"),
        sum(col("t2")).over(ord).as("cif2_e6"))
  }

  /** Pairwise Pearson correlation matrix over integer (cents) columns —
    * ONE aggregate computes every moment exactly in DECIMAL(38,0)
    * (n + per-column sums/squares + per-pair cross sums, all map-side
    * combinable), then each pair's r goes through doubles once with the
    * repo's deterministic-double convention (same IEEE sequence as the
    * oracle, round 6). Zero-variance columns yield NULL. Output one row
    * per unordered pair: (pair, n, corr). */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val pairs = for (i <- cols.indices; j <- i + 1 until cols.size)
      yield (cols(i), cols(j))
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.map(c => sum(col(c).cast(dec)).as(s"s_$c")) ++
      cols.map(c => sum(col(c).cast(dec) * col(c).cast(dec)).as(s"q_$c")) ++
      pairs.map { case (a, b) =>
        sum(col(a).cast(dec) * col(b).cast(dec)).as(s"x_${a}_$b") }
    val m = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs.map { case (a, b) =>
      s"""'$a~$b', CASE WHEN n * q_$a - s_$a * s_$a = 0
         |               OR n * q_$b - s_$b * s_$b = 0 THEN NULL
         |          ELSE round(CAST(n * x_${a}_$b - s_$a * s_$b AS DOUBLE) /
         |               sqrt(CAST(n * q_$a - s_$a * s_$a AS DOUBLE) *
         |                    CAST(n * q_$b - s_$b * s_$b AS DOUBLE)), 6)
         |          END""".stripMargin
    }.mkString(", ")
    m.selectExpr("n", s"stack(${pairs.size}, $stackArgs) AS (pair, corr)")
      .select(col("pair"), col("n"), col("corr"))
  }

  /** Per-key Spearman rank correlation between `xCol` and `yCol`.
    * Ranks are DOUBLED average ranks — 2·avg_rank = 2·rank + ties − 1 —
    * so midrank ties stay exact integers; ρ is then Pearson over the
    * doubled ranks: exact DECIMAL(38,0) moments, and the closing
    * ratio-over-sqrt is the [[corrMatrix]] deterministic-double
    * sequence (round 6). Zero-variance sides yield NULL. Only the
    * ORDER of x/y matters, so cross-engine type drift (long nanos vs
    * TIMESTAMP) is immaterial. Output: (key, n, rho).
    *
    * Scale: two rank windows partitioned by key (they share the one
    * key shuffle), then a per-key moment aggregate — no global sort,
    * no cross-key window. */
  def spearmanByKey(df: DataFrame, keyCol: String, xCol: String,
                    yCol: String): DataFrame = {
    def r2(c: String) =
      (lit(2L) * rank().over(Window.partitionBy(col("key")).orderBy(col(c)))
        .cast("long") +
        count(lit(1)).over(Window.partitionBy(col("key"), col(c))) -
        lit(1L)).cast(dec)
    df.select(col(keyCol).as("key"), col(xCol).as("x"), col(yCol).as("y"))
      .withColumn("rx", r2("x")).withColumn("ry", r2("y"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("rx")).as("sx"),
        sum(col("ry")).as("sy"), sum(col("rx") * col("rx")).as("qx"),
        sum(col("ry") * col("ry")).as("qy"),
        sum(col("rx") * col("ry")).as("sxy"))
      .selectExpr("key", "CAST(n AS BIGINT) AS n",
        """CASE WHEN n * qx - sx * sx = 0 OR n * qy - sy * sy = 0 THEN NULL
          |     ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
          |          sqrt(CAST(n * qx - sx * sx AS DOUBLE) *
          |               CAST(n * qy - sy * sy AS DOUBLE)), 6)
          |END AS rho""".stripMargin)
  }

  /** Two-sample Mann–Whitney U over integer samples (`sampleCol` ∈
    * {0, 1}, `valueCol` long) — the rank-sum complement of [[ks2]].
    * DOUBLED midranks keep ties integer-exact: for pooled value v,
    * 2·midrank = 2·cum_before + cnt_v + 1, and 2·U₁ = Σ_v c1_v·r2_v −
    * n₁(n₁+1). Output one row: (n1, n2, u2_a, u2_b) with u2_a = 2U₁,
    * u2_b = 2U₂ = 2n₁n₂ − 2U₁ (exact integers, no halves).
    *
    * Scale: the [[ks2]] contract — one value-keyed count aggregate,
    * then the cumulative walk on the DISTINCT value axis. */
  def mannWhitneyU(df: DataFrame, sampleCol: String,
                   valueCol: String): DataFrame = {
    val ord = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(sampleCol).as("s"), col(valueCol).as("v"))
      .groupBy(col("v"))
      .agg(sum(when(col("s") === 0L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("c2"))
      .localCheckpoint(false) // distinct-value axis: tiny; ONE raw scan
      .withColumn("before",
        sum(col("c1") + col("c2")).over(ord) - (col("c1") + col("c2")))
      .withColumn("r2", lit(2L) * col("before") + col("c1") + col("c2") + 1L)
      .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1").cast(dec) * col("r2").cast(dec)).as("r2sum"))
      .selectExpr("CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
        "CAST(r2sum - n1 * (n1 + 1) AS BIGINT) AS u2_a",
        "CAST(2 * n1 * n2 - (r2sum - n1 * (n1 + 1)) AS BIGINT) AS u2_b")
  }

  /** Two-feature ordinary least squares with intercept, by the closed
    * normal-equation solve on CENTERED second moments: every moment and
    * both Cramer numerators/denominator are exact DECIMAL(38,0)
    * (products of two moments stay under 10³⁸ for cents-scale data);
    * each coefficient then goes through doubles once, and the intercept
    * reuses the ROUNDED slopes so both engines chain identically.
    * Collinear features (det = 0) yield NULLs. Output one row:
    * (n, b1, b2, b0).
    *
    * Scale: ONE map-side-combinable aggregate; the solve is a scalar
    * epilogue. */
  def linearRegression2(df: DataFrame, yCol: String, x1Col: String,
                        x2Col: String): DataFrame = {
    df.select(col(yCol).cast(dec).as("y"), col(x1Col).cast(dec).as("x1"),
        col(x2Col).cast(dec).as("x2"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("x1") * col("x1")).as("q11"),
        sum(col("x2") * col("x2")).as("q22"),
        sum(col("x1") * col("x2")).as("q12"),
        sum(col("x1") * col("y")).as("p1"),
        sum(col("x2") * col("y")).as("p2"))
      .selectExpr("CAST(n AS BIGINT) AS n", "sy", "s1", "s2",
        "n * q11 - s1 * s1 AS c11", "n * q22 - s2 * s2 AS c22",
        "n * q12 - s1 * s2 AS c12",
        "n * p1 - s1 * sy AS cy1", "n * p2 - s2 * sy AS cy2")
      .selectExpr("n", "sy", "s1", "s2",
        "c11 * c22 - c12 * c12 AS det",
        "cy1 * c22 - cy2 * c12 AS nb1", "cy2 * c11 - cy1 * c12 AS nb2")
      .selectExpr("n",
        """CASE WHEN det = 0 THEN NULL
          |     ELSE round(CAST(nb1 AS DOUBLE) / CAST(det AS DOUBLE), 6)
          |END AS b1""".stripMargin,
        """CASE WHEN det = 0 THEN NULL
          |     ELSE round(CAST(nb2 AS DOUBLE) / CAST(det AS DOUBLE), 6)
          |END AS b2""".stripMargin,
        "det", "sy", "s1", "s2")
      .selectExpr("n", "b1", "b2",
        """CASE WHEN det = 0 THEN NULL
          |     ELSE round((CAST(sy AS DOUBLE) - b1 * CAST(s1 AS DOUBLE)
          |          - b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE), 6)
          |END AS b0""".stripMargin)
  }

  /** One-way ANOVA F statistic of integer (cents) `xCol` across the
    * groups of `keyCol`. Group moments (n_g, Σx, Σx²) are exact
    * DECIMAL(38,0); each group's between-group term S_g²/n_g goes
    * through doubles ONCE and is rounded to integer cents² per group
    * (identical IEEE sequence both engines, order-independent integer
    * sum across groups — the [[chiSquare]] recipe); SSW = Σx² − Σ_g
    * round(S_g²/n_g) stays integer. One final double division for F
    * (round 6). Output one row: (k, n, ssb_c2, ssw_c2, f).
    *
    * Scale: ONE map-side-combinable groupBy, then a k-row reduce. */
  def anovaF(df: DataFrame, keyCol: String, xCol: String): DataFrame = {
    val sq = (s: String, n: String) =>
      s"""CAST(floor(CAST($s AS DOUBLE) * CAST($s AS DOUBLE) /
         |     CAST($n AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT)""".stripMargin
    df.select(col(keyCol).as("key"), col(xCol).cast(dec).as("x"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
        sum(col("x") * col("x")).as("q_g"))
      .selectExpr("n_g", "s_g", "q_g", s"${sq("s_g", "n_g")} AS term_c2")
      .agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g")).as("s"), sum(col("q_g")).as("q"),
        sum(col("term_c2")).as("ssb_raw"))
      .selectExpr("CAST(k AS BIGINT) AS k", "CAST(n AS BIGINT) AS n",
        s"CAST(ssb_raw - ${sq("s", "n")} AS BIGINT) AS ssb_c2",
        "CAST(q - ssb_raw AS BIGINT) AS ssw_c2")
      .selectExpr("k", "n", "ssb_c2", "ssw_c2",
        """CASE WHEN k < 2 OR n <= k OR ssw_c2 = 0 THEN NULL
          |     ELSE round(CAST(ssb_c2 AS DOUBLE) * CAST(n - k AS DOUBLE) /
          |          (CAST(ssw_c2 AS DOUBLE) * CAST(k - 1 AS DOUBLE)), 6)
          |END AS f""".stripMargin)
  }

  /** Per-key eta² (variance explained by a class column) — the keyed
    * companion of [[anovaF]], read here as SEASONAL STRENGTH: with
    * classes = day-of-week over a daily series, eta² = SSB/SST is
    * exactly "1 − Var(residual)/Var(total)" for the seasonal-means
    * model. Same exactness recipe as [[anovaF]]: cell moments in
    * DECIMAL(38,0), each S²/n through doubles once and rounded to
    * integer cents², ONE final double division (round 6). Output per
    * key: (key, k_classes, n, ssb_c2, ssw_c2, strength); NULL strength
    * when the series is constant (SST = 0).
    *
    * Scale: ONE map-side-combinable (key, class) groupBy, then a
    * key-keyed reduce over the class axis. */
  def etaSquared(df: DataFrame, keyCol: String, classCol: String,
                 xCol: String): DataFrame = {
    val sq = (s: String, n: String) =>
      s"""CAST(floor(CAST($s AS DOUBLE) * CAST($s AS DOUBLE) /
         |     CAST($n AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT)""".stripMargin
    df.select(col(keyCol).as("key"), col(classCol).as("cls"),
        col(xCol).cast(dec).as("x"))
      .groupBy(col("key"), col("cls"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
        sum(col("x") * col("x")).as("q_g"))
      .selectExpr("key", "n_g", "s_g", "q_g",
        s"${sq("s_g", "n_g")} AS term_c2")
      .groupBy(col("key"))
      .agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g")).as("s"), sum(col("q_g")).as("q"),
        sum(col("term_c2")).as("ssb_raw"))
      .selectExpr("key", "CAST(k AS BIGINT) AS k_classes",
        "CAST(n AS BIGINT) AS n",
        s"CAST(ssb_raw - ${sq("s", "n")} AS BIGINT) AS ssb_c2",
        "CAST(q - ssb_raw AS BIGINT) AS ssw_c2")
      .selectExpr("key", "k_classes", "n", "ssb_c2", "ssw_c2",
        """CASE WHEN ssb_c2 + ssw_c2 = 0 THEN NULL
          |     ELSE round(CAST(ssb_c2 AS DOUBLE) /
          |          CAST(ssb_c2 + ssw_c2 AS DOUBLE), 6)
          |END AS strength""".stripMargin)
  }

  /** One-level regression tree (decision stump): the split `feature ≤ v`
    * maximizing the variance-reduction gain S_l²/n_l + S_r²/n_r (the
    * parent term S²/n is constant across splits and dropped). ALL
    * integer: per-threshold gain_e6 = (S_l²·n_r + S_r²·n_l)·10⁶ div
    * (n_l·n_r) in DECIMAL(38,0) with one truncating division — values
    * must be NON-NEGATIVE longs so `div`/`//` agree and DECIMAL head-
    * room holds for cents·count scales. Argmax ties break toward the
    * smaller threshold. Output one row: (split_at, n_left, n_right,
    * gain_e6, mean_left_e6, mean_right_e6).
    *
    * Scale: the [[mannWhitneyU]] contract — one feature-keyed moment
    * aggregate off the raw scan, then the cumulative walk runs on the
    * DISTINCT feature axis (bounded; checkpointed). */
  def decisionStump(df: DataFrame, targetCol: String,
                    featureCol: String): DataFrame = {
    val ord = Window.orderBy(col("f"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cells = df
      .select(col(featureCol).as("f"), col(targetCol).cast(dec).as("t"))
      .groupBy(col("f"))
      .agg(count(lit(1)).cast(dec).as("nv"), sum(col("t")).as("sv"))
      .localCheckpoint(false) // distinct-feature axis: tiny; ONE raw scan
    val tot = cells.agg(sum(col("nv")).as("n"), sum(col("sv")).as("s"))
    cells
      .withColumn("nl", sum(col("nv")).over(ord))
      .withColumn("sl", sum(col("sv")).over(ord))
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("n")) // last threshold leaves the right side empty
      .selectExpr("f", "nl", "n - nl AS nr", "sl", "s - sl AS sr")
      .selectExpr("f", "nl", "nr", "sl", "sr",
        "CAST((sl * sl * nr + sr * sr * nl) * 1000000 div (nl * nr) AS BIGINT) AS gain_e6")
      .orderBy(col("gain_e6").desc, col("f"))
      .limit(1)
      .selectExpr("f AS split_at", "CAST(nl AS BIGINT) AS n_left",
        "CAST(nr AS BIGINT) AS n_right", "gain_e6",
        "CAST(sl * 1000000 div nl AS BIGINT) AS mean_left_e6",
        "CAST(sr * 1000000 div nr AS BIGINT) AS mean_right_e6")
  }

  /** Isotonic (monotone non-decreasing) least-squares fit of per-bucket
    * weighted means, via the minimax identity: the PAVA solution at
    * bucket i is fit(i) = max_{j≤i} min_{k≥i} mean(j..k), where
    * mean(j..k) is the pooled weighted mean over the bucket range. ALL
    * integer for NON-NEGATIVE values: range means are e6-scaled with
    * one truncating division, so both engines truncate identically and
    * the max/min lattice is exact. Output per bucket:
    * (bucket, n, mean_e6, fit_e6), fit_e6 non-decreasing in bucket.
    *
    * Scale: one bucket-keyed moment aggregate off the raw scan; the
    * O(d²) pair grid and its two keyed windows (suffix-min per j,
    * prefix-max per i) run on the BOUNDED bucket axis (time buckets /
    * calibration bins — d is small by construction, checkpointed). */
  def isotonicFit(df: DataFrame, bucketCol: String,
                  valueCol: String): DataFrame = {
    val ord = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ax = df
      .select(col(bucketCol).as("b"), col(valueCol).cast(dec).as("v"))
      .groupBy(col("b"))
      .agg(count(lit(1)).cast(dec).as("nv"), sum(col("v")).as("sv"))
      .localCheckpoint(false) // bucket axis: tiny; ONE raw scan
      .withColumn("ps", sum(col("sv")).over(ord))
      .withColumn("pn", sum(col("nv")).over(ord))
    val grid = ax.as("j").join(ax.as("k"), col("j.b") <= col("k.b"))
      .selectExpr("j.b AS jb", "k.b AS kb",
        "CAST((k.ps - (j.ps - j.sv)) * 1000000 div (k.pn - (j.pn - j.nv)) AS BIGINT) AS m")
    val sm = grid.withColumn("sm",
      min(col("m")).over(Window.partitionBy(col("jb")).orderBy(col("kb").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val fit = sm.withColumn("fit_e6",
        max(col("sm")).over(Window.partitionBy(col("kb")).orderBy(col("jb"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("jb") === col("kb"))
      .select(col("kb").as("b"), col("fit_e6"))
    ax.join(fit, "b")
      .selectExpr("b AS bucket", "CAST(nv AS BIGINT) AS n",
        "CAST(sv * 1000000 div nv AS BIGINT) AS mean_e6", "fit_e6")
  }

  /** Welch's unequal-variance two-sample t — the MEANS companion to
    * the rank-based [[mannWhitneyU]] (`sampleCol` ∈ {0, 1}, `valueCol`
    * integer cents). Moments (n, Σx, Σx²) are exact DECIMAL(38,0); the
    * epilogue follows the repo's deterministic-double convention
    * ([[anovaF]]): sample variances, the pooled standard error, t, and
    * the Welch–Satterthwaite df each evaluate through the SAME IEEE
    * operation sequence in both engines, then round to 6. Output one
    * row: (n1, n2, mean1_e6, mean2_e6, t, df_w); NULL t/df_w when
    * either sample has n < 2 or both variances are zero.
    *
    * Scale: ONE map-side-combinable aggregate; the solve is scalar. */
  def welchT(df: DataFrame, sampleCol: String, valueCol: String): DataFrame = {
    df.select(col(sampleCol).as("s"), col(valueCol).cast(dec).as("v"))
      .agg(
        sum(when(col("s") === 0L, 1L).otherwise(0L)).cast(dec).as("n1"),
        sum(when(col("s") === 1L, 1L).otherwise(0L)).cast(dec).as("n2"),
        sum(when(col("s") === 0L, col("v")).otherwise(lit(0L).cast(dec))).as("s1"),
        sum(when(col("s") === 1L, col("v")).otherwise(lit(0L).cast(dec))).as("s2"),
        sum(when(col("s") === 0L, col("v") * col("v"))
          .otherwise(lit(0L).cast(dec))).as("q1"),
        sum(when(col("s") === 1L, col("v") * col("v"))
          .otherwise(lit(0L).cast(dec))).as("q2"))
      .selectExpr("n1", "n2", "s1", "s2",
        """CAST(n1 * q1 - s1 * s1 AS DOUBLE) /
          |  (CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)) AS v1""".stripMargin,
        """CAST(n2 * q2 - s2 * s2 AS DOUBLE) /
          |  (CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)) AS v2""".stripMargin)
      .selectExpr("n1", "n2", "s1", "s2", "v1", "v2",
        "v1 / CAST(n1 AS DOUBLE) AS e1", "v2 / CAST(n2 AS DOUBLE) AS e2")
      .selectExpr(
        "CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
        "CAST(s1 * 1000000 div n1 AS BIGINT) AS mean1_e6",
        "CAST(s2 * 1000000 div n2 AS BIGINT) AS mean2_e6",
        """CASE WHEN n1 < 2 OR n2 < 2 OR e1 + e2 = 0 THEN NULL
          |     ELSE round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          |               - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
          |          / sqrt(e1 + e2), 6)
          |END AS t""".stripMargin,
        """CASE WHEN n1 < 2 OR n2 < 2 OR e1 + e2 = 0 THEN NULL
          |     ELSE round((e1 + e2) * (e1 + e2)
          |          / (e1 * e1 / CAST(n1 - 1 AS DOUBLE)
          |           + e2 * e2 / CAST(n2 - 1 AS DOUBLE)), 6)
          |END AS df_w""".stripMargin)
  }

  /** B-cubed precision/recall/F1 of a clustering against ground truth:
    * per element v, precision = |C(v) ∩ T(v)| / |C(v)| and recall =
    * |C(v) ∩ T(v)| / |T(v)| (C its predicted cluster, T its true
    * class), averaged over all elements — the standard entity-
    * resolution / dedup-cluster quality metric (pairwise-counting F
    * over-rewards big clusters; B³ does not). ALL integer: per-element
    * ratios are e6 truncating divisions, constant within each
    * (cluster, truth) cell, so the element sum is Σ_cells s_ct · ratio;
    * the final averages and the F1 harmonic mean each truncate once,
    * identically in both engines. `assign` carries (id, cluster,
    * truth). Output one row: (n, precision_e6, recall_e6, f1_e6).
    *
    * Scale: three keyed count aggregates (cell / cluster / truth) and
    * two broadcast-size joins on the CELL axis — never per-element
    * joins against cluster members. */
  def bcubed(assign: DataFrame): DataFrame = {
    val cells = assign.groupBy(col("cluster"), col("truth"))
      .agg(count(lit(1)).as("sct"))
      .localCheckpoint(false) // cell axis: |clusters|·|classes| bounded
    val csz = cells.groupBy(col("cluster")).agg(sum(col("sct")).as("sc"))
    val tsz = cells.groupBy(col("truth")).agg(sum(col("sct")).as("st"))
    cells.join(csz, "cluster").join(tsz, "truth")
      .agg(sum(col("sct")).as("n"),
        sum(col("sct") * expr("sct * 1000000 div sc")).as("psum"),
        sum(col("sct") * expr("sct * 1000000 div st")).as("rsum"))
      .selectExpr("CAST(n AS BIGINT) AS n",
        "CAST(psum div n AS BIGINT) AS precision_e6",
        "CAST(rsum div n AS BIGINT) AS recall_e6")
      .selectExpr("n", "precision_e6", "recall_e6",
        """CASE WHEN precision_e6 + recall_e6 = 0 THEN 0
          |     ELSE CAST(2 * precision_e6 * recall_e6
          |          div (precision_e6 + recall_e6) AS BIGINT)
          |END AS f1_e6""".stripMargin)
  }

  /** Two-group log-rank test over (duration `t`, event `ev`∈{0,1},
    * group `g`∈{0,1}) subjects — the hypothesis-test companion of
    * [[kaplanMeier]]: at each event time, group 1's observed deaths are
    * compared with the hypergeometric expectation d·n₁/n, and the
    * variance d·(n₁/n)·(1−n₁/n)·(n−d)/(n−1) accumulates. ALL integer:
    * expectation and variance terms are e6 truncating divisions with
    * the multiplications ORDERED so every intermediate stays under
    * 2⁶³ for n up to ~10⁶ subjects, and the final χ² squares
    * |O₁·10⁶−E₁| AFTER an e3 downscale (abs first — `div` truncation
    * direction differs between engines on negatives). Output one row:
    * (o1, e1_e6, v_e6, chi2_e3).
    *
    * Scale: the [[kaplanMeier]] contract — one duration-keyed count
    * aggregate off the raw scan, then the risk-set walk on the tiny
    * distinct-time axis (single-partition window over |distinct t|
    * rows only). */
  def logRank(df: DataFrame): DataFrame = {
    val ord = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grp = df.groupBy(col("t"))
      .agg(sum(col("ev")).as("d"),
        sum(col("ev") * col("g")).as("d1"),
        count(lit(1)).as("leave"),
        sum(col("g")).as("leave1"))
      .localCheckpoint(false) // distinct-time axis: tiny; ONE raw scan
    val tot = grp.agg(sum(col("leave")).as("n_all"),
      sum(col("leave1")).as("n1_all"))
    grp.crossJoin(broadcast(tot))
      .withColumn("n",
        col("n_all") - (sum(col("leave")).over(ord) - col("leave")))
      .withColumn("n1",
        col("n1_all") - (sum(col("leave1")).over(ord) - col("leave1")))
      .filter(col("d") > 0L)
      .withColumn("e1_e6", expr("(d * n1 * 1000000) div n"))
      .withColumn("v_e6", expr(
        "((((d * n1 * 1000000) div n) * (n - n1)) div n) * (n - d) div greatest(n - 1, 1)"))
      .agg(sum(col("d1")).as("o1"), sum(col("e1_e6")).as("e1_e6"),
        sum(col("v_e6")).as("v_e6"))
      .selectExpr("o1", "e1_e6", "v_e6",
        """CAST(((abs(o1 * 1000000 - e1_e6) div 1000)
          |  * (abs(o1 * 1000000 - e1_e6) div 1000) * 1000)
          |  div greatest(v_e6, 1) AS BIGINT) AS chi2_e3""".stripMargin)
  }

  /** Cohen's kappa between two categorical labelings: chance-corrected
    * agreement κ = (p_o − p_e)/(1 − p_e) with p_e the margin-product
    * expectation. ALL integer e6: the per-class expectation term
    * divides (n_a·n_b) by n BEFORE the e6 scaling (keeps every
    * intermediate under 2⁶³ at 10⁶⁺ rows), and the final ratio factors
    * the SIGN out first — κ is legitimately negative on worse-than-
    * chance raters, and Spark `div` (toward zero) disagrees with DuckDB
    * `//` (floor) on negatives. Output one row: (n, po_e6, pe_e6,
    * kappa_e6).
    *
    * Scale: the [[chiSquare]] contract — one |A|×|B| cell aggregate off
    * the raw scan; margins join on the CLASS axis. */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.select(col(aCol).as("a"), col(bCol).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // |A|x|B| cells: tiny; ONE raw scan
    val ra = cells.groupBy(col("a")).agg(sum(col("c")).as("na"))
    val rb = cells.groupBy(col("b")).agg(sum(col("c")).as("nb"))
    val tot = cells.agg(sum(col("c")).as("n"))
    val agree = cells
      .agg(coalesce(sum(when(col("a") === col("b"), col("c"))), lit(0L))
        .as("agree"))
    val pe = ra.join(rb, col("a") === col("b")).crossJoin(broadcast(tot))
      .agg(coalesce(sum(expr("((na * nb) div n * 1000000) div n")), lit(0L))
        .as("pe_e6"))
    agree.crossJoin(broadcast(tot)).crossJoin(broadcast(pe))
      .selectExpr("n",
        "CAST(agree * 1000000 div n AS BIGINT) AS po_e6",
        "CAST(pe_e6 AS BIGINT) AS pe_e6")
      .selectExpr("n", "po_e6", "pe_e6",
        """CAST(CASE WHEN po_e6 >= pe_e6
          |  THEN (po_e6 - pe_e6) * 1000000 div greatest(1000000 - pe_e6, 1)
          |  ELSE -((pe_e6 - po_e6) * 1000000 div greatest(1000000 - pe_e6, 1))
          |END AS BIGINT) AS kappa_e6""".stripMargin)
  }

  /** Theil's uncertainty coefficient U(x|y) = I(X;Y)/H(X) between two
    * categorical columns, in e6 units — the DIRECTIONAL companion of
    * [[mutualInfo]] (Cramér's V is symmetric; U answers "how much of
    * X's entropy does knowing Y remove"). Fully integer via the shared
    * fixed-point log₂; the MI numerator is clamped at 0 before the
    * final division because truncated logs can leave a tiny negative
    * residue on independent columns (and `div` truncation direction
    * differs between engines on negatives). Output one row:
    * (n, hx_e6, mi_e6, u_e6).
    *
    * Scale: the [[mutualInfo]] contract — one (x, y) cell aggregate off
    * the raw scan; margins broadcast. */
  def theilsU(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.select(col(xCol).as("x"), col(yCol).as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
      .localCheckpoint(false) // |X|x|Y| cells: tiny; ONE raw scan
    val rm = cells.groupBy(col("x")).agg(sum(col("cxy")).as("cx"))
    val cm = cells.groupBy(col("y")).agg(sum(col("cxy")).as("cy"))
    val tot = cells.agg(sum(col("cxy")).as("n"))
    val mi = cells.join(broadcast(rm), "x").join(broadcast(cm), "y")
      .crossJoin(broadcast(tot))
      .withColumn("contrib", col("cxy") *
        (Bm25.log2E6(col("cxy") * col("n")) -
          Bm25.log2E6(col("cx") * col("cy"))))
      .groupBy(col("n")).agg(sum(col("contrib")).as("mi_num"))
      .selectExpr("n", "CAST(mi_num div n AS BIGINT) AS mi_e6")
    val hx = rm.crossJoin(broadcast(tot))
      .withColumn("hc", col("cx") *
        (Bm25.log2E6(col("n")) - Bm25.log2E6(col("cx"))))
      .groupBy(col("n")).agg(sum(col("hc")).as("hx_num"))
      .selectExpr("n", "CAST(hx_num div n AS BIGINT) AS hx_e6")
    mi.join(hx, "n")
      .selectExpr("n", "hx_e6", "mi_e6",
        "CAST(greatest(mi_e6, 0) * 1000000 div greatest(hx_e6, 1) AS BIGINT) AS u_e6")
  }

  /** Per-key Kendall τ-b between `xCol` and `yCol` over units ordered by
    * `unitCol` (concordant/discordant pair counting with the tie-adjusted
    * denominator). Complements [[spearmanByKey]]: τ is the probability-
    * scale rank statistic (P[concordant] − P[discordant]) and is the one
    * robust to monotone-but-nonlinear drift in either metric. All pair
    * counts are exact longs; the closing ratio-over-sqrt is the
    * [[corrMatrix]] deterministic-double sequence. Zero-after-ties
    * denominators yield NULL. Output: (k, n_pairs, concordant,
    * discordant, tau_b).
    *
    * PRECONDITION: exactly one row per (key, unit). Pairs are formed via
    * `u < ub`, so duplicate unit values within a key are silently
    * excluded from ALL pair counts (they are neither concordant,
    * discordant, nor ties — n_pairs undercounts and tau-b shifts).
    * Aggregate to the (key, unit) grain first, as q_kendall_tau does
    * with (nation, month).
    *
    * Scale: the self-join is keyed on `k` (one shuffle) and the pair
    * count is O(groups · units²) where the unit axis (e.g. calendar
    * months) is BOUNDED by the time range, not the data volume — at
    * 100 TB the pair count is unchanged. Never call with an unbounded
    * per-key unit axis. */
  def kendallTauByKey(df: DataFrame, keyCol: String, unitCol: String,
                      xCol: String, yCol: String): DataFrame = {
    val t = df.select(col(keyCol).as("k"), col(unitCol).as("u"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val b = t.select(col("k").as("kb"), col("u").as("ub"),
      col("x").as("xb"), col("y").as("yb"))
    t.join(b, col("k") === col("kb") && col("u") < col("ub"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n0"),
        sum(when((col("x") < col("xb") && col("y") < col("yb")) ||
                 (col("x") > col("xb") && col("y") > col("yb")), 1L)
          .otherwise(0L)).as("conc"),
        sum(when((col("x") < col("xb") && col("y") > col("yb")) ||
                 (col("x") > col("xb") && col("y") < col("yb")), 1L)
          .otherwise(0L)).as("disc"),
        sum(when(col("x") === col("xb"), 1L).otherwise(0L)).as("tx"),
        sum(when(col("y") === col("yb"), 1L).otherwise(0L)).as("ty"))
      .selectExpr("k", "n0 AS n_pairs", "conc AS concordant",
        "disc AS discordant",
        """CASE WHEN n0 - tx = 0 OR n0 - ty = 0 THEN NULL
          |     ELSE round(CAST(conc - disc AS DOUBLE) /
          |          sqrt(CAST(n0 - tx AS DOUBLE) *
          |               CAST(n0 - ty AS DOUBLE)), 6)
          |END AS tau_b""".stripMargin)
  }

  /** First-order partial correlation r(x,y · z) — the linear x~y
    * association with the z channel regressed out:
    * (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)). The three pairwise
    * Pearson r's come from one exact DECIMAL(38,0) moment aggregate
    * (the [[corrMatrix]] contract), each closed by the same
    * deterministic double ratio-over-sqrt; only the final outputs are
    * rounded, so both engines traverse an identical IEEE sequence.
    * Degenerate channels (zero variance, |r|=1 controls) yield NULL.
    * Output one row: (n, r_xy, r_xz, r_yz, r_partial).
    *
    * Scale: a single global moment aggregate — map-side partials, one
    * row out; no second pass, no window. */
  def partialCorr(df: DataFrame, xCol: String, yCol: String,
                  zCol: String): DataFrame = {
    val t = df.select(col(xCol).cast(dec).as("x"),
      col(yCol).cast(dec).as("y"), col(zCol).cast(dec).as("z"))
    def r(a: String, b: String) =
      s"""CASE WHEN n * q_$a - s_$a * s_$a = 0 OR n * q_$b - s_$b * s_$b = 0
         |     THEN NULL
         |     ELSE CAST(n * x_${a}_$b - s_$a * s_$b AS DOUBLE) /
         |          sqrt(CAST(n * q_$a - s_$a * s_$a AS DOUBLE) *
         |               CAST(n * q_$b - s_$b * s_$b AS DOUBLE))
         |END""".stripMargin
    t.agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x")).as("s_x"), sum(col("y")).as("s_y"),
        sum(col("z")).as("s_z"),
        sum(col("x") * col("x")).as("q_x"),
        sum(col("y") * col("y")).as("q_y"),
        sum(col("z") * col("z")).as("q_z"),
        sum(col("x") * col("y")).as("x_x_y"),
        sum(col("x") * col("z")).as("x_x_z"),
        sum(col("y") * col("z")).as("x_y_z"))
      .selectExpr("CAST(n AS BIGINT) AS n",
        s"${r("x", "y")} AS rxy", s"${r("x", "z")} AS rxz",
        s"${r("y", "z")} AS ryz")
      .selectExpr("n", "round(rxy, 6) AS r_xy", "round(rxz, 6) AS r_xz",
        "round(ryz, 6) AS r_yz",
        """CASE WHEN rxy IS NULL OR rxz IS NULL OR ryz IS NULL
          |       OR (1 - rxz * rxz) * (1 - ryz * ryz) <= 0 THEN NULL
          |     ELSE round((rxy - rxz * ryz) /
          |          sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
          |END AS r_partial""".stripMargin)
  }
}
