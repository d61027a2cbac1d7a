package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-score outlier detection with EXACT integer algebra — no mean, no
  * sqrt, no doubles, so the outlier decision reproduces bit-for-bit in
  * any engine and under any summation order. The textbook test
  * |x − μ| > z·σ squares into
  *   (n·x − S)² > z²·(n·Q − S²)
  * with S = Σx, Q = Σx² over cent-scaled integers: both sides are exact
  * wide integers (decimal(38,0) here, HUGEINT in the oracle), so the
  * boundary case that flips a rounded-double comparison cannot exist.
  *
  * Scale shape: one partial-aggregable stats pass per group (n, S, Q are
  * all map-side combinable), broadcast the tiny stats frame back, one
  * narrow filter — the same two-pass shape as any whitening step. Domain:
  * exact while n·Q < 10³⁸ (decimal38) — petabyte-scale cent data clears
  * it; the oracle's HUGEINT matches at 128 bits.
  */
object Anomaly {

  /** Per-group outlier profile of `df(grpCol, valueCol)`:
    * (grp, n, n_outliers) where an outlier has |x − μ| > z·σ
    * (population σ). */
  def zscoreProfile(df: DataFrame, grpCol: String, valueCol: String,
                    z: Int = 3): DataFrame = {
    val cents = df.select(col(grpCol),
      floor(col(valueCol) * 100 + 0.5).cast("long").as("x_c"))
    val stats = cents.groupBy(col(grpCol))
      .agg(count(lit(1)).as("n"), sum(col("x_c")).as("s"),
        sum(col("x_c") * col("x_c")).as("q"))
    val lhs = (col("n") * col("x_c") - col("s")).cast(dec)
    val rhs = (col("n").cast(dec) * col("q").cast(dec)
      - col("s").cast(dec) * col("s").cast(dec)) * lit(z * z)
    cents.join(broadcast(stats), grpCol)
      .withColumn("is_out", (lhs * lhs > rhs).cast("long"))
      .groupBy(col(grpCol))
      .agg(max(col("n")).as("n"), sum(col("is_out")).as("n_outliers"))
  }

  /** Positive-side CUSUM change-point scan per key, all in cents. The
    * textbook recursion
    *   s_k = max(0, s_{k-1} + d_k),  d_k = x_k − target − slack
    * looks inherently sequential, but clamping at zero has a closed
    * window form via prefix sums P_k = Σ_{i≤k} d_i (with P₀ = 0):
    *   s_k = P_k − min(0, min_{j≤k} P_j)
    * so the whole scan is one keyed shuffle and two same-partitioning
    * window passes — no fold, no UDF, fully codegen'd, and bit-exact in
    * any engine because every step is integer arithmetic.
    *
    * Returns per key: points scanned, alarms (s_k > threshold), and the
    * peak CUSUM value. */
  def cusumProfile(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, targetCents: Long, slackCents: Long,
                   thresholdCents: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol)).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(keyCol), col(tsCol).as("t"),
        (floor(col(valueCol) * 100 + 0.5) - lit(targetCents + slackCents))
          .as("d"))
      .withColumn("p", sum(col("d")).over(w))
      .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(w)))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_points"),
        sum((col("s") > thresholdCents).cast("long")).as("n_alarms"),
        max(col("s")).as("max_cusum_cents"))
  }

  /** Robust outlier profile via MEDIAN / MAD instead of mean / stddev:
    * a single wild value drags a z-score profile's own baseline toward
    * itself (masking), while the median and the median absolute
    * deviation have a 50% breakdown point. Flags |v − med| > k·MAD.
    *
    * Composes [[Quantiles.groupedPercentile]] twice — once for the
    * per-group median, once for the median of absolute deviations — so
    * every stage stays group-keyed and integer-exact (the k·MAD compare
    * is a cross-multiplied integer test; no FP, no percentile
    * buffering). Returns per group: median, MAD, point count, and the
    * outlier count at threshold `k` (integer multiplier).
    */
  /** Single changepoint per key: the split of the time-ordered series
    * maximizing the between-segment mean shift — the scan-statistic
    * core of CUSUM-style offline change detection. For split i
    * (1 ≤ i < n), score = |mean(1..i) − mean(i+1..n)| as the e6
    * truncating integer |S₁·n₂ − S₂·n₁|·1e6 div (n₁·n₂·1)… i.e. the
    * cross-multiplied difference over the product of sizes — exact
    * integer, no FP. Ties break to the EARLIEST split. Returns per key:
    * (split_t — last point of the left segment, score_e6, n).
    *
    * One ordered window pass builds prefix sums; the argmax is
    * max(struct(score, −rn)) — lexicographic struct max, total order,
    * deterministic — so the whole thing is ONE keyed exchange.
    * Long-range: S·n·1e6 must fit a long — cents totals to ~1e8 with
    * ~1e4-point keys are safe; re-scale cents first beyond that.
    */
  def changepoint(df: DataFrame, keyCol: String, tsCol: String,
                  tieCol: String, centsCol: String): DataFrame =
    cpBest(df.select(col(keyCol).as("key"), col(tsCol).as("t"),
        col(tieCol).as("tie"), col(centsCol).as("c")), Seq("key"))
      .select(col("key"), col("split_t"), col("score_e6"), col("n"))

  /** Best single split over (t, tie, c) rows, per composite key: the
    * shared core of [[changepoint]] and [[binarySegmentation]]. Emits
    * (keyCols..., split_t, split_tie, score_e6, n); keys with fewer
    * than 2 rows emit nothing (no split exists). */
  private def cpBest(base: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ks = keyCols.map(col)
    val ord = Window.partitionBy(ks: _*).orderBy(col("t"), col("tie"))
    val all = Window.partitionBy(ks: _*)
    base
      .withColumn("rn", row_number().over(ord))
      .withColumn("s1", sum(col("c")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("s", sum(col("c")).over(all))
      .filter(col("rn") < col("n")) // split after rn: needs a right segment
      // The cross term s1·(n−rn)·1e6 can exceed Long for large |sums|·n
      // (where it would wrap silently while the DuckDB oracle promotes to
      // int128) — so compute it in DECIMAL(38,0), which is exact to 1e38
      // and matches HUGEINT semantics over any realistic envelope; the
      // final e6-scaled mean difference always fits a BIGINT.
      .withColumn("score_e6",
        expr("""CAST(abs(CAST(s1 AS DECIMAL(38,0)) * (n - rn)
               |         - CAST(s - s1 AS DECIMAL(38,0)) * rn) * 1000000
               |     div (rn * (n - rn)) AS BIGINT)""".stripMargin))
      .groupBy(ks: _*)
      .agg(max(struct(col("score_e6"), (-col("rn")).as("neg_rn"),
        col("t").as("split_t"), col("tie").as("split_tie"),
        col("n").as("nn"))).as("best"))
      .select(ks :+ col("best.split_t").as("split_t") :+
        col("best.split_tie").as("split_tie") :+
        col("best.score_e6").as("score_e6") :+ col("best.nn").as("n"): _*)
  }

  /** TWO-level binary segmentation: find each key's best split, cut the
    * series there, and re-run the scan on both halves — up to three
    * changepoints per key from two fully-distributed passes (no driver
    * loop; the recursion depth is fixed, which is also what lets the
    * oracle replay it as plain SQL). Output rows: (key, level, side,
    * split_t, score_e6, n) — level 1 has side −1; level-2 rows carry
    * the half they split (0 = left of the level-1 cut, 1 = right).
    * Halves with fewer than 2 points produce no level-2 row.
    *
    * The cut boundary is the full (t, tie) pair — a timestamp tie at
    * the split point cannot leak rows across halves.
    */
  def binarySegmentation(df: DataFrame, keyCol: String, tsCol: String,
                         tieCol: String, centsCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("key"), col(tsCol).as("t"),
      col(tieCol).as("tie"), col(centsCol).as("c"))
    val l1 = cpBest(base, Seq("key")).localCheckpoint(false)
    val tagged = base
      .join(l1.select(col("key"), col("split_t").as("s_t"),
        col("split_tie").as("s_tie")), "key")
      .withColumn("side",
        when(col("t") < col("s_t") ||
          (col("t") === col("s_t") && col("tie") <= col("s_tie")), 0L)
          .otherwise(1L))
      .select(col("key"), col("side"), col("t"), col("tie"), col("c"))
    val l2 = cpBest(tagged, Seq("key", "side"))
    l1.select(col("key"), lit(1L).as("level"), lit(-1L).as("side"),
        col("split_t"), col("score_e6"), col("n"))
      .unionByName(l2.select(col("key"), lit(2L).as("level"), col("side"),
        col("split_t"), col("score_e6"), col("n")))
  }

  def madProfile(df: DataFrame, grpCol: String, valueCol: String,
                 k: Long = 3L): DataFrame = {
    require(k >= 1L, "k must be >= 1")
    val v = df.select(col(grpCol).as("g"), col(valueCol).cast("long").as("v"))
    val med = Quantiles.groupedPercentile(v, "g", "v", 500000L)
      .select(col("g"), col("value").as("med"))
    val dev = v.join(med, "g").withColumn("adev", abs(col("v") - col("med")))
    val mad = Quantiles.groupedPercentile(dev, "g", "adev", 500000L)
      .select(col("g"), col("value").as("mad"))
    dev.join(mad, "g")
      .groupBy(col("g"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n_points"),
        sum((col("adev") > lit(k) * col("mad")).cast("long")).as("n_outliers"))
      .select(col("g"), col("med"), col("mad"), col("n_points"),
        col("n_outliers"))
  }
}
