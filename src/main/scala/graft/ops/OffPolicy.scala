package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Off-policy evaluation over a uniformly-logged bandit log — the
  * counterfactual "what would the greedy policy have earned?" readout
  * that turns passive event logs into policy comparisons without an
  * online experiment. Three standard estimators side by side:
  *
  *   - IPS: (K/n)·Σ 1{a_i = π(x_i)}·r_i — unbiased under uniform
  *     logging (propensity 1/K), high variance;
  *   - DM (direct method): E_x[μ̂(x, π(x))] — low variance, model-biased;
  *   - DR (doubly robust): DM + IPS-weighted residual correction —
  *     unbiased if EITHER the propensity or μ̂ is right.
  *
  * All three ride exact integer arithmetic: rewards are nonnegative
  * longs, cell means are e6 truncating divisions, and every estimator
  * numerator is provably nonnegative (the DR residual sums a cell's
  * own truncation remainder), so `div` truncation agrees cross-engine.
  */
object OffPolicy {

  /** Evaluate the greedy-on-historical-means target policy against the
    * log. `log` carries (ctxCol, actionCol, rewardCol≥0 long). Output
    * one row: (n, k_actions, v_log_e6, v_ips_e6, v_dm_e6, v_dr_e6).
    *
    * Scale: one (ctx, action) cell aggregate off the raw scan; the
    * argmax window runs on the CELL axis (bounded by |ctx|·|actions|);
    * the log then joins the per-ctx best via BROADCAST — the raw scan
    * is never shuffled twice. */
  def evaluateGreedy(log: DataFrame, ctxCol: String, actionCol: String,
                     rewardCol: String): DataFrame = {
    val t = log.select(col(ctxCol).as("ctx"), col(actionCol).as("act"),
      col(rewardCol).cast("long").as("r"))
    val cells = t.groupBy(col("ctx"), col("act"))
      .agg(count(lit(1)).as("n_ca"), sum(col("r")).as("s_ca"))
      .withColumn("mu_e6", expr("s_ca * 1000000 div n_ca"))
    val best = cells
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("ctx"))
          .orderBy(col("mu_e6").desc, col("act"))))
      .where(col("rn") === 1)
      .select(col("ctx"), col("act").as("best_act"),
        col("mu_e6").as("mu_best_e6"))
    val k = t.agg(countDistinct(col("act")).as("k_actions"))
    t.join(broadcast(best), "ctx").crossJoin(broadcast(k))
      .agg(count(lit(1)).cast(dec).as("n"),
        first(col("k_actions")).cast(dec).as("k"),
        sum(col("r").cast(dec)).as("s_log"),
        sum(when(col("act") === col("best_act"), col("r")).otherwise(0L)
          .cast(dec)).as("s_match"),
        sum(col("mu_best_e6").cast(dec)).as("s_mu"),
        // Matched rows ARE the best cell's members, so this sums that
        // cell's e6 truncation remainder: always in [0, n_cell).
        sum(when(col("act") === col("best_act"),
            col("r") * 1000000L - col("mu_best_e6")).otherwise(0L)
          .cast(dec)).as("s_dr"))
      .selectExpr("CAST(n AS BIGINT) AS n", "CAST(k AS BIGINT) AS k_actions",
        "CAST(s_log * 1000000 div n AS BIGINT) AS v_log_e6",
        "CAST(k * s_match * 1000000 div n AS BIGINT) AS v_ips_e6",
        "CAST(s_mu div n AS BIGINT) AS v_dm_e6",
        "CAST((s_mu + k * s_dr) div n AS BIGINT) AS v_dr_e6")
  }
}
