package graft

import scala.util.{Failure, Success, Try}

/** The single-partition-window invariant, pinned as a gate (VERDICT r8
  * item 5): an unpartitioned `Window.orderBy` moves ALL rows to one
  * partition, which is safe ONLY when the window's input is a
  * pre-aggregated axis (daily counts, a brand rollup, a distinct value
  * spine — thousands of rows at any SF, bounded by the axis, not the
  * data volume). A refactor that hoists such a window ABOVE its
  * aggregate turns a bounded sort into an all-data single-partition
  * sort — correct results, catastrophic at 100 TB. This sweep reads the
  * optimized logical plan of EVERY registry query (the shared
  * [[RegistryWalk]] build) and fails if any unpartitioned Window's input
  * subtree lacks an Aggregate or Limit.
  *
  * `localCheckpoint` truncates the visible plan, so a window over a
  * checkpointed frame is judged against the post-checkpoint subtree;
  * checkpoints in this repo always materialize pre-reduced axes, so
  * absence of an upstream Aggregate there is still a red flag — such
  * sites go through the allowlist with a written rationale instead.
  */
class SinglePartitionWindowSpec extends SparkSpec {

  /** Sites where the unpartitioned window legitimately runs on an input
    * with no upstream Aggregate in the VISIBLE plan. Every entry needs a
    * bounded-axis rationale; additions to this list are design reviews,
    * not routine. */
  private val allowlisted: Map[String, String] = Map(
    "q_ks_test" -> ("window input is the localCheckpoint-materialized " +
      "distinct-value cell axis (ops/Stats.scala ks2) — post-aggregate, " +
      "truncated from the visible plan"),
    "q_mann_whitney" -> ("checkpointed distinct-value cell axis " +
      "(ops/Stats.scala mannWhitneyU) — post-aggregate behind the checkpoint"),
    "q_isotonic" -> ("checkpointed bucket axis (ops/Stats.scala " +
      "isotonicFit) — post-aggregate behind the checkpoint"),
    "q_decision_stump" -> ("checkpointed distinct-feature axis " +
      "(ops/Stats.scala decisionStump) — post-aggregate behind the checkpoint"),
    "q_seasonal_anomaly" -> ("checkpointed hourly-residual axis " +
      "(calendar-bounded) — post-aggregate behind the checkpoint"),
    "q_siegel_slope" -> ("checkpointed calendar-day axis; pairwise slopes " +
      "are day×day, bounded by the time range, not data volume"),
    "q_qq_map" -> ("checkpointed distinct-length cell axis (shared by " +
      "both quantile ladders) — post-aggregate behind the checkpoint"),
    "q_rank_fusion" -> ("window input is the literal doc_id < 200 slice " +
      "— 200 rows by construction at any scale"),
    "q_getis_ord" -> ("RANGE neighborhood window runs directly on the " +
      "localCheckpoint-materialized latitude-band axis (34 bands at any " +
      "SF — bounded by the grid, not data volume); the groupBy that " +
      "built it is truncated from the visible plan"),
    "q_kz_filter" -> ("second KZ pass re-windows the checkpointed " +
      "first-pass output — the calendar-day axis (bounded) with the " +
      "first pass's Aggregate truncated from the visible plan"),
    "q_abc_migration" -> ("both year legs rank the checkpointed " +
      "(part, year) revenue rollup — post-aggregate behind the " +
      "checkpoint; the same part axis q_abc_pareto sorts with its " +
      "Aggregate visible"),
    "q_sen_slope" -> ("median-rank window input is the self-join of the " +
      "checkpointed calendar-month axis — ≤ n_months² pairs, bounded by " +
      "the date range, not data volume; the month Aggregate is " +
      "truncated from the visible plan by the checkpoint"))

  test("unpartitioned windows only ever run on post-aggregate axes") {
    val bad = RegistryWalk.names.filterNot(allowlisted.contains).flatMap { name =>
      Try(RegistryWalk.facts(sf(), name).nakedWindows) match {
        case Success(0) => None
        case Success(n) => Some(s"$name ($n unpartitioned window(s) on non-aggregated input)")
        case Failure(e) => Some(s"$name (plan build failed: ${e.getMessage})")
      }
    }
    assert(bad.isEmpty,
      "unpartitioned Window.orderBy over a non-aggregated input — a " +
        "single-partition sort over raw data at scale:\n  " +
        bad.mkString("\n  "))
  }

  test("every allowlisted query is registered and still needs its waiver") {
    val stale = allowlisted.keys.toSeq.sorted.flatMap { name =>
      if (!RegistryWalk.names.contains(name)) Some(s"$name (not in the registry)")
      else if (RegistryWalk.facts(sf(), name).nakedWindows == 0)
        Some(s"$name (no unpartitioned window on non-aggregated input left)")
      else None
    }
    assert(stale.isEmpty,
      "stale window-allowlist entries — remove them:\n  " + stale.mkString("\n  "))
  }
}
