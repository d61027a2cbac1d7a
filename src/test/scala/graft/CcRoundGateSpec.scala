package graft

import graft.ops.StarComponents

/** Round-normalized plan gate for the star-contraction CC family
  * (VERDICT r8 item 3). q_cc_star / q_salsa / q_graph_robustness are
  * exempt from PlanShapeSpec's absolute exchange bounds because their
  * total exchange count tracks the DATA-DEPENDENT round count; this spec
  * closes that gap by asserting the per-round shape instead: the fused
  * star round plans exactly 2 exchanges (the neighborhood repartition +
  * the output distinct — see [[StarComponents.fusedStar]]), so
  * cumulative planned exchanges must stay ≤ 2·rounds. A regression
  * inside the loop body (an extra shuffle per round, a broken
  * partitioning reuse) fails here even though the absolute count is free
  * to vary with the graph.
  */
class CcRoundGateSpec extends SparkSpec {

  private def gate(q: String): Unit = test(s"$q: star-CC rounds plan ≤2 exchanges each") {
    spark.catalog.clearCache()
    val r0 = StarComponents.roundsCounter.get()
    val x0 = StarComponents.roundExchangesCounter.get()
    // CC loops execute EAGERLY at query-construction time (per-round
    // localCheckpoint + stats action), so building the frame is enough.
    SparkEntry.queries(q)(spark, sf())
    val rounds = StarComponents.roundsCounter.get() - r0
    val exchanges = StarComponents.roundExchangesCounter.get() - x0
    assert(rounds >= 1, s"$q ran no star-CC rounds — did it stop using StarComponents?")
    assert(rounds <= 12 * 3, // q_graph_robustness runs 3 CC calls
      s"$q needed $rounds rounds — convergence regression (O(log n) expected)")
    assert(exchanges <= 2 * rounds,
      s"$q planned $exchanges exchanges over $rounds rounds — the fused " +
        s"round gained a shuffle (expected ≤2/round)")
  }

  Seq("q_cc_star", "q_salsa", "q_graph_robustness", "q_incremental_cc", "q_incremental_cc_delete").foreach(gate)
}
