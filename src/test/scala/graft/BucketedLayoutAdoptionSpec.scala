package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Bucketed-layout ADOPTION pass 2 (r9 VERDICT task 1): the r10
  * BucketAuditMain table names orders and lineitem as the top fact
  * tables and orderkey as their shared hot key; this spec pins the
  * end-to-end payoff AT sf0.1 (the largest local SF — 600k lineitem
  * rows), not just the toy default: both facts written bucketBy(8,
  * orderkey), then the fact⋈fact join plus an orderkey-keyed aggregate
  * plan ZERO shuffle exchanges under the sort-merge path a 100 TB run
  * takes (broadcast disabled for the probe — with it on, a small-side
  * broadcast would trivially hide the exchange this layout exists to
  * remove).
  *
  * Honest cost/benefit at this scale is recorded in BASELINE.md next to
  * the round-9 null result: the plan property is structural (this gate),
  * while the wall-clock win only appears when the saved shuffle is
  * network-bound — i.e. at cluster scale, not on local[4].
  */
class BucketedLayoutAdoptionSpec extends SparkSpec {

  test("sf0.1: bucketed orders + lineitem take the fact-fact join and keyed agg exchange-free") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q_bucketed_fact_join")(spark, sf("sf0.1"))
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty,
        s"bucketed fact-fact join planned ${shuffles.size} shuffle(s) at " +
          "sf0.1 — bucket metadata not picked up end-to-end")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sf0.1: bucketed fact-fact result is identical to the plain shuffled join") {
    val d = sf("sf0.1")
    val bucketed = SparkEntry.queries("q_bucketed_fact_join")(spark, d)
    val plain = Tables.lineitem(spark, d)
      .select(col("l_orderkey").as("o_orderkey"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
          .as("line_c"))
      .join(Tables.orders(spark, d)
        .select(col("o_orderkey"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("hdr_c")),
        "o_orderkey")
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("line_c")).as("lines_c"),
        max(col("hdr_c")).as("hdr_c"))
    assert(bucketed.except(plain).isEmpty && plain.except(bucketed).isEmpty,
      "bucketed and plain fact-fact join results differ at sf0.1")
    assert(bucketed.count() === plain.count())
  }
}
