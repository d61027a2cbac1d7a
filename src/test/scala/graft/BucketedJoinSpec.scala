package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Pins the property that makes `ops.Bucketed` worth having: a join of
  * two tables bucketed on the join key, plus an aggregate keyed on it,
  * plans ZERO shuffle exchanges — the one-time layout write amortizes
  * every later join's shuffle. Broadcast is disabled for the plan probe
  * so the assert holds for the sort-merge path a 100 TB fact⋈fact join
  * actually takes (with broadcast on, the plan is trivially
  * shuffle-free for a small dim — that proves nothing). Sorts are NOT
  * asserted away: Spark only elides SMJ sorts for one-file-per-bucket
  * layouts, which a parallel write does not guarantee; the exchange
  * elision is the property that moves terabytes.
  */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed join + keyed agg plans zero shuffle exchanges under SMJ") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q_bucketed_join")(spark, sf())
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty,
        s"bucketed join planned ${shuffles.size} shuffle(s) — bucket " +
          "metadata not picked up (bucket counts differ? bucketing disabled?)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed join result is identical to the plain shuffled join") {
    val bucketed = SparkEntry.queries("q_bucketed_join")(spark, sf())
    val plain = Tables.orders(spark, sf())
      .select(col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      .join(Tables.customer(spark, sf())
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment")),
        "o_custkey")
      .groupBy(col("o_custkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_c"))
    assert(bucketed.except(plain).isEmpty && plain.except(bucketed).isEmpty,
      "bucketed and plain join results differ")
    assert(bucketed.count() == plain.count())
  }
}
