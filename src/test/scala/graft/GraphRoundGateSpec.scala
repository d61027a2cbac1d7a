package graft

import graft.ops.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, EnsureRequirements, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-round plan gate for the shared iterative graph kernels. Every
  * round of [[Graph.propagate]] and [[Graph.frontierBfs]] ends in a
  * `localCheckpoint`, so the final plan of a query built on them opens at
  * a LogicalRDD leaf and PlanShapeSpec never sees a loop body. This spec
  * runs single rounds on a tiny graph, captures the plan of every query
  * they execute, and bounds the planned exchanges (distinct shuffles, as
  * in [[CcRoundGateSpec]], plus broadcasts) by the counts the hand-written
  * loops planned before they became kernels. An extra shuffle per round
  * multiplies across every iteration of 20-odd registry queries, and
  * fails here. */
class GraphRoundGateSpec extends SparkSpec {
  import spark.implicits._

  /** (action, planned distinct shuffles, planned broadcasts) of each of
    * the `n` queries `body` executes, in order. Listener events arrive
    * asynchronously, so a marker query is run and awaited first: events
    * of earlier queries queued before it are dropped. */
  private def plannedExchanges(n: Int)(body: => Unit): Seq[(String, Int, Int)] = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add((f, qe))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def next(): (String, QueryExecution) =
      Option(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail("a query event did not arrive within 60 s"))
    val marker = spark.range(1).toDF()
    spark.listenerManager.register(listener)
    try {
      marker.collect()
      while (!(next()._2 eq marker.queryExecution)) ()
      body
      val events = Seq.fill(n)(next())
      Thread.sleep(500)
      assert(seen.isEmpty, s"one round ran more than $n queries")
      events.map { case (f, qe) =>
        val plan = EnsureRequirements()(qe.sparkPlan)
        (f, plan.collect { case s: ShuffleExchangeLike => s.canonicalized }.distinct.size,
          plan.collect { case b: BroadcastExchangeLike => b }.size)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  /** [[plannedExchanges]] at the session's settings, then again with
    * broadcast joins off — the shuffle shape a graph too large to
    * broadcast gets. */
  private def bothShapes(n: Int)(body: => Unit): Seq[Seq[(String, Int, Int)]] = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    val small = plannedExchanges(n)(body)
    spark.conf.set(key, "-1")
    try Seq(small, plannedExchanges(n)(body))
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Every query of the round plans no more shuffles and no more
    * broadcasts than the same query of the hand-written loop did. */
  private def assertAtMost(got: Seq[Seq[(String, Int, Int)]],
                           loop: Seq[Seq[(String, Int, Int)]]): Unit = {
    assert(got.map(_.map(_._1)) === loop.map(_.map(_._1)), "queries run")
    got.flatten.zip(loop.flatten).foreach { case ((f, s, b), (_, ps, pb)) =>
      assert(s <= ps && b <= pb,
        s"$f plans $s shuffles + $b broadcasts, the loop planned $ps + $pb")
    }
  }

  // Planned (action, distinct shuffles, broadcasts) of the same rounds
  // written as hand loops, on these inputs: [session settings,
  // broadcast joins off].
  private val cp = "localCheckpoint"
  private val loopPropById = Seq(Seq((cp, 1, 2)), Seq((cp, 4, 0)))
  private val loopPropBySeed = loopPropById
  private val loopBfsById = Seq(
    Seq((cp, 0, 0), (cp, 1, 2), ("count", 1, 0), (cp, 0, 0)),
    Seq((cp, 0, 0), (cp, 3, 0), ("count", 1, 0), (cp, 0, 0)))
  private val loopBfsBySeed = Seq(
    Seq((cp, 0, 0), (cp, 1, 2), ("count", 1, 0), (cp, 0, 0)),
    Seq((cp, 0, 0), (cp, 4, 0), ("count", 1, 0), (cp, 0, 0)))

  private val ring = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
  private def nodeIds: DataFrame = (0L to 3L).toDF("id")
  private def outDegreeEdges: DataFrame = {
    val e = ring.toDF("src", "dst").localCheckpoint(true)
    e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
      .localCheckpoint(true)
  }

  // One steady-state round (checkpointed state) of the uniform-split
  // PageRank family; counts measured on the loops they replaced.
  private def propagationRound(base: DataFrame, keys: Seq[String]) = {
    val ed = outDegreeEdges
    val b = base.localCheckpoint(true)
    val state = b.select(keys.map(col) :+ lit(1000000L).as("pr_e6"): _*)
      .localCheckpoint(true)
    bothShapes(1) {
      Graph.propagate(ed, b, keys, expr("pr_e6 div outdeg"),
        expr("base + (85 * coalesce(in_mass, 0L)) div 100"), "pr_e6")(state)
    }
  }

  test("propagation round keyed by id plans no more exchanges than its loop did") {
    assertAtMost(propagationRound(nodeIds.withColumn("base", lit(150000L)),
      Seq("id")), loopPropById)
  }

  test("propagation round keyed by (id, seed) plans no more exchanges than its loop did") {
    assertAtMost(propagationRound(nodeIds.crossJoin(Seq(0L, 2L).toDF("seed"))
      .withColumn("base", when(col("id") === col("seed"), 150000L).otherwise(0L)),
      Seq("id", "seed")), loopPropBySeed)
  }

  // One depth: seed checkpoint, expansion checkpoint, the count gate and
  // the visited-union checkpoint.
  private def frontierRound(seeds: DataFrame, keys: Seq[String]) = {
    val e = ring.toDF("src", "dst").localCheckpoint(true)
    val s = seeds.localCheckpoint(true)
    bothShapes(4)(Graph.frontierBfs(s, e, keys, 1))
  }

  test("frontier round keyed by id plans no more exchanges than its loop did") {
    assertAtMost(frontierRound(Seq(0L).toDF("id"), Seq("id")), loopBfsById)
  }

  test("frontier round keyed by (seed, id) plans no more exchanges than its loop did") {
    assertAtMost(frontierRound(Seq((0L, 0L), (2L, 2L)).toDF("seed", "id"),
      Seq("seed", "id")), loopBfsBySeed)
  }
}
