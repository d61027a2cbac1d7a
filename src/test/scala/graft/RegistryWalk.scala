package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.types.StructType

import scala.util.Try

/** One pass over the query registry that feeds the four whole-registry
  * gates: PortabilitySpec (result schema), SinglePartitionWindowSpec
  * (optimized logical plan), PlanShapeSpec (physical plan) and
  * DeterminismSpec (two collected runs).
  *
  * Each query is built exactly twice per JVM, whichever gate asks first:
  * the first build is read for its schema and plans and then collected,
  * a second fresh build is collected for the run-to-run comparison. Only
  * the derived facts are kept, so the memo stays small for the whole
  * registry. */
object RegistryWalk {

  /** The registry, taken once for every gate in this JVM. */
  private val queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
  val names: Seq[String] = queries.keys.toSeq.sorted

  /** @param nakedWindows unpartitioned windows whose input subtree holds
    *   no Aggregate or Limit in the optimized plan
    * @param exchanges hash/range shuffle exchanges in the AQE initial plan
    * @param broadcasts broadcast exchanges in the AQE initial plan
    * @param rerunsMatch whether two builds collect the same multiset of
    *   rows (a failed collect fails only the determinism gate) */
  final case class Facts(schema: StructType, nakedWindows: Int,
                         exchanges: Int, broadcasts: Int,
                         rerunsMatch: Try[Boolean])

  private val walked = scala.collection.mutable.Map.empty[(String, String), Try[Facts]]

  /** Facts of one registry query over the tables in `dir`; a failed build
    * fails every gate that reads it, without being retried. */
  def facts(dir: String, name: String): Facts = synchronized {
    walked.getOrElseUpdate((dir, name), Try(walk(dir, name))).get
  }

  private def walk(dir: String, name: String): Facts = {
    val spark = SparkSpec.session
    // Hermetic plan: a frame cached by an earlier spec in the same JVM
    // swaps scans for InMemoryRelation and perturbs the exchange count
    // (the r8 q_minhash_curve flake: 16 exchanges full-suite, 8 alone).
    spark.catalog.clearCache()
    val df = queries(name)(spark, dir)
    val qe = df.queryExecution
    val naked = nakedWindows(qe.optimizedPlan)
    // Read before any action runs, so the AQE initial plan is counted.
    val physical = qe.executedPlan.toString
    Facts(df.schema, naked,
      "Exchange (hash|range)partitioning".r.findAllIn(physical).size,
      "BroadcastExchange".r.findAllIn(physical).size,
      Try(snapshot(df) == snapshot(queries(name)(spark, dir))))
  }

  /** An Aggregate bounds a window's axis (grouped rollup, or a distinct
    * spine, since `distinct()` optimizes to Aggregate) and a Limit bounds
    * it literally (top-k): either makes an unpartitioned window safe at
    * any scale. */
  private def nakedWindows(plan: LogicalPlan): Int = plan.collect {
    case w: LWindow if w.partitionSpec.isEmpty &&
      w.child.collectFirst {
        case _: Aggregate => (); case _: GlobalLimit => ()
        case _: LocalLimit => ()
      }.isEmpty => w
  }.size

  /** Sorted rows, columns in name order, each row concatenated. */
  private def snapshot(df: DataFrame): Seq[String] = {
    val order = df.columns.indices.sortBy(df.columns(_))
    df.collect().map(r => order.map(r.get).mkString).sorted.toSeq
  }
}
