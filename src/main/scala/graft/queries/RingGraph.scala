package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared ring test graph of the graph queries: 100 nodes
  * (`p_partkey % 100`), ring edges id → (id + 1) % 100, plus quadratic
  * chords id → (id² + 7) % 100 from every third node. Each form returns
  * `(nodes, edges)`; [[sql]] is the DuckDB twin. */
private[queries] object RingGraph {

  /** The ring nodes `id`, one row each. */
  def nodes(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select((col("p_partkey") % 100).as("id")).distinct()

  /** DuckDB twin of [[nodes]]. */
  val nodesSql = "SELECT DISTINCT p_partkey % 100 AS id FROM part"

  /** Directed `src → dst` edges as built: a chord that lands on a ring
    * edge stays a parallel edge. */
  def multi(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val nodes = RingGraph.nodes(s, d)
    val edges = nodes
      .select(col("id").as("src"), ((col("id") + 1) % 100).as("dst"))
      .unionByName(nodes.filter(col("id") % 3 === 0)
        .select(col("id").as("src"), ((col("id") * col("id") + 7) % 100).as("dst")))
    (nodes, edges)
  }

  /** Directed `src → dst` edges, deduplicated (self-loops kept). */
  def directed(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (nodes, edges) = multi(s, d)
    (nodes, edges.distinct())
  }

  /** Directed `a → b` edges without self-loops. */
  def simple(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (nodes, edges) = directed(s, d)
    (nodes, edges.filter(col("src") =!= col("dst"))
      .select(col("src").as("a"), col("dst").as("b")))
  }

  /** Undirected edges as canonical `a < b` pairs. */
  def undirected(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (nodes, edges) = directed(s, d)
    (nodes, edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct())
  }

  /** CTEs `nodes`, `e` (directed), `und` (canonical pairs) and `adj`
    * (both directions of `und`); callers append their own CTEs. */
  val sql =
    s"""WITH nodes AS MATERIALIZED ($nodesSql),
      |e AS MATERIALIZED (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
      |      UNION
      |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0),
      |und AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |      FROM e WHERE src <> dst),
      |adj AS MATERIALIZED (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und)""".stripMargin

  /** [[sql]] plus four synchronous label-propagation rounds over `adj`
    * (count desc, label asc tie-break): CTEs `l0` … `l4`, labels in
    * `l4`. */
  val labelPropSql = {
    val head = sql +
      ",\nl0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)"
    val rounds = (1 to 4).map { i =>
      s"""r$i AS (SELECT v AS id, label FROM (
         |        SELECT v, label, row_number() OVER
         |            (PARTITION BY v ORDER BY cnt DESC, label ASC) AS rn
         |        FROM (SELECT adj.v, p.label, count(*) AS cnt
         |              FROM adj JOIN l${i - 1} p ON p.id = adj.u
         |              GROUP BY adj.v, p.label))
         |      WHERE rn = 1),
         |l$i AS MATERIALIZED (SELECT n.id, coalesce(r$i.label, n.label) AS label
         |      FROM l${i - 1} n LEFT JOIN r$i ON r$i.id = n.id)""".stripMargin
    }
    (head +: rounds.map("," + _)).mkString("\n")
  }
}
