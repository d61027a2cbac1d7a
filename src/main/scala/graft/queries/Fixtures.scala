package graft.queries

import graft.Tables
import graft.ops.TimeSeries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixtures shared by the query catalogs: the exact-integer idioms, the
  * calendar-bounded order axes, and the test graphs besides [[RingGraph]].
  * A Spark-side frame sits next to its DuckDB twin; a twin is shared only
  * where its oracle text is identical for every user, so hoisting a
  * fixture never changes an oracle. */
private[queries] object Fixtures {

  /** Exact wide-integer type for products that overflow BIGINT. */
  val dec = "decimal(38,0)"

  /** Half-up integer cents of a price column, as SQL text. */
  def cents(c: String) = s"CAST(floor($c * 100 + 0.5) AS BIGINT)"

  /** Spark twin of [[cents]]. */
  def centsCol(c: String) = floor(col(c) * 100 + 0.5).cast("long")

  /** Half-up integer cents of the events `value` column, as SQL text. */
  val valueCents = "CAST(floor(value * 100 + 0.5) AS BIGINT)"

  /** Sign-safe e6 ratio, Spark SQL text: both engines truncate toward
    * zero, so the sign is factored out around the division. */
  def signedRatioE6(num: String, den: String) =
    s"""CASE WHEN $num >= 0
       |  THEN CAST(CAST($num AS $dec) * 1000000 div ($den) AS BIGINT)
       |  ELSE -CAST(CAST(-($num) AS $dec) * 1000000 div ($den) AS BIGINT)
       |END""".stripMargin

  /** DuckDB twin of [[signedRatioE6]]. */
  def signedRatioE6Sql(num: String, den: String) =
    s"""CASE WHEN $num >= 0
       |  THEN CAST(CAST($num AS HUGEINT) * 1000000 // ($den) AS BIGINT)
       |  ELSE -CAST(CAST(-($num) AS HUGEINT) * 1000000 // ($den) AS BIGINT)
       |END""".stripMargin

  /** Fixed function-word list of the text-rule and RAKE screens; tiny and
    * closed so both engines inline it as a literal IN. */
  val stopwords = Seq("the", "a", "of", "to", "and", "in",
    "is", "on", "for", "it")

  def stopSql: String = stopwords.map("'" + _ + "'").mkString(", ")

  /** A DuckDB list literal of quoted words. */
  def inList(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** cos(m·15°)·1e6, m = 0..23: the literal hour-of-day cosine table
    * compiled into both engines; sin(m·15°) = cos((m+18)·15°). */
  private val cosT = Seq(1000000L, 965926L, 866025L, 707107L, 500000L,
    258819L, 0L, -258819L, -500000L, -707107L, -866025L, -965926L,
    -1000000L, -965926L, -866025L, -707107L, -500000L, -258819L, 0L,
    258819L, 500000L, 707107L, 866025L, 965926L)

  /** SQL CASE looking up `cosT((idx + shift) % 24)`. */
  def caseFor(idx: String, shift: Int): String =
    "CASE " + cosT.indices.map { m =>
      s"WHEN ($idx + $shift) % 24 = $m THEN ${cosT(m)}"
    }.mkString(" ") + " ELSE 0 END"

  // ── Order and series axes ───────────────────────────────────────────

  /** Exact hecto-dollar order value and the urgent-exposure flag. */
  def ordersHecto(s: SparkSession, d: String) =
    Tables.orders(s, d).select(
      expr("CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT)").as("x"),
      (col("o_orderpriority") === "1-URGENT").as("exp"),
      (col("o_totalprice") >= 150000.0).as("hi"))

  /** Per-order metric frame: (ok = l_orderkey, x = whole quantity units,
    * y = price cents, z = line count). */
  def perOrder(s: SparkSession, d: String) =
    Tables.lineitem(s, d).groupBy(col("l_orderkey").as("ok"))
      .agg(sum(floor(col("l_quantity") + 0.5).cast("long")).as("x"),
        sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("y"),
        count(lit(1)).as("z"))

  /** DuckDB twin of [[perOrder]] (CTE `per`). */
  val perOrderSql =
    """per AS (SELECT l_orderkey AS ok,
      |               CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
      |                 AS BIGINT) AS x,
      |               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
      |                 AS BIGINT)) AS BIGINT) AS y,
      |               CAST(count(*) AS BIGINT) AS z
      |        FROM lineitem GROUP BY 1)""".stripMargin

  /** Monthly order counts per priority digit: (g, mo = yyyymm, x). The
    * grid is priorities × the calendar, never data-sized. */
  def prioMonthCells(s: SparkSession, d: String): DataFrame =
    prioMonth(Tables.orders(s, d))

  /** [[prioMonthCells]] restricted to priorities 1 and 2, the two-sample
    * pair of the rank tests. */
  def prio12MonthCells(s: SparkSession, d: String): DataFrame =
    prioMonth(Tables.orders(s, d)
      .filter(substring(col("o_orderpriority"), 1, 1).isin("1", "2")))

  private def prioMonth(orders: DataFrame): DataFrame =
    orders
      .groupBy(substring(col("o_orderpriority"), 1, 1).as("g"),
        expr("year(o_orderdate) * 100 + month(o_orderdate)").as("mo"))
      .agg(count(lit(1)).as("x"))

  // The cell CTE has three oracle texts that differ only in layout; each
  // is kept byte for byte, as its queries' oracles were hashed with it.

  /** DuckDB twin of [[prioMonthCells]] (CTE `cell`). */
  val prioMonthCellsSql =
    """cell AS (SELECT substring(o_orderpriority, 1, 1) AS g,
      |                    year(o_orderdate) * 100
      |                      + month(o_orderdate) AS mo,
      |                    CAST(count(*) AS BIGINT) AS x
      |             FROM orders GROUP BY 1, 2)""".stripMargin

  /** DuckDB twin of [[prio12MonthCells]] (CTE `cell`). */
  val prio12MonthCellsSql =
    """cell AS (SELECT substring(o_orderpriority, 1, 1) AS g,
      |                    year(o_orderdate) * 100
      |                      + month(o_orderdate) AS mo,
      |                    CAST(count(*) AS BIGINT) AS x
      |             FROM orders
      |             WHERE substring(o_orderpriority, 1, 1)
      |                     IN ('1', '2')
      |             GROUP BY 1, 2)""".stripMargin

  /** [[prio12MonthCellsSql]] in the block layout. */
  val prio12CellSql =
    """cell AS (
      |  SELECT substring(o_orderpriority, 1, 1) AS g,
      |         year(o_orderdate) * 100 + month(o_orderdate) AS mo,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM orders
      |  WHERE substring(o_orderpriority, 1, 1) IN ('1', '2')
      |  GROUP BY 1, 2)""".stripMargin

  /** Priority × high-value order count cells (≤ 10 at any SF), CTE
    * `cells` (v, yy, c). */
  val prioCellsSql =
    """WITH cells AS (
      |  SELECT o_orderpriority AS v,
      |         o_totalprice >= 150000.0 AS yy,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1, 2)""".stripMargin

  /** Monthly order revenue in hecto-dollars: (mk = year·12 + month, y). */
  def monthAxis(s: SparkSession, d: String) =
    Tables.orders(s, d)
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mk"),
        expr("CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT)").as("h"))
      .groupBy(col("mk")).agg(sum(col("h")).as("y"))

  /** DuckDB twin of [[monthAxis]] (CTE `mo`). */
  val monthAxisSql =
    """WITH mo AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mk,
      |         CAST(sum(CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT))
      |           AS BIGINT) AS y
      |  FROM orders GROUP BY 1)""".stripMargin

  /** [[monthAxis]] as (t = 1-based month index, y). */
  def monthIndexAxis(s: SparkSession, d: String) =
    monthAxis(s, d)
      .withColumn("t", row_number().over(Window.orderBy(col("mk")))
        .cast("long"))
      .select(col("t"), col("y"))

  /** DuckDB twin of [[monthIndexAxis]] (CTE `ax`). */
  val monthIndexAxisSql = monthAxisSql + """,
      |ax AS (SELECT CAST(row_number() OVER (ORDER BY mk) AS BIGINT) AS t,
      |              y FROM mo)""".stripMargin

  /** Monthly net-revenue axis by ship month (x = cents) with a dense
    * month rank `rn`. */
  def shipMonthAxis(s: SparkSession, d: String) =
    Tables.lineitem(s, d)
      .select(expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))" +
        " div 2592000000000").as("mo"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("c"))
      .groupBy(col("mo")).agg(sum(col("c")).as("x"))
      .withColumn("rn", row_number().over(Window.orderBy(col("mo"))))

  /** DuckDB twin of [[shipMonthAxis]] (CTEs `m`, `mr`). */
  val shipMonthAxisSql =
    """m AS (SELECT epoch_us(l_shipdate) // 2592000000000 AS mo,
      |        CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
      |          AS BIGINT)) AS BIGINT) AS x
      |      FROM lineitem GROUP BY 1),
      |mr AS (SELECT mo, x, CAST(row_number() OVER (ORDER BY mo)
      |         AS BIGINT) AS rn FROM m)""".stripMargin

  /** Per-type daily series of the events feed: (event_type, t = day
    * index, v = exact e4 daily mean). */
  def eventsDaily(s: SparkSession, d: String) =
    TimeSeries.resample(Tables.events(s, d), "event_type", "ts", "value", 86400L)
      .select(col("event_type"), expr("bucket_es div 86400").as("t"),
        col("avg_e4").as("v"))

  /** DuckDB twin of [[eventsDaily]] (CTE `s`). */
  val eventsDailySql =
    """WITH r AS (SELECT event_type,
      |                  (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS bucket_es,
      |                  count(*) AS cnt,
      |                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 100
      |                       // count(*) AS BIGINT) AS avg_e4
      |           FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, bucket_es // 86400 AS t, avg_e4 AS v FROM r)""".stripMargin

  // ── Test graphs ─────────────────────────────────────────────────────

  /** The directed ring graph of [[RingGraph]] as plain CTEs `nodes`, `e`
    * (no MATERIALIZED hints, no `und`/`adj`). */
  val ringEdgesSql =
    """WITH nodes AS (SELECT DISTINCT p_partkey % 100 AS id FROM part),
      |e AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
      |      UNION
      |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0)""".stripMargin

  /** [[ringEdgesSql]] with both CTEs MATERIALIZED. */
  val ringEdgesMatSql =
    """WITH nodes AS MATERIALIZED (SELECT DISTINCT p_partkey % 100 AS id FROM part),
      |e AS MATERIALIZED (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
      |      UNION
      |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0)""".stripMargin

  /** The chain-with-chords graph: 10 ten-node chains (the ring broken at
    * id % 10 = 9), chords (c, c+4) on every chain and (c+4, c+9) on even
    * chains. Odd chains keep five uncovered chain edges (bridges), and
    * the (c, c+4) chord closes a 5-cycle, so the graph is not bipartite.
    * Returns `(nodes, edges)` with `src → dst` kept low → high (a DAG)
    * and not deduplicated. */
  def chainEdges(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val nodes = Tables.part(s, d)
      .select((col("p_partkey") % 100).as("id")).distinct()
    val chain = nodes.filter(col("id") % 10 =!= 9)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val c1 = nodes.filter(col("id") % 10 === 0)
      .select(col("id").as("src"), (col("id") + 4).as("dst"))
    val c2 = nodes.filter(col("id") % 10 === 4 && expr("(id div 10) % 2") === 0)
      .select(col("id").as("src"), (col("id") + 5).as("dst"))
    (nodes, chain.unionByName(c1).unionByName(c2))
  }

  /** [[chainEdges]] as undirected canonical `a < b` pairs. */
  def chainGraph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (nodes, edges) = chainEdges(s, d)
    (nodes, edges
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct())
  }

  /** DuckDB twin of [[chainEdges]]: CTEs `nodes`, `ce`. */
  val chainEdgesSql =
    """nodes AS (SELECT DISTINCT p_partkey % 100 AS id FROM part),
      |ce AS (
      |  SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 10 <> 9
      |  UNION SELECT id, id + 4 FROM nodes WHERE id % 10 = 0
      |  UNION SELECT id, id + 5 FROM nodes WHERE id % 10 = 4 AND (id // 10) % 2 = 0)""".stripMargin

  /** DuckDB twin of [[chainGraph]]: [[chainEdgesSql]] plus CTE `und`. */
  val chainGraphSql = chainEdgesSql + """,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM ce WHERE src <> dst)""".stripMargin
}
