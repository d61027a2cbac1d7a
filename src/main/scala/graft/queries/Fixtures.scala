package graft.queries

import graft.Tables
import graft.ops.{Bm25, TimeSeries}
import graft.stream.Pipeline
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
  val dec = graft.ops.dec

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

  // ── Input frames and CTEs shared by sibling queries ─────────────────

  /** Events per type per hour of day: (event_type, hod, c). */
  def hourProfile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
      .agg(count(lit(1)).as("c"))

  /** Per user whether they ever clicked (x) and ever purchased (y), as
    * 0/1: CTE `u`. */
  val clickPurchaseUsersSql =
    """u AS (SELECT user_id,
      |                  max(CASE WHEN event_type = 'click'
      |                      THEN 1 ELSE 0 END) AS x,
      |                  max(CASE WHEN event_type = 'purchase'
      |                      THEN 1 ELSE 0 END) AS y
      |           FROM events GROUP BY 1)""".stripMargin

  /** Customers with orders, joined with their total order spend in
    * cents `y` (per o_custkey). */
  def spenders(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .as("y"))
    Tables.customer(s, d)
      .join(spend, col("c_custkey") === col("o_custkey"))
  }

  /** Order totals in integer cents: (v). */
  def orderCents(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
        .as("v"))

  /** Events with their timestamp in microseconds (t_us) and value in
    * integer cents. */
  def eventsTimedCents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("t_us", unix_micros(col("ts")))
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))

  /** Clean positions per hex cell at resolution `res`, with the cell's
    * axial coordinates: (cnt, qi, ri). */
  def cellCounts(s: SparkSession, d: String, res: Int): DataFrame =
    Pipeline.snap(Pipeline.sanitize(Tables.positions(s, d)), res)
      .groupBy(col("cellId")).agg(count(lit(1)).as("cnt"))
      .withColumn("parts", split(col("cellId"), ":"))
      .select(col("cnt"),
        element_at(col("parts"), 2).cast("long").as("qi"),
        element_at(col("parts"), 3).cast("long").as("ri"))

  /** SQL ntile(10) of a 1-based global rank `r` among `nt` rows: the
    * first nt % 10 buckets get one extra row. */
  val decileOfRank =
    """CASE WHEN r <= (nt % 10) * (nt div 10 + 1)
      |     THEN (r - 1) div (nt div 10 + 1) + 1
      |     ELSE (nt % 10) +
      |          (r - (nt % 10) * (nt div 10 + 1) - 1) div (nt div 10) + 1
      |END""".stripMargin

  /** The exact cosine top-10 of the embeddings against vec_id 0's
    * vector, a whole DuckDB oracle. */
  val cosineTop10Sql =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings WHERE vec_id > 0)
      |SELECT vec_id,
      |       round(list_dot_product(ev, qv) /
      |             (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
      |FROM e, q
      |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin

  /** Orders of customers in regions 0 and 1, with the customer's
    * `n_regionkey`. */
  def region01Orders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .where(col("n_regionkey").isin(0, 1))

  /** Split-token counts per source: (source, w, m); the empty token is
    * counted too. */
  def sourceWordCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("m"))

  /** DuckDB twin of [[sourceWordCounts]] (CTE `wc`). */
  val sourceWordCountsSql =
    """wc AS (
      |  SELECT source, w, CAST(count(*) AS BIGINT) AS m
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2)""".stripMargin

  /** Embeddings quantized to e6 integers: CTE `q` (vec_id, label, qv). */
  val quantEmbeddingsSql =
    """q AS MATERIALIZED (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |         list_transform(CAST(embedding AS DOUBLE[]),
      |           x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings)""".stripMargin

  /** DuckDB twin of the moments in [[prioPriceVariance]] (CTE `g0`: pri,
    * ni, si, qi). */
  val prioPriceMomentsSql =
    """g0 AS (
      |  SELECT o_orderpriority AS pri,
      |         CAST(count(*) AS BIGINT) AS ni,
      |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
      |           AS BIGINT)) AS BIGINT) AS si,
      |         sum(CAST(CAST(floor(o_totalprice * 100 + 0.5)
      |           AS BIGINT) AS HUGEINT)
      |           * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |           AS qi
      |  FROM orders GROUP BY 1 HAVING count(*) >= 2)""".stripMargin

  /** Order-price moments per priority with at least two orders: (pri,
    * ni, si = Σ cents, qi = Σ cents², si2 = exact sample variance in
    * cents², truncated). */
  def prioPriceVariance(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("pri"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
          .as("x"))
      .groupBy(col("pri"))
      .agg(count(lit(1)).as("ni"), sum(col("x")).as("si"),
        sum(expr(s"CAST(x AS $dec) * x")).as("qi"))
      .filter(col("ni") >= 2L)
      .withColumn("si2",
        expr(s"CAST((CAST(ni AS $dec) * qi - CAST(si AS $dec) * si)" +
          s" div (CAST(ni AS $dec) * (ni - 1)) AS BIGINT)"))

  /** Hashed linear-model weights of the document tokens, the DuckDB
    * twin of the TextAnalysis 256-dim feature hash: CTEs `tok`, `f`
    * (doc_id, dim) and `w` (doc_id, wt). */
  val hashedWeightsSql =
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |         ${PortableSql.hash48("token", "'fh'")} % 256 AS dim
       |  FROM tok WHERE token <> ''),
       |w AS (
       |  SELECT doc_id,
       |         ${PortableSql.hash48(
                   "CAST(dim AS VARCHAR)", "'lw'")} % 2001 - 1000
       |           AS wt
       |  FROM f)""".stripMargin

  /** Thousand-dollar order-value buckets split by urgency: per bucket
    * (bucket, ca = urgent or high, cb = the rest) and the one-row
    * totals (na, nb). */
  def urgentBuckets(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val g = Tables.orders(s, d)
      .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)" +
        " div 100000").as("bucket"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("urgent"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("urgent"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("urgent"), 0L).otherwise(1L)).as("cb"))
    (g, g.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb")))
  }

  /** DuckDB twin of [[urgentBuckets]]: CTEs `b`, `g`, `tot`. */
  val urgentBucketsSql =
    """b AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |           // 100000 AS bucket,
      |         o_orderpriority IN ('1-URGENT', '2-HIGH') AS urgent
      |  FROM orders),
      |g AS (SELECT bucket,
      |        CAST(sum(CASE WHEN urgent THEN 1 ELSE 0 END)
      |          AS BIGINT) AS ca,
      |        CAST(sum(CASE WHEN urgent THEN 0 ELSE 1 END)
      |          AS BIGINT) AS cb
      |      FROM b GROUP BY 1),
      |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
      |               CAST(sum(cb) AS BIGINT) AS nb FROM g)""".stripMargin

  /** Priority × high-value order count cells (v, yy, c), ≤ 10 rows,
    * checkpointed for reuse by every margin; [[prioCellsSql]] is the
    * DuckDB twin. */
  def prioCells(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderpriority").as("v"),
        (col("o_totalprice") >= 150000.0).as("yy"))
      .groupBy(col("v"), col("yy")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // ≤ 10 cells, reused by every margin

  /** Entropy sums of [[prioCells]] in log2 e6 units (L = log2E6): one
    * row (n, t_cells = Σc·L(c), t_v = Σn_v·L(n_v), t_y = Σc_y·L(c_y),
    * t_n = n·L(n)). */
  def prioCellEntropy(s: SparkSession, d: String): DataFrame = {
    val cells = prioCells(s, d)
    val tc = cells.agg(sum(col("c")).as("n"),
      sum(col("c") * Bm25.log2E6(col("c"))).as("t_cells"))
    val tv = cells.groupBy(col("v")).agg(sum(col("c")).as("nv"))
      .agg(sum(col("nv") * Bm25.log2E6(col("nv"))).as("t_v"))
    val ty = cells.groupBy(col("yy")).agg(sum(col("c")).as("cy"))
      .agg(sum(col("cy") * Bm25.log2E6(col("cy"))).as("t_y"))
    tc.crossJoin(broadcast(tv)).crossJoin(broadcast(ty))
      .withColumn("t_n", col("n") * Bm25.log2E6(col("n")))
  }

  /** Events per type per day: (k = event_type, day, c). */
  def eventTypeDaily(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type").as("k"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))

  /** DuckDB twin of [[eventTypeDaily]] (CTE `daily`). */
  val eventTypeDailySql =
    """daily AS (
      |  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS day,
      |         count(*) AS c
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Orders per order day: (day = days since epoch, c). */
  def ordersPerDay(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) " +
        "div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))

  /** DuckDB twin of [[ordersPerDay]] (CTE `daily`). */
  val ordersPerDaySql =
    """daily AS (SELECT epoch_us(o_orderdate) // 86400000000
      |                        AS day,
      |                     CAST(count(*) AS BIGINT) AS c
      |              FROM orders GROUP BY 1)""".stripMargin

  /** Daily event value sums: (day, sc = Σ cents, cnt). */
  def eventsDailyCents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("day"))
      .agg(sum(col("cents")).as("sc"), count(lit(1)).as("cnt"))

  /** DuckDB twin of [[eventsDailyCents]] (CTE `daily`). */
  val eventsDailyCentsSql =
    """daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |                      CAST(sum(CAST(floor(value * 100 + 0.5)
      |                        AS BIGINT)) AS BIGINT) AS sc,
      |                      CAST(count(*) AS BIGINT) AS cnt
      |               FROM events GROUP BY 1)""".stripMargin

  /** Daily click and view counts: (et, day, c). */
  def clickViewDaily(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("et"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("et"), col("day")).agg(count(lit(1)).as("c"))

  /** DuckDB twin of [[clickViewDaily]] (CTE `daily`). */
  val clickViewDailySql =
    """daily AS (SELECT event_type AS et,
      |                      epoch_us(ts) // 86400000000 AS day,
      |                      CAST(count(*) AS BIGINT) AS c
      |               FROM events
      |               WHERE event_type IN ('click', 'view')
      |               GROUP BY 1, 2)""".stripMargin

  /** Daily order revenue in hecto-dollars: (dt = order date, x). */
  def ordersDailyHecto(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderdate").as("dt"))
      .agg(sum(expr("CAST(floor(o_totalprice / 100 + 0.5) AS BIGINT)"))
        .as("x"))

  /** DuckDB twin of [[ordersDailyHecto]] (CTE `daily`). */
  val ordersDailyHectoSql =
    """daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS dt,
      |         CAST(sum(CAST(floor(o_totalprice / 100 + 0.5)
      |           AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1)""".stripMargin

  /** Events per day: (day = days since epoch, c). */
  def eventsPerDay(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))

  /** DuckDB twin of [[eventsPerDay]] (CTE `daily`). */
  val eventsPerDaySql =
    """daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |                     CAST(count(*) AS BIGINT) AS c
      |              FROM events GROUP BY 1)""".stripMargin

  /** Every customer left-joined with its total order spend in cents
    * (`spend`, null for a customer without orders). */
  def customerSpend(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .as("spend"))
    Tables.customer(s, d)
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
  }

  /** The spend CTE of [[customerSpend]] (`spend`: o_custkey, spend). */
  val customerSpendSql =
    """spend AS (SELECT o_custkey,
      |                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
      |                   AS BIGINT)) AS BIGINT) AS spend
      |               FROM orders GROUP BY 1)""".stripMargin

  /** [[customerSpendSql]] with the total named `y`. */
  val spendYSql =
    """spend AS (SELECT o_custkey,
      |                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
      |                   AS BIGINT)) AS BIGINT) AS y
      |               FROM orders GROUP BY 1)""".stripMargin

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

  /** DuckDB twin of [[prioCellEntropy]] before `t_n`: [[prioCellsSql]]
    * plus CTEs `tc` (n, t_cells), `tv` (t_v) and `ty` (t_y). */
  val prioCellEntropySql = {
    def L(v: String) = Bm25.log2E6Sql(v)
    prioCellsSql +
      s""",
         |tc AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |         CAST(sum(c * CAST(${L("c")} AS BIGINT)) AS BIGINT)
         |           AS t_cells FROM cells),
         |tv AS (SELECT CAST(sum(nv * CAST(${L("nv")} AS BIGINT))
         |           AS BIGINT) AS t_v
         |       FROM (SELECT CAST(sum(c) AS BIGINT) AS nv FROM cells
         |             GROUP BY v)),
         |ty AS (SELECT CAST(sum(cy * CAST(${L("cy")} AS BIGINT))
         |           AS BIGINT) AS t_y
         |       FROM (SELECT CAST(sum(c) AS BIGINT) AS cy FROM cells
         |             GROUP BY yy))""".stripMargin
  }

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
    s"""WITH nodes AS (${RingGraph.nodesSql}),
      |e AS (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
      |      UNION
      |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0)""".stripMargin

  /** [[ringEdgesSql]] with both CTEs MATERIALIZED. */
  val ringEdgesMatSql =
    s"""WITH nodes AS MATERIALIZED (${RingGraph.nodesSql}),
      |e AS MATERIALIZED (SELECT id AS src, (id + 1) % 100 AS dst FROM nodes
      |      UNION
      |      SELECT id AS src, (id * id + 7) % 100 AS dst FROM nodes WHERE id % 3 = 0)""".stripMargin

  /** [[ringEdgesSql]] plus the ≤ 20-hop distances from the seeds
    * id % 25 = 0: CTEs `bfs` and `md` (seed, id, dist); the caller turns
    * the WITH into WITH RECURSIVE. */
  val ringSeedDistSql = ringEdgesSql + """,
    |bfs AS (
    |  SELECT id AS seed, id, 0 AS d FROM nodes WHERE id % 25 = 0
    |  UNION
    |  SELECT bfs.seed, e.dst AS id, bfs.d + 1 AS d
    |  FROM bfs JOIN e ON e.src = bfs.id WHERE bfs.d < 20),
    |md AS (SELECT seed, id, min(d) AS dist FROM bfs GROUP BY 1, 2)""".stripMargin

  /** The chain-with-chords graph: 10 ten-node chains (the ring broken at
    * id % 10 = 9), chords (c, c+4) on every chain and (c+4, c+9) on even
    * chains. Odd chains keep five uncovered chain edges (bridges), and
    * the (c, c+4) chord closes a 5-cycle, so the graph is not bipartite.
    * Returns `(nodes, edges)` with `src → dst` kept low → high (a DAG)
    * and not deduplicated. */
  def chainEdges(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val nodes = RingGraph.nodes(s, d)
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
    s"""nodes AS (${RingGraph.nodesSql}),
      |ce AS (
      |  SELECT id AS src, id + 1 AS dst FROM nodes WHERE id % 10 <> 9
      |  UNION SELECT id, id + 4 FROM nodes WHERE id % 10 = 0
      |  UNION SELECT id, id + 5 FROM nodes WHERE id % 10 = 4 AND (id // 10) % 2 = 0)""".stripMargin

  /** DuckDB twin of [[chainGraph]]: [[chainEdgesSql]] plus CTE `und`. */
  val chainGraphSql = chainEdgesSql + """,
      |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |        FROM ce WHERE src <> dst)""".stripMargin
}
