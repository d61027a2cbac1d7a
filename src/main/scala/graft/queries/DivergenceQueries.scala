package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Sketches, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distribution divergences and distances: KL, JS, Hellinger, Renyi, PSI,
  * Wasserstein/EMD, energy and MMD, and entropic transport. */
object DivergenceQueries extends QueryCatalog {

  import Fixtures._

  /** Region × segment marginals of the Sinkhorn queries: row sums
    * (rg, r) and column sums with the segment index (seg, cm, sj). */
  private def sinkhornAxes(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_regionkey").as("rg"))),
        col("c_nationkey") === col("n_nationkey"))
      .selectExpr("CAST(rg AS BIGINT) AS rg", "seg")
      .localCheckpoint(false) // row + column marginals
    val rowM = base.groupBy(col("rg")).agg(count(lit(1)).as("r"))
    val colM = base.groupBy(col("seg")).agg(count(lit(1)).as("cm"))
    (rowM, colM.selectExpr("seg", "cm",
      """CAST(CASE seg WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
        |WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3
        |ELSE 4 END AS BIGINT) AS sj""".stripMargin))
  }

  /** Two Sinkhorn iterations (row scale, column scale, integer e6
    * ratios) over the kernel `grid` (rg, seg, r, cm, p), then the plan
    * with the marginal L1 errors of the final pass (plan mass is e6
    * units). */
  private def sinkhornPlan(grid: DataFrame): DataFrame = {
    def rowScale(df: DataFrame) = df
      .withColumn("rs", sum(col("p")).over(Window.partitionBy("rg")))
      .selectExpr("rg", "seg", "r", "cm",
        s"CAST(p AS $dec) * r * 1000000 div rs AS p")
    def colScale(df: DataFrame) = df
      .withColumn("cs", sum(col("p")).over(Window.partitionBy("seg")))
      .selectExpr("rg", "seg", "r", "cm",
        s"CAST(p AS $dec) * cm * 1000000 div cs AS p")
    val c2 = colScale(rowScale(colScale(rowScale(grid))))
      .localCheckpoint(false)
    val rowErr = c2.groupBy(col("rg"), col("r"))
      .agg(sum(col("p")).as("rs"))
      .agg(sum(expr(s"abs(rs - CAST(r AS $dec) * 1000000)"))
        .as("row_l1_e6"))
    val colErr = c2.groupBy(col("seg"), col("cm"))
      .agg(sum(col("p")).as("cs"))
      .agg(sum(expr(s"abs(cs - CAST(cm AS $dec) * 1000000)"))
        .as("col_l1_e6"))
    c2.selectExpr("rg", "seg", "CAST(p AS BIGINT) AS plan_e6")
      .crossJoin(broadcast(rowErr
        .selectExpr("CAST(row_l1_e6 AS BIGINT) AS row_l1_e6")))
      .crossJoin(broadcast(colErr
        .selectExpr("CAST(col_l1_e6 AS BIGINT) AS col_l1_e6")))
  }

  /** DuckDB twin of [[sinkhornAxes]]: CTEs `base`, `rm` (rg, r), `cm0`,
    * `si` (seg, cm, sj). */
  private val sinkhornAxesSql =
    """base AS (
      |  SELECT CAST(n_regionkey AS BIGINT) AS rg,
      |         c_mktsegment AS seg
      |  FROM orders
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation ON n_nationkey = c_nationkey),
      |rm AS (SELECT rg, CAST(count(*) AS BIGINT) AS r
      |       FROM base GROUP BY 1),
      |cm0 AS (SELECT seg, CAST(count(*) AS BIGINT) AS cm
      |        FROM base GROUP BY 1),
      |si AS (SELECT seg, cm,
      |         CAST(CASE seg WHEN 'AUTOMOBILE' THEN 0
      |           WHEN 'BUILDING' THEN 1 WHEN 'FURNITURE' THEN 2
      |           WHEN 'HOUSEHOLD' THEN 3 ELSE 4 END AS BIGINT)
      |           AS sj
      |       FROM cm0)""".stripMargin

  /** DuckDB twin of [[sinkhornPlan]] over CTE `grid`. */
  private val sinkhornIterSql =
    """r1 AS (SELECT rg, seg, r, cm,
      |         p * r * 1000000 // (sum(p) OVER (PARTITION BY rg))
      |           AS p FROM grid),
      |c1 AS (SELECT rg, seg, r, cm,
      |         p * cm * 1000000 // (sum(p) OVER (PARTITION BY seg))
      |           AS p FROM r1),
      |r2 AS (SELECT rg, seg, r, cm,
      |         p * r * 1000000 // (sum(p) OVER (PARTITION BY rg))
      |           AS p FROM c1),
      |c2 AS (SELECT rg, seg, r, cm,
      |         p * cm * 1000000 // (sum(p) OVER (PARTITION BY seg))
      |           AS p FROM r2),
      |re AS (SELECT CAST(sum(abs(rs - CAST(r AS HUGEINT)
      |         * 1000000)) AS BIGINT) AS row_l1_e6
      |       FROM (SELECT rg, r, sum(p) AS rs FROM c2
      |             GROUP BY 1, 2)),
      |ce AS (SELECT CAST(sum(abs(cs - CAST(cm AS HUGEINT)
      |         * 1000000)) AS BIGINT) AS col_l1_e6
      |       FROM (SELECT seg, cm, sum(p) AS cs FROM c2
      |             GROUP BY 1, 2))
      |SELECT rg, seg, CAST(p AS BIGINT) AS plan_e6,
      |       row_l1_e6, col_l1_e6
      |FROM c2 CROSS JOIN re CROSS JOIN ce""".stripMargin

  /** Sign-factored truncating division (SURVEY.md:152 convention):
    * Spark `div` truncates, DuckDB `//` floors — they agree only on
    * non-negative numerators, so negative ones factor the sign out. */
  private def sdiv(x: String, y: String) =
    s"CASE WHEN ($x) >= 0 THEN ($x) div ($y) ELSE -((-($x)) div ($y)) END"

  private def sdivSql(x: String, y: String) =
    s"CASE WHEN ($x) >= 0 THEN ($x) // ($y) ELSE -((-($x)) // ($y)) END"

  /** returned-vs-kept counts per quantity decile (≤ 6 cells). */
  private val rfCellsSql =
    """WITH cells AS (
      |  SELECT least(CAST(floor(l_quantity + 0.5) AS BIGINT) // 10, 5)
      |           AS i,
      |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |           AS BIGINT) AS p,
      |         CAST(sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
      |           AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── PSI drift between the first and second half of the event
    //    stream, per type, over cents deciles — add-one-smoothed shares
    //    on the full bucket grid, fixed-point log₂, all integer.
    QueryDef("q_psi_drift",
      (s, d) => {
        val e = Tables.events(s, d).select(
          unix_micros(col("ts")).as("t"), col("event_type").as("g"),
          expr("least(9L, greatest(0L, CAST(floor(value * 100 + 0.5) AS BIGINT) div 1000L))")
            .as("bucket"))
        val mid = e.agg(expr("min(t) + (max(t) - min(t)) div 2").as("m"))
        val h = e.crossJoin(broadcast(mid))
          .withColumn("half", when(col("t") <= col("m"), 0L).otherwise(1L))
        graft.ops.Drift.psi(h, "g", "half", "bucket", 9)
      },
      Some {
        val term = s"(p_e6 - q_e6) * (${Bm25.log2E6Sql("p_e6")} - ${Bm25.log2E6Sql("q_e6")})"
        s"""WITH e AS (SELECT epoch_us(ts) AS t, event_type AS g,
           |                  least(9, greatest(0, CAST(floor(value * 100 + 0.5) AS BIGINT) // 1000)) AS bucket
           |           FROM events),
           |mid AS (SELECT min(t) + (max(t) - min(t)) // 2 AS m FROM e),
           |h AS (SELECT g, bucket, CASE WHEN t <= m THEN 0 ELSE 1 END AS half
           |      FROM e CROSS JOIN mid),
           |cnt AS (SELECT g, half, bucket, CAST(count(*) AS BIGINT) AS n
           |        FROM h GROUP BY 1, 2, 3),
           |tot AS (SELECT g, half, CAST(sum(n) AS BIGINT) AS nt FROM cnt GROUP BY 1, 2),
           |gb AS (SELECT gg.g, b.bucket, hh.half
           |       FROM (SELECT DISTINCT g FROM cnt) gg
           |       CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bucket) b
           |       CROSS JOIN (SELECT unnest([0, 1]) AS half) hh),
           |sh AS (SELECT gb.g, gb.bucket, gb.half,
           |              (coalesce(cnt.n, 0) + 1) * 1000000 // (tot.nt + 10) AS share_e6
           |       FROM gb LEFT JOIN cnt ON cnt.g = gb.g AND cnt.half = gb.half
           |                            AND cnt.bucket = gb.bucket
           |               JOIN tot ON tot.g = gb.g AND tot.half = gb.half),
           |pq AS (SELECT g, bucket,
           |              CAST(max(CASE WHEN half = 0 THEN share_e6 END) AS BIGINT) AS p_e6,
           |              CAST(max(CASE WHEN half = 1 THEN share_e6 END) AS BIGINT) AS q_e6
           |       FROM sh GROUP BY 1, 2)
           |SELECT g, CAST(sum($term) // 1000000 AS BIGINT) AS psi_e6,
           |       CAST(count(*) AS BIGINT) AS n_buckets
           |FROM pq GROUP BY g""".stripMargin
      }),

    // ── KL(train‖eval) / KL(eval‖train) over the even/odd doc_id
    //    split's unigram distributions, Laplace-smoothed on the union
    //    vocabulary.
    QueryDef("q_kl_vocab",
      (s, d) => TextAnalysis.klVocab(
        Tables.documents(s, d)
          .select((col("doc_id") % 2).as("split"),
            explode(split(col("text"), " ")).as("word"))),
      Some {
        def lg(x: String, y: String) =
          Bm25.log2E6Sql(x) + " - " + Bm25.log2E6Sql(y)
        s"""WITH tok AS (SELECT doc_id % 2 AS split,
           |                   unnest(string_split(text, ' ')) AS word
           |            FROM documents),
           |counts AS (SELECT word,
           |             CAST(sum(CASE WHEN split = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           |             CAST(sum(CASE WHEN split = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
           |           FROM tok GROUP BY 1),
           |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
           |               CAST(sum(cb) AS BIGINT) AS nb,
           |               CAST(count(*) AS BIGINT) AS v FROM counts),
           |terms AS (SELECT v AS vocab, na AS n_a, nb AS n_b,
           |                 na + v AS da, nb + v AS db,
           |                 (ca + 1) * (${lg("((ca + 1) * (nb + v))", "((cb + 1) * (na + v))")}) AS tab,
           |                 (cb + 1) * (${lg("((cb + 1) * (na + v))", "((ca + 1) * (nb + v))")}) AS tba
           |          FROM counts CROSS JOIN tot)
           |SELECT vocab, n_a, n_b,
           |       CAST(greatest(sum(tab), 0) // max(da) AS BIGINT) AS kl_ab_e6,
           |       CAST(greatest(sum(tba), 0) // max(db) AS BIGINT) AS kl_ba_e6
           |FROM terms GROUP BY 1, 2, 3""".stripMargin
      }),

    // ── EMD between en and non-en doc-length histograms: 20 fixed
    //    250-char bins, e6-normalized cumulative difference — all
    //    integer.
    QueryDef("q_emd_1d",
      (s, d) => {
        val b = Tables.documents(s, d)
          .select((col("lang") === "en").as("isA"),
            least(lit(19L), expr("n_chars div 250")).as("bin"))
        val cells = b.groupBy(col("bin"))
          .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("ca"),
            sum(when(!col("isA"), 1L).otherwise(0L)).as("cb"))
        val tot = cells.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        val w = Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cells.crossJoin(broadcast(tot))
          .withColumn("pa_e6", expr("ca * 1000000 div na"))
          .withColumn("pb_e6", expr("cb * 1000000 div nb"))
          .withColumn("cum_diff_e6",
            sum(col("pa_e6")).over(w) - sum(col("pb_e6")).over(w))
          .withColumn("emd_e6", sum(abs(col("cum_diff_e6"))).over(
            Window.partitionBy()))
          .select(col("bin"), col("ca"), col("cb"), col("pa_e6"),
            col("pb_e6"), col("cum_diff_e6"), col("emd_e6"))
      },
      Some("""WITH b AS (SELECT lang = 'en' AS isA,
             |                 least(19, n_chars // 250) AS bin
             |          FROM documents),
             |cells AS (SELECT bin,
             |                 CAST(sum(CASE WHEN isA THEN 1 ELSE 0 END)
             |                   AS BIGINT) AS ca,
             |                 CAST(sum(CASE WHEN isA THEN 0 ELSE 1 END)
             |                   AS BIGINT) AS cb
             |          FROM b GROUP BY 1),
             |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             |               CAST(sum(cb) AS BIGINT) AS nb FROM cells),
             |cum AS (SELECT bin, ca, cb,
             |               ca * 1000000 // na AS pa_e6,
             |               cb * 1000000 // nb AS pb_e6,
             |               CAST(sum(ca * 1000000 // na) OVER (ORDER BY bin
             |                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |               - CAST(sum(cb * 1000000 // nb) OVER (ORDER BY
             |                 bin ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |                 AS cum_diff_e6
             |        FROM cells CROSS JOIN tot)
             |SELECT bin, ca, cb, pa_e6, pb_e6, cum_diff_e6,
             |       CAST(sum(abs(cum_diff_e6)) OVER () AS BIGINT) AS emd_e6
             |FROM cum""".stripMargin)),

    // ── Energy distance: Σ|x−y| per pair class from consecutive-gap ×
    //    straddling-pair counts on the merged order; exact integers,
    //    one double close.
    QueryDef("q_energy_distance",
      (s, d) => {
        // Gap sweep over the distinct-VALUE axis: rows within a tie
        // contribute zero gap, so cumulative counts at each distinct
        // value (inclusive of its ties) reproduce the per-doc sweep
        // exactly — and every window walks value cells, never the
        // corpus (no single-partition doc sort).
        val cells = Tables.documents(s, d)
          .select((col("lang") === "en").as("isA"), col("n_chars").as("v"))
          .groupBy(col("v"))
          .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("a_c"),
            sum(when(!col("isA"), 1L).otherwise(0L)).as("b_c"))
        val w = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sweep = cells
          .withColumn("ca", sum(col("a_c")).over(w))
          .withColumn("cb", sum(col("b_c")).over(w))
          .withColumn("nxt", lead(col("v"), 1).over(Window.orderBy(col("v"))))
          .withColumn("na", sum(col("a_c")).over(Window.partitionBy(lit(1))))
          .withColumn("nb", sum(col("b_c")).over(Window.partitionBy(lit(1))))
          .where(col("nxt").isNotNull)
          .withColumn("gap", (col("nxt") - col("v")).cast(dec))
        sweep.agg(
            max(col("na")).as("na"), max(col("nb")).as("nb"),
            sum(expr("gap * (ca * (nb - cb) + cb * (na - ca))")).as("sxy"),
            sum(expr("gap * (ca * (na - ca))")).as("sxx"),
            sum(expr("gap * (cb * (nb - cb))")).as("syy"))
          .selectExpr("na", "nb",
            "CAST(sxy AS BIGINT) AS sum_cross_abs",
            """round(CAST('2.0' AS DOUBLE) * CAST(sxy AS DOUBLE)
              |/ (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
              |- CAST('2.0' AS DOUBLE) * CAST(sxx AS DOUBLE)
              |/ (CAST(na AS DOUBLE) * CAST(na AS DOUBLE))
              |- CAST('2.0' AS DOUBLE) * CAST(syy AS DOUBLE)
              |/ (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
              |AS energy""".stripMargin)
      },
      Some("""WITH v AS (SELECT lang = 'en' AS isA, n_chars AS v, doc_id
             |          FROM documents),
             |tot AS (SELECT CAST(sum(CASE WHEN isA THEN 1 ELSE 0 END)
             |                 AS BIGINT) AS na,
             |               CAST(sum(CASE WHEN isA THEN 0 ELSE 1 END)
             |                 AS BIGINT) AS nb
             |        FROM v),
             |sweep AS (
             |  SELECT CAST(sum(CASE WHEN isA THEN 1 ELSE 0 END)
             |           OVER w AS BIGINT) AS ca,
             |         CAST(sum(CASE WHEN isA THEN 0 ELSE 1 END)
             |           OVER w AS BIGINT) AS cb,
             |         lead(v, 1) OVER (ORDER BY v, doc_id) - v AS gap
             |  FROM v
             |  WINDOW w AS (ORDER BY v, doc_id ROWS UNBOUNDED PRECEDING)),
             |m AS (SELECT na, nb,
             |             sum(CAST(gap AS HUGEINT)
             |                 * (ca * (nb - cb) + cb * (na - ca))) AS sxy,
             |             sum(CAST(gap AS HUGEINT) * (ca * (na - ca)))
             |               AS sxx,
             |             sum(CAST(gap AS HUGEINT) * (cb * (nb - cb)))
             |               AS syy
             |      FROM sweep CROSS JOIN tot
             |      WHERE gap IS NOT NULL GROUP BY 1, 2)
             |SELECT na, nb, CAST(sxy AS BIGINT) AS sum_cross_abs,
             |       round(CAST('2.0' AS DOUBLE) * CAST(sxy AS DOUBLE)
             |         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
             |       - CAST('2.0' AS DOUBLE) * CAST(sxx AS DOUBLE)
             |         / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE))
             |       - CAST('2.0' AS DOUBLE) * CAST(syy AS DOUBLE)
             |         / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)), 6)
             |         AS energy
             |FROM m""".stripMargin)),

    // ── Jensen–Shannon divergence of each source's word distribution
    //    vs the REST of the corpus — "which source is most atypical".
    //    JS = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2; every log argument is
    //    a positive integer rational (log₂(a/b) = log2E6(a)−log2E6(b)
    //    on the shared fixed-point table), so both engines quantize
    //    identically. The grid is sources × vocab (tiny) built from
    //    broadcast margins; the corpus is scanned once.
    QueryDef("q_js_source",
      (s, d) => {
        val sc = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // margins + the grid reuse it
        val wt = sc.groupBy(col("word")).agg(sum(col("c")).as("ct"))
        val st = sc.groupBy(col("source")).agg(sum(col("c")).as("ns"))
        val nt = st.agg(sum(col("ns")).as("n_tot"))
        val grid = st.crossJoin(broadcast(wt)).crossJoin(broadcast(nt))
          .join(sc, Seq("source", "word"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
          .withColumn("nr", expr("n_tot - ns"))
          .withColumn("cr", expr("ct - c"))
          .withColumn("b", expr("c * nr + cr * ns"))
          .withColumn("lb", Bm25.log2E6(col("b")))
          // CASE keeps log2E6 off zero arguments (lazy branches)
          .withColumn("tp", when(col("c") > 0,
            col("c") * (Bm25.log2E6(expr("2 * c * nr")) - col("lb")))
            .otherwise(lit(0L)))
          .withColumn("tq", when(col("cr") > 0,
            col("cr") * (Bm25.log2E6(expr("2 * cr * ns")) - col("lb")))
            .otherwise(lit(0L)))
        grid.groupBy(col("source"), col("ns"), col("nr"))
          .agg(sum(col("tp")).as("sp"), sum(col("tq")).as("sq"))
          .selectExpr("source", "ns AS n_words",
            sdiv(s"${sdiv("sp", "ns")} + ${sdiv("sq", "nr")}", "2") +
              " AS js_e6")
      },
      Some {
        val la = Bm25.log2E6Sql("2 * c * nr")
        val lb = Bm25.log2E6Sql("b")
        val lc = Bm25.log2E6Sql("2 * cr * ns")
        s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
           |           FROM documents),
           |sc AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
           |       FROM w WHERE word <> '' GROUP BY 1, 2),
           |wt AS (SELECT word, CAST(sum(c) AS BIGINT) AS ct FROM sc GROUP BY 1),
           |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sc GROUP BY 1),
           |nt AS (SELECT CAST(sum(ns) AS BIGINT) AS n_tot FROM st),
           |grid AS (SELECT st.source, st.ns, wt.word, wt.ct,
           |                coalesce(sc.c, 0) AS c,
           |                n_tot - st.ns AS nr,
           |                wt.ct - coalesce(sc.c, 0) AS cr
           |         FROM st CROSS JOIN wt CROSS JOIN nt
           |         LEFT JOIN sc ON sc.source = st.source AND sc.word = wt.word),
           |t AS (SELECT source, ns, nr, c, cr, c * nr + cr * ns AS b
           |      FROM grid),
           |terms AS (SELECT source, ns, nr,
           |                 CASE WHEN c > 0
           |                   THEN c * ($la - $lb) ELSE 0 END AS tp,
           |                 CASE WHEN cr > 0
           |                   THEN cr * ($lc - $lb) ELSE 0 END AS tq
           |          FROM t),
           |agg AS (SELECT source, ns, nr, CAST(sum(tp) AS BIGINT) AS sp,
           |               CAST(sum(tq) AS BIGINT) AS sq
           |        FROM terms GROUP BY 1, 2, 3)
           |SELECT source, ns AS n_words,
           |       ${sdivSql(s"${sdivSql("sp", "ns")} + ${sdivSql("sq", "nr")}",
                     "2")} AS js_e6
           |FROM agg""".stripMargin
      }),

    /* Hellinger + total-variation (`q_hellinger_tv`): per source pair,
     * TV = ½Σ|p−q| and the Bhattacharyya coefficient Σ√(p·q) over the
     * 5-language distribution, Hellinger² = 1 − BC. Probabilities are
     * e6 integers; √(p_e6·q_e6) is a PER-ELEMENT scalar (portable)
     * rounded to an integer BEFORE the cross-row sum — the only way a
     * multi-term irrational sum is engine-deterministic. Dense
     * source×lang grid built by a bounded cross join so absent
     * languages contribute their full one-sided mass. */
    // ── Hellinger² + TV per source pair over language distributions.
    QueryDef("q_hellinger_tv",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val counts = docs.groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // grid fill + totals
        val tots = counts.groupBy(col("source")).agg(sum(col("c")).as("t"))
        val grid = counts.select(col("source")).distinct()
          .crossJoin(counts.select(col("lang")).distinct())
        val probs = grid
          .join(counts, Seq("source", "lang"), "left")
          .join(tots, "source")
          .selectExpr("source", "lang",
            "coalesce(c, 0L) * 1000000 div t AS p")
          .localCheckpoint(false) // both sides of the pair join
        probs.select(col("source").as("s1"), col("lang"),
            col("p").as("p1"))
          .join(probs.select(col("source").as("s2"), col("lang"),
            col("p").as("p2")), "lang")
          .where(col("s1") < col("s2"))
          .groupBy(col("s1"), col("s2"))
          .agg(sum(expr("abs(p1 - p2)")).as("stv"),
            sum(expr("CAST(round(sqrt(CAST(p1 * p2 AS DOUBLE)))" +
              " AS BIGINT)")).as("bc_e6"))
          .selectExpr("s1", "s2", "stv div 2 AS tv_e6", "bc_e6",
            "1000000 - bc_e6 AS h2_e6")
      },
      Some("""WITH counts AS (
             |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
             |  FROM documents GROUP BY 1, 2),
             |tots AS (SELECT source, CAST(sum(c) AS BIGINT) AS t
             |         FROM counts GROUP BY 1),
             |grid AS (SELECT a.source AS source, b.lang AS lang
             |         FROM (SELECT DISTINCT source FROM counts) a
             |         CROSS JOIN (SELECT DISTINCT lang FROM counts) b),
             |probs AS (SELECT g.source, g.lang,
             |            coalesce(c.c, 0) * 1000000 // t.t AS p
             |          FROM grid g
             |          LEFT JOIN counts c ON c.source = g.source
             |            AND c.lang = g.lang
             |          JOIN tots t ON t.source = g.source)
             |SELECT a.source AS s1, b.source AS s2,
             |       CAST(sum(abs(a.p - b.p)) // 2 AS BIGINT) AS tv_e6,
             |       CAST(sum(CAST(round(sqrt(CAST(a.p * b.p AS DOUBLE)))
             |         AS BIGINT)) AS BIGINT) AS bc_e6,
             |       1000000 - CAST(sum(CAST(round(sqrt(
             |         CAST(a.p * b.p AS DOUBLE))) AS BIGINT)) AS BIGINT)
             |         AS h2_e6
             |FROM probs a JOIN probs b ON b.lang = a.lang
             |  AND a.source < b.source
             |GROUP BY 1, 2""".stripMargin)),

    /* Sinkhorn plan (`q_sinkhorn_plan`): two row/column scaling
     * iterations toward the region×segment transport plan between the
     * order-count marginals, on a bounded 5×5 matrix. The kernel is
     * the rational Cauchy kernel 1e6/(1+|i−j|) (deterministic integer —
     * a Gibbs kernel would need libm exp; the SCALING ALGEBRA, which is
     * what the operator demonstrates, is kernel-agnostic). Each
     * half-iteration is one bounded groupBy + a broadcast join-back;
     * marginal L1 errors after each pass are the convergence read. */
    // ── Two Sinkhorn iterations on the region×segment matrix.
    QueryDef("q_sinkhorn_plan",
      (s, d) => {
        val (rowM, segIdx) = sinkhornAxes(s, d)
        // kernel grid: K = 1e6 div (1 + |rg − sj|), plan p0 = K
        val grid = rowM.crossJoin(broadcast(segIdx))
          .selectExpr("rg", "seg", "r", "cm",
            "1000000 div (1 + abs(rg - sj)) AS p")
        sinkhornPlan(grid)
      },
      Some(s"""WITH $sinkhornAxesSql,
             |grid AS (SELECT rg, seg, r, cm,
             |           CAST(1000000 // (1 + abs(rg - sj)) AS HUGEINT)
             |             AS p
             |         FROM rm CROSS JOIN si),
             |$sinkhornIterSql""".stripMargin)),

    /* Gibbs-kernel Sinkhorn (`q_sinkhorn_gibbs`): the entropic-OT-
     * faithful kernel K = e^(−cost/ε) = 2^(−cost·log₂e/ε) through the
     * integer 2^(−x) ladder ([[Sketches.pow2NegE6Expr]]) — replacing
     * q_sinkhorn_plan's rational placeholder kernel; same two
     * scaling iterations, same marginal-L1 convergence read, so the
     * two queries differ ONLY in the kernel (a controlled contrast). */
    // ── Sinkhorn with the entropic Gibbs kernel 2^(−cost·log₂e/ε).
    QueryDef("q_sinkhorn_gibbs",
      (s, d) => {
        val (rowM, segIdx) = sinkhornAxes(s, d)
        // ε = 2: exponent y = |rg−sj| · log₂e / 2 in e6 units
        val grid = rowM.crossJoin(broadcast(segIdx))
          .withColumn("y", expr("abs(rg - sj) * 1442695 div 2"))
          .withColumn("p", Sketches.pow2NegE6Expr("y"))
          .selectExpr("rg", "seg", "r", "cm", "p")
        sinkhornPlan(grid)
      },
      Some {
        val p0 = Sketches.pow2NegE6Sql("abs(rg - sj) * 1442695 // 2")
        s"""WITH $sinkhornAxesSql,
           |grid AS (SELECT rg, seg, r, cm,
           |           CAST($p0 AS HUGEINT) AS p
           |         FROM rm CROSS JOIN si),
           |$sinkhornIterSql""".stripMargin
      }),

    /* 1-D Wasserstein (`q_wasserstein_1d`): earth-mover distance between
     * the urgent-vs-relaxed order-value distributions on a bounded
     * thousand-dollar bucket axis. W₁ = Σ |F₁−F₂|·Δv over the sorted
     * axis, kept exact as Σ |cum₁·n₂ − cum₂·n₁|·gap div (n₁·n₂) — the
     * histogram form every sketch-based EMD uses at scale. */
    // ── 1-D Wasserstein between urgent (1-URGENT/2-HIGH) and relaxed
    //    order-value distributions, thousand-dollar buckets.
    QueryDef("q_wasserstein_1d",
      (s, d) => {
        val (g, tot) = urgentBuckets(s, d)
        val w = Window.orderBy(col("bucket"))
        g.crossJoin(broadcast(tot))
          .withColumn("cum_a", sum(col("ca")).over(w))
          .withColumn("cum_b", sum(col("cb")).over(w))
          .withColumn("gap",
            coalesce(lead(col("bucket"), 1).over(w) - col("bucket"), lit(0L)))
          .agg(count(lit(1)).as("n_buckets"), max(col("na")).as("na"),
            max(col("nb")).as("nb"),
            sum(expr(s"abs(CAST(cum_a AS $dec) * nb" +
              s" - CAST(cum_b AS $dec) * na) * gap")).as("s"))
          .selectExpr("na", "nb", "n_buckets",
            s"CAST(s * 1000000 div (CAST(na AS $dec) * nb) AS BIGINT)" +
              " AS w1_buckets_e6")
      },
      Some(s"""WITH $urgentBucketsSql,
             |c AS (SELECT bucket, ca, cb, na, nb,
             |        sum(ca) OVER (ORDER BY bucket) AS cum_a,
             |        sum(cb) OVER (ORDER BY bucket) AS cum_b,
             |        coalesce(lead(bucket) OVER (ORDER BY bucket)
             |          - bucket, 0) AS gap
             |      FROM g CROSS JOIN tot),
             |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
             |          max(na) AS na, max(nb) AS nb,
             |          sum(abs(CAST(cum_a AS HUGEINT) * nb
             |            - CAST(cum_b AS HUGEINT) * na) * gap) AS s
             |        FROM c)
             |SELECT na, nb, n_buckets,
             |       CAST(s * 1000000 // (CAST(na AS HUGEINT) * nb)
             |         AS BIGINT) AS w1_buckets_e6
             |FROM agg""".stripMargin)),

    /* Linear-kernel MMD (`q_mmd_linear`): ‖μ₀−μ₁‖² between label-0 and
     * label-1 embedding clouds — the distribution-shift statistic of
     * two-sample testing. Per-element e4 quantization (the portable
     * per-scalar round) keeps every per-dim sum integer; the closing
     * ratio is one decimal division. */
    // ── Linear-kernel MMD² between label-0 and label-1 embeddings.
    QueryDef("q_mmd_linear",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .filter(col("label").isin(0, 1))
          .select(col("label"),
            expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
              "x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))").as("v"))
          .localCheckpoint(false) // shared by the dim sums + group counts
        val n = e.groupBy()
          .agg(sum(when(col("label") === 0, 1L).otherwise(0L)).as("n0"),
            sum(when(col("label") === 1, 1L).otherwise(0L)).as("n1"))
        val dims = e.select(col("label"), posexplode(col("v")))
          .groupBy(col("pos"))
          .agg(sum(when(col("label") === 0, col("col")).otherwise(0L))
            .as("s0"),
            sum(when(col("label") === 1, col("col")).otherwise(0L))
              .as("s1"))
        dims.crossJoin(broadcast(n))
          .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
            sum(expr(s"(CAST(s0 AS $dec) * n1 - CAST(s1 AS $dec) * n0)" +
              s" * (CAST(s0 AS $dec) * n1 - CAST(s1 AS $dec) * n0)"))
              .as("t"))
          .selectExpr("n0", "n1",
            s"CAST(t div (CAST(n0 AS $dec) * n1 * n0 * n1 * 100)" +
              " AS BIGINT) AS mmd2_e6")
      },
      Some("""WITH e AS (
             |  SELECT label,
             |         list_transform(CAST(embedding AS DOUBLE[]),
             |           x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS v
             |  FROM embeddings WHERE label IN (0, 1)),
             |n AS (SELECT CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END)
             |               AS BIGINT) AS n0,
             |             CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)
             |               AS BIGINT) AS n1 FROM e),
             |ex AS (SELECT label, unnest(v) AS x,
             |              unnest(range(1, len(v) + 1)) AS i FROM e),
             |dims AS (SELECT i,
             |           CAST(sum(CASE WHEN label = 0 THEN x ELSE 0 END)
             |             AS BIGINT) AS s0,
             |           CAST(sum(CASE WHEN label = 1 THEN x ELSE 0 END)
             |             AS BIGINT) AS s1
             |         FROM ex GROUP BY 1),
             |agg AS (SELECT max(n0) AS n0, max(n1) AS n1,
             |          sum((CAST(s0 AS HUGEINT) * n1
             |               - CAST(s1 AS HUGEINT) * n0)
             |            * (CAST(s0 AS HUGEINT) * n1
             |               - CAST(s1 AS HUGEINT) * n0)) AS t
             |        FROM dims CROSS JOIN n)
             |SELECT n0, n1,
             |       CAST(t // (CAST(n0 AS HUGEINT) * n1 * n0 * n1 * 100)
             |         AS BIGINT) AS mmd2_e6
             |FROM agg""".stripMargin)),

    /* Jensen–Shannon divergence (`q_jsd_buckets`): symmetric drift
     * between urgent/relaxed order-value bucket distributions, in BITS:
     * p_i/m_i = 2·ca·nb/(ca·nb + cb·na) keeps every log argument an
     * exact integer ratio, so JSD closes as integer log₂ sums — the
     * same fixed point as q_kl_vocab, no doubles anywhere. */
    // ── Jensen–Shannon divergence (bits) between urgent/relaxed
    //    order-value bucket distributions.
    QueryDef("q_jsd_buckets",
      (s, d) => {
        val (g, tot) = urgentBuckets(s, d)
        // log arguments stay BIGINT (2·c·n ≤ ~10¹⁸ headroom; the shared
        // log₂ shifts need an integral type in both engines)
        val t = g.crossJoin(broadcast(tot))
          .withColumn("mnum", expr("ca * nb + cb * na"))
          // p_i/m_i = 2·ca·nb / mnum ; q_i/m_i = 2·cb·na / mnum
          .withColumn("ta",
            when(col("ca") > 0,
              expr(s"CAST(ca AS $dec)") *
                (Bm25.log2E6(expr("2L * ca * nb")) -
                  Bm25.log2E6(col("mnum")))).otherwise(lit(0L)))
          .withColumn("tb",
            when(col("cb") > 0,
              expr(s"CAST(cb AS $dec)") *
                (Bm25.log2E6(expr("2L * cb * na")) -
                  Bm25.log2E6(col("mnum")))).otherwise(lit(0L)))
        // each KL is ≥ 0 exactly; the 5-bit mantissa can dip a hair
        // below zero near 0 — clamp so the output can never read as a
        // (nonsensical) negative divergence
        t.agg(count(lit(1)).as("n_buckets"), max(col("na")).as("na"),
            max(col("nb")).as("nb"),
            greatest(sum(col("ta")), lit(0L)).as("sa"),
            greatest(sum(col("tb")), lit(0L)).as("sb"))
          .selectExpr("na", "nb", "n_buckets",
            s"CAST((sa div CAST(na AS $dec)" +
              s" + sb div CAST(nb AS $dec)) div 2 AS BIGINT) AS jsd_e6")
      },
      Some {
        val la = Bm25.log2E6Sql("2 * ca * nb")
        val lb = Bm25.log2E6Sql("2 * cb * na")
        val lm = Bm25.log2E6Sql("mnum")
        s"""WITH $urgentBucketsSql,
           |c AS (SELECT bucket, ca, cb, na, nb,
           |        ca * nb + cb * na AS mnum
           |      FROM g CROSS JOIN tot),
           |terms AS (SELECT na, nb,
           |            CASE WHEN ca > 0 THEN
           |              CAST(ca AS HUGEINT) * ($la - $lm) ELSE 0 END
           |              AS ta,
           |            CASE WHEN cb > 0 THEN
           |              CAST(cb AS HUGEINT) * ($lb - $lm) ELSE 0 END
           |              AS tb
           |          FROM c),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           |          max(na) AS na, max(nb) AS nb,
           |          greatest(sum(ta), 0) AS sa, greatest(sum(tb), 0)
           |            AS sb
           |        FROM terms)
           |SELECT na, nb, n_buckets,
           |       CAST((sa // CAST(na AS HUGEINT)
           |         + sb // CAST(nb AS HUGEINT)) // 2 AS BIGINT)
           |         AS jsd_e6
           |FROM agg""".stripMargin
      }),

    /* Jensen–Shannon divergence (`q_js_divergence`): the SYMMETRIC,
     * bounded KL companion to q_kl_vocab — returned-vs-kept lineitems
     * compared over quantity deciles. The per-cell log ratio
     * (p_i/P)/m_i = 2·p_i·Q/(p_i·Q+q_i·P) is a BIGINT ratio, so both
     * one-sided KL(·‖M) legs and the JSD ride the shared integer log₂;
     * the weighted close clears e6 through decimal headroom. */
    // ── Jensen–Shannon divergence, returned vs kept quantity shape.
    QueryDef("q_js_divergence",
      (s, d) => {
        val cells = Tables.lineitem(s, d)
          .select(expr("least(CAST(floor(l_quantity + 0.5) AS BIGINT)" +
            " div 10, 5)").as("i"), col("l_returnflag").as("rf"))
          .groupBy(col("i"))
          .agg(sum(when(col("rf") === "R", 1L).otherwise(0L)).as("p"),
            sum(when(col("rf") =!= "R", 1L).otherwise(0L)).as("q"))
          .localCheckpoint(false) // ≤ 6 cells
        val tot = cells.agg(sum(col("p")).as("pt"), sum(col("q")).as("qt"))
        val terms = cells.crossJoin(broadcast(tot))
          .withColumn("den", expr("p * qt + q * pt"))
          .withColumn("t1", when(col("p") === 0L, 0L).otherwise(
            col("p") * (Bm25.log2E6(expr("2 * p * qt")) -
              Bm25.log2E6(col("den")))))
          .withColumn("t2", when(col("q") === 0L, 0L).otherwise(
            col("q") * (Bm25.log2E6(expr("2 * q * pt")) -
              Bm25.log2E6(col("den")))))
        terms.agg(max(col("pt")).as("pt"), max(col("qt")).as("qt"),
            sum(col("t1")).as("s1"), sum(col("t2")).as("s2"))
          .selectExpr("pt", "qt",
            s"""CASE WHEN pt = 0 OR s1 IS NULL THEN NULL
               |WHEN s1 >= 0 THEN s1 div pt
               |ELSE -((-s1) div pt) END AS kl_pm_e6""".stripMargin,
            s"""CASE WHEN qt = 0 OR s2 IS NULL THEN NULL
               |WHEN s2 >= 0 THEN s2 div qt
               |ELSE -((-s2) div qt) END AS kl_qm_e6""".stripMargin,
            s"""CASE WHEN pt = 0 OR qt = 0 THEN NULL
               |WHEN CAST(qt AS $dec) * s1 + CAST(pt AS $dec) * s2 >= 0
               |THEN CAST((CAST(qt AS $dec) * s1 + CAST(pt AS $dec) * s2)
               |  div (CAST(pt AS $dec) * qt * 2) AS BIGINT)
               |ELSE -CAST((-(CAST(qt AS $dec) * s1
               |    + CAST(pt AS $dec) * s2))
               |  div (CAST(pt AS $dec) * qt * 2) AS BIGINT)
               |END AS jsd_e6""".stripMargin)
      },
      Some {
        def L(v: String) = s"CAST(${Bm25.log2E6Sql(v)} AS BIGINT)"
        rfCellsSql +
          s""",
             |tot AS (SELECT CAST(sum(p) AS BIGINT) AS pt,
             |          CAST(sum(q) AS BIGINT) AS qt FROM cells),
             |terms AS (SELECT pt, qt,
             |    CASE WHEN p = 0 THEN 0
             |    ELSE p * (${L("2 * p * qt")} - ${L("p * qt + q * pt")})
             |    END AS t1,
             |    CASE WHEN q = 0 THEN 0
             |    ELSE q * (${L("2 * q * pt")} - ${L("p * qt + q * pt")})
             |    END AS t2
             |  FROM cells CROSS JOIN tot),
             |sa AS (SELECT max(pt) AS pt, max(qt) AS qt,
             |         CAST(sum(t1) AS BIGINT) AS s1,
             |         CAST(sum(t2) AS BIGINT) AS s2
             |       FROM terms)
             |SELECT pt, qt,
             |  CASE WHEN pt = 0 OR s1 IS NULL THEN NULL
             |  WHEN s1 >= 0 THEN s1 // pt
             |  ELSE -((-s1) // pt) END AS kl_pm_e6,
             |  CASE WHEN qt = 0 OR s2 IS NULL THEN NULL
             |  WHEN s2 >= 0 THEN s2 // qt
             |  ELSE -((-s2) // qt) END AS kl_qm_e6,
             |  CASE WHEN pt = 0 OR qt = 0 THEN NULL
             |  WHEN CAST(qt AS HUGEINT) * s1 + CAST(pt AS HUGEINT) * s2
             |    >= 0
             |  THEN CAST((CAST(qt AS HUGEINT) * s1
             |      + CAST(pt AS HUGEINT) * s2)
             |    // (CAST(pt AS HUGEINT) * qt * 2) AS BIGINT)
             |  ELSE -CAST((-(CAST(qt AS HUGEINT) * s1
             |      + CAST(pt AS HUGEINT) * s2))
             |    // (CAST(pt AS HUGEINT) * qt * 2) AS BIGINT)
             |  END AS jsd_e6
             |FROM sa""".stripMargin
      }),

    /* Rényi spectrum (`q_renyi_entropy`): Hartley H₀, Shannon H₁,
     * collision H₂ and min-entropy H∞ of the part-popularity
     * distribution in one pass — H₂ = log₂(n²/Σc²) and H∞ =
     * log₂(n/max c) are pure BIGINT log₂ identities, H₁ via
     * n·H₁ = n·log₂ n − Σ c·log₂ c. The four-point spectrum is the
     * monotone sanity check H₀ ≥ H₁ ≥ H₂ ≥ H∞ downstream gates use. */
    // ── Rényi spectrum H0 ≥ H1 ≥ H2 ≥ Hmin of part popularity.
    QueryDef("q_renyi_entropy",
      (s, d) => {
        val freq = Tables.lineitem(s, d)
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
        freq.agg(count(lit(1)).as("dk"), sum(col("c")).as("n"),
            sum(col("c") * col("c")).as("c2"),
            max(col("c")).as("cm"),
            sum(col("c") * Bm25.log2E6(col("c"))).as("slc"))
          .withColumn("h0_e6", Bm25.log2E6(col("dk")))
          .withColumn("h1_e6",
            Bm25.log2E6(col("n")) - expr("slc div n"))
          .withColumn("h2_e6",
            Bm25.log2E6(expr("n * n")) - Bm25.log2E6(col("c2")))
          .withColumn("hmin_e6",
            Bm25.log2E6(col("n")) - Bm25.log2E6(col("cm")))
          .select(col("n"), col("dk"), col("h0_e6"), col("h1_e6"),
            col("h2_e6"), col("hmin_e6"))
      },
      Some {
        def L(v: String) = s"CAST(${Bm25.log2E6Sql(v)} AS BIGINT)"
        s"""WITH freq AS (
           |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
           |  FROM lineitem GROUP BY 1),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS dk,
           |          CAST(sum(c) AS BIGINT) AS n,
           |          CAST(sum(c * c) AS BIGINT) AS c2,
           |          CAST(max(c) AS BIGINT) AS cm,
           |          CAST(sum(c * ${L("c")}) AS BIGINT) AS slc
           |        FROM freq)
           |SELECT n, dk,
           |       ${L("dk")} AS h0_e6,
           |       ${L("n")} - slc // n AS h1_e6,
           |       ${L("n * n")} - ${L("c2")} AS h2_e6,
           |       ${L("n")} - ${L("cm")} AS hmin_e6
           |FROM agg""".stripMargin
      })
  )
}
