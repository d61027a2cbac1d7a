package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Dedup, Stats, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Agreement and reliability: kappa family, ICC, Cronbach, concordance,
  * method comparison, and paired-table symmetry tests. */
object AgreementQueries extends QueryCatalog {

  import Fixtures._

  /** first-vs-last line quantity band per order (the Bowker table). */
  private def bandPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        expr("least(CAST(floor(l_quantity + 0.5) AS BIGINT) div 10, 5)")
          .as("g"))
    val ends = li.groupBy(col("ok"))
      .agg(min(col("ln")).as("a"), max(col("ln")).as("b"))
    val fi = ends.join(li.select(col("ok"), col("ln"), col("g").as("i")),
      Seq("ok")).where(col("ln") === col("a")).select(col("ok"), col("i"))
    val la = ends.join(li.select(col("ok"), col("ln"), col("g").as("j")),
      Seq("ok")).where(col("ln") === col("b")).select(col("ok"), col("j"))
    fi.join(la, Seq("ok")).groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // ≤ 36 cells
  }

  private val bandPairsSql =
    """WITH li AS (
      |  SELECT l_orderkey AS ok, l_linenumber AS ln,
      |    least(CAST(floor(l_quantity + 0.5) AS BIGINT) // 10, 5) AS g
      |  FROM lineitem),
      |ends AS (SELECT ok, min(ln) AS a, max(ln) AS b FROM li GROUP BY 1),
      |fi AS (SELECT li.ok, li.g AS i FROM ends
      |       JOIN li ON li.ok = ends.ok AND li.ln = ends.a),
      |la AS (SELECT li.ok, li.g AS j FROM ends
      |       JOIN li ON li.ok = ends.ok AND li.ln = ends.b),
      |pairs AS (SELECT i, j, CAST(count(*) AS BIGINT) AS c
      |          FROM fi JOIN la ON fi.ok = la.ok GROUP BY 1, 2)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Cohen's kappa between the value-cents quality label and the
    //    same label on a deterministically jittered copy — two "raters"
    //    whose agreement is real but imperfect.
    QueryDef("q_cohens_kappa",
      (s, d) => Stats.cohensKappa(
        Tables.events(s, d)
          .withColumn("c", floor(col("value") * 100 + 0.5).cast("long"))
          .withColumn("c2", col("c") + (col("event_id") % 4001) - 2000)
          .select(
            when(col("c") < 10000L, "low").when(col("c") < 25000L, "mid")
              .otherwise("high").as("a"),
            when(col("c2") < 10000L, "low").when(col("c2") < 25000L, "mid")
              .otherwise("high").as("b")),
        "a", "b"),
      Some("""WITH e AS (SELECT CASE WHEN c < 10000 THEN 'low'
             |                      WHEN c < 25000 THEN 'mid' ELSE 'high' END AS a,
             |                 CASE WHEN c2 < 10000 THEN 'low'
             |                      WHEN c2 < 25000 THEN 'mid' ELSE 'high' END AS b
             |          FROM (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
             |                       CAST(floor(value * 100 + 0.5) AS BIGINT)
             |                         + (event_id % 4001) - 2000 AS c2
             |                FROM events)),
             |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2),
             |ra AS (SELECT a, CAST(sum(c) AS BIGINT) AS na FROM cells GROUP BY 1),
             |rb AS (SELECT b, CAST(sum(c) AS BIGINT) AS nb FROM cells GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
             |ag AS (SELECT CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0)
             |                   AS BIGINT) AS agree FROM cells),
             |pe AS (SELECT CAST(coalesce(sum(((na * nb) // n * 1000000) // n), 0)
             |                   AS BIGINT) AS pe_e6
             |       FROM ra JOIN rb ON a = b CROSS JOIN tot)
             |SELECT n, CAST(agree * 1000000 // n AS BIGINT) AS po_e6, pe_e6,
             |       CAST(CASE WHEN agree * 1000000 // n >= pe_e6
             |         THEN (agree * 1000000 // n - pe_e6) * 1000000
             |              // greatest(1000000 - pe_e6, 1)
             |         ELSE -((pe_e6 - agree * 1000000 // n) * 1000000
             |                // greatest(1000000 - pe_e6, 1))
             |       END AS BIGINT) AS kappa_e6
             |FROM ag CROSS JOIN tot CROSS JOIN pe""".stripMargin)),

    // ── Cronbach's α = k/(k−1)·(1 − Σ item-var / total-var); the n²
    //    scaling cancels, so both variance sides stay exact integers.
    QueryDef("q_cronbach_alpha",
      (s, d) => perOrder(s, d)
        .withColumn("t", col("x") + col("y") + col("z"))
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
          sum(col("z").cast(dec)).as("sz"), sum(col("t").cast(dec)).as("st"),
          sum(col("x").cast(dec) * col("x").cast(dec)).as("qx"),
          sum(col("y").cast(dec) * col("y").cast(dec)).as("qy"),
          sum(col("z").cast(dec) * col("z").cast(dec)).as("qz"),
          sum(col("t").cast(dec) * col("t").cast(dec)).as("qt"))
        .selectExpr("CAST(n AS BIGINT) AS n", "CAST(3 AS BIGINT) AS k",
          """round(CAST('1.5' AS DOUBLE) * (CAST('1.0' AS DOUBLE)
            | - (CAST(n * qx - sx * sx AS DOUBLE)
            |    + CAST(n * qy - sy * sy AS DOUBLE)
            |    + CAST(n * qz - sz * sz AS DOUBLE))
            |   / CAST(n * qt - st * st AS DOUBLE)), 6) AS alpha"""
            .stripMargin),
      Some(s"""WITH $perOrderSql,
              |w AS (SELECT *, x + y + z AS t FROM per),
              |mom AS (SELECT CAST(count(*) AS HUGEINT) AS n,
              |               CAST(sum(x) AS HUGEINT) AS sx,
              |               CAST(sum(y) AS HUGEINT) AS sy,
              |               CAST(sum(z) AS HUGEINT) AS sz,
              |               CAST(sum(t) AS HUGEINT) AS st,
              |               sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
              |                 AS qx,
              |               sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
              |                 AS qy,
              |               sum(CAST(z AS HUGEINT) * CAST(z AS HUGEINT))
              |                 AS qz,
              |               sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT))
              |                 AS qt
              |        FROM w)
              |SELECT CAST(n AS BIGINT) AS n, CAST(3 AS BIGINT) AS k,
              |       round(CAST('1.5' AS DOUBLE) * (CAST('1.0' AS DOUBLE)
              |         - (CAST(n * qx - sx * sx AS DOUBLE)
              |            + CAST(n * qy - sy * sy AS DOUBLE)
              |            + CAST(n * qz - sz * sz AS DOUBLE))
              |           / CAST(n * qt - st * st AS DOUBLE)), 6) AS alpha
              |FROM mom""".stripMargin)),

    // ── Fleiss' kappa: three deterministic raters tag each document
    //    long/short by different rules; exact n²-scaled agreement.
    QueryDef("q_fleiss_kappa",
      (s, d) => {
        val r = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            (col("n_chars") >= 500).as("r1"),
            (expr("length(text)") >= 480).as("r2"),
            (Dedup.hash48(col("doc_id").cast("string"), lit("rate"))
              % 1000000L < 500000L || col("n_chars") >= 600).as("r3"))
          .withColumn("kj", expr(
            "CAST(r1 AS INT) + CAST(r2 AS INT) + CAST(r3 AS INT)"))
        // P_i = (Σ_j n_ij² − k)/(k(k−1)); with k=3: n_long=kj, n_short=3−kj
        r.agg(count(lit(1)).cast(dec).as("n"),
            sum(expr("kj * kj + (3 - kj) * (3 - kj) - 3")).cast(dec)
              .as("agree_num"),
            sum(col("kj")).cast(dec).as("tot_long"))
          .selectExpr("CAST(n AS BIGINT) AS n_docs",
            // P̄ = agree_num/(n·6);  P̄e = p_long² + p_short²
            """round(CAST(agree_num AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('6.0' AS DOUBLE)), 6)
              |AS p_bar""".stripMargin,
            """round((CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))
              |* (CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))
              |+ (CAST('1.0' AS DOUBLE) - CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))
              |* (CAST('1.0' AS DOUBLE) - CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE))), 6)
              |AS p_e""".stripMargin,
            """round((CAST(agree_num AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('6.0' AS DOUBLE))
              |- ((CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))
              |* (CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))
              |+ (CAST('1.0' AS DOUBLE) - CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))
              |* (CAST('1.0' AS DOUBLE) - CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))))
              |/ (CAST('1.0' AS DOUBLE)
              |- ((CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))
              |* (CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))
              |+ (CAST('1.0' AS DOUBLE) - CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))
              |* (CAST('1.0' AS DOUBLE) - CAST(tot_long AS DOUBLE)
              |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE))))), 6)
              |AS kappa""".stripMargin)
      },
      Some {
        val h = PortableSql.hash48("CAST(doc_id AS VARCHAR)", "'rate'")
        val pl = """(CAST(tot_long AS DOUBLE)
                   |/ (CAST(n AS DOUBLE) * CAST('3.0' AS DOUBLE)))"""
          .stripMargin
        val pe = s"""($pl * $pl
                    |+ (CAST('1.0' AS DOUBLE) - $pl)
                    |* (CAST('1.0' AS DOUBLE) - $pl))""".stripMargin
        val pbar = """(CAST(agree_num AS DOUBLE)
                     |/ (CAST(n AS DOUBLE) * CAST('6.0' AS DOUBLE)))"""
          .stripMargin
        s"""WITH r AS (
           |  SELECT doc_id,
           |         (CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END)
           |         + (CASE WHEN length(text) >= 480 THEN 1 ELSE 0 END)
           |         + (CASE WHEN $h % 1000000 < 500000
           |                   OR n_chars >= 600 THEN 1 ELSE 0 END) AS kj
           |  FROM documents),
           |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
           |             CAST(sum(kj * kj + (3 - kj) * (3 - kj) - 3)
           |               AS HUGEINT) AS agree_num,
           |             CAST(sum(kj) AS HUGEINT) AS tot_long
           |      FROM r)
           |SELECT CAST(n AS BIGINT) AS n_docs,
           |       round($pbar, 6) AS p_bar,
           |       round($pe, 6) AS p_e,
           |       round(($pbar - $pe)
           |         / (CAST('1.0' AS DOUBLE) - $pe), 6) AS kappa
           |FROM m""".stripMargin
      }),

    // ── Kendall's W over three brand rankings (doubled midranks keep
    //    the deviation sum exact): W = 12·S₂/(m²·n(n²−1)·4) in e6.
    QueryDef("q_kendall_w",
      (s, d) => {
        val per = Tables.lineitem(s, d)
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand").as("g"))
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("m1"),
            sum(floor(col("l_quantity") + 0.5).cast("long")).as("m2"),
            countDistinct(col("l_orderkey")).as("m3"))
        def r2(c: String) =
          (lit(2L) * rank().over(Window.orderBy(col(c))).cast("long") +
            count(lit(1)).over(Window.partitionBy(col(c))) - 1L).as(s"r$c")
        val ranked = per.select(col("g"), r2("m1"), r2("m2"), r2("m3"))
          .withColumn("rsum2", expr("rm1 + rm2 + rm3"))
        ranked.agg(count(lit(1)).cast(dec).as("n"),
            sum(col("rsum2").cast(dec)).as("s"),
            sum(col("rsum2").cast(dec) * col("rsum2").cast(dec)).as("q"))
          .selectExpr("CAST(n AS BIGINT) AS n_items",
            "CAST(3 AS BIGINT) AS m_raters",
            // S₂ = Σ(R₂ − mean)² in doubled units → n·q − s² over n;
            // W = 12·(n·q − s²)/(n · 9 · n(n²−1) · 4) e6
            s"""CAST((n * q - s * s) * 12 * 1000000 div
               |(n * 9 * n * (n * n - 1) * 4) AS BIGINT) AS w_e6"""
              .stripMargin)
      },
      Some("""WITH per AS (
             |  SELECT p_brand AS g,
             |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS m1,
             |         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
             |           AS BIGINT) AS m2,
             |         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS m3
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1),
             |ranked AS (
             |  SELECT g,
             |         2 * CAST(rank() OVER (ORDER BY m1) AS BIGINT)
             |           + CAST(count(*) OVER (PARTITION BY m1) AS BIGINT)
             |           - 1
             |         + 2 * CAST(rank() OVER (ORDER BY m2) AS BIGINT)
             |           + CAST(count(*) OVER (PARTITION BY m2) AS BIGINT)
             |           - 1
             |         + 2 * CAST(rank() OVER (ORDER BY m3) AS BIGINT)
             |           + CAST(count(*) OVER (PARTITION BY m3) AS BIGINT)
             |           - 1 AS rsum2
             |  FROM per),
             |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             |             CAST(sum(rsum2) AS HUGEINT) AS s,
             |             sum(CAST(rsum2 AS HUGEINT)
             |                 * CAST(rsum2 AS HUGEINT)) AS q
             |      FROM ranked)
             |SELECT CAST(n AS BIGINT) AS n_items,
             |       CAST(3 AS BIGINT) AS m_raters,
             |       CAST((n * q - s * s) * 12 * 1000000 //
             |         (n * 9 * n * (n * n - 1) * 4) AS BIGINT) AS w_e6
             |FROM m""".stripMargin)),

    /* Paired-proportion and inter-rater agreement tests
     * (McNemar, Cohen's kappa) plus Benjamini–Hochberg FDR control — the
     * multiple-testing correction layer the per-group test queries feed. */

    // ── McNemar: paired binary outcomes per user (ever clicked vs ever
    //    purchased). Only the DISCORDANT cells b (click-only) and c
    //    (purchase-only) carry information; χ² = (b−c)²/(b+c)
    //    (uncorrected form; both engines share it). All-integer:
    //    (b−c)² ≥ 0 so the truncating division is engine-identical.
    QueryDef("q_mcnemar",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .agg(sum(expr("CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END")).as("b"),
          sum(expr("CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END")).as("c"))
        .selectExpr("CAST(b AS BIGINT) AS b", "CAST(c AS BIGINT) AS c",
          "(b - c) * (b - c) * 1000000 div greatest(b + c, 1) AS chi2_e6"),
      Some(s"""WITH $clickPurchaseUsersSql
             |SELECT CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS b,
             |       CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS c,
             |       CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
             |          - sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
             |         AS BIGINT)
             |       * CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
             |            - sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
             |         AS BIGINT) * 1000000
             |       // greatest(CAST(sum(CASE WHEN x <> y THEN 1 ELSE 0 END)
             |            AS BIGINT), 1) AS chi2_e6
             |FROM u""".stripMargin)),

    // ── Cohen's kappa between the DECLARED lang label and the langId
    //    heuristic's prediction — the chance-corrected summary of
    //    q_text_langid's confusion matrix (accuracy alone flatters a
    //    skewed label mix). κ = (po−pe)/(1−pe) in N²-scaled integers:
    //    num = diag·N − Σ row·col may be NEGATIVE (worse-than-chance),
    //    so the truncating division is sign-factored per the repo
    //    convention (SURVEY.md:152).
    QueryDef("q_cohen_kappa",
      (s, d) => {
        val cells = TextAnalysis.langId(Tables.documents(s, d))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(false) // margins + diagonal reuse the cells
        val margins = cells.groupBy(col("lang")).agg(sum(col("cnt")).as("rw"))
          .join(cells.groupBy(col("pred_lang")).agg(sum(col("cnt")).as("cl")),
            col("lang") === col("pred_lang"), "full")
          .select(coalesce(col("lang"), col("pred_lang")).as("l"),
            coalesce(col("rw"), lit(0L)).as("rw"),
            coalesce(col("cl"), lit(0L)).as("cl"))
        val stats = cells.agg(sum(col("cnt")).as("n"),
            sum(when(col("lang") === col("pred_lang"), col("cnt"))
              .otherwise(0L)).as("diag"))
          .crossJoin(broadcast(
            margins.agg(sum(expr("rw * cl")).as("rc"))))
        stats.selectExpr("CAST(n AS BIGINT) AS n",
          "CAST(diag AS BIGINT) AS n_agree",
          "diag * n * 1000000 div (n * n) AS po_e6",
          "rc * 1000000 div (n * n) AS pe_e6",
          // greatest guard: pe=1 (single-cell confusion) must not
          // divide by zero (Spark nulls, DuckDB errors — divergent)
          """CASE WHEN diag * n >= rc
            |  THEN (diag * n - rc) * 1000000 div greatest(n * n - rc, 1)
            |  ELSE -((rc - diag * n) * 1000000 div greatest(n * n - rc, 1))
            |END AS kappa_e6""".stripMargin)
      },
      Some {
        val en = TextAnalysis.stopwords.toMap.apply("en")
        val es = TextAnalysis.stopwords.toMap.apply("es")
        val de = TextAnalysis.stopwords.toMap.apply("de")
        s"""WITH h AS (SELECT lang,
           |   CAST(len(list_filter(ws, w -> list_contains(${inList(en)}, w))) AS BIGINT) AS hits_en,
           |   CAST(len(list_filter(ws, w -> list_contains(${inList(es)}, w))) AS BIGINT) AS hits_es,
           |   CAST(len(list_filter(ws, w -> list_contains(${inList(de)}, w))) AS BIGINT) AS hits_de
           |   FROM (SELECT lang, string_split(text, ' ') AS ws
           |         FROM documents) t),
           |p AS (SELECT lang,
           |             CASE WHEN hits_en + hits_es + hits_de = 0 THEN 'unknown'
           |                  WHEN hits_en >= hits_es AND hits_en >= hits_de THEN 'en'
           |                  WHEN hits_es >= hits_de THEN 'es'
           |                  ELSE 'de' END AS pred_lang
           |      FROM h),
           |cells AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS cnt
           |          FROM p GROUP BY 1, 2),
           |rm AS (SELECT lang AS l, CAST(sum(cnt) AS BIGINT) AS rw
           |       FROM cells GROUP BY 1),
           |cm AS (SELECT pred_lang AS l, CAST(sum(cnt) AS BIGINT) AS cl
           |       FROM cells GROUP BY 1),
           |mg AS (SELECT CAST(sum(coalesce(rw, 0) * coalesce(cl, 0)) AS BIGINT)
           |                AS rc
           |       FROM rm FULL JOIN cm USING (l)),
           |st AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
           |              CAST(sum(CASE WHEN lang = pred_lang THEN cnt
           |                       ELSE 0 END) AS BIGINT) AS diag
           |       FROM cells)
           |SELECT n, diag AS n_agree,
           |       diag * n * 1000000 // (n * n) AS po_e6,
           |       rc * 1000000 // (n * n) AS pe_e6,
           |       CASE WHEN diag * n >= rc
           |         THEN (diag * n - rc) * 1000000 // greatest(n * n - rc, 1)
           |         ELSE -((rc - diag * n) * 1000000 // greatest(n * n - rc, 1))
           |       END AS kappa_e6
           |FROM st CROSS JOIN mg""".stripMargin
      }),

    // ── Cochran's Q across k = 3 within-user binary "treatments"
    //    (ever viewed / clicked / purchased) — the k-way McNemar. With
    //    column totals C_j and row sums R_i:
    //    Q = (k−1)·(k·ΣC² − (ΣC)²) / (k·ΣR − ΣR²). The numerator is
    //    ≥ 0 by Cauchy–Schwarz, so the truncating ·1e6 division is
    //    engine-identical without sign-factoring; the denominator
    //    Σ R(k−R) is ≥ 0 and floored at 1.
    QueryDef("q_cochran_q",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("x1"),
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("x2"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x3"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("x1")).as("c1"), sum(col("x2")).as("c2"),
          sum(col("x3")).as("c3"),
          sum(expr("(x1 + x2 + x3) * (3 - x1 - x2 - x3)")).as("rden"))
        .selectExpr("CAST(n_users AS BIGINT) AS n_users",
          "CAST(c1 AS BIGINT) AS c_view", "CAST(c2 AS BIGINT) AS c_click",
          "CAST(c3 AS BIGINT) AS c_purchase",
          """2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)
            |     - (c1 + c2 + c3) * (c1 + c2 + c3)) * 1000000
            |  div greatest(rden, 1) AS q_e6""".stripMargin),
      Some("""WITH u AS (SELECT user_id,
             |                  max(CASE WHEN event_type = 'view'
             |                      THEN 1 ELSE 0 END) AS x1,
             |                  max(CASE WHEN event_type = 'click'
             |                      THEN 1 ELSE 0 END) AS x2,
             |                  max(CASE WHEN event_type = 'purchase'
             |                      THEN 1 ELSE 0 END) AS x3
             |           FROM events GROUP BY 1),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
             |             CAST(sum(x1) AS BIGINT) AS c1,
             |             CAST(sum(x2) AS BIGINT) AS c2,
             |             CAST(sum(x3) AS BIGINT) AS c3,
             |             CAST(sum((x1 + x2 + x3) * (3 - x1 - x2 - x3))
             |               AS BIGINT) AS rden
             |      FROM u)
             |SELECT n_users, c1 AS c_view, c2 AS c_click, c3 AS c_purchase,
             |       2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)
             |            - (c1 + c2 + c3) * (c1 + c2 + c3)) * 1000000
             |         // greatest(rden, 1) AS q_e6
             |FROM m""".stripMargin)),

    // ── One-way intraclass correlation ICC(1,1) of whole-dollar order
    //    values within nations: (MSB − MSW)/(MSB + (k0−1)·MSW) with the
    //    unbalanced-design group size k0 = (N − Σn²/N)/(J−1). Sums of
    //    squares follow the q_anova convention exactly — exact long
    //    moments per nation, the S²/n correction terms rounded through
    //    one deterministic IEEE double product — then the ICC close is
    //    a fixed-order double expression shared by both engines.
    QueryDef("q_icc",
      (s, d) => {
        val cells = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_nationkey").as("g"),
            expr("CAST(floor(o_totalprice + 0.5) AS BIGINT)").as("x"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
            sum(expr("x * x")).as("q_g"))
          .withColumn("term_c2", expr(
            """CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
              |  / CAST(n_g AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT)"""
              .stripMargin))
        cells
          .agg(count(lit(1)).as("j"), sum(col("n_g")).as("n"),
            sum(col("s_g")).as("s"), sum(col("q_g")).as("q"),
            sum(col("term_c2")).as("ssb_raw"),
            sum(expr("n_g * n_g")).as("sn2"))
          .selectExpr("CAST(j AS BIGINT) AS j", "CAST(n AS BIGINT) AS n",
            """CAST(ssb_raw - CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              |  / CAST(n AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT)
              |  AS BIGINT) AS ssb""".stripMargin,
            "CAST(q - ssb_raw AS BIGINT) AS ssw",
            """round(((CAST(ssb_raw AS DOUBLE)
              |    - floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              |            / CAST(n AS DOUBLE) + CAST('0.5' AS DOUBLE)))
              |   / CAST(j - 1 AS DOUBLE)
              |  - CAST(q - ssb_raw AS DOUBLE) / CAST(n - j AS DOUBLE))
              | / ((CAST(ssb_raw AS DOUBLE)
              |    - floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
              |            / CAST(n AS DOUBLE) + CAST('0.5' AS DOUBLE)))
              |   / CAST(j - 1 AS DOUBLE)
              |  + ((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE)
              |      / CAST(n AS DOUBLE)) / CAST(j - 1 AS DOUBLE)
              |     - CAST('1.0' AS DOUBLE))
              |    * CAST(q - ssb_raw AS DOUBLE) / CAST(n - j AS DOUBLE)),
              | 6) AS icc""".stripMargin)
      },
      Some("""WITH cells AS (SELECT c_nationkey AS g,
             |                      CAST(count(*) AS BIGINT) AS n_g,
             |                      CAST(sum(CAST(floor(o_totalprice + 0.5)
             |                        AS BIGINT)) AS BIGINT) AS s_g,
             |                      CAST(sum(CAST(floor(o_totalprice + 0.5)
             |                          AS BIGINT)
             |                        * CAST(floor(o_totalprice + 0.5)
             |                          AS BIGINT)) AS BIGINT) AS q_g
             |               FROM orders
             |               JOIN customer ON o_custkey = c_custkey
             |               GROUP BY 1),
             |t AS (SELECT n_g, s_g, q_g,
             |             CAST(floor(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
             |               / CAST(n_g AS DOUBLE) + CAST('0.5' AS DOUBLE))
             |               AS BIGINT) AS term_c2
             |      FROM cells),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS j,
             |             CAST(sum(n_g) AS BIGINT) AS n,
             |             CAST(sum(s_g) AS BIGINT) AS s,
             |             CAST(sum(q_g) AS BIGINT) AS q,
             |             CAST(sum(term_c2) AS BIGINT) AS ssb_raw,
             |             CAST(sum(n_g * n_g) AS BIGINT) AS sn2
             |      FROM t)
             |SELECT j, n,
             |       CAST(ssb_raw - CAST(floor(CAST(s AS DOUBLE)
             |           * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
             |           + CAST('0.5' AS DOUBLE)) AS BIGINT) AS BIGINT)
             |         AS ssb,
             |       CAST(q - ssb_raw AS BIGINT) AS ssw,
             |       round(((CAST(ssb_raw AS DOUBLE)
             |            - floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             |                    / CAST(n AS DOUBLE)
             |                    + CAST('0.5' AS DOUBLE)))
             |           / CAST(j - 1 AS DOUBLE)
             |          - CAST(q - ssb_raw AS DOUBLE)
             |            / CAST(n - j AS DOUBLE))
             |         / ((CAST(ssb_raw AS DOUBLE)
             |            - floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
             |                    / CAST(n AS DOUBLE)
             |                    + CAST('0.5' AS DOUBLE)))
             |           / CAST(j - 1 AS DOUBLE)
             |          + ((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE)
             |              / CAST(n AS DOUBLE)) / CAST(j - 1 AS DOUBLE)
             |             - CAST('1.0' AS DOUBLE))
             |            * CAST(q - ssb_raw AS DOUBLE)
             |            / CAST(n - j AS DOUBLE)), 6) AS icc
             |FROM m""".stripMargin)),

    // ── Linear-weighted κ between the order's priority class (rater A,
    //    ordinal 1..5) and its price quintile (rater B via ntile(5) —
    //    deterministic (totalprice, orderkey) order). κ_w = 1 −
    //    N·ΣwO / ΣwRC with w = |i−j|; the close is a sign-factored e6
    //    division (κ can be negative). The 5×5 cell grid plus margins
    //    are broadcast-sized.
    QueryDef("q_kappa_weighted",
      (s, d) => {
        val rated = Tables.orders(s, d)
          .select(substring(col("o_orderpriority"), 1, 1)
            .cast("long").as("a"),
            col("o_totalprice"), col("o_orderkey"))
          .withColumn("b", ntile(5).over(
            Window.orderBy(col("o_totalprice"), col("o_orderkey")))
            .cast("long"))
        val cells = rated.groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("o"))
          .localCheckpoint(false) // margins + the weighted folds
        val ra = cells.groupBy(col("a")).agg(sum(col("o")).as("r"))
        val cb = cells.groupBy(col("b")).agg(sum(col("o")).as("c"))
        val wo = cells.agg(sum(expr("abs(a - b) * o")).as("swo"),
          sum(col("o")).as("nn"))
        val wrc = ra.crossJoin(cb)
          .agg(sum(expr("abs(a - b) * r * c")).as("swrc"))
        wo.crossJoin(broadcast(wrc))
          .selectExpr("CAST(nn AS BIGINT) AS n",
            "CAST(swo AS BIGINT) AS sum_w_obs",
            "CAST(swrc AS BIGINT) AS sum_w_exp",
            """CASE WHEN swrc = 0 THEN CAST(NULL AS BIGINT)
              |WHEN swrc - nn * swo >= 0
              |  THEN (swrc - nn * swo) * 1000000 div swrc
              |ELSE -((nn * swo - swrc) * 1000000 div swrc)
              |END AS kappa_w_e6""".stripMargin)
      },
      Some("""WITH rated AS (
             |  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT)
             |           AS a,
             |         CAST(ntile(5) OVER (ORDER BY o_totalprice,
             |           o_orderkey) AS BIGINT) AS b
             |  FROM orders),
             |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
             |          FROM rated GROUP BY 1, 2),
             |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS r
             |       FROM cells GROUP BY 1),
             |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c
             |       FROM cells GROUP BY 1),
             |wo AS (SELECT CAST(sum(abs(a - b) * o) AS BIGINT) AS swo,
             |              CAST(sum(o) AS BIGINT) AS nn
             |       FROM cells),
             |wrc AS (SELECT CAST(sum(abs(a - b) * r * c) AS BIGINT)
             |                 AS swrc
             |        FROM ra CROSS JOIN cb)
             |SELECT nn AS n, swo AS sum_w_obs, swrc AS sum_w_exp,
             |       CASE WHEN swrc = 0 THEN CAST(NULL AS BIGINT)
             |            WHEN swrc - nn * swo >= 0
             |              THEN (swrc - nn * swo) * 1000000 // swrc
             |            ELSE -((nn * swo - swrc) * 1000000 // swrc)
             |       END AS kappa_w_e6
             |FROM wo CROSS JOIN wrc""".stripMargin)),

    /* Lin's CCC (`q_lins_ccc`): concordance correlation between the
     * billed line value (extendedprice) and the catalog-implied value
     * (quantity × retailprice) — precision×accuracy agreement, which
     * Pearson alone overstates when there is a systematic offset. All
     * moments at the same n²·cents² integer scale; one double close. */
    // ── Lin's concordance correlation: billed vs catalog line value.
    QueryDef("q_lins_ccc",
      (s, d) => {
        val m = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_retailprice"))),
            col("l_partkey") === col("p_partkey"))
          .selectExpr(
            "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x",
            """CAST(floor(l_quantity + 0.5) AS BIGINT)
              | * CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
              | AS y""".stripMargin)
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(expr(s"CAST(x AS $dec) * x")).as("qx"),
            sum(expr(s"CAST(y AS $dec) * y")).as("qy"),
            sum(expr(s"CAST(x AS $dec) * y")).as("qxy"))
        m.selectExpr("CAST(n AS BIGINT) AS n",
            s"CAST(n AS $dec) * qx - CAST(sx AS $dec) * sx AS cxx",
            s"CAST(n AS $dec) * qy - CAST(sy AS $dec) * sy AS cyy",
            s"CAST(n AS $dec) * qxy - CAST(sx AS $dec) * sy AS cxy",
            s"CAST(sx - sy AS $dec) * (sx - sy) AS msq")
          .selectExpr("n",
            """CASE WHEN cxx + cyy + msq = 0 THEN NULL
              |ELSE round(CAST('2.0' AS DOUBLE) * CAST(cxy AS DOUBLE)
              |  / CAST(cxx + cyy + msq AS DOUBLE), 6)
              |END AS ccc""".stripMargin,
            """CASE WHEN cxx = 0 OR cyy = 0 THEN NULL
              |ELSE round(CAST(cxy AS DOUBLE)
              |  / sqrt(CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)), 6)
              |END AS pearson_r""".stripMargin)
      },
      Some("""WITH b AS (
             |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             |           AS x,
             |         CAST(floor(l_quantity + 0.5) AS BIGINT)
             |           * CAST(floor(p_retailprice * 100 + 0.5)
             |             AS BIGINT) AS y
             |  FROM lineitem JOIN part ON p_partkey = l_partkey),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(x) AS HUGEINT) AS sx,
             |             CAST(sum(y) AS HUGEINT) AS sy,
             |             sum(CAST(x AS HUGEINT) * x) AS qx,
             |             sum(CAST(y AS HUGEINT) * y) AS qy,
             |             sum(CAST(x AS HUGEINT) * y) AS qxy
             |      FROM b),
             |c AS (SELECT n,
             |        CAST(n AS HUGEINT) * qx - sx * sx AS cxx,
             |        CAST(n AS HUGEINT) * qy - sy * sy AS cyy,
             |        CAST(n AS HUGEINT) * qxy - sx * sy AS cxy,
             |        (sx - sy) * (sx - sy) AS msq
             |      FROM m)
             |SELECT n,
             |       CASE WHEN cxx + cyy + msq = 0 THEN NULL
             |       ELSE round(CAST('2.0' AS DOUBLE) * CAST(cxy AS DOUBLE)
             |         / CAST(cxx + cyy + msq AS DOUBLE), 6)
             |       END AS ccc,
             |       CASE WHEN cxx = 0 OR cyy = 0 THEN NULL
             |       ELSE round(CAST(cxy AS DOUBLE)
             |         / sqrt(CAST(cxx AS DOUBLE) * CAST(cyy AS DOUBLE)),
             |         6) END AS pearson_r
             |FROM c""".stripMargin)),

    /* Bland–Altman (`q_bland_altman`): the companion limits-of-
     * agreement — mean difference ± 1.96σ as e6-rounded integer cents
     * BEFORE the outside-count comparison (two passes over one
     * checkpointed frame), plus the outside share in e6. */
    // ── Bland–Altman limits of agreement + outside share.
    QueryDef("q_bland_altman",
      (s, d) => {
        val diffs = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_retailprice"))),
            col("l_partkey") === col("p_partkey"))
          .selectExpr(
            """CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
              | - CAST(floor(l_quantity + 0.5) AS BIGINT)
              |   * CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
              | AS dd""".stripMargin)
          .localCheckpoint(false) // moments + outside count
        val lim = diffs.agg(count(lit(1)).as("n"), sum(col("dd")).as("sd"),
            sum(expr(s"CAST(dd AS $dec) * dd")).as("qd"))
          .selectExpr("n", "sd div n AS md_cents",
            s"""CAST(round(CAST('1.96' AS DOUBLE)
               | * sqrt(CAST(CAST(n AS $dec) * qd
               |     - CAST(sd AS $dec) * sd AS DOUBLE))
               | / CAST(n AS DOUBLE)) AS BIGINT) AS w_cents"""
              .stripMargin)
        diffs.crossJoin(broadcast(lim))
          .agg(max(col("n")).as("n"), max(col("md_cents")).as("md_cents"),
            max(col("w_cents")).as("w_cents"),
            sum(expr("CASE WHEN dd < md_cents - w_cents" +
              " OR dd > md_cents + w_cents THEN 1L ELSE 0L END"))
              .as("outside"))
          .selectExpr("n", "md_cents",
            "md_cents - w_cents AS loa_lo_cents",
            "md_cents + w_cents AS loa_hi_cents", "outside",
            "outside * 1000000 div n AS outside_e6")
      },
      Some("""WITH diffs AS (
             |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             |           - CAST(floor(l_quantity + 0.5) AS BIGINT)
             |             * CAST(floor(p_retailprice * 100 + 0.5)
             |               AS BIGINT) AS dd
             |  FROM lineitem JOIN part ON p_partkey = l_partkey),
             |lim AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |          CAST(sum(dd) AS BIGINT) // CAST(count(*)
             |            AS BIGINT) AS md_cents,
             |          CAST(round(CAST('1.96' AS DOUBLE)
             |            * sqrt(CAST(CAST(count(*) AS HUGEINT)
             |                * sum(CAST(dd AS HUGEINT) * dd)
             |              - CAST(sum(dd) AS HUGEINT) * sum(dd)
             |              AS DOUBLE))
             |            / CAST(count(*) AS DOUBLE)) AS BIGINT)
             |            AS w_cents
             |        FROM diffs)
             |SELECT n, md_cents,
             |       md_cents - w_cents AS loa_lo_cents,
             |       md_cents + w_cents AS loa_hi_cents,
             |       CAST(sum(CASE WHEN dd < md_cents - w_cents
             |                  OR dd > md_cents + w_cents THEN 1
             |                ELSE 0 END) AS BIGINT) AS outside,
             |       CAST(sum(CASE WHEN dd < md_cents - w_cents
             |                  OR dd > md_cents + w_cents THEN 1
             |                ELSE 0 END) AS BIGINT) * 1000000 // n
             |         AS outside_e6
             |FROM diffs CROSS JOIN lim
             |GROUP BY n, md_cents, w_cents""".stripMargin)),

    /* Quadratic-weighted kappa (`q_weighted_kappa`): chance-corrected
     * agreement between two 6-level ordinal reads of a line (quantity
     * decile vs discount band) with w_ij = (i−j)² — the metric ordinal
     * ML graders standardize on. κ_w = 1 − n·ΣwO / Σ(w·r·c) stays an
     * exact integer ratio on the bounded 6×6 table; sign-split e6
     * close (κ < 0 = worse than chance). */
    // ── Quadratic-weighted Cohen's kappa on the 6×6 band table.
    QueryDef("q_weighted_kappa",
      (s, d) => {
        val cells = Tables.lineitem(s, d)
          .select(expr("least(CAST(floor(l_quantity + 0.5) AS BIGINT)" +
            " div 10, 5)").as("i"),
            expr("least(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)" +
              " div 2, 5)").as("j"))
          .groupBy(col("i"), col("j")).agg(count(lit(1)).as("o"))
          .localCheckpoint(false) // ≤ 36 cells at any SF
        val n = cells.agg(sum(col("o")).as("n"))
        val wo = cells.agg(
          sum(expr("(i - j) * (i - j) * o")).as("swo"))
        val margins = cells.groupBy(col("i")).agg(sum(col("o")).as("r"))
          .crossJoin(broadcast(
            cells.groupBy(col("j")).agg(sum(col("o")).as("c"))))
          .agg(sum(expr(s"CAST((i - j) * (i - j) AS $dec) * r * c"))
            .as("swrc"))
        wo.crossJoin(broadcast(margins)).crossJoin(broadcast(n))
          .selectExpr("n", "swo", "CAST(swrc AS BIGINT) AS swrc",
            s"""CASE WHEN swrc = 0 THEN NULL
               |WHEN swrc >= CAST(n AS $dec) * swo
               |  THEN CAST((swrc - CAST(n AS $dec) * swo) * 1000000
               |    div swrc AS BIGINT)
               |  ELSE -CAST((CAST(n AS $dec) * swo - swrc) * 1000000
               |    div swrc AS BIGINT)
               |END AS kappa_w_e6""".stripMargin)
      },
      Some("""WITH cells AS (
             |  SELECT least(CAST(floor(l_quantity + 0.5) AS BIGINT)
             |           // 10, 5) AS i,
             |         least(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
             |           // 2, 5) AS j,
             |         CAST(count(*) AS BIGINT) AS o
             |  FROM lineitem GROUP BY 1, 2),
             |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
             |wo AS (SELECT CAST(sum((i - j) * (i - j) * o) AS BIGINT)
             |         AS swo FROM cells),
             |margins AS (SELECT sum(CAST((a.i - b.j) * (a.i - b.j)
             |                AS HUGEINT) * a.r * b.c) AS swrc
             |            FROM (SELECT i, sum(o) AS r FROM cells
             |                  GROUP BY 1) a
             |            CROSS JOIN (SELECT j, sum(o) AS c FROM cells
             |                        GROUP BY 1) b)
             |SELECT n, swo, CAST(swrc AS BIGINT) AS swrc,
             |       CASE WHEN swrc = 0 THEN NULL
             |       WHEN swrc >= CAST(n AS HUGEINT) * swo
             |         THEN CAST((swrc - CAST(n AS HUGEINT) * swo)
             |           * 1000000 // swrc AS BIGINT)
             |         ELSE -CAST((CAST(n AS HUGEINT) * swo - swrc)
             |           * 1000000 // swrc AS BIGINT)
             |       END AS kappa_w_e6
             |FROM wo CROSS JOIN margins CROSS JOIN n""".stripMargin)),

    /* Bowker symmetry (`q_bowker`): is the LAST line of an order drawn
     * from the same quantity band as the FIRST? χ² = Σ_{i<j}
     * (n_ij−n_ji)²/(n_ij+n_ji) over the 6×6 first→last decile table —
     * the multi-category McNemar (q_mcnemar is the 2×2 special case).
     * Per-pair terms are exact integer e6 divisions. */
    // ── Bowker symmetry: first-vs-last line quantity band per order.
    QueryDef("q_bowker",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
            expr("least(CAST(floor(l_quantity + 0.5) AS BIGINT)" +
              " div 10, 5)").as("g"))
        val ends = li.groupBy(col("ok"))
          .agg(min(col("ln")).as("a"), max(col("ln")).as("b"))
        val fi = ends.join(li.select(col("ok"), col("ln"),
            col("g").as("i")),
          Seq("ok")).where(col("ln") === col("a")).select(col("ok"),
          col("i"))
        val la = ends.join(li.select(col("ok"), col("ln"),
            col("g").as("j")),
          Seq("ok")).where(col("ln") === col("b")).select(col("ok"),
          col("j"))
        val pairs = fi.join(la, Seq("ok"))
          .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
        val canon = pairs.where(col("i") =!= col("j"))
          .groupBy(least(col("i"), col("j")).as("lo"),
            greatest(col("i"), col("j")).as("hi"))
          .agg(sum(when(col("i") < col("j"), col("c")).otherwise(0L))
            .as("nij"),
            sum(when(col("i") > col("j"), col("c")).otherwise(0L))
              .as("nji"))
        canon.where(col("nij") + col("nji") > 0L)
          .agg(count(lit(1)).as("df"),
            sum(expr("(nij - nji) * (nij - nji) * 1000000" +
              " div (nij + nji)")).as("chi2_e6"))
      },
      Some("""WITH li AS (
             |  SELECT l_orderkey AS ok, l_linenumber AS ln,
             |    least(CAST(floor(l_quantity + 0.5) AS BIGINT) // 10, 5)
             |      AS g
             |  FROM lineitem),
             |ends AS (SELECT ok, min(ln) AS a, max(ln) AS b
             |         FROM li GROUP BY 1),
             |fi AS (SELECT li.ok, li.g AS i FROM ends
             |       JOIN li ON li.ok = ends.ok AND li.ln = ends.a),
             |la AS (SELECT li.ok, li.g AS j FROM ends
             |       JOIN li ON li.ok = ends.ok AND li.ln = ends.b),
             |pairs AS (SELECT i, j, CAST(count(*) AS BIGINT) AS c
             |          FROM fi JOIN la ON fi.ok = la.ok GROUP BY 1, 2),
             |canon AS (SELECT least(i, j) AS lo, greatest(i, j) AS hi,
             |            CAST(sum(CASE WHEN i < j THEN c ELSE 0 END)
             |              AS BIGINT) AS nij,
             |            CAST(sum(CASE WHEN i > j THEN c ELSE 0 END)
             |              AS BIGINT) AS nji
             |          FROM pairs WHERE i <> j GROUP BY 1, 2)
             |SELECT CAST(count(*) AS BIGINT) AS df,
             |       CAST(sum((nij - nji) * (nij - nji) * 1000000
             |         // (nij + nji)) AS BIGINT) AS chi2_e6
             |FROM canon WHERE nij + nji > 0""".stripMargin)),

    /* Scott's π (`q_scott_pi`): chance-corrected first-vs-last line
     * band agreement per order, with POOLED-marginal chance (π) next to
     * per-rater-marginal chance (Cohen's κ) — the two classic Ae
     * conventions on one table, both exact integer e6. */
    // ── Scott's pi vs Cohen's kappa on the first/last band table.
    QueryDef("q_scott_pi",
      (s, d) => {
        val pairs = bandPairs(s, d)
        val rows = pairs.groupBy(col("i")).agg(sum(col("c")).as("ri"))
        val cols = pairs.groupBy(col("j")).agg(sum(col("c")).as("cj"))
        val marg = rows.join(cols, col("i") === col("j"), "full")
          .selectExpr("coalesce(i, j) AS g", "coalesce(ri, 0L) AS ri",
            "coalesce(cj, 0L) AS cj")
        val base = pairs.agg(sum(col("c")).as("n"),
          sum(when(col("i") === col("j"), col("c")).otherwise(0L))
            .as("agree"))
        val chance = marg.agg(
          sum(expr(s"CAST(ri + cj AS $dec) * (ri + cj)")).as("spool"),
          sum(expr(s"CAST(ri AS $dec) * cj")).as("sprod"))
        base.crossJoin(broadcast(chance))
          .selectExpr("n", "agree * 1000000 div n AS ao_e6",
            s"CAST(CAST(spool AS $dec) * 1000000 div (CAST(n AS $dec)" +
              " * n * 4) AS BIGINT) AS ae_pool_e6",
            s"CAST(CAST(sprod AS $dec) * 1000000 div (CAST(n AS $dec)" +
              " * n) AS BIGINT) AS ae_cohen_e6")
          .selectExpr("n", "ao_e6", "ae_pool_e6", "ae_cohen_e6",
            """CASE WHEN ae_pool_e6 >= 1000000 THEN NULL
              |WHEN ao_e6 >= ae_pool_e6
              |THEN (ao_e6 - ae_pool_e6) * 1000000
              |  div (1000000 - ae_pool_e6)
              |ELSE -((ae_pool_e6 - ao_e6) * 1000000
              |  div (1000000 - ae_pool_e6))
              |END AS pi_e6""".stripMargin,
            """CASE WHEN ae_cohen_e6 >= 1000000 THEN NULL
              |WHEN ao_e6 >= ae_cohen_e6
              |THEN (ao_e6 - ae_cohen_e6) * 1000000
              |  div (1000000 - ae_cohen_e6)
              |ELSE -((ae_cohen_e6 - ao_e6) * 1000000
              |  div (1000000 - ae_cohen_e6))
              |END AS kappa_e6""".stripMargin)
      },
      Some(bandPairsSql +
        """,
          |rows_ AS (SELECT i, CAST(sum(c) AS BIGINT) AS ri
          |          FROM pairs GROUP BY 1),
          |cols_ AS (SELECT j, CAST(sum(c) AS BIGINT) AS cj
          |          FROM pairs GROUP BY 1),
          |marg AS (SELECT coalesce(i, j) AS g,
          |           coalesce(ri, 0) AS ri, coalesce(cj, 0) AS cj
          |         FROM rows_ FULL JOIN cols_ ON i = j),
          |base AS (SELECT CAST(sum(c) AS BIGINT) AS n,
          |           CAST(sum(CASE WHEN i = j THEN c ELSE 0 END)
          |             AS BIGINT) AS agree FROM pairs),
          |chance AS (SELECT
          |    CAST(sum(CAST(ri + cj AS HUGEINT) * (ri + cj)) AS HUGEINT)
          |      AS spool,
          |    CAST(sum(CAST(ri AS HUGEINT) * cj) AS HUGEINT) AS sprod
          |  FROM marg),
          |k AS (SELECT n, agree * 1000000 // n AS ao_e6,
          |        CAST(CAST(spool AS HUGEINT) * 1000000
          |          // (CAST(n AS HUGEINT) * n * 4) AS BIGINT)
          |          AS ae_pool_e6,
          |        CAST(CAST(sprod AS HUGEINT) * 1000000
          |          // (CAST(n AS HUGEINT) * n) AS BIGINT)
          |          AS ae_cohen_e6
          |      FROM base CROSS JOIN chance)
          |SELECT n, ao_e6, ae_pool_e6, ae_cohen_e6,
          |       CASE WHEN ae_pool_e6 >= 1000000 THEN NULL
          |       WHEN ao_e6 >= ae_pool_e6
          |       THEN (ao_e6 - ae_pool_e6) * 1000000
          |         // (1000000 - ae_pool_e6)
          |       ELSE -((ae_pool_e6 - ao_e6) * 1000000
          |         // (1000000 - ae_pool_e6))
          |       END AS pi_e6,
          |       CASE WHEN ae_cohen_e6 >= 1000000 THEN NULL
          |       WHEN ao_e6 >= ae_cohen_e6
          |       THEN (ao_e6 - ae_cohen_e6) * 1000000
          |         // (1000000 - ae_cohen_e6)
          |       ELSE -((ae_cohen_e6 - ao_e6) * 1000000
          |         // (1000000 - ae_cohen_e6))
          |       END AS kappa_e6
          |FROM k""".stripMargin)),

    /* Gwet's AC1 (`q_gwet_ac1`): the third chance convention on the
     * first/last band agreement table — Ae = Σπ_g(1−π_g)/(K−1) stays
     * small under skewed marginals where π/κ collapse (the "kappa
     * paradox"); all exact integer e6 next to q_scott_pi's two. */
    // ── Gwet's AC1 on the first/last band agreement table.
    QueryDef("q_gwet_ac1",
      (s, d) => {
        val pairs = bandPairs(s, d)
        val rows = pairs.groupBy(col("i")).agg(sum(col("c")).as("ri"))
        val cols = pairs.groupBy(col("j")).agg(sum(col("c")).as("cj"))
        val marg = rows.join(cols, col("i") === col("j"), "full")
          .selectExpr("coalesce(ri, 0L) AS ri", "coalesce(cj, 0L) AS cj")
        val base = pairs.agg(sum(col("c")).as("n"),
          sum(when(col("i") === col("j"), col("c")).otherwise(0L))
            .as("agree"))
        val chance = marg.crossJoin(broadcast(base))
          .agg(max(col("n")).as("n"), max(col("agree")).as("agree"),
            count(lit(1)).as("k"),
            sum(expr(s"CAST(ri + cj AS $dec) * (2 * n - ri - cj)"))
              .as("spi"))
        chance
          .selectExpr("n", "k", "agree * 1000000 div n AS ao_e6",
            s"""CASE WHEN k < 2 THEN NULL
               |ELSE CAST(CAST(spi AS $dec) * 1000000
               |  div (CAST(n AS $dec) * n * 4 * (k - 1)) AS BIGINT)
               |END AS ae_e6""".stripMargin)
          .selectExpr("n", "k", "ao_e6", "ae_e6",
            """CASE WHEN ae_e6 IS NULL OR ae_e6 >= 1000000 THEN NULL
              |WHEN ao_e6 >= ae_e6
              |THEN (ao_e6 - ae_e6) * 1000000 div (1000000 - ae_e6)
              |ELSE -((ae_e6 - ao_e6) * 1000000 div (1000000 - ae_e6))
              |END AS ac1_e6""".stripMargin)
      },
      Some(bandPairsSql +
        """,
          |rows_ AS (SELECT i, CAST(sum(c) AS BIGINT) AS ri
          |          FROM pairs GROUP BY 1),
          |cols_ AS (SELECT j, CAST(sum(c) AS BIGINT) AS cj
          |          FROM pairs GROUP BY 1),
          |marg AS (SELECT coalesce(ri, 0) AS ri, coalesce(cj, 0) AS cj
          |         FROM rows_ FULL JOIN cols_ ON i = j),
          |base AS (SELECT CAST(sum(c) AS BIGINT) AS n,
          |           CAST(sum(CASE WHEN i = j THEN c ELSE 0 END)
          |             AS BIGINT) AS agree FROM pairs),
          |chance AS (SELECT CAST(sum(CAST(ri + cj AS HUGEINT)
          |               * (2 * n - ri - cj)) AS HUGEINT) AS spi,
          |             CAST(count(*) AS BIGINT) AS k,
          |             max(n) AS n, max(agree) AS agree
          |           FROM marg CROSS JOIN base),
          |k2 AS (SELECT n, k, agree * 1000000 // n AS ao_e6,
          |         CASE WHEN k < 2 THEN NULL
          |         ELSE CAST(CAST(spi AS HUGEINT) * 1000000
          |           // (CAST(n AS HUGEINT) * n * 4 * (k - 1)) AS BIGINT)
          |         END AS ae_e6
          |       FROM chance)
          |SELECT n, k, ao_e6, ae_e6,
          |       CASE WHEN ae_e6 IS NULL OR ae_e6 >= 1000000 THEN NULL
          |       WHEN ao_e6 >= ae_e6
          |       THEN (ao_e6 - ae_e6) * 1000000 // (1000000 - ae_e6)
          |       ELSE -((ae_e6 - ao_e6) * 1000000 // (1000000 - ae_e6))
          |       END AS ac1_e6
          |FROM k2""".stripMargin))
  )
}
