package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Classify, Ranking}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Classifier evaluation: confusion-matrix metrics, ROC/PR areas,
  * calibration, proper scores, and lift. */
object ModelEvalQueries extends QueryCatalog {

  import Fixtures._

  private val userSql =
    """SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
      |       CAST(count(*) AS BIGINT) AS activity,
      |       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |FROM events GROUP BY 1, 2""".stripMargin

  private def users(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)
      .groupBy(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
      .agg(count(lit(1)).as("activity"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))

  /** Band (0..10) and the positive flag for the threshold metrics. */
  private val bandCellsSql =
    """WITH cells AS (
      |  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS band,
      |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |           AS BIGINT) AS pos,
      |         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
      |           AS BIGINT) AS neg
      |  FROM lineitem GROUP BY 1)""".stripMargin

  private def bandCells(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .select(expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("band"),
        (col("l_returnflag") === "R").as("r"))
      .groupBy(col("band"))
      .agg(sum(when(col("r"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("r"), 0L).otherwise(1L)).as("neg"))

  /** The held-out fifth of [[users]] scored with its activity bucket's
    * train rate (p, e6), unseen buckets falling back to the global
    * train rate. */
  private def bucketScored(s: org.apache.spark.sql.SparkSession,
                           d: String) = {
    val u = users(s, d)
      .withColumn("bucket", expr("least(activity div 3, 9L)"))
      .localCheckpoint(false) // train rates + test scoring reuse it
    val train = u.where(expr("user_id % 5 < 4"))
    val rates = train.groupBy(col("bucket"))
      .agg(expr("sum(y) * 1000000 div count(*)").as("p_e6"))
    val fallback = train.agg(
      expr("sum(y) * 1000000 div count(*)").as("p0_e6"))
    u.where(expr("user_id % 5 = 4"))
      .join(broadcast(rates), Seq("bucket"), "left")
      .crossJoin(broadcast(fallback))
      .withColumn("p", coalesce(col("p_e6"), col("p0_e6")))
  }

  /** DuckDB twin of the train rates of [[bucketScored]]: CTEs `u`, `b`
    * (user_id, y, bucket), `rates` (bucket, p_e6), `fb` (p0_e6). */
  private val bucketRatesSql =
    s"""u AS ($userSql),
      |b AS (SELECT user_id, y, least(activity // 3, 9) AS bucket
      |      FROM u),
      |rates AS (SELECT bucket,
      |                 CAST(sum(y) AS BIGINT) * 1000000 // count(*)
      |                   AS p_e6
      |          FROM b WHERE user_id % 5 < 4 GROUP BY 1),
      |fb AS (SELECT CAST(sum(y) AS BIGINT) * 1000000 // count(*)
      |                AS p0_e6
      |       FROM b WHERE user_id % 5 < 4)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── ROC-AUC of doc length as an English-detector, by the tie-exact
    //    Mann–Whitney rank sum in doubled-rank integer units.
    QueryDef("q_auc_rank",
      (s, d) => graft.ops.Ranking.aucRank(
        Tables.documents(s, d).select(col("n_chars"),
          (col("lang") === "en").as("is_en")),
        "n_chars", "is_en"),
      Some("""WITH byval AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt,
             |                      CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pc
             |               FROM documents GROUP BY 1),
             |r AS (SELECT v, cnt, pc,
             |             CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
             |      FROM byval)
             |SELECT CAST(sum(pc) AS BIGINT) AS n_pos,
             |       CAST(sum(cnt - pc) AS BIGINT) AS n_neg,
             |       CAST(CASE WHEN sum(pc) = 0 OR sum(cnt - pc) = 0 THEN NULL
             |            ELSE (sum(pc * ((cum - cnt) * 2 + cnt + 1)) - sum(pc) * (sum(pc) + 1))
             |                 * 1000000 // (2 * sum(pc) * sum(cnt - pc))
             |            END AS BIGINT) AS auc_e6
             |FROM r""".stripMargin)),

    // ── Calibration audit (reliability diagram): doc length rescaled
    //    to [0,1] e6 as the "confidence" that a document is English,
    //    binned into deciles; per bin the confidence mean, empirical
    //    accuracy, and |gap| — the ECE terms.
    QueryDef("q_calibration_ece",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("n_chars"),
          when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
        val mx = docs.agg(max(col("n_chars")).as("mx"))
        docs.crossJoin(broadcast(mx))
          .withColumn("conf_e6", expr("n_chars * 1000000L div mx"))
          .withColumn("bin", expr("least(9L, conf_e6 * 10 div 1000000L)"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            expr("sum(conf_e6) div count(1)").as("conf_avg_e6"),
            expr("sum(is_en) * 1000000L div count(1)").as("acc_e6"))
          .withColumn("gap_e6", abs(col("acc_e6") - col("conf_avg_e6")))
      },
      Some("""WITH docs AS (SELECT n_chars,
             |                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
             |              FROM documents),
             |mx AS (SELECT max(n_chars) AS mx FROM docs),
             |sc AS (SELECT is_en, n_chars * 1000000 // mx AS conf_e6
             |       FROM docs CROSS JOIN mx),
             |b AS (SELECT is_en, conf_e6,
             |             least(9, conf_e6 * 10 // 1000000) AS bin FROM sc)
             |SELECT bin, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(conf_e6) // count(*) AS BIGINT) AS conf_avg_e6,
             |       CAST(sum(is_en) * 1000000 // count(*) AS BIGINT) AS acc_e6,
             |       CAST(abs(sum(is_en) * 1000000 // count(*)
             |                - sum(conf_e6) // count(*)) AS BIGINT) AS gap_e6
             |FROM b GROUP BY 1""".stripMargin)),

    // ── Per-class precision / recall / F1 in e6 over the shared
    //    Naive-Bayes confusion matrix (one derived aggregate on a
    //    k×k frame; the model pipeline is the shared one).
    QueryDef("q_confusion_metrics",
      (s, d) => {
        val conf = Classify.naiveBayesConfusion(
          Tables.documents(s, d), "doc_id", "lang", "text", 0L)
          .localCheckpoint(false) // k×k frame feeds 2 marginals
        val byLabel = conf.groupBy(col("label"))
          .agg(sum(col("n_docs")).as("n_label"))
        val byPred = conf.groupBy(col("pred"))
          .agg(sum(col("n_docs")).as("n_pred"))
        conf.filter(col("label") === col("pred"))
          .select(col("label").as("cls"), col("n_docs").as("tp"))
          .join(byLabel, col("cls") === col("label"), "right")
          .select(col("label").as("cls"),
            coalesce(col("tp"), lit(0L)).as("tp"), col("n_label"))
          .join(byPred, col("cls") === col("pred"), "left")
          .select(col("cls"), col("tp"), col("n_label"),
            coalesce(col("n_pred"), lit(0L)).as("n_pred"))
          .withColumn("precision_e6",
            expr("CASE WHEN n_pred = 0 THEN 0 "
              + "ELSE tp * 1000000 div n_pred END"))
          .withColumn("recall_e6",
            expr("CASE WHEN n_label = 0 THEN 0 "
              + "ELSE tp * 1000000 div n_label END"))
          .withColumn("f1_e6",
            expr("CASE WHEN precision_e6 + recall_e6 = 0 THEN 0 "
              + "ELSE 2 * precision_e6 * recall_e6 "
              + "div (precision_e6 + recall_e6) END"))
      },
      Some(s"""WITH conf AS (${ModelQueries.nbConfusionSql}),
              |bl AS (SELECT label, sum(n_docs) AS n_label
              |       FROM conf GROUP BY 1),
              |bp AS (SELECT pred, sum(n_docs) AS n_pred
              |       FROM conf GROUP BY 1),
              |tp AS (SELECT label AS cls, n_docs AS tp FROM conf
              |       WHERE label = pred),
              |j AS (
              |  SELECT bl.label AS cls, coalesce(tp.tp, 0) AS tp,
              |         bl.n_label, coalesce(bp.n_pred, 0) AS n_pred
              |  FROM bl LEFT JOIN tp ON tp.cls = bl.label
              |          LEFT JOIN bp ON bp.pred = bl.label),
              |pr AS (
              |  SELECT cls, tp, n_label, n_pred,
              |         CASE WHEN n_pred = 0 THEN 0
              |              ELSE tp * 1000000 // n_pred END AS precision_e6,
              |         CASE WHEN n_label = 0 THEN 0
              |              ELSE tp * 1000000 // n_label END AS recall_e6
              |  FROM j)
              |SELECT cls, CAST(tp AS BIGINT) AS tp,
              |       CAST(n_label AS BIGINT) AS n_label,
              |       CAST(n_pred AS BIGINT) AS n_pred,
              |       CAST(precision_e6 AS BIGINT) AS precision_e6,
              |       CAST(recall_e6 AS BIGINT) AS recall_e6,
              |       CAST(CASE WHEN precision_e6 + recall_e6 = 0 THEN 0
              |            ELSE 2 * precision_e6 * recall_e6
              |                 // (precision_e6 + recall_e6) END
              |            AS BIGINT) AS f1_e6
              |FROM pr""".stripMargin)),

    // ── Decile lift/gains per order-priority segment: rank orders by
    //    total-price cents (descending, orderkey tie-break so ntile is
    //    a total order in both engines), positives = finalized status,
    //    then cumulative capture and lift per decile. All windows are
    //    segment-PARTITIONED — no global sort at scale.
    QueryDef("q_lift_gains",
      (s, d) => {
        val o = Tables.orders(s, d).select(
          col("o_orderpriority").as("seg"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("pos"),
          col("o_orderkey").as("tie"))
        val dec = o.withColumn("decile",
          ntile(10).over(Window.partitionBy(col("seg"))
            .orderBy(col("cents").desc, col("tie"))).cast("long"))
        val g = dec.groupBy(col("seg"), col("decile"))
          .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("n_pos"))
        val wCum = Window.partitionBy(col("seg")).orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("seg"))
        g.withColumn("cum_pos", sum(col("n_pos")).over(wCum))
          .withColumn("cum_cnt", sum(col("cnt")).over(wCum))
          .withColumn("tot_pos", sum(col("n_pos")).over(wAll))
          .withColumn("tot_cnt", sum(col("cnt")).over(wAll))
          .selectExpr("seg", "decile", "cnt", "n_pos", "cum_pos",
            "CAST(cum_pos * 1000000 div greatest(tot_pos, 1) AS BIGINT) AS gain_e6",
            """CAST((cum_pos * tot_cnt * 1000000)
              |  div greatest(cum_cnt * tot_pos, 1) AS BIGINT) AS lift_e6""".stripMargin)
      },
      Some("""WITH o AS (SELECT o_orderpriority AS seg,
             |                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             |                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
             |                 o_orderkey AS tie
             |          FROM orders),
             |d AS (SELECT seg, pos, CAST(ntile(10) OVER
             |        (PARTITION BY seg ORDER BY cents DESC, tie) AS BIGINT) AS decile
             |      FROM o),
             |g AS (SELECT seg, decile, CAST(count(*) AS BIGINT) AS cnt,
             |             CAST(sum(pos) AS BIGINT) AS n_pos
             |      FROM d GROUP BY 1, 2),
             |c AS (SELECT seg, decile, cnt, n_pos,
             |             CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos,
             |             CAST(sum(cnt) OVER w AS BIGINT) AS cum_cnt,
             |             CAST(sum(n_pos) OVER (PARTITION BY seg) AS BIGINT) AS tot_pos,
             |             CAST(sum(cnt) OVER (PARTITION BY seg) AS BIGINT) AS tot_cnt
             |      FROM g WINDOW w AS (PARTITION BY seg ORDER BY decile
             |                          ROWS UNBOUNDED PRECEDING))
             |SELECT seg, decile, cnt, n_pos, cum_pos,
             |       CAST(cum_pos * 1000000 // greatest(tot_pos, 1) AS BIGINT) AS gain_e6,
             |       CAST((cum_pos * tot_cnt * 1000000)
             |         // greatest(cum_cnt * tot_pos, 1) AS BIGINT) AS lift_e6
             |FROM c""".stripMargin)),

    // ── PR-AUC of n_chars as an English-document detector — the same
    //    scoring as q_auc_rank so ROC vs PR read side by side.
    QueryDef("q_pr_auc",
      (s, d) => Ranking.prAuc(
        Tables.documents(s, d).select(col("n_chars"),
          (col("lang") === "en").as("is_en")),
        "n_chars", "is_en"),
      Some("""WITH byval AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt,
             |                      CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |                           AS BIGINT) AS pc
             |               FROM documents GROUP BY 1),
             |r AS (SELECT v, cnt, pc,
             |             CAST(sum(cnt) OVER w AS BIGINT) AS cum_cnt,
             |             CAST(sum(pc) OVER w AS BIGINT) AS cum_pos
             |      FROM byval WINDOW w AS (ORDER BY v DESC ROWS UNBOUNDED PRECEDING))
             |SELECT CAST(sum(pc) AS BIGINT) AS n_pos,
             |       CAST(sum(cnt - pc) AS BIGINT) AS n_neg,
             |       CAST(CASE WHEN sum(pc) = 0 THEN NULL
             |            ELSE sum(pc * (cum_pos * 1000000 // cum_cnt)) // sum(pc)
             |            END AS BIGINT) AS ap_e6
             |FROM r""".stripMargin)),

    /* Probabilistic-classifier evaluation — Brier score,
     * Youden-optimal ROC threshold, and expected calibration error — over
     * a deterministic binned-frequency model (train-split bucket rates
     * predict purchase; no logistic fit, so everything stays integer-exact
     * and oracle-portable).
     *
     * Shared model at (user, week) grain — per-user "ever purchased" is
     * ~1 everywhere (degenerate calibration), while weekly purchase
     * propensity spans 0.67→1.0 across activity buckets: activity =
     * events that week (feature), y = purchased that week (label). Train
     * = user_id % 5 < 4; the capped activity bucket's train purchase-rate
     * (e6) is the predicted probability. */

    // ── Brier score: mean squared error of the predicted probability
    //    vs the binary outcome, on the held-out fifth. Buckets capped
    //    (activity div 3, max 9) so the model frame is ≤10 rows and
    //    broadcasts; unseen buckets fall back to the global train rate.
    QueryDef("q_brier",
      (s, d) => {
        bucketScored(s, d)
          .agg(count(lit(1)).as("n_test"),
            expr("sum((p - y * 1000000) * (p - y * 1000000))").as("se"))
          .selectExpr("CAST(n_test AS BIGINT) AS n_test",
            "se div n_test AS brier_e12")
      },
      Some(s"""WITH $bucketRatesSql
              |SELECT CAST(count(*) AS BIGINT) AS n_test,
              |       CAST(sum((coalesce(p_e6, p0_e6) - y * 1000000)
              |                * (coalesce(p_e6, p0_e6) - y * 1000000))
              |         AS BIGINT) // count(*) AS brier_e12
              |FROM b LEFT JOIN rates USING (bucket) CROSS JOIN fb
              |WHERE user_id % 5 = 4""".stripMargin)),

    // ── Youden-optimal threshold: score = clicks that week; classify
    //    "will purchase this week" positive at s ≥ t. Cumulative TP/FP
    //    down the descending score axis (bounded: distinct weekly click
    //    counts), J = TPR − FPR (subtraction of exact e6 ratios — no
    //    negative division). Weekly grain keeps both classes populated.
    QueryDef("q_youden",
      (s, d) => {
        val u = Tables.events(s, d)
          .groupBy(col("user_id"),
            expr("unix_micros(ts) div 604800000000").as("wk"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("clicks"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("y"))
        val byScore = u.groupBy(col("clicks"))
          .agg(sum(col("y")).as("pos"),
            sum(lit(1L) - col("y")).as("neg"))
          .localCheckpoint(false) // axis + totals
        val tot = byScore.agg(sum(col("pos")).as("tp_all"),
          sum(col("neg")).as("fp_all"))
        val ord = Window.orderBy(col("clicks").desc)
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byScore.crossJoin(broadcast(tot))
          .withColumn("tp", sum(col("pos")).over(cum))
          .withColumn("fp", sum(col("neg")).over(cum))
          .withColumn("tpr_e6", expr("tp * 1000000 div greatest(tp_all, 1)"))
          .withColumn("fpr_e6", expr("fp * 1000000 div greatest(fp_all, 1)"))
          .withColumn("j_e6", col("tpr_e6") - col("fpr_e6"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("j_e6").desc, col("clicks"))))
          .where(col("rk") === 1)
          .select(col("clicks").as("threshold"), col("tp"), col("fp"),
            col("tpr_e6"), col("fpr_e6"), col("j_e6"))
      },
      Some("""WITH u AS (SELECT user_id,
             |                  epoch_us(ts) // 604800000000 AS wk,
             |                  CAST(sum(CASE WHEN event_type = 'click'
             |                    THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
             |                  max(CASE WHEN event_type = 'purchase'
             |                    THEN 1 ELSE 0 END) AS y
             |           FROM events GROUP BY 1, 2),
             |s AS (SELECT clicks, CAST(sum(y) AS BIGINT) AS pos,
             |             CAST(sum(1 - y) AS BIGINT) AS neg
             |      FROM u GROUP BY 1),
             |t AS (SELECT CAST(sum(pos) AS BIGINT) AS tp_all,
             |             CAST(sum(neg) AS BIGINT) AS fp_all FROM s),
             |c AS (SELECT clicks,
             |             CAST(sum(pos) OVER (ORDER BY clicks DESC
             |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
             |             CAST(sum(neg) OVER (ORDER BY clicks DESC
             |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp,
             |             tp_all, fp_all
             |      FROM s CROSS JOIN t),
             |j AS (SELECT clicks, tp, fp,
             |             tp * 1000000 // greatest(tp_all, 1) AS tpr_e6,
             |             fp * 1000000 // greatest(fp_all, 1) AS fpr_e6,
             |             tp * 1000000 // greatest(tp_all, 1)
             |               - fp * 1000000 // greatest(fp_all, 1) AS j_e6
             |      FROM c)
             |SELECT clicks AS threshold, tp, fp, tpr_e6, fpr_e6, j_e6
             |FROM (SELECT *, row_number() OVER (ORDER BY j_e6 DESC, clicks)
             |        AS rk FROM j)
             |WHERE rk = 1""".stripMargin)),

    // ── Expected calibration error: test predictions binned by
    //    confidence decile; per bin |accuracy − confidence|, weighted
    //    by bin mass. The reliability-diagram table + the ECE scalar
    //    (window total over the ≤10-bin axis) in one result.
    QueryDef("q_ece",
      (s, d) => {
        val bins = bucketScored(s, d)
          .groupBy(expr("least(p div 100000, 9L)").as("bin"))
          .agg(count(lit(1)).as("n_b"),
            expr("sum(p) div count(*)").as("conf_e6"),
            expr("sum(y) * 1000000 div count(*)").as("acc_e6"))
        val all = Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        bins
          .withColumn("n", sum(col("n_b")).over(all))
          .withColumn("wsum",
            sum(expr("n_b * abs(acc_e6 - conf_e6)")).over(all))
          .selectExpr("bin", "n_b", "conf_e6", "acc_e6",
            "wsum div n AS ece_e6")
      },
      Some(s"""WITH $bucketRatesSql,
              |te AS (SELECT y, coalesce(p_e6, p0_e6) AS p
              |       FROM b LEFT JOIN rates USING (bucket) CROSS JOIN fb
              |       WHERE user_id % 5 = 4),
              |bins AS (SELECT least(p // 100000, 9) AS bin,
              |                CAST(count(*) AS BIGINT) AS n_b,
              |                CAST(sum(p) AS BIGINT) // count(*) AS conf_e6,
              |                CAST(sum(y) AS BIGINT) * 1000000 // count(*)
              |                  AS acc_e6
              |         FROM te GROUP BY 1)
              |SELECT bin, n_b, conf_e6, acc_e6,
              |       CAST(sum(n_b * abs(acc_e6 - conf_e6)) OVER ()
              |         // sum(n_b) OVER () AS BIGINT) AS ece_e6
              |FROM bins""".stripMargin)),

    // ── Matthews correlation coefficient of the "click predicts
    //    purchase" classifier over per-user ever-did flags — the same
    //    2×2 table q_mcnemar reads the discordant cells of, summarized
    //    by the balance-robust coefficient. Integer confusion counts;
    //    the close multiplies four exact-long sqrt factors (each
    //    < 2^53 → IEEE-deterministic) in a fixed order.
    QueryDef("q_mcc",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .agg(sum(expr("CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END")).as("tp"),
          sum(expr("CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END")).as("fp"),
          sum(expr("CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END")).as("fn"),
          sum(expr("CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END")).as("tn"))
        .selectExpr("CAST(tp AS BIGINT) AS tp", "CAST(fp AS BIGINT) AS fp",
          "CAST(fn AS BIGINT) AS fn", "CAST(tn AS BIGINT) AS tn",
          """CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) = 0
            |     THEN CAST('0.0' AS DOUBLE)
            |     ELSE round((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
            |            - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
            |          / (sqrt(CAST(tp + fp AS DOUBLE))
            |             * sqrt(CAST(tp + fn AS DOUBLE))
            |             * sqrt(CAST(tn + fp AS DOUBLE))
            |             * sqrt(CAST(tn + fn AS DOUBLE))), 6)
            |END AS mcc""".stripMargin),
      Some(s"""WITH $clickPurchaseUsersSql,
             |c AS (SELECT
             |        CAST(sum(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS tp,
             |        CAST(sum(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS fp,
             |        CAST(sum(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS fn,
             |        CAST(sum(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS tn
             |      FROM u)
             |SELECT tp, fp, fn, tn,
             |       CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) = 0
             |            THEN CAST('0.0' AS DOUBLE)
             |            ELSE round((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
             |                   - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
             |                 / (sqrt(CAST(tp + fp AS DOUBLE))
             |                    * sqrt(CAST(tp + fn AS DOUBLE))
             |                    * sqrt(CAST(tn + fp AS DOUBLE))
             |                    * sqrt(CAST(tn + fn AS DOUBLE))), 6)
             |       END AS mcc
             |FROM c""".stripMargin)),

    /* Log loss (`q_log_loss`): cross-entropy of a per-discount-band
     * return-rate model trained on EVEN order keys and scored on ODD
     * ones — the train/score split every leakage-honest eval needs.
     * Probabilities live in e6, clipped to [1e3, 1e6−1e3] (standard
     * log-loss clipping, mirrored), and ln closes through the shared
     * integer log₂ (·ln2), so the total is an integer sum — no double
     * accumulation. */
    // ── Log loss of a per-discount-band return model, even→odd split.
    QueryDef("q_log_loss",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)")
            .as("band"),
            (col("l_returnflag") === "R").as("y"),
            (col("l_orderkey") % 2 === 0).as("train"))
        // train-side per-band return rate in e6, clipped to the
        // standard [1e3, 1e6−1e3] log-loss band
        val rates = li.filter(col("train"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("nt"),
            sum(when(col("y"), 1L).otherwise(0L)).as("pt"))
          .selectExpr("band",
            "least(greatest(pt * 1000000 div nt, 1000L)," +
              " 999000L) AS p_e6")
        // −ln x = (L(1e6) − L(x_e6))·ln2 with L = the SHARED fixed-point
        // log₂ — the 1e6 anchor must come from the same 5-bit table
        // (log2E6Int, the plan-build-time twin) so −ln(1) is exactly 0.
        val l1m = Bm25.log2E6Int(1000000L)
        val scored = li.filter(!col("train"))
          .join(broadcast(rates), Seq("band"))
          .withColumn("lp", Bm25.log2E6(col("p_e6")))
          .withColumn("lq", Bm25.log2E6(lit(1000000L) - col("p_e6")))
          .withColumn("term_e6",
            expr(s"CASE WHEN y THEN (${l1m}L - lp) * 693147L div 1000000L" +
              s" ELSE (${l1m}L - lq) * 693147L div 1000000L END"))
        scored.agg(count(lit(1)).as("n_eval"),
            sum(col("term_e6")).as("tot"))
          .selectExpr("n_eval", "tot div n_eval AS logloss_e6")
      },
      Some {
        val lp = Bm25.log2E6Sql("p_e6")
        val lq = Bm25.log2E6Sql("1000000 - p_e6")
        val l1m = Bm25.log2E6Int(1000000L)
        s"""WITH li AS (
           |  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
           |           AS band,
           |         l_returnflag = 'R' AS y,
           |         l_orderkey % 2 = 0 AS train
           |  FROM lineitem),
           |rates AS (SELECT band,
           |            CAST(least(greatest(
           |              sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000
           |                // count(*), 1000), 999000) AS BIGINT) AS p_e6
           |          FROM li WHERE train GROUP BY 1),
           |scored AS (SELECT li.y,
           |             CAST($lp AS BIGINT) AS lp,
           |             CAST($lq AS BIGINT) AS lq
           |           FROM li JOIN rates ON rates.band = li.band
           |           WHERE NOT li.train),
           |terms AS (SELECT CASE WHEN y
           |            THEN ($l1m - lp) * 693147 // 1000000
           |            ELSE ($l1m - lq) * 693147 // 1000000
           |            END AS term_e6
           |          FROM scored)
           |SELECT CAST(count(*) AS BIGINT) AS n_eval,
           |       CAST(sum(term_e6) // count(*) AS BIGINT) AS logloss_e6
           |FROM terms""".stripMargin
      }),

    /* Youden's J sweep (`q_youden_j`): TPR−FPR across all 11 discount
     * bands as classification thresholds for returnflag R — the ROC
     * operating-point picker; cumulative confusion counts ride ONE
     * window over the 11-row post-aggregate band axis. */
    // ── Youden's J across all 11 discount-band thresholds.
    QueryDef("q_youden_j",
      (s, d) => {
        val cells = bandCells(s, d)
        val tot = cells.agg(sum(col("pos")).as("p"), sum(col("neg")).as("nn"))
        cells
          .withColumn("tp", sum(col("pos")).over(
            Window.orderBy(col("band").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("fp", sum(col("neg")).over(
            Window.orderBy(col("band").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(broadcast(tot))
          .selectExpr("band AS t", "tp", "fp",
            "tp * 1000000 div p AS tpr_e6",
            "fp * 1000000 div nn AS fpr_e6",
            "tp * 1000000 div p - fp * 1000000 div nn AS j_e6")
          .withColumn("rk", row_number().over(
            Window.orderBy(col("j_e6").desc, col("t"))))
      },
      Some(bandCellsSql +
        """,
          |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
          |               CAST(sum(neg) AS BIGINT) AS nn FROM cells),
          |cum AS (SELECT band AS t,
          |          CAST(sum(pos) OVER (ORDER BY band DESC
          |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
          |          CAST(sum(neg) OVER (ORDER BY band DESC
          |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
          |        FROM cells)
          |SELECT t, tp, fp,
          |       tp * 1000000 // p AS tpr_e6,
          |       fp * 1000000 // nn AS fpr_e6,
          |       tp * 1000000 // p - fp * 1000000 // nn AS j_e6,
          |       CAST(row_number() OVER (ORDER BY
          |         tp * 1000000 // p - fp * 1000000 // nn DESC, t)
          |         AS BIGINT) AS rk
          |FROM cum CROSS JOIN tot""".stripMargin)),

    /* F-beta + balanced accuracy (`q_fbeta`): F1/F0.5/F2 at the fixed
     * band-5 threshold as exact integer ratios — (1+β²)·tp·10⁶ div
     * ((1+β²)·tp + β²·fn + fp) with β² ∈ {1/4, 1, 4} cleared to
     * integers by ×4. */
    // ── F1 / F0.5 / F2 + balanced accuracy at the band-5 threshold.
    QueryDef("q_fbeta",
      (s, d) => bandCells(s, d).agg(
          sum(when(col("band") >= 5, col("pos")).otherwise(0L)).as("tp"),
          sum(when(col("band") >= 5, col("neg")).otherwise(0L)).as("fp"),
          sum(when(col("band") < 5, col("pos")).otherwise(0L)).as("fn"),
          sum(when(col("band") < 5, col("neg")).otherwise(0L)).as("tn"))
        .selectExpr("tp", "fp", "fn", "tn",
          "2 * tp * 1000000 div (2 * tp + fp + fn) AS f1_e6",
          "5 * tp * 1000000 div (5 * tp + fn + 4 * fp) AS f05_e6",
          "5 * tp * 1000000 div (5 * tp + 4 * fn + fp) AS f2_e6",
          """(tp * 1000000 div (tp + fn) + tn * 1000000 div (tn + fp))
            |div 2 AS bal_acc_e6""".stripMargin),
      Some(bandCellsSql +
        """,
          |t AS (SELECT
          |  CAST(sum(CASE WHEN band >= 5 THEN pos ELSE 0 END)
          |    AS BIGINT) AS tp,
          |  CAST(sum(CASE WHEN band >= 5 THEN neg ELSE 0 END)
          |    AS BIGINT) AS fp,
          |  CAST(sum(CASE WHEN band < 5 THEN pos ELSE 0 END)
          |    AS BIGINT) AS fn,
          |  CAST(sum(CASE WHEN band < 5 THEN neg ELSE 0 END)
          |    AS BIGINT) AS tn
          |FROM cells)
          |SELECT tp, fp, fn, tn,
          |       2 * tp * 1000000 // (2 * tp + fp + fn) AS f1_e6,
          |       5 * tp * 1000000 // (5 * tp + fn + 4 * fp) AS f05_e6,
          |       5 * tp * 1000000 // (5 * tp + 4 * fn + fp) AS f2_e6,
          |       (tp * 1000000 // (tp + fn) + tn * 1000000 // (tn + fp))
          |         // 2 AS bal_acc_e6
          |FROM t""".stripMargin)),

    /* Split expected calibration error (`q_ece_split`): per-discount-band return
     * rates fit on EVEN order keys, scored on ODD (q_ece bins one
     * frame by confidence decile; this is the leakage-honest split
     * twin) — ECE = Σ n_b·|acc_b
     * − conf_b| div n plus the max-gap MCE, the q_log_loss companion
     * every reliability audit pairs with. */
    // ── Expected + maximum calibration error, train-even score-odd.
    QueryDef("q_ece_split",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          expr("CAST(floor(l_discount * 100 + 0.5) AS BIGINT)").as("band"),
          (col("l_returnflag") === "R").as("r"),
          (col("l_orderkey") % 2 === 0).as("train"))
        val conf = li.filter(col("train"))
          .groupBy(col("band"))
          .agg(sum(when(col("r"), 1L).otherwise(0L)).as("pos"),
            count(lit(1)).as("cnt"))
          .selectExpr("band", "pos * 1000000 div cnt AS conf_e6")
        val ev = li.filter(!col("train"))
          .groupBy(col("band"))
          .agg(sum(when(col("r"), 1L).otherwise(0L)).as("pos"),
            count(lit(1)).as("n_b"))
          .selectExpr("band", "n_b", "pos * 1000000 div n_b AS acc_e6")
        ev.join(broadcast(conf), Seq("band"))
          .agg(sum(col("n_b")).as("n_eval"),
            sum(col("n_b") * abs(col("acc_e6") - col("conf_e6"))).as("gap"),
            max(abs(col("acc_e6") - col("conf_e6"))).as("mce_e6"))
          .selectExpr("n_eval", "gap div n_eval AS ece_e6", "mce_e6")
      },
      Some("""WITH li AS (
             |  SELECT CAST(floor(l_discount * 100 + 0.5) AS BIGINT)
             |           AS band,
             |         l_returnflag = 'R' AS r,
             |         l_orderkey % 2 = 0 AS train
             |  FROM lineitem),
             |conf AS (SELECT band,
             |           CAST(sum(CASE WHEN r THEN 1 ELSE 0 END)
             |             * 1000000 // count(*) AS BIGINT) AS conf_e6
             |         FROM li WHERE train GROUP BY 1),
             |ev AS (SELECT band, CAST(count(*) AS BIGINT) AS n_b,
             |         CAST(sum(CASE WHEN r THEN 1 ELSE 0 END)
             |           * 1000000 // count(*) AS BIGINT) AS acc_e6
             |       FROM li WHERE NOT train GROUP BY 1)
             |SELECT CAST(sum(n_b) AS BIGINT) AS n_eval,
             |       CAST(sum(n_b * abs(acc_e6 - conf_e6)) AS BIGINT)
             |         // CAST(sum(n_b) AS BIGINT) AS ece_e6,
             |       CAST(max(abs(acc_e6 - conf_e6)) AS BIGINT) AS mce_e6
             |FROM ev JOIN conf USING (band)""".stripMargin))
  )
}
