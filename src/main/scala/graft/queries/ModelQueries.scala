package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Classify, Curation, Similarity, Sketches, Stats,
  TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model training steps and feature scoring expressed as bounded
  * aggregates: naive Bayes, perceptron, logistic GD, stumps and shallow
  * trees, conformal intervals, and feature-selection scores. */
object ModelQueries extends QueryCatalog {

  import Fixtures._

  import PortableSql.{hash48 => hash48Sql}

  /** Oracle twin of Classify.naiveBayesConfusion over `documents` —
    * shared with q_confusion_metrics. */
  private[queries] def nbConfusionSql: String = {
    val lgCnt = Bm25.log2E6Sql("(coalesce(mo.cnt, 0) + 1)")
    val lgNc = Bm25.log2E6Sql("n_c")
    // CAST: tot_c is a DuckDB sum() → HUGEINT, and a HUGEINT index
    // breaks the helper's mantissa-table subscript.
    val lgDen = Bm25.log2E6Sql("CAST(tot_c + v AS BIGINT)")
    s"""WITH tok AS (
           |  SELECT doc_id AS id, lang AS label, doc_id % 5 AS fold, wd AS tok
           |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS wd
           |        FROM documents) u WHERE wd <> ''),
           |model AS MATERIALIZED (
           |  SELECT tok, label AS c, count(*) AS cnt
           |  FROM tok WHERE fold <> 0 GROUP BY 1, 2),
           |ctot AS (SELECT c, sum(cnt) AS tot_c FROM model GROUP BY 1),
           |prior AS (SELECT lang AS c, count(*) AS n_c FROM documents
           |          WHERE doc_id % 5 <> 0 GROUP BY 1),
           |vocab AS (SELECT count(DISTINCT tok) AS v FROM model),
           |classes AS MATERIALIZED (
           |  SELECT c, $lgNc AS prior_e6, $lgDen AS denom_e6
           |  FROM ctot JOIN prior USING (c), vocab),
           |ttok AS (SELECT id, label, tok, count(*) AS m
           |         FROM tok WHERE fold = 0 GROUP BY 1, 2, 3),
           |grid AS (SELECT t.id, t.label, t.tok, t.m, cl.c
           |         FROM ttok t CROSS JOIN (SELECT c FROM classes) cl),
           |sc AS (SELECT g.id, g.label, g.c,
           |         sum(g.m * $lgCnt) AS num_e6, sum(g.m) AS len
           |       FROM grid g LEFT JOIN model mo
           |         ON mo.tok = g.tok AND mo.c = g.c
           |       GROUP BY 1, 2, 3),
           |fin AS (SELECT sc.id, sc.label, sc.c,
           |          cl.prior_e6 + sc.num_e6 - sc.len * cl.denom_e6 AS score
           |        FROM sc JOIN classes cl ON cl.c = sc.c),
           |pr AS (SELECT id, label, c AS pred,
           |         row_number() OVER (PARTITION BY id
           |                            ORDER BY score DESC, c) AS rn
           |       FROM fin)
           |SELECT label, pred, count(*) AS n_docs
           |FROM pr WHERE rn = 1 GROUP BY 1, 2""".stripMargin
  }

  /** One boosting round: fit the SSE-minimizing stump over the
    * candidate axis to residual column `r` of `df`; returns one row
    * (round, feature, threshold, n_left, n_right, left_val, right_val,
    * sse_after) — leaf values are truncated integer residual means. */
  private def fitStump(df: DataFrame, cands: DataFrame,
                       round: Int): DataFrame =
    df.crossJoin(broadcast(cands))
      .selectExpr("f", "thr",
        "CASE WHEN (f = 'hour' AND hour <= thr) OR " +
          "(f = 'dow' AND dow <= thr) THEN 1L ELSE 0L END AS lft", "r")
      .groupBy(col("f"), col("thr"))
      .agg(sum(col("lft")).as("nl"),
        sum(col("lft") * col("r")).as("sl"),
        sum(col("lft") * col("r") * col("r")).as("s2l"),
        sum(lit(1L) - col("lft")).as("nr"),
        sum((lit(1L) - col("lft")) * col("r")).as("sr"),
        sum((lit(1L) - col("lft")) * col("r") * col("r")).as("s2r"))
      .selectExpr("f", "thr", "nl", "nr",
        "sl div greatest(1L, nl) AS lv", "sr div greatest(1L, nr) AS rv",
        """(s2l - sl * sl div greatest(1L, nl))
          | + (s2r - sr * sr div greatest(1L, nr)) AS sse_after"""
          .stripMargin)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("sse_after"), col("f"), col("thr"))))
      .filter(col("rk") === 1)
      .selectExpr(s"CAST($round AS BIGINT) AS step", "f AS feature",
        "CAST(thr AS BIGINT) AS threshold", "CAST(nl AS BIGINT) AS n_left",
        "CAST(nr AS BIGINT) AS n_right", "lv AS left_val",
        "rv AS right_val", "sse_after")
      .localCheckpoint(false) // one-row model: the residual update reuses it

  /** SQL twin of one [[fitStump]] round over relation `src(hour,dow,r)`. */
  private def fitStumpSql(src: String, round: Int): String =
    s"""SELECT CAST($round AS BIGINT) AS step, f AS feature,
       |       CAST(thr AS BIGINT) AS threshold,
       |       CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       |       sl // greatest(1, nl) AS left_val,
       |       sr // greatest(1, nr) AS right_val,
       |       (s2l - sl * sl // greatest(1, nl))
       |         + (s2r - sr * sr // greatest(1, nr)) AS sse_after
       |FROM (
       |  SELECT c.f, c.thr,
       |         CAST(sum(CASE WHEN (c.f = 'hour' AND b.hour <= c.thr)
       |           OR (c.f = 'dow' AND b.dow <= c.thr)
       |           THEN 1 ELSE 0 END) AS BIGINT) AS nl,
       |         CAST(sum(CASE WHEN (c.f = 'hour' AND b.hour <= c.thr)
       |           OR (c.f = 'dow' AND b.dow <= c.thr)
       |           THEN b.r ELSE 0 END) AS BIGINT) AS sl,
       |         CAST(sum(CASE WHEN (c.f = 'hour' AND b.hour <= c.thr)
       |           OR (c.f = 'dow' AND b.dow <= c.thr)
       |           THEN b.r * b.r ELSE 0 END) AS BIGINT) AS s2l,
       |         CAST(sum(CASE WHEN (c.f = 'hour' AND b.hour <= c.thr)
       |           OR (c.f = 'dow' AND b.dow <= c.thr)
       |           THEN 0 ELSE 1 END) AS BIGINT) AS nr,
       |         CAST(sum(CASE WHEN (c.f = 'hour' AND b.hour <= c.thr)
       |           OR (c.f = 'dow' AND b.dow <= c.thr)
       |           THEN 0 ELSE b.r END) AS BIGINT) AS sr,
       |         CAST(sum(CASE WHEN (c.f = 'hour' AND b.hour <= c.thr)
       |           OR (c.f = 'dow' AND b.dow <= c.thr)
       |           THEN 0 ELSE b.r * b.r END) AS BIGINT) AS s2r
       |  FROM $src b CROSS JOIN cands c GROUP BY 1, 2)
       |QUALIFY row_number() OVER (ORDER BY sse_after, f, thr) = 1"""
      .stripMargin

  /** p_e6 = σ₂(z_e6)·1e6 for a column named `z` (e6 base-2 logits),
    * branching on sign so [[Sketches.pow2NegE6Expr]]'s non-negative
    * domain always holds. */
  private def sigmoidE6(df: DataFrame): DataFrame =
    df.withColumn("zp", greatest(col("z"), lit(0L)))
      .withColumn("zn", greatest(-col("z"), lit(0L)))
      .withColumn("pwp", Sketches.pow2NegE6Expr("zp"))
      .withColumn("pwn", Sketches.pow2NegE6Expr("zn"))
      // integer `div` only — Column./ would be DOUBLE division, whose
      // nearest-rounding can differ from DuckDB's exact // by one ulp
      .withColumn("p_e6", expr(
        """CASE WHEN z >= 0
          |  THEN 1000000000000L div (1000000L + pwp)
          |  ELSE 1000000L - (1000000000000L div (1000000L + pwn))
          |END""".stripMargin))
      .drop("zp", "zn", "pwp", "pwn")

  /** SQL twin of [[sigmoidE6]] for a z expression. */
  private def sigmoidE6Sql(z: String): String = {
    val pp = Sketches.pow2NegE6Sql(s"greatest(($z), 0)")
    val pn = Sketches.pow2NegE6Sql(s"greatest(-($z), 0)")
    s"""(CASE WHEN ($z) >= 0
       |  THEN 1000000000000 // (1000000 + $pp)
       |  ELSE 1000000 - (1000000000000 // (1000000 + $pn)) END)""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    // ── Hashing-trick featurization load report: project the corpus
    //    vocabulary onto 256 dims, emit the 20 heaviest dims with their
    //    token mass and collision counts.
    QueryDef("q_feature_hashing",
      (s, d) => TextAnalysis.featureHashing(Tables.documents(s, d)),
      Some {
        val h = hash48Sql("token", "'fh'")
        """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
          |t2 AS (SELECT token FROM toks WHERE token <> ''),
          |d AS (SELECT HEXPR % 256 AS dim, token FROM t2),
          |c AS (SELECT dim, token, count(*) AS c FROM d GROUP BY 1, 2),
          |g AS (SELECT dim, CAST(sum(c) AS BIGINT) AS n_tokens,
          |             CAST(count(*) AS BIGINT) AS n_distinct FROM c GROUP BY 1)
          |SELECT dim, n_tokens, n_distinct FROM g
          |ORDER BY n_tokens DESC, dim LIMIT 20""".stripMargin
          .replace("HEXPR", h)
      }),

    // ── Smoothed leave-one-out target encoding of order priority
    //    against order value: the no-leakage categorical featurizer,
    //    graded by each category's encoding envelope (min/max/avg).
    QueryDef("q_target_encoding",
      (s, d) => Curation.targetEncoding(
        Tables.orders(s, d).select(col("o_orderpriority").as("cat"),
          centsCol("o_totalprice").as("y")), "cat", "y"),
      Some(s"""WITH src AS (SELECT o_orderpriority AS cat,
              |                    ${cents("o_totalprice")} AS y FROM orders),
              |g AS (SELECT sum(y) // count(*) AS mu FROM src),
              |w AS (SELECT cat, y, sum(y) OVER (PARTITION BY cat) AS s_c,
              |             count(*) OVER (PARTITION BY cat) AS n_c FROM src),
              |e AS (SELECT cat, (s_c - y + 10 * mu) // (n_c - 1 + 10) AS enc
              |      FROM w CROSS JOIN g)
              |SELECT cat, CAST(count(*) AS BIGINT) AS n,
              |       CAST(min(enc) AS BIGINT) AS enc_min,
              |       CAST(max(enc) AS BIGINT) AS enc_max,
              |       CAST(sum(enc) // count(*) AS BIGINT) AS enc_avg
              |FROM e GROUP BY 1""".stripMargin)),

    // ── Naive Bayes language identification, trained on folds 1-4 and
    //    scored on fold 0, reported as a confusion matrix — exact e6
    //    fixed-point log₂ scores, so the argmax is bit-deterministic.
    QueryDef("q_naive_bayes",
      (s, d) => Classify.naiveBayesConfusion(
        Tables.documents(s, d), "doc_id", "lang", "text", 0L),
      Some(nbConfusionSql)),

    // ── Decision stump: best variance-reduction split of quantity by
    //    discount percentage point. Exact integer gain on the distinct
    //    feature axis (11 thresholds), argmax ties toward the smaller.
    QueryDef("q_decision_stump",
      (s, d) => Stats.decisionStump(
        Tables.lineitem(s, d)
          .select(floor(col("l_quantity") + 0.5).cast("long").as("t"),
            floor(col("l_discount") * 100 + 0.5).cast("long").as("f")),
        "t", "f"),
      Some("""WITH b AS (
             |  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS t,
             |         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS f
             |  FROM lineitem),
             |cells AS (SELECT f, count(*) AS nv, sum(t) AS sv FROM b GROUP BY f),
             |cum AS (SELECT f,
             |          sum(nv) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED
             |            PRECEDING AND CURRENT ROW) AS nl,
             |          sum(sv) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED
             |            PRECEDING AND CURRENT ROW) AS sl,
             |          sum(nv) OVER () AS n, sum(sv) OVER () AS s
             |        FROM cells),
             |g AS (SELECT f, nl, n - nl AS nr, sl, s - sl AS sr FROM cum
             |      WHERE nl < n),
             |sc AS (SELECT f, nl, nr, sl, sr,
             |         CAST((sl * sl * nr + sr * sr * nl) * 1000000
             |              // (nl * nr) AS BIGINT) AS gain_e6
             |       FROM g)
             |SELECT f AS split_at, CAST(nl AS BIGINT) AS n_left,
             |       CAST(nr AS BIGINT) AS n_right, gain_e6,
             |       CAST(sl * 1000000 // nl AS BIGINT) AS mean_left_e6,
             |       CAST(sr * 1000000 // nr AS BIGINT) AS mean_right_e6
             |FROM sc ORDER BY gain_e6 DESC, f LIMIT 1""".stripMargin)),

    // ── 5-NN classifier on fold 0, exact e12 integer L2 — the lazy-
    //    learner counterpart of q_naive_bayes, confusion-matrix output.
    QueryDef("q_knn_classify",
      (s, d) => Similarity.knnClassify(Tables.embeddings(s, d), 5),
      Some(s"""WITH $quantEmbeddingsSql,
             |pairs AS (
             |  SELECT t.vec_id, t.label, r.vec_id AS tid, r.label AS tlabel,
             |         list_sum(list_transform(generate_series(1, len(t.qv)),
             |           i -> (t.qv[i] - r.qv[i]) * (t.qv[i] - r.qv[i])))
             |           AS d2_e12
             |  FROM q t JOIN q r
             |    ON t.vec_id % 5 = 0 AND r.vec_id % 5 <> 0),
             |top AS (SELECT vec_id, label, tlabel FROM (
             |          SELECT vec_id, label, tlabel, row_number() OVER
             |            (PARTITION BY vec_id ORDER BY d2_e12, tid) AS rk
             |          FROM pairs) WHERE rk <= 5),
             |votes AS (SELECT vec_id, label, tlabel, count(*) AS v
             |          FROM top GROUP BY 1, 2, 3),
             |pred AS (SELECT vec_id, label, tlabel AS pred FROM (
             |           SELECT vec_id, label, tlabel, row_number() OVER
             |             (PARTITION BY vec_id ORDER BY v DESC, tlabel) AS rn
             |           FROM votes) WHERE rn = 1)
             |SELECT label, pred, CAST(count(*) AS BIGINT) AS n_vecs
             |FROM pred GROUP BY 1, 2""".stripMargin)),

    // ── Hashed linear model margins, top-20 docs (fastText-gate shape).
    QueryDef("q_linear_score",
      (s, d) => TextAnalysis.linearScore(
        Tables.documents(s, d).select(col("doc_id"), col("text")), 256, 20),
      Some(s"""WITH $hashedWeightsSql
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
              |       CAST(sum(wt) AS BIGINT) AS margin
              |FROM w GROUP BY doc_id
              |ORDER BY margin DESC, doc_id LIMIT 20""".stripMargin)),

    // ── Two synchronous perceptron rounds on document features
    //    (bias, n_chars, space count), label +1 ⇔ lang = 'en'. Round 1
    //    starts from w = 0 (every margin 0 ⇒ every row updates, so w₁ is
    //    ONE aggregate); round 2 updates on rows w₁ misclassifies.
    //    Batch-synchronous = order-free = exactly reproducible — the
    //    only perceptron a distributed engine should promise.
    QueryDef("q_perceptron",
      (s, d) => {
        val base = Tables.documents(s, d).select(
            when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
            lit(1L).as("x1"), col("n_chars").as("x2"),
            (length(col("text")) -
              length(regexp_replace(col("text"), " ", "")))
              .cast("long").as("x3"))
          .localCheckpoint(false) // one scan feeds both rounds
        val w1 = base.agg(count(lit(1)).as("n_upd"),
          sum(col("y") * col("x1")).as("w1b"),
          sum(col("y") * col("x2")).as("w1c"),
          sum(col("y") * col("x3")).as("w1s"))
        val r2 = base.join(broadcast(w1))
          .filter(col("y") * (col("w1b") * col("x1") + col("w1c") * col("x2")
            + col("w1s") * col("x3")) <= 0)
          .agg(count(lit(1)).as("n_upd2"),
            (max(col("w1b")) + sum(col("y") * col("x1"))).as("w2b"),
            (max(col("w1c")) + sum(col("y") * col("x2"))).as("w2c"),
            (max(col("w1s")) + sum(col("y") * col("x3"))).as("w2s"))
        w1.select(lit(1L).as("round"), col("n_upd"), col("w1b").as("w_bias"),
            col("w1c").as("w_chars"), col("w1s").as("w_spaces"))
          .unionAll(r2.select(lit(2L).as("round"), col("n_upd2").as("n_upd"),
            col("w2b").as("w_bias"), col("w2c").as("w_chars"),
            col("w2s").as("w_spaces")))
      },
      Some("""WITH base AS (
             |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
             |         CAST(1 AS BIGINT) AS x1, n_chars AS x2,
             |         CAST(length(text) - length(replace(text, ' ', ''))
             |              AS BIGINT) AS x3
             |  FROM documents),
             |w1 AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_upd,
             |         CAST(sum(y * x1) AS BIGINT) AS w1b,
             |         CAST(sum(y * x2) AS BIGINT) AS w1c,
             |         CAST(sum(y * x3) AS BIGINT) AS w1s
             |  FROM base),
             |r2 AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_upd,
             |         CAST(max(w1b) + sum(y * x1) AS BIGINT) AS w2b,
             |         CAST(max(w1c) + sum(y * x2) AS BIGINT) AS w2c,
             |         CAST(max(w1s) + sum(y * x3) AS BIGINT) AS w2s
             |  FROM base CROSS JOIN w1
             |  WHERE y * (w1b * x1 + w1c * x2 + w1s * x3) <= 0)
             |SELECT 1 AS round, n_upd, w1b AS w_bias, w1c AS w_chars,
             |       w1s AS w_spaces FROM w1
             |UNION ALL
             |SELECT 2 AS round, n_upd, w2b, w2c, w2s FROM r2""".stripMargin)),

    // ── WRAcc subgroups: target = top-quartile spender; score ranked
    //    by the exact integer numerator pos_sg·n − n_sg·pos.
    QueryDef("q_subgroup_discovery",
      (s, d) => {
        // Checkpoint u once — the threshold, the totals, and the cell
        // rollup all reuse it (previously the orders aggregate + join
        // ran twice and the threshold was a GLOBAL single-partition
        // row_number window; the stage fan-out made this query the
        // registry's worst contention amplifier, 0.83 s quiet -> 7.6 s
        // loaded).
        val u = customerSpend(s, d)
          .select(col("c_mktsegment").as("seg"),
            col("c_nationkey").cast("long").as("nk"),
            col("c_custkey").as("ck"),
            coalesce(col("spend"), lit(0L)).as("y"))
          .localCheckpoint(false)
        // Top-quartile threshold = y of the rank-k row under
        // (y desc, ck asc), k = (n+3) div 4 — found by per-partition
        // top-k (TakeOrderedAndProject) + a one-row argmin over the k
        // survivors instead of sorting every row through one partition.
        val k = ((u.count() + 3) / 4).toInt
        val thr = u.select(col("y"), col("ck"))
          .orderBy(col("y").desc, col("ck")).limit(k)
          .agg(min(struct(col("y"), (-col("ck")).as("nck"))).as("m"))
          .select(col("m.y").as("thr"))
          .where(col("thr").isNotNull) // empty input -> empty, like rank

        val lab = u.crossJoin(broadcast(thr))
          .withColumn("pos", when(col("y") >= col("thr"), 1L).otherwise(0L))
        val tot = lab.agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
        lab.groupBy(col("seg"), col("nk"))
          .agg(count(lit(1)).as("n_sg"), sum(col("pos")).as("pos_sg"))
          .crossJoin(broadcast(tot))
          .withColumn("wracc_num", expr("pos_sg * n - n_sg * p"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("wracc_num").desc, col("seg"), col("nk"))))
          .where(col("rk") <= 10)
          .selectExpr("seg", "nk", "n_sg", "pos_sg", "wracc_num", "rk")
      },
      Some(s"""WITH $customerSpendSql,
             |u AS (SELECT c_mktsegment AS seg,
             |             CAST(c_nationkey AS BIGINT) AS nk,
             |             c_custkey AS ck, coalesce(spend, 0) AS y
             |      FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
             |thr AS (SELECT y AS thr FROM (
             |          SELECT y, row_number() OVER (ORDER BY y DESC, ck)
             |                   AS rn,
             |                 count(*) OVER () AS n
             |          FROM u) WHERE rn = (n + 3) // 4),
             |lab AS (SELECT seg, nk,
             |               CASE WHEN y >= thr THEN 1 ELSE 0 END AS pos
             |        FROM u CROSS JOIN thr),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |               CAST(sum(pos) AS BIGINT) AS p FROM lab),
             |cells AS (SELECT seg, nk, CAST(count(*) AS BIGINT) AS n_sg,
             |                 CAST(sum(pos) AS BIGINT) AS pos_sg
             |          FROM lab GROUP BY 1, 2)
             |SELECT seg, nk, n_sg, pos_sg, wracc_num, rk FROM (
             |  SELECT seg, nk, n_sg, pos_sg,
             |         pos_sg * n - n_sg * p AS wracc_num,
             |         row_number() OVER (ORDER BY pos_sg * n - n_sg * p
             |           DESC, seg, nk) AS rk
             |  FROM cells CROSS JOIN tot)
             |WHERE rk <= 10""".stripMargin)),

    // ── Split conformal: fit (ck%4=0) segment means, calibrate
    //    (ck%4=1) the 90% residual quantile, test (ck%4=3) coverage.
    QueryDef("q_conformal",
      (s, d) => {
        val u = customerSpend(s, d)
          .select(col("c_mktsegment").as("seg"), col("c_custkey").as("ck"),
            coalesce(col("spend"), lit(0L)).as("y"))
          .localCheckpoint(false) // fit/calibration/test splits
        val fit = u.where(col("ck") % 4 === 0).groupBy(col("seg"))
          .agg(expr("sum(y) div count(1)").as("yhat"))
        val cal = u.where(col("ck") % 4 === 1).join(broadcast(fit), "seg")
          .select(col("seg"), col("ck"), abs(col("y") - col("yhat")).as("res"))
        val qhat = cal
          .withColumn("rn", row_number().over(
            Window.orderBy(col("res"), col("ck"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy()))
          .where(col("rn") === expr("least(n, (9 * (n + 1) + 9) div 10)"))
          .select(col("n").as("n_cal"), col("res").as("qhat_cents"))
        u.where(col("ck") % 4 === 3).join(broadcast(fit), "seg")
          .crossJoin(broadcast(qhat))
          .agg(max(col("n_cal")).as("n_cal"),
            max(col("qhat_cents")).as("qhat_cents"),
            count(lit(1)).as("n_test"),
            sum(when(abs(col("y") - col("yhat")) <= col("qhat_cents"), 1L)
              .otherwise(0L)).as("n_covered"))
          .withColumn("coverage_e6", expr("n_covered * 1000000 div n_test"))
      },
      Some(s"""WITH $customerSpendSql,
             |u AS (SELECT c_mktsegment AS seg, c_custkey AS ck,
             |             coalesce(spend, 0) AS y
             |      FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
             |fit AS (SELECT seg, CAST(sum(y) // count(*) AS BIGINT) AS yhat
             |        FROM u WHERE ck % 4 = 0 GROUP BY 1),
             |cal AS (SELECT u.seg, ck, abs(y - yhat) AS res
             |        FROM u JOIN fit ON u.seg = fit.seg WHERE ck % 4 = 1),
             |qhat AS (SELECT n AS n_cal, res AS qhat_cents FROM (
             |           SELECT res, row_number() OVER (ORDER BY res, ck)
             |                    AS rn,
             |                  CAST(count(*) OVER () AS BIGINT) AS n
             |           FROM cal)
             |         WHERE rn = least(n, (9 * (n + 1) + 9) // 10)),
             |test AS (SELECT abs(y - yhat) AS res
             |         FROM u JOIN fit ON u.seg = fit.seg WHERE ck % 4 = 3)
             |SELECT max(n_cal) AS n_cal, max(qhat_cents) AS qhat_cents,
             |       CAST(count(*) AS BIGINT) AS n_test,
             |       CAST(sum(CASE WHEN res <= qhat_cents THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_covered,
             |       CAST(sum(CASE WHEN res <= qhat_cents THEN 1 ELSE 0 END)
             |         AS BIGINT) * 1000000 // count(*) AS coverage_e6
             |FROM test CROSS JOIN qhat""".stripMargin)),

    /* Weight-of-evidence / information value (`q_woe_iv`): the
     * credit-scorecard feature audit. Buckets are FIXED log₂ spend
     * bands (not deciles — a global ntile would funnel every customer
     * through one sort partition; log bands bucket in a map-side
     * expression and the axis stays ≤ ~40 rows at any scale). WOE and
     * IV use the shared integer log₂ machinery with +1/+B Laplace
     * smoothing so empty cells stay defined. */
    // ── WOE/IV: feature = log₂ band of 1996 spend; outcome good =
    //    ordered again in 1997. woe = log2e6(g·TB) − log2e6(b·TG)
    //    with per-cell +1 (and +B on totals) smoothing; iv_term =
    //    (g%−b%)·woe, sign-factored e6.
    QueryDef("q_woe_iv",
      (s, d) => {
        val cu = Tables.orders(s, d)
          .filter(expr("year(o_orderdate) IN (1996, 1997)"))
          .groupBy(col("o_custkey"))
          .agg(sum(when(expr("year(o_orderdate) = 1996"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("spend96"),
            max(when(expr("year(o_orderdate) = 1997"), 1L).otherwise(0L))
              .as("good"))
          .filter(col("spend96") > 0L)
          .select(Bm25.log2E6(col("spend96")).as("l"), col("good"))
          .selectExpr("l div 1000000 AS bucket", "good")
        val cells = cu.groupBy(col("bucket"))
          .agg(sum(col("good")).as("g"),
            sum(lit(1L) - col("good")).as("b"))
        val tot = cells.agg(sum(col("g")).as("tg"), sum(col("b")).as("tb"),
          count(lit(1)).as("nb"))
        cells.crossJoin(broadcast(tot))
          .selectExpr("CAST(bucket AS BIGINT) AS bucket",
            "CAST(g AS BIGINT) AS n_good", "CAST(b AS BIGINT) AS n_bad",
            "(g + 1) * 1000000 div (tg + nb) AS gp_e6",
            "(b + 1) * 1000000 div (tb + nb) AS bp_e6")
          .withColumn("woe_e6",
            Bm25.log2E6(col("gp_e6")) - Bm25.log2E6(col("bp_e6")))
          .selectExpr("bucket", "n_good", "n_bad", "woe_e6",
            """CASE WHEN (gp_e6 - bp_e6) * woe_e6 >= 0
              |  THEN abs(gp_e6 - bp_e6) * abs(woe_e6) div 1000000
              |  ELSE -(abs(gp_e6 - bp_e6) * abs(woe_e6) div 1000000)
              |END AS iv_term_e6""".stripMargin)
      },
      Some {
        val logBucket = Bm25.log2E6Sql("spend96")
        val woe = Bm25.log2E6Sql("gp_e6") + " - " + Bm25.log2E6Sql("bp_e6")
        s"""WITH cu AS (
           |  SELECT o_custkey,
           |         CAST(sum(CASE WHEN year(o_orderdate) = 1996
           |           THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
           |           ELSE 0 END) AS BIGINT) AS spend96,
           |         max(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0
           |           END) AS good
           |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
           |  GROUP BY 1),
           |bu AS (SELECT ($logBucket) // 1000000 AS bucket, good
           |       FROM cu WHERE spend96 > 0),
           |cells AS (SELECT bucket, CAST(sum(good) AS BIGINT) AS g,
           |                 CAST(sum(1 - good) AS BIGINT) AS b
           |          FROM bu GROUP BY 1),
           |tot AS (SELECT CAST(sum(g) AS BIGINT) AS tg,
           |               CAST(sum(b) AS BIGINT) AS tb,
           |               CAST(count(*) AS BIGINT) AS nb FROM cells),
           |p AS (SELECT bucket, g AS n_good, b AS n_bad,
           |        (g + 1) * 1000000 // (tg + nb) AS gp_e6,
           |        (b + 1) * 1000000 // (tb + nb) AS bp_e6
           |      FROM cells CROSS JOIN tot),
           |w AS (SELECT bucket, n_good, n_bad, gp_e6, bp_e6,
           |        CAST($woe AS BIGINT) AS woe_e6 FROM p)
           |SELECT bucket, n_good, n_bad, woe_e6,
           |       CASE WHEN (gp_e6 - bp_e6) * woe_e6 >= 0
           |         THEN abs(gp_e6 - bp_e6) * abs(woe_e6) // 1000000
           |         ELSE -(abs(gp_e6 - bp_e6) * abs(woe_e6) // 1000000)
           |       END AS iv_term_e6
           |FROM w""".stripMargin
      }),

    /* Depth-2 decision tree (`q_tree_depth2`): exact greedy induction
     * over a fixed 6-split candidate grid (hour ≤ {6,12,18}, cents ≤
     * {2500,5000,7500}) minimizing weighted Gini, then the best split
     * per child — real ML training as three aggregate-argmin rounds,
     * no collect, no iteration beyond the fixed depth. */
    // ── Depth-2 greedy tree on events: label = purchase; candidates =
    //    {hour ≤ 6/12/18, cents ≤ 2500/5000/7500}; split score =
    //    Σ_side 2·pos·neg·1e6 div n_side, then div n — weighted Gini
    //    in pure integers; argmin ties → feature asc, threshold asc.
    QueryDef("q_tree_depth2",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = Tables.events(s, d)
          .selectExpr(
            "(unix_micros(ts) div 3600000000) % 24 AS hour",
            "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents",
            "CASE WHEN event_type = 'purchase' THEN 1L ELSE 0L END AS y")
          .localCheckpoint(false)
        val cands = s.range(0, 6).selectExpr(
          "CASE WHEN id < 3 THEN 'hour' ELSE 'cents' END AS f",
          "CASE WHEN id < 3 THEN (id + 1) * 6 ELSE (id - 2) * 2500 END AS thr")
        def best(df: org.apache.spark.sql.DataFrame, node: String) = {
          val scored = df.crossJoin(broadcast(cands))
            .selectExpr("f", "thr",
              "CASE WHEN (f = 'hour' AND hour <= thr) OR " +
                "(f = 'cents' AND cents <= thr) THEN 1 ELSE 0 END AS lft",
              "y")
            .groupBy(col("f"), col("thr"))
            .agg(sum(col("lft")).as("nl"),
              sum(col("lft") * col("y")).as("pl"),
              sum(lit(1L) - col("lft")).as("nr"),
              sum((lit(1L) - col("lft")) * col("y")).as("pr"),
              count(lit(1)).as("n"), sum(col("y")).as("np"))
            .selectExpr("f", "thr", "n", "np",
              """(2 * pl * (nl - pl) * 1000000 div greatest(1L, nl)
                | + 2 * pr * (nr - pr) * 1000000 div greatest(1L, nr))
                | div n AS score_e6""".stripMargin)
          scored.withColumn("rk", row_number().over(
              Window.orderBy(col("score_e6"), col("f"), col("thr"))))
            .filter(col("rk") === 1)
            .selectExpr(s"'$node' AS node", "f AS feature",
              "CAST(thr AS BIGINT) AS threshold", "score_e6",
              "CAST(n AS BIGINT) AS n", "CAST(np AS BIGINT) AS n_pos")
        }
        val root = best(base, "root").localCheckpoint(false)
        val withSide = base.crossJoin(broadcast(
            root.selectExpr("feature AS rf", "threshold AS rt")))
          .selectExpr("hour", "cents", "y",
            "CASE WHEN (rf = 'hour' AND hour <= rt) OR " +
              "(rf = 'cents' AND cents <= rt) THEN 1 ELSE 0 END AS side")
        root.unionByName(best(withSide.filter(col("side") === 1), "left"))
          .unionByName(best(withSide.filter(col("side") === 0), "right"))
      },
      Some {
        def bestSql(src: String, node: String): String =
          s"""SELECT '$node' AS node, f AS feature,
             |       CAST(thr AS BIGINT) AS threshold, score_e6,
             |       CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos
             |FROM (
             |  SELECT f, thr, n, np,
             |         (2 * pl * (nl - pl) * 1000000 // greatest(1, nl)
             |          + 2 * pr * (nr - pr) * 1000000 // greatest(1, nr))
             |          // n AS score_e6
             |  FROM (
             |    SELECT c.f, c.thr,
             |           CAST(sum(CASE WHEN (c.f = 'hour' AND b.hour <= c.thr)
             |             OR (c.f = 'cents' AND b.cents <= c.thr)
             |             THEN 1 ELSE 0 END) AS BIGINT) AS nl,
             |           CAST(sum(CASE WHEN (c.f = 'hour' AND b.hour <= c.thr)
             |             OR (c.f = 'cents' AND b.cents <= c.thr)
             |             THEN b.y ELSE 0 END) AS BIGINT) AS pl,
             |           CAST(sum(CASE WHEN (c.f = 'hour' AND b.hour <= c.thr)
             |             OR (c.f = 'cents' AND b.cents <= c.thr)
             |             THEN 0 ELSE 1 END) AS BIGINT) AS nr,
             |           CAST(sum(CASE WHEN (c.f = 'hour' AND b.hour <= c.thr)
             |             OR (c.f = 'cents' AND b.cents <= c.thr)
             |             THEN 0 ELSE b.y END) AS BIGINT) AS pr,
             |           CAST(count(*) AS BIGINT) AS n,
             |           CAST(sum(b.y) AS BIGINT) AS np
             |    FROM $src b CROSS JOIN cands c GROUP BY 1, 2) agg) sc
             |QUALIFY row_number() OVER (ORDER BY score_e6, f, thr) = 1"""
            .stripMargin
        s"""WITH base AS (
           |  SELECT (epoch_us(ts) // 3600000000) % 24 AS hour,
           |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
           |           AS y
           |  FROM events),
           |cands AS (SELECT CASE WHEN i < 3 THEN 'hour' ELSE 'cents' END
           |            AS f,
           |          CASE WHEN i < 3 THEN (i + 1) * 6
           |            ELSE (i - 2) * 2500 END AS thr
           |          FROM (SELECT unnest(generate_series(0, 5)) AS i)),
           |root AS (${bestSql("base", "root")}),
           |sided AS (SELECT b.hour, b.cents, b.y,
           |            CASE WHEN (r.feature = 'hour' AND b.hour
           |              <= r.threshold) OR (r.feature = 'cents'
           |              AND b.cents <= r.threshold) THEN 1 ELSE 0 END
           |              AS side
           |          FROM base b CROSS JOIN root r),
           |lhs AS (SELECT hour, cents, y FROM sided WHERE side = 1),
           |rhs AS (SELECT hour, cents, y FROM sided WHERE side = 0),
           |lbest AS (${bestSql("lhs", "left")}),
           |rbest AS (${bestSql("rhs", "right")})
           |SELECT * FROM root UNION ALL SELECT * FROM lbest
           |UNION ALL SELECT * FROM rbest""".stripMargin
      }),

    /* Gradient-boost step (`q_boost_stump`): two squared-loss boosting
     * rounds of regression stumps on integer residuals — proves the
     * aggregate-argmin induction of q_tree_depth2 composes through a
     * residual update. All integer; signed `div` truncates toward zero
     * in BOTH engines (verified: DuckDB -7//2 = -3), so residual means
     * are portable. */
    // ── Two gradient-boost rounds of regression stumps on events:
    //    target = whole-dollar value, features hour-of-day / day-of-week,
    //    residuals updated by the fitted leaf means between rounds.
    //    Dollar units keep (Σr)² inside BIGINT at any tested SF (≤1e5
    //    rows × ≤560 → 3e15 ≪ 2⁶³); at true 100 TB these moments move
    //    to DECIMAL(38,0) like ops/Stats correlation does.
    QueryDef("q_boost_stump",
      (s, d) => {
        val cands = s.range(0, 6).selectExpr(
          "CASE WHEN id < 3 THEN 'hour' ELSE 'dow' END AS f",
          "CASE WHEN id < 3 THEN id * 6 + 5 ELSE (id - 3) * 2 + 1 END AS thr")
        val base = Tables.events(s, d).selectExpr(
            "CAST(floor(value) AS BIGINT) AS y",
            "(unix_micros(ts) div 3600000000) % 24 AS hour",
            "(unix_micros(ts) div 86400000000) % 7 AS dow")
          .localCheckpoint(false) // both rounds + the mean share one scan
        val mean = base.agg(expr("sum(y) div count(1)").as("m"))
        val r1 = base.crossJoin(broadcast(mean))
          .selectExpr("hour", "dow", "y - m AS r")
        val st1 = fitStump(r1, cands, 1)
        val r2 = r1.crossJoin(broadcast(st1.selectExpr("feature AS bf",
            "threshold AS bt", "left_val AS blv", "right_val AS brv")))
          .selectExpr("hour", "dow",
            """r - CASE WHEN (bf = 'hour' AND hour <= bt)
              |  OR (bf = 'dow' AND dow <= bt) THEN blv ELSE brv
              |END AS r""".stripMargin)
        st1.unionByName(fitStump(r2, cands, 2))
      },
      Some(s"""WITH cands AS (
              |  SELECT CASE WHEN i < 3 THEN 'hour' ELSE 'dow' END AS f,
              |         CASE WHEN i < 3 THEN i * 6 + 5
              |           ELSE (i - 3) * 2 + 1 END AS thr
              |  FROM (SELECT unnest(generate_series(0, 5)) AS i)),
              |base AS (
              |  SELECT CAST(floor(value) AS BIGINT) AS y,
              |         (epoch_us(ts) // 3600000000) % 24 AS hour,
              |         (epoch_us(ts) // 86400000000) % 7 AS dow
              |  FROM events),
              |m AS (SELECT CAST(sum(y) AS BIGINT) // count(*) AS m
              |      FROM base),
              |r1 AS (SELECT hour, dow, y - m AS r FROM base CROSS JOIN m),
              |st1 AS (${fitStumpSql("r1", 1)}),
              |r2 AS (SELECT b.hour, b.dow,
              |         b.r - CASE WHEN (t.feature = 'hour'
              |             AND b.hour <= t.threshold)
              |           OR (t.feature = 'dow' AND b.dow <= t.threshold)
              |           THEN t.left_val ELSE t.right_val END AS r
              |       FROM r1 b CROSS JOIN st1 t),
              |st2 AS (${fitStumpSql("r2", 2)})
              |SELECT * FROM st1 UNION ALL SELECT * FROM st2""".stripMargin)),

    /* Logistic-regression GD (`q_logit_step`): two batch gradient steps
     * on a base-2 logit model — σ₂(z) = 1/(1+2^(−z)) via the repo's
     * e6 pow2 machinery, so probabilities are INTEGERS both engines
     * agree on exactly. Complements q_perceptron (hinge) with the
     * smooth-loss workhorse. */
    // ── Two logistic GD steps: y = purchase, x1 = hour≤11, x2 = dow≤3,
    //    w ← w + Σ(y·1e6 − p_e6)·x div n from w₀ = 0 (so step 1's
    //    gradient is analytic: p = ½ everywhere). Output per step:
    //    weights + mean predicted probability.
    QueryDef("q_logit_step",
      (s, d) => {
        val base = Tables.events(s, d).selectExpr(
            "CASE WHEN event_type = 'purchase' THEN 1L ELSE 0L END AS y",
            "CASE WHEN (unix_micros(ts) div 3600000000) % 24 <= 11 " +
              "THEN 1L ELSE 0L END AS x1",
            "CASE WHEN (unix_micros(ts) div 86400000000) % 7 <= 3 " +
              "THEN 1L ELSE 0L END AS x2")
          .localCheckpoint(false) // both steps ride one scan
        def step(w: DataFrame, k: Int): DataFrame =
          sigmoidE6(base.crossJoin(broadcast(w))
            .withColumn("z", expr("w0 + w1 * x1 + w2 * x2")))
            .groupBy(col("w0"), col("w1"), col("w2"))
            .agg(count(lit(1)).as("n"),
              sum(expr("y * 1000000 - p_e6")).as("g0"),
              sum(expr("(y * 1000000 - p_e6) * x1")).as("g1"),
              sum(expr("(y * 1000000 - p_e6) * x2")).as("g2"),
              sum(col("p_e6")).as("sp"))
            .selectExpr(s"CAST($k AS BIGINT) AS step",
              "w0 + g0 div n AS w0", "w1 + g1 div n AS w1",
              "w2 + g2 div n AS w2", "sp div n AS mean_p_e6")
            .localCheckpoint(false) // one-row model
        val w0 = s.range(1).selectExpr("0L AS w0", "0L AS w1", "0L AS w2")
        val s1 = step(w0, 1)
        val s2 = step(s1.selectExpr("w0", "w1", "w2"), 2)
        s1.unionByName(s2)
      },
      Some {
        def stepSql(wSrc: String, k: Int): String = {
          val p = sigmoidE6Sql("w0 + w1 * x1 + w2 * x2")
          s"""SELECT CAST($k AS BIGINT) AS step,
             |       w0 + CAST(sum(y * 1000000 - p_e6) AS BIGINT)
             |         // count(*) AS w0,
             |       w1 + CAST(sum((y * 1000000 - p_e6) * x1) AS BIGINT)
             |         // count(*) AS w1,
             |       w2 + CAST(sum((y * 1000000 - p_e6) * x2) AS BIGINT)
             |         // count(*) AS w2,
             |       CAST(sum(p_e6) AS BIGINT) // count(*) AS mean_p_e6
             |FROM (SELECT b.*, w.w0, w.w1, w.w2, $p AS p_e6
             |      FROM base b CROSS JOIN ($wSrc) w)
             |GROUP BY w0, w1, w2""".stripMargin
        }
        s"""WITH base AS (
           |  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
           |           AS y,
           |         CASE WHEN (epoch_us(ts) // 3600000000) % 24 <= 11
           |           THEN 1 ELSE 0 END AS x1,
           |         CASE WHEN (epoch_us(ts) // 86400000000) % 7 <= 3
           |           THEN 1 ELSE 0 END AS x2
           |  FROM events),
           |s1 AS (${stepSql("SELECT 0 AS w0, 0 AS w1, 0 AS w2", 1)}),
           |s2 AS (${stepSql("SELECT w0, w1, w2 FROM s1", 2)})
           |SELECT step, w0, w1, w2, mean_p_e6 FROM s1
           |UNION ALL SELECT step, w0, w1, w2, mean_p_e6 FROM s2"""
          .stripMargin
      }),

    /* MICE step (`q_mice_step`): one regression-imputation round —
     * deterministically mask acctbal on custkey%11=0, fit per-segment
     * OLS acctbal~spend on the observed rows (exact integer moments,
     * 6dp coefficients), impute the masked rows, and score RMSE /
     * bias against the held-back truth. The audit every imputation
     * pipeline needs before it trusts the fill. Sums of squared errors
     * stay integer (cents²); one sqrt at close. */
    // ── One regression-imputation round + held-out audit.
    QueryDef("q_mice_step",
      (s, d) => {
        val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
            .as("sp"))
        val base = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bal"))
          .join(spend, col("c_custkey") === col("o_custkey"), "left")
          .selectExpr("c_custkey", "seg", "bal",
            "coalesce(sp, 0L) AS sp",
            "CASE WHEN c_custkey % 11 = 0 THEN 1L ELSE 0L END AS miss")
          .localCheckpoint(false) // fit on observed + score on masked
        val fit = base.where(col("miss") === 0)
          .groupBy(col("seg"))
          .agg(count(lit(1)).as("n"), sum(col("sp")).as("sx"),
            sum(col("bal")).as("sy"),
            sum(expr(s"CAST(sp AS $dec) * sp")).as("sxx"),
            sum(expr(s"CAST(sp AS $dec) * bal")).as("sxy"))
          .selectExpr("seg",
            s"""CASE WHEN CAST(n AS $dec) * sxx
               | - CAST(sx AS $dec) * sx = 0 THEN CAST(0.0 AS DOUBLE)
               |ELSE round(CAST(CAST(n AS $dec) * sxy
               |    - CAST(sx AS $dec) * sy AS DOUBLE)
               |  / CAST(CAST(n AS $dec) * sxx
               |    - CAST(sx AS $dec) * sx AS DOUBLE), 6)
               |END AS b1""".stripMargin, "n", "sx", "sy")
          .selectExpr("seg", "b1",
            """round((CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
              | / CAST(n AS DOUBLE), 6) AS b0""".stripMargin)
        base.where(col("miss") === 1)
          .join(broadcast(fit), "seg")
          .selectExpr("bal",
            "CAST(round(b0 + b1 * CAST(sp AS DOUBLE)) AS BIGINT)" +
              " AS imp")
          .agg(count(lit(1)).as("n_masked"),
            sum(col("bal")).as("true_sum"), sum(col("imp")).as("imp_sum"),
            sum(expr(s"CAST(imp - bal AS $dec) * (imp - bal)"))
              .as("sse"))
          .selectExpr("n_masked",
            "(imp_sum - true_sum) div n_masked AS bias_cents",
            """round(sqrt(CAST(sse AS DOUBLE)
              | / CAST(n_masked AS DOUBLE))
              | / CAST('100.0' AS DOUBLE), 6) AS rmse_usd"""
              .stripMargin)
      },
      Some("""WITH spend AS (
             |  SELECT o_custkey,
             |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS sp
             |  FROM orders GROUP BY 1),
             |base AS (SELECT c_custkey, c_mktsegment AS seg,
             |           CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
             |             AS bal,
             |           coalesce(sp, 0) AS sp,
             |           CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END
             |             AS miss
             |         FROM customer
             |         LEFT JOIN spend ON o_custkey = c_custkey),
             |m AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
             |             CAST(sum(sp) AS BIGINT) AS sx,
             |             CAST(sum(bal) AS BIGINT) AS sy,
             |             sum(CAST(sp AS HUGEINT) * sp) AS sxx,
             |             sum(CAST(sp AS HUGEINT) * bal) AS sxy
             |      FROM base WHERE miss = 0 GROUP BY 1),
             |f1 AS (SELECT seg,
             |         CASE WHEN CAST(n AS HUGEINT) * sxx
             |             - CAST(sx AS HUGEINT) * sx = 0
             |           THEN CAST(0.0 AS DOUBLE)
             |         ELSE round(CAST(CAST(n AS HUGEINT) * sxy
             |             - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             |           / CAST(CAST(n AS HUGEINT) * sxx
             |             - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
             |         END AS b1, n, sx, sy
             |       FROM m),
             |f AS (SELECT seg, b1,
             |        round((CAST(sy AS DOUBLE) - b1 * CAST(sx AS DOUBLE))
             |          / CAST(n AS DOUBLE), 6) AS b0
             |      FROM f1),
             |sc AS (SELECT bal,
             |         CAST(round(b0 + b1 * CAST(sp AS DOUBLE)) AS BIGINT)
             |           AS imp
             |       FROM base JOIN f USING (seg) WHERE miss = 1),
             |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_masked,
             |               CAST(sum(bal) AS BIGINT) AS true_sum,
             |               CAST(sum(imp) AS BIGINT) AS imp_sum,
             |               sum(CAST(imp - bal AS HUGEINT) * (imp - bal))
             |                 AS sse
             |        FROM sc)
             |SELECT n_masked,
             |       (imp_sum - true_sum) // n_masked AS bias_cents,
             |       round(sqrt(CAST(sse AS DOUBLE)
             |         / CAST(n_masked AS DOUBLE))
             |         / CAST('100.0' AS DOUBLE), 6) AS rmse_usd
             |FROM agg""".stripMargin)),

    /* Information gain + gain ratio (`q_info_gain`): I(V;Y) of order
     * priority against the high-value outcome via the four-term count
     * identity n·I = Σc·L(c) − Σn_v·L(n_v) − Σc_y·L(c_y) + n·L(n),
     * all in the shared integer log₂ (L = log2E6) — the decision-tree
     * split score next to q_chi2_feature's frequentist take. */
    // ── Mutual information (= info gain) + gain ratio of priority.
    QueryDef("q_info_gain",
      (s, d) => {
        prioCellEntropy(s, d)
          .withColumn("mi_num",
            expr("t_cells - t_v - t_y + t_n"))
          .withColumn("hv_num", expr("t_n - t_v"))
          .selectExpr("n",
            """CASE WHEN mi_num >= 0 THEN mi_num div n
              |ELSE -((-mi_num) div n) END AS ig_e6""".stripMargin,
            s"""CASE WHEN hv_num <= 0 THEN NULL
               |WHEN mi_num >= 0 THEN CAST(CAST(mi_num AS $dec) * 1000000
               |  div hv_num AS BIGINT)
               |ELSE -CAST(CAST(-mi_num AS $dec) * 1000000 div hv_num
               |  AS BIGINT)
               |END AS gain_ratio_e6""".stripMargin)
      },
      Some {
        def L(v: String) = Bm25.log2E6Sql(v)
        prioCellEntropySql +
          s""",
             |j AS (SELECT n, t_cells, t_v, t_y,
             |        n * CAST(${L("n")} AS BIGINT) AS t_n
             |      FROM tc CROSS JOIN tv CROSS JOIN ty),
             |k AS (SELECT n, t_cells - t_v - t_y + t_n AS mi_num,
             |        t_n - t_v AS hv_num FROM j)
             |SELECT n,
             |       CASE WHEN mi_num >= 0 THEN mi_num // n
             |       ELSE -((-mi_num) // n) END AS ig_e6,
             |       CASE WHEN hv_num <= 0 THEN NULL
             |       WHEN mi_num >= 0 THEN CAST(CAST(mi_num AS HUGEINT)
             |         * 1000000 // hv_num AS BIGINT)
             |       ELSE -CAST(CAST(-mi_num AS HUGEINT) * 1000000
             |         // hv_num AS BIGINT)
             |       END AS gain_ratio_e6
             |FROM k""".stripMargin
      }),

    /* χ² feature score (`q_chi2_feature`): χ² = Σ O²·n div (r·c) − n
     * over the 5×2 priority×outcome table, per-cell exact integer
     * (decimal headroom), df = (|V|−1)(|Y|−1). */
    // ── χ² independence score on the same 5×2 table.
    QueryDef("q_chi2_feature",
      (s, d) => {
        val cells = prioCells(s, d)
        val nv = cells.groupBy(col("v")).agg(sum(col("c")).as("nv"))
        val cy = cells.groupBy(col("yy")).agg(sum(col("c")).as("cy"))
        val n = cells.agg(sum(col("c")).as("n"),
          countDistinct(col("v")).as("kv"),
          countDistinct(col("yy")).as("ky"))
        cells.join(broadcast(nv), "v").join(broadcast(cy), "yy")
          .crossJoin(broadcast(n))
          .select(col("n"), col("kv"), col("ky"),
            expr(s"CAST(CAST(c AS $dec) * c * n * 1000000 div (nv * cy)" +
              " AS BIGINT)").as("cell"))
          .groupBy(col("n"), col("kv"), col("ky"))
          .agg(sum(col("cell")).as("s"))
          .selectExpr("n", "(kv - 1) * (ky - 1) AS df",
            "s - n * 1000000 AS chi2_e6")
      },
      Some(prioCellsSql +
        """,
          |nv AS (SELECT v, CAST(sum(c) AS BIGINT) AS nv FROM cells
          |       GROUP BY 1),
          |cy AS (SELECT yy, CAST(sum(c) AS BIGINT) AS cy FROM cells
          |       GROUP BY 1),
          |n AS (SELECT CAST(sum(c) AS BIGINT) AS n,
          |             CAST(count(DISTINCT v) AS BIGINT) AS kv,
          |             CAST(count(DISTINCT yy) AS BIGINT) AS ky
          |      FROM cells),
          |pc AS (SELECT n.n, n.kv, n.ky,
          |         CAST(CAST(c AS HUGEINT) * c * n.n * 1000000
          |           // (nv.nv * cy.cy) AS BIGINT) AS cell
          |       FROM cells JOIN nv USING (v) JOIN cy USING (yy)
          |       CROSS JOIN n)
          |SELECT n, (kv - 1) * (ky - 1) AS df,
          |       CAST(sum(cell) AS BIGINT) - n * 1000000 AS chi2_e6
          |FROM pc GROUP BY n, kv, ky""".stripMargin)),

    /* Gini impurity split (`q_gini_impurity`): root/weighted-child Gini
     * AND entropy impurity of the priority→high-value split — the
     * CART-style twin of q_info_gain (which reports MI/gain-ratio);
     * Gini needs only Σc² ratios so it is exact integer e6 end to end. */
    // ── Gini + entropy impurity of the priority→high-value split.
    QueryDef("q_gini_impurity",
      (s, d) => {
        val cells = Tables.orders(s, d)
          .select(col("o_orderpriority").as("v"),
            (col("o_totalprice") >= 150000.0).as("yy"))
          .groupBy(col("v"), col("yy")).agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // ≤ 10 cells
        val perV = cells.groupBy(col("v"))
          .agg(sum(col("c")).as("nv"), sum(col("c") * col("c")).as("s2v"),
            sum(col("c") * Bm25.log2E6(col("c"))).as("slcv"))
          .withColumn("gv_e6",
            expr("1000000 - s2v * 1000000 div (nv * nv)"))
          .withColumn("hv_e6",
            Bm25.log2E6(col("nv")) - expr("slcv div nv"))
        val split = perV.agg(sum(col("nv")).as("n"),
          sum(col("nv") * col("gv_e6")).as("wg"),
          sum(col("nv") * col("hv_e6")).as("wh"))
        val root = cells.groupBy(col("yy")).agg(sum(col("c")).as("cy"))
          .agg(sum(expr(s"CAST(cy AS $dec) * cy")).as("s2y"),
            sum(col("cy") * Bm25.log2E6(col("cy"))).as("slcy"))
        split.crossJoin(broadcast(root))
          .withColumn("gini_root_e6",
            expr(s"CAST(1000000 - CAST(s2y AS $dec) * 1000000" +
              s" div (CAST(n AS $dec) * n) AS BIGINT)"))
          .withColumn("ent_root_e6",
            Bm25.log2E6(col("n")) - expr("slcy div n"))
          .selectExpr("n", "gini_root_e6",
            "wg div n AS gini_split_e6",
            "gini_root_e6 - wg div n AS gini_gain_e6",
            "ent_root_e6",
            "wh div n AS ent_split_e6",
            "ent_root_e6 - wh div n AS ent_gain_e6")
      },
      Some {
        def L(v: String) = s"CAST(${Bm25.log2E6Sql(v)} AS BIGINT)"
        s"""WITH cells AS (
           |  SELECT o_orderpriority AS v,
           |         o_totalprice >= 150000.0 AS yy,
           |         CAST(count(*) AS BIGINT) AS c
           |  FROM orders GROUP BY 1, 2),
           |perv AS (SELECT v, CAST(sum(c) AS BIGINT) AS nv,
           |           CAST(sum(c * c) AS BIGINT) AS s2v,
           |           CAST(sum(c * ${L("c")}) AS BIGINT) AS slcv
           |         FROM cells GROUP BY 1),
           |pv2 AS (SELECT nv,
           |          1000000 - s2v * 1000000 // (nv * nv) AS gv_e6,
           |          ${L("nv")} - slcv // nv AS hv_e6
           |        FROM perv),
           |sp AS (SELECT CAST(sum(nv) AS BIGINT) AS n,
           |         CAST(sum(nv * gv_e6) AS BIGINT) AS wg,
           |         CAST(sum(nv * hv_e6) AS BIGINT) AS wh FROM pv2),
           |rt AS (SELECT CAST(sum(CAST(cy AS HUGEINT) * cy) AS HUGEINT)
           |           AS s2y,
           |         CAST(sum(cy * ${L("cy")}) AS BIGINT) AS slcy
           |       FROM (SELECT CAST(sum(c) AS BIGINT) AS cy FROM cells
           |             GROUP BY yy)),
           |j AS (SELECT n, wg, wh,
           |        CAST(1000000 - CAST(s2y AS HUGEINT) * 1000000
           |          // (CAST(n AS HUGEINT) * n) AS BIGINT)
           |          AS gini_root_e6,
           |        ${L("n")} - slcy // n AS ent_root_e6
           |      FROM sp CROSS JOIN rt)
           |SELECT n, gini_root_e6,
           |       wg // n AS gini_split_e6,
           |       gini_root_e6 - wg // n AS gini_gain_e6,
           |       ent_root_e6,
           |       wh // n AS ent_split_e6,
           |       ent_root_e6 - wh // n AS ent_gain_e6
           |FROM j""".stripMargin
      })
  )
}
