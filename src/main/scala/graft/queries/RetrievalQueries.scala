package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Diversify, Ranking, Recsys, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval, ranking and recommendation: BM25 and hybrid retrieval, rank
  * fusion, ranking metrics, rank distances, preference aggregation, and
  * recommenders. */
object RetrievalQueries extends QueryCatalog {

  /** 1996 brand revenue ranked within each ship month: (m, p_brand,
    * rev = cents, rk). */
  private def monthlyBrandRanks(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .where(expr("year(l_shipdate) = 1996"))
      .groupBy(expr("month(l_shipdate)").as("m"), col("p_brand"))
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5)
        .cast("long")).as("rev"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("m"))
          .orderBy(col("rev").desc, col("p_brand"))).cast("long"))

  /** The revenue CTE `rev` (m, p_brand, rev) of [[monthlyBrandRanks]]. */
  private val brandRevSql =
    """rev AS (
      |  SELECT month(l_shipdate) AS m, p_brand,
      |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
      |           AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem JOIN part ON p_partkey = l_partkey
      |  WHERE year(l_shipdate) = 1996
      |  GROUP BY 1, 2)""".stripMargin

  /** The q_bm25_topk oracle pipeline as CTE text, LIMIT `k`. */
  private def bm25Sql(k: Int): String = {
    val log2 = Bm25.log2E6Sql("v")
    s"""bm_dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |          FROM documents),
       |bm_n AS (SELECT count(*) AS n FROM documents),
       |bm_l AS (SELECT CAST(sum(dl) AS BIGINT) AS l FROM bm_dl),
       |bm_tf AS (SELECT doc_id, wd AS word, count(*) AS tf
       |          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents) u
       |          WHERE wd IN ('spark', 'join', 'fast')
       |          GROUP BY 1, 2),
       |bm_df AS (SELECT word, count(*) AS bm_df FROM bm_tf GROUP BY 1),
       |bm_df2 AS (SELECT word, bm_df,
       |                  1024 + (1024 * (2 * (bm_n.n - bm_df) + 1)) // (2 * bm_df + 1) AS v
       |           FROM bm_df, bm_n),
       |bm_idf AS (SELECT word, CAST($log2 - 10000000 AS BIGINT) AS idf_e6 FROM bm_df2),
       |bm_sc AS (SELECT bm_tf.doc_id,
       |                 CAST((bm_idf.idf_e6 * 44 * bm_l.l * bm_tf.tf)
       |                   // (20 * bm_l.l * bm_tf.tf + 6 * bm_l.l
       |                       + 18 * bm_dl.dl * bm_n.n) AS BIGINT) AS term_score
       |          FROM bm_tf JOIN bm_idf USING (word) JOIN bm_dl USING (doc_id), bm_n, bm_l),
       |bm_top AS (SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_e6
       |           FROM bm_sc GROUP BY 1
       |           ORDER BY score_e6 DESC, doc_id ASC LIMIT $k)""".stripMargin
  }

  /** Leading-`dims` e6-quantized embedding components, as in
    * Similarity.gramMatrix / the q_pca_power oracle. */
  private def compSql(i: Int) =
    s"CAST(floor(CAST(embedding AS DOUBLE[])[${i + 1}] * 1000000 + 0.5) AS BIGINT)"

  private val mmrDims = 8

  /** Unrolled greedy-MMR oracle: candidates = top 8 by integer inner
    * product against the smallest-vec_id query vector; picks 1..4 with
    * margin rel − max(sim to selected), ties to the smaller id. */
  private def mmrSql(k: Int): String = {
    val comps = (0 until mmrDims).map(i => s"${compSql(i)} AS c$i").mkString(", ")
    def ip(x: String, y: String) =
      (0 until mmrDims).map(i => s"$x.c$i * $y.c$i").mkString(" + ")
    val picks = (2 to k).map { r =>
      s"""sel${r - 1} AS MATERIALIZED (${(1 until r).map(i => s"SELECT id FROM s$i").mkString(" UNION ALL ")}),
         |s$r AS MATERIALIZED (
         |  SELECT c.id, c.rel, c.rel - max(s.sim) AS mmr2, CAST($r AS BIGINT) AS pick
         |  FROM cand c JOIN sims s ON s.a = c.id AND s.b IN (SELECT id FROM sel${r - 1})
         |  WHERE c.id NOT IN (SELECT id FROM sel${r - 1})
         |  GROUP BY c.id, c.rel ORDER BY mmr2 DESC, c.id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH cc AS (SELECT vec_id, $comps FROM embeddings),
       |q AS MATERIALIZED (SELECT * FROM cc ORDER BY vec_id LIMIT 1),
       |rel AS (SELECT cc.vec_id AS id, ${ip("cc", "q")} AS rel
       |        FROM cc CROSS JOIN q WHERE cc.vec_id <> q.vec_id),
       |cand AS MATERIALIZED (SELECT id, rel FROM rel ORDER BY rel DESC, id LIMIT 8),
       |cs AS (SELECT c.id, c.rel, ${(0 until mmrDims).map(i => s"cc.c$i").mkString(", ")}
       |       FROM cand c JOIN cc ON cc.vec_id = c.id),
       |sims AS MATERIALIZED (SELECT x.id AS a, y.id AS b, ${ip("x", "y")} AS sim
       |       FROM cs x JOIN cs y ON x.id <> y.id),
       |s1 AS MATERIALIZED (SELECT id, rel, rel AS mmr2, CAST(1 AS BIGINT) AS pick
       |      FROM cand ORDER BY rel DESC, id LIMIT 1),
       |$picks
       |SELECT pick, CAST(id AS BIGINT) AS id, CAST(rel AS BIGINT) AS rel,
       |       CAST(mmr2 AS BIGINT) AS mmr2
       |FROM (${(1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")})""".stripMargin
  }

  /** Oracle twin of Recsys.itemCf over lineitem baskets — shared with
    * q_rec_coverage. Mirrors the engine's deterministic
    * mega-basket skew cap (smallest 256 item ids per basket; a no-op on
    * lineitem's ≤7-item baskets but part of the operator contract). */
  private val itemCfSql: String =
    """WITH bi AS MATERIALIZED (
      |  SELECT b, i FROM (
      |    SELECT b, i, row_number() OVER (PARTITION BY b ORDER BY i)
      |             AS brk
      |    FROM (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
      |          FROM lineitem))
      |  WHERE brk <= 256),
      |itot AS (SELECT i, count(*) AS ci FROM bi GROUP BY i),
      |co AS (SELECT x.i AS item, y.i AS rec, count(*) AS n_co
      |       FROM bi x JOIN bi y ON x.b = y.b AND x.i <> y.i
      |       GROUP BY 1, 2 HAVING count(*) >= 2),
      |sc AS (SELECT item, rec, n_co,
      |         CAST(n_co * n_co * 1000000000000 // (a.ci * b.ci)
      |              AS BIGINT) AS cos2_e12
      |       FROM co JOIN itot a ON a.i = co.item
      |               JOIN itot b ON b.i = co.rec),
      |rk AS (SELECT item, rec, n_co, cos2_e12, row_number() OVER
      |         (PARTITION BY item ORDER BY cos2_e12 DESC, rec) AS rk
      |       FROM sc)
      |SELECT item, rec, CAST(n_co AS BIGINT) AS n_co, cos2_e12,
      |       CAST(rk AS BIGINT) AS rk
      |FROM rk WHERE rk <= 5""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── BM25 top-10 with the fixed-point integer log ([[Bm25]]) — the
    //    portable-log design that closes the "no cross-engine ln()" gap
    //    TF-IDF documents. Every score is a BIGINT in e6 log₂ units.
    QueryDef("q_bm25_topk",
      (s, d) => Bm25.topK(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        Seq("spark", "join", "fast"), 10),
      Some {
        val log2 = Bm25.log2E6Sql("v")
        s"""WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           |            FROM documents),
           |n AS (SELECT count(*) AS n FROM documents),
           |l AS (SELECT CAST(sum(dl) AS BIGINT) AS l FROM dl),
           |tf AS (SELECT doc_id, wd AS word, count(*) AS tf
           |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents) u
           |       WHERE wd IN ('spark', 'join', 'fast')
           |       GROUP BY 1, 2),
           |df AS (SELECT word, count(*) AS bm_df FROM tf GROUP BY 1),
           |df2 AS (SELECT word, bm_df,
           |               1024 + (1024 * (2 * (n.n - bm_df) + 1)) // (2 * bm_df + 1) AS v
           |        FROM df, n),
           |idf AS (SELECT word, CAST($log2 - 10000000 AS BIGINT) AS idf_e6 FROM df2),
           |sc AS (SELECT tf.doc_id,
           |              CAST((idf.idf_e6 * 44 * l.l * tf.tf)
           |                // (20 * l.l * tf.tf + 6 * l.l + 18 * dl.dl * n.n) AS BIGINT) AS term_score
           |       FROM tf JOIN idf USING (word) JOIN dl USING (doc_id), n, l)
           |SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_e6
           |FROM sc GROUP BY 1
           |ORDER BY score_e6 DESC, doc_id ASC LIMIT 10""".stripMargin
      }),

    // ── Reciprocal rank fusion of two document rankings (by raw length,
    //    by distinct-word count — both tie-broken on doc_id): the hybrid
    //    lexical+vector retrieval combiner, e6 integer reciprocals.
    QueryDef("q_rank_fusion",
      (s, d) => {
        val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
        val byLen = docs.select(col("doc_id").as("id"),
          row_number().over(
            Window.orderBy(length(col("text")).desc, col("doc_id"))).as("rank"))
        val byVocab = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("doc_id")).agg(countDistinct(col("w")).as("nw"))
          .select(col("doc_id").as("id"), row_number().over(
            Window.orderBy(col("nw").desc, col("doc_id"))).as("rank"))
        Ranking.rrf(Seq(byLen, byVocab), 60L)
      },
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
             |r1 AS (SELECT doc_id AS id,
             |              row_number() OVER (ORDER BY length(text) DESC, doc_id) AS rank
             |       FROM d),
             |v AS (SELECT doc_id, count(DISTINCT wd) AS nw
             |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM d) u
             |      WHERE wd <> '' GROUP BY doc_id),
             |r2 AS (SELECT doc_id AS id,
             |              row_number() OVER (ORDER BY nw DESC, doc_id) AS rank
             |       FROM v),
             |c AS (SELECT id, 1000000 // (60 + rank) AS c FROM r1
             |      UNION ALL SELECT id, 1000000 // (60 + rank) FROM r2)
             |SELECT id, CAST(sum(c) AS BIGINT) AS score_e6,
             |       CAST(count(*) AS BIGINT) AS n_lists
             |FROM c GROUP BY id""".stripMargin)),

    // ── NDCG@10 per priority class: price ranking scored against the
    //    synthetic relevance o_orderkey % 4 with the portable fixed-point
    //    log₂ discount — the ranking-eval loop of a retrieval pipeline.
    QueryDef("q_ndcg",
      (s, d) => Ranking.ndcgAtK(
        Tables.orders(s, d).select(col("o_orderpriority").as("g"),
          row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("o_orderpriority"))
              .orderBy(col("o_totalprice").desc, col("o_orderkey")))
            .cast("long").as("rank"),
          (col("o_orderkey") % 4).as("rel")),
        "g", "rank", "rel", 10),
      Some(s"""WITH r AS (SELECT o_orderpriority AS g,
             |                  CAST(row_number() OVER (PARTITION BY o_orderpriority
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank,
             |                  CAST(o_orderkey % 4 AS BIGINT) AS rel
             |           FROM orders),
             |i AS (SELECT g, rank, rel,
             |             CAST(row_number() OVER (PARTITION BY g
             |                  ORDER BY rel DESC, rank) AS BIGINT) AS irank
             |      FROM r),
             |c AS (SELECT g,
             |        CASE WHEN rank <= 10 THEN (rel * 1000000000000)
             |             // ${Bm25.log2E6Sql("(rank + 1)")} ELSE 0 END AS cp,
             |        CASE WHEN irank <= 10 THEN (rel * 1000000000000)
             |             // ${Bm25.log2E6Sql("(irank + 1)")} ELSE 0 END AS ci
             |      FROM i)
             |SELECT g, CAST(sum(cp) AS BIGINT) AS dcg_e6,
             |       CAST(sum(ci) AS BIGINT) AS idcg_e6,
             |       CAST(sum(cp) * 1000000 // nullif(sum(ci), 0) AS BIGINT) AS ndcg_e6
             |FROM c GROUP BY g""".stripMargin)),

    // ── Hybrid retrieval end-to-end: BM25 top-20 (lexical) fused with
    //    cosine top-20 (vector) by reciprocal rank — doc_id and vec_id
    //    share the id space, so consensus ids float to the top.
    QueryDef("q_hybrid_retrieval",
      (s, d) => {
        val bm = Bm25.topK(
          Tables.documents(s, d).select(col("doc_id"), col("text")),
          Seq("spark", "join", "fast"), 20)
          .select(col("doc_id").as("id"), row_number().over(
            Window.orderBy(col("score_e6").desc, col("doc_id")))
            .cast("long").as("rank"))
        val e = Similarity.cast(Tables.embeddings(s, d))
        val cosList = Similarity.topK(
          e.filter(col("vec_id") > 0).select(col("vec_id"), col("ev")),
          e.filter(col("vec_id") === 0).select(col("ev").as("qv")), 20)
          .select(col("vec_id").as("id"), row_number().over(
            Window.orderBy(col("cos").desc, col("vec_id")))
            .cast("long").as("rank"))
        Ranking.rrf(Seq(bm, cosList), 60L)
      },
      Some(s"""WITH ${bm25Sql(20)},
             |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
             |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings WHERE vec_id > 0),
             |cos_top AS (SELECT vec_id,
             |                   round(list_dot_product(ev, qv) /
             |                         (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
             |            FROM ev, qv ORDER BY cos DESC, vec_id ASC LIMIT 20),
             |r1 AS (SELECT doc_id AS id,
             |              row_number() OVER (ORDER BY score_e6 DESC, doc_id) AS rank
             |       FROM bm_top),
             |r2 AS (SELECT vec_id AS id,
             |              row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
             |       FROM cos_top),
             |c AS (SELECT id, 1000000 // (60 + rank) AS c FROM r1
             |      UNION ALL SELECT id, 1000000 // (60 + rank) FROM r2)
             |SELECT id, CAST(sum(c) AS BIGINT) AS score_e6,
             |       CAST(count(*) AS BIGINT) AS n_lists
             |FROM c GROUP BY id""".stripMargin)),

    // ── Precision@10 and MRR per priority class on the same synthetic
    //    relevance as q_ndcg.
    QueryDef("q_retrieval_metrics",
      (s, d) => Ranking.retrievalMetrics(
        Tables.orders(s, d).select(col("o_orderpriority").as("g"),
          row_number().over(Window.partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey")))
            .cast("long").as("rank"),
          (col("o_orderkey") % 4).as("rel")),
        "g", "rank", "rel", 10),
      Some("""WITH r AS (SELECT o_orderpriority AS g,
             |                  CAST(row_number() OVER (PARTITION BY o_orderpriority
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank,
             |                  CAST(o_orderkey % 4 AS BIGINT) AS rel
             |           FROM orders)
             |SELECT g,
             |       CAST(sum(CASE WHEN rank <= 10 AND rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_rel_at_k,
             |       CAST(min(CASE WHEN rel > 0 THEN rank END) AS BIGINT) AS first_rel_rank,
             |       CAST(sum(CASE WHEN rank <= 10 AND rel > 0 THEN 1 ELSE 0 END)
             |            * 1000000 // 10 AS BIGINT) AS prec_e6,
             |       CAST(1000000 // min(CASE WHEN rel > 0 THEN rank END) AS BIGINT) AS mrr_e6
             |FROM r GROUP BY g""".stripMargin)),

    // ── MMR diversification (λ = ½) of the top-8 inner-product
    //    retrieval against the smallest-vec_id query embedding: 4
    //    greedy picks trading relevance against max similarity to the
    //    already-picked — e6-integer vector math end to end.
    QueryDef("q_mmr_diversify",
      (s, d) => {
        val cc = (0 until mmrDims).foldLeft(
          Tables.embeddings(s, d)
            .withColumn("ev", col("embedding").cast("array<double>"))) {
          (acc, i) => acc.withColumn(s"c$i",
            expr(s"CAST(floor(element_at(ev, ${i + 1}) * 1000000 + 0.5) AS BIGINT)"))
        }.select(col("vec_id") +: (0 until mmrDims).map(i => col(s"c$i")): _*)
        val q = cc.orderBy(col("vec_id")).limit(1)
          .select((0 until mmrDims).map(i => col(s"c$i").as(s"q$i")) :+
            col("vec_id").as("q_id"): _*)
        val ip = (0 until mmrDims)
          .map(i => col(s"c$i") * col(s"q$i")).reduce(_ + _)
        val cand = cc.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("rel", ip)
          .orderBy(col("rel").desc, col("vec_id").asc).limit(8)
          .select(col("vec_id").as("id") +: col("rel") +:
            (0 until mmrDims).map(i => col(s"c$i")): _*)
          .localCheckpoint(false)
        val right = cand.select(col("id").as("b") +:
          (0 until mmrDims).map(i => col(s"c$i").as(s"q$i")): _*)
        val sims = cand.crossJoin(right)
          .filter(col("id") =!= col("b"))
          .select(col("id").as("a"), col("b"), ip.as("sim"))
        Diversify.mmr(cand.select(col("id"), col("rel")), sims, 4)
      },
      Some(mmrSql(4))),

    // ── Item-item CF over order baskets: pairs sharing ≥ 2 orders,
    //    exact e12 squared cosine, top-5 recs per part.
    QueryDef("q_item_cf",
      (s, d) => Recsys.itemCf(
        Tables.lineitem(s, d)
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i")),
        "b", "i", 2L, 5),
      Some(itemCfSql)),

    // ── Recall@5 of the basket recommender: train on pre-1999 orders,
    //    evaluate on the rest — the leave-forward CF evaluation.
    QueryDef("q_cf_recall",
      (s, d) => {
        // one orders⋈lineitem pass feeds BOTH the train and test branches
        val li = Tables.lineitem(s, d).join(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_partkey"), col("o_orderdate"))
          .localCheckpoint(false)
        val train = li.filter(expr("o_orderdate < TIMESTAMP_NTZ'1999-01-01'"))
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
        val test = li.filter(expr("o_orderdate >= TIMESTAMP_NTZ'1999-01-01'"))
          .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
        Recsys.recallAtK(train, test, "b", "i", 2L, 5)
      },
      Some("""WITH li AS MATERIALIZED (
             |  SELECT l.l_orderkey AS b, l.l_partkey AS i, o.o_orderdate AS dt
             |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
             |bi AS MATERIALIZED (
             |  SELECT DISTINCT b, i FROM li WHERE dt < TIMESTAMP '1999-01-01'),
             |itot AS (SELECT i, count(*) AS ci FROM bi GROUP BY i),
             |co AS (SELECT x.i AS item, y.i AS rec, count(*) AS n_co
             |       FROM bi x JOIN bi y ON x.b = y.b AND x.i <> y.i
             |       GROUP BY 1, 2 HAVING count(*) >= 2),
             |sc AS (SELECT item, rec,
             |         CAST(n_co * n_co * 1000000000000 // (a.ci * b.ci)
             |              AS BIGINT) AS cos2_e12
             |       FROM co JOIN itot a ON a.i = co.item
             |               JOIN itot b ON b.i = co.rec),
             |recs AS MATERIALIZED (
             |  SELECT item, rec FROM (
             |    SELECT item, rec, row_number() OVER
             |      (PARTITION BY item ORDER BY cos2_e12 DESC, rec) AS rk
             |    FROM sc) WHERE rk <= 5),
             |ti AS MATERIALIZED (
             |  SELECT DISTINCT b, i FROM li WHERE dt >= TIMESTAMP '1999-01-01'),
             |pairs AS (SELECT x.b, x.i AS item, y.i AS rec
             |          FROM ti x JOIN ti y ON x.b = y.b AND x.i <> y.i),
             |ev AS (SELECT DISTINCT b, item FROM pairs),
             |hits AS (SELECT DISTINCT p.b, p.item FROM pairs p
             |         JOIN recs r ON r.item = p.item AND r.rec = p.rec)
             |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ev) AS n_eval,
             |       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
             |       CAST((SELECT CAST(count(*) AS BIGINT) FROM hits) * 1000000
             |            // (SELECT CAST(count(*) AS BIGINT) FROM ev)
             |            AS BIGINT) AS recall_e6""".stripMargin)),

    // ── Coverage + exposure concentration of the CF top-5 lists: how
    //    much of the catalog is ever recommended, and how concentrated
    //    exposure is on the 10 most-recommended parts. One derived
    //    aggregate over the shared Recsys.itemCf output.
    QueryDef("q_rec_coverage",
      (s, d) => {
        val recs = Recsys.itemCf(
          Tables.lineitem(s, d)
            .select(col("l_orderkey").as("b"), col("l_partkey").as("i")),
          "b", "i", 2L, 5).localCheckpoint(false)
        val catalog = Tables.part(s, d)
          .agg(countDistinct(col("p_partkey")).as("catalog_sz"))
        val exposure = recs.groupBy(col("rec"))
          .agg(count(lit(1)).as("exp"))
        val top10 = exposure
          .withColumn("rk", row_number().over(
            Window.orderBy(col("exp").desc, col("rec"))))
          .agg(sum(when(col("rk") <= 10, col("exp")).otherwise(0L))
            .as("top10_exp"), sum(col("exp")).as("total_exp"),
            count(lit(1)).as("n_distinct_recs"))
        val items = recs.agg(countDistinct(col("item"))
          .as("n_items_with_recs"))
        items.join(broadcast(top10)).join(broadcast(catalog))
          .select(col("n_items_with_recs"), col("n_distinct_recs"),
            col("catalog_sz"),
            expr("n_distinct_recs * 1000000 div catalog_sz")
              .as("coverage_e6"),
            expr("top10_exp * 1000000 div total_exp").as("top10_share_e6"))
      },
      Some(s"""WITH recs AS MATERIALIZED (${itemCfSql}),
              |cat AS (SELECT count(DISTINCT p_partkey) AS catalog_sz
              |        FROM part),
              |ex AS (SELECT rec, count(*) AS exp FROM recs GROUP BY 1),
              |t10 AS (
              |  SELECT sum(CASE WHEN rk <= 10 THEN exp ELSE 0 END)
              |           AS top10_exp,
              |         sum(exp) AS total_exp, count(*) AS n_distinct_recs
              |  FROM (SELECT exp, row_number() OVER
              |          (ORDER BY exp DESC, rec) AS rk FROM ex)),
              |it AS (SELECT count(DISTINCT item) AS n_items_with_recs
              |       FROM recs)
              |SELECT CAST(n_items_with_recs AS BIGINT) AS n_items_with_recs,
              |       CAST(n_distinct_recs AS BIGINT) AS n_distinct_recs,
              |       CAST(catalog_sz AS BIGINT) AS catalog_sz,
              |       CAST(n_distinct_recs * 1000000 // catalog_sz AS BIGINT)
              |         AS coverage_e6,
              |       CAST(top10_exp * 1000000 // total_exp AS BIGINT)
              |         AS top10_share_e6
              |FROM it CROSS JOIN t10 CROSS JOIN cat""".stripMargin)),

    // ── Rank-biased overlap (p = 1/2, exact dyadic weights) between the
    //    revenue and quantity rankings of the top-20 parts.
    QueryDef("q_rbo",
      (s, d) => {
        val per = Tables.lineitem(s, d).groupBy(col("l_partkey"))
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("rev"),
            sum(floor(col("l_quantity") + 0.5).cast("long")).as("qty"))
        val ranked = per
          .withColumn("ra", row_number().over(
            Window.orderBy(col("rev").desc, col("l_partkey"))).cast("long"))
          .withColumn("rb", row_number().over(
            Window.orderBy(col("qty").desc, col("l_partkey"))).cast("long"))
          .where(col("ra") <= 20 || col("rb") <= 20)
          .localCheckpoint(false) // reused by all 20 depths
        val depths = s.range(1, 21).select(col("id").as("dpt"))
        ranked.crossJoin(broadcast(depths))
          .where(col("ra") <= col("dpt") && col("rb") <= col("dpt"))
          .groupBy(col("dpt")).agg(count(lit(1)).as("overlap"))
          .selectExpr("dpt AS depth", "overlap",
            // term_d = 2^-d · overlap/d in e6 (truncating, both engines)
            "overlap * 1000000 div (dpt * CAST(pow(2, dpt) AS BIGINT)) " +
              "AS term_e6")
          .withColumn("rbo_e6", sum(col("term_e6")).over(
            Window.orderBy(col("depth"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      },
      Some("""WITH per AS (
             |  SELECT l_partkey,
             |         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
             |           AS BIGINT)) AS BIGINT) AS rev,
             |         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
             |           AS BIGINT) AS qty
             |  FROM lineitem GROUP BY 1),
             |ranked AS (
             |  SELECT l_partkey,
             |         CAST(row_number() OVER (ORDER BY rev DESC, l_partkey)
             |           AS BIGINT) AS ra,
             |         CAST(row_number() OVER (ORDER BY qty DESC, l_partkey)
             |           AS BIGINT) AS rb
             |  FROM per),
             |d AS (SELECT CAST(range AS BIGINT) AS dpt FROM range(1, 21)),
             |ov AS (SELECT dpt, CAST(count(*) AS BIGINT) AS overlap
             |       FROM ranked CROSS JOIN d
             |       WHERE ra <= dpt AND rb <= dpt GROUP BY 1),
             |terms AS (SELECT dpt AS depth, overlap,
             |                 overlap * 1000000 //
             |                   (dpt * CAST(pow(2, dpt) AS BIGINT)) AS term_e6
             |          FROM ov)
             |SELECT depth, overlap, term_e6,
             |       CAST(sum(term_e6) OVER (ORDER BY depth
             |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rbo_e6
             |FROM terms""".stripMargin)),

    // ── Autocomplete: 3-char prefix of the first word of part names,
    //    top-3 completions by frequency (count desc, word asc).
    QueryDef("q_autocomplete_topk",
      (s, d) => {
        val words = Tables.part(s, d)
          .select(split(col("p_name"), " ").getItem(0).as("word"))
          .where(length(col("word")) >= 3)
        words.groupBy(substring(col("word"), 1, 3).as("prefix"),
            col("word"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("prefix"))
              .orderBy(col("cnt").desc, col("word"))).cast("long"))
          .where(col("rk") <= 3)
      },
      Some("""WITH words AS (
             |  SELECT string_split(p_name, ' ')[1] AS word FROM part
             |  WHERE length(string_split(p_name, ' ')[1]) >= 3),
             |c AS (SELECT substr(word, 1, 3) AS prefix, word,
             |             CAST(count(*) AS BIGINT) AS cnt
             |      FROM words GROUP BY 1, 2),
             |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY prefix
             |        ORDER BY cnt DESC, word) AS BIGINT) AS rk FROM c)
             |SELECT prefix, word, cnt, rk FROM r WHERE rk <= 3"""
        .stripMargin)),

    // ── Brand triples with ≥0.1% order support. Baskets are bounded
    //    (≤7 lines/order), so in-basket triple enumeration is the
    //    scale-safe path: one (order) exchange, C(k,3) ≤ 35 per basket.
    QueryDef("q_itemset3",
      (s, d) => {
        val b = Tables.lineitem(s, d)
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"), col("p_brand").as("br"))
          .distinct()
          .localCheckpoint(false) // three self-join sides + total
        val tot = b.select(col("ok")).distinct()
          .agg(count(lit(1)).as("tot"))
        val x = b.select(col("ok"), col("br").as("b1"))
        val y = b.select(col("ok"), col("br").as("b2"))
        val z = b.select(col("ok"), col("br").as("b3"))
        x.join(y, "ok").where(col("b1") < col("b2"))
          .join(z, "ok").where(col("b2") < col("b3"))
          .groupBy(col("b1"), col("b2"), col("b3"))
          .agg(count(lit(1)).as("supp"))
          .crossJoin(broadcast(tot))
          .where(col("supp") * 1000 >= col("tot"))
          .selectExpr("b1", "b2", "b3", "supp",
            "supp * 1000000 div tot AS share_e6")
      },
      Some("""WITH b AS (
             |  SELECT DISTINCT l_orderkey AS ok, p_brand AS br
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS tot FROM b),
             |t AS (SELECT x.br AS b1, y.br AS b2, z.br AS b3,
             |             CAST(count(*) AS BIGINT) AS supp
             |      FROM b x JOIN b y ON x.ok = y.ok AND x.br < y.br
             |           JOIN b z ON y.ok = z.ok AND y.br < z.br
             |      GROUP BY 1, 2, 3)
             |SELECT b1, b2, b3, supp, supp * 1000000 // tot AS share_e6
             |FROM t CROSS JOIN tot WHERE supp * 1000 >= tot"""
        .stripMargin)),

    /* Ranking-evaluation metrics the retrieval family
     * (q_ndcg, q_retrieval_metrics, q_rbo) doesn't yet cover — MAP@5 of a
     * popularity recommender against next-year holdout purchases, MRR of
     * the first returned line in price-ranked orders, and per-customer
     * basket diversity (Gini–Simpson over brands — the intra-list
     * diversity read). Average precision is an exact rational folded per
     * customer; every mean is an integer div at e6. */

    // ── MAP@5: train = orders before 1997 (top-5 global parts by
    //    distinct-customer count, ties by partkey), test = 1997+ buys.
    //    AP@5 per test customer = Σ_hits (hits_so_far/rank) / min(5, R).
    //    The 5-row model is broadcast; ONE customer-keyed aggregate
    //    closes the metric.
    QueryDef("q_map_at_k",
      (s, d) => {
        val buys = Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey"),
              expr("year(o_orderdate)").as("yr")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("cust"), col("l_partkey").as("part"),
            col("yr"))
        val rec = buys.filter(col("yr") < 1997)
          .groupBy(col("part"))
          .agg(countDistinct(col("cust")).as("pop"))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("pop").desc, col("part"))))
          .filter(col("rank") <= 5)
          .select(col("part"), col("rank"))
        val test = buys.filter(col("yr") >= 1997)
          .select(col("cust"), col("part")).distinct()
          .localCheckpoint(false) // relevant-size agg + the hit join
        val rsize = test.groupBy(col("cust")).agg(count(lit(1)).as("r"))
        // hits_so_far at a hit of rank k = # recommended parts of rank ≤k
        // the customer bought; AP numerator folds as Σ hits@k/k over hits.
        val hits = test.join(broadcast(rec), "part")
        val ap = hits.as("h").join(hits.as("h2"),
            col("h.cust") === col("h2.cust") &&
              col("h2.rank") <= col("h.rank"))
          .groupBy(col("h.cust").as("cust"), col("h.rank").as("rank"))
          .agg(count(lit(1)).as("hits_at"))
          // precision term e12 to keep the per-customer fold exact
          .groupBy(col("cust"))
          .agg(sum(expr("hits_at * 1000000000000 div rank")).as("num_e12"))
        rsize.join(ap, Seq("cust"), "left")
          .select(expr(
            """coalesce(num_e12, 0) div least(r, 5)""").as("ap_e12"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("ap_e12")).as("sum_ap"))
          .selectExpr("CAST(n_customers AS BIGINT) AS n_customers",
            "sum_ap div (n_customers * 1000000) AS map_e6")
      },
      Some("""WITH buys AS (
             |  SELECT o.o_custkey AS cust, l.l_partkey AS part,
             |         year(o.o_orderdate) AS yr
             |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
             |rec AS (SELECT part, rank FROM (
             |          SELECT part,
             |                 CAST(row_number() OVER (ORDER BY
             |                   count(DISTINCT cust) DESC, part)
             |                   AS BIGINT) AS rank
             |          FROM buys WHERE yr < 1997 GROUP BY part)
             |        WHERE rank <= 5),
             |test AS (SELECT DISTINCT cust, part FROM buys
             |         WHERE yr >= 1997),
             |rsize AS (SELECT cust, CAST(count(*) AS BIGINT) AS r
             |          FROM test GROUP BY 1),
             |hits AS (SELECT t.cust, rec.rank FROM test t
             |         JOIN rec ON t.part = rec.part),
             |ap AS (SELECT h.cust, h.rank,
             |              CAST(count(*) AS BIGINT) AS hits_at
             |       FROM hits h JOIN hits h2 ON h.cust = h2.cust
             |         AND h2.rank <= h.rank
             |       GROUP BY 1, 2),
             |num AS (SELECT cust,
             |               CAST(sum(hits_at * 1000000000000 // rank)
             |                 AS BIGINT) AS num_e12
             |        FROM ap GROUP BY 1),
             |peru AS (SELECT coalesce(num_e12, 0)
             |                  // least(r, 5) AS ap_e12
             |         FROM rsize LEFT JOIN num USING (cust))
             |SELECT CAST(count(*) AS BIGINT) AS n_customers,
             |       CAST(sum(ap_e12) AS BIGINT)
             |         // (count(*) * 1000000) AS map_e6
             |FROM peru""".stripMargin)),

    // ── MRR of the first returned line when an order's lines are
    //    ranked by extendedprice desc (cents, ties by linenumber): ONE
    //    order-keyed shuffle carries rank + the argmin, one scalar agg
    //    closes. Orders with no 'R' line contribute reciprocal 0 (MRR
    //    over the full query set, the standard convention).
    QueryDef("q_mrr",
      (s, d) => {
        val w = Window.partitionBy(col("l_orderkey"))
          .orderBy(col("cents").desc, col("l_linenumber"))
        val ranked = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_linenumber"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("long")
              .as("cents"),
            (col("l_returnflag") === "R").as("ret"))
          .withColumn("rank", row_number().over(w))
        ranked.groupBy(col("l_orderkey"))
          .agg(min(when(col("ret"), col("rank"))).as("first_ret"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("first_ret").isNotNull, 1L).otherwise(0L))
              .as("n_with_return"),
            sum(when(col("first_ret").isNotNull,
              expr("1000000 div first_ret")).otherwise(0L)).as("sum_rr"))
          .selectExpr("CAST(n_orders AS BIGINT) AS n_orders",
            "CAST(n_with_return AS BIGINT) AS n_with_return",
            "sum_rr div n_orders AS mrr_e6")
      },
      Some("""WITH ranked AS (
             |  SELECT l_orderkey,
             |         CAST(row_number() OVER (PARTITION BY l_orderkey
             |           ORDER BY CAST(floor(l_extendedprice * 100 + 0.5)
             |             AS BIGINT) DESC, l_linenumber) AS BIGINT)
             |           AS rank,
             |         l_returnflag = 'R' AS ret
             |  FROM lineitem),
             |o AS (SELECT l_orderkey,
             |             min(CASE WHEN ret THEN rank END) AS first_ret
             |      FROM ranked GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_orders,
             |       CAST(sum(CASE WHEN first_ret IS NOT NULL THEN 1
             |         ELSE 0 END) AS BIGINT) AS n_with_return,
             |       CAST(sum(CASE WHEN first_ret IS NOT NULL
             |           THEN 1000000 // first_ret ELSE 0 END) AS BIGINT)
             |         // count(*) AS mrr_e6
             |FROM o""".stripMargin)),

    // ── Basket diversity: per customer the Gini–Simpson index over
    //    purchased brand counts, 1 − Σcᵢ(cᵢ−1)/(n(n−1)) in exact e6
    //    (the unbiased pairs form — integer throughout), then the
    //    bounded decile rollup. Part dim broadcasts into the lineitem
    //    scan; two keyed aggregates share the customer prefix.
    QueryDef("q_basket_diversity",
      (s, d) => {
        val cb = Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("o_custkey").as("cust"), col("p_brand"))
          .agg(count(lit(1)).as("c"))
        val perCust = cb.groupBy(col("cust"))
          .agg(sum(col("c")).as("n"), sum(expr("c * (c - 1)")).as("ss"),
            count(lit(1)).as("k"))
          .filter(col("n") >= 5)
          .withColumn("gs_e6",
            expr("1000000 - ss * 1000000 div (n * (n - 1))"))
        perCust
          .groupBy(expr("least(gs_e6 div 100000, 9)").as("decile"))
          .agg(count(lit(1)).as("n_customers"), sum(col("k")).as("sk"),
            sum(col("n")).as("sn"))
          .selectExpr("CAST(decile AS BIGINT) AS decile",
            "CAST(n_customers AS BIGINT) AS n_customers",
            "sk div n_customers AS avg_brands",
            "sn div n_customers AS avg_lines")
      },
      Some("""WITH cb AS (
             |  SELECT o.o_custkey AS cust, p.p_brand,
             |         CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem l
             |  JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  JOIN part p ON l.l_partkey = p.p_partkey
             |  GROUP BY 1, 2),
             |pc AS (SELECT cust, CAST(sum(c) AS BIGINT) AS n,
             |              CAST(sum(c * (c - 1)) AS BIGINT) AS ss,
             |              CAST(count(*) AS BIGINT) AS k
             |       FROM cb GROUP BY 1 HAVING sum(c) >= 5)
             |SELECT CAST(least((1000000 - ss * 1000000 // (n * (n - 1)))
             |         // 100000, 9) AS BIGINT) AS decile,
             |       CAST(count(*) AS BIGINT) AS n_customers,
             |       CAST(sum(k) AS BIGINT) // count(*) AS avg_brands,
             |       CAST(sum(n) AS BIGINT) // count(*) AS avg_lines
             |FROM pc GROUP BY 1""".stripMargin)),

    /* Bradley–Terry strengths (`q_bradley_terry`): within each order
     * the max-price line's brand "beats" the min-price line's brand;
     * one minorization-maximization update from uniform strengths
     * gives the closed-form s_i = w_i / Σ_j n_ij/(s_i+s_j) — the
     * paired-comparison ranking model behind every match-up
     * leaderboard. Deterministic winners via struct ordering (price,
     * linenumber, brand) — no max_by tie ambiguity. */
    // ── Bradley–Terry: wins from within-order max/min-price brand
    //    pairs; one MM update from uniform strengths, normalized e6.
    QueryDef("q_bradley_terry",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("ok"),
            expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
              .as("c"),
            col("l_linenumber").as("ln"), col("p_brand").as("b"))
          .localCheckpoint(false) // feeds BOTH rank windows below
        // winner/loser via rank windows, NOT struct-max aggregates: the
        // aggregate form is semantically identical but DuckDB's struct
        // max goes superlinear at sf0.1 (minutes for 600k rows) — the
        // window form is one sort per side in both engines
        import org.apache.spark.sql.expressions.Window
        val byOk = Window.partitionBy(col("ok"))
        val wtab = li.withColumn("rk", row_number().over(
            byOk.orderBy(col("c").desc, col("ln").desc, col("b").desc)))
          .filter(col("rk") === 1).select(col("ok"), col("b").as("w"))
        val ltab = li.withColumn("rk", row_number().over(
            byOk.orderBy(col("c"), col("ln"), col("b"))))
          .filter(col("rk") === 1).select(col("ok"), col("b").as("l"))
        val m = wtab.join(ltab, "ok")
          .filter(col("w") =!= col("l"))
          .localCheckpoint(false)
        val wins = m.groupBy(col("w").as("b")).agg(count(lit(1)).as("wins"))
        val pairs = m.select(least(col("w"), col("l")).as("u"),
            greatest(col("w"), col("l")).as("v"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n"))
        val sided = pairs.select(col("u").as("b"), col("n"))
          .unionByName(pairs.select(col("v").as("b"), col("n")))
        val den = sided.groupBy(col("b"))
          .agg(sum(expr("(n * 1000000) div 2000000")).as("den"))
        val s1 = den.join(wins, Seq("b"), "left")
          .selectExpr("b", "coalesce(wins, 0L) AS wins", "den",
            "coalesce(wins, 0L) * 1000000 div greatest(1L, den) AS s1")
        s1.crossJoin(broadcast(s1.agg(sum(col("s1")).as("st"))))
          .selectExpr("b AS brand", "CAST(wins AS BIGINT) AS n_wins",
            "CAST(den AS BIGINT) AS half_matches",
            "s1 * 1000000 div greatest(1L, st) AS strength_e6")
      },
      Some("""WITH li AS (
             |  SELECT l.l_orderkey AS ok,
             |         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             |           AS c,
             |         l.l_linenumber AS ln, p.p_brand AS b
             |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
             |wtab AS (SELECT ok, b AS w FROM li
             |         QUALIFY row_number() OVER (PARTITION BY ok
             |           ORDER BY c DESC, ln DESC, b DESC) = 1),
             |ltab AS (SELECT ok, b AS l FROM li
             |         QUALIFY row_number() OVER (PARTITION BY ok
             |           ORDER BY c ASC, ln ASC, b ASC) = 1),
             |mm AS (SELECT w, l FROM wtab JOIN ltab USING (ok)
             |       WHERE w <> l),
             |wins AS (SELECT w AS b, CAST(count(*) AS BIGINT) AS wins
             |         FROM mm GROUP BY 1),
             |pairs AS (SELECT least(w, l) AS u, greatest(w, l) AS v,
             |                 CAST(count(*) AS BIGINT) AS n
             |          FROM mm GROUP BY 1, 2),
             |sided AS (SELECT u AS b, n FROM pairs
             |          UNION ALL SELECT v AS b, n FROM pairs),
             |den AS (SELECT b, CAST(sum((n * 1000000) // 2000000)
             |          AS BIGINT) AS den
             |        FROM sided GROUP BY 1),
             |s1 AS (SELECT den.b, coalesce(wins.wins, 0) AS wins, den.den,
             |         coalesce(wins.wins, 0) * 1000000
             |           // greatest(1, den.den) AS s1
             |       FROM den LEFT JOIN wins ON den.b = wins.b),
             |st AS (SELECT CAST(sum(s1) AS BIGINT) AS st FROM s1)
             |SELECT s1.b AS brand, CAST(s1.wins AS BIGINT) AS n_wins,
             |       s1.den AS half_matches,
             |       s1.s1 * 1000000 // greatest(1, st.st) AS strength_e6
             |FROM s1 CROSS JOIN st""".stripMargin)),

    /* Rank distance (`q_rank_distance`): Spearman footrule Σ|r₁−r₂| and
     * Kendall distance (discordant pairs) between the 1996 and 1997
     * brand revenue rankings — the "how much did the league table
     * move" read that correlation coefficients (q_kendall_tau,
     * q_spearman) blur. Ranks by row_number over the VISIBLE brand
     * aggregate (25 rows — the pairwise join is axis-bounded, never
     * data-bounded); normalized e6 against the exact maxima
     * ⌊n²/2⌋ and n(n−1)/2. */
    // ── Footrule + Kendall distance between year rankings.
    QueryDef("q_rank_distance",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val rev = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .where(expr("year(l_shipdate) IN (1996, 1997)"))
          .groupBy(col("p_brand"))
          .agg(sum(when(expr("year(l_shipdate) = 1996"),
              floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
              .otherwise(0L)).as("r96"),
            sum(when(expr("year(l_shipdate) = 1997"),
              floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
              .otherwise(0L)).as("r97"))
        val ranked = rev
          .withColumn("k1", row_number().over(
            Window.orderBy(col("r96").desc, col("p_brand"))))
          .withColumn("k2", row_number().over(
            Window.orderBy(col("r97").desc, col("p_brand"))))
          .select(col("p_brand"), col("k1").cast("long").as("k1"),
            col("k2").cast("long").as("k2"))
          .localCheckpoint(false) // footrule agg + pairwise join
        val foot = ranked.agg(count(lit(1)).as("n"),
          sum(expr("abs(k1 - k2)")).as("footrule"))
        val kend = ranked.as("a")
          .join(ranked.as("b"),
            col("a.p_brand") < col("b.p_brand"))
          .agg(sum(expr("CASE WHEN (a.k1 - b.k1) * (a.k2 - b.k2) < 0" +
            " THEN 1 ELSE 0 END")).as("discordant"),
            count(lit(1)).as("pairs"))
        foot.crossJoin(broadcast(kend))
          .selectExpr("n AS n_brands", "footrule",
            "footrule * 1000000 div ((n * n) div 2) AS footrule_e6",
            "discordant", "pairs",
            "discordant * 1000000 div pairs AS kendall_e6")
      },
      Some("""WITH rev AS (
             |  SELECT p_brand,
             |         CAST(sum(CASE WHEN year(l_shipdate) = 1996 THEN
             |           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             |           ELSE 0 END) AS BIGINT) AS r96,
             |         CAST(sum(CASE WHEN year(l_shipdate) = 1997 THEN
             |           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             |           ELSE 0 END) AS BIGINT) AS r97
             |  FROM lineitem JOIN part ON p_partkey = l_partkey
             |  WHERE year(l_shipdate) IN (1996, 1997)
             |  GROUP BY 1),
             |rk AS (SELECT p_brand,
             |         CAST(row_number() OVER (ORDER BY r96 DESC, p_brand)
             |           AS BIGINT) AS k1,
             |         CAST(row_number() OVER (ORDER BY r97 DESC, p_brand)
             |           AS BIGINT) AS k2
             |       FROM rev),
             |foot AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |                CAST(sum(abs(k1 - k2)) AS BIGINT) AS footrule
             |         FROM rk),
             |kend AS (SELECT CAST(sum(CASE WHEN (a.k1 - b.k1)
             |                  * (a.k2 - b.k2) < 0 THEN 1 ELSE 0 END)
             |                AS BIGINT) AS discordant,
             |                CAST(count(*) AS BIGINT) AS pairs
             |         FROM rk a JOIN rk b ON a.p_brand < b.p_brand)
             |SELECT n AS n_brands, footrule,
             |       footrule * 1000000 // ((n * n) // 2) AS footrule_e6,
             |       discordant, pairs,
             |       discordant * 1000000 // pairs AS kendall_e6
             |FROM foot CROSS JOIN kend""".stripMargin)),

    /* Borda + Copeland (`q_borda_brands`): rank aggregation of the 12
     * monthly 1996 brand revenue rankings — Borda score Σ(n−rank) and
     * Copeland majority-wins (×2 so the 6–6 split counts 1). The
     * social-choice read q_rank_fusion (RRF) approximates; this is the
     * exact committee version on the bounded brand axis. */
    // ── Borda + Copeland over the 12 monthly 1996 brand rankings.
    QueryDef("q_borda_brands",
      (s, d) => {
        val ranks = monthlyBrandRanks(s, d)
          .localCheckpoint(false) // borda agg + pairwise majority
        val nb = ranks.agg(countDistinct(col("p_brand")).as("nb"))
        val borda = ranks.crossJoin(broadcast(nb))
          .groupBy(col("p_brand"))
          .agg(sum(expr("nb - rk")).as("borda"),
            count(lit(1)).as("months"))
        val duels = ranks.as("a")
          .join(ranks.as("b"),
            col("a.m") === col("b.m") &&
              col("a.p_brand") =!= col("b.p_brand"))
          .groupBy(col("a.p_brand").as("p_brand"),
            col("b.p_brand").as("opp"))
          .agg(sum(expr("CASE WHEN a.rk < b.rk THEN 1 ELSE 0 END"))
            .as("w"), count(lit(1)).as("mm"))
          .selectExpr("p_brand",
            """CASE WHEN 2 * w > mm THEN 2L
              |     WHEN 2 * w = mm THEN 1L ELSE 0L END AS pts"""
              .stripMargin)
          .groupBy(col("p_brand"))
          .agg(sum(col("pts")).as("copeland2"))
        borda.join(duels, "p_brand")
          .selectExpr("p_brand", "months", "borda", "copeland2")
      },
      Some(s"""WITH $brandRevSql,
             |rk AS (SELECT m, p_brand, CAST(row_number() OVER (
             |         PARTITION BY m ORDER BY rev DESC, p_brand)
             |         AS BIGINT) AS rk
             |       FROM rev),
             |nb AS (SELECT CAST(count(DISTINCT p_brand) AS BIGINT)
             |         AS nb FROM rk),
             |borda AS (SELECT p_brand,
             |            CAST(sum(nb - rk) AS BIGINT) AS borda,
             |            CAST(count(*) AS BIGINT) AS months
             |          FROM rk CROSS JOIN nb GROUP BY 1),
             |duel AS (SELECT a.p_brand AS p_brand, b.p_brand AS opp,
             |           CAST(sum(CASE WHEN a.rk < b.rk THEN 1 ELSE 0
             |             END) AS BIGINT) AS w,
             |           CAST(count(*) AS BIGINT) AS mm
             |         FROM rk a JOIN rk b ON b.m = a.m
             |           AND b.p_brand <> a.p_brand
             |         GROUP BY 1, 2),
             |cope AS (SELECT p_brand,
             |           CAST(sum(CASE WHEN 2 * w > mm THEN 2
             |                         WHEN 2 * w = mm THEN 1
             |                         ELSE 0 END) AS BIGINT)
             |             AS copeland2
             |         FROM duel GROUP BY 1)
             |SELECT b.p_brand AS p_brand, months, borda, copeland2
             |FROM borda b JOIN cope c ON c.p_brand = b.p_brand"""
        .stripMargin)),

    /* Kemeny objective (`q_kemeny_objective`): Σ pairwise-majority
     * violations of three candidate consensus orders — Borda,
     * Copeland, and raw total revenue — against the monthly duel
     * matrix. Which aggregation lands closest to the Kemeny optimum
     * (whose exact computation is NP-hard; these are its standard
     * polynomial surrogates, now scored on their shared objective). */
    // ── Kemeny objective of Borda / Copeland / revenue orders.
    QueryDef("q_kemeny_objective",
      (s, d) => {
        val ranks = monthlyBrandRanks(s, d)
          .localCheckpoint(false) // duel matrix + three candidate orders
        // duel margins: wins of a over b across months
        val duels = ranks.as("a")
          .join(ranks.as("b"),
            col("a.m") === col("b.m") &&
              col("a.p_brand") < col("b.p_brand"))
          .groupBy(col("a.p_brand").as("x"), col("b.p_brand").as("y"))
          .agg(sum(expr("CASE WHEN a.rk < b.rk THEN 1 ELSE 0 END"))
            .as("wx"), count(lit(1)).as("mm"))
          .localCheckpoint(false)
        val nb = ranks.agg(countDistinct(col("p_brand")).as("nbr"))
        // candidate orders (rank 1 = best): borda, copeland2, revenue
        val borda = ranks.crossJoin(broadcast(nb))
          .groupBy(col("p_brand")).agg(sum(expr("nbr - rk")).as("sc"))
        val cope = duels.selectExpr("x AS p_brand",
            """CASE WHEN 2 * wx > mm THEN 2L
              |WHEN 2 * wx = mm THEN 1L ELSE 0L END AS pts"""
              .stripMargin)
          .unionByName(duels.selectExpr("y AS p_brand",
            """CASE WHEN 2 * (mm - wx) > mm THEN 2L
              |WHEN 2 * (mm - wx) = mm THEN 1L ELSE 0L END AS pts"""
              .stripMargin))
          .groupBy(col("p_brand")).agg(sum(col("pts")).as("sc"))
        val revenue = ranks.groupBy(col("p_brand"))
          .agg(sum(col("rev")).as("sc"))
        def order(df: org.apache.spark.sql.DataFrame, nm: String) = df
          .withColumn("pos", row_number().over(
            Window.orderBy(col("sc").desc, col("p_brand"))).cast("long"))
          .selectExpr(s"'$nm' AS method", "p_brand", "pos")
        val cand = order(borda, "borda")
          .unionByName(order(cope, "copeland"))
          .unionByName(order(revenue, "revenue"))
          .localCheckpoint(false)
        // violations: pair (x<y) where majority says x beats y but the
        // candidate ranks x AFTER y (or vice versa); 6-6 months = no
        // majority, never a violation
        cand.as("cx")
          .join(cand.as("cy"), col("cx.method") === col("cy.method"))
          .where(col("cx.p_brand") < col("cy.p_brand"))
          .join(duels, col("x") === col("cx.p_brand") &&
            col("y") === col("cy.p_brand"))
          .groupBy(col("cx.method").as("method"))
          .agg(count(lit(1)).as("pairs"),
            sum(expr("""CASE
              |WHEN 2 * wx > mm AND cx.pos > cy.pos THEN 1
              |WHEN 2 * wx < mm AND cx.pos < cy.pos THEN 1
              |ELSE 0 END""".stripMargin)).as("kemeny_violations"))
      },
      Some(s"""WITH $brandRevSql,
             |rk AS MATERIALIZED (SELECT m, p_brand, rev,
             |         CAST(row_number() OVER (PARTITION BY m
             |           ORDER BY rev DESC, p_brand) AS BIGINT) AS rk
             |       FROM rev),
             |duels AS MATERIALIZED (SELECT a.p_brand AS x,
             |           b.p_brand AS y,
             |           CAST(sum(CASE WHEN a.rk < b.rk THEN 1 ELSE 0
             |             END) AS BIGINT) AS wx,
             |           CAST(count(*) AS BIGINT) AS mm
             |         FROM rk a JOIN rk b ON b.m = a.m
             |           AND a.p_brand < b.p_brand
             |         GROUP BY 1, 2),
             |nb AS (SELECT CAST(count(DISTINCT p_brand) AS BIGINT)
             |         AS nbr FROM rk),
             |borda AS (SELECT p_brand, CAST(sum(nbr - rk) AS BIGINT)
             |            AS sc
             |          FROM rk CROSS JOIN nb GROUP BY 1),
             |cope AS (SELECT p_brand, CAST(sum(pts) AS BIGINT) AS sc
             |         FROM (SELECT x AS p_brand,
             |                 CASE WHEN 2 * wx > mm THEN 2
             |                      WHEN 2 * wx = mm THEN 1 ELSE 0 END
             |                   AS pts FROM duels
             |               UNION ALL
             |               SELECT y,
             |                 CASE WHEN 2 * (mm - wx) > mm THEN 2
             |                      WHEN 2 * (mm - wx) = mm THEN 1
             |                      ELSE 0 END FROM duels)
             |         GROUP BY 1),
             |rv AS (SELECT p_brand, CAST(sum(rev) AS BIGINT) AS sc
             |       FROM rk GROUP BY 1),
             |cand AS MATERIALIZED (
             |  SELECT 'borda' AS method, p_brand,
             |         CAST(row_number() OVER (ORDER BY sc DESC, p_brand)
             |           AS BIGINT) AS pos FROM borda
             |  UNION ALL
             |  SELECT 'copeland', p_brand,
             |         CAST(row_number() OVER (ORDER BY sc DESC, p_brand)
             |           AS BIGINT) FROM cope
             |  UNION ALL
             |  SELECT 'revenue', p_brand,
             |         CAST(row_number() OVER (ORDER BY sc DESC, p_brand)
             |           AS BIGINT) FROM rv)
             |SELECT cx.method AS method,
             |       CAST(count(*) AS BIGINT) AS pairs,
             |       CAST(sum(CASE
             |         WHEN 2 * wx > mm AND cx.pos > cy.pos THEN 1
             |         WHEN 2 * wx < mm AND cx.pos < cy.pos THEN 1
             |         ELSE 0 END) AS BIGINT) AS kemeny_violations
             |FROM cand cx
             |JOIN cand cy ON cy.method = cx.method
             |  AND cx.p_brand < cy.p_brand
             |JOIN duels ON x = cx.p_brand AND y = cy.p_brand
             |GROUP BY 1""".stripMargin)),

    /* Condorcet matrix (`q_condorcet`): order-level pairwise
     * preferences among the top-5 revenue brands — a beats b in an
     * order iff it took strictly more spend where both appear. The
     * voting-theory companion to q_borda_brands/q_kemeny; pairwise
     * wins are exact counts, winner read off the 10-row matrix. */
    // ── Condorcet pairwise-preference matrix over top-5 brands.
    QueryDef("q_condorcet",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .join(Tables.part(s, d).select(col("p_partkey").as("l_partkey"),
            col("p_brand").as("brand")), Seq("l_partkey"))
          .select(col("l_orderkey").as("ok"), col("brand"),
            expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100" +
              " + 0.5) AS BIGINT)").as("v"))
        val top5 = rev.groupBy(col("brand"))
          .agg(sum(col("v")).as("tot"))
          .orderBy(col("tot").desc, col("brand").asc).limit(5)
          .select(col("brand"))
        val obs = rev.join(broadcast(top5), Seq("brand"))
          .groupBy(col("ok"), col("brand")).agg(sum(col("v")).as("v"))
        obs.as("a").join(obs.as("b"),
            col("a.ok") === col("b.ok") &&
              col("a.brand") < col("b.brand"))
          .groupBy(col("a.brand").as("brand_a"),
            col("b.brand").as("brand_b"))
          .agg(sum(when(col("a.v") > col("b.v"), 1L).otherwise(0L))
            .as("wins_a"),
            sum(when(col("b.v") > col("a.v"), 1L).otherwise(0L))
              .as("wins_b"),
            sum(when(col("a.v") === col("b.v"), 1L).otherwise(0L))
              .as("ties"))
          .selectExpr("brand_a", "brand_b", "wins_a", "wins_b", "ties",
            """CASE WHEN wins_a > wins_b THEN brand_a
              |     WHEN wins_b > wins_a THEN brand_b
              |     ELSE 'TIE' END AS leader""".stripMargin)
      },
      Some("""WITH rev AS (
             |  SELECT l_orderkey AS ok, p_brand AS brand,
             |         CAST(floor(l_extendedprice * (1 - l_discount)
             |           * 100 + 0.5) AS BIGINT) AS v
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |top5 AS (SELECT brand FROM rev GROUP BY brand
             |         ORDER BY CAST(sum(v) AS BIGINT) DESC, brand
             |         LIMIT 5),
             |obs AS (SELECT ok, brand, CAST(sum(v) AS BIGINT) AS v
             |        FROM rev JOIN top5 USING (brand)
             |        GROUP BY 1, 2)
             |SELECT a.brand AS brand_a, b.brand AS brand_b,
             |       CAST(sum(CASE WHEN a.v > b.v THEN 1 ELSE 0 END)
             |         AS BIGINT) AS wins_a,
             |       CAST(sum(CASE WHEN b.v > a.v THEN 1 ELSE 0 END)
             |         AS BIGINT) AS wins_b,
             |       CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END)
             |         AS BIGINT) AS ties,
             |       CASE WHEN sum(CASE WHEN a.v > b.v THEN 1 ELSE 0 END)
             |              > sum(CASE WHEN b.v > a.v THEN 1 ELSE 0 END)
             |            THEN a.brand
             |            WHEN sum(CASE WHEN b.v > a.v THEN 1 ELSE 0 END)
             |              > sum(CASE WHEN a.v > b.v THEN 1 ELSE 0 END)
             |            THEN b.brand
             |            ELSE 'TIE' END AS leader
             |FROM obs a JOIN obs b ON a.ok = b.ok AND a.brand < b.brand
             |GROUP BY 1, 2""".stripMargin))
  )
}
