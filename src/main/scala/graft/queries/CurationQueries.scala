package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Curation, Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data curation (LLM data pipeline): splits, packing, chunking,
  * quality gates, decontamination, mixture targets, and sampling for
  * training. */
object CurationQueries extends QueryCatalog {

  import Fixtures._

  private val hourUs = 3600000000L
  private val dayUs = 86400000000L
  /** Document tokens with their 1-based split position: CTE `tok0`
    * (doc_id, lang, pos, w), empty tokens kept. */
  private val tok0Sql =
    """tok0 AS (SELECT doc_id, lang,
      |                   generate_subscripts(string_split(text, ' '),
      |                                       1) AS pos,
      |                   unnest(string_split(text, ' ')) AS w
      |            FROM documents)""".stripMargin

  /** Non-empty document tokens numbered in order: (doc_id, lang, pos,
    * w, rn); [[tokRankSql]] is the DuckDB twin. */
  private def docTokens(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))

  /** [[tok0Sql]] plus the non-empty tokens numbered in order: CTE `tok`
    * (doc_id, lang, w, rn). */
  private val tokRankSql = tok0Sql + """,
    |tok AS (SELECT doc_id, lang, w,
    |               row_number() OVER (PARTITION BY doc_id
    |                                  ORDER BY pos) AS rn
    |        FROM tok0 WHERE w <> '')""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ── Deterministic train/val/test split (90/5/5 by id hash), observed
    //    via per-split doc/token totals.
    QueryDef("q_split_assign",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .groupBy(Curation.splitAssign(col("doc_id").cast("string")).as("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens")),
      Some {
        val h = PortableSql.hash48("CAST(doc_id AS VARCHAR)", "'split'")
        s"""SELECT CASE WHEN $h % 100 < 90 THEN 'train'
           |            WHEN $h % 100 < 95 THEN 'val'
           |            ELSE 'test' END AS split,
           |       count(*) AS n_docs,
           |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
           |FROM documents GROUP BY 1""".stripMargin
      }),

    // ── Greedy per-shard sequence packing into 512-token bins; observed
    //    as per-(shard,bin) doc counts and token sums.
    QueryDef("q_pack_sequences",
      (s, d) => Curation.packSequences(
          Tables.documents(s, d).select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", 512, 8)
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens")),
      Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
             |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |           FROM documents),
             |r AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_tokens
             |      FROM t)
             |SELECT shard, CAST((run_tokens - n_tokens) // 512 AS BIGINT) AS bin,
             |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
             |FROM r GROUP BY 1, 2""".stripMargin)),

    // ── Benchmark decontamination: distinct 3-shingle overlap between the
    //    corpus (doc_id ≥ 5) and the eval holdout (doc_id < 5).
    QueryDef("q_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        Curation.contamination(docs.filter(col("doc_id") >= 5),
            docs.filter(col("doc_id") < 5))
          .select(col("doc_id"), col("n_shared"),
            (col("n_shared") >= 10).cast("int").as("contaminated"))
      },
      Some("""WITH sh AS (SELECT doc_id,
             |                   unnest(list_transform(range(1, len(ws) - 1),
             |                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
             |            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w
             |            WHERE len(ws) >= 3),
             |cs AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id >= 5),
             |bs AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5)
             |SELECT doc_id, count(*) AS n_shared,
             |       CAST(CASE WHEN count(*) >= 10 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
             |FROM cs JOIN bs USING (shingle)
             |GROUP BY doc_id""".stripMargin)),

    // ── Corpus-boilerplate ratio ([[graft.ops.TextAnalysis.boilerplate]]):
    //    fraction of each doc's distinct 3-shingles that are corpus-top-100
    //    by df — the C4-style repeated-content filter, in exact e6 units.
    QueryDef("q_boilerplate",
      (s, d) => graft.ops.TextAnalysis.boilerplate(
        Tables.documents(s, d).select(col("doc_id"), col("text"))),
      Some("""WITH sh AS (SELECT DISTINCT doc_id,
             |                   unnest(list_transform(range(1, len(ws) - 1),
             |                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
             |            FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w
             |            WHERE len(ws) >= 3),
             |top AS (SELECT shingle, 1 AS is_top FROM (
             |          SELECT shingle, count(*) AS df FROM sh GROUP BY 1
             |          ORDER BY df DESC, shingle ASC LIMIT 100) t)
             |SELECT sh.doc_id, count(*) AS n_shingles,
             |       CAST(sum(coalesce(top.is_top, 0)) AS BIGINT) AS n_top,
             |       CAST((CAST(sum(coalesce(top.is_top, 0)) AS BIGINT) * 1000000)
             |            // count(*) AS BIGINT) AS boiler_e6
             |FROM sh LEFT JOIN top USING (shingle)
             |GROUP BY 1""".stripMargin)),

    // ── Temperature-rebalanced (α = ½) training-mix targets per event
    //    type: shares follow √n instead of n — integer-exact via isqrt.
    QueryDef("q_sample_temperature",
      (s, d) => Sampling.temperatureTargets(Tables.events(s, d), "event_type"),
      Some("""WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
             |w AS (SELECT event_type, n,
             |             CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS weight FROM c),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(weight) AS BIGINT) AS sw FROM w)
             |SELECT event_type, n, weight,
             |       CAST(nn * weight // sw AS BIGINT) AS target,
             |       CAST(least(1000000, (nn * weight // sw) * 1000000 // n) AS BIGINT) AS p_e6
             |FROM w CROSS JOIN tot""".stripMargin)),

    // ── Per-source PII exposure: a third of the docs get a synthetic
    //    phone+email appended; the profile normalizes hits per Mtoken.
    QueryDef("q_pii_density",
      (s, d) => TextAnalysis.piiDensity(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" call 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" or u"), col("doc_id").cast("string"),
              lit("@example.com now")))
            .otherwise(col("text")).as("text")),
        "source"),
      Some(s"""WITH aug AS (SELECT doc_id, source,
              |              CASE WHEN doc_id % 3 = 0 THEN
              |                concat(text, ' call 555-',
              |                       lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
              |                       ' or u', CAST(doc_id AS VARCHAR),
              |                       '@example.com now')
              |              ELSE text END AS text
              |             FROM documents),
              |sc AS (SELECT source,
              |              CAST(len(regexp_extract_all(text, '${graft.ops.TextAnalysis.phonePattern}')) AS BIGINT) AS n_phone,
              |              CAST(len(regexp_extract_all(text, '${graft.ops.TextAnalysis.emailPattern}')) AS BIGINT) AS n_email,
              |              CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
              |       FROM aug)
              |SELECT source, CAST(count(*) AS BIGINT) AS docs,
              |       CAST(sum(CASE WHEN n_phone + n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
              |       CAST(sum(n_phone + n_email) AS BIGINT) AS pii_hits,
              |       CAST(sum(n_phone + n_email) * 1000000 // sum(toks) AS BIGINT) AS pii_per_mtok
              |FROM sc GROUP BY source""".stripMargin)),

    // ── Corpus mix report: docs/tokens per (lang, source) with each
    //    cell's share of the global token budget — the first table of
    //    any training-mix design review.
    QueryDef("q_doc_mix",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("lang"), col("source"),
            size(split(col("text"), " ")).cast("long").as("toks"))
        val cells = base.groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        cells.crossJoin(broadcast(cells.agg(sum(col("n_tokens")).as("tot"))))
          .withColumn("tok_share_e6", expr("n_tokens * 1000000L div tot"))
          .drop("tot")
      },
      Some("""WITH base AS (SELECT lang, source,
             |                     CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
             |              FROM documents),
             |cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
             |                 CAST(sum(toks) AS BIGINT) AS n_tokens
             |          FROM base GROUP BY 1, 2),
             |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM cells)
             |SELECT lang, source, n_docs, n_tokens,
             |       CAST(n_tokens * 1000000 // tot AS BIGINT) AS tok_share_e6
             |FROM cells CROSS JOIN tot""".stripMargin)),

    // ── Novelty: fraction of each doc's distinct 3-shingles first seen
    //    in that doc (doc_id order). One shingle→min(doc_id) aggregate.
    QueryDef("q_novelty",
      (s, d) => TextAnalysis.noveltyScore(
        Tables.documents(s, d).select(col("doc_id"), col("text")), 3),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
             |           FROM documents),
             |sh0 AS (SELECT doc_id,
             |          unnest(list_transform(generate_series(1, len(ws) - 2),
             |            i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))) AS sh
             |        FROM t WHERE len(ws) >= 3),
             |shs AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM sh0),
             |fo AS (SELECT sh, min(doc_id) AS fdoc FROM shs GROUP BY sh)
             |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             |       CAST(sum(CASE WHEN f.fdoc = s.doc_id THEN 1 ELSE 0 END)
             |            AS BIGINT) AS novel,
             |       CAST(sum(CASE WHEN f.fdoc = s.doc_id THEN 1 ELSE 0 END)
             |            * 1000000 // count(*) AS BIGINT) AS novelty_e6
             |FROM shs s JOIN fo f ON f.sh = s.sh
             |GROUP BY s.doc_id""".stripMargin)),

    // ── Sliding 40-token chunks every 30 tokens (overlap 10), digest
    //    per chunk; trailing partials kept.
    QueryDef("q_chunk_documents",
      (s, d) => Curation.chunk(
        Tables.documents(s, d).select(col("doc_id"), col("text")), 40, 30),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |c AS (
             |  SELECT doc_id, ws, len(ws) AS n,
             |         unnest(generate_series(0, (len(ws) - 1) // 30))
             |           AS chunk_id
             |  FROM t)
             |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             |       CAST(least(40, n - (chunk_id * 30 + 1) + 1) AS BIGINT)
             |         AS n_tok,
             |       md5(array_to_string(
             |         list_slice(ws, chunk_id * 30 + 1,
             |                    least(chunk_id * 30 + 40, n)), ' '))
             |         AS chunk_md5
             |FROM c WHERE n - chunk_id * 30 > 0""".stripMargin)),

    // ── Next 20 docs for annotation: margins nearest the boundary.
    QueryDef("q_uncertainty_sample",
      (s, d) => TextAnalysis.uncertaintySample(
        Tables.documents(s, d).select(col("doc_id"), col("text")), 256, 20),
      Some(s"""WITH $hashedWeightsSql,
              |m AS (
              |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
              |         CAST(sum(wt) AS BIGINT) AS margin
              |  FROM w GROUP BY doc_id)
              |SELECT doc_id, n_tok, margin, abs(margin) AS abs_margin
              |FROM m ORDER BY abs_margin, doc_id LIMIT 20""".stripMargin)),

    // ── Quality-gate funnel: each document is attributed to the FIRST
    //    rule that kills it (the order is the pipeline order), so stage
    //    counts tell you what each gate uniquely removes — the standard
    //    corpus-cleaning report. ONE scan, a case ladder, one tiny agg.
    QueryDef("q_quality_funnel",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"),
            size(split(col("text"), " ")).cast("long").as("n_toks"),
            size(array_distinct(split(col("text"), " "))).cast("long")
              .as("n_dist"))
          // Thresholds are calibrated to THIS corpus's spread (48..553
          // chars, mean word length 4.7..6.2, min distinct ratio 0.28)
          // so every gate demonstrably fires — the shape, not the cuts,
          // is the operator.
          .withColumn("stage",
            when(col("n_chars") < 120, "1_too_short")
              .when(col("n_chars") > 400, "2_too_long")
              .when(col("n_chars") > col("n_toks") * 6, "3_word_shape")
              .when(col("n_dist") * 10 < col("n_toks") * 4, "4_repetitive")
              .otherwise("5_pass"))
          .groupBy(col("stage"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"))
      },
      Some("""WITH f AS (
             |  SELECT doc_id, n_chars,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
             |         CAST(len(list_distinct(string_split(text, ' ')))
             |              AS BIGINT) AS n_dist
             |  FROM documents),
             |st AS (
             |  SELECT CASE
             |           WHEN n_chars < 120 THEN '1_too_short'
             |           WHEN n_chars > 400 THEN '2_too_long'
             |           WHEN n_chars > n_toks * 6 THEN '3_word_shape'
             |           WHEN n_dist * 10 < n_toks * 4 THEN '4_repetitive'
             |           ELSE '5_pass' END AS stage, n_toks
             |  FROM f)
             |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_toks) AS BIGINT) AS n_tokens
             |FROM st GROUP BY 1""".stripMargin)),

    // ── Embedding decontamination: corpus vectors (folds ≠ 0) whose
    //    cosine against ANY benchmark vector (fold 0) clears τ = 0.95 —
    //    compared EXACTLY in integers: d > 0 ∧ d²·10⁴ ≥ 9025·‖a‖²·‖b‖²
    //    (squares ride DECIMAL(38,0)/HUGEINT — multiplication only, no
    //    division anywhere). The benchmark side broadcasts; the corpus
    //    never self-joins.
    QueryDef("q_decontaminate_embedding",
      (s, d) => {
        // Natural cross-fold cosines top out at 0.49 on this corpus
        // (verified), so contamination is PLANTED the augmented-dedup
        // way: every 10th benchmark vector re-enters the corpus scaled
        // ×1.001 under a fold-1 id — the query must recover exactly
        // those.
        val base = Tables.embeddings(s, d)
          .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)")
            .as("ev"))
        val withInjected = base.unionByName(
          base.filter(col("vec_id") % 10 === 0)
            .select((col("vec_id") + 1000001L).as("vec_id"),
              expr("transform(ev, x -> x * 1001.0 / 1000.0)").as("ev")))
        val q = withInjected.select(col("vec_id"),
          expr("""transform(ev,
                 |x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))
                 |""".stripMargin).as("qv"))
          .withColumn("nrm",
            expr("aggregate(qv, 0L, (acc, v) -> acc + v * v)"))
        val width = s.sessionState.conf.numShufflePartitions
        val corpus = q.filter(col("vec_id") % 5 =!= 0)
          .select(col("vec_id"), col("qv"), col("nrm")).repartition(width)
        val bench = q.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("b_id"), col("qv").as("bv"),
            col("nrm").as("b_nrm"))
        corpus.crossJoin(broadcast(bench))
          .withColumn("dot",
            expr("""aggregate(zip_with(qv, bv, (x, y) -> x * y),
                   |0L, (acc, v) -> acc + v)""".stripMargin))
          .filter(col("dot") > 0 &&
            expr("""CAST(dot AS DECIMAL(38,0)) * dot * 10000
                   |>= CAST(9025 AS DECIMAL(38,0)) * nrm * b_nrm
                   |""".stripMargin))
          .groupBy(col("vec_id"))
          .agg(count(lit(1)).as("n_bench_hits"),
            min(col("b_id")).as("first_bench"))
      },
      Some("""WITH aug AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
             |  FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 1000001 AS vec_id,
             |         list_transform(CAST(embedding AS DOUBLE[]),
             |           x -> x * 1001.0 / 1000.0) AS ev
             |  FROM embeddings WHERE vec_id % 10 = 0),
             |q AS MATERIALIZED (
             |  SELECT vec_id,
             |         list_transform(ev,
             |           x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
             |  FROM aug),
             |n AS MATERIALIZED (
             |  SELECT vec_id, qv,
             |         list_sum(list_transform(qv, v -> v * v)) AS nrm
             |  FROM q),
             |hits AS (
             |  SELECT c.vec_id, b.vec_id AS b_id,
             |         list_sum(list_transform(generate_series(1, len(c.qv)),
             |           i -> c.qv[i] * b.qv[i])) AS dot,
             |         c.nrm AS c_nrm, b.nrm AS b_nrm
             |  FROM n c JOIN n b
             |    ON c.vec_id % 5 <> 0 AND b.vec_id % 5 = 0)
             |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
             |       CAST(min(b_id) AS BIGINT) AS first_bench
             |FROM hits
             |WHERE dot > 0
             |  AND CAST(dot AS HUGEINT) * dot * 10000
             |      >= CAST(9025 AS HUGEINT) * c_nrm * b_nrm
             |GROUP BY 1""".stripMargin)),

    // ── Mixture reweighting of documents toward a uniform 10-bucket
    //    length target, with the reweighted corpus's effective sample
    //    size as the headline cost metric.
    QueryDef("q_mix_reweight",
      (s, d) => Curation.mixReweight(
        Tables.documents(s, d)
          .select(least(expr("n_chars div 100"), lit(9L)).as("bucket")),
        10),
      Some("""WITH b AS (SELECT least(n_chars // 100, 9) AS bucket FROM documents),
             |bk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bk),
             |w AS (SELECT bucket, c, n,
             |             CAST(n * 1000000 // (10 * c) AS BIGINT) AS weight_e6
             |      FROM bk CROSS JOIN tot),
             |ess AS (SELECT CAST(sum(CAST(c AS HUGEINT) * weight_e6)
             |               * sum(CAST(c AS HUGEINT) * weight_e6) * 1000000
             |               // (CAST(max(n) AS HUGEINT)
             |                  * sum(CAST(c AS HUGEINT) * weight_e6 * weight_e6))
             |               AS BIGINT) AS ess_e6
             |        FROM w)
             |SELECT bucket, c, CAST(c * 1000000 // n AS BIGINT) AS share_e6,
             |       weight_e6, ess_e6
             |FROM w CROSS JOIN ess""".stripMargin)),

    // ── PIT features: for each label event (every 17th), the latest
    //    NON-label event's value/type at-or-before the label time, with
    //    a 7-day freshness verdict. One user-keyed window — no join.
    QueryDef("q_pit_features",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id").as("u"),
          expr("unix_micros(ts)").as("t"), col("event_id").as("eid"),
          col("event_type").as("et"),
          floor(col("value") * 100 + 0.5).cast("long").as("v"))
        val uni = ev.where(col("eid") % 17 =!= 0)
          .select(col("u"), col("t"), lit(0L).as("kind"), col("eid"),
            col("v"), col("et"))
          .unionByName(ev.where(col("eid") % 17 === 0)
            .select(col("u"), col("t"), lit(1L).as("kind"), col("eid"),
              lit(null).cast("long").as("v"),
              lit(null).cast("string").as("et")))
        val w = Window.partitionBy(col("u"))
          .orderBy(col("t"), col("kind"), col("eid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        uni
          .withColumn("fv", last(col("v"), ignoreNulls = true).over(w))
          .withColumn("ftt", last(when(col("v").isNotNull, col("t")),
            ignoreNulls = true).over(w))
          .withColumn("fet", last(when(col("v").isNotNull, col("et")),
            ignoreNulls = true).over(w))
          .where(col("kind") === 1L)
          .select(col("u"), col("t").as("label_t_us"), col("eid").as("lid"),
            col("fv").as("feat_cents"), col("fet").as("feat_type"),
            when(col("ftt").isNull, lit(null).cast("boolean"))
              .otherwise(col("t") - col("ftt") <= lit(7L * dayUs))
              .as("fresh"))
      },
      Some(s"""WITH ev AS (
              |  SELECT user_id AS u, epoch_us(ts) AS t, event_id AS eid,
              |         event_type AS et,
              |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
              |  FROM events),
              |uni AS (
              |  SELECT u, t, 0 AS kind, eid, v, et FROM ev
              |  WHERE eid % 17 <> 0
              |  UNION ALL
              |  SELECT u, t, 1, eid, NULL, NULL FROM ev WHERE eid % 17 = 0),
              |wnd AS (
              |  SELECT u, t, kind, eid,
              |         last_value(v IGNORE NULLS) OVER w AS fv,
              |         last_value(CASE WHEN v IS NOT NULL THEN t END
              |           IGNORE NULLS) OVER w AS ftt,
              |         last_value(CASE WHEN v IS NOT NULL THEN et END
              |           IGNORE NULLS) OVER w AS fet
              |  FROM uni
              |  WINDOW w AS (PARTITION BY u ORDER BY t, kind, eid
              |               ROWS UNBOUNDED PRECEDING))
              |SELECT u, t AS label_t_us, eid AS lid, fv AS feat_cents,
              |       fet AS feat_type,
              |       CASE WHEN ftt IS NULL THEN NULL
              |            ELSE t - ftt <= ${7L * dayUs} END AS fresh
              |FROM wnd WHERE kind = 1""".stripMargin)),

    // ── Leakage audit: features carry a snapshot time skewed ±1h from
    //    the real event time; count candidate features in each label's
    //    24h lookback whose REAL time postdates the label. The Spark
    //    side runs the (user, day)-bucketed join — same semantics as
    //    the oracle's range join, but shuffle-bounded at scale.
    QueryDef("q_leakage_audit",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id").as("u"),
          expr("unix_micros(ts)").as("t"), col("event_id").as("eid"),
          col("event_type").as("et"))
        val feats = ev.where(col("eid") % 17 =!= 0)
          .select(col("u"), col("t"),
            (col("t") + (col("eid") % 3 - 1) * hourUs).as("snap"))
          .withColumn("bd", expr(s"snap div $dayUs"))
        val labs = ev.where(col("eid") % 17 === 0)
          .select(col("u"), col("t").as("lt"), col("et").as("let"))
          .localCheckpoint(false) // reused: label counts + pair join
        val lb = labs.withColumn("ld", expr(s"lt div $dayUs"))
          .withColumn("bd", explode(array(col("ld") - 1, col("ld"))))
        val pairs = feats.join(lb, Seq("u", "bd"))
          .where(col("snap") > col("lt") - dayUs && col("snap") <= col("lt"))
          .groupBy(col("let"))
          .agg(count(lit(1)).as("n_used"),
            sum(when(col("t") > col("lt"), 1L).otherwise(0L)).as("n_leaked"))
        labs.groupBy(col("let")).agg(count(lit(1)).as("n_labels"))
          .join(pairs, Seq("let"), "left")
          .selectExpr("let AS label_type", "n_labels",
            "coalesce(n_used, CAST(0 AS BIGINT)) AS n_used",
            "coalesce(n_leaked, CAST(0 AS BIGINT)) AS n_leaked",
            """CASE WHEN coalesce(n_used, CAST(0 AS BIGINT)) = 0 THEN 0
              |     ELSE n_leaked * 1000000 div n_used
              |END AS leak_e6""".stripMargin)
      },
      Some(s"""WITH ev AS (
              |  SELECT user_id AS u, epoch_us(ts) AS t, event_id AS eid,
              |         event_type AS et
              |  FROM events),
              |feats AS (SELECT u, t, t + (eid % 3 - 1) * $hourUs AS snap
              |          FROM ev WHERE eid % 17 <> 0),
              |labs AS (SELECT u, t AS lt, et AS let FROM ev
              |         WHERE eid % 17 = 0),
              |pairs AS (
              |  SELECT let, CAST(count(*) AS BIGINT) AS n_used,
              |         CAST(sum(CASE WHEN f.t > lt THEN 1 ELSE 0 END)
              |           AS BIGINT) AS n_leaked
              |  FROM feats f JOIN labs ON f.u = labs.u
              |    AND f.snap > lt - $dayUs AND f.snap <= lt
              |  GROUP BY 1),
              |lc AS (SELECT let, CAST(count(*) AS BIGINT) AS n_labels
              |       FROM labs GROUP BY 1)
              |SELECT lc.let AS label_type, n_labels,
              |       coalesce(n_used, 0) AS n_used,
              |       coalesce(n_leaked, 0) AS n_leaked,
              |       CASE WHEN coalesce(n_used, 0) = 0 THEN 0
              |            ELSE n_leaked * 1000000 // n_used END AS leak_e6
              |FROM lc LEFT JOIN pairs ON lc.let = pairs.let"""
        .stripMargin)),

    // ── Negative sampling: 8 hash candidates per user, anti-joined
    //    against the positive set, first 4 survivors kept (j order).
    QueryDef("q_negative_sampling",
      (s, d) => {
        val pos = Tables.events(s, d)
          .select(col("user_id").as("u"), (col("event_id") % 200).as("item"))
          .distinct()
          .localCheckpoint(false) // reused: per-user counts + anti-join
        val nPos = pos.groupBy(col("u")).agg(count(lit(1)).as("n_pos"))
        val cand = nPos.select(col("u"))
          .withColumn("j", explode(expr("sequence(1, 8)")))
          .withColumn("item", expr("(u * 31 + j * 17) % 200"))
        val neg = cand.join(pos, Seq("u", "item"), "left_anti")
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("u")).orderBy(col("j"))))
          .where(col("rk") <= 4)
          .groupBy(col("u"))
          .agg(count(lit(1)).as("n_neg"), sum(col("item")).as("neg_sum"),
            min(col("item")).as("neg_min"), max(col("item")).as("neg_max"))
        nPos.join(neg, Seq("u"), "left")
          .selectExpr("u", "n_pos",
            "coalesce(n_neg, CAST(0 AS BIGINT)) AS n_neg",
            "coalesce(neg_sum, CAST(0 AS BIGINT)) AS neg_sum",
            "coalesce(neg_min, CAST(-1 AS BIGINT)) AS neg_min",
            "coalesce(neg_max, CAST(-1 AS BIGINT)) AS neg_max")
      },
      Some("""WITH pos AS (SELECT DISTINCT user_id AS u,
             |                    event_id % 200 AS item FROM events),
             |np AS (SELECT u, CAST(count(*) AS BIGINT) AS n_pos
             |       FROM pos GROUP BY 1),
             |cand AS (SELECT u, j, (u * 31 + j * 17) % 200 AS item
             |         FROM np, unnest(generate_series(1, 8)) AS t(j)),
             |surv AS (SELECT cand.u, cand.j, cand.item,
             |                row_number() OVER (PARTITION BY cand.u
             |                  ORDER BY cand.j) AS rk
             |         FROM cand ANTI JOIN pos
             |           ON cand.u = pos.u AND cand.item = pos.item),
             |neg AS (SELECT u, CAST(count(*) AS BIGINT) AS n_neg,
             |               CAST(sum(item) AS BIGINT) AS neg_sum,
             |               CAST(min(item) AS BIGINT) AS neg_min,
             |               CAST(max(item) AS BIGINT) AS neg_max
             |        FROM surv WHERE rk <= 4 GROUP BY 1)
             |SELECT np.u, n_pos, coalesce(n_neg, 0) AS n_neg,
             |       coalesce(neg_sum, 0) AS neg_sum,
             |       coalesce(neg_min, -1) AS neg_min,
             |       coalesce(neg_max, -1) AS neg_max
             |FROM np LEFT JOIN neg ON np.u = neg.u""".stripMargin)),

    // ── Curriculum schedule: difficulty = token count + inverted
    //    type-token ratio; decile profile of the resulting order.
    QueryDef("q_curriculum_order",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"),
            expr("size(filter(ws, w -> w <> ''))").cast("long").as("toks"),
            expr("size(array_distinct(filter(ws, w -> w <> '')))")
              .cast("long").as("uniq"))
          .where(col("toks") > 0)
          .withColumn("ttr_e6", expr("uniq * 1000000 div toks"))
          .withColumn("difficulty_e6",
            expr("toks * 1000 + (1000000 - ttr_e6)"))
          // checkpoint the tokenize pass (split + array_distinct over
          // every doc — the dominant cost) so BOTH consumers below ride
          // one materialization; when the rank layout and the count each
          // re-tokenized the corpus, the query took 1.10 s instead of
          // 0.42 s
          .localCheckpoint(false)
        // ntile from the distributed global rank (see q_ntile_buckets):
        // same buckets, no single-partition sort of the corpus.
        val ranked = graft.ops.Ranks.globalRowNumber(docs,
          Seq(col("difficulty_e6").asc, col("doc_id").asc), "r")
        // count from the BASE frame, not `ranked` — the latter would
        // re-plan the rank subtree under the broadcast
        val tot = docs.agg(count(lit(1)).as("nt"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("decile", expr(decileOfRank).cast("long"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("difficulty_e6")).as("min_diff_e6"),
            max(col("difficulty_e6")).as("max_diff_e6"),
            expr("sum(toks) div count(1)").as("mean_toks"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id, wd FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |    FROM documents) u
             |  WHERE wd <> ''),
             |docs AS (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS toks,
             |         CAST(count(DISTINCT wd) AS BIGINT) AS uniq
             |  FROM w GROUP BY 1),
             |sc AS (SELECT doc_id, toks,
             |              toks * 1000 + (1000000 - uniq * 1000000 // toks)
             |                AS difficulty_e6
             |       FROM docs WHERE toks > 0),
             |t AS (SELECT *, CAST(ntile(10) OVER (ORDER BY difficulty_e6,
             |        doc_id) AS BIGINT) AS decile FROM sc)
             |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(min(difficulty_e6) AS BIGINT) AS min_diff_e6,
             |       CAST(max(difficulty_e6) AS BIGINT) AS max_diff_e6,
             |       CAST(sum(toks) // count(*) AS BIGINT) AS mean_toks
             |FROM t GROUP BY 1""".stripMargin)),

    // ── Perplexity gate: flag docs above the 90th-percentile bigram
    //    NLL (positional ceil index), report the drop rate per source.
    QueryDef("q_perplexity_filter",
      (s, d) => {
        val nll = TextAnalysis.bigramNll(
            Tables.documents(s, d).select(col("doc_id"), col("text")))
          .localCheckpoint(false) // reused: threshold + rollup
        // Percentile THRESHOLD via the distinct-score axis (group → cum
        // counts → select the value at position ⌈0.9n⌉): the selected
        // VALUE is identical to the positional pick regardless of
        // tie-break, and the window runs over score cells, never docs.
        val cells = nll.groupBy(col("avg_nll_e6"))
          .agg(count(lit(1)).as("c"))
        val thr = cells
          .withColumn("cum", sum(col("c")).over(
            Window.orderBy(col("avg_nll_e6"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", sum(col("c")).over(
            Window.partitionBy(lit(1))))
          .where(col("cum") >= expr("(9 * n + 9) div 10") &&
            col("cum") - col("c") < expr("(9 * n + 9) div 10"))
          .select(col("avg_nll_e6").as("thr"))
        nll.join(Tables.documents(s, d)
            .select(col("doc_id"), col("source")), "doc_id")
          .crossJoin(broadcast(thr))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("avg_nll_e6") > col("thr"), 1L).otherwise(0L))
              .as("n_flagged"),
            max(col("thr")).as("thr_e6"))
          .withColumn("flag_rate_e6",
            expr("n_flagged * 1000000 div n_docs"))
      },
      Some {
        val nll = graft.ops.Bm25.log2E6Sql("c1.c1 + vv.v") + " - " +
          graft.ops.Bm25.log2E6Sql("c12.c12 + 1")
        s"""WITH t AS MATERIALIZED (
           |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |bg AS (SELECT doc_id,
           |              unnest(list_transform(generate_series(1, len(ws) - 1),
           |                i -> struct_pack(w1 := ws[i], w2 := ws[i + 1])))
           |                AS b
           |       FROM t WHERE len(ws) >= 2),
           |pair AS MATERIALIZED (SELECT doc_id, b.w1 AS w1, b.w2 AS w2
           |                      FROM bg),
           |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
           |        FROM pair GROUP BY 1, 2),
           |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
           |       FROM pair GROUP BY 1),
           |vv AS (SELECT CAST(count(DISTINCT wd) AS BIGINT) AS v
           |       FROM (SELECT unnest(ws) AS wd FROM t)),
           |sc AS (SELECT p.doc_id, $nll AS nll_e6
           |       FROM pair p JOIN c12 ON c12.w1 = p.w1 AND c12.w2 = p.w2
           |                   JOIN c1 ON c1.w1 = p.w1 CROSS JOIN vv),
           |docnll AS (SELECT doc_id,
           |                  CAST(sum(nll_e6) // count(*) AS BIGINT)
           |                    AS avg_nll_e6
           |           FROM sc GROUP BY 1),
           |thr AS (SELECT avg_nll_e6 AS thr FROM (
           |          SELECT avg_nll_e6, doc_id,
           |                 row_number() OVER (ORDER BY avg_nll_e6, doc_id)
           |                   AS rn,
           |                 count(*) OVER () AS n
           |          FROM docnll)
           |        WHERE rn = (9 * n + 9) // 10)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(CASE WHEN avg_nll_e6 > thr THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_flagged,
           |       CAST(max(thr) AS BIGINT) AS thr_e6,
           |       CAST(sum(CASE WHEN avg_nll_e6 > thr THEN 1 ELSE 0 END)
           |         AS BIGINT) * 1000000 // count(*) AS flag_rate_e6
           |FROM docnll JOIN documents USING (doc_id) CROSS JOIN thr
           |GROUP BY 1""".stripMargin
      }),

    // ── Greedy k-center: 4 max-min-distance seeds over the e6-int
    //    embedding metric; each round is one broadcast join + argmax.
    QueryDef("q_kcenter_coreset",
      (s, d) => {
        val pts = Tables.embeddings(s, d).select(
            col("vec_id").cast("long").as("vec_id"),
            expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
              "x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))").as("qv"))
          .localCheckpoint(false) // rescanned once per greedy round
        val seed0 = pts.agg(min(col("vec_id")).as("vec_id"))
          .join(pts, "vec_id")
          .select(lit(1L).as("step"), col("vec_id"), col("qv"),
            lit(0L).as("d2"))
        var centers: DataFrame = seed0.localCheckpoint(false)
        for (step <- 2 to 4) {
          val cand = pts.crossJoin(broadcast(
              centers.select(col("qv").as("cv"))))
            .select(col("vec_id"), col("qv"),
              expr("""aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)),
                     |0L, (acc, v) -> acc + v)""".stripMargin).as("dd"))
            .groupBy(col("vec_id")).agg(min(col("dd")).as("mind"),
              first(col("qv")).as("qv"))
          val pick = cand
            .withColumn("rk", row_number().over(
              Window.orderBy(col("mind").desc, col("vec_id"))))
            .where(col("rk") === 1)
            .select(lit(step.toLong).as("step"), col("vec_id"), col("qv"),
              col("mind").as("d2"))
          centers = centers.unionByName(pick).localCheckpoint(false)
        }
        centers.select(col("step"), col("vec_id"), col("d2").as("d2_e12"))
      },
      Some {
        def d2(a: String, b: String) =
          s"""CAST(list_sum(list_transform(generate_series(1, len($a)),
             |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"""
            .stripMargin
        def round(k: Int) =
          s"""cand$k AS (SELECT p.vec_id, p.qv,
             |                  min(${d2("p.qv", "c.qv")}) AS mind
             |           FROM pts p CROSS JOIN cent${k - 1} c
             |           GROUP BY 1, 2),
             |pick$k AS (SELECT CAST($k AS BIGINT) AS step, vec_id, qv,
             |                  mind AS d2
             |           FROM (SELECT *, row_number() OVER
             |                   (ORDER BY mind DESC, vec_id) AS rk
             |                 FROM cand$k)
             |           WHERE rk = 1),
             |cent$k AS (SELECT * FROM cent${k - 1}
             |           UNION ALL SELECT step, vec_id, qv, d2 FROM pick$k)"""
            .stripMargin
        s"""WITH pts AS MATERIALIZED (
           |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
           |         list_transform(CAST(embedding AS DOUBLE[]),
           |           x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
           |  FROM embeddings),
           |cent1 AS (SELECT CAST(1 AS BIGINT) AS step, vec_id, qv,
           |                 CAST(0 AS BIGINT) AS d2
           |          FROM pts WHERE vec_id = (SELECT min(vec_id) FROM pts)),
           |${round(2)},
           |${round(3)},
           |${round(4)}
           |SELECT step, vec_id, d2 AS d2_e12 FROM cent4""".stripMargin
      }),

    // ── Split-leakage audit: q_decontaminate guards against BENCHMARK
    //    contamination; this guards against the quieter failure — the
    //    corpus's own val/test splits sharing content with train.
    //    Deterministic hash splits (Curation.splitAssign semantics),
    //    3-shingle overlap ≥ 10 flags a leaky doc; one row per eval
    //    split with the leak rate. Shingle join is inverted-index
    //    shaped (shingle-keyed), never doc×doc.
    QueryDef("q_split_leakage",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("text"),
            graft.ops.Curation.splitAssign(col("doc_id").cast("string"))
              .as("split"))
        // split is a pure hash of doc_id — recomputed after shingling
        // instead of joined back, so the index build stays one pass.
        val sh = graft.ops.Dedup.shingles(
            docs.select(col("doc_id"), col("text")), 3)
          .withColumn("split",
            graft.ops.Curation.splitAssign(col("doc_id").cast("string")))
          .select(col("doc_id"), col("split"), col("shingle"))
          .distinct()
          .localCheckpoint(false) // train index + eval probes
        val trainSh = sh.where(col("split") === "train")
          .select(col("shingle")).distinct()
        val evalDocs = docs.where(col("split") =!= "train")
          .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        val shared = sh.where(col("split") =!= "train")
          .join(trainSh, "shingle")
          .groupBy(col("split"), col("doc_id"))
          .agg(count(lit(1)).as("n_shared"))
        val leaky = shared.where(col("n_shared") >= 10)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_leaky"), max(col("n_shared")).as("worst"))
        evalDocs.join(leaky, Seq("split"), "left")
          .selectExpr("split",
            "n_docs",
            "coalesce(n_leaky, CAST(0 AS BIGINT)) AS n_leaky",
            "coalesce(n_leaky, CAST(0 AS BIGINT)) * 1000000 div n_docs" +
              " AS leak_rate_e6",
            "coalesce(worst, CAST(0 AS BIGINT)) AS worst_shared")
      },
      Some {
        val h = PortableSql.hash48("CAST(doc_id AS VARCHAR)", "'split'")
        s"""WITH base AS (SELECT doc_id, text,
           |         CASE WHEN $h % 100 < 90 THEN 'train'
           |              WHEN $h % 100 < 95 THEN 'val'
           |              ELSE 'test' END AS split
           |       FROM documents),
           |sh AS (SELECT DISTINCT doc_id, split, shingle FROM (
           |  SELECT doc_id, split,
           |         unnest(list_transform(range(1, len(ws) - 1),
           |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
           |           AS shingle
           |  FROM (SELECT doc_id, split, string_split(text, ' ') AS ws
           |        FROM base) w
           |  WHERE len(ws) >= 3)),
           |ts AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
           |ed AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs
           |       FROM base WHERE split <> 'train' GROUP BY 1),
           |shared AS (SELECT split, doc_id,
           |                  CAST(count(*) AS BIGINT) AS n_shared
           |           FROM sh JOIN ts USING (shingle)
           |           WHERE split <> 'train' GROUP BY 1, 2),
           |leaky AS (SELECT split, CAST(count(*) AS BIGINT) AS n_leaky,
           |                 CAST(max(n_shared) AS BIGINT) AS worst
           |          FROM shared WHERE n_shared >= 10 GROUP BY 1)
           |SELECT ed.split, n_docs,
           |       coalesce(n_leaky, 0) AS n_leaky,
           |       coalesce(n_leaky, 0) * 1000000 // n_docs AS leak_rate_e6,
           |       coalesce(worst, 0) AS worst_shared
           |FROM ed LEFT JOIN leaky ON ed.split = leaky.split""".stripMargin
      }),

    // ── Gopher quality rules per language: each doc graded on four
    //    integer-exact heuristics (word-count range, mean-word-length
    //    range via cross-multiplication, ≥2 distinct function words,
    //    top-word frequency ≤ 20%), rolled up to per-lang pass counts.
    //    One token explode → one (doc, word) rollup → one per-doc
    //    rollup; the lang axis is bounded so the final agg is tiny.
    QueryDef("q_gopher_rules",
      (s, d) => {
        val wc = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("doc_id"), col("lang"), col("w"))
          .agg(count(lit(1)).as("c"))
        val doc = wc.groupBy(col("doc_id"), col("lang"))
          .agg(sum(col("c")).as("n_words"),
            sum(col("c") * length(col("w"))).as("sum_wlen"),
            max(col("c")).as("max_freq"),
            sum(when(col("w").isInCollection(stopwords), 1L)
              .otherwise(0L)).as("n_stop_kinds"))
          .selectExpr("lang",
            "CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS r_count",
            "CASE WHEN 3 * n_words <= sum_wlen AND sum_wlen <= 10 * n_words THEN 1 ELSE 0 END AS r_wlen",
            "CASE WHEN n_stop_kinds >= 2 THEN 1 ELSE 0 END AS r_stop",
            "CASE WHEN max_freq * 5 <= n_words THEN 1 ELSE 0 END AS r_rep")
        doc.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("r_count")).as("pass_count"),
            sum(col("r_wlen")).as("pass_wlen"),
            sum(col("r_stop")).as("pass_stop"),
            sum(col("r_rep")).as("pass_rep"),
            sum(expr("r_count * r_wlen * r_stop * r_rep")).as("pass_all"))
          .selectExpr("lang", "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(pass_count AS BIGINT) AS pass_count",
            "CAST(pass_wlen AS BIGINT) AS pass_wlen",
            "CAST(pass_stop AS BIGINT) AS pass_stop",
            "CAST(pass_rep AS BIGINT) AS pass_rep",
            "CAST(pass_all AS BIGINT) AS pass_all")
      },
      Some(s"""WITH wc AS (
             |  SELECT doc_id, lang, w, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, lang,
             |               unnest(string_split(text, ' ')) AS w
             |        FROM documents)
             |  WHERE w <> '' GROUP BY 1, 2, 3),
             |doc AS (
             |  SELECT lang,
             |         CASE WHEN sum(c) >= 50 AND sum(c) <= 100000
             |              THEN 1 ELSE 0 END AS r_count,
             |         CASE WHEN 3 * sum(c) <= sum(c * length(w))
             |               AND sum(c * length(w)) <= 10 * sum(c)
             |              THEN 1 ELSE 0 END AS r_wlen,
             |         CASE WHEN sum(CASE WHEN w IN ($stopSql)
             |                            THEN 1 ELSE 0 END) >= 2
             |              THEN 1 ELSE 0 END AS r_stop,
             |         CASE WHEN max(c) * 5 <= sum(c)
             |              THEN 1 ELSE 0 END AS r_rep
             |  FROM wc GROUP BY doc_id, lang)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(r_count) AS BIGINT) AS pass_count,
             |       CAST(sum(r_wlen) AS BIGINT) AS pass_wlen,
             |       CAST(sum(r_stop) AS BIGINT) AS pass_stop,
             |       CAST(sum(r_rep) AS BIGINT) AS pass_rep,
             |       CAST(sum(r_count * r_wlen * r_stop * r_rep) AS BIGINT)
             |         AS pass_all
             |FROM doc GROUP BY 1""".stripMargin)),

    // ── Duplicated 5-gram coverage per language: the fraction of gram
    //    instances whose gram also appears in ANOTHER document —
    //    template/boilerplate mass that survives exact- and MinHash-
    //    level dedup. Tokens are renumbered post-filter (row_number per
    //    doc) so gram windows never straddle a dropped empty token the
    //    same way in both engines; grams assemble via lead() — one
    //    window over the doc axis, no self-join. The gram→doc-count
    //    rollup shuffles once on the gram string; at corpus scale that
    //    is the same keyed exchange a dedup pass already pays.
    QueryDef("q_gram_coverage",
      (s, d) => {
        val tok = docTokens(s, d)
        val wd = Window.partitionBy(col("doc_id")).orderBy(col("rn"))
        val grams = tok
          .withColumn("g", concat_ws(" ", col("w"),
            lead(col("w"), 1).over(wd), lead(col("w"), 2).over(wd),
            lead(col("w"), 3).over(wd), lead(col("w"), 4).over(wd)))
          .withColumn("w4", lead(col("w"), 4).over(wd))
          .filter(col("w4").isNotNull)
          .select(col("doc_id"), col("lang"), col("g"))
          .localCheckpoint(false) // instance side + the gram-docs rollup
        val dup = grams.groupBy(col("g"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2).select(col("g"))
        grams.join(dup.withColumn("is_dup", lit(1L)), Seq("g"), "left")
          .groupBy(col("lang"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_grams"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dup"))
          .selectExpr("lang", "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(n_grams AS BIGINT) AS n_grams",
            "CAST(n_dup AS BIGINT) AS n_dup",
            "n_dup * 1000000 div n_grams AS dup_cov_e6")
      },
      Some(s"""WITH $tokRankSql,
             |grams AS (SELECT doc_id, lang,
             |                 concat_ws(' ', w,
             |                   lead(w, 1) OVER wd, lead(w, 2) OVER wd,
             |                   lead(w, 3) OVER wd, lead(w, 4) OVER wd)
             |                   AS g,
             |                 lead(w, 4) OVER wd AS w4
             |          FROM tok
             |          WINDOW wd AS (PARTITION BY doc_id ORDER BY rn)),
             |gf AS (SELECT doc_id, lang, g FROM grams
             |       WHERE w4 IS NOT NULL),
             |dup AS (SELECT g, 1 AS is_dup FROM gf
             |        GROUP BY g HAVING count(DISTINCT doc_id) >= 2)
             |SELECT lang,
             |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |       CAST(count(*) AS BIGINT) AS n_grams,
             |       CAST(sum(coalesce(is_dup, 0)) AS BIGINT) AS n_dup,
             |       CAST(sum(coalesce(is_dup, 0)) AS BIGINT) * 1000000
             |         // count(*) AS dup_cov_e6
             |FROM gf LEFT JOIN dup USING (g)
             |GROUP BY 1""".stripMargin)),

    // ── Repetition loops: islands of ≥3 identical consecutive words.
    //    Island key = rn − row_number within (doc, word) — the standard
    //    gaps-and-islands subtraction, all on the one doc-partitioned
    //    token pass. Rolled up per language with the longest run.
    QueryDef("q_repetition_loops",
      (s, d) => {
        val tok = docTokens(s, d)
          .withColumn("isl", col("rn") - row_number().over(
            Window.partitionBy(col("doc_id"), col("w"))
              .orderBy(col("pos"))))
        val runs = tok.groupBy(col("doc_id"), col("lang"), col("w"),
            col("isl"))
          .agg(count(lit(1)).as("len"))
          .filter(col("len") >= 3)
        runs.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_runs"),
            countDistinct(col("doc_id")).as("n_docs"),
            max(col("len")).as("max_run"),
            sum(col("len")).as("looped_tokens"))
          .selectExpr("lang", "CAST(n_runs AS BIGINT) AS n_runs",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(max_run AS BIGINT) AS max_run",
            "CAST(looped_tokens AS BIGINT) AS looped_tokens")
      },
      Some(s"""WITH $tok0Sql,
             |tok AS (SELECT doc_id, lang, w,
             |               row_number() OVER (PARTITION BY doc_id
             |                                  ORDER BY pos) AS rn,
             |               row_number() OVER (PARTITION BY doc_id, w
             |                                  ORDER BY pos) AS rw
             |        FROM tok0 WHERE w <> ''),
             |runs AS (SELECT doc_id, lang, w, rn - rw AS isl,
             |                CAST(count(*) AS BIGINT) AS len
             |         FROM tok GROUP BY 1, 2, 3, 4
             |         HAVING count(*) >= 3)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_runs,
             |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |       CAST(max(len) AS BIGINT) AS max_run,
             |       CAST(sum(len) AS BIGINT) AS looped_tokens
             |FROM runs GROUP BY 1""".stripMargin)),

    // ── Prefix templates: documents sharing their first five words are
    //    template instances (headers/boilerplate that per-doc hashes
    //    miss). The prefix assembles via a conditional-max pivot over
    //    rn ≤ 5 (one doc-keyed rollup — no string re-scan), then the
    //    template axis ranks by membership. Top 10, ≥2 docs.
    QueryDef("q_prefix_templates",
      (s, d) => {
        val head = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
          .filter(col("w") =!= "")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
          .filter(col("rn") <= 5)
          .groupBy(col("doc_id"), col("lang"))
          .agg(concat_ws(" ",
            max(when(col("rn") === 1, col("w"))),
            max(when(col("rn") === 2, col("w"))),
            max(when(col("rn") === 3, col("w"))),
            max(when(col("rn") === 4, col("w"))),
            max(when(col("rn") === 5, col("w")))).as("prefix"),
            max(col("rn")).as("n_head"))
          .filter(col("n_head") === 5L)
        head.groupBy(col("prefix"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"))
          .filter(col("n_docs") >= 2)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("n_docs").desc, col("prefix"))))
          .filter(col("rk") <= 10)
          .selectExpr("prefix", "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(n_langs AS BIGINT) AS n_langs",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some(s"""WITH $tokRankSql,
             |head AS (SELECT doc_id, lang,
             |                concat_ws(' ',
             |                  max(CASE WHEN rn = 1 THEN w END),
             |                  max(CASE WHEN rn = 2 THEN w END),
             |                  max(CASE WHEN rn = 3 THEN w END),
             |                  max(CASE WHEN rn = 4 THEN w END),
             |                  max(CASE WHEN rn = 5 THEN w END)) AS prefix,
             |                max(rn) AS n_head
             |         FROM tok WHERE rn <= 5 GROUP BY 1, 2
             |         HAVING max(rn) = 5),
             |tpl AS (SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
             |               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
             |        FROM head GROUP BY 1 HAVING count(*) >= 2)
             |SELECT prefix, n_docs, n_langs, rk
             |FROM (SELECT *, CAST(row_number() OVER (ORDER BY n_docs DESC,
             |        prefix) AS BIGINT) AS rk
             |      FROM tpl)
             |WHERE rk <= 10""".stripMargin))
  )
}
