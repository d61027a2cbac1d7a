package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus linguistics and vocabulary statistics: Zipf and Heaps laws,
  * richness estimators, dispersion, burstiness, and source-level vocabulary
  * comparison. */
object CorpusStatsQueries extends QueryCatalog {

  import Fixtures._

  def defs: Seq[QueryDef] = Seq(

    // ── Zipf-law slope of the token-frequency distribution (top 256
    //    ranks): fixed-point log-log least squares, DECIMAL(38,0)
    //    moments, one deterministic-double division.
    QueryDef("q_zipf_slope",
      (s, d) => TextAnalysis.zipfSlope(
        Tables.documents(s, d).select(col("text")), 256),
      Some {
        val lx = Bm25.log2E6Sql("rk")
        val ly = Bm25.log2E6Sql("f")
        s"""WITH t AS (SELECT wd FROM (SELECT unnest(string_split(text, ' ')) AS wd
           |                           FROM documents) u WHERE wd <> ''),
           |f AS (SELECT wd, CAST(count(*) AS BIGINT) AS f FROM t GROUP BY 1),
           |top AS (SELECT f, wd, row_number() OVER (ORDER BY f DESC, wd) AS rk
           |        FROM f ORDER BY f DESC, wd LIMIT 256),
           |xy AS (SELECT CAST($lx AS BIGINT) AS x, CAST($ly AS BIGINT) AS y FROM top),
           |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |             sum(x * x) AS sxx, sum(x * y) AS sxy FROM xy)
           |SELECT CAST(n AS BIGINT) AS n_ranks,
           |       round(CAST(n * sxy - sx * sy AS DOUBLE) /
           |             CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
           |FROM m""".stripMargin
      }),

    // ── Heaps'-law exponent per source: cumulative (tokens, vocab)
    //    walk in doc_id order, LS slope of log₂V on log₂N (exact e6
    //    logs, one double division).
    QueryDef("q_heaps_law",
      (s, d) => TextAnalysis.vocabGrowth(
        Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))),
      Some {
        val lx = Bm25.log2E6Sql("nn")
        val ly = Bm25.log2E6Sql("vv")
        s"""WITH tok AS MATERIALIZED (
           |  SELECT doc_id, source AS src, wd AS word
           |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS wd
           |        FROM documents) u WHERE wd <> ''),
           |perdoc AS (SELECT src, doc_id, count(*) AS toks
           |           FROM tok GROUP BY 1, 2),
           |firsto AS (SELECT src, word, min(doc_id) AS doc_id
           |           FROM tok GROUP BY 1, 2),
           |neww AS (SELECT src, doc_id, count(*) AS nw
           |         FROM firsto GROUP BY 1, 2),
           |walk AS (SELECT p.src, p.doc_id,
           |           CAST(sum(p.toks) OVER (PARTITION BY p.src ORDER BY p.doc_id
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |             AS BIGINT) AS nn,
           |           CAST(sum(coalesce(w.nw, 0)) OVER (PARTITION BY p.src
           |             ORDER BY p.doc_id
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |             AS BIGINT) AS vv
           |         FROM perdoc p LEFT JOIN neww w
           |           ON w.src = p.src AND w.doc_id = p.doc_id),
           |pts AS (SELECT src, CAST($lx AS BIGINT) AS x,
           |               CAST($ly AS BIGINT) AS y FROM walk),
           |m AS (SELECT src, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |             sum(x * x) AS sxx, sum(x * y) AS sxy
           |      FROM pts GROUP BY src)
           |SELECT src AS source, CAST(n AS BIGINT) AS n_docs,
           |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
           |            ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
           |                 CAST(n * sxx - sx * sx AS DOUBLE), 6)
           |       END AS beta
           |FROM m""".stripMargin
      }),

    // ── Monroe log-odds with a flat Dirichlet prior: en vs non-en
    //    word usage, top 15 by |z| each side.
    QueryDef("q_log_odds_words",
      (s, d) => {
        val w = Tables.documents(s, d)
          .select((col("lang") === "en").as("isA"),
            explode(split(col("text"), " ")).as("word"))
          .where(col("word") =!= "")
        val counts = w.groupBy(col("word"))
          .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("ca"),
            sum(when(!col("isA"), 1L).otherwise(0L)).as("cb"))
          .where(col("ca") + col("cb") >= 20)
          .localCheckpoint(false) // reused: totals + scoring
        val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
          count(lit(1)).as("vocab"))
        counts.crossJoin(broadcast(tot))
          .withColumn("la", Bm25.log2E6(col("ca") + 1) -
            Bm25.log2E6(greatest(lit(1L),
              col("na") + col("vocab") - col("ca") - 1)))
          .withColumn("lb", Bm25.log2E6(col("cb") + 1) -
            Bm25.log2E6(greatest(lit(1L),
              col("nb") + col("vocab") - col("cb") - 1)))
          // Sign-factored: Spark `div` truncates, DuckDB `//` floors — the
          // two agree only on non-negative numerators, and la < lb for
          // every non-en-leaning word.
          .withColumn("dlt", expr("CAST(la AS BIGINT) - CAST(lb AS BIGINT)"))
          .withColumn("delta_e6", expr(
            """CASE WHEN dlt >= 0 THEN dlt * 693147 div 1000000
              |ELSE -((-dlt) * 693147 div 1000000) END""".stripMargin))
          .withColumn("z", expr(
            """round(CAST(delta_e6 AS DOUBLE) / CAST('1000000' AS DOUBLE)
              |/ sqrt(CAST('1.0' AS DOUBLE) / CAST(ca + 1 AS DOUBLE)
              |     + CAST('1.0' AS DOUBLE) / CAST(cb + 1 AS DOUBLE)), 6)"""
              .stripMargin))
          .withColumn("rk", row_number().over(
            Window.orderBy(abs(col("z")).desc, col("word"))))
          .where(col("rk") <= 15)
          .select(col("word"), col("ca"), col("cb"), col("delta_e6"),
            col("z"))
      },
      Some {
        s"""WITH w AS (SELECT lang = 'en' AS isA,
           |                 wd AS word
           |          FROM (SELECT lang,
           |                       unnest(string_split(text, ' ')) AS wd
           |                FROM documents) u
           |          WHERE wd <> ''),
           |counts AS (SELECT word,
           |                  CAST(sum(CASE WHEN isA THEN 1 ELSE 0 END)
           |                    AS BIGINT) AS ca,
           |                  CAST(sum(CASE WHEN isA THEN 0 ELSE 1 END)
           |                    AS BIGINT) AS cb
           |           FROM w GROUP BY 1 HAVING ca + cb >= 20),
           |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
           |               CAST(sum(cb) AS BIGINT) AS nb,
           |               CAST(count(*) AS BIGINT) AS vocab
           |        FROM counts),
           |sc0 AS (SELECT word, ca, cb,
           |              CAST(${Bm25.log2E6Sql("(ca + 1)")} -
           |               ${Bm25.log2E6Sql("greatest(na + vocab - ca - 1, 1)")}
           |               - ${Bm25.log2E6Sql("(cb + 1)")} +
           |               ${Bm25.log2E6Sql("greatest(nb + vocab - cb - 1, 1)")}
           |               AS BIGINT) AS dlt
           |       FROM counts CROSS JOIN tot),
           |sc AS (SELECT word, ca, cb,
           |              CASE WHEN dlt >= 0 THEN dlt * 693147 // 1000000
           |                   ELSE -((-dlt) * 693147 // 1000000)
           |              END AS delta_e6
           |       FROM sc0),
           |z AS (SELECT word, ca, cb, delta_e6,
           |             round(CAST(delta_e6 AS DOUBLE)
           |               / CAST('1000000' AS DOUBLE)
           |               / sqrt(CAST('1.0' AS DOUBLE)
           |                      / CAST(ca + 1 AS DOUBLE)
           |                    + CAST('1.0' AS DOUBLE)
           |                      / CAST(cb + 1 AS DOUBLE)), 6) AS z
           |      FROM sc)
           |SELECT word, ca, cb, delta_e6, z FROM (
           |  SELECT *, row_number() OVER (ORDER BY abs(z) DESC, word)
           |    AS rk FROM z)
           |WHERE rk <= 15""".stripMargin
      }),

    // ── Vocabulary coverage curve: what fraction of token OCCURRENCES
    //    does a top-N vocabulary cover, for N ∈ {100, 500, 1000} — the
    //    number that sizes a tokenizer vocab (q_heaps gives growth;
    //    this gives the budget→coverage tradeoff). Rank window runs on
    //    the aggregated token-frequency axis (vocab-bounded).
    QueryDef("q_vocab_coverage",
      (s, d) => {
        val freq = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("w")).agg(count(lit(1)).as("f"))
        val ranked = freq
          .withColumn("rk", row_number().over(
            Window.orderBy(col("f").desc, col("w"))))
          .localCheckpoint(false) // three budgets + the total
        val tot = ranked.agg(sum(col("f")).as("total_occ"),
          count(lit(1)).as("n_vocab"))
        Seq(100, 500, 1000).map { n =>
          ranked.where(col("rk") <= n)
            .agg(sum(col("f")).as("covered"))
            .select(lit(n.toLong).as("vocab_budget"), col("covered"))
        }.reduce(_ unionByName _)
          .crossJoin(broadcast(tot))
          .selectExpr("vocab_budget", "covered", "total_occ", "n_vocab",
            "covered * 1000000 div total_occ AS coverage_e6")
      },
      Some("""WITH f AS (SELECT wd AS w, CAST(count(*) AS BIGINT) AS f
             |           FROM (SELECT unnest(string_split(text, ' ')) AS wd
             |                 FROM documents) u
             |           WHERE wd <> '' GROUP BY 1),
             |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS rk
             |      FROM f),
             |t AS (SELECT CAST(sum(f) AS BIGINT) AS total_occ,
             |             CAST(count(*) AS BIGINT) AS n_vocab FROM r),
             |b AS (SELECT unnest([100, 500, 1000]) AS vocab_budget)
             |SELECT CAST(b.vocab_budget AS BIGINT) AS vocab_budget,
             |       CAST(sum(r.f) AS BIGINT) AS covered,
             |       t.total_occ, t.n_vocab,
             |       CAST(sum(r.f) AS BIGINT) * 1000000 // t.total_occ
             |         AS coverage_e6
             |FROM b JOIN r ON r.rk <= b.vocab_budget CROSS JOIN t
             |GROUP BY 1, 3, 4""".stripMargin)),

    // ── Good–Turing: unseen-TRIGRAM mass (r=0 row, N₁/N e6) + smoothed
    //    counts r* = (r+1)·N_{r+1}/N_r for r=1..5 (trigram species: the
    //    synthetic vocab is ~31 words, so only n≥3 has a singleton
    //    tail). Corpus read once; everything after the species-count
    //    shuffle is a ≤7-row axis.
    QueryDef("q_good_turing",
      (s, d) => TextAnalysis.goodTuring(
        Tables.documents(s, d).select(col("text")), n = 3, maxR = 5),
      Some("""WITH w AS (SELECT unnest(list_transform(range(1, len(ws) - 1),
             |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
             |             AS word
             |           FROM (SELECT string_split(text, ' ') AS ws
             |                 FROM documents) t),
             |c AS (SELECT word, CAST(count(*) AS BIGINT) AS c
             |      FROM w GROUP BY 1),
             |t AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM c),
             |ff AS (SELECT c AS r, CAST(count(*) AS BIGINT) AS n_r
             |       FROM c WHERE c <= 6 GROUP BY 1),
             |sm AS (SELECT a.r, a.n_r,
             |              (a.r + 1) * coalesce(b.n_r, 0) * 1000000 // a.n_r
             |                AS gt_e6
             |       FROM ff a LEFT JOIN ff b ON b.r = a.r + 1
             |       WHERE a.r <= 5),
             |un AS (SELECT CAST(0 AS BIGINT) AS r, n_r,
             |              n_r * 1000000 // n_tokens AS gt_e6
             |       FROM ff CROSS JOIN t WHERE ff.r = 1)
             |SELECT r, n_r, gt_e6 FROM un
             |UNION ALL
             |SELECT r, n_r, gt_e6 FROM sm""".stripMargin)),

    // ── distinct-bigram diversity per source (Li et al. 2016's
    //    distinct-n): unique bigrams ÷ total bigrams — low ratios flag
    //    templated/boilerplate slices. Bigrams build in-row (zip_with,
    //    no shuffle); only the per-source distinct aggregates exchange.
    QueryDef("q_distinct_n",
      (s, d) => TextAnalysis.distinctBigrams(
        Tables.documents(s, d).select(col("source"), col("text"))),
      Some("""WITH b AS (SELECT source,
             |                  unnest(list_transform(range(1, len(ws)),
             |                    i -> ws[i] || ' ' || ws[i+1])) AS bg
             |           FROM (SELECT source, string_split(text, ' ') AS ws
             |                 FROM documents) t)
             |SELECT source,
             |       CAST(count(*) AS BIGINT) AS n_bigrams,
             |       CAST(count(DISTINCT bg) AS BIGINT) AS n_distinct,
             |       CAST(count(DISTINCT bg) AS BIGINT) * 1000000 // count(*)
             |         AS distinct_e6
             |FROM b GROUP BY source""".stripMargin)),

    // ── Chao1 richness per source over trigram species:
    //    Ŝ = S_obs + N₁(N₁−1)/(2(N₂+1)) (bias-corrected form — defined
    //    even when N₂=0). The gap Ŝ − S_obs estimates how many unseen
    //    trigram types more data from this source would reveal — the
    //    "is this source mined out?" curation signal. One corpus scan;
    //    everything after the species-count shuffle is per-source rows.
    QueryDef("q_chao1",
      (s, d) => Tables.documents(s, d)
        .withColumn("ws", split(col("text"), " "))
        .select(col("source"), explode(expr(
          """CASE WHEN size(ws) >= 3
            |  THEN transform(sequence(1, size(ws) - 2),
            |                 i -> concat_ws(' ', slice(ws, i, 3)))
            |  ELSE slice(ws, 1, 0) END""".stripMargin)).as("g"))
        .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("s_obs"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n2"))
        .withColumn("chao1_e6",
          expr("s_obs * 1000000 + n1 * (n1 - 1) * 1000000 div (2 * (n2 + 1))")),
      Some("""WITH g AS (SELECT source,
             |                  unnest(list_transform(range(1, len(ws) - 1),
             |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
             |                    AS g
             |           FROM (SELECT source, string_split(text, ' ') AS ws
             |                 FROM documents) t),
             |c AS (SELECT source, g, CAST(count(*) AS BIGINT) AS c
             |      FROM g GROUP BY 1, 2)
             |SELECT source, CAST(count(*) AS BIGINT) AS s_obs,
             |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             |       CAST(count(*) AS BIGINT) * 1000000
             |         + CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |           * (CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) - 1)
             |           * 1000000
             |           // (2 * (CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
             |                AS BIGINT) + 1)) AS chao1_e6
             |FROM c GROUP BY source""".stripMargin)),

    // ── Chunked type–token ratio per language: split each document
    //    into tumbling 50-token chunks, keep only FULL chunks (the
    //    length control raw TTR lacks), TTR = distinct/50 per chunk,
    //    then the per-language mean in e6. One token explode feeds one
    //    (doc, chunk) rollup; the language mean rides a tiny axis.
    QueryDef("q_chunk_ttr",
      (s, d) => {
        val chunks = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
          .filter(col("word") =!= "")
          // re-number non-empty tokens? No: position is the RAW split
          // index in both engines (empty tokens excluded AFTER), so the
          // chunk boundaries agree as long as the convention matches.
          .withColumn("chunk", expr("pos div 50"))
          .groupBy(col("doc_id"), col("lang"), col("chunk"))
          .agg(countDistinct(col("word")).as("d_words"),
            count(lit(1)).as("t_words"))
          .filter(col("t_words") === 50L)
        chunks.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(expr("d_words * 20000")).as("ttr_sum_e6"))
          .selectExpr("lang", "CAST(n_chunks AS BIGINT) AS n_chunks",
            "ttr_sum_e6 div n_chunks AS mean_ttr_e6")
      },
      Some("""WITH tok AS (SELECT doc_id, lang,
             |                    generate_subscripts(string_split(text, ' '),
             |                                        1) - 1 AS pos,
             |                    unnest(string_split(text, ' ')) AS word
             |             FROM documents),
             |ch AS (SELECT doc_id, lang, pos // 50 AS chunk,
             |              CAST(count(DISTINCT word) AS BIGINT) AS d_words,
             |              CAST(count(*) AS BIGINT) AS t_words
             |       FROM tok WHERE word <> ''
             |       GROUP BY 1, 2, 3
             |       HAVING count(*) = 50)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_chunks,
             |       CAST(sum(d_words * 20000) AS BIGINT) // count(*)
             |         AS mean_ttr_e6
             |FROM ch GROUP BY 1""".stripMargin)),

    // ── Burrows' delta between corpus sources: per-source relative
    //    frequencies (e6) of the 30 globally-commonest words,
    //    z-scored across the 20 sources with exact long moments
    //    (z_e6 truncated toward zero — sign-factored, engine-
    //    identical), then delta(s,s') = mean |z − z'| over the word
    //    axis — an all-integer sum, so no cross-row double
    //    accumulation. Top-10 most-distant source pairs emitted.
    QueryDef("q_burrows_delta",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .localCheckpoint(false) // top-word pick + per-source counts
        val top = words.groupBy(col("w")).agg(count(lit(1)).as("cw"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("cw").desc, col("w"))))
          .filter(col("rk") <= 30).select(col("w"))
          .localCheckpoint(false)
        val totals = words.groupBy(col("source"))
          .agg(count(lit(1)).as("tot"))
        val cnt = words.join(broadcast(top), "w")
          .groupBy(col("source"), col("w")).agg(count(lit(1)).as("csw"))
        // zero-filled source × word grid of e6 relative frequencies
        val grid = totals.crossJoin(broadcast(top))
          .join(cnt, Seq("source", "w"), "left")
          .select(col("source"), col("w"),
            expr("coalesce(csw, 0L) * 1000000 div tot").as("f"))
          .localCheckpoint(false)
        val mom = grid.groupBy(col("w"))
          .agg(count(lit(1)).as("j"), sum(col("f")).as("sf"),
            sum(expr("f * f")).as("sff"))
        val z = grid.join(broadcast(mom), "w")
          .withColumn("num", expr("(j * f - sf) * 1000000"))
          .withColumn("den", expr(
            """sqrt(CAST(j AS DOUBLE)
              |* (CAST(j AS DOUBLE) * CAST(sff AS DOUBLE)
              |   - CAST(sf AS DOUBLE) * CAST(sf AS DOUBLE)))"""
              .stripMargin))
          .withColumn("z_e6", expr(
            """CASE WHEN den = CAST('0.0' AS DOUBLE) THEN 0
              |WHEN num >= 0
              |  THEN CAST(floor(CAST(num AS DOUBLE) / den) AS BIGINT)
              |ELSE -CAST(floor(CAST(-num AS DOUBLE) / den) AS BIGINT)
              |END""".stripMargin))
          .select(col("source"), col("w"), col("z_e6"))
          .localCheckpoint(false) // both sides of the source-pair grid
        z.as("a").join(broadcast(z.as("b")),
            col("a.w") === col("b.w") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src1"), col("b.source").as("src2"))
          .agg(count(lit(1)).as("n_words"),
            sum(abs(col("a.z_e6") - col("b.z_e6"))).as("sd"))
          .withColumn("delta_e6", expr("sd div n_words"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("delta_e6").desc, col("src1"), col("src2"))))
          .filter(col("rk") <= 10)
          .selectExpr("src1", "src2", "CAST(n_words AS BIGINT) AS n_words",
            "delta_e6", "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH words AS (SELECT source,
             |                      unnest(string_split(text, ' ')) AS w
             |               FROM documents),
             |wf AS (SELECT source, w FROM words WHERE w <> ''),
             |top AS (SELECT w FROM (
             |          SELECT w, row_number() OVER (ORDER BY count(*) DESC,
             |                                       w) AS rk
             |          FROM wf GROUP BY w) WHERE rk <= 30),
             |totals AS (SELECT source, CAST(count(*) AS BIGINT) AS tot
             |           FROM wf GROUP BY 1),
             |cnt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS csw
             |        FROM wf JOIN top USING (w) GROUP BY 1, 2),
             |grid AS (SELECT t.source, p.w,
             |                coalesce(c.csw, 0) * 1000000 // t.tot AS f
             |         FROM totals t CROSS JOIN top p
             |         LEFT JOIN cnt c ON c.source = t.source AND c.w = p.w),
             |mom AS (SELECT w, CAST(count(*) AS BIGINT) AS j,
             |               CAST(sum(f) AS BIGINT) AS sf,
             |               CAST(sum(f * f) AS BIGINT) AS sff
             |        FROM grid GROUP BY 1),
             |z AS (SELECT g.source, g.w,
             |             CASE WHEN sqrt(CAST(j AS DOUBLE)
             |                    * (CAST(j AS DOUBLE) * CAST(sff AS DOUBLE)
             |                       - CAST(sf AS DOUBLE)
             |                         * CAST(sf AS DOUBLE)))
             |                    = CAST('0.0' AS DOUBLE) THEN 0
             |             WHEN (j * g.f - sf) * 1000000 >= 0
             |               THEN CAST(floor(CAST((j * g.f - sf) * 1000000
             |                      AS DOUBLE)
             |                    / sqrt(CAST(j AS DOUBLE)
             |                      * (CAST(j AS DOUBLE)
             |                         * CAST(sff AS DOUBLE)
             |                         - CAST(sf AS DOUBLE)
             |                           * CAST(sf AS DOUBLE))))
             |                    AS BIGINT)
             |             ELSE -CAST(floor(CAST(-((j * g.f - sf) * 1000000)
             |                      AS DOUBLE)
             |                    / sqrt(CAST(j AS DOUBLE)
             |                      * (CAST(j AS DOUBLE)
             |                         * CAST(sff AS DOUBLE)
             |                         - CAST(sf AS DOUBLE)
             |                           * CAST(sf AS DOUBLE))))
             |                    AS BIGINT)
             |             END AS z_e6
             |      FROM grid g JOIN mom USING (w)),
             |pairs AS (SELECT a.source AS src1, b.source AS src2,
             |                 CAST(count(*) AS BIGINT) AS n_words,
             |                 CAST(sum(abs(a.z_e6 - b.z_e6)) AS BIGINT)
             |                   AS sd
             |          FROM z a JOIN z b ON a.w = b.w
             |            AND a.source < b.source
             |          GROUP BY 1, 2),
             |r AS (SELECT src1, src2, n_words, sd // n_words AS delta_e6,
             |             CAST(row_number() OVER (ORDER BY sd // n_words
             |               DESC, src1, src2) AS BIGINT) AS rk
             |      FROM pairs)
             |SELECT src1, src2, n_words, delta_e6, rk
             |FROM r WHERE rk <= 10""".stripMargin)),

    /* Corpus-linguistics screens over the documents
     * table — deviation-of-proportions word dispersion (Gries' DP: is a
     * word evenly spread across sources or clumped — the corpus-balance
     * check beside q_kl_vocab's divergence), Church–Gale word burstiness
     * (re-occurrence within documents vs document frequency — the
     * adaptation signal a dedup/quality pipeline reads before trusting
     * term counts), and pairwise source-vocabulary Jaccard (which sources
     * share a lexicon — the duplicate-source candidate list). All counts
     * are integers; every share is an e6 div. */

    // ── Word dispersion (DP) for the 15 most frequent words:
    //    DP = Σ_s |share_of_word_in_s − share_of_corpus_in_s| / 2, e6.
    //    One (source, word) rollup; the word totals broadcast back onto
    //    the bounded source×top-word grid.
    QueryDef("q_word_dispersion",
      (s, d) => {
        val sw = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // word totals + source totals + grid
        val wt = sw.groupBy(col("w")).agg(sum(col("c")).as("cw"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("cw").desc, col("w"))))
          .filter(col("rk") <= 15)
        val st = sw.groupBy(col("source")).agg(sum(col("c")).as("cs"))
        val tot = st.agg(sum(col("cs")).as("n"))
        sw.join(broadcast(wt), "w")
          .join(broadcast(st), "source")
          .crossJoin(broadcast(tot))
          // |c/cw − cs/n| e6, sign-factored cross-multiply (Spark div
          // truncates / DuckDB // floors — they agree only on ≥0).
          .select(col("w"), col("cw"), col("rk"), expr(
            """CASE WHEN c * n >= cs * cw
              |  THEN (c * n - cs * cw) * 1000000 div (cw * n)
              |ELSE (cs * cw - c * n) * 1000000 div (cw * n)
              |END""".stripMargin).as("dev_e6"))
          .groupBy(col("w"), col("cw"), col("rk"))
          .agg(expr("sum(dev_e6) div 2").as("dp_e6"))
          .selectExpr("w", "CAST(cw AS BIGINT) AS cw", "dp_e6",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH sw AS (
             |  SELECT source, wd AS w, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT source, unnest(string_split(text, ' ')) AS wd
             |        FROM documents)
             |  WHERE wd <> '' GROUP BY 1, 2),
             |wt AS (SELECT w, cw, rk FROM (
             |         SELECT w, CAST(sum(c) AS BIGINT) AS cw,
             |                CAST(row_number() OVER (ORDER BY sum(c) DESC,
             |                  w) AS BIGINT) AS rk
             |         FROM sw GROUP BY 1)
             |       WHERE rk <= 15),
             |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS cs
             |       FROM sw GROUP BY 1),
             |tot AS (SELECT CAST(sum(cs) AS BIGINT) AS n FROM st),
             |dev AS (SELECT wt.w, wt.cw, wt.rk,
             |               CASE WHEN sw.c * tot.n >= st.cs * wt.cw
             |                 THEN (sw.c * tot.n - st.cs * wt.cw)
             |                      * 1000000 // (wt.cw * tot.n)
             |                 ELSE (st.cs * wt.cw - sw.c * tot.n)
             |                      * 1000000 // (wt.cw * tot.n)
             |               END AS dev_e6
             |        FROM sw JOIN wt ON sw.w = wt.w
             |        JOIN st ON sw.source = st.source
             |        CROSS JOIN tot)
             |SELECT w, cw, CAST(sum(dev_e6) // 2 AS BIGINT) AS dp_e6, rk
             |FROM dev GROUP BY w, cw, rk""".stripMargin)),

    // ── Word burstiness for the top 20 words by document frequency:
    //    df1 = docs containing the word, df2 = docs containing it ≥2×,
    //    burst = df2/df1 e6 (Church–Gale: how much more likely is a
    //    second occurrence once one happened). ONE (doc, word) rollup.
    QueryDef("q_word_burstiness",
      (s, d) => {
        val dw = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("doc_id"), col("w"))
          .agg(count(lit(1)).as("c"))
        dw.groupBy(col("w"))
          .agg(count(lit(1)).as("df1"),
            sum(when(col("c") >= 2, 1L).otherwise(0L)).as("df2"),
            sum(col("c")).as("tf"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("df1").desc, col("w"))))
          .filter(col("rk") <= 20)
          .selectExpr("w", "CAST(df1 AS BIGINT) AS df1",
            "CAST(df2 AS BIGINT) AS df2", "CAST(tf AS BIGINT) AS tf",
            "df2 * 1000000 div df1 AS burst_e6",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH dw AS (
             |  SELECT doc_id, wd AS w, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |        FROM documents)
             |  WHERE wd <> '' GROUP BY 1, 2),
             |agg AS (SELECT w, CAST(count(*) AS BIGINT) AS df1,
             |               CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0
             |                 END) AS BIGINT) AS df2,
             |               CAST(sum(c) AS BIGINT) AS tf
             |        FROM dw GROUP BY 1)
             |SELECT w, df1, df2, tf, df2 * 1000000 // df1 AS burst_e6, rk
             |FROM (SELECT *, CAST(row_number() OVER (ORDER BY df1 DESC,
             |        w) AS BIGINT) AS rk
             |      FROM agg)
             |WHERE rk <= 20""".stripMargin)),

    // ── Source-vocabulary Jaccard: distinct words per source, pairwise
    //    |A∩B| via a word-keyed self-join (words are the join key — no
    //    all-pairs doc scan), |A∪B| = |A|+|B|−|A∩B|; top 10 pairs. The
    //    source axis is bounded (~20), so the pair frame is tiny.
    QueryDef("q_source_vocab_jaccard",
      (s, d) => {
        val sv = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .select(col("source"), col("w")).distinct()
          .localCheckpoint(false) // sizes + the intersection self-join
        val sz = sv.groupBy(col("source")).agg(count(lit(1)).as("nv"))
        val inter = sv.as("a").join(sv.as("b"),
            col("a.w") === col("b.w") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
          .agg(count(lit(1)).as("ninter"))
        inter
          .join(broadcast(sz.select(col("source").as("sa"),
            col("nv").as("na"))), "sa")
          .join(broadcast(sz.select(col("source").as("sb"),
            col("nv").as("nb"))), "sb")
          .withColumn("jaccard_e6",
            expr("ninter * 1000000 div (na + nb - ninter)"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("jaccard_e6").desc, col("sa"), col("sb"))))
          .filter(col("rk") <= 10)
          .selectExpr("sa", "sb", "CAST(ninter AS BIGINT) AS ninter",
            "CAST(na AS BIGINT) AS na", "CAST(nb AS BIGINT) AS nb",
            "jaccard_e6", "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH sv AS (
             |  SELECT DISTINCT source, wd AS w
             |  FROM (SELECT source, unnest(string_split(text, ' ')) AS wd
             |        FROM documents)
             |  WHERE wd <> ''),
             |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv
             |       FROM sv GROUP BY 1),
             |inter AS (SELECT a.source AS sa, b.source AS sb,
             |                 CAST(count(*) AS BIGINT) AS ninter
             |          FROM sv a JOIN sv b ON a.w = b.w
             |            AND a.source < b.source
             |          GROUP BY 1, 2),
             |j AS (SELECT sa, sb, ninter, za.nv AS na, zb.nv AS nb,
             |             ninter * 1000000 // (za.nv + zb.nv - ninter)
             |               AS jaccard_e6
             |      FROM inter
             |      JOIN sz za ON inter.sa = za.source
             |      JOIN sz zb ON inter.sb = zb.source)
             |SELECT sa, sb, ninter, na, nb, jaccard_e6, rk
             |FROM (SELECT *, CAST(row_number() OVER (ORDER BY jaccard_e6
             |        DESC, sa, sb) AS BIGINT) AS rk
             |      FROM j)
             |WHERE rk <= 10""".stripMargin)),

    // ── Char entropy per lang: H = log2(N) − Σc·log2(c)/N over the
    //    single-character histogram (spaces excluded).
    QueryDef("q_char_entropy",
      (s, d) => {
        val ch = Tables.documents(s, d)
          .select(col("lang"),
            explode(split(col("text"), "")).as("ch"))
          .filter(col("ch") =!= "" && col("ch") =!= " ")
          .groupBy(col("lang"), col("ch"))
          .agg(count(lit(1)).as("c"))
        ch.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_chars"), sum(col("c")).as("n"),
            sum(col("c") * Bm25.log2E6(col("c"))).as("scl"))
          .select(col("lang"),
            col("n_chars").cast("long").as("n_chars"),
            col("n").cast("long").as("n"),
            (Bm25.log2E6(col("n")) - expr("scl div n")).as("entropy_e6"))
      },
      Some(s"""WITH ch AS (
             |  SELECT lang, c AS ch, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT lang, unnest(string_split(text, '')) AS c
             |        FROM documents)
             |  WHERE c <> '' AND c <> ' '
             |  GROUP BY 1, 2),
             |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_chars,
             |             CAST(sum(c) AS BIGINT) AS n,
             |             CAST(sum(c * ${Bm25.log2E6Sql("c")})
             |               AS BIGINT) AS scl
             |      FROM ch GROUP BY 1)
             |SELECT lang, n_chars, n,
             |       CAST(${Bm25.log2E6Sql("n")} - scl // n AS BIGINT)
             |         AS entropy_e6
             |FROM g""".stripMargin)),

    // ── Hapax ratio per source: word types seen once vs total types —
    //    high hapax share flags thin or noisy sources before they skew
    //    a vocabulary build. One (source, word) rollup.
    QueryDef("q_hapax_ratio",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("tf"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_types"),
            sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n_hapax"),
            sum(col("tf")).as("n_tokens"))
          .selectExpr("source", "CAST(n_types AS BIGINT) AS n_types",
            "CAST(n_hapax AS BIGINT) AS n_hapax",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "n_hapax * 1000000 div n_types AS hapax_e6")
      },
      Some("""WITH tw AS (
             |  SELECT source, wd AS w, CAST(count(*) AS BIGINT) AS tf
             |  FROM (SELECT source, unnest(string_split(text, ' '))
             |          AS wd
             |        FROM documents)
             |  WHERE wd <> '' GROUP BY 1, 2)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
             |       CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS n_hapax,
             |       CAST(sum(tf) AS BIGINT) AS n_tokens,
             |       CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)
             |         AS BIGINT) * 1000000 // count(*) AS hapax_e6
             |FROM tw GROUP BY 1""".stripMargin)),

    /* Yule's K (`q_yule_k`): frequency-spectrum lexical richness per
     * source, K = 10⁴·(Σm²V(m) − N)/N² — exact integers end to end. */
    // ── Yule's K per source: 10⁴·(Σm²V(m) − N)/N², e6.
    QueryDef("q_yule_k",
      (s, d) => sourceWordCounts(s, d)
        .groupBy(col("source"))
        .agg(sum(col("m")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(expr(s"CAST(m AS $dec) * m")).as("s2"))
        .selectExpr("source", "n_tokens", "vocab",
          s"CAST((s2 - n_tokens) * 10000000000" +
            s" div (CAST(n_tokens AS $dec) * n_tokens) AS BIGINT)" +
            " AS yule_k_e6"),
      Some(s"""WITH $sourceWordCountsSql,
             |agg AS (SELECT source, CAST(sum(m) AS BIGINT) AS n_tokens,
             |          CAST(count(*) AS BIGINT) AS vocab,
             |          sum(CAST(m AS HUGEINT) * m) AS s2
             |        FROM wc GROUP BY 1)
             |SELECT source, n_tokens, vocab,
             |       CAST((s2 - n_tokens) * 10000000000
             |         // (CAST(n_tokens AS HUGEINT) * n_tokens) AS BIGINT)
             |         AS yule_k_e6
             |FROM agg""".stripMargin)),

    /* Herdan/Guiraud (`q_herdan_guiraud`): vocabulary-growth exponents
     * per source — C = log V/log N (base cancels → exact e6 ratio of
     * the shared integer log₂) and R = V/√N (one portable double). */
    // ── Herdan's C + Guiraud's R per source.
    QueryDef("q_herdan_guiraud",
      (s, d) => sourceWordCounts(s, d)
        .groupBy(col("source"))
        .agg(sum(col("m")).as("n_tokens"), count(lit(1)).as("vocab"))
        .withColumn("lv", Bm25.log2E6(col("vocab")))
        .withColumn("ln", Bm25.log2E6(col("n_tokens")))
        .selectExpr("source", "n_tokens", "vocab",
          "CASE WHEN n_tokens < 2 THEN NULL" +
            " ELSE lv * 1000000 div ln END AS herdan_c_e6",
          "round(CAST(vocab AS DOUBLE)" +
            " / sqrt(CAST(n_tokens AS DOUBLE)), 6) AS guiraud_r"),
      Some {
        val lv = Bm25.log2E6Sql("vocab")
        val ln = Bm25.log2E6Sql("n_tokens")
        s"""WITH $sourceWordCountsSql,
           |agg AS (SELECT source, CAST(sum(m) AS BIGINT) AS n_tokens,
           |          CAST(count(*) AS BIGINT) AS vocab
           |        FROM wc GROUP BY 1)
           |SELECT source, n_tokens, vocab,
           |       CASE WHEN n_tokens < 2 THEN NULL
           |       ELSE CAST(CAST($lv AS BIGINT) * 1000000 // $ln
           |         AS BIGINT) END AS herdan_c_e6,
           |       round(CAST(vocab AS DOUBLE)
           |         / sqrt(CAST(n_tokens AS DOUBLE)), 6) AS guiraud_r
           |FROM agg""".stripMargin
      }),

    /* Jackknife richness (`q_jackknife_richness`): first- and
     * second-order jackknife estimates of total part "species" from
     * singleton/doubleton frequencies — S₁ = D + f₁(n−1)/n,
     * S₂ = D + f₁(2n−3)/n − f₂(n−2)²/(n(n−1)) — the bias-corrected
     * cousins of q_chao1, exact integer e6 end to end. */
    // ── First/second-order jackknife part-species richness.
    QueryDef("q_jackknife_richness",
      (s, d) => {
        val freq = Tables.lineitem(s, d)
          .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
        freq.agg(count(lit(1)).as("dd"), sum(col("c")).as("n"),
            sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
            sum(when(col("c") === 2L, 1L).otherwise(0L)).as("f2"))
          .selectExpr("dd", "n", "f1", "f2",
            """CASE WHEN n = 0 THEN NULL
              |ELSE dd * 1000000 + f1 * (n - 1) * 1000000 div n
              |END AS jack1_e6""".stripMargin,
            s"""CASE WHEN n < 2 THEN NULL
               |ELSE dd * 1000000 + f1 * (2 * n - 3) * 1000000 div n
               |  - CAST(CAST(f2 AS $dec) * (n - 2) * (n - 2) * 1000000
               |    div (CAST(n AS $dec) * (n - 1)) AS BIGINT)
               |END AS jack2_e6""".stripMargin)
      },
      Some("""WITH freq AS (
             |  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem GROUP BY 1),
             |ag AS (SELECT CAST(count(*) AS BIGINT) AS dd,
             |         CAST(sum(c) AS BIGINT) AS n,
             |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS f1,
             |         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
             |           AS BIGINT) AS f2
             |       FROM freq)
             |SELECT dd, n, f1, f2,
             |       CASE WHEN n = 0 THEN NULL
             |       ELSE dd * 1000000 + f1 * (n - 1) * 1000000 // n
             |       END AS jack1_e6,
             |       CASE WHEN n < 2 THEN NULL
             |       ELSE dd * 1000000 + f1 * (2 * n - 3) * 1000000 // n
             |         - CAST(CAST(f2 AS HUGEINT) * (n - 2) * (n - 2)
             |             * 1000000
             |           // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT)
             |       END AS jack2_e6
             |FROM ag""".stripMargin)),

    /* Word-length profile (`q_word_len_profile`): per language — token
     * count, mean word length (e6), share of long (≥8 char) words, and
     * the modal length with a smallest-length tie-break. All exact
     * integers; mode via max-count argmax join, not a window. */
    // ── Word-length profile per language.
    QueryDef("q_word_len_profile",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("lang"),
            explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) >= 1)
          .select(col("lang"), length(col("w")).cast("long").as("len"))
        val byLen = words.groupBy(col("lang"), col("len"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // langs × lengths grid
        val prof = byLen.groupBy(col("lang"))
          .agg(sum(col("c")).as("n"),
            sum(col("len") * col("c")).as("sl"),
            sum(when(col("len") >= 8L, col("c")).otherwise(0L))
              .as("long_c"),
            max(col("c")).as("maxc"))
        prof.join(byLen, Seq("lang"))
          .where(col("c") === col("maxc"))
          .groupBy(col("lang"), col("n"), col("sl"), col("long_c"))
          .agg(min(col("len")).as("modal_len"))
          .selectExpr("lang", "n",
            "sl * 1000000 div n AS mean_len_e6",
            "long_c * 1000000 div n AS long_share_e6",
            "modal_len")
      },
      Some("""WITH words AS (
             |  SELECT lang, unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |w2 AS (SELECT lang, CAST(length(w) AS BIGINT) AS len
             |       FROM words WHERE length(w) >= 1),
             |bylen AS (SELECT lang, len, CAST(count(*) AS BIGINT) AS c
             |          FROM w2 GROUP BY 1, 2),
             |prof AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n,
             |           CAST(sum(len * c) AS BIGINT) AS sl,
             |           CAST(sum(CASE WHEN len >= 8 THEN c ELSE 0 END)
             |             AS BIGINT) AS long_c,
             |           CAST(max(c) AS BIGINT) AS maxc
             |         FROM bylen GROUP BY 1)
             |SELECT p.lang, p.n,
             |       p.sl * 1000000 // p.n AS mean_len_e6,
             |       p.long_c * 1000000 // p.n AS long_share_e6,
             |       min(b.len) AS modal_len
             |FROM prof p JOIN bylen b
             |  ON b.lang = p.lang AND b.c = p.maxc
             |GROUP BY 1, 2, 3, 4""".stripMargin))
  )
}
