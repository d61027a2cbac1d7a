package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Graph, Multimodal, Sketches, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis and multimodal plumbing over `documents`: tokens, language
  * id, fingerprints, keywords, n-gram overlap metrics, readability, and
  * tokenizer inputs. */
object TextQueries extends QueryCatalog {

  import Fixtures._

  private val en = TextAnalysis.stopwords.toMap.apply("en")
  private val es = TextAnalysis.stopwords.toMap.apply("es")
  private val de = TextAnalysis.stopwords.toMap.apply("de")

  private val hitsSql =
    s"""SELECT doc_id, lang, text,
       |       CAST(len(list_filter(ws, w -> list_contains(${inList(en)}, w))) AS BIGINT) AS hits_en,
       |       CAST(len(list_filter(ws, w -> list_contains(${inList(es)}, w))) AS BIGINT) AS hits_es,
       |       CAST(len(list_filter(ws, w -> list_contains(${inList(de)}, w))) AS BIGINT) AS hits_de,
       |       CAST(len(ws) AS BIGINT) AS n_words
       |FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS ws FROM documents) t""".stripMargin

  private val predSql =
    """CASE WHEN hits_en + hits_es + hits_de = 0 THEN 'unknown'
      |     WHEN hits_en >= hits_es AND hits_en >= hits_de THEN 'en'
      |     WHEN hits_es >= hits_de THEN 'es'
      |     ELSE 'de' END""".stripMargin

  /** Unrolled weighted-PageRank CTE chain (mirrors
    * [[Graph.pageRankWeighted]]'s truncating-integer round) appended
    * after `nodes(id)` / `edges(src, dst, w)` CTEs. */
  private def prChainSql(iters: Int): String = {
    val head =
      """sw AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM edges GROUP BY 1),
        |ed AS (SELECT e.src, e.dst, e.w, sw.sw FROM edges e JOIN sw USING (src)),
        |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
        .stripMargin
    val its = (1 to iters).map { k =>
      s"""p$k AS (SELECT n.id,
         |  CAST(150000 + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN (SELECT ed.dst, sum((p.pr * ed.w) // ed.sw) AS s
         |                          FROM ed JOIN p${k - 1} p ON p.id = ed.src
         |                          GROUP BY ed.dst) m ON m.dst = n.id)"""
        .stripMargin
    }
    (head +: its).mkString(",\n")
  }

  /** (pair, role, tok) token-array frame over deterministic doc pairs:
    * hypothesis = even doc_id, reference = the odd doc_id right after. */
  private def pairedDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(expr("doc_id div 2").as("pair"),
        (col("doc_id") % 2).as("role"),
        split(col("text"), " ").as("tok"))

  private val bigramsExpr =
    "transform(sequence(1, size(tok) - 1), " +
      "i -> concat(element_at(tok, i), ' ', element_at(tok, i + 1)))"

  /** DuckDB twin of [[pairedDocs]] + n-gram counts. */
  private val pairSqlHead =
    """pd AS (SELECT doc_id // 2 AS pair, doc_id % 2 AS role,
      |              string_split(text, ' ') AS tok
      |       FROM documents),
      |uni AS (SELECT pair, role, unnest(tok) AS w FROM pd),
      |ucnt AS (SELECT pair, role, w, CAST(count(*) AS BIGINT) AS c
      |         FROM uni GROUP BY 1, 2, 3),
      |big AS (SELECT pair, role,
      |               unnest(list_transform(range(1, len(tok)),
      |                 i -> tok[i] || ' ' || tok[i + 1])) AS w
      |        FROM pd),
      |bcnt AS (SELECT pair, role, w, CAST(count(*) AS BIGINT) AS c
      |         FROM big GROUP BY 1, 2, 3)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    /* Text-analysis and multimodal-plumbing queries over `documents`. */

    // ── Heuristic language ID, reported as a confusion matrix against the
    //    corpus labels.
    QueryDef("q_text_langid",
      (s, d) => TextAnalysis.langId(Tables.documents(s, d))
        .groupBy(col("lang").as("actual_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("cnt")),
      Some(s"""SELECT lang AS actual_lang, $predSql AS pred_lang, count(*) AS cnt
              |FROM ($hitsSql) h GROUP BY 1, 2""".stripMargin)),

    // ── Quality features + weighted composite score.
    QueryDef("q_text_quality",
      (s, d) => TextAnalysis.quality(Tables.documents(s, d))
        .select(col("doc_id"), col("n_words"), col("mean_wlen"),
          col("stop_ratio"), col("alpha_ratio"), col("quality")),
      Some(s"""SELECT doc_id, n_words, mean_wlen, stop_ratio, alpha_ratio,
              |       round((alpha_ratio * 4 + stop_ratio * 3 +
              |              least(CAST('1.0' AS DOUBLE),
              |                    CAST(n_words AS DOUBLE) / CAST('100.0' AS DOUBLE)) * 3) / 10, 4) AS quality
              |FROM (SELECT doc_id, n_words,
              |             round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(n_words AS DOUBLE), 4) AS mean_wlen,
              |             round(CAST(hits_en AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS stop_ratio,
              |             round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
              |                   / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio
              |      FROM ($hitsSql) h) q""".stripMargin)),

    // ── Token counting: whitespace vs BPE-ish regex tokens.
    QueryDef("q_text_tokens",
      (s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))
        .select(col("doc_id"), col("ws_tokens"), col("re_tokens"), col("n_chars")),
      Some("""SELECT doc_id,
             |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
             |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^ ]')) AS BIGINT) AS re_tokens,
             |       n_chars
             |FROM documents""".stripMargin)),

    // ── 48-bit normalized-content fingerprint.
    QueryDef("q_text_fingerprint",
      (s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))
        .select(col("doc_id"), col("fp48")),
      Some(s"""SELECT doc_id,
              |       ${PortableSql.hexToLong(
                "md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))")} AS fp48
              |FROM documents""".stripMargin)),

    // ── TF-IDF top-3 terms per doc (rational idf = N/df — no ln(), which
    //    is not FP-portable across engines; see TextAnalysis.tfidfTopK).
    QueryDef("q_tfidf_topk",
      (s, d) => TextAnalysis.tfidfTopK(
        Tables.documents(s, d).select(col("doc_id"), col("text")), 3),
      Some("""WITH tf AS (SELECT doc_id, wd AS word, count(*) AS tf
             |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |                  FROM documents) u
             |            WHERE wd <> '' GROUP BY 1, 2),
             |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |sc AS (SELECT tf.doc_id, tf.word, tf.tf, df.df,
             |              round(CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE), 6) AS score
             |       FROM tf JOIN df USING (word) CROSS JOIN n),
             |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |                                   ORDER BY score DESC, word ASC) AS rk
             |      FROM sc)
             |SELECT doc_id, rk, word, tf, df, score FROM r WHERE rk <= 3""".stripMargin)),

    // ── Collocations: top word pairs by document-level co-occurrence lift
    //    (log-free PMI — same ranking, FP-portable).
    QueryDef("q_cooc_lift",
      (s, d) => TextAnalysis.coocLift(
        Tables.documents(s, d).select(col("doc_id"), col("text")), 20),
      Some("""WITH w AS (SELECT DISTINCT doc_id, wd AS word
             |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |                 FROM documents) u
             |           WHERE wd <> ''),
             |df AS (SELECT word, count(*) AS df FROM w GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |cooc AS (SELECT a.word AS word_a, b.word AS word_b, count(*) AS cooc
             |         FROM w a JOIN w b ON a.doc_id = b.doc_id AND a.word < b.word
             |         GROUP BY 1, 2)
             |SELECT c.word_a, c.word_b, c.cooc,
             |       round(CAST(c.cooc * n.n AS DOUBLE) / CAST(da.df * db.df AS DOUBLE), 6) AS lift
             |FROM cooc c
             |JOIN df da ON da.word = c.word_a
             |JOIN df db ON db.word = c.word_b
             |CROSS JOIN n
             |ORDER BY lift DESC, word_a ASC, word_b ASC LIMIT 20""".stripMargin)),

    // ── Inverted index: word → df + head of the sorted posting list (the
    //    per-word payload cap real indexes use — see TextAnalysis).
    QueryDef("q_inverted_index",
      (s, d) => TextAnalysis.invertedIndex(
        Tables.documents(s, d).select(col("doc_id"), col("text")), 2),
      Some("""WITH w AS (SELECT DISTINCT doc_id, wd AS word
             |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |                 FROM documents) u
             |           WHERE wd <> ''),
             |g AS (SELECT word, count(*) AS df,
             |             array_to_string(list_transform(
             |               (list(doc_id ORDER BY doc_id))[1:10],
             |               x -> CAST(x AS VARCHAR)), ',') AS postings_head
             |      FROM w GROUP BY word)
             |SELECT word, df, postings_head FROM g WHERE df BETWEEN 2 AND 1000000""".stripMargin)),

    // ── Intra-doc repetition ratio (Gopher-style quality rule), with
    //    deterministic repetition injected into every 9th doc.
    QueryDef("q_text_repetition",
      (s, d) => TextAnalysis.repetition(
        Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 9 === 0,
            concat(col("text"), lit(" "), col("text"))).otherwise(col("text")).as("text"))),
      Some("""WITH aug AS (SELECT doc_id,
             |              CASE WHEN doc_id % 9 = 0 THEN concat(text, ' ', text)
             |                   ELSE text END AS text
             |             FROM documents),
             |sh AS (SELECT doc_id,
             |              unnest(list_transform(range(1, len(ws) - 1),
             |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
             |       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM aug) w
             |       WHERE len(ws) >= 3),
             |g AS (SELECT doc_id, shingle, count(*) AS c FROM sh GROUP BY 1, 2),
             |r AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total_grams,
             |             count(*) AS distinct_grams
             |      FROM g GROUP BY doc_id)
             |SELECT doc_id, total_grams, distinct_grams,
             |       round(CAST('1.0' AS DOUBLE)
             |             - CAST(distinct_grams AS DOUBLE) / CAST(total_grams AS DOUBLE), 6) AS rep_ratio
             |FROM r""".stripMargin)),

    // ── PII redaction: scrub injected phone/email patterns, report match
    //    counts + redacted text (patterns restricted to the Java-regex ∩
    //    RE2 common dialect so the oracle reproduces them).
    QueryDef("q_text_redact",
      (s, d) => TextAnalysis.redact(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" or u"), col("doc_id").cast("string"),
            lit("@example.com now")).as("text")))
        .select(col("doc_id"), col("n_phone"), col("n_email"), col("redacted")),
      Some(s"""WITH aug AS (SELECT doc_id,
              |              concat(text, ' call 555-',
              |                     lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
              |                     ' or u', CAST(doc_id AS VARCHAR),
              |                     '@example.com now') AS text
              |             FROM documents)
              |SELECT doc_id,
              |       CAST(len(regexp_extract_all(text, '${TextAnalysis.phonePattern}')) AS BIGINT) AS n_phone,
              |       CAST(len(regexp_extract_all(text, '${TextAnalysis.emailPattern}')) AS BIGINT) AS n_email,
              |       regexp_replace(regexp_replace(text, '${TextAnalysis.phonePattern}', '[PHONE]', 'g'),
              |                      '${TextAnalysis.emailPattern}', '[EMAIL]', 'g') AS redacted
              |FROM aug""".stripMargin)),

    // ── Partition-batched feature extraction over binary payloads: the
    //    mapPartitions seam a real embedding model runs in, with a
    //    deterministic byte-histogram featurizer so the path is
    //    oracle-checked end-to-end (UTF-8 payload bytes == char codes for
    //    this ASCII corpus, which the oracle exploits).
    QueryDef("q_multimodal_features",
      (s, d) => Multimodal.featurizePartitions(
        Multimodal.attachPayload(Tables.documents(s, d))),
      Some {
        val fs = (0 until 8).map(j =>
          s"CAST(len(list_filter(cs, x -> x % 8 = $j)) AS BIGINT) AS f$j").mkString(",\n       ")
        s"""SELECT doc_id,
           |       $fs
           |FROM (SELECT doc_id,
           |             list_transform(string_split_regex(text, ''), c -> ord(c)) AS cs
           |      FROM documents) t""".stripMargin
      }),

    // ── Multimodal metadata over opaque binary payloads (decode stubbed;
    //    plumbing real — see graft.ops.Multimodal).
    QueryDef("q_multimodal_meta",
      (s, d) => Multimodal.extractMeta(Multimodal.attachPayload(Tables.documents(s, d)))
        .select(col("doc_id"), col("meta.mime").as("mime"), col("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height")),
      Some("""SELECT doc_id, concat('bin/', source) AS mime,
             |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |       CAST(64 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 192 AS INTEGER) AS width,
             |       CAST(64 + (CAST(octet_length(encode(text)) AS BIGINT) * 13) % 192 AS INTEGER) AS height
             |FROM documents""".stripMargin)),

    // ── Multimodal frame sampling ([[graft.ops.Multimodal.sampleFrames]]):
    //    256-byte frames, every 2nd kept, sliced with a codegen'd binary
    //    substring — sample-before-decode. The oracle checks the size law
    //    arithmetically; the Spark side's frame_bytes comes from the REAL
    //    sliced bytes, so a slicing bug breaks the hash match.
    QueryDef("q_multimodal_frames",
      (s, d) => graft.ops.Multimodal.sampleFrames(
          graft.ops.Multimodal.attachPayload(
            Tables.documents(s, d).select(col("doc_id"), col("text"), col("source"))))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_bytes")),
      Some("""WITH p AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
             |           FROM documents),
             |f AS (SELECT doc_id, n_bytes, (n_bytes + 255) // 256 AS n_frames FROM p),
             |i AS (SELECT doc_id, n_bytes, unnest(range(0, n_frames)) AS frame_idx FROM f)
             |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             |       CAST(least(256, n_bytes - frame_idx * 256) AS BIGINT) AS frame_bytes
             |FROM i WHERE frame_idx % 2 = 0""".stripMargin)),

    // ── Multimodal resize stub ([[graft.ops.Multimodal.resizePartitions]]):
    //    partition-batched byte-stride downsample (a real codec drops into
    //    the same mapPartitions seam); the ⌈n/4⌉ size law is the oracle.
    QueryDef("q_multimodal_resize",
      (s, d) => graft.ops.Multimodal.resizePartitions(
          graft.ops.Multimodal.attachPayload(
            Tables.documents(s, d).select(col("doc_id"), col("text"), col("source"))))
        .select(col("doc_id"), col("n_bytes"), col("resized_bytes")),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |       CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS resized_bytes
             |FROM documents""".stripMargin)),

    // ── Distribution entropy profile via the fixed-point log₂ ([[Bm25]]'s
    //    log2E6 reused as a general portable-log primitive): per-class
    //    surprisal log₂(N/c) and its weighted entropy contribution, all
    //    BIGINT e6 units (v = 1024·N div c adds ≤ 1/1024 relative error —
    //    profiling-grade, and exactly reproducible).
    QueryDef("q_entropy_profile",
      (s, d) => {
        val ev = Tables.events(s, d)
        val n = ev.count()
        ev.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
          .withColumn("v", expr(s"(1024 * ${n}) div cnt"))
          .withColumn("surprisal_e6", Bm25.log2E6(col("v")) - lit(10000000L))
          .withColumn("entropy_contrib_e6", expr(s"(cnt * surprisal_e6) div ${n}"))
          .select(col("event_type"), col("cnt"), col("surprisal_e6"),
            col("entropy_contrib_e6"))
      },
      Some {
        val log2 = Bm25.log2E6Sql("v")
        s"""WITH n AS (SELECT count(*) AS n FROM events),
           |c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
           |v AS (SELECT event_type, cnt, (1024 * n.n) // cnt AS v FROM c, n),
           |sp AS (SELECT event_type, cnt, CAST($log2 - 10000000 AS BIGINT) AS surprisal_e6, v
           |       FROM v)
           |SELECT sp.event_type, sp.cnt, sp.surprisal_e6,
           |       CAST((sp.cnt * sp.surprisal_e6) // n.n AS BIGINT) AS entropy_contrib_e6
           |FROM sp, n""".stripMargin
      }),

    // ── Perplexity-style quality scoring: add-one-smoothed bigram LM
    //    trained on the corpus itself, per-doc average NLL in fixed-point
    //    log₂ e6 units — rare word transitions score high (= suspect).
    QueryDef("q_bigram_lm",
      (s, d) => TextAnalysis.bigramNll(
        Tables.documents(s, d).select(col("doc_id"), col("text"))),
      Some {
        val nll = Bm25.log2E6Sql("(c1.c1 + vv.v)") + " - " +
          Bm25.log2E6Sql("(c12.c12 + 1)")
        s"""WITH t AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
           |              i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
           |       FROM t WHERE len(ws) >= 2),
           |pair AS MATERIALIZED (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
           |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM pair GROUP BY 1, 2),
           |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM pair GROUP BY 1),
           |vv AS (SELECT CAST(count(DISTINCT wd) AS BIGINT) AS v
           |       FROM (SELECT unnest(ws) AS wd FROM t)),
           |sc AS (SELECT p.doc_id, $nll AS nll_e6
           |       FROM pair p JOIN c12 ON c12.w1 = p.w1 AND c12.w2 = p.w2
           |                   JOIN c1 ON c1.w1 = p.w1 CROSS JOIN vv)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |       CAST(sum(nll_e6) // count(*) AS BIGINT) AS avg_nll_e6
           |FROM sc GROUP BY doc_id""".stripMargin
      }),

    // ── Skip-gram PMI: top-20 word associations within a 2-token
    //    window, pair count ≥ 5 — exact e6 fixed-point log₂ PMI.
    QueryDef("q_skipgram_pmi",
      (s, d) => TextAnalysis.skipgramPmi(
        Tables.documents(s, d).select(col("doc_id"), col("text")), 2, 5L, 20),
      Some {
        val pmi = Bm25.log2E6Sql("cab") + " - " + Bm25.log2E6Sql("pp") +
          " - " + Bm25.log2E6Sql("ca") + " - " + Bm25.log2E6Sql("cb") +
          " + 2 * " + Bm25.log2E6Sql("tt")
        s"""WITH t AS MATERIALIZED (
           |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |pr0 AS (
           |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
           |           i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS bb
           |  FROM t WHERE len(ws) >= 2
           |  UNION ALL
           |  SELECT unnest(list_transform(generate_series(1, len(ws) - 2),
           |           i -> struct_pack(a := ws[i], b := ws[i + 2]))) AS bb
           |  FROM t WHERE len(ws) >= 3),
           |pr AS MATERIALIZED (
           |  SELECT least(bb.a, bb.b) AS w1, greatest(bb.a, bb.b) AS w2
           |  FROM pr0 WHERE bb.a <> '' AND bb.b <> ''),
           |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab
           |       FROM pr GROUP BY 1, 2),
           |uni AS (SELECT wd AS w, CAST(count(*) AS BIGINT) AS cw
           |        FROM (SELECT unnest(ws) AS wd FROM t) u
           |        WHERE wd <> '' GROUP BY 1),
           |j AS (SELECT p.w1, p.w2, p.cab, a.cw AS ca, b.cw AS cb,
           |        (SELECT CAST(sum(cab) AS BIGINT) FROM pc) AS pp,
           |        (SELECT CAST(sum(cw) AS BIGINT) FROM uni) AS tt
           |      FROM pc p JOIN uni a ON a.w = p.w1 JOIN uni b ON b.w = p.w2
           |      WHERE p.cab >= 5)
           |SELECT w1, w2, cab AS pairs, CAST($pmi AS BIGINT) AS pmi_e6
           |FROM j ORDER BY pmi_e6 DESC, w1, w2 LIMIT 20""".stripMargin
      }),

    // ── Fertility: Σ regex-subwords / Σ whitespace-words per language.
    QueryDef("q_tokenizer_fertility",
      (s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("ws_tokens"),
          sum(col("re_tokens")).as("re_tokens"))
        .withColumn("fertility_e6",
          expr("re_tokens * 1000000 div greatest(ws_tokens, 1)")),
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(len(string_split(text, ' '))) AS BIGINT)
             |         AS ws_tokens,
             |       CAST(sum(len(regexp_extract_all(text,
             |         '[a-z]+|[0-9]+|[^ ]'))) AS BIGINT) AS re_tokens,
             |       CAST(sum(len(regexp_extract_all(text,
             |         '[a-z]+|[0-9]+|[^ ]'))) AS BIGINT) * 1000000
             |         // greatest(CAST(sum(len(string_split(text, ' ')))
             |                    AS BIGINT), 1) AS fertility_e6
             |FROM documents GROUP BY 1""".stripMargin)),

    // ── RAKE keywords: stopword-delimited phrases (phrase id = running
    //    stopword count per doc), word score = degree/freq where degree
    //    sums the lengths of every phrase the word appears in. Top 15
    //    by score (deg·1e6 div freq — both non-negative, so truncate ==
    //    floor), tie-broken on freq then word. One explode feeds the
    //    phrase segmentation window; phrase lengths join back on the
    //    bounded (doc, phrase) key.
    QueryDef("q_rake_keywords",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
          .filter(col("w") =!= "")
          .withColumn("is_stop",
            when(col("w").isInCollection(stopwords), 1L).otherwise(0L))
          .withColumn("phrase", sum(col("is_stop")).over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
          .filter(col("is_stop") === 0L)
          .select(col("doc_id"), col("phrase"), col("w"))
          .localCheckpoint(false) // member side + the phrase-length rollup
        val plen = tok.groupBy(col("doc_id"), col("phrase"))
          .agg(count(lit(1)).as("plen"))
        tok.join(plen, Seq("doc_id", "phrase"))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("freq"), sum(col("plen")).as("degree"))
          .withColumn("score_e6", expr("degree * 1000000 div freq"))
          .withColumn("rk", row_number().over(Window.orderBy(
            col("score_e6").desc, col("freq").desc, col("w"))))
          .filter(col("rk") <= 15)
          .selectExpr("w AS word", "CAST(freq AS BIGINT) AS freq",
            "CAST(degree AS BIGINT) AS degree", "score_e6",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some(s"""WITH tok0 AS (SELECT doc_id,
             |                   generate_subscripts(string_split(text, ' '),
             |                                       1) AS pos,
             |                   unnest(string_split(text, ' ')) AS w
             |            FROM documents),
             |seg AS (SELECT doc_id, pos, w,
             |               CASE WHEN w IN ($stopSql) THEN 1 ELSE 0 END
             |                 AS is_stop,
             |               sum(CASE WHEN w IN ($stopSql) THEN 1 ELSE 0
             |                   END) OVER (PARTITION BY doc_id
             |                              ORDER BY pos) AS phrase
             |        FROM tok0 WHERE w <> ''),
             |tok AS (SELECT doc_id, phrase, w FROM seg WHERE is_stop = 0),
             |plen AS (SELECT doc_id, phrase,
             |                CAST(count(*) AS BIGINT) AS plen
             |         FROM tok GROUP BY 1, 2),
             |sc AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
             |              CAST(sum(plen) AS BIGINT) AS degree
             |       FROM tok JOIN plen USING (doc_id, phrase)
             |       GROUP BY 1),
             |r AS (SELECT w, freq, degree,
             |             degree * 1000000 // freq AS score_e6,
             |             CAST(row_number() OVER (ORDER BY
             |               degree * 1000000 // freq DESC, freq DESC, w)
             |               AS BIGINT) AS rk
             |      FROM sc)
             |SELECT w AS word, freq, degree, score_e6, rk
             |FROM r WHERE rk <= 15""".stripMargin)),

    // ── Typo pairs: the 50 most frequent corpus words, pairwise
    //    Levenshtein ≤ 2 (excluding identical) — the candidate list a
    //    vocab-normalization pass reviews. The 50×49/2 grid is
    //    broadcast-sized; edit distance is integer-exact in both
    //    engines.
    QueryDef("q_typo_pairs",
      (s, d) => {
        val top = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("w")).agg(count(lit(1)).as("cw"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("cw").desc, col("w"))))
          .filter(col("rk") <= 50)
          .select(col("w"), col("cw"))
          .localCheckpoint(false) // both sides of the pair grid
        top.as("a").join(broadcast(top.as("b")),
            col("a.w") < col("b.w"))
          .withColumn("dist",
            levenshtein(col("a.w"), col("b.w")).cast("long"))
          .filter(col("dist") <= 2)
          .selectExpr("a.w AS w1", "b.w AS w2",
            "CAST(a.cw AS BIGINT) AS n1", "CAST(b.cw AS BIGINT) AS n2",
            "dist")
          .orderBy(col("dist"), col("w1"), col("w2"))
      },
      Some("""WITH wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
             |           FROM (SELECT unnest(string_split(text, ' ')) AS w
             |                 FROM documents)
             |           WHERE w <> '' GROUP BY 1),
             |top AS (SELECT w, cw FROM (
             |          SELECT w, cw, row_number() OVER (ORDER BY cw DESC,
             |            w) AS rk
             |          FROM wc) WHERE rk <= 50)
             |SELECT a.w AS w1, b.w AS w2, a.cw AS n1, b.cw AS n2,
             |       CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
             |FROM top a JOIN top b ON a.w < b.w
             |WHERE levenshtein(a.w, b.w) <= 2""".stripMargin)),

    // ── BPE merge candidates: adjacent char pairs within words (the
    //    i/i+1 zip of each word's characters), top 20 by count — what
    //    the first merge round of a byte-pair encoder would pick.
    //    TakeOrdered top-k; the rank window runs on the 20-row frame.
    QueryDef("q_bpe_merge_candidates",
      (s, d) => {
        val pairs = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, length(w) - 1),
              |  i -> concat(substring(w, i, 1),
              |              substring(w, i + 1, 1)))""".stripMargin))
            .as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // total + top-k
        val tot = pairs.agg(sum(col("c")).as("tot"))
        pairs.orderBy(col("c").desc, col("pair")).limit(20)
          .crossJoin(broadcast(tot))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("c").desc, col("pair"))))
          .selectExpr("pair", "CAST(c AS BIGINT) AS c",
            "c * 1000000 div tot AS share_e6",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH w AS (SELECT wd AS w
             |           FROM (SELECT unnest(string_split(text, ' '))
             |                   AS wd
             |                 FROM documents)
             |           WHERE length(wd) >= 2),
             |p AS (SELECT unnest(list_transform(
             |               range(1, length(w)),
             |               i -> substring(w, i, 1)
             |                    || substring(w, i + 1, 1))) AS pair
             |      FROM w),
             |cnt AS (SELECT pair, CAST(count(*) AS BIGINT) AS c
             |        FROM p GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM cnt)
             |SELECT pair, c, c * 1000000 // tot AS share_e6, rk
             |FROM (SELECT pair, c, tot,
             |             CAST(row_number() OVER (ORDER BY c DESC,
             |               pair) AS BIGINT) AS rk
             |      FROM cnt CROSS JOIN tot)
             |WHERE rk <= 20""".stripMargin)),

    // ── TextRank keywords: vocabulary = top-60 tokens by corpus count
    //    (ties broken alphabetically); edges = adjacent-token pairs
    //    with both ends in-vocab, symmetrized with co-occurrence
    //    weights; 4 truncating-integer PageRank rounds; top 15 words.
    QueryDef("q_textrank",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(split(col("text"), " ").as("ws"))
          .localCheckpoint(false)
        val vocab = toks.select(explode(col("ws")).as("wd"))
          .filter(col("wd") =!= "")
          .groupBy(col("wd")).agg(count(lit(1)).as("cnt"))
        import org.apache.spark.sql.expressions.Window
        // global top-60 by count: the rank window runs on the
        // aggregated vocabulary (≤ distinct-token cardinality), and
        // the 60-row result broadcasts everywhere downstream
        val top = vocab.withColumn("rk",
            row_number().over(Window.orderBy(col("cnt").desc, col("wd"))))
          .filter(col("rk") <= 60).select(col("wd"))
        val pairs = toks.filter(size(col("ws")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(ws) - 2), i -> named_struct('a', ws[i], 'b', ws[i + 1]))"))
            .as("p"))
          .select(col("p.a").as("a"), col("p.b").as("b"))
          .filter(col("a") =!= "" && col("b") =!= "" && col("a") =!= col("b"))
          .join(broadcast(top.select(col("wd").as("a"))), "a")
          .join(broadcast(top.select(col("wd").as("b"))), "b")
        val und = pairs
          .select(least(col("a"), col("b")).as("u"),
            greatest(col("a"), col("b")).as("v"))
          .groupBy(col("u"), col("v")).agg(count(lit(1)).as("w"))
        val edges = und.select(col("u").as("src"), col("v").as("dst"), col("w"))
          .unionByName(und.select(col("v").as("src"), col("u").as("dst"),
            col("w")))
        val nodes = top.select(col("wd").as("id"))
        Graph.pageRankWeighted(nodes, edges, 4)
          .select(col("id").as("word"), col("pr_e6"))
          .orderBy(col("pr_e6").desc, col("word")).limit(15)
      },
      Some(s"""WITH t AS MATERIALIZED (
              |  SELECT string_split(text, ' ') AS ws FROM documents),
              |uni AS (SELECT wd, CAST(count(*) AS BIGINT) AS cnt
              |        FROM (SELECT unnest(ws) AS wd FROM t) u
              |        WHERE wd <> '' GROUP BY 1),
              |nodes AS (SELECT wd AS id FROM uni
              |          QUALIFY row_number() OVER (ORDER BY cnt DESC, wd) <= 60),
              |pr0 AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
              |          i -> struct_pack(a := ws[i], b := ws[i + 1]))) AS bb
              |        FROM t WHERE len(ws) >= 2),
              |pf AS (SELECT bb.a AS a, bb.b AS b FROM pr0
              |       WHERE bb.a <> '' AND bb.b <> '' AND bb.a <> bb.b
              |         AND bb.a IN (SELECT id FROM nodes)
              |         AND bb.b IN (SELECT id FROM nodes)),
              |und AS (SELECT least(a, b) AS u, greatest(a, b) AS v,
              |               CAST(count(*) AS BIGINT) AS w
              |        FROM pf GROUP BY 1, 2),
              |edges AS (SELECT u AS src, v AS dst, w FROM und
              |          UNION ALL
              |          SELECT v AS src, u AS dst, w FROM und),
              |${prChainSql(4)}
              |SELECT id AS word, pr AS pr_e6 FROM p4
              |ORDER BY pr_e6 DESC, word LIMIT 15""".stripMargin)),

    /* TextTiling-lite (`q_text_tiling`): cosine similarity between
     * adjacent 20-token blocks per document; a dip below 0.2 marks a
     * topic boundary — the classic unsupervised document segmenter,
     * as block-count vectors + one adjacent-block join. One
     * floor(sqrt(double)) per block pair in fixed order. */
    // ── TextTiling-lite: 20-token blocks per document (empty tokens
    //    excluded from counts but not from positions — same rule both
    //    engines); cosine between adjacent blocks; boundary when
    //    sim < 0.2. Per doc: blocks, boundaries, mean similarity.
    QueryDef("q_text_tiling",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .filter(col("col") =!= "")
          .selectExpr("doc_id", "col AS word", "pos div 20 AS blk")
        val bw = tok.groupBy(col("doc_id"), col("blk"), col("word"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(false)
        val norms = bw.groupBy(col("doc_id"), col("blk"))
          .agg(sum(col("cnt") * col("cnt")).as("nrm"))
        val dots = bw
          .join(bw.selectExpr("doc_id", "blk - 1 AS blk", "word",
            "cnt AS cnt2"), Seq("doc_id", "blk", "word"))
          .groupBy(col("doc_id"), col("blk"))
          .agg(sum(col("cnt") * col("cnt2")).as("dot"))
        val sims = norms
          .join(norms.selectExpr("doc_id", "blk - 1 AS blk",
            "nrm AS nrm2"), Seq("doc_id", "blk"))
          .join(dots, Seq("doc_id", "blk"), "left")
          .selectExpr("doc_id",
            """coalesce(dot, 0L) * 1000000 div greatest(1L,
              |  CAST(floor(sqrt(CAST(nrm * nrm2 AS DOUBLE)))
              |    AS BIGINT)) AS sim_e6""".stripMargin)
        sims.groupBy(col("doc_id"))
          .agg((count(lit(1)) + 1).as("n_blocks"),
            sum(when(col("sim_e6") < 200000L, 1L).otherwise(0L))
              .as("n_boundaries"),
            expr("sum(sim_e6) div count(*)").as("mean_sim_e6"))
          .selectExpr("doc_id", "CAST(n_blocks AS BIGINT) AS n_blocks",
            "CAST(n_boundaries AS BIGINT) AS n_boundaries",
            "mean_sim_e6")
      },
      Some("""WITH tok0 AS (
             |  SELECT doc_id,
             |         unnest(list_transform(generate_series(1, len(ws)),
             |           i -> struct_pack(w := ws[i], b := (i - 1) // 20)))
             |           AS s
             |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
             |        FROM documents) t),
             |tok AS (SELECT doc_id, s.w AS word, s.b AS blk
             |        FROM tok0 WHERE s.w <> ''),
             |bw AS (SELECT doc_id, blk, word,
             |              CAST(count(*) AS BIGINT) AS cnt
             |       FROM tok GROUP BY 1, 2, 3),
             |norms AS (SELECT doc_id, blk,
             |                 CAST(sum(cnt * cnt) AS BIGINT) AS nrm
             |          FROM bw GROUP BY 1, 2),
             |dots AS (SELECT a.doc_id, a.blk,
             |                CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
             |         FROM bw a JOIN bw b ON a.doc_id = b.doc_id
             |           AND b.blk = a.blk + 1 AND a.word = b.word
             |         GROUP BY 1, 2),
             |sims AS (
             |  SELECT n1.doc_id,
             |         coalesce(d.dot, 0) * 1000000 // greatest(1,
             |           CAST(floor(sqrt(CAST(n1.nrm * n2.nrm AS DOUBLE)))
             |             AS BIGINT)) AS sim_e6
             |  FROM norms n1 JOIN norms n2 ON n1.doc_id = n2.doc_id
             |    AND n2.blk = n1.blk + 1
             |  LEFT JOIN dots d ON d.doc_id = n1.doc_id
             |    AND d.blk = n1.blk)
             |SELECT doc_id,
             |       CAST(count(*) + 1 AS BIGINT) AS n_blocks,
             |       CAST(sum(CASE WHEN sim_e6 < 200000 THEN 1 ELSE 0
             |         END) AS BIGINT) AS n_boundaries,
             |       CAST(sum(sim_e6) // count(*) AS BIGINT) AS mean_sim_e6
             |FROM sims GROUP BY 1""".stripMargin)),

    /* ROUGE-2 (`q_rouge2`) / BLEU-2 (`q_bleu2`): reference-overlap
     * metrics over deterministic (even, odd) doc pairs — the corpus
     * ships an even contiguous doc_id range at every SF, so every even
     * doc has its odd reference. ROUGE-2 is micro recall of clipped
     * bigram matches (exact integers); BLEU-2 is the clipped 1/2-gram
     * precision geometric mean × brevity penalty, closed in the repo's
     * e6 log₂/pow₂ fixed point (add-one clamp on zero match counts,
     * documented below). */
    // ── ROUGE-2 micro recall over the (even, odd) doc pairs.
    QueryDef("q_rouge2",
      (s, d) => {
        val pd = pairedDocs(s, d)
        val bcnt = pd.filter(size(col("tok")) >= 2)
          .select(col("pair"), col("role"),
            explode(expr(bigramsExpr)).as("w"))
          .groupBy(col("pair"), col("role"), col("w"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // shared by match + ref-total legs
        val h = bcnt.filter(col("role") === 0)
          .select(col("pair"), col("w"), col("c").as("hc"))
        val r = bcnt.filter(col("role") === 1)
          .select(col("pair"), col("w"), col("c").as("rc"))
        val m = h.join(r, Seq("pair", "w"))
          .agg(sum(least(col("hc"), col("rc"))).as("match2"))
        val rt = r.agg(sum(col("rc")).as("ref2"),
          countDistinct(col("pair")).as("n_pairs"))
        m.crossJoin(broadcast(rt))
          .selectExpr("n_pairs", "match2", "ref2",
            "match2 * 1000000 div ref2 AS rouge2_recall_e6")
      },
      Some(s"""WITH $pairSqlHead,
              |m AS (SELECT CAST(sum(least(h.c, r.c)) AS BIGINT) AS match2
              |      FROM bcnt h JOIN bcnt r
              |        ON h.pair = r.pair AND h.w = r.w
              |       AND h.role = 0 AND r.role = 1),
              |rt AS (SELECT CAST(sum(c) AS BIGINT) AS ref2,
              |              CAST(count(DISTINCT pair) AS BIGINT) AS n_pairs
              |       FROM bcnt WHERE role = 1)
              |SELECT n_pairs, match2, ref2,
              |       match2 * 1000000 // ref2 AS rouge2_recall_e6
              |FROM m CROSS JOIN rt""".stripMargin)),

    // ── Corpus BLEU-2 (clipped 1/2-gram precisions, brevity penalty) in
    //    the e6 log₂/pow₂ fixed point; zero match counts clamp to 1
    //    (the add-one guard the FS weights also use).
    QueryDef("q_bleu2",
      (s, d) => {
        val pd = pairedDocs(s, d)
        val ucnt = pd.select(col("pair"), col("role"),
            explode(col("tok")).as("w"))
          .groupBy(col("pair"), col("role"), col("w"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(false)
        val bcnt = pd.filter(size(col("tok")) >= 2)
          .select(col("pair"), col("role"),
            explode(expr(bigramsExpr)).as("w"))
          .groupBy(col("pair"), col("role"), col("w"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(false)
        def clipped(cnt: org.apache.spark.sql.DataFrame) =
          cnt.filter(col("role") === 0)
            .select(col("pair"), col("w"), col("c").as("hc"))
            .join(cnt.filter(col("role") === 1)
              .select(col("pair"), col("w"), col("c").as("rc")),
              Seq("pair", "w"))
            .agg(sum(least(col("hc"), col("rc"))).as("m"))
        val m1 = clipped(ucnt).selectExpr("m AS m1")
        val m2 = clipped(bcnt).selectExpr("m AS m2")
        val lens = pd.select(col("role"), size(col("tok")).cast("long").as("n"))
          .groupBy(col("role")).agg(sum(col("n")).as("len"))
        val c = lens.filter(col("role") === 0).selectExpr("len AS c_len")
        val r = lens.filter(col("role") === 1).selectExpr("len AS r_len")
        val h2t = bcnt.filter(col("role") === 0)
          .agg(sum(col("c")).as("h2t"))
        val np = pd.agg(countDistinct(col("pair")).as("n_pairs"))
        m1.crossJoin(broadcast(m2)).crossJoin(broadcast(c))
          .crossJoin(broadcast(r)).crossJoin(broadcast(h2t))
          .crossJoin(broadcast(np))
          // c_len is also the unigram hypothesis total
          .withColumn("bp_y",
            expr("CASE WHEN c_len >= r_len THEN 0L" +
              " ELSE (r_len - c_len) * 1442695L div c_len END"))
          .withColumn("bp_e6", Sketches.pow2NegE6Expr("bp_y"))
          .withColumn("g0",
            Bm25.log2E6(col("c_len")) -
              Bm25.log2E6(greatest(col("m1"), lit(1L))) +
              Bm25.log2E6(col("h2t")) -
              Bm25.log2E6(greatest(col("m2"), lit(1L))))
          .withColumn("g", expr("g0 div 2"))
          .withColumn("geo_e6", Sketches.pow2NegE6Expr("g"))
          .selectExpr("n_pairs", "c_len", "r_len",
            "m1 * 1000000 div c_len AS p1_e6",
            "m2 * 1000000 div h2t AS p2_e6", "bp_e6",
            s"CAST(CAST(bp_e6 AS $dec) * geo_e6 div 1000000 AS BIGINT)" +
              " AS bleu2_e6")
      },
      Some {
        val bp = Sketches.pow2NegE6Sql("bp_y")
        val geo = Sketches.pow2NegE6Sql("g")
        def lg(x: String) = Bm25.log2E6Sql(x)
        s"""WITH $pairSqlHead,
           |m1 AS (SELECT CAST(sum(least(h.c, r.c)) AS BIGINT) AS m1
           |       FROM ucnt h JOIN ucnt r
           |         ON h.pair = r.pair AND h.w = r.w
           |        AND h.role = 0 AND r.role = 1),
           |m2 AS (SELECT CAST(sum(least(h.c, r.c)) AS BIGINT) AS m2
           |       FROM bcnt h JOIN bcnt r
           |         ON h.pair = r.pair AND h.w = r.w
           |        AND h.role = 0 AND r.role = 1),
           |lens AS (SELECT role, CAST(sum(len(tok)) AS BIGINT) AS len
           |         FROM pd GROUP BY 1),
           |h2t AS (SELECT CAST(sum(c) AS BIGINT) AS h2t
           |        FROM bcnt WHERE role = 0),
           |np AS (SELECT CAST(count(DISTINCT pair) AS BIGINT) AS n_pairs
           |       FROM pd),
           |base AS (SELECT n_pairs, m1, m2, h2t,
           |           (SELECT len FROM lens WHERE role = 0) AS c_len,
           |           (SELECT len FROM lens WHERE role = 1) AS r_len
           |         FROM m1 CROSS JOIN m2 CROSS JOIN h2t CROSS JOIN np),
           |e1 AS (SELECT *, CASE WHEN c_len >= r_len THEN 0
           |         ELSE (r_len - c_len) * 1442695 // c_len END AS bp_y
           |       FROM base),
           |e2 AS (SELECT *, $bp AS bp_e6,
           |         (${lg("c_len")} - ${lg("greatest(m1, 1)")}
           |          + ${lg("h2t")} - ${lg("greatest(m2, 1)")}) // 2 AS g
           |       FROM e1)
           |SELECT n_pairs, c_len, r_len,
           |       m1 * 1000000 // c_len AS p1_e6,
           |       m2 * 1000000 // h2t AS p2_e6, bp_e6,
           |       CAST(CAST(bp_e6 AS HUGEINT) * $geo // 1000000 AS BIGINT)
           |         AS bleu2_e6
           |FROM e2""".stripMargin
      }),

    /* Readability panel (`q_readability`): Flesch-Kincaid grade,
     * Coleman-Liau, and LIX per source in e3 fixed point. The corpus
     * has no sentence punctuation, so each document reads as ONE
     * sentence (stated contract — the panel then ranks sources by
     * run-on severity, a useful curation gate as-is). */
    // ── Readability panel per source (doc = one sentence; no
    //    punctuation in the corpus). FK / CLI / LIX in e3.
    QueryDef("q_readability",
      (s, d) => Tables.documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("w"),
          length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
            .as("ch"),
          (length(regexp_replace(col("text"), "[aeiouy]+", "#")) -
            length(regexp_replace(regexp_replace(col("text"),
              "[aeiouy]+", "#"), "#", ""))).cast("long").as("syl"),
          expr("CAST(size(filter(split(text, ' '), " +
            "t -> length(t) > 6)) AS BIGINT)").as("lw"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
          sum(col("ch")).as("chars"), sum(col("syl")).as("syllables"),
          sum(col("lw")).as("long_words"))
        .selectExpr("source", "n_docs", "words", "chars", "syllables",
          "long_words",
          "390L * words div n_docs + 11800L * syllables div words" +
            " - 15590L AS fk_e3",
          "5880L * chars div words - 29600L * n_docs div words" +
            " - 15800L AS cli_e3",
          "words * 1000L div n_docs + long_words * 100000L div words" +
            " AS lix_e3"),
      Some("""WITH per AS (
             |  SELECT source,
             |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             |         CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))
             |           AS BIGINT) AS ch,
             |         CAST(length(regexp_replace(text, '[aeiouy]+', '#',
             |             'g'))
             |           - length(replace(regexp_replace(text, '[aeiouy]+',
             |               '#', 'g'), '#', '')) AS BIGINT) AS syl,
             |         CAST(len(list_filter(string_split(text, ' '),
             |           t -> length(t) > 6)) AS BIGINT) AS lw
             |  FROM documents),
             |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |          CAST(sum(w) AS BIGINT) AS words,
             |          CAST(sum(ch) AS BIGINT) AS chars,
             |          CAST(sum(syl) AS BIGINT) AS syllables,
             |          CAST(sum(lw) AS BIGINT) AS long_words
             |        FROM per GROUP BY 1)
             |SELECT source, n_docs, words, chars, syllables, long_words,
             |       390 * words // n_docs + 11800 * syllables // words
             |         - 15590 AS fk_e3,
             |       5880 * chars // words - 29600 * n_docs // words
             |         - 15800 AS cli_e3,
             |       words * 1000 // n_docs + long_words * 100000 // words
             |         AS lix_e3
             |FROM agg""".stripMargin)),

    /* chrF-2 (`q_chrf2`): character-bigram F_{β=2} over the same
     * deterministic (even, odd) document pairs q_rouge2 scores — the
     * tokenizer-free overlap metric; F folds from e6 precision/recall
     * integers: F = 5PR/(4P+R). */
    // ── chrF-2: char-bigram F_{β=2} over (even, odd) doc pairs.
    QueryDef("q_chrf2",
      (s, d) => {
        val pd = Tables.documents(s, d)
          .select(expr("doc_id div 2").as("pair"),
            (col("doc_id") % 2).as("role"), col("text"))
          .filter(length(col("text")) >= 2)
        // substring(text, i, 2) re-scans the string from offset 0
        // for every i (UTF8String char addressing), making the bigram
        // expansion O(len²) per document; one split('') plus a zip_with
        // of the two shifted slices emits the IDENTICAL bigram sequence
        // in O(len).
        val cnt = pd.withColumn("cs", split(col("text"), ""))
          .select(col("pair"), col("role"),
            explode(expr("zip_with(slice(cs, 1, length(text) - 1)," +
              " slice(cs, 2, length(text) - 1), (x, y) -> concat(x, y))"))
              .as("g"))
          .groupBy(col("pair"), col("role"), col("g"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint(false) // shared by match / hyp / ref legs
        val m = cnt.filter(col("role") === 0)
          .select(col("pair"), col("g"), col("c").as("hc"))
          .join(cnt.filter(col("role") === 1)
            .select(col("pair"), col("g"), col("c").as("rc")),
            Seq("pair", "g"))
          .agg(sum(least(col("hc"), col("rc"))).as("match2"))
        val tot = cnt.groupBy(col("role")).agg(sum(col("c")).as("t"))
        val hyp = tot.filter(col("role") === 0).selectExpr("t AS hyp2")
        val ref = tot.filter(col("role") === 1).selectExpr("t AS ref2")
        val np = pd.agg(countDistinct(col("pair")).as("n_pairs"))
        m.crossJoin(broadcast(hyp)).crossJoin(broadcast(ref))
          .crossJoin(broadcast(np))
          .withColumn("p_e6", expr("match2 * 1000000 div hyp2"))
          .withColumn("r_e6", expr("match2 * 1000000 div ref2"))
          .selectExpr("n_pairs", "match2", "hyp2", "ref2", "p_e6", "r_e6",
            s"""CASE WHEN 4 * p_e6 + r_e6 = 0 THEN 0
               |ELSE CAST(CAST(5 AS $dec) * p_e6 * r_e6
               |  div (4 * p_e6 + r_e6) AS BIGINT)
               |END AS chrf2_e6""".stripMargin)
      },
      Some("""WITH pd AS (
             |  SELECT doc_id // 2 AS pair, doc_id % 2 AS role, text
             |  FROM documents WHERE length(text) >= 2),
             |cnt AS (SELECT pair, role, g, CAST(count(*) AS BIGINT) AS c
             |        FROM (SELECT pair, role,
             |                unnest(list_transform(
             |                  range(1, length(text)),
             |                  i -> substr(text, i, 2))) AS g
             |              FROM pd)
             |        GROUP BY 1, 2, 3),
             |m AS (SELECT CAST(sum(least(h.c, r.c)) AS BIGINT) AS match2
             |      FROM cnt h JOIN cnt r
             |        ON h.pair = r.pair AND h.g = r.g
             |       AND h.role = 0 AND r.role = 1),
             |hyp AS (SELECT CAST(sum(c) AS BIGINT) AS hyp2 FROM cnt
             |        WHERE role = 0),
             |ref AS (SELECT CAST(sum(c) AS BIGINT) AS ref2 FROM cnt
             |        WHERE role = 1),
             |np AS (SELECT CAST(count(DISTINCT pair) AS BIGINT)
             |         AS n_pairs FROM pd),
             |e AS (SELECT n_pairs, match2, hyp2, ref2,
             |        match2 * 1000000 // hyp2 AS p_e6,
             |        match2 * 1000000 // ref2 AS r_e6
             |      FROM m CROSS JOIN hyp CROSS JOIN ref CROSS JOIN np)
             |SELECT n_pairs, match2, hyp2, ref2, p_e6, r_e6,
             |       CASE WHEN 4 * p_e6 + r_e6 = 0 THEN 0
             |       ELSE CAST(CAST(5 AS HUGEINT) * p_e6 * r_e6
             |         // (4 * p_e6 + r_e6) AS BIGINT)
             |       END AS chrf2_e6
             |FROM e""".stripMargin)),

    /* Bigram overlap (`q_ngram_overlap`): pairwise word-bigram Jaccard
     * and containment between sources — corpus-level near-duplication
     * across feeds (the source-granular cousin of the doc-pair dedup
     * family). Distinct-bigram frames join on the bigram key: one
     * shuffle, source-pair grid bounded. */
    // ── Pairwise word-bigram Jaccard/containment across sources.
    QueryDef("q_ngram_overlap",
      (s, d) => {
        val bg = Tables.documents(s, d)
          .select(col("source"), split(col("text"), " ").as("ws"))
          .where(size(col("ws")) >= 2)
          .select(col("source"), explode(expr(
            "transform(sequence(0, size(ws) - 2)," +
              " i -> concat(ws[i], ' ', ws[i + 1]))")).as("b"))
          .distinct()
          .localCheckpoint(false) // distinct (source, bigram)
        val sizes = bg.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val inter = bg.as("x").join(bg.as("y"), Seq("b"))
          .where(col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("s1"), col("y.source").as("s2"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(sizes.select(col("source").as("s1"),
            col("n").as("n1"))), Seq("s1"))
          .join(broadcast(sizes.select(col("source").as("s2"),
            col("n").as("n2"))), Seq("s2"))
          .selectExpr("s1", "s2", "inter", "n1", "n2",
            "inter * 1000000 div (n1 + n2 - inter) AS jaccard_e6",
            """CASE WHEN n1 <= n2
              |THEN inter * 1000000 div n1
              |ELSE inter * 1000000 div n2
              |END AS containment_e6""".stripMargin)
      },
      Some("""WITH t AS MATERIALIZED (
             |  SELECT source, string_split(text, ' ') AS ws
             |  FROM documents),
             |bg AS MATERIALIZED (
             |  SELECT DISTINCT source,
             |    unnest(list_transform(generate_series(1, len(ws) - 1),
             |      i -> concat(ws[i], ' ', ws[i + 1]))) AS b
             |  FROM t WHERE len(ws) >= 2),
             |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
             |          FROM bg GROUP BY 1),
             |inter AS (SELECT x.source AS s1, y.source AS s2,
             |            CAST(count(*) AS BIGINT) AS inter
             |          FROM bg x JOIN bg y ON x.b = y.b
             |          WHERE x.source < y.source GROUP BY 1, 2)
             |SELECT s1, s2, inter, a.n AS n1, c.n AS n2,
             |       inter * 1000000 // (a.n + c.n - inter) AS jaccard_e6,
             |       CASE WHEN a.n <= c.n
             |       THEN inter * 1000000 // a.n
             |       ELSE inter * 1000000 // c.n
             |       END AS containment_e6
             |FROM inter JOIN sizes a ON a.source = s1
             |JOIN sizes c ON c.source = s2""".stripMargin)),

    /* Anagram classes (`q_anagram_groups`): group distinct tokens by
     * sorted-letter signature — classes, multi-word classes, and the
     * largest class size. Exercises the portable char-sort path
     * (array_sort(split) / list_sort(string_split)); one exchange on
     * the signature key. */
    // ── Anagram signature classes over the distinct vocabulary.
    QueryDef("q_anagram_groups",
      (s, d) => {
        val vocab = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) >= 2)
          .distinct()
        val classes = vocab
          .select(expr("array_join(array_sort(split(w, '')), '')")
            .as("sig"))
          .groupBy(col("sig")).agg(count(lit(1)).as("nw"))
        classes.agg(count(lit(1)).as("classes"),
          sum(when(col("nw") >= 2L, 1L).otherwise(0L))
            .as("multi_classes"),
          max(col("nw")).as("max_class"),
          sum(col("nw")).as("vocab"))
      },
      Some("""WITH vocab AS (
             |  SELECT DISTINCT unnest(string_split(text, ' ')) AS w
             |  FROM documents),
             |v2 AS (SELECT w FROM vocab WHERE length(w) >= 2),
             |classes AS (
             |  SELECT array_to_string(list_sort(string_split(w, '')), '')
             |           AS sig,
             |         CAST(count(*) AS BIGINT) AS nw
             |  FROM v2 GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS classes,
             |       CAST(sum(CASE WHEN nw >= 2 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS multi_classes,
             |       CAST(max(nw) AS BIGINT) AS max_class,
             |       CAST(sum(nw) AS BIGINT) AS vocab
             |FROM classes""".stripMargin))
  )
}
