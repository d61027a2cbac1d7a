package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Dedup, FuzzyJoin, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication and entity resolution over the documents, parts and
  * embeddings tables. The shared corpus has no duplicates, so queries that
  * need them inject deterministic copies. */
object DedupQueries extends QueryCatalog {

  import PortableSql.{hash48 => hash48Sql}

  /** documents ∪ exact copies of every 10th doc (re-keyed +1e6). */
  private def exactAug(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  private val exactAugSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** documents ∪ near-dup copies of every 7th doc (tail words appended). */
  private def nearAug(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graft extra tail")).as("text")))
  }

  private val nearAugSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id, concat(text, ' graft extra tail') AS text
      | FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** Oracle twin of Dedup.candidates∘minhash∘shingles over `docsSql` —
    * shared by the candidate-pair and cluster queries. */
  private def candSql(docsSql: String): String = {
    val mh = PortableSql.hexSliceToLong("hx", "j * 8")
    s"""(WITH docs AS $docsSql,
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM docs),
       |sh AS (SELECT doc_id,
       |              unnest(list_transform(range(1, len(ws) - 1),
       |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
       |       FROM w WHERE len(ws) >= 3),
       |sh2 AS (SELECT doc_id, concat(md5(shingle), md5(concat('x', shingle))) AS hx FROM sh),
       |sig AS (SELECT doc_id, j, min($mh) AS mh
       |        FROM sh2 CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) hj(j)
       |        GROUP BY doc_id, j),
       |bands AS (SELECT doc_id, j // 2 AS band,
       |                 concat(CAST(min(CASE WHEN j % 2 = 0 THEN mh END) AS VARCHAR), ':',
       |                        CAST(min(CASE WHEN j % 2 = 1 THEN mh END) AS VARCHAR)) AS bv
       |          FROM sig GROUP BY doc_id, j // 2),
       |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, p.n_bands,
       |       CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_eq,
       |       round(CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS DOUBLE) / 8, 6) AS est_jaccard
       |FROM pairs p
       |JOIN sig x ON x.doc_id = p.doc_a
       |JOIN sig y ON y.doc_id = p.doc_b AND y.j = x.j
       |GROUP BY 1, 2, 3)""".stripMargin
  }

  /** doc_id<200 slice ∪ near-dup copies of every 7th doc (re-keyed
    * +1e6) — same injection as DedupQueries.nearAug, restricted so the
    * brute-truth oracle stays tractable. */
  private def slice(s: org.apache.spark.sql.SparkSession, d: String) = {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"))
    docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" graft extra tail")).as("text")))
  }

  private val sliceSql =
    """(SELECT doc_id, text FROM documents WHERE doc_id < 200
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id,
      |        concat(text, ' graft extra tail') AS text
      | FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0)""".stripMargin

  /** Brute set-Jaccard truth pairs over `docsSql` at τ (e6) — the
    * oracle twin of [[Dedup.jaccardPrefixJoin]] (proven equivalent by
    * q_jaccard_prefix). */
  private def truthSql(docsSql: String, tauE6: Long): String =
    s"""(WITH w AS (SELECT DISTINCT doc_id, wd AS word
       |            FROM (SELECT doc_id,
       |                         unnest(string_split(text, ' ')) AS wd
       |                  FROM $docsSql dd) u
       |            WHERE wd <> ''),
       | sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
       |           FROM w GROUP BY doc_id),
       | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                  CAST(count(*) AS BIGINT) AS inter
       |           FROM w a JOIN w b ON a.word = b.word
       |             AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2)
       | SELECT i.doc_a, i.doc_b, i.inter,
       |        sa.sz + sb.sz - i.inter AS uni
       | FROM inter i
       | JOIN sizes sa ON sa.doc_id = i.doc_a
       | JOIN sizes sb ON sb.doc_id = i.doc_b
       | WHERE i.inter * 1000000 >= $tauE6 * (sa.sz + sb.sz - i.inter))"""
      .stripMargin

  /** [[nearAug]] and its connected components (id, cluster_id) over the
    * strong candidate pairs (n_eq ≥ 6 of 8). */
  private def nearDupClusters(s: org.apache.spark.sql.SparkSession,
                              d: String) = {
    val docs = nearAug(s, d)
    val cand = Dedup.candidates(Dedup.minhash(Dedup.shingles(docs)))
    val edges = cand.filter(col("n_eq") >= 6)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    (docs, Dedup.connectedComponents(docs.select(col("doc_id").as("id")), edges))
  }

  /** DuckDB twin of [[nearDupClusters]] before the min-label rollup:
    * CTEs `cand`, `e2`, `nodes` and the recursive closure `reach`
    * (id, label); the caller's WITH must be RECURSIVE. */
  private val nearDupReachSql =
    s"""cand AS (SELECT * FROM ${candSql(nearAugSql)} c0),
      |e2 AS (SELECT doc_a AS a, doc_b AS b FROM cand WHERE n_eq >= 6
      |       UNION ALL
      |       SELECT doc_b AS a, doc_a AS b FROM cand WHERE n_eq >= 6),
      |nodes AS (SELECT doc_id FROM $nearAugSql docs),
      |reach(id, label) AS (
      |  SELECT doc_id, doc_id FROM nodes
      |  UNION
      |  SELECT e2.b, r.label FROM reach r JOIN e2 ON e2.a = r.id
      |)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    /* Deduplication over the `documents` table (SURVEY.md §7.4 / the
     * training-data-pipeline extensions). The shared corpus has no duplicates,
     * so queries that need them inject deterministic copies (exact dups for
     * exact dedup, one-word-tail edits for near-dup) — the same injection on
     * both the Spark and oracle sides keeps the gate honest. */

    // ── Exact dedup: hash-groupBy on content, keep smallest id.
    QueryDef("q_dedup_exact",
      (s, d) => Dedup.exact(exactAug(s, d)),
      Some(s"""SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
              |       count(*) AS dup_cnt
              |FROM $exactAugSql docs GROUP BY md5(text)""".stripMargin)),

    // ── MinHash + LSH candidate pairs with band counts and estimated
    //    Jaccard (n_eq of 8 minhashes).
    QueryDef("q_dedup_minhash",
      (s, d) => Dedup.candidates(Dedup.minhash(Dedup.shingles(nearAug(s, d)))),
      Some(s"SELECT * FROM ${candSql(nearAugSql)} cand")),

    // ── Pairs → clusters: connected components over strong candidate pairs
    //    (n_eq ≥ 6 of 8), per-doc cluster assignment + cluster size. Oracle:
    //    min-label transitive closure as a recursive CTE.
    QueryDef("q_dedup_clusters",
      (s, d) => {
        val cc = nearDupClusters(s, d)._2.withColumnRenamed("id", "doc_id")
        val sz = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_sz"))
        cc.join(sz, "cluster_id").select("doc_id", "cluster_id", "cluster_sz")
      },
      Some(s"""WITH RECURSIVE $nearDupReachSql,
              |cc AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
              |sz AS (SELECT cluster_id, count(*) AS cluster_sz FROM cc GROUP BY 1)
              |SELECT cc.doc_id, cc.cluster_id, sz.cluster_sz
              |FROM cc JOIN sz USING (cluster_id)""".stripMargin)),

    // ── SimHash 16-bit fingerprints over word unigrams.
    QueryDef("q_dedup_simhash",
      (s, d) => Dedup.simhash(Tables.documents(s, d)),
      Some {
        val h = hash48Sql("wd", "'sim'")
        val sums = (0 until 16).map(j =>
          s"CAST(sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$j")
          .mkString(",\n              ")
        val fp = (0 until 16).map(j =>
          s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
        s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM documents),
           |h AS (SELECT doc_id, $h AS h FROM w WHERE wd <> ''),
           |s AS (SELECT doc_id,
           |              $sums
           |      FROM h GROUP BY doc_id)
           |SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM s""".stripMargin
      }),

    // ── The dedup endgame: keep-list = cluster canonicals (min doc id per
    //    component) — what actually ships to training after docs → pairs →
    //    clusters. Observed as counts so the result is stable-size.
    QueryDef("q_dedup_keep",
      (s, d) => {
        val (docs, cc) = nearDupClusters(s, d)
        val kept = cc.filter(col("id") === col("cluster_id"))
        kept.agg(count(lit(1)).as("kept"))
          .crossJoin(docs.agg(count(lit(1)).as("total")))
          .select(col("total"), col("kept"), (col("total") - col("kept")).as("dropped"))
      },
      Some(s"""WITH RECURSIVE $nearDupReachSql,
              |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
              |SELECT (SELECT count(*) FROM nodes) AS total,
              |       count(*) AS kept,
              |       (SELECT count(*) FROM nodes) - count(*) AS dropped
              |FROM cc WHERE id = cluster_id""".stripMargin)),

    // ── SimHash banded pairing, scored on the PLANTED near-dups (the
    //    synthetic corpus' tiny vocab makes unrelated docs fingerprint-
    //    close, so generic pairing is noise here; recovering each injected
    //    copy and its Hamming distance is the meaningful check).
    QueryDef("q_dedup_simhash_pairs",
      (s, d) => Dedup.simhashPairs(Dedup.simhash(nearAug(s, d)))
        .filter(col("doc_b") === col("doc_a") + 1000000L),
      Some {
        val h = hash48Sql("wd", "'sim'")
        val sums = (0 until 16).map(j =>
          s"CAST(sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$j")
          .mkString(",\n              ")
        val fp = (0 until 16).map(j =>
          s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
        s"""WITH docs AS $nearAugSql,
           |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS wd FROM docs),
           |h AS (SELECT doc_id, $h AS h FROM w WHERE wd <> ''),
           |s AS (SELECT doc_id,
           |              $sums
           |      FROM h GROUP BY doc_id),
           |fps AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM s),
           |b AS (SELECT doc_id, simhash, band, (simhash >> (band * 4)) & 15 AS bv
           |      FROM fps CROSS JOIN (VALUES (0),(1),(2),(3)) bd(band)),
           |p AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           |             a.simhash AS fp_a, b2.simhash AS fp_b
           |      FROM b a JOIN b b2
           |        ON a.band = b2.band AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
           |SELECT doc_a, doc_b, fp_a, fp_b,
           |       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
           |FROM p
           |WHERE bit_count(xor(fp_a, fp_b)) <= 3 AND doc_b = doc_a + 1000000""".stripMargin
      }),

    // ── Exact n-gram (word-set) Jaccard on a bounded candidate set.
    QueryDef("q_ngram_jaccard",
      (s, d) => Dedup.jaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 50).select(col("doc_id"), col("text"))),
      Some("""WITH w AS (SELECT DISTINCT doc_id, wd AS word
             |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |                 FROM documents WHERE doc_id < 50) u
             |           WHERE wd <> ''),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |          FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT i.doc_a, i.doc_b, i.inter,
             |       sa.sz + sb.sz - i.inter AS uni,
             |       round(CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jacc
             |FROM inter i
             |JOIN sizes sa ON sa.doc_id = i.doc_a
             |JOIN sizes sb ON sb.doc_id = i.doc_b""".stripMargin)),

    // ── Multi-canopy fuzzy matching ([[FuzzyJoin.multiCanopy]]): dirty part
    //    names with head-char substitutions (escape the prefix canopy) and
    //    vowel swaps (escape nothing but exercise the phonetic canopy)
    //    resolved against the clean name list via prefix ∪ suffix ∪
    //    phonetic blocking + one exact edit-distance pass.
    QueryDef("q_fuzzy_canopy",
      (s, d) => {
        val p = Tables.part(s, d)
        val clean = p.select(col("p_name").as("k"))
        val headTypo = p.filter(col("p_partkey") % 4 === 0)
          .select(concat(lit("x"), expr("substring(p_name, 2, 1000000)")).as("k"))
        val vowelSwap = p.filter(col("p_partkey") % 4 === 1)
          .filter(instr(col("p_name"), "a") > 0)
          .select(concat(
            expr("substring(p_name, 1, instr(p_name, 'a') - 1)"), lit("e"),
            expr("substring(p_name, instr(p_name, 'a') + 1, 1000000)")).as("k"))
        FuzzyJoin.multiCanopy(clean, headTypo.unionByName(vowelSwap), "k")
      },
      Some("""WITH clean AS (SELECT DISTINCT p_name AS k FROM part),
             |d0 AS (SELECT concat('x', substr(p_name, 2, 1000000)) AS k
             |       FROM part WHERE p_partkey % 4 = 0),
             |d1 AS (SELECT concat(substr(p_name, 1, strpos(p_name, 'a') - 1), 'e',
             |                     substr(p_name, strpos(p_name, 'a') + 1, 1000000)) AS k
             |       FROM part WHERE p_partkey % 4 = 1 AND strpos(p_name, 'a') > 0),
             |dirty AS (SELECT DISTINCT k FROM (SELECT k FROM d0 UNION ALL SELECT k FROM d1) u),
             |cand AS (
             |  SELECT DISTINCT l.k AS l_key, r.k AS r_key FROM clean l JOIN dirty r
             |    ON substr(l.k, 1, 2) = substr(r.k, 1, 2)
             |  UNION
             |  SELECT DISTINCT l.k AS l_key, r.k AS r_key FROM clean l JOIN dirty r
             |    ON substr(l.k, -2, 2) = substr(r.k, -2, 2)
             |  UNION
             |  SELECT DISTINCT l.k AS l_key, r.k AS r_key FROM clean l JOIN dirty r
             |    ON concat(substr(l.k, 1, 1), regexp_replace(substr(l.k, 2, 1000000), '[aeiou]', '', 'g'))
             |     = concat(substr(r.k, 1, 1), regexp_replace(substr(r.k, 2, 1000000), '[aeiou]', '', 'g')))
             |SELECT l_key, r_key, CAST(levenshtein(l_key, r_key) AS BIGINT) AS dist
             |FROM cand WHERE levenshtein(l_key, r_key) <= 1""".stripMargin)),

    // ── Incremental dedup ([[graft.ops.Dedup.incrementalStatus]]): a
    //    synthetic "daily batch" (exact copies, tail-edited near-dups,
    //    reversed-text novels) classified against the corpus — incoming
    //    bands join CORPUS bands, never a corpus self-join.
    QueryDef("q_dedup_incremental",
      (s, d) => {
        val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val inc = corpus.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
          .unionByName(corpus.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"),
              concat(col("text"), lit(" graft tail xyz")).as("text")))
          .unionByName(corpus.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 4000000L).as("doc_id"),
              reverse(col("text")).as("text")))
        graft.ops.Dedup.incrementalStatus(inc, corpus)
      },
      Some {
        val mh = PortableSql.hexSliceToLong("hx", "j * 8")
        def sigSql(src: String) =
          s"""(WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
             |sh AS (SELECT doc_id,
             |              unnest(list_transform(range(1, len(ws) - 1),
             |                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
             |       FROM w WHERE len(ws) >= 3),
             |sh2 AS (SELECT doc_id, concat(md5(shingle), md5(concat('x', shingle))) AS hx FROM sh)
             |SELECT doc_id, j, min($mh) AS mh
             |FROM sh2 CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) hj(j)
             |GROUP BY doc_id, j)""".stripMargin
        def bandSql(sig: String) =
          s"""(SELECT doc_id, j // 2 AS band,
             |        concat(CAST(min(CASE WHEN j % 2 = 0 THEN mh END) AS VARCHAR), ':',
             |               CAST(min(CASE WHEN j % 2 = 1 THEN mh END) AS VARCHAR)) AS bv
             | FROM $sig GROUP BY doc_id, j // 2)""".stripMargin
        s"""WITH corpus AS (SELECT doc_id, text FROM documents),
           |inc AS (
           |  SELECT doc_id + 3000000 AS doc_id, text FROM corpus WHERE doc_id % 11 = 0
           |  UNION ALL
           |  SELECT doc_id + 2000000 AS doc_id, text || ' graft tail xyz' AS text
           |  FROM corpus WHERE doc_id % 5 = 0
           |  UNION ALL
           |  SELECT doc_id + 4000000 AS doc_id, reverse(text) AS text
           |  FROM corpus WHERE doc_id % 13 = 0),
           |ex AS (SELECT DISTINCT i.doc_id FROM inc i
           |       JOIN (SELECT DISTINCT md5(text) AS m FROM corpus) c ON md5(i.text) = c.m),
           |sigI AS (SELECT * FROM ${sigSql("inc")} t),
           |sigC AS (SELECT * FROM ${sigSql("corpus")} t),
           |bI AS (SELECT * FROM ${bandSql("sigI")} t),
           |bC AS (SELECT * FROM ${bandSql("sigC")} t),
           |cand AS (SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS corp_id
           |         FROM bI a JOIN bC b ON a.band = b.band AND a.bv = b.bv),
           |near AS (SELECT DISTINCT in_id AS doc_id FROM (
           |           SELECT c.in_id, c.corp_id
           |           FROM cand c
           |           JOIN sigI x ON x.doc_id = c.in_id
           |           JOIN sigC y ON y.doc_id = c.corp_id AND y.j = x.j
           |           GROUP BY c.in_id, c.corp_id
           |           HAVING sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) >= 6) t)
           |SELECT i.doc_id,
           |       CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
           |            WHEN near.doc_id IS NOT NULL THEN 'near_dup'
           |            ELSE 'novel' END AS status
           |FROM inc i
           |LEFT JOIN ex ON i.doc_id = ex.doc_id
           |LEFT JOIN near ON i.doc_id = near.doc_id""".stripMargin
      }),

    // ── Weighted (term-frequency) Jaccard at τ = 0.3: repeated terms
    //    count via Σmin / (totA + totB − Σmin).
    QueryDef("q_jaccard_weighted",
      (s, d) => Dedup.weightedJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 50)
          .select(col("doc_id"), col("text")),
        300000L),
      Some("""WITH tf AS (SELECT doc_id, wd AS word, CAST(count(*) AS BIGINT) AS tf
             |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |                  FROM documents WHERE doc_id < 50) u
             |            WHERE wd <> '' GROUP BY 1, 2),
             |tot AS (SELECT doc_id, sum(tf) AS tot FROM tf GROUP BY doc_id),
             |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |              sum(least(a.tf, b.tf)) AS wmin
             |       FROM tf a JOIN tf b ON a.word = b.word AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2)
             |SELECT sh.doc_a, sh.doc_b, CAST(sh.wmin AS BIGINT) AS wmin,
             |       CAST(ta.tot + tb.tot - sh.wmin AS BIGINT) AS wuni
             |FROM sh JOIN tot ta ON ta.doc_id = sh.doc_a
             |        JOIN tot tb ON tb.doc_id = sh.doc_b
             |WHERE sh.wmin * 1000000 >= 300000 * (ta.tot + tb.tot - sh.wmin)""".stripMargin)),

    // ── Prefix-filtered exact Jaccard join at τ = 0.2 over the word sets
    //    of the first 50 documents; the oracle is the NAIVE all-pairs
    //    Jaccard with the same threshold — equality proves the prefix
    //    filter lossless.
    QueryDef("q_jaccard_prefix",
      (s, d) => Dedup.jaccardPrefixJoin(
        Tables.documents(s, d).filter(col("doc_id") < 50)
          .select(col("doc_id"), col("text")),
        200000L),
      Some("""WITH w AS (SELECT DISTINCT doc_id, wd AS word
             |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |                 FROM documents WHERE doc_id < 50) u
             |           WHERE wd <> ''),
             |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM w GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                 CAST(count(*) AS BIGINT) AS inter
             |          FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT i.doc_a, i.doc_b, i.inter,
             |       sa.sz + sb.sz - i.inter AS uni
             |FROM inter i
             |JOIN sizes sa ON sa.doc_id = i.doc_a
             |JOIN sizes sb ON sb.doc_id = i.doc_b
             |WHERE i.inter * 1000000 >= 200000 * (sa.sz + sb.sz - i.inter)""".stripMargin)),

    // ── Length-scaled similarity join: τ steps down from 0.5 (short
    //    docs) to 0.15 (long docs) on the smaller side's size; the
    //    oracle applies the same bands to the naive all-pairs join.
    QueryDef("q_jaccard_adaptive",
      (s, d) => {
        val bands = s.createDataFrame(Seq(
          (0L, 40L, 500000L), (40L, 80L, 300000L),
          (80L, 1000000000L, 150000L)))
          .toDF("len_lo", "len_hi", "tau_e6")
        Dedup.jaccardPrefixJoinAdaptive(
          Tables.documents(s, d).filter(col("doc_id") < 80)
            .select(col("doc_id"), col("text")), bands)
      },
      Some("""WITH w AS (SELECT DISTINCT doc_id, wd AS word
             |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |                 FROM documents WHERE doc_id < 80) u
             |           WHERE wd <> ''),
             |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM w GROUP BY doc_id),
             |bands(len_lo, len_hi, tau_e6) AS (VALUES (0, 40, 500000),
             |        (40, 80, 300000), (80, 1000000000, 150000)),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                 CAST(count(*) AS BIGINT) AS inter
             |          FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT i.doc_a, i.doc_b, i.inter,
             |       sa.sz + sb.sz - i.inter AS uni,
             |       CAST(bands.tau_e6 AS BIGINT) AS tau_applied_e6
             |FROM inter i
             |JOIN sizes sa ON sa.doc_id = i.doc_a
             |JOIN sizes sb ON sb.doc_id = i.doc_b
             |JOIN bands ON least(sa.sz, sb.sz) >= bands.len_lo
             |          AND least(sa.sz, sb.sz) < bands.len_hi
             |WHERE i.inter * 1000000 >= bands.tau_e6 * (sa.sz + sb.sz - i.inter)""".stripMargin)),

    // ── Sorted-neighborhood blocking over (lang, n_chars): candidate
    //    pairs within rank distance 3, kept when token Jaccard ≥ 0.30.
    //    The engine's rank is distributed (range partitions + offsets);
    //    the oracle's is one window — same total order, same pairs.
    QueryDef("q_sorted_neighborhood",
      (s, d) => Dedup.sortedNeighborPairs(Tables.documents(s, d), 3, 300000L),
      Some("""WITH r AS (
             |  SELECT doc_id, row_number() OVER (
             |           ORDER BY lang, n_chars, doc_id) AS r
             |  FROM documents),
             |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                b.r - a.r AS gap
             |         FROM r a JOIN r b ON b.r > a.r AND b.r <= a.r + 3),
             |w AS (SELECT DISTINCT doc_id, wd AS word
             |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |            FROM documents) u WHERE wd <> ''),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM w GROUP BY doc_id),
             |inter AS (SELECT c.doc_a, c.doc_b, c.gap, count(*) AS i
             |          FROM cand c
             |          JOIN w wa ON wa.doc_id = c.doc_a
             |          JOIN w wb ON wb.doc_id = c.doc_b AND wb.word = wa.word
             |          GROUP BY 1, 2, 3)
             |SELECT i.doc_a, i.doc_b, CAST(i.gap AS BIGINT) AS gap,
             |       CAST(i.i * 1000000 // (sa.sz + sb.sz - i.i) AS BIGINT) AS jac_e6
             |FROM inter i
             |JOIN sizes sa ON sa.doc_id = i.doc_a
             |JOIN sizes sb ON sb.doc_id = i.doc_b
             |WHERE i.i * 1000000 >= 300000 * (sa.sz + sb.sz - i.i)""".stripMargin)),

    // ── Directed containment pairs at τ = 0.8 on a bounded slice: the
    //    engine goes through the lossless A-side prefix filter; the
    //    oracle brute-forces all pairs — equality proves losslessness.
    QueryDef("q_containment",
      (s, d) => Dedup.containmentPrefixJoin(
        Tables.documents(s, d).filter(col("doc_id") < 80)
          .select(col("doc_id"), col("text")),
        800000L),
      Some("""WITH w AS (SELECT DISTINCT doc_id, wd AS word
             |           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |                 FROM documents WHERE doc_id < 80) u
             |           WHERE wd <> ''),
             |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
             |          FROM w GROUP BY doc_id),
             |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |                 CAST(count(*) AS BIGINT) AS inter
             |          FROM w a JOIN w b
             |            ON a.word = b.word AND a.doc_id <> b.doc_id
             |          GROUP BY 1, 2)
             |SELECT i.doc_a, i.doc_b, i.inter, sa.sz AS sza
             |FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
             |WHERE i.inter * 1000000 >= 800000 * sa.sz""".stripMargin)),

    // ── How much duplicate mass is formatting-only?
    QueryDef("q_dedup_normalized",
      (s, d) => Dedup.normalizedStats(
        Tables.documents(s, d).select(col("doc_id"), col("text"))),
      Some("""WITH g AS (
             |  SELECT md5(regexp_replace(lower(text), '[^a-z0-9 ]', '',
             |               'g')) AS norm_md5,
             |         CAST(count(*) AS BIGINT) AS n,
             |         CAST(count(DISTINCT md5(text)) AS BIGINT)
             |           AS raw_variants
             |  FROM documents GROUP BY 1)
             |SELECT CAST(sum(n) AS BIGINT) AS n_docs,
             |       CAST(count(*) AS BIGINT) AS n_groups,
             |       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_dup_groups,
             |       CAST(sum(CASE WHEN n > 1 AND raw_variants = n
             |                THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_format_only_groups,
             |       CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
             |         AS docs_in_dup_groups
             |FROM g""".stripMargin)),

    // ── Reciprocal best match between embedding folds 0 and 1 (the
    //    mutual-nearest-neighbor entity-linking rule): keep (a, b) only
    //    when b is a's exact-L2 argmin AND a is b's. Distances are the
    //    repo-standard e6-quantized exact integer squared L2; fold 1
    //    broadcasts (the smaller linking side), fold 0 never shuffles
    //    until the two argmin windows.
    QueryDef("q_reciprocal_best",
      (s, d) => {
        val q = Tables.embeddings(s, d).select(col("vec_id"),
          expr("""transform(CAST(embedding AS ARRAY<DOUBLE>),
                 |x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))
                 |""".stripMargin).as("qv"))
        val width = s.sessionState.conf.numShufflePartitions
        val a = q.filter(col("vec_id") % 5 === 0)
          .select(col("vec_id").as("a_id"), col("qv").as("av"))
          .repartition(width)
        val b = q.filter(col("vec_id") % 5 === 1)
          .select(col("vec_id").as("b_id"), col("qv").as("bv"))
        val pairs = a.crossJoin(broadcast(b))
          .select(col("a_id"), col("b_id"),
            expr("""aggregate(zip_with(av, bv, (x, y) -> (x - y) * (x - y)),
                   |0L, (acc, v) -> acc + v)""".stripMargin).as("d2_e12"))
          .localCheckpoint(false) // both argmin windows read ONE pair scan
        val bestA = pairs.withColumn("rk", row_number().over(
            Window.partitionBy(col("a_id"))
              .orderBy(col("d2_e12"), col("b_id"))))
          .filter(col("rk") === 1).drop("rk")
        val bestB = pairs.withColumn("rk", row_number().over(
            Window.partitionBy(col("b_id"))
              .orderBy(col("d2_e12"), col("a_id"))))
          .filter(col("rk") === 1).select(col("a_id"), col("b_id"))
        bestA.join(bestB, Seq("a_id", "b_id"))
          .select(col("a_id"), col("b_id"), col("d2_e12"))
      },
      Some("""WITH q AS MATERIALIZED (
             |  SELECT vec_id,
             |         list_transform(CAST(embedding AS DOUBLE[]),
             |           x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
             |  FROM embeddings),
             |pairs AS MATERIALIZED (
             |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |         list_sum(list_transform(generate_series(1, len(a.qv)),
             |           i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))
             |           AS d2_e12
             |  FROM q a JOIN q b
             |    ON a.vec_id % 5 = 0 AND b.vec_id % 5 = 1),
             |ba AS (SELECT a_id, b_id, d2_e12 FROM (
             |         SELECT a_id, b_id, d2_e12, row_number() OVER
             |           (PARTITION BY a_id ORDER BY d2_e12, b_id) AS rk
             |         FROM pairs) WHERE rk = 1),
             |bb AS (SELECT a_id, b_id FROM (
             |         SELECT a_id, b_id, row_number() OVER
             |           (PARTITION BY b_id ORDER BY d2_e12, a_id) AS rk
             |         FROM pairs) WHERE rk = 1)
             |SELECT ba.a_id, ba.b_id, CAST(ba.d2_e12 AS BIGINT) AS d2_e12
             |FROM ba JOIN bb ON ba.a_id = bb.a_id AND ba.b_id = bb.b_id
             |""".stripMargin)),

    // ── MinHash LSH S-curve calibration: candidate pairs grouped by
    //    their equal-minhash count (est. Jaccard = n_eq/8), with the
    //    ANALYTIC collision probability of the 4-band × 2-row scheme at
    //    that similarity: p = 1 − (1 − s²)⁴ — integer-exact in e6 as
    //    1e6 − (64 − n_eq²)⁴·1e6 div 64⁴. The table that justifies (or
    //    indicts) the banding choice.
    QueryDef("q_minhash_curve",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        Dedup.candidates(Dedup.minhash(Dedup.shingles(docs)))
          .groupBy(col("n_eq"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("n_bands")).as("sum_shared_bands"))
          .select(col("n_eq"), col("n_pairs"), col("sum_shared_bands"),
            expr("n_eq * 1000000 div 8").as("est_jaccard_e6"),
            expr("""1000000 - (64 - n_eq * n_eq) * (64 - n_eq * n_eq)
                   |* (64 - n_eq * n_eq) * (64 - n_eq * n_eq) * 1000000
                   |div 16777216""".stripMargin).as("collision_prob_e6"))
      },
      Some {
        // the shared oracle twin of candidates∘minhash∘shingles
        val cand = candSql("(SELECT doc_id, text FROM documents)")
        s"""WITH cand AS (SELECT * FROM $cand c0)
           |SELECT CAST(n_eq AS BIGINT) AS n_eq,
           |       CAST(count(*) AS BIGINT) AS n_pairs,
           |       CAST(sum(n_bands) AS BIGINT) AS sum_shared_bands,
           |       CAST(n_eq * 1000000 // 8 AS BIGINT) AS est_jaccard_e6,
           |       CAST(1000000 - (64 - n_eq * n_eq) * (64 - n_eq * n_eq)
           |            * (64 - n_eq * n_eq) * (64 - n_eq * n_eq) * 1000000
           |            // 16777216 AS BIGINT) AS collision_prob_e6
           |FROM cand GROUP BY n_eq""".stripMargin
      }),

    // ── FS weights: clean customers vs a deterministically-perturbed
    //    copy (every-7th name, every-13th segment, every-11th balance),
    //    blocked on (nation, shifted-balance bucket). Truth = same key.
    QueryDef("q_fellegi_sunter",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_custkey").as("ck"),
          col("c_name").as("nm"), col("c_mktsegment").as("sg"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bc"),
          col("c_nationkey").as("nk"))
        val clean = c.withColumn("blk", expr("(bc + 100000) div 100000"))
        val dirty = c.select(col("ck").as("ck2"),
            when(col("ck") % 7 === 0, concat(col("nm"), lit("X")))
              .otherwise(col("nm")).as("nm2"),
            when(col("ck") % 13 === 0, lit("PERTURBED"))
              .otherwise(col("sg")).as("sg2"),
            when(col("ck") % 11 === 0, col("bc") + 100L)
              .otherwise(col("bc")).as("bc2"),
            col("nk").as("nk2"))
          .withColumn("blk2", expr("(bc2 + 100000) div 100000"))
        val pairs = clean.join(dirty,
            col("nk") === col("nk2") && col("blk") === col("blk2"))
          .select((col("nm") === col("nm2")).as("f1"),
            (col("sg") === col("sg2")).as("f2"),
            (col("bc") === col("bc2")).as("f3"),
            (col("ck") === col("ck2")).as("is_match"))
        FuzzyJoin.fellegiSunter(pairs)
      },
      Some {
        def lg(x: String, y: String) =
          Bm25.log2E6Sql(s"greatest($x, 1)") + " - " +
            Bm25.log2E6Sql(s"greatest($y, 1)")
        def term(k: Int) =
          s"""CASE WHEN f$k THEN ${lg(s"(a$k * u)", s"(b$k * m)")}
             |     ELSE ${lg(s"((m - a$k) * u)", s"((u - b$k) * m)")} END""".stripMargin
        s"""WITH c AS (SELECT c_custkey AS ck, c_name AS nm, c_mktsegment AS sg,
           |                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bc,
           |                 c_nationkey AS nk
           |          FROM customer),
           |clean AS (SELECT *, (bc + 100000) // 100000 AS blk FROM c),
           |dirty AS (SELECT ck AS ck2,
           |                 CASE WHEN ck % 7 = 0 THEN nm || 'X' ELSE nm END AS nm2,
           |                 CASE WHEN ck % 13 = 0 THEN 'PERTURBED' ELSE sg END AS sg2,
           |                 CASE WHEN ck % 11 = 0 THEN bc + 100 ELSE bc END AS bc2,
           |                 nk AS nk2
           |          FROM c),
           |d2 AS (SELECT *, (bc2 + 100000) // 100000 AS blk2 FROM dirty),
           |pairs AS (SELECT nm = nm2 AS f1, sg = sg2 AS f2, bc = bc2 AS f3,
           |                 ck = ck2 AS is_match
           |          FROM clean JOIN d2 ON nk = nk2 AND blk = blk2),
           |pat AS (SELECT f1, f2, f3, CAST(count(*) AS BIGINT) AS n_pairs,
           |               CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
           |                 AS n_match
           |        FROM pairs GROUP BY 1, 2, 3),
           |tot AS (SELECT CAST(sum(n_match) AS BIGINT) AS m,
           |               CAST(sum(n_pairs - n_match) AS BIGINT) AS u,
           |               CAST(sum(CASE WHEN f1 THEN n_match ELSE 0 END) AS BIGINT) AS a1,
           |               CAST(sum(CASE WHEN f1 THEN n_pairs - n_match ELSE 0 END) AS BIGINT) AS b1,
           |               CAST(sum(CASE WHEN f2 THEN n_match ELSE 0 END) AS BIGINT) AS a2,
           |               CAST(sum(CASE WHEN f2 THEN n_pairs - n_match ELSE 0 END) AS BIGINT) AS b2,
           |               CAST(sum(CASE WHEN f3 THEN n_match ELSE 0 END) AS BIGINT) AS a3,
           |               CAST(sum(CASE WHEN f3 THEN n_pairs - n_match ELSE 0 END) AS BIGINT) AS b3
           |        FROM pat)
           |SELECT f1, f2, f3, n_pairs, n_match,
           |       CAST((${term(1)}) + (${term(2)}) + (${term(3)}) AS BIGINT)
           |         AS weight_e6
           |FROM pat CROSS JOIN tot""".stripMargin
      }),

    // ── BoW cosine near-dup pairs over the first 50 documents.
    QueryDef("q_bow_cosine",
      (s, d) => TextAnalysis.bowCosinePairs(
        Tables.documents(s, d).where(col("doc_id") < 50)
          .select(col("doc_id"), col("text"))),
      Some("""WITH counts AS (
             |  SELECT doc_id, wd AS word, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS wd
             |        FROM documents WHERE doc_id < 50) u
             |  WHERE wd <> '' GROUP BY 1, 2),
             |norms AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS nrm
             |          FROM counts GROUP BY 1),
             |dots AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |         CAST(sum(a.c * b.c) AS BIGINT) AS dot
             |  FROM counts a JOIN counts b
             |    ON a.word = b.word AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |scored AS (
             |  SELECT doc_a, doc_b, dot,
             |         round(CAST(dot AS DOUBLE) /
             |           sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)),
             |           6) AS cos
             |  FROM dots JOIN norms na ON na.doc_id = doc_a
             |       JOIN norms nb ON nb.doc_id = doc_b)
             |SELECT doc_a, doc_b, dot, cos FROM scored
             |WHERE cos >= 0.5""".stripMargin)),

    // ── Blocking quality of the (nation, balance-bucket) key from
    //    q_fellegi_sunter: candidate reduction vs match recall.
    QueryDef("q_blocking_quality",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_custkey").as("ck"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bc"),
          col("c_nationkey").as("nk"))
        val clean = c.withColumn("blk", expr("(bc + 100000) div 100000"))
        val dirty = c.select(col("ck").as("ck2"),
            when(col("ck") % 11 === 0, col("bc") + 100L)
              .otherwise(col("bc")).as("bc2"),
            col("nk").as("nk2"))
          .withColumn("blk2", expr("(bc2 + 100000) div 100000"))
        val cand = clean.join(dirty,
            col("nk") === col("nk2") && col("blk") === col("blk2"))
          .agg(count(lit(1)).as("n_cand"),
            sum(when(col("ck") === col("ck2"), 1L).otherwise(0L))
              .as("n_match_cand"))
        val n = clean.agg(count(lit(1)).as("n"))
        cand.crossJoin(broadcast(n))
          .selectExpr("n", "n_cand", "n_match_cand",
            "1000000 - n_cand * 1000000 div (n * n) AS reduction_e6",
            "n_match_cand * 1000000 div n AS completeness_e6")
      },
      Some("""WITH c AS (SELECT c_custkey AS ck,
             |                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
             |                   AS bc,
             |                 c_nationkey AS nk
             |          FROM customer),
             |clean AS (SELECT *, (bc + 100000) // 100000 AS blk FROM c),
             |dirty AS (SELECT ck AS ck2,
             |                 CASE WHEN ck % 11 = 0 THEN bc + 100
             |                      ELSE bc END AS bc2,
             |                 nk AS nk2
             |          FROM c),
             |d2 AS (SELECT *, (bc2 + 100000) // 100000 AS blk2 FROM dirty),
             |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand,
             |                CAST(sum(CASE WHEN ck = ck2 THEN 1 ELSE 0 END)
             |                  AS BIGINT) AS n_match_cand
             |         FROM clean JOIN d2
             |           ON nk = nk2 AND blk = blk2),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM clean)
             |SELECT n, n_cand, n_match_cand,
             |       1000000 - n_cand * 1000000 // (n * n) AS reduction_e6,
             |       n_match_cand * 1000000 // n AS completeness_e6
             |FROM cand CROSS JOIN n""".stripMargin)),

    // ── Golden record: survivorship rules over the clean + perturbed
    //    version pairs — longest name, clean-priority segment, max
    //    balance; conflict count per entity. Bounded output sample
    //    (ck % 7 = 0) keeps the driver compare light.
    QueryDef("q_golden_record",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_custkey").as("ck"),
          col("c_name").as("nm"), col("c_mktsegment").as("sg"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bc"))
        val clean = c.select(col("ck"), col("nm"), col("sg"), col("bc"),
          lit(0L).as("src"))
        val dirty = c.select(col("ck"),
          when(col("ck") % 7 === 0, concat(col("nm"), lit("X")))
            .otherwise(col("nm")).as("nm"),
          when(col("ck") % 13 === 0, lit("PERTURBED"))
            .otherwise(col("sg")).as("sg"),
          when(col("ck") % 11 === 0, col("bc") + 100L)
            .otherwise(col("bc")).as("bc"),
          lit(1L).as("src"))
        clean.unionByName(dirty).where(col("ck") % 7 === 0)
          .groupBy(col("ck"))
          .agg(
            max(struct(length(col("nm")).as("l"), col("nm").as("v")))
              .getField("v").as("g_name"),
            min(struct(col("src").as("r"), col("sg").as("v")))
              .getField("v").as("g_segment"),
            max(col("bc")).as("g_bal_cents"),
            countDistinct(col("nm")).as("nm_variants"),
            (countDistinct(col("nm")) - 1 + countDistinct(col("sg")) - 1 +
              countDistinct(col("bc")) - 1).as("n_conflicts"))
      },
      Some("""WITH c AS (SELECT c_custkey AS ck, c_name AS nm,
             |                 c_mktsegment AS sg,
             |                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
             |                   AS bc
             |          FROM customer),
             |v AS (
             |  SELECT ck, nm, sg, bc, 0 AS src FROM c
             |  UNION ALL
             |  SELECT ck,
             |         CASE WHEN ck % 7 = 0 THEN nm || 'X' ELSE nm END,
             |         CASE WHEN ck % 13 = 0 THEN 'PERTURBED' ELSE sg END,
             |         CASE WHEN ck % 11 = 0 THEN bc + 100 ELSE bc END,
             |         1
             |  FROM c),
             |vf AS (SELECT * FROM v WHERE ck % 7 = 0),
             |gn AS (SELECT ck, nm AS g_name FROM (
             |         SELECT ck, nm, row_number() OVER (PARTITION BY ck
             |           ORDER BY length(nm) DESC, nm DESC) AS rn FROM vf)
             |       WHERE rn = 1),
             |gs AS (SELECT ck, sg AS g_segment FROM (
             |         SELECT ck, sg, row_number() OVER (PARTITION BY ck
             |           ORDER BY src, sg) AS rn FROM vf)
             |       WHERE rn = 1),
             |ag AS (SELECT ck, CAST(max(bc) AS BIGINT) AS g_bal_cents,
             |              CAST(count(DISTINCT nm) AS BIGINT) AS nm_variants,
             |              CAST(count(DISTINCT nm) - 1
             |                   + count(DISTINCT sg) - 1
             |                   + count(DISTINCT bc) - 1 AS BIGINT)
             |                AS n_conflicts
             |       FROM vf GROUP BY 1)
             |SELECT ag.ck, g_name, g_segment, g_bal_cents, nm_variants,
             |       n_conflicts
             |FROM ag JOIN gn ON ag.ck = gn.ck
             |     JOIN gs ON ag.ck = gs.ck""".stripMargin)),

    // ── Block dedup: 64-byte payload blocks, hash-distinct per source.
    QueryDef("q_block_dedup",
      (s, d) => {
        val blocks = Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            explode(expr(
              "transform(sequence(0, (length(text) - 1) div 64), " +
                "i -> substring(text, i * 64 + 1, 64))")).as("block"))
          .withColumn("h", Dedup.hash48(col("block"), lit("blk")))
        blocks.groupBy(col("source"))
          .agg(count(lit(1)).as("total_blocks"),
            countDistinct(col("h")).as("distinct_blocks"))
          .withColumn("dedup_ratio_e6",
            expr("distinct_blocks * 1000000 div total_blocks"))
      },
      Some {
        val h = PortableSql.hash48("block", "'blk'")
        s"""WITH blocks AS (
           |  SELECT source, doc_id,
           |         unnest(list_transform(
           |           generate_series(0, (length(text) - 1) // 64),
           |           i -> substr(text, i * 64 + 1, 64))) AS block
           |  FROM documents),
           |hashed AS (SELECT source, $h AS h FROM blocks)
           |SELECT source, CAST(count(*) AS BIGINT) AS total_blocks,
           |       CAST(count(DISTINCT h) AS BIGINT) AS distinct_blocks,
           |       CAST(count(DISTINCT h) AS BIGINT) * 1000000 // count(*)
           |         AS dedup_ratio_e6
           |FROM hashed GROUP BY 1""".stripMargin
      }),

    // ── Winnowing (w = 4, k = 5): per doc the selected fingerprint
    //    density vs the 2/(w+1) theory. Rightmost-min selection.
    QueryDef("q_winnowing",
      (s, d) => {
        val grams = Tables.documents(s, d).where(col("doc_id") < 200)
          .select(col("doc_id"),
            explode(expr(
              "transform(sequence(1, greatest(length(text) - 4, 1)), " +
                "i -> struct(i AS pos, substring(text, i, 5) AS g))"))
              .as("t"))
          .select(col("doc_id"), col("t.pos").as("pos"),
            Dedup.hash48(col("t.g"), lit("win")).as("h"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(-3, 0)
        val sel = grams
          .withColumn("wmin", min(col("h")).over(w))
          .withColumn("rw", max(when(col("h") === col("wmin"), col("pos")))
            .over(w))
          .where(col("pos") === col("rw"))
          .select(col("doc_id"), col("rw")).distinct()
        grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
          .join(sel.groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_fingerprints")), "doc_id")
          .withColumn("density_e6",
            expr("n_fingerprints * 1000000 div n_grams"))
      },
      Some {
        val h = PortableSql.hash48("g", "'win'")
        s"""WITH grams AS MATERIALIZED (
           |  SELECT doc_id, pos, $h AS h FROM (
           |    SELECT doc_id,
           |           unnest(generate_series(1,
           |             greatest(length(text) - 4, 1))) AS pos,
           |           unnest(list_transform(generate_series(1,
           |             greatest(length(text) - 4, 1)),
           |             i -> substr(text, i, 5))) AS g
           |    FROM documents WHERE doc_id < 200)),
           |wnd1 AS (SELECT doc_id, pos, h,
           |                min(h) OVER w AS wmin
           |         FROM grams
           |         WINDOW w AS (PARTITION BY doc_id ORDER BY pos
           |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
           |wnd AS (SELECT doc_id, pos,
           |               max(CASE WHEN h = wmin THEN pos END)
           |                 OVER w AS rw
           |        FROM wnd1
           |        WINDOW w AS (PARTITION BY doc_id ORDER BY pos
           |                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
           |sel AS (SELECT DISTINCT doc_id, rw FROM wnd
           |        WHERE pos = rw),
           |ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
           |       FROM grams GROUP BY 1),
           |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints
           |       FROM sel GROUP BY 1)
           |SELECT ng.doc_id, n_grams, n_fingerprints,
           |       n_fingerprints * 1000000 // n_grams AS density_e6
           |FROM ng JOIN nf ON ng.doc_id = nf.doc_id""".stripMargin
      }),

    // ── Tversky (directed containments + Dice) over customer-cohort
    //    part baskets, candidates ONLY through the shared-part inverted
    //    index; top-100 by Dice keeps the output ranked and bounded.
    QueryDef("q_tversky",
      (s, d) => {
        val b = Tables.lineitem(s, d)
          .join(Tables.orders(s, d)
            .select(col("o_orderkey"), (col("o_custkey") % 200).as("cg")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("cg"), col("l_partkey").as("pk")).distinct()
          .localCheckpoint(false) // index + both sizes
        val sizes = b.groupBy(col("cg")).agg(count(lit(1)).as("sz"))
        val p2 = b.select(col("pk"), col("cg").as("cg2"))
        val inter = b.join(p2, "pk").where(col("cg") < col("cg2"))
          .groupBy(col("cg"), col("cg2")).agg(count(lit(1)).as("inter"))
          .where(col("inter") >= 5)
        inter
          .join(sizes, "cg")
          .join(sizes.select(col("cg").as("cg2"), col("sz").as("sz2")),
            "cg2")
          .selectExpr("cg AS basket_a", "cg2 AS basket_b", "inter",
            "sz AS n_a", "sz2 AS n_b",
            "inter * 1000000 div sz AS containment_ab_e6",
            "inter * 1000000 div sz2 AS containment_ba_e6",
            "2 * inter * 1000000 div (sz + sz2) AS dice_e6")
          .withColumn("rk", row_number().over(
            Window.orderBy(col("dice_e6").desc, col("basket_a"),
              col("basket_b"))))
          .where(col("rk") <= 100)
      },
      Some("""WITH b AS (
             |  SELECT DISTINCT o_custkey % 200 AS cg, l_partkey AS pk
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |sizes AS (SELECT cg, CAST(count(*) AS BIGINT) AS sz
             |          FROM b GROUP BY 1),
             |inter AS (SELECT a.cg, b2.cg AS cg2,
             |                 CAST(count(*) AS BIGINT) AS inter
             |          FROM b a JOIN b b2
             |            ON a.pk = b2.pk AND a.cg < b2.cg
             |          GROUP BY 1, 2 HAVING count(*) >= 5),
             |sc AS (SELECT i.cg AS basket_a, i.cg2 AS basket_b, inter,
             |              sa.sz AS n_a, sb.sz AS n_b,
             |              inter * 1000000 // sa.sz AS containment_ab_e6,
             |              inter * 1000000 // sb.sz AS containment_ba_e6,
             |              2 * inter * 1000000 // (sa.sz + sb.sz) AS dice_e6
             |       FROM inter i JOIN sizes sa ON i.cg = sa.cg
             |            JOIN sizes sb ON i.cg2 = sb.cg)
             |SELECT * FROM (
             |  SELECT *, CAST(row_number() OVER (ORDER BY dice_e6 DESC,
             |    basket_a, basket_b) AS BIGINT) AS rk FROM sc)
             |WHERE rk <= 100""".stripMargin)),

    // ── Canonical selection: near-dup clusters (the q_dedup_clusters
    //    pipeline) keep their BEST doc — argmax of (source priority,
    //    n_chars, −doc_id) via one struct max — instead of the minimum
    //    id. This is what production dedup actually ships: prefer the
    //    curated source, then the longest copy. One keyed aggregate
    //    over the cluster id; no sort, no window.
    QueryDef("q_dedup_canonical",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val cand = Dedup.candidates(Dedup.minhash(Dedup.shingles(docs)))
        val edges = cand.filter(col("n_eq") >= 6)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val cc = Dedup.connectedComponents(
          docs.select(col("doc_id").as("id")), edges)
        val prio = docs.select(col("doc_id").as("id"),
          when(col("source") === "wiki", 3L)
            .when(col("source") === "news", 2L).otherwise(1L).as("prio"),
          col("n_chars"))
        cc.join(prio, "id")
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_docs"),
            max(struct(col("prio"), col("n_chars"), (-col("id")).as("negid")))
              .as("best"))
          .where(col("n_docs") > 1)
          .select(col("cluster_id"), col("n_docs"),
            (-col("best.negid")).as("keep_doc_id"),
            col("best.prio").as("keep_prio"),
            col("best.n_chars").as("keep_n_chars"))
      },
      Some(s"""WITH RECURSIVE cand AS (SELECT * FROM ${
                candSql("(SELECT doc_id, text FROM documents)")
              } c0),
              |e2 AS (SELECT doc_a AS a, doc_b AS b FROM cand WHERE n_eq >= 6
              |       UNION ALL
              |       SELECT doc_b, doc_a FROM cand WHERE n_eq >= 6),
              |ids AS (SELECT doc_id FROM documents),
              |reach(id, label) AS (
              |  SELECT doc_id, doc_id FROM ids
              |  UNION
              |  SELECT e2.b, r.label FROM reach r JOIN e2 ON e2.a = r.id),
              |cc AS (SELECT id, min(label) AS cluster_id FROM reach
              |       GROUP BY id),
              |pr AS (SELECT doc_id AS id,
              |              CASE WHEN source = 'wiki' THEN 3
              |                   WHEN source = 'news' THEN 2
              |                   ELSE 1 END AS prio,
              |              n_chars
              |       FROM documents),
              |j AS (SELECT cluster_id, id, prio, n_chars,
              |             count(*) OVER (PARTITION BY cluster_id) AS n_docs,
              |             row_number() OVER (PARTITION BY cluster_id
              |               ORDER BY prio DESC, n_chars DESC, id ASC) AS rk
              |      FROM cc JOIN pr USING (id))
              |SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
              |       id AS keep_doc_id,
              |       CAST(prio AS BIGINT) AS keep_prio,
              |       CAST(n_chars AS BIGINT) AS keep_n_chars
              |FROM j WHERE rk = 1 AND n_docs > 1""".stripMargin)),

    /* The audits a dedup pipeline runs on ITSELF —
     * measured LSH recall by true-Jaccard band (does the 4-band/2-row
     * MinHash config actually catch what it promises; truth from the
     * lossless prefix join, candidates from the production LSH path),
     * shingle document-frequency skew (hot blocking keys are the salting
     * decision input — one shingle in half the corpus means one straggler
     * bucket at 100 TB), and the dedup threshold sweep (pair volume at
     * τ ∈ {0.3, 0.5, 0.7, 0.9} from ONE τ=0.3 join — the policy-knob
     * curve). Truth joins run on the doc_id<200 slice + injected
     * near-dups (the house corpus-injection convention); the LSH and
     * shingle paths are the production operators unchanged. */

    // ── LSH recall by true-Jaccard decile (≥0.5): truth pairs from the
    //    prefix join, hits = pairs the banded MinHash path also
    //    surfaces. Both sides are the production operators; the left
    //    join is on the tiny pair frame.
    QueryDef("q_lsh_recall",
      (s, d) => {
        val docs = slice(s, d)
        val truth = Dedup.jaccardPrefixJoin(docs, 500000L)
        val cands = Dedup.candidates(Dedup.minhash(Dedup.shingles(docs)))
          .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
        truth.join(cands, Seq("doc_a", "doc_b"), "left")
          .groupBy(expr("least(inter * 10 div uni, 9)").as("band"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .selectExpr("CAST(band AS BIGINT) AS band",
            "CAST(n_pairs AS BIGINT) AS n_pairs",
            "CAST(n_hit AS BIGINT) AS n_hit",
            "n_hit * 1000000 div n_pairs AS recall_e6")
      },
      Some(s"""WITH truth AS (SELECT * FROM ${truthSql(sliceSql, 500000L)} t),
             |cands AS (SELECT doc_a, doc_b, 1 AS hit
             |          FROM ${candSql(sliceSql)} c)
             |SELECT CAST(least(truth.inter * 10 // truth.uni, 9)
             |         AS BIGINT) AS band,
             |       CAST(count(*) AS BIGINT) AS n_pairs,
             |       CAST(sum(coalesce(cands.hit, 0)) AS BIGINT) AS n_hit,
             |       CAST(sum(coalesce(cands.hit, 0)) AS BIGINT) * 1000000
             |         // count(*) AS recall_e6
             |FROM truth LEFT JOIN cands
             |  ON truth.doc_a = cands.doc_a AND truth.doc_b = cands.doc_b
             |GROUP BY 1""".stripMargin)),

    // ── Shingle DF skew: document frequency of every 3-shingle over
    //    the FULL corpus, top 20 + share of total shingle-postings
    //    mass — the blocking-key hot-spot audit (one keyed rollup; the
    //    production shingle op unchanged).
    QueryDef("q_shingle_skew",
      (s, d) => {
        val df = Dedup.shingles(Tables.documents(s, d)
            .select(col("doc_id"), col("text")))
          .select(col("doc_id"), col("shingle")).distinct()
          .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .localCheckpoint(false) // total + the top-20 rank
        val tot = df.agg(sum(col("df")).as("tot"))
        // top-20 via TakeOrdered (distributed top-k), NOT a global rank
        // window — the shingle vocabulary grows with the corpus, so a
        // single-partition sort over it would not survive 100 TB. The
        // rank window runs on the 20-row limited frame only.
        val top = df.orderBy(col("df").desc, col("shingle")).limit(20)
        top.crossJoin(broadcast(tot))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("df").desc, col("shingle"))))
          .selectExpr("shingle", "CAST(df AS BIGINT) AS df",
            "df * 1000000 div tot AS share_e6",
            "CAST(rk AS BIGINT) AS rk")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
             |           FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |              unnest(list_transform(range(1, len(ws) - 1),
             |                i -> ws[i] || ' ' || ws[i+1] || ' '
             |                     || ws[i+2])) AS shingle
             |       FROM w WHERE len(ws) >= 3),
             |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
             |       FROM sh GROUP BY 1),
             |tot AS (SELECT CAST(sum(df) AS BIGINT) AS tot FROM df)
             |SELECT shingle, df, df * 1000000 // tot AS share_e6, rk
             |FROM (SELECT shingle, df, tot,
             |             CAST(row_number() OVER (ORDER BY df DESC,
             |               shingle) AS BIGINT) AS rk
             |      FROM df CROSS JOIN tot)
             |WHERE rk <= 20""".stripMargin)),

    // ── Threshold sweep: ONE τ=0.3 prefix join, pair volumes at the
    //    four policy thresholds via cross-multiplied re-tests — how
    //    aggressive would each dedup setting be.
    QueryDef("q_dedup_threshold_sweep",
      (s, d) => {
        val truth = Dedup.jaccardPrefixJoin(slice(s, d), 300000L)
          .localCheckpoint(false) // four conditional rollups share it
        val taus = s.range(0, 4)
          .select((col("id") * 200000 + 300000).as("tau_e6"))
        truth.crossJoin(broadcast(taus))
          .filter(expr("inter * 1000000 >= tau_e6 * uni"))
          .groupBy(col("tau_e6"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("doc_b")).as("n_docs_dropped"))
          .selectExpr("CAST(tau_e6 AS BIGINT) AS tau_e6",
            "CAST(n_pairs AS BIGINT) AS n_pairs",
            "CAST(n_docs_dropped AS BIGINT) AS n_docs_dropped")
      },
      Some(s"""WITH truth AS (SELECT * FROM ${truthSql(sliceSql, 300000L)} t),
             |taus AS (SELECT unnest([300000, 500000, 700000, 900000])
             |           AS tau_e6)
             |SELECT CAST(tau_e6 AS BIGINT) AS tau_e6,
             |       CAST(count(*) AS BIGINT) AS n_pairs,
             |       CAST(count(DISTINCT doc_b) AS BIGINT)
             |         AS n_docs_dropped
             |FROM truth CROSS JOIN taus
             |WHERE inter * 1000000 >= tau_e6 * uni
             |GROUP BY 1""".stripMargin)),

    /* Edit-distance record linkage (`q_edit_blocked_join`): fuzzy-join
     * part names under Levenshtein ≤ 2 with BLOCKING (same first token,
     * same length band) so candidates are per-block pairs, never the
     * all-pairs n² — the sorted-neighborhood/banding discipline every
     * linkage op in ops/Dedup keeps. Both engines evaluate the same DP
     * (`levenshtein` builtin), so the distances agree exactly. */
    // ── Blocked fuzzy join, DEDUPE-FIRST: collapse rows to the
    //    distinct-name axis with multiplicities BEFORE any edit
    //    distance (the bench measured the naive form at 27.9 s —
    //    20.9M row-level pairs ran the DP for only 64 distinct names).
    //    Exact-duplicate pairs are analytic (Σ cnt·(cnt−1)/2, distance
    //    0, no DP at all); the Levenshtein DP runs only on in-block
    //    distinct-name pairs, weighted back by cnt_a·cnt_b. Block key =
    //    (first token, len div 4) — the recall/cost trade every
    //    blocking linkage makes, reported as block_frac_e6.
    QueryDef("q_edit_blocked_join",
      (s, d) => {
        val names = Tables.part(s, d)
          .groupBy(col("p_name").as("nm"))
          .agg(count(lit(1)).as("cnt"))
          .selectExpr("nm", "cnt", "split(nm, ' ')[0] AS tok0",
            "length(nm) div 4 AS lenb")
          .localCheckpoint(false) // distinct-name axis: pairs + totals
        val exact = names.agg(sum(expr("cnt * (cnt - 1) div 2")).as("d0"),
          sum(col("cnt")).as("n_parts"), count(lit(1)).as("n_names"))
        val cross = names.as("a").join(names.as("b"),
            col("a.tok0") === col("b.tok0") &&
              col("a.lenb") === col("b.lenb") &&
              col("a.nm") < col("b.nm"))
          .select(levenshtein(col("a.nm"), col("b.nm")).as("dist"),
            (col("a.cnt") * col("b.cnt")).as("w"))
          .agg(coalesce(sum(when(col("dist") === 1, col("w"))), lit(0L))
            .as("d1"),
            coalesce(sum(when(col("dist") === 2, col("w"))), lit(0L))
              .as("d2"),
            coalesce(sum(col("w")), lit(0L)).as("cross_cands"))
        exact.crossJoin(broadcast(cross))
          .selectExpr("n_parts", "CAST(n_names AS BIGINT) AS n_names",
            "d0", "d1", "d2", "d0 + cross_cands AS n_cands",
            """(d0 + cross_cands) * 1000000
              | div (n_parts * (n_parts - 1) div 2) AS block_frac_e6"""
              .stripMargin)
      },
      Some("""WITH names AS (
             |  SELECT nm, cnt, string_split(nm, ' ')[1] AS tok0,
             |         length(nm) // 4 AS lenb
             |  FROM (SELECT p_name AS nm, CAST(count(*) AS BIGINT) AS cnt
             |        FROM part GROUP BY 1)),
             |ex AS (SELECT CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT) AS d0,
             |              CAST(sum(cnt) AS BIGINT) AS n_parts,
             |              CAST(count(*) AS BIGINT) AS n_names
             |       FROM names),
             |cr AS (SELECT
             |         CAST(coalesce(sum(CASE WHEN dist = 1 THEN w END), 0)
             |           AS BIGINT) AS d1,
             |         CAST(coalesce(sum(CASE WHEN dist = 2 THEN w END), 0)
             |           AS BIGINT) AS d2,
             |         CAST(coalesce(sum(w), 0) AS BIGINT) AS cross_cands
             |       FROM (SELECT levenshtein(a.nm, b.nm) AS dist,
             |                    a.cnt * b.cnt AS w
             |             FROM names a JOIN names b
             |               ON a.tok0 = b.tok0 AND a.lenb = b.lenb
             |                  AND a.nm < b.nm))
             |SELECT n_parts, n_names, d0, d1, d2,
             |       d0 + cross_cands AS n_cands,
             |       (d0 + cross_cands) * 1000000
             |         // (n_parts * (n_parts - 1) // 2) AS block_frac_e6
             |FROM ex CROSS JOIN cr""".stripMargin))
  )
}
