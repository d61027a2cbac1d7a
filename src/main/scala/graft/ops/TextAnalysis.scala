package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: heuristic language
  * ID, quality scoring, token counting, and document fingerprinting — all
  * pure `functions._` column expressions (codegen'd, shuffle-free per-row
  * work; the only shuffles are callers' aggregations).
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles for the n-gram/stopword heuristic.
    * Order matters: ties break toward the earlier entry. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "eine"))

  private def hitsFor(ws: Column, words: Seq[String]): Column =
    size(filter(ws, w => array_contains(array(words.map(lit): _*), w))).cast("long")

  /** Adds `ws` (word array), per-language hit counts and `pred_lang`. */
  def langId(df: DataFrame): DataFrame = {
    val withWs = df.withColumn("ws", split(col("text"), " "))
    val withHits = stopwords.foldLeft(withWs) { case (d, (l, words)) =>
      d.withColumn(s"hits_$l", hitsFor(col("ws"), words))
    }
    withHits.withColumn("pred_lang",
      when(col("hits_en") + col("hits_es") + col("hits_de") === 0, lit("unknown"))
        .when(col("hits_en") >= col("hits_es") && col("hits_en") >= col("hits_de"), lit("en"))
        .when(col("hits_es") >= col("hits_de"), lit("es"))
        .otherwise(lit("de")))
  }

  /** Quality features: word count, mean word length, stopword ratio,
    * alphabetic ratio, and a weighted composite score (integer-scaled
    * weights so the arithmetic is engine-portable). */
  def quality(df: DataFrame): DataFrame = {
    val d = langId(df)
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("w_chars", length(regexp_replace(col("text"), " ", "")).cast("long"))
      .withColumn("alpha_chars", length(regexp_replace(col("text"), "[^a-z]", "")).cast("long"))
    d.withColumn("mean_wlen", round(col("w_chars").cast("double") / col("n_words").cast("double"), 4))
      .withColumn("stop_ratio", round(col("hits_en").cast("double") / col("n_words").cast("double"), 6))
      .withColumn("alpha_ratio", round(col("alpha_chars").cast("double") / length(col("text")).cast("double"), 6))
      .withColumn("quality", round(
        (col("alpha_ratio") * 4 + col("stop_ratio") * 3 +
          least(lit(1.0), col("n_words").cast("double") / lit(100.0)) * 3) / 10, 4))
  }

  /** Whitespace tokens vs a BPE-ish regex token count (letter runs, digit
    * runs, single other non-space chars). */
  def tokenCounts(df: DataFrame): DataFrame =
    df.withColumn("ws_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("re_tokens",
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^ ]', 0)")).cast("long"))

  /** 48-bit content fingerprint of the normalized text (lowercase, punct
    * stripped, whitespace collapsed) — the md5-prefix hash shared with
    * [[Dedup.hash48]] so fingerprints are reproducible anywhere. */
  def fingerprint(df: DataFrame): DataFrame = {
    val norm = regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")
    df.withColumn("fp48", conv(substring(md5(norm), 1, 12), 16, 10).cast("long"))
  }

  /** PII redaction patterns (dialect-portable: character classes, `+`,
    * `{n}` only — valid and identical under both Java regex and RE2). */
  val phonePattern = "[0-9]{3}-[0-9]{4}"
  val emailPattern = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"

  /** Scrub phone/email PII from `text`: per-doc match counts + the
    * redacted text. Pure per-row regexp expressions — codegen'd, no
    * shuffle, safe to run as the first narrow stage of an ingest. */
  def redact(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_phone", size(expr(s"regexp_extract_all(text, '$phonePattern', 0)")).cast("long"))
      .withColumn("n_email", size(expr(s"regexp_extract_all(text, '$emailPattern', 0)")).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("text"), phonePattern, "[PHONE]"),
          emailPattern, "[EMAIL]"))

  /** Per-source PII exposure profile: every document scanned with the
    * shared phone/email patterns ([[redact]]), rolled up by source as
    * (docs, docs_with_pii, pii_hits, pii_per_mtok) — hits per million
    * whitespace tokens, the normalized rate a release review compares
    * across corpora. Per-row regex work is codegen'd; the rollup is one
    * partial-aggregable exchange on the source key. */
  def piiDensity(docs: DataFrame, sourceCol: String): DataFrame =
    redact(docs)
      .withColumn("toks", size(split(col("text"), " ")).cast("long"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("n_phone") + col("n_email") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(col("n_phone") + col("n_email")).as("pii_hits"),
        sum(col("toks")).as("n_toks"))
      .withColumn("pii_per_mtok", expr("pii_hits * 1000000L div n_toks"))
      .drop("n_toks")

  /** Intra-document repetition ratio — the Gopher-style quality rule:
    * `1 - distinct_kgrams / total_kgrams` per doc (0 = no repetition).
    * Heavily repeated boilerplate scores high and gets filtered before
    * training. One explode + one two-level aggregate, partial-aggregable. */
  def repetition(docs: DataFrame, k: Int = 3): DataFrame =
    Dedup.shingles(docs, k)
      .groupBy(col("doc_id"), col("shingle")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("total_grams"), count(lit(1)).as("distinct_grams"))
      .withColumn("rep_ratio",
        round(lit(1.0) - col("distinct_grams").cast("double") / col("total_grams").cast("double"), 6))

  /** Corpus-boilerplate ratio — the C4-style rule that drops documents
    * dominated by lines/phrases the whole corpus repeats (nav bars,
    * license headers). Per doc: the fraction of its distinct k-shingles
    * that sit in the corpus-wide top-`topN` shingles by document
    * frequency. Two partial-aggregable passes (shingle df, per-doc
    * fraction) + one broadcast of the tiny top-N set; ties at the top-N
    * boundary break lexicographically so the cut is deterministic. */
  def boilerplate(docs: DataFrame, k: Int = 3, topN: Int = 100): DataFrame = {
    val sh = Dedup.shingles(docs, k).distinct()
    val top = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle").asc).limit(topN)
      .select(col("shingle"), lit(1L).as("is_top"))
    sh.join(broadcast(top), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("is_top"), lit(0L))).as("n_top"))
      .withColumn("boiler_e6", expr("(n_top * 1000000) div n_shingles"))
  }

  /** Per-document term frequencies: one (doc_id, word, tf) row per distinct
    * word per doc. Narrow explode + one partial-aggregable count. */
  def termFreq(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))

  /** Word co-occurrence with lift — collocation mining. For words a,b:
    * `lift = P(a,b)/(P(a)·P(b)) = cooc·N/(df_a·df_b)` over document-level
    * co-occurrence (the log-free core of PMI — `ln` is not FP-portable,
    * and ranking by lift ≡ ranking by PMI since ln is monotone).
    * Self-join stays within doc (never across the corpus); the word-pair
    * aggregate is partial-aggregable. */
  def coocLift(docs: DataFrame, topK: Int = 20): DataFrame = {
    val n = docs.count()
    val w = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").distinct().persist()
    val df = w.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val cooc = w.as("a").join(w.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.word") < col("b.word"))
      .groupBy(col("a.word").as("word_a"), col("b.word").as("word_b"))
      .agg(count(lit(1)).as("cooc"))
    val out = cooc
      .join(broadcast(df.select(col("word").as("word_a"), col("df").as("df_a"))), "word_a")
      .join(broadcast(df.select(col("word").as("word_b"), col("df").as("df_b"))), "word_b")
      .withColumn("lift",
        round((col("cooc") * lit(n)).cast("double") / (col("df_a") * col("df_b")).cast("double"), 6))
      .select(col("word_a"), col("word_b"), col("cooc"), col("lift"))
      .orderBy(col("lift").desc, col("word_a").asc, col("word_b").asc)
      .limit(topK)
      // Materialize the (tiny, topK-row) result so the intermediate cache can
      // be released NOW instead of at ContextCleaner GC time — repeated calls
      // in a long-lived session must not accumulate cached corpus blocks.
      .localCheckpoint(false)
    w.unpersist()
    out
  }

  /** TF-IDF top-`k` terms per document. idf is the rational `N/df` (no
    * logarithm — bias toward rare terms is preserved and every score is a
    * single IEEE multiply+divide, so any engine reproduces it bit-for-bit;
    * ln() implementations are NOT portable across runtimes).
    *
    * Scale shape: tf and df are two partial-aggregable counts; df joins
    * back via broadcast (vocab ≪ corpus); top-k is a per-doc window over
    * (doc_id)-partitioned data — no global sort.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    val n = docs.count()
    // tf feeds two plan branches (scores + df); uncached, Catalyst re-scans
    // and re-aggregates the whole corpus for the df branch (verified in
    // .explain — same aliased-branch duplication as Dedup.candidates).
    // ContextCleaner frees the blocks when the result frame is unreachable.
    val tf = termFreq(docs).persist()
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("word").asc)
    val out = tf.join(broadcast(df), "word")
      .withColumn("score", round((col("tf") * lit(n)).cast("double") / col("df").cast("double"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("df"), col("score"))
      // Eager materialization (k rows/doc) so tf's cache is released here,
      // not at ContextCleaner GC — see coocLift.
      .localCheckpoint(false)
    tf.unpersist()
    out
  }

  /** Inverted index: word → document-frequency + the first `cap` doc ids
    * of the sorted posting list (csv). `dfMin`/`dfMax` cut the useless
    * bands (hapaxes / stopwords); `cap` bounds the per-word payload the
    * way real indexes page posting lists — without it one hot word's list
    * is a single unsplittable giant row at corpus scale. */
  /** Bigram language-model scoring: train an add-one-smoothed bigram LM
    * on the corpus itself and score every document by its average
    * per-bigram negative log-likelihood — the classic perplexity-style
    * quality filter (high avg_nll = the document's word transitions are
    * rare in the corpus = likely noise). All-integer via the shared
    * fixed-point log₂ ([[Bm25.log2E6]]):
    *   nll_e6(w1, w2) = log2E6(c(w1·) + V) − log2E6(c(w1, w2) + 1)
    * where c(w1·) counts bigrams starting with w1 (so P sums to 1 over
    * the vocabulary V). Scores are in log₂ units — a positive constant
    * off ln, so rankings and thresholds are unaffected. Documents with
    * fewer than 2 tokens emit nothing (no bigram to score).
    *
    * Scale: two keyed aggregates build the model (bigram counts shuffle
    * on (w1, w2), prefix counts on w1), V is a scalar broadcast, and the
    * scoring pass re-joins the bigram stream to the model on the same
    * keys — the model tables are vocabulary-sized, far smaller than the
    * corpus, so AQE broadcasts them when they fit. Output:
    * (doc_id, n_bigrams, avg_nll_e6). */
  def bigramNll(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val pair = toks.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = pair.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = pair.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = toks.select(explode(col("ws")).as("wd"))
      .agg(countDistinct(col("wd")).as("v"))
    pair.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("nll_e6",
        Bm25.log2E6(col("c1") + col("v")) - Bm25.log2E6(col("c12") + lit(1L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(nll_e6) div count(*)").as("avg_nll_e6"))
  }

  /** Inverted index: word → document-frequency + the first `cap` doc ids
    * of the sorted posting list (csv). `dfMin`/`dfMax` cut the useless
    * bands (hapaxes / stopwords); `cap` bounds the per-word payload the
    * way real indexes page posting lists — without it one hot word's list
    * is a single unsplittable giant row at corpus scale. */
  def invertedIndex(docs: DataFrame, dfMin: Long = 2, dfMax: Long = 1000000L,
                    cap: Int = 10): DataFrame =
    // One exchange: collect_set dedups map-side (partial set-union), so a
    // separate distinct-then-count pass would just shuffle twice for the
    // same result; df falls out of the set we already need for postings.
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(collect_set(col("doc_id")).as("docs"))
      .select(col("word"), size(col("docs")).cast("long").as("df"),
        expr(s"array_join(transform(slice(sort_array(docs), 1, $cap), x -> cast(x as string)), ',')")
          .as("postings_head"))
      .filter(col("df").between(dfMin, dfMax))

  /** The hashing trick — project an unbounded vocabulary onto a fixed
    * `dims`-dimensional count vector via dim = h(token) % dims, the
    * standard way to featurize text when a fitted vocabulary would be
    * a scale bottleneck (no dictionary to broadcast, no OOV). Emits the
    * corpus-wide load per dimension: total token count plus how many
    * DISTINCT tokens collided into it (the quality cost of hashing).
    * Top-`topK` dims by count, ties broken by dim — deterministic.
    *
    * Scale: explode → (dim, token) partial agg → dims-bounded agg; the
    * result is ≤ dims rows no matter the corpus size. */
  def featureHashing(docs: DataFrame, dims: Int = 256,
                     topK: Int = 20): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .select((Dedup.hash48(col("token"), lit("fh")) % dims).as("dim"),
        col("token"))
      .groupBy(col("dim"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("dim"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"))
      .orderBy(col("n_tokens").desc, col("dim"))
      .limit(topK)

  /** Hashed-feature linear scorer — the fastText-style quality gate shape:
    * every token hashes into `dims` buckets, each bucket carries a FIXED
    * deterministic weight ((hash48(dim) mod 2001) − 1000 ∈ [−1000, 1000]),
    * and a document's margin is the sum of its tokens' bucket weights
    * (with multiplicity). Stands in for applying a trained linear model at
    * scale: O(tokens) map-side-combinable work, one doc-keyed exchange,
    * top-k merge — no shuffle of raw text. Output: top `topK` docs by
    * (margin desc, doc_id): (doc_id, n_tok, margin). */
  def linearScore(docs: DataFrame, dims: Int = 256,
                  topK: Int = 20): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .withColumn("dim", Dedup.hash48(col("token"), lit("fh")) % dims)
      .withColumn("wt",
        Dedup.hash48(col("dim").cast("string"), lit("lw")) % 2001 - 1000)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("wt")).as("margin"))
      .orderBy(col("margin").desc, col("doc_id"))
      .limit(topK)

  /** Active-learning batch selection (uncertainty sampling): the `topK`
    * documents whose [[linearScore]] margin sits closest to the decision
    * boundary (|margin| asc, ties by doc_id) — the rows a labeling loop
    * would send for annotation next. Same one-exchange aggregate as the
    * scorer; selection is a top-k merge, never a global sort. Output:
    * (doc_id, n_tok, margin, abs_margin). */
  def uncertaintySample(docs: DataFrame, dims: Int = 256,
                        topK: Int = 20): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .withColumn("dim", Dedup.hash48(col("token"), lit("fh")) % dims)
      .withColumn("wt",
        Dedup.hash48(col("dim").cast("string"), lit("lw")) % 2001 - 1000)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("wt")).as("margin"))
      .withColumn("abs_margin", abs(col("margin")))
      .orderBy(col("abs_margin"), col("doc_id"))
      .limit(topK)

  /** Zipf-law fit over the corpus token-frequency distribution: the
    * least-squares slope of log₂ freq vs log₂ rank across the top
    * `topR` tokens (Zipf exponent ≈ −slope; natural text sits near −1,
    * so this is a one-number corpus-quality / synthetic-text signal).
    * Logs are the fixed-point [[Bm25.log2E6]] (bit-identical across
    * engines); the moment sums are exact DECIMAL(38,0) (e6-log products
    * overflow longs at ~500 ranks); the single closing division follows
    * the deterministic-double convention (one IEEE divide, round 6).
    *
    * Scale: token count-aggregate (one exchange), then TakeOrdered
    * top-R — the regression itself runs on R rows. Output one row:
    * (n_ranks, slope). */
  def zipfSlope(docs: DataFrame, topR: Int = 256): DataFrame = {
    require(topR >= 8 && topR <= 4096, "topR must be in [8, 4096]")
    val freq = docs.select(explode(split(col("text"), " ")).as("wd"))
      .filter(col("wd") =!= "")
      .groupBy(col("wd")).agg(count(lit(1)).as("f"))
    val top = freq.orderBy(col("f").desc, col("wd").asc).limit(topR)
    val ranked = top.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("f").desc, col("wd").asc)))
    ranked
      .select(Bm25.log2E6(col("rk")).cast(dec).as("x"),
        Bm25.log2E6(col("f")).cast(dec).as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .selectExpr("CAST(n AS BIGINT) AS n_ranks",
        """round(CAST(n * sxy - sx * sy AS DOUBLE) /
          |      CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope""".stripMargin)
  }

  /** Heaps'-law vocabulary growth per corpus source: walking documents
    * in doc_id order, each doc contributes its token count to the
    * running total N and its FIRST-OCCURRENCE words to the running
    * vocabulary V; the Heaps exponent β (V ≈ K·N^β) is the least-
    * squares slope of log₂V against log₂N over the per-doc points.
    * Logs are the exact e6 fixed-point [[Bm25.log2E6]], the LS moments
    * are exact DECIMAL(38,0), and the slope takes ONE double division
    * (rounded to 6) — the [[trendSlope]] convention. Docs with no
    * tokens drop out of the axis. Output: (source, n_docs, beta).
    *
    * Scale: first occurrences come from one (source, word)-keyed
    * min-aggregate — never a quadratic "seen before" join; the
    * cumulative walk runs on the per-source DOC axis (keyed windows);
    * the LS reduce is map-side combinable. */
  def vocabGrowth(docs: DataFrame, srcCol: String = "source"): DataFrame = {
    val tok = docs
      .select(col("doc_id"), col(srcCol).as("src"),
        explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "").localCheckpoint(false)
    val perDoc = tok.groupBy(col("src"), col("doc_id"))
      .agg(count(lit(1)).as("toks"))
    val newWords = tok.groupBy(col("src"), col("word"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("src"), col("doc_id")).agg(count(lit(1)).as("nw"))
    val ord = Window.partitionBy(col("src")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = perDoc.join(newWords, Seq("src", "doc_id"), "left")
      .withColumn("nn", sum(col("toks")).over(ord))
      .withColumn("vv", sum(coalesce(col("nw"), lit(0L))).over(ord))
      .select(col("src"), Bm25.log2E6(col("nn")).cast(dec).as("x"),
        Bm25.log2E6(col("vv")).cast(dec).as("y"))
    pts.groupBy(col("src"))
      .agg(count(lit(1)).cast(dec).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .selectExpr("src AS source", "CAST(n AS BIGINT) AS n_docs",
        """CASE WHEN n * sxx - sx * sx = 0 THEN NULL
          |     ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
          |          CAST(n * sxx - sx * sx AS DOUBLE), 6)
          |END AS beta""".stripMargin)
  }

  /** Skip-gram PMI: pointwise mutual information of UNORDERED word
    * pairs co-occurring within `window` positions — the word2vec-SGNS
    * association signal, exact in e6 fixed-point log₂:
    * pmi_e6 = lg(c_ab) − lg(P) − lg(c_a) − lg(c_b) + 2·lg(T), with P
    * the total pair count and T the total token count. Pairs below
    * `minCount` are cut, the top `k` emit by (pmi desc, w1, w2).
    * Output: (w1, w2, pairs, pmi_e6), w1 ≤ w2 lexically.
    *
    * Scale: pair generation is LINEAR in corpus size — each token
    * probes exactly `window` successor positions via an equi-join on
    * (doc_id, position), never a per-doc quadratic self-join; unigram
    * and pair counts are keyed aggregates; the two totals broadcast. */
  def skipgramPmi(docs: DataFrame, window: Int = 2, minCount: Long = 5L,
                  k: Int = 20): DataFrame = {
    require(window >= 1 && k >= 1)
    val tok = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "w")))
      .filter(col("w") =!= "").localCheckpoint(false)
    val probes = tok.select(col("doc_id"), col("w").as("wl"),
      explode(array((1 to window).map(d => col("p") + d): _*)).as("tp"))
    val pc = probes
      .join(tok.select(col("doc_id"), col("p").as("tp"), col("w").as("wr")),
        Seq("doc_id", "tp"))
      .select(least(col("wl"), col("wr")).as("w1"),
        greatest(col("wl"), col("wr")).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
      .localCheckpoint(false)
    val uni = tok.groupBy(col("w").as("wu")).agg(count(lit(1)).as("cw"))
    val tots = pc.agg(sum(col("cab")).cast("long").as("pp"))
      .crossJoin(broadcast(uni.agg(sum(col("cw")).cast("long").as("tt"))))
    pc.filter(col("cab") >= minCount)
      .join(uni.select(col("wu").as("w1"), col("cw").as("ca")), "w1")
      .join(uni.select(col("wu").as("w2"), col("cw").as("cb")), "w2")
      .crossJoin(broadcast(tots))
      .select(col("w1"), col("w2"), col("cab").as("pairs"),
        (Bm25.log2E6(col("cab")) - Bm25.log2E6(col("pp"))
          - Bm25.log2E6(col("ca")) - Bm25.log2E6(col("cb"))
          + lit(2L) * Bm25.log2E6(col("tt"))).as("pmi_e6"))
      .orderBy(col("pmi_e6").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-document NOVELTY against everything earlier in the corpus: the
    * fraction of a doc's DISTINCT word `n`-shingles whose FIRST corpus
    * occurrence (by doc_id order) is this doc. A crawl re-serving known
    * content scores near 0; fresh material near 1e6 — the incremental
    * counterpart of pairwise near-dup joins, at linear cost. Docs
    * shorter than `n` tokens emit nothing. All integer
    * (novel·10⁶ div distinct). Output: (doc_id, n_shingles, novel,
    * novelty_e6).
    *
    * Scale: the "seen before" test is ONE (shingle → min doc_id)
    * aggregate — never a cumulative join against the growing corpus;
    * everything else is doc-keyed. */
  def noveltyScore(docs: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1)
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> concat_ws(' ', slice(ws, i, $n)))"))
        .as("sh"))
      .distinct().localCheckpoint(false)
    val first = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("fdoc"))
    sh.join(first, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fdoc") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
      .selectExpr("doc_id", "n_shingles", "novel",
        "novel * 1000000 div n_shingles AS novelty_e6")
  }

  /** Symmetric-pair KL divergence between the unigram distributions of
    * two corpus splits (the train/eval drift check of a data pipeline):
    * Laplace-smoothed over the UNION vocabulary V, so
    * p_A(w) = (c_A+1)/(n_A+V) and
    * KL(A‖B) = Σ (c_A+1)·[log₂((c_A+1)(n_B+V)) − log₂((c_B+1)(n_A+V))]
    *           / (n_A+V)
    * — entirely integer in e6 log₂ units via the shared fixed-point
    * table; the numerator sum is clamped at 0 before its single
    * truncating division (truncated logs can leave a tiny negative
    * residue on identical splits, and `div` truncation direction
    * differs between engines on negatives). `df` carries (`split` ∈
    * {0,1}, `word`). Output one row:
    * (vocab, n_a, n_b, kl_ab_e6, kl_ba_e6).
    *
    * Scale: one (split, word) count aggregate off the token scan, one
    * word-keyed self-pivot (group, not join), totals broadcast. */
  def klVocab(df: DataFrame): DataFrame = {
    val counts = df.groupBy(col("word"))
      .agg(sum(when(col("split") === 0L, 1L).otherwise(0L)).as("ca"),
        sum(when(col("split") === 1L, 1L).otherwise(0L)).as("cb"))
      .localCheckpoint(false) // vocab axis; ONE token scan
    val tot = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("v"))
    counts.crossJoin(broadcast(tot))
      .withColumn("sa", col("ca") + 1).withColumn("sb", col("cb") + 1)
      .withColumn("da", col("na") + col("v"))
      .withColumn("db", col("nb") + col("v"))
      .withColumn("tab", col("sa") *
        (Bm25.log2E6(col("sa") * col("db")) - Bm25.log2E6(col("sb") * col("da"))))
      .withColumn("tba", col("sb") *
        (Bm25.log2E6(col("sb") * col("da")) - Bm25.log2E6(col("sa") * col("db"))))
      .groupBy(col("v").as("vocab"), col("na").as("n_a"), col("nb").as("n_b"),
        col("da"), col("db"))
      .agg(sum(col("tab")).as("nab"), sum(col("tba")).as("nba"))
      .selectExpr("vocab", "n_a", "n_b",
        "CAST(greatest(nab, 0) div da AS BIGINT) AS kl_ab_e6",
        "CAST(greatest(nba, 0) div db AS BIGINT) AS kl_ba_e6")
  }

  /** Bag-of-words cosine similarity between document pairs — the
    * count-weighted complement of the SET-based n-gram Jaccard path: a
    * doc that repeats a rare word 10× now weighs it 10×, which is what
    * separates near-boilerplate from genuinely repeated content. Pairs
    * materialize ONLY through the shared-word inverted index (dot = 0
    * pairs never exist); dot products and squared norms are exact
    * integer count sums, closed by the deterministic
    * ratio-over-sqrt. Output: (doc_a, doc_b, dot, cos) for pairs with
    * cos ≥ minCosE6/1e6, doc_a < doc_b.
    *
    * Scale: one word-keyed exchange builds the index, one (a, b)
    * exchange sums dots — the inverted-index candidate contract of
    * [[Bm25]]/[[invertedIndex]]; df-cap the index upstream for corpora
    * where stopword postings explode. */
  def bowCosinePairs(docs: DataFrame, minCosE6: Long = 500000L): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // reused: index pairing + both norm sides
    val norms = counts.groupBy(col("doc_id"))
      .agg(sum(col("c") * col("c")).as("nrm"))
    val b = counts.select(col("word"), col("doc_id").as("doc_b"),
      col("c").as("cb"))
    counts.join(b, "word").where(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(sum(col("c") * col("cb")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")),
        "doc_b")
      .selectExpr("doc_a", "doc_b", "dot",
        """round(CAST(dot AS DOUBLE) /
          |  sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cos""".stripMargin)
      .where(col("cos") >= lit(minCosE6).cast("double") / 1000000.0)
      .select(col("doc_a"), col("doc_b"), col("dot"), col("cos"))
  }

  /** Good–Turing frequency smoothing over corpus n-gram counts — the
    * standard unseen-mass estimator for a training corpus: how much
    * probability mass should a language model reserve for n-grams it
    * has never seen? Row r=0 reports that mass (`N₁/N`, e6 fixed-
    * point); rows r=1..maxR report the smoothed count
    * `r* = (r+1)·N_{r+1}/N_r`. Species are word n-grams (`n`=1 →
    * unigrams; default trigrams — the shared synthetic corpus has a
    * ~31-word vocabulary, so only n≥3 has the singleton tail the
    * estimator is about).
    *
    * Scale shape: tokens → word counts (shuffle 1, partial-aggregable)
    * → frequency-of-frequencies (shuffle 2 over a TINY axis — at most
    * maxR+1 distinct counts survive the filter) → self-join of the tiny
    * axis + one broadcast total. The corpus is touched once.
    */
  def goodTuring(docs: DataFrame, n: Int = 3, maxR: Int = 5): DataFrame = {
    val species =
      if (n <= 1)
        docs.select(explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
      else
        // n-gram species: built in-row; slice(ws,1,0) is the TYPED empty
        // array fallback (bare array() is array<null> and breaks the CASE)
        docs.withColumn("ws", split(col("text"), " "))
          .select(explode(expr(
            s"""CASE WHEN size(ws) >= $n
               |  THEN transform(sequence(1, size(ws) - ${n - 1}),
               |                 i -> concat_ws(' ', slice(ws, i, $n)))
               |  ELSE slice(ws, 1, 0) END""".stripMargin)).as("word"))
    val counts = species
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // reused: total N + the freq-of-freq axis
    val total = counts.agg(sum(col("c")).as("n_tokens"))
    val ff = counts.groupBy(col("c").as("r"))
      .agg(count(lit(1)).as("n_r"))
      .filter(col("r") <= maxR + 1)
      .localCheckpoint(false) // tiny; reused on both sides of the shift join
    val shifted = ff.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
    val smoothed = ff.filter(col("r") <= maxR)
      .join(shifted, Seq("r"), "left")
      .select(col("r"), col("n_r"),
        expr("(r + 1) * coalesce(n_r1, 0L) * 1000000 div n_r").as("gt_e6"))
    val unseen = ff.filter(col("r") === 1).crossJoin(broadcast(total))
      .select(lit(0L).as("r"), col("n_r"),
        expr("n_r * 1000000 div n_tokens").as("gt_e6"))
    unseen.unionByName(smoothed)
  }

  /** distinct-n corpus diversity (Li et al. 2016's distinct-bigram
    * ratio, per source): unique n-grams ÷ total n-grams — low values
    * flag templated/boilerplate-heavy slices of a training corpus.
    * Bigrams are built per-document with an in-row `zip_with` (no
    * shuffle); the only exchanges are the per-source count-distinct.
    */
  def distinctBigrams(docs: DataFrame, srcCol: String = "source"): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .select(col(srcCol).as("source"), explode(expr(
        """zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
          |         slice(ws, 2, greatest(size(ws) - 1, 0)),
          |         (a, b) -> concat(a, ' ', b))""".stripMargin)).as("bg"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("bg")).as("n_distinct"))
      .withColumn("distinct_e6",
        expr("n_distinct * 1000000 div n_bigrams"))
}
