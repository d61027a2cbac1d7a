package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators for LLM training pipelines: deterministic
  * split assignment, token-budget sequence packing, and benchmark
  * decontamination. All decisions derive from content/id hashes or stable
  * orderings — rebuilding the dataset reproduces the exact same splits,
  * packs, and exclusions (the property RNG-based curation loses).
  */
object Curation {

  /** Train/val/test assignment from the portable id hash:
    * `[0,trainPct) → train, [trainPct,trainPct+valPct) → val, rest → test`.
    * Per-row expression — no shuffle; the split survives re-partitioning,
    * engine swaps, and incremental re-runs. */
  def splitAssign(key: Column, trainPct: Int = 90, valPct: Int = 5,
                  salt: String = "split"): Column = {
    val b = pmod(Dedup.hash48(key, lit(salt)), lit(100))
    when(b < trainPct, "train").when(b < trainPct + valPct, "val").otherwise("test")
  }

  /** Greedy sequence packing: assign docs to `budget`-token bins in stable
    * (shard, doc order) — a doc goes to the bin its RUNNING PREFIX of
    * tokens falls in, so one oversized doc overflows its own bin without
    * shifting later assignments.
    *
    * Packing is per-shard (`nShards` via id hash-mod), NOT global: a
    * global ordered cumulative sum is a single-partition window — the
    * classic unscalable plan — while per-shard packing is how distributed
    * training data is actually laid out (each writer packs its shard).
    * One shuffle on shard, window inside the shard.
    */
  def packSequences(docs: DataFrame, idCol: String, tokensCol: String,
                    budget: Long = 4096, nShards: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("shard", pmod(col(idCol), lit(nShards)))
      .withColumn("run_tokens", sum(col(tokensCol)).over(w))
      .withColumn("bin", ((col("run_tokens") - col(tokensCol)) / budget).cast("long"))
  }

  /** Sliding-window document chunking — the context-window prep step of
    * every LLM ingestion pipeline: token windows of `size` starting every
    * `stride` tokens (overlap = size − stride), the trailing partial
    * window kept. Pure per-row fan-out (sequence + explode + slice, all
    * codegen'd): narrow, no shuffle, embarrassingly parallel at 100 TB.
    * Output: (doc_id, chunk_id, n_tok, chunk_md5) — the digest stands in
    * for shipping chunk text and doubles as a dedup key downstream. */
  def chunk(docs: DataFrame, width: Int = 40, stride: Int = 30): DataFrame = {
    require(width >= 1 && stride >= 1 && stride <= width)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .withColumn("chunk_id",
        explode(expr(s"sequence(0L, (n - 1) div ${stride}L)")))
      .withColumn("start", (col("chunk_id") * stride + 1).cast("int"))
      .withColumn("n_tok",
        least(lit(width.toLong), col("n") - col("start") + 1))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("chunk_id"), col("n_tok"),
        md5(concat_ws(" ",
          slice(col("ws"), col("start"), lit(width)))).as("chunk_md5"))
  }

  /** Benchmark decontamination: per corpus doc, the number of distinct
    * `k`-shingles shared with `bench` (the eval set). Corpus-side work is
    * narrow (shingle + hash); the join hits only colliding shingles and
    * the bench side is tiny — broadcast it. Flag and drop docs with
    * `n_shared ≥ threshold` upstream of training. */
  def contamination(corpus: DataFrame, bench: DataFrame, k: Int = 3): DataFrame = {
    val cs = Dedup.shingles(corpus, k).distinct()
    val bs = Dedup.shingles(bench, k).select(col("shingle")).distinct()
    cs.join(broadcast(bs), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
  }

  /** Smoothed leave-one-out target encoding — the feature-engineering
    * trick that replaces a categorical with the mean target of its
    * category while (a) excluding each row's OWN target (no leakage)
    * and (b) shrinking small categories toward the global mean with
    * pseudo-count m:  enc_i = (S_c − y_i + m·μ) div (n_c − 1 + m).
    * All integer cents, so the oracle replays it exactly.
    *
    * Per-row encodings are windowed over the category (partition =
    * groupBy key, so the window and the final rollup share ONE
    * exchange); the global mean is a broadcast scalar. Output per
    * category: (cat, n, enc_min, enc_max, enc_avg) — the rollup grades
    * every row's encoding without emitting per-row data. */
  def targetEncoding(df: DataFrame, catCol: String, centsCol: String,
                     m: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = df.agg(expr(s"sum($centsCol) div count(1)").as("mu"))
    val w = Window.partitionBy(col(catCol))
    df.select(col(catCol).as("cat"), col(centsCol).as("y"))
      .withColumn("s_c", sum(col("y")).over(w))
      .withColumn("n_c", count(lit(1)).over(w))
      .crossJoin(broadcast(g))
      .withColumn("enc",
        expr(s"(s_c - y + ${m}L * mu) div (n_c - 1L + ${m}L)"))
      .groupBy(col("cat"))
      .agg(count(lit(1)).as("n"), min(col("enc")).as("enc_min"),
        max(col("enc")).as("enc_max"),
        expr("sum(enc) div count(1)").as("enc_avg"))
  }

  /** Mixture reweighting toward a UNIFORM target over `nBuckets`
    * pre-assigned buckets: weight_b = target/actual = N·10⁶/(B·c_b) in
    * e6, plus the effective sample size of the reweighted corpus,
    * ESS = (Σ c_b·w_b)²/(Σ c_b·w_b²), as a share of N in e6 — THE
    * number that says how much resolution importance weighting burns
    * (uniform data → 10⁶; one starved bucket → small). ESS squares ride
    * DECIMAL(38,0) (e6 weights squared pass 2⁶³; [[Pareto.abcClasses]]
    * precedent, HUGEINT on the oracle side). `df` carries a `bucket`
    * column in [0, nBuckets). Output per bucket: (bucket, c, share_e6,
    * weight_e6, ess_e6) — ess_e6 constant across rows by construction.
    *
    * Scale: ONE bucket-keyed count off the raw scan; the B-row bucket
    * axis then self-aggregates, totals broadcast. */
  def mixReweight(df: DataFrame, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2)
    val buckets = df.groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // bucket axis: ≤ nBuckets rows; ONE scan
    val tot = buckets.agg(sum(col("c")).as("n"))
    val weighted = buckets.crossJoin(broadcast(tot))
      .withColumn("weight_e6",
        expr(s"n * 1000000 div (${nBuckets}L * c)"))
    val ess = weighted
      .agg(sum(expr(s"CAST(c AS $dec) * CAST(weight_e6 AS $dec)")).as("sw"),
        sum(expr(s"CAST(c AS $dec) * CAST(weight_e6 AS $dec)"
          + s" * CAST(weight_e6 AS $dec)")).as("sww"),
        max(col("n")).as("n"))
      .selectExpr(
        """CAST(sw * sw * 1000000
          |     div (CAST(n AS DECIMAL(38,0)) * sww) AS BIGINT)
          |AS ess_e6""".stripMargin)
    weighted
      .select(col("bucket"), col("c"),
        expr("c * 1000000 div n").as("share_e6"), col("weight_e6"))
      .crossJoin(broadcast(ess))
  }
}
