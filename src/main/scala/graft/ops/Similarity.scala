package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`, dim 64):
  * brute-force cosine top-k as the exact baseline, and random-hyperplane
  * LSH bucketing as the scale path (candidates only ever join within a
  * bucket — all-pairs never materializes).
  *
  * All vector math runs on codegen'd higher-order functions
  * (`zip_with` + `aggregate` — sequential fold, deterministic order), no
  * UDFs. Embeddings are cast float→double once up front so accumulation
  * is double everywhere.
  *
  * 100 TB notes: brute-force top-k against one query is a single narrow
  * pass + TakeOrdered (no shuffle of the corpus). LSH bucketing shuffles
  * once on (bucket) — bucket width (bits) trades recall for partition
  * fan-in, and skewed buckets can be salted. A full IVF index (k-means
  * coarse quantizer) drops into the same shape: assign → shuffle on
  * centroid id → search probed lists.
  */
object Similarity {

  /** Sequential-fold dot product of two double-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Corpus with embeddings cast to double. */
  def cast(df: DataFrame): DataFrame =
    df.withColumn("ev", col("embedding").cast("array<double>"))

  /** Exact cosine top-k of `corpus` against the single-row `query`
    * (column `qv`). Broadcast the query; corpus streams through narrow. */
  def topK(corpus: DataFrame, query: DataFrame, k: Int): DataFrame =
    corpus.crossJoin(broadcast(query))
      .select(col("vec_id"), round(cosine(col("ev"), col("qv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)

  /** Sign-bit LSH bucket id from `planes` fixed hyperplanes. */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(v, planeCol) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Deterministic seeded integer hyperplanes in [-1000, 1000]^dim —
    * integer-valued so sign-bit bucket assignment is exact in ANY engine
    * (embedded as literals in both the plan and the oracle SQL; no RNG at
    * runtime). */
  def hyperplanesInt(bits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rnd.nextInt(2001) - 1000))
  }

  /** IVF coarse assignment: each vector goes to its highest-cosine
    * centroid (ties → smallest centroid id). `centroids` carries
    * (c_id, cv). A production index k-means-trains the centroids; the
    * assignment/probe machinery is identical. */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id").asc)
    corpus.crossJoin(broadcast(centroids))
      .withColumn("c_cos", cosine(col("ev"), col("cv")))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("ev"), col("c_id"))
  }

  /** IVF probe: route the query to its nearest centroid, then search only
    * that cell — the corpus-wide scan never happens. */
  def ivfProbe(assigned: DataFrame, centroids: DataFrame, query: DataFrame,
               k: Int): DataFrame = {
    val qCell = ivfAssign(query.select(lit(-1L).as("vec_id"), col("qv").as("ev")),
        centroids)
      .select(col("c_id").as("q_cell"), col("ev").as("qv"))
    assigned.join(broadcast(qCell), col("c_id") === col("q_cell"))
      .select(col("vec_id"), round(cosine(col("ev"), col("qv")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** One Lloyd's k-means recompute step: element-wise mean of each
    * cluster's vectors, from an [[ivfAssign]] output. Means are rounded to
    * 4 dp so the centroid VALUES are engine-portable (FP summation order
    * inside avg differs across engines; 4 dp absorbs it) — which makes a
    * whole train round (assign → recompute) oracle-checkable.
    *
    * Shape: posexplode → groupBy(c_id, i) keeps the aggregate partial
    * (never a wide-row pivot); the array rebuilds via sort_array(struct)
    * so element order is deterministic. Iterate assign→recompute under a
    * driver loop with per-round localCheckpoint for full training (same
    * lineage discipline as [[Dedup.connectedComponents]]). */
  def kmeansRecompute(assigned: DataFrame): DataFrame =
    assigned.select(col("c_id"), posexplode(col("ev")).as(Seq("i", "v")))
      .groupBy(col("c_id"), col("i")).agg(round(avg(col("v")), 4).as("c"))
      .groupBy(col("c_id"))
      .agg(expr("transform(sort_array(collect_list(struct(i, c))), x -> x.c)").as("cv"))

  /** Squared L2 distance between two double-array columns (the PQ metric;
    * expanded form keeps it to three sequential-fold dot products). */
  def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Product quantization encode: split each `dim`-wide vector into `m`
    * contiguous subvectors and snap each to its nearest codeword (min
    * rounded L2², ties → smaller code id). `codebooks` carries one row per
    * (sub, code, cw: array<double>). Output: (vec_id, sub, code) — the
    * compressed representation is m small ints per vector, a ~dim·32/m·⌈log₂
    * codes⌉ compression that makes exabyte-scale ANN shelves fit in RAM.
    *
    * Shape: corpus × broadcast(codebooks within sub) — per-row work is
    * m·codes short dot products, no shuffle; the argmin is a per-(vec,sub)
    * window over the broadcast join output. Distances round to 6 dp before
    * the argmin so code assignment is engine-portable. */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int, dim: Int): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim=$dim must split evenly into m=$m subspaces")
    val sw = dim / m
    val subs = corpus.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("ev"))
      .withColumn("sv", expr(s"slice(ev, sub * $sw + 1, $sw)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("sub")).orderBy(col("d2").asc, col("code").asc)
    // Distances scale to exact e6-unit integers (the raw doubles are
    // bit-identical across engines — IEEE sequential folds — so the scaled
    // ints are too); integer argmin/sum can never hit an FP summation-order
    // or half-way-rounding flip.
    subs.join(broadcast(codebooks), "sub")
      .withColumn("d2", floor(l2sq(col("sv"), col("cw")) * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("code"))
  }

  /** Asymmetric-distance (ADC) top-k: the query stays exact; every encoded
    * vector's distance is the sum over subspaces of the precomputed
    * query↔codeword distance table. The table is m·codes rows (broadcast);
    * the scan over codes is a narrow join + one partial-aggregable sum per
    * vector — the corpus' raw floats are never touched at query time. */
  def pqTopK(encoded: DataFrame, codebooks: DataFrame, query: DataFrame,
             m: Int, dim: Int, k: Int): DataFrame = {
    val sw = dim / m
    val dt = codebooks.crossJoin(broadcast(query))
      .withColumn("qsv", expr(s"slice(qv, sub * $sw + 1, $sw)"))
      .select(col("sub"), col("code"),
        floor(l2sq(col("qsv"), col("cw")) * lit(1e6) + lit(0.5)).cast("long").as("qd2_e6"))
    encoded.join(broadcast(dt), Seq("sub", "code"))
      .groupBy(col("vec_id")).agg(sum(col("qd2_e6")).as("adc_d2_e6"))
      .orderBy(col("adc_d2_e6").asc, col("vec_id").asc)
      .limit(k)
  }

  /** Bucketed candidate pairs with exact cosine, computed only within
    * buckets. */
  def lshPairs(corpus: DataFrame, planes: Seq[Seq[Double]]): DataFrame = {
    // the self-join reads b twice under different aliases; cache so bucket
    // assignment (bits x dim dot products per row) runs once. ContextCleaner
    // releases the blocks once the result frame is unreachable.
    val b = corpus.withColumn("bucket", lshBucket(col("ev"), planes)).persist()
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.bucket").as("bucket"),
        round(cosine(col("a.ev"), col("b.ev")), 6).as("cos"))
  }

  /** Gram matrix G = Σ_rows x·xᵀ over the LEADING `dims` embedding
    * dimensions, in exact e12 integers (components e6-quantized first,
    * floor(x·10⁶ + ½) — identical on both engines; float sums would be
    * order-dependent). The whole matrix is ONE scalar aggregate of
    * dims·(dims+1)/2 conditional sums — partial-aggregated map-side,
    * zero hash exchange — then stacked to (i, j, g_e12) rows. This is
    * the covariance/PCA precursor every embedding-quality audit starts
    * from. At 100 TB the e12 longs need DECIMAL(38,0) sums — same plan,
    * wider type. */
  def gramMatrix(df: DataFrame, dims: Int): DataFrame = {
    require(dims >= 2 && dims <= 16, "dims in [2, 16] (d^2 output)")
    val q = cast(df)
    val comp = (0 until dims).foldLeft(q) { (acc, i) =>
      acc.withColumn(s"c$i",
        expr(s"CAST(floor(element_at(ev, ${i + 1}) * 1000000 + 0.5) AS BIGINT)"))
    }
    val pairs = for (i <- 0 until dims; j <- i until dims) yield (i, j)
    val aggs = Seq(count(lit(1)).as("n_rows")) ++
      pairs.map { case (i, j) => sum(col(s"c$i") * col(s"c$j")).as(s"g_${i}_$j") }
    val m = comp.agg(aggs.head, aggs.tail: _*)
    val stackArgs = pairs
      .map { case (i, j) => s"${i}L, ${j}L, g_${i}_$j" }.mkString(", ")
    m.selectExpr("n_rows",
        s"stack(${pairs.size}, $stackArgs) AS (i, j, g_e12)")
      .select(col("i"), col("j"), col("g_e12"), col("n_rows"))
  }

  /** Sign-preserving truncating division — Spark `div` truncates toward
    * zero while DuckDB `//` floors, so NEGATIVE numerators must be
    * factored through positive operands to agree. */
  private def sdiv(v: String, d: String): String =
    s"(CASE WHEN ($v) >= 0 THEN ($v) div ($d) ELSE -((-($v)) div ($d)) END)"

  /** The upper-triangle [[gramMatrix]] output mirrored to the full
    * symmetric matrix and row-scaled to covariance: (i, j, g) with
    * g = g_e12 div n_rows, checkpointed for reuse. */
  private def scaledGram(gram: DataFrame): DataFrame = {
    val g0 = gram.localCheckpoint(false)
    val sym = g0.select(col("i"), col("j"), col("g_e12"), col("n_rows"))
      .unionByName(g0.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("g_e12"), col("n_rows")))
    sym.select(col("i"), col("j"), expr(sdiv("g_e12", "n_rows")).as("g"))
      .localCheckpoint(false)
  }

  /** Top-eigenvector estimate of the [[gramMatrix]] output by `iters`
    * rounds of power iteration, entirely in integers: the matrix is
    * row-scaled to per-row covariance (g div n_rows), the vector lives
    * in e4 fixed point normalized by max|y| each round (one broadcast
    * scalar), every signed division factored positive so the oracle
    * replays bit-for-bit. All frames after the Gram aggregate are
    * dims-sized — the iteration costs dims² rows per round, never a
    * data pass. Output: (i, x_e4). */
  def powerIteration(gram: DataFrame, dims: Int, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 8, "iters in [1, 8]")
    val gsc = scaledGram(gram)
    var x = gram.sparkSession.range(dims).select(col("id").as("j"), lit(10000L).as("x"))
    for (_ <- 1 to iters) {
      val y = gsc.join(x, Seq("j"))
        .groupBy(col("i")).agg(sum(col("g") * col("x")).as("y"))
      val my = y.agg(max(abs(col("y"))).as("my"))
      // normalize as y div (my/1e4): exactly y·1e4/my once my ≥ 1e8, and
      // never overflows (y·1e4 would for large Gram entries)
      x = y.crossJoin(broadcast(my))
        .select(col("i").as("j"),
          expr(sdiv("y", "greatest(1L, my div 10000L)")).as("x"))
        .localCheckpoint(false)
    }
    x.select(col("j").as("i"), col("x").as("x_e4"))
  }

  /** Second principal direction by HOTELLING DEFLATION: estimate the
    * top eigenvector x₁ with [[powerIteration]], subtract its rank-one
    * component G' = G − λ₁·x₁x₁ᵀ/(x₁ᵀx₁) with λ₁ the Rayleigh quotient
    * x₁ᵀGx₁/x₁ᵀx₁, and power-iterate the deflated matrix. Entirely in
    * integers: λ₁'s numerator rides DECIMAL(38,0) (HUGEINT in the
    * oracle), the rank-one correction closes with ONE sign-factored
    * truncating division per (i,j), and the second iteration reuses
    * [[powerIteration]] verbatim on the deflated entries (n_rows = 1 —
    * already scaled). G is PSD so λ₁ ≥ 0; only x₁'s component signs
    * alternate, which sdiv factors positive. Output per dim:
    * (i, x1_e4, x2_e4).
    *
    * Scale: both iterations and the deflation are dims²-sized frames —
    * after the ONE Gram aggregate nothing touches the data again. */
  def powerIterationDeflated(gram: DataFrame, dims: Int,
                             iters: Int): DataFrame = {
    val x1 = powerIteration(gram, dims, iters).localCheckpoint(false)
    val gsc = scaledGram(gram)
    val xx = x1.agg(sum(col("x_e4") * col("x_e4")).as("xx"))
    val gx = gsc.join(x1.select(col("i").as("j"), col("x_e4").as("xj")), "j")
      .groupBy(col("i")).agg(sum(col("g") * col("xj")).as("gx"))
    val lam = gx.join(x1, "i")
      .agg(sum(col("gx").cast(dec) * col("x_e4").cast(dec)).as("lam_num"))
    val g2 = gsc
      .join(broadcast(x1.select(col("i"), col("x_e4").as("xi"))), "i")
      .join(broadcast(x1.select(col("i").as("j"), col("x_e4").as("xj"))), "j")
      .crossJoin(broadcast(lam)).crossJoin(broadcast(xx))
      .where(col("i") <= col("j"))
      .selectExpr("i", "j",
        s"""CAST(g - ${sdiv(
          s"lam_num * CAST(xi AS $dec) * CAST(xj AS $dec)",
          s"CAST(xx AS $dec) * CAST(xx AS $dec)")} AS BIGINT) AS g_e12""",
        "CAST(1 AS BIGINT) AS n_rows")
    val x2 = powerIteration(g2, dims, iters)
    x1.select(col("i"), col("x_e4").as("x1_e4"))
      .join(x2.select(col("i"), col("x_e4").as("x2_e4")), "i")
  }

  /** k-NN classification with a fold split: vectors with
    * vec_id % 5 == `testFold` are scored against ALL training vectors
    * by EXACT integer squared L2 over e6-quantized components
    * (floor(x·10⁶ + ½) per dim, d² in e12 units — the PQ/IVF distance
    * convention), the k nearest (ties → smaller vec_id) vote, and the
    * majority label (ties → smaller label) becomes the prediction.
    * Output is the confusion matrix: (label, pred, n_vecs).
    *
    * Scale: this is the BRUTE verifier — test×train pairs with a
    * 64-wide fold each; the bucketed escape hatches ([[lshBucket]],
    * IVF coarse quantization) bound the candidate set when the corpus
    * outgrows brute force, exactly as for top-k search. */
  def knnClassify(df: DataFrame, k: Int, testFold: Long = 0L): DataFrame = {
    require(k >= 1)
    val q = cast(df).select(col("vec_id"), col("label").cast("long").as("label"),
      expr("transform(ev, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))")
        .as("qv"))
    // The test fold often reads back as ONE input split (a small parquet
    // file), which would serialize the whole |test|·|train| pair scan on
    // a single core; spread it across the session's shuffle width first.
    // Round-robin (not hash-on-vec_id): keeping the window's own exchange
    // boundary also materializes the lambda-HOF distance once at shuffle
    // write — fusing it straight into Sort/WindowGroupLimit measured ~5×
    // slower at 640k pairs.
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    val test = q.filter(col("vec_id") % 5 === testFold).repartition(width)
    val train = q.filter(col("vec_id") % 5 =!= testFold)
      .select(col("vec_id").as("tid"), col("label").as("tlabel"),
        col("qv").as("tv"))
    val scored = test.crossJoin(train)
      .select(col("vec_id"), col("label"), col("tid"), col("tlabel"),
        expr("""aggregate(zip_with(qv, tv, (x, y) -> (x - y) * (x - y)),
               |0L, (acc, v) -> acc + v)""".stripMargin).as("d2_e12"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
          .orderBy(col("d2_e12"), col("tid"))))
      .filter(col("rk") <= k)
    scored.groupBy(col("vec_id"), col("label"), col("tlabel"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct((-col("votes")).as("nv"), col("tlabel")))
        .getField("tlabel").as("pred"))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n_vecs"))
  }
}
