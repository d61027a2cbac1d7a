package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Local Outlier Factor over an embedding corpus — the density-ratio
  * outlier score (Breunig et al., SIGMOD 2000): LOF(a) ≈ 1 for points
  * inside a uniform-density region, ≫ 1 for points whose k-neighborhood
  * is much sparser than their neighbors'. The standard embedding-QA
  * sweep before training: mislabeled / corrupted vectors surface at the
  * top.
  *
  * Determinism: distances are exact e12 integers (the
  * [[Similarity.knnClassify]] convention), the kNN set is
  * (d², id)-tiebroken row_number (ties at the k-distance pick the
  * smaller id — a documented deviation from the all-ties definition,
  * identical in the oracle), and the lrd reciprocals ride a 1e24
  * fixed-point: lof_e6 = Σreach(a) · Σ_b inv(b) / (k·1e18) with every
  * operand a nonnegative integer, so truncating division agrees
  * cross-engine.
  */
object Outlier {

  /** LOF with exact kNN WITHIN each label block, top `topPerLabel`
    * outliers per label. `emb` carries (vec_id, embedding, label).
    * Output: (label, vec_id, kdist_e12, lof_e6), the per-label top
    * rows by (lof desc, vec_id).
    *
    * Scale: label-blocked brute kNN — the pair count is Σ_l n_l², the
    * same bounded-candidate contract as the LSH/IVF similarity paths;
    * at corpus scale swap the blocking key for an LSH/IVF bucket and
    * this pipeline is unchanged. Three aggregates all keyed on vec_id
    * reuse one knn exchange; nothing joins the raw vectors twice. */
  def lofWithinLabel(emb: DataFrame, k: Int, topPerLabel: Int): DataFrame = {
    require(k >= 1 && topPerLabel >= 1)
    val q = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("label").cast("long").as("label"),
      expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
        "x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))").as("qv"))
    // The label join lands on |labels| partitions; round-robin the
    // pairs across the session's shuffle width BEFORE the 64-wide
    // distance fold so it runs on every core (the knnClassify lesson —
    // fusing the fold into the skewed join stage measured ~3× slower).
    // The pair frame that crosses that exchange carries ONLY ids — the
    // two 64-long vectors attach AFTER the repartition via broadcast
    // equi-joins against the vector table, so the shuffle moves
    // O(pairs·24B) instead of O(pairs·1KB) of duplicated array payload.
    // The vector table holds one row per input vector, so the whole
    // corpus (n vectors × ~0.5 KB), not one label block, must fit a
    // broadcast.
    val qv = q.select(col("vec_id"), col("qv")).localCheckpoint(false)
    val idsOnly = q.select(col("label"), col("vec_id"))
    val width = emb.sparkSession.sessionState.conf.numShufflePartitions
    val knn0 = idsOnly
      .join(idsOnly.select(col("label"), col("vec_id").as("ib")), "label")
      .where(col("vec_id") =!= col("ib"))
      .repartition(width)
      // qv is a checkpointed LogicalRDD with no stats, so without the
      // hint both attach joins planned as SortMergeJoins with their own
      // hash exchanges — destroying the round-robin spread the
      // repartition exists to provide. broadcast() forces the BHJ for
      // every input size: label blocking bounds the pairs, not qv, so
      // the limit of this operator is the total corpus size fitting one
      // broadcast (there is no shuffle fallback).
      .join(broadcast(qv), "vec_id")
      .join(broadcast(qv.select(col("vec_id").as("ib"), col("qv").as("bv"))),
        "ib")
      .select(col("label"), col("vec_id").as("ia"), col("ib"),
        expr("""aggregate(zip_with(qv, bv, (x, y) -> (x - y) * (x - y)),
               |0L, (acc, v) -> acc + v)""".stripMargin).as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("ia")).orderBy(col("d2"), col("ib"))))
      .filter(col("rk") <= k)
    val knn = graft.PlanTap.tap(knn0, "q_lof.knn_pre_checkpoint")
      .localCheckpoint(false) // O(k·n) rows; reused by 3 aggregates below
    val kdist = knn.groupBy(col("ia"))
      .agg(max(col("d2")).as("kdist"))
    val sreach = knn
      .join(kdist.select(col("ia").as("ib"), col("kdist").as("kdist_b")),
        "ib")
      .groupBy(col("label"), col("ia"))
      .agg(sum(greatest(col("kdist_b"), col("d2"))).as("sreach0"))
      // Floor at 2e5 (e12 units), not 1: inv_b = 1e24 div sreach must fit
      // a BIGINT (1e24/2e5 = 5e18 < Long.MAX). Below the floor the
      // neighborhood is near-duplicate anyway and the density saturates;
      // without it Spark's non-ANSI decimal→long cast yields NULL while
      // DuckDB's HUGEINT→BIGINT cast raises — divergent engines.
      .withColumn("sreach", greatest(col("sreach0"), lit(200000L)))
    val inv = sreach.selectExpr("ia AS ib",
      s"""CAST(CAST('1000000000000000000000000' AS $dec)
         |  div CAST(sreach AS $dec) AS BIGINT) AS inv_b""".stripMargin)
    val sinv = knn.join(inv, "ib")
      .groupBy(col("ia")).agg(sum(col("inv_b")).as("sinv"))
    sreach.join(sinv, "ia").join(kdist, "ia")
      .selectExpr("label", "ia AS vec_id", "kdist AS kdist_e12",
        s"""CAST(CAST(sreach AS $dec) * CAST(sinv AS $dec)
           |  div CAST('${k}000000000000000000' AS $dec) AS BIGINT)
           |  AS lof_e6""".stripMargin)
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("lof_e6").desc, col("vec_id"))))
      .where(col("pick") <= topPerLabel).drop("pick")
  }
}
