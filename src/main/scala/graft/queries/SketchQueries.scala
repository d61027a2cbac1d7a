package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Bm25, Dedup, Quantiles, Sampling, Sketches}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketches, synopses and samples: distinct-count, frequency and quantile
  * sketches, optimizer histograms, cardinality estimation, weighted and
  * stratified samples, reservoirs, survey allocation and calibration
  * weights, and capture-recapture. */
object SketchQueries extends QueryCatalog {

  import Fixtures._

  import PortableSql.{hash48 => hash48Sql}

  /** One greedy v-optimal round: given the checkpointed frequency axis
    * and the boundaries chosen so far (column `s`; left bucket takes
    * v ≤ s), return the single boundary value whose split maximizes the
    * SSE reduction (ties → smaller v). SSE of a bucket = Σf² − (Σf)²
    * div n over its frequencies — truncating integer div, portable. */
  private def voptPick(freq: DataFrame, bnds: DataFrame): DataFrame = {
    // bucket of v = #boundaries < v; the groupBy is also the Aggregate
    // that keeps the argmax window's input visibly bounded
    val assigned = freq.join(broadcast(bnds), col("s") < col("v"), "left")
      .groupBy(col("v"), col("f")).agg(count(col("s")).as("b"))
    val cum = Window.partitionBy(col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("b"))
    assigned
      .withColumn("cn", count(lit(1)).over(cum))
      .withColumn("cf", sum(col("f")).over(cum))
      .withColumn("cf2", sum(col("f") * col("f")).over(cum))
      .withColumn("tn", count(lit(1)).over(tot))
      .withColumn("tf", sum(col("f")).over(tot))
      .withColumn("tf2", sum(col("f") * col("f")).over(tot))
      .filter(col("cn") < col("tn")) // a bucket's max value can't split it
      .withColumn("red", expr(
        """(tf2 - tf * tf div tn)
          | - (cf2 - cf * cf div cn)
          | - ((tf2 - cf2) - (tf - cf) * (tf - cf) div (tn - cn))"""
          .stripMargin))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("red").desc, col("v"))))
      .filter(col("rk") === 1)
      .select(col("v").as("s"))
      .localCheckpoint(false) // one-row boundary: later rounds reuse it
  }

  /** SQL twin of one [[voptPick]] round: `src` is the boundary CTE list
    * so far (UNION ALL of one-row `s` selects, or an empty relation). */
  private def voptPickSql(bndSrc: String): String =
    s"""SELECT v AS s FROM (
       |  SELECT v,
       |         (tf2 - tf * tf // tn)
       |           - (cf2 - cf * cf // cn)
       |           - ((tf2 - cf2) - (tf - cf) * (tf - cf) // (tn - cn))
       |           AS red
       |  FROM (
       |    SELECT v, f, b,
       |           count(*) OVER cum AS cn, sum(f) OVER cum AS cf,
       |           sum(f * f) OVER cum AS cf2,
       |           count(*) OVER tot AS tn, sum(f) OVER tot AS tf,
       |           sum(f * f) OVER tot AS tf2
       |    FROM (
       |      SELECT fr.v, fr.f, CAST(count(bb.s) AS BIGINT) AS b
       |      FROM freq fr LEFT JOIN ($bndSrc) bb ON bb.s < fr.v
       |      GROUP BY fr.v, fr.f)
       |    WINDOW cum AS (PARTITION BY b ORDER BY v
       |             ROWS UNBOUNDED PRECEDING),
       |           tot AS (PARTITION BY b)) x
       |  WHERE cn < tn) y
       |QUALIFY row_number() OVER (ORDER BY red DESC, v) = 1""".stripMargin

  /** ±1 sign for counter j from the md5 of the key: first hex digit in
    * 0-7 → +1 (top nibble bit clear), else −1. Identical text both
    * engines. */
  private def signSql(key: String, j: Int): String =
    s"CASE WHEN substring(md5(concat(CAST($key AS STRING), '_$j')), 1, 1)" +
      s" IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END"

  private def signDuck(key: String, j: Int): String =
    s"CASE WHEN substring(md5(concat(CAST($key AS VARCHAR), '_$j')), 1, 1)" +
      s" IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END"

  /** Per event type the log-bucket counts of the value cents (bucket
    * width 57536 in log2 e6 units) with running and total counts: CTEs
    * `e`, `b`, `c`, `w` (g, bucket, cnt, cum, n). */
  private val logBucketsSql = {
    val lg = Bm25.log2E6Sql("v")
    s"""e AS (SELECT event_type AS g,
       |                 greatest(1, CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
       |           FROM events),
       |b AS (SELECT g, $lg // 57536 AS bucket FROM e),
       |c AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
       |w AS (SELECT g, bucket, cnt,
       |             CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS BIGINT) AS cum,
       |             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
       |      FROM c)""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    // ── Count-min heavy hitters ([[Sketches]]): 3×64 integer counter table
    //    over event user_ids; the top-10 exact heavy hitters annotated with
    //    their (always ≥ exact) CMS estimates — the fixed-memory frequency
    //    path for unbounded key cardinality.
    QueryDef("q_cms_heavy",
      (s, d) => {
        val ev = Tables.events(s, d)
        val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
        val top = exact.orderBy(col("exact_cnt").desc, col("user_id").asc).limit(10)
          .localCheckpoint(false)
        Sketches.cmsEstimate(top, Sketches.cmsBuild(ev, "user_id"), "user_id")
          .join(top, "user_id")
          .select(col("user_id"), col("exact_cnt"), col("cms_est"))
      },
      Some {
        def h(j: Int) = hash48Sql("CAST(user_id AS VARCHAR)", s"'cms$j'")
        val unions = (0 until 3).map(j =>
          s"SELECT $j AS j, ${h(j)} % 64 AS bucket FROM events").mkString("\n UNION ALL\n ")
        val bucketCase = "CASE js.j " +
          (0 until 3).map(j => s"WHEN $j THEN ${h(j)} % 64").mkString(" ") + " END"
        s"""WITH ex AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
           |top AS (SELECT * FROM ex ORDER BY exact_cnt DESC, user_id ASC LIMIT 10),
           |c AS (SELECT j, bucket, count(*) AS c FROM (
           | $unions) u GROUP BY 1, 2),
           |est AS (SELECT t.user_id, min(c.c) AS cms_est
           |        FROM top t CROSS JOIN (VALUES (0), (1), (2)) js(j)
           |        JOIN c ON c.j = js.j AND c.bucket = $bucketCase
           |        GROUP BY 1)
           |SELECT t.user_id, t.exact_cnt, e.cms_est
           |FROM top t JOIN est e ON t.user_id = e.user_id""".stripMargin
      }),

    // ── Deterministic weighted sampling: priority = content_hash div
    //    weight, bottom-k — heavier rows get systematically smaller
    //    priorities, and the decision replays identically under
    //    repartitioning/retries/engine swaps ([[graft.ops.Sampling]]'s
    //    hash-gate idea extended with weights).
    QueryDef("q_sample_weighted",
      (s, d) => Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"))
        .withColumn("h", graft.ops.Dedup.hash48(
          concat(col("l_orderkey"), lit("-"), col("l_linenumber")), lit("wsamp")))
        .withColumn("pri", expr("h div qty"))
        .orderBy(col("pri").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(10)
        .select(col("l_orderkey"), col("l_linenumber"), col("qty"), col("pri")),
      Some {
        val h = hash48Sql(
          "concat(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR))",
          "'wsamp'")
        s"""WITH t AS (SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
           |                  $h AS h
           |           FROM lineitem)
           |SELECT l_orderkey, l_linenumber, qty, CAST(h // qty AS BIGINT) AS pri
           |FROM t ORDER BY pri ASC, l_orderkey ASC, l_linenumber ASC LIMIT 10""".stripMargin
      }),

    // ── DDSketch-style relative-error quantiles: log₂ buckets via the
    //    fixed-point log (γ = 2^0.057536 ≈ 1.041, α ≈ 2%), mergeable by
    //    addition; landing buckets for p50/p95/p99 per type.
    QueryDef("q_ddsketch",
      (s, d) => graft.ops.Sketches.logBucketQuantile(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents", 57536L, Seq(500000L, 950000L, 990000L)),
      Some {
        s"""WITH $logBucketsSql,
           |ps AS (SELECT unnest([500000, 950000, 990000]) AS p_e6)
           |SELECT g, CAST(ps.p_e6 AS BIGINT) AS p_e6, CAST(bucket AS BIGINT) AS bucket,
           |       CAST((n * ps.p_e6 + 999999) // 1000000 AS BIGINT) AS k, n
           |FROM w JOIN ps ON cum >= (n * ps.p_e6 + 999999) // 1000000
           |              AND cum - cnt < (n * ps.p_e6 + 999999) // 1000000""".stripMargin
      }),

    // ── DDSketch with reconstructed values: the fixed-point 2^x inverse
    //    turns each landing bucket's midpoint back into a representative
    //    cents estimate — reconstruction stays engine-portable integer.
    QueryDef("q_ddsketch_values",
      (s, d) => graft.ops.Sketches.logBucketQuantile(
        Tables.events(s, d).select(col("event_type").as("g"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents", 57536L, Seq(500000L, 990000L))
        .withColumn("mid_l", expr("bucket * 57536L + 28768L"))
        .withColumn("est_cents", graft.ops.Sketches.pow2E6Expr("mid_l"))
        .drop("mid_l"),
      Some {
        val lg = Bm25.log2E6Sql("v")
        val est = graft.ops.Sketches.pow2E6Sql("bucket * 57536 + 28768")
        s"""WITH e AS (SELECT event_type AS g,
           |                 greatest(1, CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
           |           FROM events),
           |b AS (SELECT g, $lg // 57536 AS bucket FROM e),
           |c AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
           |w AS (SELECT g, bucket, cnt,
           |             CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS BIGINT) AS cum,
           |             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
           |      FROM c),
           |ps AS (SELECT unnest([500000, 990000]) AS p_e6)
           |SELECT g, CAST(ps.p_e6 AS BIGINT) AS p_e6, CAST(bucket AS BIGINT) AS bucket,
           |       CAST((n * ps.p_e6 + 999999) // 1000000 AS BIGINT) AS k, n,
           |       CAST($est AS BIGINT) AS est_cents
           |FROM w JOIN ps ON cum >= (n * ps.p_e6 + 999999) // 1000000
           |              AND cum - cnt < (n * ps.p_e6 + 999999) // 1000000""".stripMargin
      }),

    // ── Sketch MERGEABILITY proved by the oracle: per-shard DDSketches
    //    merged by adding counts must land identically to the one-shot
    //    sketch — the oracle computes the direct form, the engine the
    //    sharded+merged form.
    QueryDef("q_ddsketch_merged",
      (s, d) => {
        val base = Tables.events(s, d).select(col("event_type").as("g0"),
          (col("user_id") % 4).as("shard"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val perShard = graft.ops.Sketches.logBucketSketch(
          base.select(concat_ws("|", col("g0"), col("shard")).as("g"),
            col("cents")), "g", "cents", 57536L)
          .select(expr("split(g, '\\\\|')[0]").as("g"), col("bucket"), col("cnt"))
        graft.ops.Sketches.logBucketLanding(
          graft.ops.Sketches.mergeLogBuckets(perShard), Seq(500000L, 950000L))
      },
      Some {
        s"""WITH $logBucketsSql,
           |ps AS (SELECT unnest([500000, 950000]) AS p_e6)
           |SELECT g, CAST(ps.p_e6 AS BIGINT) AS p_e6, CAST(bucket AS BIGINT) AS bucket,
           |       CAST((n * ps.p_e6 + 999999) // 1000000 AS BIGINT) AS k, n
           |FROM w JOIN ps ON cum >= (n * ps.p_e6 + 999999) // 1000000
           |              AND cum - cnt < (n * ps.p_e6 + 999999) // 1000000""".stripMargin
      }),

    // ── Register-based HyperLogLog over lineitem order keys: 64
    //    registers of max first-set-bit rank; the harmonic mean is
    //    factored as α·m²·2^ρmax / Σ 2^(ρmax−ρ) so the whole estimate
    //    is integer (oracle replays bit-for-bit). countDistinct would
    //    shuffle every distinct key; this shuffles 64 rows.
    QueryDef("q_hll",
      (s, d) => Sketches.hll(
        Tables.lineitem(s, d).select(col("l_orderkey")), "l_orderkey"),
      Some {
        val h = hash48Sql("CAST(l_orderkey AS VARCHAR)", "'hll'")
        val rho = Sketches.hllRhoSql(s"(h >> 6) & ${(1L << 26) - 1}")
        s"""WITH hx AS (SELECT $h AS h FROM lineitem),
           |r0 AS (SELECT h % 64 AS bucket, $rho AS rho FROM hx),
           |regs AS (SELECT bucket, max(rho) AS r FROM r0 GROUP BY 1),
           |grid AS (SELECT range AS bucket FROM range(64)),
           |filled AS (SELECT CAST(coalesce(r, 0) AS BIGINT) AS r
           |           FROM grid LEFT JOIN regs USING (bucket)),
           |m AS (SELECT CAST(max(r) AS BIGINT) AS rmax FROM filled),
           |sm AS (SELECT rmax,
           |              CAST(count(*) FILTER (WHERE r > 0) AS BIGINT) AS nz_registers,
           |              CAST(sum(CAST(1 AS BIGINT) << CAST(rmax - r AS INT)) AS BIGINT) AS s
           |       FROM filled CROSS JOIN m GROUP BY rmax)
           |SELECT rmax, nz_registers, s,
           |       CAST(709 * 64 * 64 * (CAST(1 AS BIGINT) << CAST(rmax AS INT)) // (s * 1000) AS BIGINT) AS est
           |FROM sm""".stripMargin
      }),

    // ── Theta/KMV sketch set operations over two corpus snapshots
    //    ("yesterday" = doc_id%10 < 8, "today" = doc_id%10 > 1): union /
    //    intersection / difference cardinalities from two k=16 sketches
    //    — never joining the raw sets. All-integer c·2⁴⁸ div θ.
    QueryDef("q_theta_sketch",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Sketches.thetaSetOps(
          docs.filter(col("doc_id") % 10 < 8).select(col("doc_id")),
          docs.filter(col("doc_id") % 10 > 1).select(col("doc_id")), 16)
      },
      Some {
        val h = hash48Sql("CAST(doc_id AS VARCHAR)", "'theta'")
        s"""WITH ka AS (SELECT DISTINCT $h AS h FROM documents
           |            WHERE doc_id % 10 < 8 ORDER BY h LIMIT 16),
           |kb AS (SELECT DISTINCT $h AS h FROM documents
           |       WHERE doc_id % 10 > 1 ORDER BY h LIMIT 16),
           |u AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
           |      ORDER BY h LIMIT 16),
           |th AS (SELECT max(h) AS theta FROM u),
           |j AS (SELECT coalesce(a.h, b.h) AS h,
           |             a.h IS NOT NULL AS ia, b.h IS NOT NULL AS ib
           |      FROM ka a FULL JOIN kb b ON a.h = b.h),
           |f AS (SELECT * FROM j CROSS JOIN th WHERE h < theta)
           |SELECT CAST(16 AS BIGINT) AS k, CAST(max(theta) AS BIGINT) AS theta,
           |       CAST(count(*) FILTER (WHERE ia) * 281474976710656 // max(theta) AS BIGINT) AS est_a,
           |       CAST(count(*) FILTER (WHERE ib) * 281474976710656 // max(theta) AS BIGINT) AS est_b,
           |       CAST(count(*) * 281474976710656 // max(theta) AS BIGINT) AS est_union,
           |       CAST(count(*) FILTER (WHERE ia AND ib) * 281474976710656 // max(theta) AS BIGINT) AS est_inter,
           |       CAST(count(*) FILTER (WHERE ia AND NOT ib) * 281474976710656 // max(theta) AS BIGINT) AS est_diff_ab
           |FROM f""".stripMargin
      }),

    // ── Per-key deterministic reservoir: 5 uniform sample rows per
    //    event type via hash-rank top-k — the bounded-memory per-group
    //    sampler (rank agg is a windowed top-k, no global sort).
    QueryDef("q_reservoir_perkey",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val h = graft.ops.Dedup.hash48(col("event_id").cast("string"), lit("res"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("h"), col("event_id"))
        Tables.events(s, d).select(col("event_type"), col("event_id"))
          .withColumn("h", h)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("event_type"), col("rn").cast("long").as("rn"), col("event_id"))
      },
      Some {
        val h = hash48Sql("CAST(event_id AS VARCHAR)", "'res'")
        s"""WITH r AS (SELECT event_type, event_id, $h AS h FROM events),
           |rk AS (SELECT event_type, event_id,
           |              row_number() OVER (PARTITION BY event_type
           |                                 ORDER BY h, event_id) AS rn
           |       FROM r)
           |SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id
           |FROM rk WHERE rn <= 5""".stripMargin
      }),

    // ── Sketch-accuracy audit: DDSketch-style log-bucket p50/p99
    //    estimates vs the exact rank statistics, per returnflag — the
    //    relative error the sketch PROMISES (~2% at 5-bit mantissa ×
    //    k=57536) measured, not assumed. Sketch: one (g, bucket) count
    //    aggregate; exact: the histogram-selection grouped percentile.
    QueryDef("q_quantile_audit",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_returnflag").as("g"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"))
        val sk = Sketches.logBucketQuantile(li, "g", "cents", 57536L,
            Seq(500000L, 990000L))
          .withColumn("mid_l", expr("bucket * 57536L + 28768L"))
          .withColumn("est_cents", Sketches.pow2E6Expr("mid_l"))
        val ex = Quantiles.groupedPercentileBands(li, "g", "cents",
          Seq(500000L, 990000L))
        sk.join(ex.select(col("g"), col("p_e6"),
            col("value").as("exact_cents")), Seq("g", "p_e6"))
          .select(col("g"), col("p_e6"), col("bucket"), col("k"), col("n"),
            col("est_cents"), col("exact_cents"),
            expr("abs(est_cents - exact_cents) * 1000000L div exact_cents")
              .as("err_e6"))
      },
      Some {
        val lg = Bm25.log2E6Sql("v")
        val est = Sketches.pow2E6Sql("bucket * 57536 + 28768")
        s"""WITH e AS (SELECT l_returnflag AS g,
           |                 greatest(1, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS v
           |           FROM lineitem),
           |b AS (SELECT g, v, $lg // 57536 AS bucket FROM e),
           |c AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
           |w AS (SELECT g, bucket, cnt,
           |             CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bucket) AS BIGINT) AS cum,
           |             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
           |      FROM c),
           |ps AS (SELECT unnest([500000, 990000]) AS p_e6),
           |land AS (SELECT g, CAST(ps.p_e6 AS BIGINT) AS p_e6,
           |                CAST(bucket AS BIGINT) AS bucket,
           |                CAST((n * ps.p_e6 + 999999) // 1000000 AS BIGINT) AS k, n,
           |                CAST($est AS BIGINT) AS est_cents
           |         FROM w JOIN ps ON cum >= (n * ps.p_e6 + 999999) // 1000000
           |                       AND cum - cnt < (n * ps.p_e6 + 999999) // 1000000),
           |ranked AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
           |           FROM e)
           |SELECT l.g, l.p_e6, l.bucket, l.k, l.n, l.est_cents,
           |       r.v AS exact_cents,
           |       CAST(abs(l.est_cents - r.v) * 1000000 // r.v AS BIGINT) AS err_e6
           |FROM land l JOIN ranked r ON r.g = l.g AND r.rn = l.k""".stripMargin
      }),

    // ── Deterministic weight-biased bottom-10 sample of documents,
    //    weight = n_chars (longer docs more likely selected).
    QueryDef("q_weighted_sample",
      (s, d) => Sampling.weightedPriority(
        Tables.documents(s, d), "doc_id", "n_chars", "ws", 10),
      Some(s"""SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
              |       CAST(${PortableSql.hash48(
                       "CAST(doc_id AS VARCHAR)", "'ws'")}
              |            // greatest(n_chars, 1) AS BIGINT) AS pri
              |FROM documents
              |ORDER BY pri, doc_id LIMIT 10""".stripMargin)),

    /* CMS/AMS join-cardinality estimation — the optimizer
     * sketch, graded against the exact join size. */

    // ── How big is events ⋈ customer on (user_id = c_custkey)? Sketch
    //    inner product vs the exact key-count product.
    QueryDef("q_join_size_estimate",
      (s, d) => Sketches.joinSizeEstimate(
        Tables.events(s, d), "user_id", Tables.customer(s, d), "c_custkey"),
      Some {
        def h(side: String, j: Int) =
          PortableSql.hash48(s"CAST($side AS VARCHAR)", s"'cms$j'")
        def cms(tbl: String, key: String) = (0 until 3).map(j =>
          s"SELECT $j AS j, ${h(key, j)} % 64 AS bucket FROM $tbl")
          .mkString("\n UNION ALL\n ")
        s"""WITH ca AS (SELECT j, bucket, count(*) AS c FROM (
           | ${cms("events", "user_id")}) u GROUP BY 1, 2),
           |cb AS (SELECT j, bucket, count(*) AS c FROM (
           | ${cms("customer", "c_custkey")}) u GROUP BY 1, 2),
           |dots AS (SELECT ca.j, sum(ca.c * cb.c) AS dot
           |         FROM ca JOIN cb ON cb.j = ca.j AND cb.bucket = ca.bucket
           |         GROUP BY ca.j),
           |est AS (SELECT CAST(min(dot) AS BIGINT) AS est_rows FROM dots),
           |na AS (SELECT user_id AS k, count(*) AS n FROM events GROUP BY 1),
           |nb AS (SELECT c_custkey AS k, count(*) AS n FROM customer
           |       GROUP BY 1),
           |ex AS (SELECT CAST(coalesce(sum(na.n * nb.n), 0) AS BIGINT)
           |         AS exact_rows
           |       FROM na JOIN nb ON nb.k = na.k)
           |SELECT est_rows, exact_rows,
           |       CAST(CASE WHEN exact_rows = 0 THEN NULL
           |            ELSE (est_rows - exact_rows) * 1000000 // exact_rows
           |            END AS BIGINT) AS over_e6
           |FROM est CROSS JOIN ex""".stripMargin
      }),

    // ── IPF raking, one row sweep + one column sweep in e6 fixed
    //    point: even-custkey sample reweighted to the full population's
    //    segment and nation margins.
    QueryDef("q_raking",
      (s, d) => {
        val u = Tables.customer(s, d)
          .select(col("c_mktsegment").as("seg"),
            col("c_nationkey").cast("long").as("nk"),
            col("c_custkey").as("ck"))
          .localCheckpoint(false) // population + sample margins
        val cells = u.where(col("ck") % 2 === 0)
          .groupBy(col("seg"), col("nk")).agg(count(lit(1)).as("n_cell"))
        val targetRow = u.groupBy(col("seg")).agg(count(lit(1)).as("t_row"))
        val targetCol = u.groupBy(col("nk")).agg(count(lit(1)).as("t_col"))
        // pass 1: match segment margins.  w1_e6 = t_row·1e6 / cur_row
        val w1 = cells.join(broadcast(targetRow), "seg")
          .withColumn("cur_row", sum(col("n_cell")).over(
            Window.partitionBy(col("seg"))))
          .withColumn("w1_e6", expr("t_row * 1000000 div cur_row"))
        // pass 2: match nation margins on the reweighted cells
        val w2 = w1.join(broadcast(targetCol), "nk")
          .withColumn("cur_col", sum(expr("n_cell * w1_e6")).over(
            Window.partitionBy(col("nk"))))
          .withColumn("w2_e6", expr(
            "w1_e6 * (t_col * 1000000 div (cur_col div 1000000)) " +
              "div 1000000"))
        w2.withColumn("wsum", sum(expr("n_cell * w2_e6")).over(
            Window.partitionBy(col("seg"))))
          .selectExpr("seg", "nk", "n_cell", "w2_e6", "t_row", "t_col",
            "abs(wsum div 1000000 - t_row) AS row_err")
      },
      Some("""WITH u AS (SELECT c_mktsegment AS seg,
             |                 CAST(c_nationkey AS BIGINT) AS nk,
             |                 c_custkey AS ck
             |          FROM customer),
             |cells AS (SELECT seg, nk, CAST(count(*) AS BIGINT) AS n_cell
             |          FROM u WHERE ck % 2 = 0 GROUP BY 1, 2),
             |tr AS (SELECT seg, CAST(count(*) AS BIGINT) AS t_row
             |       FROM u GROUP BY 1),
             |tc AS (SELECT nk, CAST(count(*) AS BIGINT) AS t_col
             |       FROM u GROUP BY 1),
             |w1 AS (SELECT cells.seg, nk, n_cell, t_row,
             |              CAST(sum(n_cell) OVER (PARTITION BY cells.seg)
             |                AS BIGINT) AS cur_row
             |       FROM cells JOIN tr ON cells.seg = tr.seg),
             |w1b AS (SELECT *, t_row * 1000000 // cur_row AS w1_e6 FROM w1),
             |w2 AS (SELECT w1b.seg, w1b.nk, n_cell, t_row, w1_e6, t_col,
             |              CAST(sum(n_cell * w1_e6) OVER (PARTITION BY
             |                w1b.nk) AS BIGINT) AS cur_col
             |       FROM w1b JOIN tc ON w1b.nk = tc.nk),
             |w2b AS (SELECT *, w1_e6 * (t_col * 1000000
             |               // (cur_col // 1000000)) // 1000000 AS w2_e6
             |        FROM w2)
             |SELECT seg, nk, n_cell, CAST(w2_e6 AS BIGINT) AS w2_e6,
             |       t_row, t_col,
             |       abs(CAST(sum(n_cell * w2_e6) OVER (PARTITION BY seg)
             |         AS BIGINT) // 1000000 - t_row) AS row_err
             |FROM w2b""".stripMargin)),

    // ── Chapman capture–recapture per event type: first vs second half
    //    of the time range as the two capture occasions.
    QueryDef("q_capture_recapture",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type").as("et"), col("user_id").as("u"),
            expr("unix_micros(ts)").as("t"))
        val mid = ev.agg(expr("(min(t) + max(t)) div 2").as("mid"))
        // ONE (et, u) collapse carries both occasion flags — n1/n2/m/true
        // then fall out of a single per-type rollup (2 exchanges total,
        // vs 4 distinct+join passes over the raw scan).
        ev.crossJoin(broadcast(mid))
          .groupBy(col("et"), col("u"))
          .agg(max(when(col("t") < col("mid"), 1L).otherwise(0L)).as("in1"),
            max(when(col("t") >= col("mid"), 1L).otherwise(0L)).as("in2"))
          .groupBy(col("et"))
          .agg(sum(col("in1")).as("n1"), sum(col("in2")).as("n2"),
            sum(col("in1") * col("in2")).as("m_both"),
            count(lit(1)).as("n_true"))
          .selectExpr("et", "n1", "n2", "m_both", "n_true",
            "(n1 + 1) * (n2 + 1) div (m_both + 1) - 1 AS n_chapman")
      },
      Some("""WITH ev AS (SELECT event_type AS et, user_id AS u,
             |                  epoch_us(ts) AS t FROM events),
             |mid AS (SELECT (min(t) + max(t)) // 2 AS mid
             |        FROM ev),
             |tagged AS (SELECT et, u, t < mid AS h1
             |           FROM ev CROSS JOIN mid),
             |s1 AS (SELECT DISTINCT et, u FROM tagged WHERE h1),
             |s2 AS (SELECT DISTINCT et, u FROM tagged WHERE NOT h1),
             |m AS (SELECT s1.et, CAST(count(*) AS BIGINT) AS m_both
             |      FROM s1 JOIN s2 ON s1.et = s2.et AND s1.u = s2.u
             |      GROUP BY 1),
             |c1 AS (SELECT et, CAST(count(*) AS BIGINT) AS n1
             |       FROM s1 GROUP BY 1),
             |c2 AS (SELECT et, CAST(count(*) AS BIGINT) AS n2
             |       FROM s2 GROUP BY 1),
             |tr AS (SELECT et, CAST(count(DISTINCT u) AS BIGINT) AS n_true
             |       FROM tagged GROUP BY 1)
             |SELECT c1.et, n1, n2, m_both, n_true,
             |       (n1 + 1) * (n2 + 1) // (m_both + 1) - 1 AS n_chapman
             |FROM c1 JOIN c2 ON c1.et = c2.et
             |     JOIN m ON c1.et = m.et JOIN tr ON c1.et = tr.et"""
        .stripMargin)),

    // ── Jackknife: the global mean spend recomputed with each nation
    //    deleted — exact integer pseudo-means, influence ranking.
    QueryDef("q_jackknife_groups",
      (s, d) => {
        val g = spenders(s, d)
          .groupBy(col("c_nationkey").cast("long").as("nk"))
          .agg(count(lit(1)).as("ng"), sum(col("y")).as("sg"))
        val tot = g.agg(sum(col("ng")).as("n"), sum(col("sg")).as("s"))
        g.crossJoin(broadcast(tot))
          .selectExpr("nk", "ng", "s div n AS mean_all_cents",
            "(s - sg) div (n - ng) AS mean_wo_cents",
            "(s - sg) div (n - ng) - s div n AS influence_cents")
      },
      Some(s"""WITH $spendYSql,
             |g AS (SELECT CAST(c_nationkey AS BIGINT) AS nk,
             |             CAST(count(*) AS BIGINT) AS ng,
             |             CAST(sum(y) AS BIGINT) AS sg
             |      FROM customer JOIN spend ON c_custkey = o_custkey
             |      GROUP BY 1),
             |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
             |               CAST(sum(sg) AS BIGINT) AS s FROM g)
             |SELECT nk, ng, s // n AS mean_all_cents,
             |       (s - sg) // (n - ng) AS mean_wo_cents,
             |       (s - sg) // (n - ng) - s // n AS influence_cents
             |FROM g CROSS JOIN tot""".stripMargin)),

    // ── DDSketch accuracy audit (§7.4k): the landing-bucket percentile
    //    RECONSTRUCTION (geometric bucket midpoint, fixed-point 2^x)
    //    joined against the exact selection percentile per (group, p).
    //    Bucket width 0.057536 in log₂ → worst-case midpoint error
    //    2^(w/2) − 1 ≈ 2.01%; within_bound pins ≤2.5% (headroom for the
    //    e6 log/pow table rounding). One join over GROUPS×PERCENTILES
    //    rows — the audit costs nothing at any scale.
    QueryDef("q_ddsketch_accuracy",
      (s, d) => {
        val e = Tables.events(s, d).select(col("event_type").as("g"),
          greatest(floor(col("value") * 100 + 0.5).cast("long"), lit(1L))
            .as("cents"))
        val est = graft.ops.Sketches.logBucketQuantile(
            e.select(col("g"), col("cents")), "g", "cents", 57536L,
            Seq(500000L, 990000L))
          .withColumn("mid_l", expr("bucket * 57536L + 28768L"))
          .withColumn("est_cents", graft.ops.Sketches.pow2E6Expr("mid_l"))
          .select(col("g"), col("p_e6"), col("est_cents"))
        // Exact percentile via the per-group distinct-value cell axis
        // (cum counts select the same value a positional sort would) —
        // the windows walk value cells, not raw rows.
        val cells = e.groupBy(col("g"), col("cents"))
          .agg(count(lit(1)).as("c"))
        val byg = Window.partitionBy(col("g"))
        val r = cells
          .withColumn("cum", sum(col("c")).over(byg.orderBy(col("cents"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", sum(col("c")).over(byg))
        val exact = Seq(500000L, 990000L).map(p =>
          r.where(col("cum") >= expr(s"(n * ${p}L + 999999L) div 1000000L") &&
              col("cum") - col("c") <
                expr(s"(n * ${p}L + 999999L) div 1000000L"))
            .select(col("g"), lit(p).as("p_e6"),
              col("cents").as("exact_cents"))).reduce(_ unionByName _)
        est.join(exact, Seq("g", "p_e6"))
          .withColumn("rel_err_e6", expr(
            "abs(est_cents - exact_cents) * 1000000L div exact_cents"))
          .withColumn("within_bound", col("rel_err_e6") <= 25000L)
      },
      Some {
        val lg = Bm25.log2E6Sql("cents")
        val estE = graft.ops.Sketches.pow2E6Sql("bucket * 57536 + 28768")
        s"""WITH e AS (SELECT event_type AS g,
           |                 greatest(1, CAST(floor(value * 100 + 0.5)
           |                   AS BIGINT)) AS cents
           |           FROM events),
           |b AS (SELECT g, $lg // 57536 AS bucket FROM e),
           |c AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS cnt
           |      FROM b GROUP BY 1, 2),
           |w AS (SELECT g, bucket, cnt,
           |             CAST(sum(cnt) OVER (PARTITION BY g ORDER BY bucket)
           |               AS BIGINT) AS cum,
           |             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
           |      FROM c),
           |ps AS (SELECT unnest([500000, 990000]) AS p_e6),
           |est AS (SELECT g, CAST(ps.p_e6 AS BIGINT) AS p_e6,
           |               CAST($estE AS BIGINT) AS est_cents
           |        FROM w JOIN ps ON cum >= (n * ps.p_e6 + 999999) // 1000000
           |                      AND cum - cnt < (n * ps.p_e6 + 999999) // 1000000),
           |r AS (SELECT g, cents,
           |             row_number() OVER (PARTITION BY g ORDER BY cents) AS rn,
           |             count(*) OVER (PARTITION BY g) AS n
           |      FROM e),
           |exact AS (SELECT g, CAST(ps.p_e6 AS BIGINT) AS p_e6,
           |                 cents AS exact_cents
           |          FROM r JOIN ps ON rn = (n * ps.p_e6 + 999999) // 1000000)
           |SELECT est.g, est.p_e6, est.est_cents, exact.exact_cents,
           |       abs(est.est_cents - exact.exact_cents) * 1000000
           |         // exact.exact_cents AS rel_err_e6,
           |       abs(est.est_cents - exact.exact_cents) * 1000000
           |         // exact.exact_cents <= 25000 AS within_bound
           |FROM est JOIN exact ON est.g = exact.g AND est.p_e6 = exact.p_e6""".stripMargin
      }),

    // ── Deterministic weighted reservoir (Efraimidis–Spirakis): key =
    //    −log₂(u)/w with u = hash48(doc_id)/2^48, all in e6 integers —
    //    keep the bottom-20 keys (≙ the top-20 of u^(1/w)). Longer docs
    //    (more tokens) are proportionally likelier to be kept, and the
    //    whole draw replays bit-identically on any engine — the property
    //    RNG `df.sample` can't give a training-data pipeline. Scale: one
    //    projection + TakeOrdered; no shuffle beyond top-k.
    QueryDef("q_es_reservoir",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("w", greatest(size(split(col("text"), " ")), lit(1))
            .cast("long"))
          .withColumn("h", greatest(
            Dedup.hash48(col("doc_id").cast("string"), lit("wrs")), lit(1L)))
          .withColumn("lg", Bm25.log2E6(col("h")))
          // numerator ≥ 0 (h < 2^48 ⇒ log2E6 ≤ 48e6): trunc ≡ floor.
          .withColumn("key_e6", expr("(48000000L - lg) div w"))
        docs.select(col("doc_id"), col("lang"), col("w"), col("key_e6"))
          .orderBy(col("key_e6").asc, col("doc_id")).limit(20)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("key_e6").asc, col("doc_id"))))
      },
      Some(s"""WITH d AS (SELECT doc_id, lang,
              |                 greatest(len(string_split(text, ' ')), 1) AS w,
              |                 greatest(${PortableSql.hash48(
                                  "CAST(doc_id AS VARCHAR)", "'wrs'")}, 1) AS h
              |           FROM documents),
              |k AS (SELECT doc_id, lang, CAST(w AS BIGINT) AS w,
              |             (48000000 - ${Bm25.log2E6Sql("h")}) // w AS key_e6
              |      FROM d)
              |SELECT doc_id, lang, w, key_e6,
              |       CAST(row_number() OVER (ORDER BY key_e6, doc_id)
              |         AS BIGINT) AS rank
              |FROM k ORDER BY key_e6, doc_id LIMIT 20""".stripMargin)),

    // ── Theta-sketch-style SET OPERATIONS over KMV sketches: union and
    //    intersection cardinality of two token vocabularies (en vs
    //    non-en) from their k=128 minimum portable hashes — θ = k-th
    //    smallest of the merged sketch, |A∪B| ≈ (k−1)·2^48/θ,
    //    |A∩B| ≈ |{h < θ in BOTH sketches}|·2^48/θ — the cross-dataset
    //    overlap estimator a corpus-curation pipeline needs, graded
    //    against the exact counts in the same row. Sketch build is
    //    distinct + top-k per side (never all-pairs); the estimate
    //    arithmetic is all-integer, so both engines agree exactly.
    QueryDef("q_kmv_set_ops",
      (s, d) => {
        val k = 128
        val toks = Tables.documents(s, d)
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .select((col("lang") === "en").as("isA"), col("w"))
          .distinct()
          .withColumn("h", greatest(
            graft.ops.Dedup.hash48(col("w"), lit("kmvset")), lit(1L)))
          .localCheckpoint(false) // sketches + exact audit share one scan
        val ka = toks.filter(col("isA")).select(col("h")).distinct()
          .orderBy(col("h")).limit(k).localCheckpoint(false)
        val kb = toks.filter(!col("isA")).select(col("h")).distinct()
          .orderBy(col("h")).limit(k).localCheckpoint(false)
        val un = ka.unionByName(kb).distinct().orderBy(col("h")).limit(k)
          .localCheckpoint(false)
        val stats = un.agg(count(lit(1)).as("ku"), max(col("h")).as("theta"))
        val common = ka.join(kb, "h").crossJoin(broadcast(stats))
          .where(col("h") < col("theta"))
          .agg(count(lit(1)).as("common"))
        val exact = toks.agg(
          countDistinct(col("w")).as("exact_union"),
          countDistinct(when(col("isA"), col("w"))).as("na"),
          countDistinct(when(!col("isA"), col("w"))).as("nb"))
        stats.crossJoin(broadcast(common)).crossJoin(broadcast(exact))
          .selectExpr("ku", "theta", "common",
            s"""CASE WHEN ku < $k THEN ku
               |ELSE ($k - 1) * 281474976710656L div theta
               |END AS union_est""".stripMargin,
            "common * 281474976710656L div theta AS inter_est",
            "exact_union", "na + nb - exact_union AS exact_inter")
      },
      Some {
        val k = 128
        val h = PortableSql.hash48("w", "'kmvset'")
        s"""WITH toks AS (
           |  SELECT DISTINCT lang = 'en' AS isA, wd AS w FROM (
           |    SELECT lang, unnest(string_split(text, ' ')) AS wd
           |    FROM documents) u
           |  WHERE wd <> ''),
           |hs AS (SELECT isA, w, greatest($h, 1) AS h FROM toks),
           |ka AS (SELECT DISTINCT h FROM hs WHERE isA ORDER BY h LIMIT $k),
           |kb AS (SELECT DISTINCT h FROM hs WHERE NOT isA ORDER BY h LIMIT $k),
           |un AS (SELECT DISTINCT h FROM (SELECT h FROM ka
           |       UNION ALL SELECT h FROM kb) ORDER BY h LIMIT $k),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS ku,
           |              CAST(max(h) AS BIGINT) AS theta FROM un),
           |cm AS (SELECT CAST(count(*) AS BIGINT) AS common
           |       FROM ka JOIN kb USING (h) CROSS JOIN st
           |       WHERE h < theta),
           |ex AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS exact_union,
           |              CAST(count(DISTINCT CASE WHEN isA THEN w END)
           |                AS BIGINT) AS na,
           |              CAST(count(DISTINCT CASE WHEN NOT isA THEN w END)
           |                AS BIGINT) AS nb
           |       FROM toks)
           |SELECT ku, theta, common,
           |       CASE WHEN ku < $k THEN ku
           |            ELSE ($k - 1) * 281474976710656 // theta
           |       END AS union_est,
           |       common * 281474976710656 // theta AS inter_est,
           |       exact_union, na + nb - exact_union AS exact_inter
           |FROM st CROSS JOIN cm CROSS JOIN ex""".stripMargin
      }),

    // ── Neyman optimal allocation: how to split a 1000-unit sample
    //    across nation strata ∝ N_h·S_h. Order totals centered at the
    //    domain midpoint keep the integer moment sums exact; the
    //    variance combination runs in IEEE doubles per the trendSlope
    //    convention (exact-long inputs < 2^53, deterministic
    //    cross-engine). Proportional-allocation column beside it shows
    //    what the naive split would do.
    QueryDef("q_neyman",
      (s, d) => {
        val cells = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"),
            expr("CAST(floor(o_totalprice + 0.5) AS BIGINT) - 250000")
              .as("x"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_h"), sum(col("x")).as("sx"),
            sum(expr("x * x")).as("sxx"))
          .withColumn("s_dollars", expr(
            """CAST(floor(sqrt((CAST(n_h AS DOUBLE) * CAST(sxx AS DOUBLE)
              |  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              |  / CAST(n_h AS DOUBLE) / CAST(n_h - 1 AS DOUBLE)))
              |  AS BIGINT)""".stripMargin))
          .localCheckpoint(false) // stratum frame + the ΣN·S total
        val tot = cells.agg(sum(expr("n_h * s_dollars")).as("w_tot"),
          sum(col("n_h")).as("n_tot"))
        cells.crossJoin(broadcast(tot))
          .selectExpr("n_name", "n_h", "s_dollars",
            "n_h * s_dollars * 1000 div greatest(w_tot, 1) AS neyman_alloc",
            "n_h * 1000 div n_tot AS prop_alloc")
      },
      Some("""WITH cells AS (SELECT n_name,
             |                      CAST(count(*) AS BIGINT) AS n_h,
             |                      CAST(sum(CAST(floor(o_totalprice + 0.5)
             |                        AS BIGINT) - 250000) AS BIGINT) AS sx,
             |                      CAST(sum((CAST(floor(o_totalprice + 0.5)
             |                        AS BIGINT) - 250000)
             |                        * (CAST(floor(o_totalprice + 0.5)
             |                        AS BIGINT) - 250000)) AS BIGINT) AS sxx
             |               FROM orders
             |               JOIN customer ON o_custkey = c_custkey
             |               JOIN nation ON c_nationkey = n_nationkey
             |               GROUP BY 1),
             |sd AS (SELECT n_name, n_h,
             |              CAST(floor(sqrt((CAST(n_h AS DOUBLE)
             |                * CAST(sxx AS DOUBLE)
             |                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |                / CAST(n_h AS DOUBLE)
             |                / CAST(n_h - 1 AS DOUBLE))) AS BIGINT)
             |                AS s_dollars
             |       FROM cells),
             |t AS (SELECT CAST(sum(n_h * s_dollars) AS BIGINT) AS w_tot,
             |             CAST(sum(n_h) AS BIGINT) AS n_tot FROM sd)
             |SELECT n_name, n_h, s_dollars,
             |       n_h * s_dollars * 1000 // greatest(w_tot, 1)
             |         AS neyman_alloc,
             |       n_h * 1000 // n_tot AS prop_alloc
             |FROM sd CROSS JOIN t""".stripMargin)),

    // ── Bloom sizing advisor for the registry's join-key columns:
    //    optimal bits m = ⌈n·ln(1/p)/ln²2⌉ at p = 1% is n·9.5851
    //    (fixed-point: (ndv·95851 + 9999) div 10000) with k = 7
    //    hashes — the exact parameters a q_bloom_join build side
    //    should provision. One distinct-count per key column, all
    //    arithmetic integer.
    QueryDef("q_bloom_advisor",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val o = Tables.orders(s, d)
        val cols = li.agg(
          countDistinct(col("l_partkey")).as("l_partkey"),
          countDistinct(col("l_suppkey")).as("l_suppkey"))
          .selectExpr("stack(2, 'l_partkey', l_partkey, " +
            "'l_suppkey', l_suppkey) AS (col_name, ndv)")
          .unionByName(o.agg(countDistinct(col("o_custkey")).as("n"))
            .selectExpr("'o_custkey' AS col_name", "n AS ndv"))
        cols
          .withColumn("m_bits", expr("(ndv * 95851 + 9999) div 10000"))
          .selectExpr("col_name", "CAST(ndv AS BIGINT) AS ndv",
            "m_bits", "CAST(7 AS BIGINT) AS n_hashes",
            "(m_bits + 8191) div 8192 AS kib")
      },
      Some("""WITH c AS (
             |  SELECT 'l_partkey' AS col_name,
             |         CAST(count(DISTINCT l_partkey) AS BIGINT) AS ndv
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'l_suppkey',
             |         CAST(count(DISTINCT l_suppkey) AS BIGINT)
             |  FROM lineitem
             |  UNION ALL
             |  SELECT 'o_custkey',
             |         CAST(count(DISTINCT o_custkey) AS BIGINT)
             |  FROM orders)
             |SELECT col_name, ndv,
             |       (ndv * 95851 + 9999) // 10000 AS m_bits,
             |       CAST(7 AS BIGINT) AS n_hashes,
             |       ((ndv * 95851 + 9999) // 10000 + 8191) // 8192 AS kib
             |FROM c""".stripMargin)),

    // ── Hash-sample audit: the 1/16 sample is orders whose
    //    md5(o_custkey) ends in '0' — the deterministic, join-stable
    //    sampling every engine can reproduce. Compares sampled vs full
    //    mean order value (exact cents) and emits the relative bias in
    //    sign-factored e6. One scan, two conditional aggregates.
    QueryDef("q_hash_sample_audit",
      (s, d) => {
        val v = Tables.orders(s, d)
          .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("cents"),
            (substring(md5(col("o_custkey").cast("string")), 32, 1)
              === "0").as("in_sample"))
        v.agg(count(lit(1)).as("n_full"), sum(col("cents")).as("s_full"),
          sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_samp"),
          sum(when(col("in_sample"), col("cents")).otherwise(0L))
            .as("s_samp"))
          .selectExpr("CAST(n_full AS BIGINT) AS n_full",
            "CAST(n_samp AS BIGINT) AS n_samp",
            "s_full div n_full AS mean_full_cents",
            "s_samp div n_samp AS mean_samp_cents",
            // relative bias of the sampled mean, e6, sign-factored. The
            // cross products ride decimal(38,0): s_full·n_samp ~ 3e16 at
            // sf0.1 and the ×1e6 numerator overflows int64 well before
            // 100× — widen BEFORE every multiply.
            """CASE WHEN CAST(s_samp AS DECIMAL(38,0)) * n_full
              |       >= CAST(s_full AS DECIMAL(38,0)) * n_samp
              |  THEN CAST((CAST(s_samp AS DECIMAL(38,0)) * n_full
              |         - CAST(s_full AS DECIMAL(38,0)) * n_samp) * 1000000
              |       div (CAST(s_full AS DECIMAL(38,0)) * n_samp)
              |       AS BIGINT)
              |ELSE -CAST((CAST(s_full AS DECIMAL(38,0)) * n_samp
              |         - CAST(s_samp AS DECIMAL(38,0)) * n_full) * 1000000
              |       div (CAST(s_full AS DECIMAL(38,0)) * n_samp)
              |       AS BIGINT)
              |END AS bias_e6""".stripMargin)
      },
      Some("""WITH v AS (
             |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |           AS cents,
             |         substring(md5(CAST(o_custkey AS VARCHAR)), 32, 1)
             |           = '0' AS in_sample
             |  FROM orders),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS n_full,
             |             CAST(sum(cents) AS BIGINT) AS s_full,
             |             CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0
             |               END) AS BIGINT) AS n_samp,
             |             CAST(sum(CASE WHEN in_sample THEN cents
             |               ELSE 0 END) AS BIGINT) AS s_samp
             |      FROM v)
             |SELECT n_full, n_samp,
             |       s_full // n_full AS mean_full_cents,
             |       s_samp // n_samp AS mean_samp_cents,
             |       CAST(CASE WHEN CAST(s_samp AS HUGEINT) * n_full
             |                   >= CAST(s_full AS HUGEINT) * n_samp
             |              THEN (CAST(s_samp AS HUGEINT) * n_full
             |                    - CAST(s_full AS HUGEINT) * n_samp)
             |                   * 1000000
             |                   // (CAST(s_full AS HUGEINT) * n_samp)
             |            ELSE -((CAST(s_full AS HUGEINT) * n_samp
             |                    - CAST(s_samp AS HUGEINT) * n_full)
             |                   * 1000000
             |                   // (CAST(s_full AS HUGEINT) * n_samp))
             |       END AS BIGINT) AS bias_e6
             |FROM t""".stripMargin)),

    // ── Equi-depth histogram over order value cents: 10 rank-cutpoint
    //    buckets (bucket = (rn−1)·10 div n), per bucket lo/hi/count/
    //    NDV — the ANALYZE statistics a cost-based optimizer feeds on.
    //    One rank window (value-sorted, calendar-free) + one rollup.
    QueryDef("q_equidepth_hist",
      (s, d) => {
        val v = orderCents(s, d)
        val n = v.agg(count(lit(1)).as("n"))
        v.crossJoin(broadcast(n))
          .withColumn("rn", row_number().over(
            Window.orderBy(col("v"))).cast("long"))
          .withColumn("bucket", expr("(rn - 1) * 10 div n"))
          .groupBy(col("bucket"))
          .agg(min(col("v")).as("lo_cents"), max(col("v")).as("hi_cents"),
            count(lit(1)).as("n_rows"), countDistinct(col("v")).as("ndv"))
          .selectExpr("CAST(bucket AS BIGINT) AS bucket",
            "lo_cents", "hi_cents", "CAST(n_rows AS BIGINT) AS n_rows",
            "CAST(ndv AS BIGINT) AS ndv")
      },
      Some("""WITH v AS (SELECT CAST(floor(o_totalprice * 100 + 0.5)
             |                    AS BIGINT) AS v
             |           FROM orders),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
             |rk AS (SELECT v,
             |              (CAST(row_number() OVER (ORDER BY v)
             |                 AS BIGINT) - 1) * 10 // n AS bucket
             |       FROM v CROSS JOIN n)
             |SELECT bucket, CAST(min(v) AS BIGINT) AS lo_cents,
             |       CAST(max(v) AS BIGINT) AS hi_cents,
             |       CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(count(DISTINCT v) AS BIGINT) AS ndv
             |FROM rk GROUP BY 1""".stripMargin)),

    /* V-optimal histogram (`q_vopt_hist`): k=3 greedy max-SSE-reduction
     * splits over the l_quantity frequency axis — the optimizer-
     * statistics companion to q_equidepth_hist. Each greedy round is
     * one bucket-partitioned prefix-sum pass + one argmax over the
     * (≤50-value) candidate axis; the raw table is scanned ONCE. */
    // ── V-optimal histogram: 3 greedy splits over the quantity
    //    frequency axis → 4 buckets minimizing Σ within-bucket
    //    frequency variance (greedily). Output: per final bucket, its
    //    value range, widths, mass, and residual SSE.
    QueryDef("q_vopt_hist",
      (s, d) => {
        val freq = Tables.lineitem(s, d)
          .selectExpr("CAST(l_quantity AS BIGINT) AS v")
          .groupBy(col("v")).agg(count(lit(1)).as("f"))
          .localCheckpoint(false) // ≤50-value axis; the ONE raw scan
        val none = s.range(0).selectExpr("id AS s")
        val s1 = voptPick(freq, none)
        val s2 = voptPick(freq, s1)
        val s3 = voptPick(freq, s1.unionByName(s2))
        val bnds = s1.unionByName(s2).unionByName(s3)
        freq.join(broadcast(bnds), col("s") < col("v"), "left")
          .groupBy(col("v"), col("f")).agg(count(col("s")).as("b"))
          .groupBy(col("b"))
          .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
            count(lit(1)).as("n_values"), sum(col("f")).as("n_rows"),
            sum(col("f") * col("f")).as("f2"))
          .selectExpr("CAST(b AS BIGINT) AS bucket", "lo", "hi",
            "CAST(n_values AS BIGINT) AS n_values",
            "CAST(n_rows AS BIGINT) AS n_rows",
            "f2 - n_rows * n_rows div n_values AS sse")
      },
      Some {
        val empty = "SELECT CAST(NULL AS BIGINT) AS s WHERE FALSE"
        s"""WITH freq AS (
           |  SELECT CAST(l_quantity AS BIGINT) AS v,
           |         CAST(count(*) AS BIGINT) AS f
           |  FROM lineitem GROUP BY 1),
           |s1 AS (${voptPickSql(empty)}),
           |s2 AS (${voptPickSql("SELECT s FROM s1")}),
           |s3 AS (${voptPickSql(
            "SELECT s FROM s1 UNION ALL SELECT s FROM s2")}),
           |bnds AS (SELECT s FROM s1 UNION ALL SELECT s FROM s2
           |         UNION ALL SELECT s FROM s3),
           |asg AS (SELECT fr.v, fr.f, CAST(count(bb.s) AS BIGINT) AS b
           |        FROM freq fr LEFT JOIN bnds bb ON bb.s < fr.v
           |        GROUP BY fr.v, fr.f)
           |SELECT CAST(b AS BIGINT) AS bucket,
           |       CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi,
           |       CAST(count(*) AS BIGINT) AS n_values,
           |       CAST(sum(f) AS BIGINT) AS n_rows,
           |       CAST(sum(f * f) AS BIGINT)
           |         - CAST(sum(f) AS BIGINT) * CAST(sum(f) AS BIGINT)
           |           // CAST(count(*) AS BIGINT) AS sse
           |FROM asg GROUP BY 1""".stripMargin
      }),

    /* AMS F2 sketch (`q_ams_f2`): Alon–Matias–Szegedy tug-of-war
     * estimate of the second frequency moment (self-join size) of
     * l_partkey. Eight ±1 counters from md5-derived 4-wise-ish signs,
     * computed as EIGHT sum(CASE) columns in ONE aggregate — a single
     * map-side-combinable pass, no explode, no shuffle on the key. The
     * exact F2 (one partkey groupBy) rides along as the audit column —
     * at 100 TB only the sketch pass survives; the exact side is the
     * oracle's cross-check. Signs via md5 first hex digit < '8' — the
     * same portable-hash trick the MinHash/SimHash family uses. */
    // ── AMS F2: 8 counters in one agg; estimate = mean of c_j².
    QueryDef("q_ams_f2",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_partkey").as("pk"))
        val sk = li.agg(count(lit(1)).as("n"),
          (0 until 8).map(j =>
            sum(expr(signSql("pk", j))).as(s"c$j")): _*)
        val exact = li.groupBy(col("pk")).agg(count(lit(1)).as("f"))
          .agg(count(lit(1)).as("dk"), sum(expr("f * f")).as("f2"))
        val sq = (0 until 8).map(j => s"c$j * c$j").mkString(" + ")
        sk.crossJoin(broadcast(exact))
          .selectExpr("n", "dk AS distinct_keys", "f2 AS f2_exact",
            s"($sq) div 8 AS f2_est")
          .selectExpr("n", "distinct_keys", "f2_exact", "f2_est",
            "abs(f2_est - f2_exact) * 1000000 div f2_exact AS abs_err_e6",
            "CASE WHEN f2_est >= f2_exact THEN 'OVER' ELSE 'UNDER' END" +
              " AS side")
      },
      Some {
        val cs = (0 until 8).map(j =>
          s"CAST(sum(${signDuck("l_partkey", j)}) AS BIGINT) AS c$j")
          .mkString(", ")
        val sq = (0 until 8).map(j => s"c$j * c$j").mkString(" + ")
        s"""WITH sk AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n, $cs FROM lineitem),
           |ex AS (SELECT CAST(count(*) AS BIGINT) AS dk,
           |              CAST(sum(f * f) AS BIGINT) AS f2
           |       FROM (SELECT CAST(count(*) AS BIGINT) AS f
           |             FROM lineitem GROUP BY l_partkey)),
           |est AS (SELECT n, dk, f2, ($sq) // 8 AS f2_est
           |        FROM sk CROSS JOIN ex)
           |SELECT n, dk AS distinct_keys, f2 AS f2_exact, f2_est,
           |       abs(f2_est - f2) * 1000000 // f2 AS abs_err_e6,
           |       CASE WHEN f2_est >= f2 THEN 'OVER' ELSE 'UNDER' END
           |         AS side
           |FROM est""".stripMargin
      }),

    /* Horvitz–Thompson audit (`q_ht_estimate`): deterministic 1/16
     * hash sample of orders, HT-inflated total vs the true total —
     * the estimator-bias audit a sampling pipeline ships with. */
    // ── Horvitz–Thompson estimator audit: deterministic 1/16 hash
    //    sample of orders, inflated total vs truth.
    QueryDef("q_ht_estimate",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("x"),
            (expr("CAST(conv(substring(md5(CAST(o_orderkey AS STRING))," +
              " 1, 6), 16, 10) AS BIGINT)") % 16 === 0).as("hit"))
        o.agg(count(lit(1)).as("n"),
            sum(when(col("hit"), 1L).otherwise(0L)).as("n_sampled"),
            sum(col("x")).as("total_cents"),
            sum(when(col("hit"), col("x")).otherwise(0L)).as("s_cents"))
          .selectExpr("n", "n_sampled", "total_cents",
            "s_cents * 16 AS ht_cents",
            signedRatioE6("s_cents * 16 - total_cents",
              "CAST(total_cents AS decimal(38,0))") + " AS rel_err_e6")
      },
      Some {
        val h = PortableSql.hexToLong(
          "md5(CAST(o_orderkey AS VARCHAR))", 6)
        s"""WITH o AS (
           |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS x,
           |         ($h) % 16 = 0 AS hit
           |  FROM orders),
           |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |          CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END)
           |            AS BIGINT) AS n_sampled,
           |          CAST(sum(x) AS BIGINT) AS total_cents,
           |          CAST(sum(CASE WHEN hit THEN x ELSE 0 END)
           |            AS BIGINT) AS s_cents
           |        FROM o)
           |SELECT n, n_sampled, total_cents,
           |       s_cents * 16 AS ht_cents,
           |       ${signedRatioE6Sql("s_cents * 16 - total_cents",
                    "CAST(total_cents AS HUGEINT)")} AS rel_err_e6
           |FROM agg""".stripMargin
      }),

    /* Neyman allocation (`q_neyman_alloc`): optimal stratified sample
     * allocation n_h ∝ N_h·S_h across priority strata from exact
     * integer stratum variances. */
    // ── Neyman allocation across priority strata (budget 10000).
    QueryDef("q_neyman_alloc",
      (s, d) => {
        val g = prioPriceVariance(s, d)
          .withColumn("s_cents",
            expr("CAST(floor(sqrt(CAST(si2 AS DOUBLE)) + 0.5) AS BIGINT)"))
          .withColumn("wh", expr(s"CAST(ni AS $dec) * s_cents"))
        val tot = g.agg(sum(col("wh")).as("wtot"))
        g.crossJoin(broadcast(tot))
          .selectExpr("pri", "ni", "s_cents",
            "CAST(wh * 1000000 div wtot AS BIGINT) AS share_e6",
            "CAST(wh * 10000 div wtot AS BIGINT) AS alloc_10k")
      },
      Some(s"""WITH $prioPriceMomentsSql,
             |g AS (SELECT pri, ni,
             |        CAST(floor(sqrt(CAST(
             |          CAST((CAST(ni AS HUGEINT) * qi
             |            - CAST(si AS HUGEINT) * si)
             |            // (CAST(ni AS HUGEINT) * (ni - 1)) AS BIGINT)
             |          AS DOUBLE)) + 0.5) AS BIGINT) AS s_cents
             |      FROM g0),
             |w AS (SELECT pri, ni, s_cents,
             |        CAST(ni AS HUGEINT) * s_cents AS wh FROM g),
             |tot AS (SELECT sum(wh) AS wtot FROM w)
             |SELECT pri, ni, s_cents,
             |       CAST(wh * 1000000 // wtot AS BIGINT) AS share_e6,
             |       CAST(wh * 10000 // wtot AS BIGINT) AS alloc_10k
             |FROM w CROSS JOIN tot""".stripMargin))
  )
}
