package graft.queries

import graft.{QueryCatalog, QueryDef, Tables}
import graft.ops.{Audit, Bm25, Dedup, JoinDiag, Privacy}
import org.apache.spark.sql.functions._

/** Data-quality and privacy audits: referential and functional-dependency
  * checks, checksums, digit laws, profiling, k-anonymity family, and
  * differential privacy. */
object AuditQueries extends QueryCatalog {

  import Fixtures._

  /** Luhn sum of the low 16 digits of `c` as a SQL expression: digits at
    * even offsets from the right count once, odd offsets double (−9
    * when the double exceeds 9). Same text runs in Spark and DuckDB. */
  private def luhnSql(c: String): String =
    (0 until 16).map { i =>
      val p = BigInt(10).pow(i)
      val dig = s"(($c) div $p % 10)" // rewritten per dialect below
      if (i % 2 == 0) dig
      else s"(2 * $dig - CASE WHEN $dig >= 5 THEN 9 ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def spark(e: String): String = e
  private def duck(e: String): String = e.replace(" div ", " // ")

  /** Expected second-significant-digit Benford shares, e6
    * (Σ_k log₁₀(1+1/(10k+d)), k=1..9 — literal table). */
  private val benford2 = Seq(119679L, 113890L, 108821L, 104330L,
    100308L, 96677L, 93375L, 90352L, 87570L, 84997L)

  private def benfordCase(d: String): String =
    "CASE " + benford2.indices.map { i =>
      s"WHEN $d = $i THEN ${benford2(i)}"
    }.mkString(" ") + " ELSE 0 END"

  def defs: Seq[QueryDef] = Seq(

    // ── k-anonymity profile over quasi-identifiers (nation, market
    //    segment): how many equivalence classes fall below k=5 and how many
    //    rows they expose — the privacy gate a curation pipeline runs
    //    before release.
    QueryDef("q_k_anonymity",
      (s, d) => Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("grp_sz"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("grp_sz") < 5, 1L).otherwise(0L)).as("groups_below_k"),
          sum(when(col("grp_sz") < 5, col("grp_sz")).otherwise(0L)).as("rows_at_risk"),
          min(col("grp_sz")).as("min_group_sz")),
      Some("""WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS grp_sz
             |           FROM customer GROUP BY 1, 2)
             |SELECT count(*) AS n_groups,
             |       CAST(sum(CASE WHEN grp_sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
             |       CAST(sum(CASE WHEN grp_sz < 5 THEN grp_sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
             |       min(grp_sz) AS min_group_sz
             |FROM g""".stripMargin)),

    // ── Referential-integrity audit: orphan counts across the TPC-H FK
    //    chain plus the reverse check (childless orders). Each relation is
    //    one anti-join; nulls are "unknown", not orphans.
    QueryDef("q_ref_integrity",
      (s, d) => Audit.referentialIntegrity(Seq(
        (Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d),
          "o_orderkey", "lineitem->orders"),
        (Tables.orders(s, d), "o_custkey", Tables.customer(s, d),
          "c_custkey", "orders->customer"),
        (Tables.customer(s, d), "c_nationkey", Tables.nation(s, d),
          "n_nationkey", "customer->nation"),
        (Tables.orders(s, d), "o_orderkey", Tables.lineitem(s, d),
          "l_orderkey", "orders<-lineitem"))),
      Some("""SELECT 'lineitem->orders' AS relation, count(*) AS n_orphans FROM lineitem
             |WHERE l_orderkey IS NOT NULL
             |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
             |UNION ALL
             |SELECT 'orders->customer', count(*) FROM orders
             |WHERE o_custkey IS NOT NULL
             |  AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
             |UNION ALL
             |SELECT 'customer->nation', count(*) FROM customer
             |WHERE c_nationkey IS NOT NULL
             |  AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
             |UNION ALL
             |SELECT 'orders<-lineitem', count(*) FROM orders
             |WHERE o_orderkey IS NOT NULL
             |  AND NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin)),

    // ── Declarative constraint audit over orders: four row-level rules +
    //    a uniqueness rule, ALL computed in one scan then pivoted to rows.
    QueryDef("q_constraint_audit",
      (s, d) => Audit.constraints(Tables.orders(s, d),
        Seq(
          "o_custkey_not_null" -> col("o_custkey").isNull,
          "o_totalprice_positive" -> coalesce(!(col("o_totalprice") > 0.0), lit(true)),
          "o_orderstatus_domain" ->
            coalesce(!col("o_orderstatus").isin("O", "F", "P"), lit(true)),
          "o_orderdate_range" -> coalesce(
            unix_timestamp(col("o_orderdate")) < lit(788918400L) ||
              unix_timestamp(col("o_orderdate")) >= lit(1009843200L),
            lit(true))),
        Seq("o_orderkey_unique" -> "o_orderkey")),
      Some("""SELECT 'o_custkey_not_null' AS rule,
             |       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
             |FROM orders
             |UNION ALL
             |SELECT 'o_totalprice_positive',
             |       CAST(sum(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL
             |                     THEN 1 ELSE 0 END) AS BIGINT) FROM orders
             |UNION ALL
             |SELECT 'o_orderstatus_domain',
             |       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
             |                       OR o_orderstatus IS NULL
             |                     THEN 1 ELSE 0 END) AS BIGINT) FROM orders
             |UNION ALL
             |SELECT 'o_orderdate_range',
             |       CAST(sum(CASE WHEN o_orderdate IS NULL
             |                       OR epoch(o_orderdate) < 788918400
             |                       OR epoch(o_orderdate) >= 1009843200
             |                     THEN 1 ELSE 0 END) AS BIGINT) FROM orders
             |UNION ALL
             |SELECT 'o_orderkey_unique',
             |       CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
             |FROM orders""".stripMargin)),

    // ── Pre-flight join diagnostics: the 10 hottest self-join keys of the
    //    events stream by predicted output rows — the scan that says
    //    "salt these keys" before the join runs. Cost: two per-key count
    //    aggregates + a tiny count-frame join; never the join itself.
    QueryDef("q_join_cardinality",
      (s, d) => JoinDiag.topJoinKeys(
        Tables.events(s, d), "user_id", Tables.events(s, d), "user_id", 10),
      Some("""WITH lc AS (SELECT user_id AS k, count(*) AS n_left FROM events GROUP BY 1),
             |rc AS (SELECT user_id AS k, count(*) AS n_right FROM events GROUP BY 1)
             |SELECT lc.k, n_left, n_right, n_left * n_right AS out_rows
             |FROM lc JOIN rc USING (k)
             |ORDER BY out_rows DESC, k LIMIT 10""".stripMargin)),

    // ── l-diversity audit (companion to q_k_anonymity): per
    //    quasi-identifier group, how many DISTINCT sensitive values —
    //    a k-anonymous group with one sensitive value still leaks.
    QueryDef("q_l_diversity",
      (s, d) => Tables.customer(s, d)
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"),
          countDistinct(floor(col("c_acctbal") / 1000).cast("long")).as("l_div"))
        .filter(col("n") >= 3),
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT) AS l_div
             |FROM customer GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    // ── Benford first-digit screen on order totals per priority: the
    //    fabricated-numbers audit with shared e6 expectation literals.
    QueryDef("q_benford",
      (s, d) => graft.ops.Audit.benford(
        Tables.orders(s, d).select(col("o_orderpriority").as("g"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents")),
        "g", "cents"),
      Some {
        val exp = graft.ops.Audit.benfordE6.zipWithIndex
          .map { case (e, i) => s"WHEN ${i + 1} THEN $e" }.mkString(" ")
        s"""WITH e AS (SELECT o_orderpriority AS g,
           |                 CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
           |           FROM orders),
           |d AS (SELECT g, CAST(substring(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
           |             CAST(count(*) AS BIGINT) AS n
           |      FROM e WHERE v > 0 GROUP BY 1, 2),
           |t AS (SELECT g, CAST(sum(n) AS BIGINT) AS nt FROM d GROUP BY g)
           |SELECT d.g, digit, n,
           |       CAST(n * 1000000 // nt AS BIGINT) AS share_e6,
           |       CAST(CASE digit $exp ELSE 0 END AS BIGINT) AS expected_e6,
           |       CAST(abs(n * 1000000 // nt - (CASE digit $exp ELSE 0 END)) AS BIGINT) AS dev_e6
           |FROM d JOIN t ON t.g = d.g""".stripMargin
      }),

    // ── t-closeness audit (completes the k-anonymity / l-diversity
    //    trio): EMD between each quasi-identifier group's sensitive
    //    distribution (acctbal thousands-buckets) and the global one,
    //    as a cumulative window over the zero-filled bucket grid.
    QueryDef("q_t_closeness",
      (s, d) => Privacy.tCloseness(
        Tables.customer(s, d).select(
          col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bucket")),
        Seq("nation", "segment"), "bucket"),
      Some("""WITH cnt AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
             |                    c_mktsegment AS segment,
             |                    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bucket,
             |                    CAST(count(*) AS BIGINT) AS n
             |             FROM customer GROUP BY 1, 2, 3),
             |gb AS (SELECT DISTINCT bucket FROM cnt),
             |gl AS (SELECT bucket,
             |              CAST(sum(n) * 1000000 // (SELECT sum(n) FROM cnt) AS BIGINT) AS q_e6
             |       FROM cnt GROUP BY 1),
             |gr AS (SELECT nation, segment, CAST(sum(n) AS BIGINT) AS ntot
             |       FROM cnt GROUP BY 1, 2),
             |grid AS (SELECT nation, segment, ntot, bucket FROM gr CROSS JOIN gb),
             |sh AS (SELECT g.nation, g.segment, g.bucket, g.ntot,
             |              coalesce(c.n, 0) * 1000000 // g.ntot - q.q_e6 AS d_e6
             |       FROM grid g
             |       LEFT JOIN cnt c ON g.nation = c.nation
             |            AND g.segment = c.segment AND g.bucket = c.bucket
             |       JOIN gl q ON g.bucket = q.bucket),
             |cm AS (SELECT nation, segment, ntot,
             |              sum(d_e6) OVER (PARTITION BY nation, segment
             |                              ORDER BY bucket) AS cum
             |       FROM sh)
             |SELECT nation, segment, CAST(max(ntot) AS BIGINT) AS n,
             |       CAST(count(*) AS BIGINT) AS m_buckets,
             |       CAST(sum(abs(cum)) // (count(*) - 1) AS BIGINT) AS t_e6
             |FROM cm GROUP BY 1, 2 HAVING count(*) > 1""".stripMargin)),

    // ── DP histogram: per-segment customer counts + hash-seeded
    //    Laplace noise (b = 10, i.e. ε = 0.1 for a count query),
    //    entirely in fixed-point integers.
    QueryDef("q_dp_histogram",
      (s, d) => {
        val ln2e6 = 693147L
        Tables.customer(s, d)
          .groupBy(col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("n_true"))
          .withColumn("u", Dedup.hash48(col("seg"), lit("dp")) % 1000000L)
          .withColumn("c", col("u") - 500000L)
          .withColumn("lgdiff",
            Bm25.log2E6(lit(1000000L)) -
              Bm25.log2E6(greatest(lit(1L),
                lit(1000000L) - abs(col("c")) * 2)))
          .withColumn("ln_e6", expr(s"lgdiff * $ln2e6 div 1000000"))
          .withColumn("noise",
            when(col("c") >= 0, expr("-(10 * ln_e6 div 1000000)"))
              .otherwise(expr("10 * ln_e6 div 1000000")))
          .selectExpr("seg", "n_true", "noise",
            "n_true + noise AS n_noisy", "abs(noise) AS abs_err")
      },
      Some {
        val h = graft.queries.PortableSql.hash48("seg", "'dp'")
        val lg = Bm25.log2E6Sql("1000000")
        val lgc = Bm25.log2E6Sql("greatest(1, 1000000 - abs(c) * 2)")
        s"""WITH g AS (SELECT c_mktsegment AS seg,
           |                 CAST(count(*) AS BIGINT) AS n_true
           |          FROM customer GROUP BY 1),
           |h AS (SELECT seg, n_true, $h % 1000000 - 500000 AS c
           |      FROM g),
           |n AS (SELECT seg, n_true, c,
           |             CAST($lg - $lgc AS BIGINT) * 693147 // 1000000
           |               AS ln_e6
           |      FROM h),
           |z AS (SELECT seg, n_true,
           |             CASE WHEN c >= 0
           |                  THEN -(10 * ln_e6 // 1000000)
           |                  ELSE 10 * ln_e6 // 1000000 END AS noise
           |      FROM n)
           |SELECT seg, n_true, CAST(noise AS BIGINT) AS noise,
           |       CAST(n_true + noise AS BIGINT) AS n_noisy,
           |       CAST(abs(noise) AS BIGINT) AS abs_err
           |FROM z""".stripMargin
      }),

    /* Data-integrity audits — Luhn checksum validation
     * over synthetic 16-digit account numbers (the check-digit gate an
     * ingest pipeline runs on card/IMEI-like fields; pure div/mod digit
     * arithmetic, no strings), second-digit Benford conformance (the
     * forensic screen q_benford runs on FIRST digits; second digits are
     * the sharper fraud signal because rounding shows up there first),
     * and a per-month table fingerprint (order-count + additive and XOR
     * hashes — the cheap CDC/replication parity check; commutative
     * aggregates, so partition order never matters). All integer-exact. */

    // ── Luhn validity rate of account = o_orderkey·37 + 11 (a spread
    //    that exercises all digit positions), by priority. ONE scan +
    //    the bounded priority rollup; the checksum is branch-free
    //    integer arithmetic inside codegen.
    QueryDef("q_luhn_check",
      (s, d) => {
        val acct = "(o_orderkey * 37 + 11)"
        Tables.orders(s, d)
          .select(col("o_orderpriority"),
            expr(s"${spark(luhnSql(acct))} % 10").as("rem"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("rem") === 0L, 1L).otherwise(0L)).as("n_valid"))
          .selectExpr("o_orderpriority", "CAST(n AS BIGINT) AS n",
            "CAST(n_valid AS BIGINT) AS n_valid",
            "n_valid * 1000000 div n AS valid_e6")
      },
      Some {
        val acct = "(o_orderkey * 37 + 11)"
        s"""WITH t AS (
           |  SELECT o_orderpriority,
           |         ${duck(luhnSql(acct))} % 10 AS rem
           |  FROM orders)
           |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           |       CAST(sum(CASE WHEN rem = 0 THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_valid,
           |       CAST(sum(CASE WHEN rem = 0 THEN 1 ELSE 0 END)
           |         AS BIGINT) * 1000000 // count(*) AS valid_e6
           |FROM t GROUP BY 1""".stripMargin
      }),

    // ── Second-digit Benford on order totals (cents ≥ 10 so a second
    //    significant digit exists): observed vs expected share e6 and
    //    the absolute deviation, per digit. String-indexed second
    //    digit — identical semantics in both engines.
    QueryDef("q_benford_2nd",
      (s, d) => {
        val cents = Tables.orders(s, d)
          .select(floor(col("o_totalprice") * 100 + 0.5).cast("long")
            .as("cents"))
          .filter(col("cents") >= 10)
          .select(expr("CAST(substring(CAST(cents AS STRING), 2, 1) " +
            "AS BIGINT)").as("d2"))
        val hist = cents.groupBy(col("d2")).agg(count(lit(1)).as("n"))
          .localCheckpoint(false) // 10-row axis; total below
        val tot = hist.agg(sum(col("n")).as("tot"))
        hist.crossJoin(broadcast(tot))
          .withColumn("obs_e6", expr("n * 1000000 div tot"))
          .withColumn("exp_e6", expr(benfordCase("d2")))
          .selectExpr("d2", "CAST(n AS BIGINT) AS n", "obs_e6", "exp_e6",
            "abs(obs_e6 - exp_e6) AS dev_e6")
      },
      Some(s"""WITH c AS (
             |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100
             |           + 0.5) AS BIGINT) AS VARCHAR), 2, 1) AS BIGINT)
             |           AS d2
             |  FROM orders
             |  WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             |          >= 10),
             |hist AS (SELECT d2, CAST(count(*) AS BIGINT) AS n
             |         FROM c GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM hist)
             |SELECT d2, n, n * 1000000 // tot AS obs_e6,
             |       CAST(${benfordCase("d2")} AS BIGINT) AS exp_e6,
             |       abs(n * 1000000 // tot - ${benfordCase("d2")})
             |         AS dev_e6
             |FROM hist CROSS JOIN tot""".stripMargin)),

    // ── Table fingerprint per order month: row count + additive and
    //    XOR hashes of h = (37·key + custkey) mod 1e9+7. Both
    //    aggregates are commutative/associative, so the fingerprint is
    //    partition-order-free — the property a 100 TB replication
    //    check needs.
    QueryDef("q_table_fingerprint",
      (s, d) => {
        Tables.orders(s, d)
          .select(expr("year(o_orderdate) * 100 + month(o_orderdate)")
            .as("mo"),
            expr("(o_orderkey * 37 + o_custkey) % 1000000007").as("h"))
          .groupBy(col("mo"))
          .agg(count(lit(1)).as("n"), sum(col("h")).as("sum_h"),
            expr("bit_xor(h)").as("xor_h"))
          .selectExpr("CAST(mo AS BIGINT) AS mo", "CAST(n AS BIGINT) AS n",
            "CAST(sum_h AS BIGINT) AS sum_h",
            "CAST(xor_h AS BIGINT) AS xor_h")
      },
      Some("""WITH t AS (
             |  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS mo,
             |         (o_orderkey * 37 + o_custkey) % 1000000007 AS h
             |  FROM orders)
             |SELECT CAST(mo AS BIGINT) AS mo,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(h) AS BIGINT) AS sum_h,
             |       CAST(bit_xor(h) AS BIGINT) AS xor_h
             |FROM t GROUP BY 1""".stripMargin)),

    /* FD audit (`q_fd_audit`): approximate functional-dependency
     * profiling — for each candidate LHS→RHS, the distinct-LHS count,
     * violating-LHS count, and Kivinen–Mannila g3 (min rows to delete
     * for the FD to hold = Σ_lhs (n_lhs − max_rhs n)). One exact FD
     * (partkey→brand through the broadcast part dim) pins g3=0; two
     * violated FDs measure real dependency strength. Two keyed aggs
     * per FD, partial+final all the way. */
    // ── FD audit: g3 per candidate dependency.
    QueryDef("q_fd_audit",
      (s, d) => {
        def audit(df: org.apache.spark.sql.DataFrame, fd: String) = df
          .groupBy(col("lhs"), col("rhs")).agg(count(lit(1)).as("c"))
          .groupBy(col("lhs"))
          .agg(sum(col("c")).as("tot"), max(col("c")).as("mx"),
            count(lit(1)).as("nrhs"))
          .agg(count(lit(1)).as("lhs_distinct"),
            sum(expr("CASE WHEN nrhs > 1 THEN 1 ELSE 0 END"))
              .as("violating_lhs"),
            sum(col("tot")).as("n_rows"), sum(expr("tot - mx")).as("g3"))
          .selectExpr(s"'$fd' AS fd", "lhs_distinct", "violating_lhs",
            "n_rows", "g3", "g3 * 1000000 div n_rows AS g3_e6")
        val li = Tables.lineitem(s, d)
        val withBrand = li.join(
          broadcast(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        audit(withBrand.select(col("l_partkey").as("lhs"),
            col("p_brand").as("rhs")), "partkey->brand")
          .unionByName(audit(li.select(col("l_orderkey").as("lhs"),
            col("l_suppkey").as("rhs")), "orderkey->suppkey"))
          .unionByName(audit(li.select(col("l_partkey").as("lhs"),
            col("l_suppkey").as("rhs")), "partkey->suppkey"))
      },
      Some {
        def block(lhsSel: String, fd: String, from: String) =
          s"""SELECT '$fd' AS fd,
             |       CAST(count(*) AS BIGINT) AS lhs_distinct,
             |       CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END)
             |         AS BIGINT) AS violating_lhs,
             |       CAST(sum(tot) AS BIGINT) AS n_rows,
             |       CAST(sum(tot - mx) AS BIGINT) AS g3,
             |       CAST(sum(tot - mx) AS BIGINT) * 1000000
             |         // CAST(sum(tot) AS BIGINT) AS g3_e6
             |FROM (SELECT lhs, sum(c) AS tot, max(c) AS mx,
             |             count(*) AS nrhs
             |      FROM (SELECT $lhsSel, CAST(count(*) AS BIGINT) AS c
             |            FROM $from GROUP BY 1, 2)
             |      GROUP BY 1)""".stripMargin
        block("l_partkey AS lhs, p_brand AS rhs", "partkey->brand",
          "lineitem JOIN part ON p_partkey = l_partkey") +
          "\nUNION ALL\n" +
          block("l_orderkey AS lhs, l_suppkey AS rhs",
            "orderkey->suppkey", "lineitem") +
          "\nUNION ALL\n" +
          block("l_partkey AS lhs, l_suppkey AS rhs",
            "partkey->suppkey", "lineitem")
      })
  )
}
