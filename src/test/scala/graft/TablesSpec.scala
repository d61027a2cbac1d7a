package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, lit}

/** `Tables.load`'s schema memo: later reads of a table run no inference
  * job, a rewritten table is inferred again, and every read is still its
  * own relation. Each test uses its own directory, so no other suite's
  * reads of the shared testdata warm the memo first. */
class TablesSpec extends SparkSpec {

  /** A fresh directory holding a copy of one shared testdata table. */
  private def copyOf(table: String): String = {
    val dir = Files.createTempDirectory("graft-tables")
    Files.copy(Paths.get(sf(), s"$table.parquet"), dir.resolve(s"$table.parquet"))
    dir.toString
  }

  test("a second load of a table in one session runs no Spark job") {
    val d = copyOf("events")
    var first, second: org.apache.spark.sql.DataFrame = null
    val inferJobs = jobsIn("tables-first-load") { first = Tables.events(spark, d) }
    assert(inferJobs >= 1, "the first read should infer the schema with a job")
    val jobs = jobsIn("tables-second-load") { second = Tables.events(spark, d) }
    assert(jobs == 0, s"expected the memoized schema to be reused, got $jobs jobs")
    assert(second.schema == first.schema)
    assert(second.collect().toSet == first.collect().toSet)
  }

  test("a table rewritten at the same path shows its new column on the next load") {
    val d = Files.createTempDirectory("graft-tables").toString
    val path = s"$d/region.parquet"
    spark.range(3).toDF("r_regionkey").write.parquet(path)
    assert(Tables.region(spark, d).columns.toSeq == Seq("r_regionkey"))
    spark.range(3).toDF("r_regionkey").withColumn("extra", lit(1))
      .write.mode("overwrite").parquet(path)
    val reread = Tables.region(spark, d)
    assert(reread.columns.toSeq == Seq("r_regionkey", "extra"))
    assert(reread.where(col("extra") === 1).count() == 3)
  }

  test("two loads of one table self-join as two independent scans") {
    val d = copyOf("nation")
    val a = Tables.nation(spark, d)
    val b = Tables.nation(spark, d)
    // pairs of distinct nations in one region
    val pairs = a.join(b, a("n_regionkey") === b("n_regionkey") &&
      a("n_nationkey") < b("n_nationkey")).count()
    val perRegion = a.collect().groupBy(_.getAs[Any]("n_regionkey")).values.map(_.length)
    val expected = perRegion.map(c => c.toLong * (c - 1) / 2).sum
    assert(expected > 0)
    assert(pairs == expected)
  }
}
