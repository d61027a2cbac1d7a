package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

class InMemoryKeyedTableSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")

  private def rows(t: InMemoryKeyedTable, df: DataFrame): Set[Row] =
    t.snapshot(spark).select(df.columns.toIndexedSeq.map(col): _*).collect().toSet

  /** Positions whose duplicate keys are spread over all 4 partitions, with
    * guard ties (equal eventTs, and fully equal guard tuples that differ
    * only in `tag`) so both the tie-break and first-kept-on-equal show. */
  private val positions: Seq[(String, String, java.sql.Timestamp, Double, Double, String)] =
    (0 until 40).map { i =>
      val v = i % 5
      (s"p${v % 2}", s"v$v", ts(i % 3), ((i / 20) % 2).toDouble, 1.0, s"r$i")
    }

  private def positionsDf = spark.sparkContext.parallelize(positions, 4)
    .toDF("provider", "vehicleId", "eventTs", "lat", "lon", "tag")

  test("merge of a 4-partition batch runs exactly one Spark job") {
    // exchange-free, so AQE adds no job: toLocalIterator would run one job
    // per partition here, collect() runs one
    val df = positionsDf
    assert(df.rdd.getNumPartitions == 4)
    val t = new InMemoryKeyedTable(Seq("provider", "vehicleId"), Nil)
    val jobs = jobsIn("inmemory-keyed-merge")(t.merge(df))
    assert(jobs == 1, s"expected one job for the whole batch, got $jobs")
    assert(t.size == 5)
  }

  test("duplicate keys across partitions fold in partition order (last writer wins)") {
    val df = positionsDf
    assert(df.rdd.glom().collect().count(_.nonEmpty) == 4)
    val t = new InMemoryKeyedTable(Seq("provider", "vehicleId"), Nil)
    t.merge(df)
    val expected = positions.foldLeft(Map.empty[(String, String), Row]) { (m, p) =>
      m.updated((p._1, p._2), Row(p._1, p._2, p._3, p._4, p._5, p._6))
    }
    assert(rows(t, df) == expected.values.toSet)
  }

  test("duplicate keys across partitions fold in partition order (guarded)") {
    val df = positionsDf
    val t = new InMemoryKeyedTable(Seq("provider", "vehicleId"), Seq("eventTs", "lat", "lon"))
    t.merge(df)
    // replace only on a strictly greater (eventTs, lat, lon); equal keeps the first
    def greater(n: (java.sql.Timestamp, Double, Double), o: (java.sql.Timestamp, Double, Double)) = {
      val c = n._1.compareTo(o._1)
      c > 0 || c == 0 && (n._2 > o._2 || n._2 == o._2 && n._3 > o._3)
    }
    val expected = positions.foldLeft(Map.empty[(String, String), Row]) { (m, p) =>
      val k = (p._1, p._2)
      val keep = m.get(k).exists { o =>
        !greater((p._3, p._4, p._5), (o.getTimestamp(2), o.getDouble(3), o.getDouble(4)))
      }
      if (keep) m else m.updated(k, Row(p._1, p._2, p._3, p._4, p._5, p._6))
    }
    // the data has equal guard tuples with different tags, so the
    // first-kept rule decides some keys
    assert(positions.groupBy(p => (p._1, p._2, p._3, p._4, p._5)).exists(_._2.size > 1))
    assert(rows(t, df) == expected.values.toSet)
  }

  test("composite keys do not collide on the separator or on null parts") {
    val df = Seq[(String, String, Int)](
      ("a|b", "c", 1), ("a", "b|c", 2), (null, "x", 3), ("null", "x", 4), ("a|b", "c", 5))
      .toDF("k1", "k2", "v")
    val t = new InMemoryKeyedTable(Seq("k1", "k2"), Nil)
    t.merge(df)
    assert(t.size == 4)
    assert(rows(t, df) == Set(Row("a|b", "c", 5), Row("a", "b|c", 2), Row(null, "x", 3), Row("null", "x", 4)))
  }

  test("a batch whose schema differs from the table's is rejected") {
    val t = new InMemoryKeyedTable(Seq("k"), Nil)
    t.merge(Seq(("a", 1)).toDF("k", "v"))
    val reordered = intercept[IllegalArgumentException](t.merge(Seq((1, "b")).toDF("v", "k")))
    assert(reordered.getMessage.contains("v INT") && reordered.getMessage.contains("k STRING"))
    val widened = intercept[IllegalArgumentException](t.merge(Seq(("c", 1, 2.0)).toDF("k", "v", "w")))
    assert(widened.getMessage.contains("w DOUBLE"))
    assert(t.size == 1)
    assert(t.snapshot(spark).collect().toSeq == Seq(Row("a", 1)))
  }
}
