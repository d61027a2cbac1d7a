package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import StreamSlidingDistinct.DistinctOut

class StreamSlidingDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String)(body: (MemoryStream[(Long, String, String)],
      org.apache.spark.sql.streaming.StreamingQuery) => Unit): Unit = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.to_timestamp
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("entity", "ts_s", "v")
      .withColumn("ts", to_timestamp($"ts_s"))
    val q = StreamSlidingDistinct.counts(df, "entity", "ts", "v",
        windowMinutes = 10)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try body(in, q) finally q.stop()
  }

  private val t0 = 1704103200000000L // 2024-01-01T10:00:00Z in micros

  test("distinct counts rise with new values and fall as the window slides") {
    run("ssd1") { (in, q) =>
      in.addData(
        (1L, "2024-01-01T10:00:00Z", "a"),
        (1L, "2024-01-01T10:01:00Z", "b"),
        (1L, "2024-01-01T10:02:00Z", "a"))
      q.processAllAvailable()
      // 10:12 — visible iff last-seen > t − W (the batch op's boundary):
      // 'a' refreshed at exactly 10:02 = t − W ages out, 'b' (10:01) too
      in.addData((1L, "2024-01-01T10:12:00Z", "c"))
      q.processAllAvailable()
      // 10:11 next batch would still have seen 'a'; the stream is append-
      // only so assert the boundary via the 10:12 count alone
      val got = spark.table("ssd1").as[DistinctOut].collect().toSet
      assert(got === Set(
        DistinctOut(1L, t0, 1L),
        DistinctOut(1L, t0 + 60000000L, 2L),
        DistinctOut(1L, t0 + 120000000L, 2L),
        DistinctOut(1L, t0 + 720000000L, 1L))) // {c} — a@10:02 on the edge
    }
  }

  test("within-batch out-of-order events fold in time order") {
    run("ssd2") { (in, q) =>
      in.addData(
        (2L, "2024-01-01T10:05:00Z", "y"),
        (2L, "2024-01-01T10:00:00Z", "x"))
      q.processAllAvailable()
      val got = spark.table("ssd2").as[DistinctOut].collect().toSet
      assert(got === Set(
        DistinctOut(2L, t0, 1L),
        DistinctOut(2L, t0 + 300000000L, 2L)))
    }
  }

  test("keys are independent; duplicates never double-count") {
    run("ssd3") { (in, q) =>
      in.addData(
        (3L, "2024-01-01T10:00:00Z", "a"), (3L, "2024-01-01T10:00:30Z", "a"),
        (4L, "2024-01-01T10:00:00Z", "a"))
      q.processAllAvailable()
      val got = spark.table("ssd3").as[DistinctOut].collect()
      assert(got.count(_.entity == 3L) == 2)
      assert(got.filter(_.entity == 3L).map(_.n_distinct).toSet === Set(1L))
      assert(got.filter(_.entity == 4L).map(_.n_distinct).toSet === Set(1L))
    }
  }
}
