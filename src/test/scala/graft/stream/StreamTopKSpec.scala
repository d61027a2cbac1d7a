package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import StreamTopK.TopKOut

class StreamTopKSpec extends SparkSpec {
  import spark.implicits._

  private def run(capacity: Int, batches: Seq[Seq[(Long, String, String)]],
                  name: String): Seq[TopKOut] = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.to_timestamp
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("entity", "ts_s", "v")
      .withColumn("ts", to_timestamp($"ts_s"))
    val q = StreamTopK.estimates(df, "entity", "ts", "v", capacity)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      spark.table(name).as[TopKOut].collect().toSeq
    } finally q.stop()
  }

  private def t(sec: Int) = f"2024-01-01T10:00:$sec%02dZ"

  test("heavy value survives decrements and keeps a positive estimate") {
    // capacity 2, stream: a,a,a,b,c — c's arrival decrements {a:3, b:1}
    // to {a:2}; a stays tracked, b and c are gone
    val out = run(2, Seq(Seq(
      (1L, t(1), "a"), (1L, t(2), "a"), (1L, t(3), "a"),
      (1L, t(4), "b"), (1L, t(5), "c"))), "tk1")
    val byTime = out.sortBy(_.t_us).map(o => (o.et, o.est))
    assert(byTime === Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L),
      ("c", 0L)))
  }

  test("state carries across batches") {
    val out = run(2, Seq(
      Seq((1L, t(1), "x"), (1L, t(2), "x")),
      Seq((1L, t(3), "x"))), "tk2")
    assert(out.exists(o => o.et == "x" && o.est == 3L))
  }

  test("keys are independent sketches") {
    val out = run(1, Seq(Seq(
      (1L, t(1), "a"), (2L, t(1), "b"))), "tk3")
    assert(out.toSet === Set(
      TopKOut(1L, "a", 1704103201000000L, 1L),
      TopKOut(2L, "b", 1704103201000000L, 1L)))
  }
}
