package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import StreamFunnelWindowed.WindowedOut

/** Windowed funnel on transformWithState event-time timers: attempts
  * convert within the window, expire via the timer as the watermark
  * passes the deadline, and reopen on the next head event. */
class StreamFunnelWindowedSpec extends SparkSpec {
  import spark.implicits._

  private val steps = Seq("view", "click", "purchase")

  private def run(name: String)(body: (MemoryStream[(Long, String, String)],
      org.apache.spark.sql.streaming.StreamingQuery) => Unit): Unit = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.to_timestamp
    val in = MemoryStream[(Long, String, String)]
    val df = in.toDF().toDF("entity", "ts_s", "et")
      .withColumn("ts", to_timestamp($"ts_s"))
    val q = StreamFunnelWindowed.attempts(df, "entity", "ts", "et",
        steps, windowMinutes = 10)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try body(in, q) finally q.stop()
  }

  test("in-window attempt converts; out-of-window timer expires the rest") {
    run("wf1") { (in, q) =>
      in.addData(
        // u1 completes within 10 min
        (1L, "2024-01-01T10:00:00Z", "view"),
        (1L, "2024-01-01T10:03:00Z", "click"),
        (1L, "2024-01-01T10:06:00Z", "purchase"),
        // u2 stalls at stage 2
        (2L, "2024-01-01T10:00:00Z", "view"),
        (2L, "2024-01-01T10:04:00Z", "click"))
      q.processAllAvailable()
      // watermark jumps past u2's deadline (10:10) → its timer fires
      in.addData((3L, "2024-01-01T10:30:00Z", "error"))
      q.processAllAvailable()
      in.addData((3L, "2024-01-01T10:31:00Z", "error"))
      q.processAllAvailable()
      val got = spark.table("wf1").as[WindowedOut].collect().toSet
      val u1 = got.filter(_.entity == 1L)
      assert(u1.exists(r => r.outcome == "converted" && r.stage == 3))
      assert(u1.count(_.outcome == "advance") == 2)
      val u2 = got.filter(_.entity == 2L)
      assert(u2.exists(r => r.outcome == "expired" && r.stage == 2),
        s"expected u2 expiry at stage 2, got $got")
    }
  }

  test("late event past the deadline closes inline and reopens an attempt") {
    run("wf2") { (in, q) =>
      in.addData((5L, "2024-01-01T10:00:00Z", "view"))
      q.processAllAvailable()
      // next event is itself a head event 20 min later: old attempt expires
      // inline (stage 1), new attempt opens at stage 1
      in.addData((5L, "2024-01-01T10:20:00Z", "view"))
      q.processAllAvailable()
      in.addData((5L, "2024-01-01T10:25:00Z", "click"),
        (5L, "2024-01-01T10:27:00Z", "purchase"))
      q.processAllAvailable()
      val got = spark.table("wf2").as[WindowedOut].collect().toSet
      assert(got.exists(r => r.outcome == "expired" && r.stage == 1))
      assert(got.exists(r => r.outcome == "converted" && r.stage == 3 &&
        r.t_us == 1704104820000000L)) // 10:27
      // exactly one expiry — the timer must not double-fire after inline close
      assert(got.count(r => r.entity == 5L && r.outcome == "expired") == 1)
    }
  }

  test("conversionCounts: terminal outcomes aggregate by (outcome, stage)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.to_timestamp
      val in = MemoryStream[(Long, String, String)]
      val df = in.toDF().toDF("entity", "ts_s", "et")
        .withColumn("ts", to_timestamp($"ts_s"))
      val q = StreamFunnelWindowed.conversionCounts(
          StreamFunnelWindowed.attempts(df, "entity", "ts", "et", steps, 10))
        .writeStream.format("memory").queryName("wfc").outputMode("update").start()
      try {
        in.addData(
          (1L, "2024-01-01T10:00:00Z", "view"),
          (1L, "2024-01-01T10:01:00Z", "click"),
          (1L, "2024-01-01T10:02:00Z", "purchase"), // converted @3
          (2L, "2024-01-01T10:00:00Z", "view"))     // stalls @1
        q.processAllAvailable()
        in.addData((3L, "2024-01-01T11:00:00Z", "error")) // expire u2's timer
        q.processAllAvailable()
        in.addData((3L, "2024-01-01T11:01:00Z", "error"))
        q.processAllAvailable()
        val got = spark.table("wfc")
          .as[(String, Int, Long)].collect()
          .groupBy(r => (r._1, r._2)).map { case (k, vs) => k -> vs.map(_._3).max }
        assert(got(("converted", 3)) === 1L)
        assert(got(("expired", 1)) === 1L)
      } finally q.stop()
    }
  }

  test("single-step funnel converts on the opening event, never expires") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import org.apache.spark.sql.functions.to_timestamp
      val in = MemoryStream[(Long, String, String)]
      val df = in.toDF().toDF("entity", "ts_s", "et")
        .withColumn("ts", to_timestamp($"ts_s"))
      val q = StreamFunnelWindowed.attempts(df, "entity", "ts", "et",
          Seq("view"), windowMinutes = 10)
        .writeStream.format("memory").queryName("wf1s")
        .outputMode("append").start()
      try {
        in.addData((9L, "2024-01-01T10:00:00Z", "view"))
        q.processAllAvailable()
        // watermark far past any would-be deadline: a buggy 1-step funnel
        // would emit "expired" here instead of having converted above
        in.addData((10L, "2024-01-01T11:00:00Z", "error"))
        q.processAllAvailable()
        in.addData((10L, "2024-01-01T11:01:00Z", "error"))
        q.processAllAvailable()
        val got = spark.table("wf1s").as[WindowedOut].collect().toSet
        assert(got.exists(r => r.entity == 9L && r.outcome == "converted" &&
          r.stage == 1), s"1-step funnel must convert on open, got $got")
        assert(!got.exists(r => r.entity == 9L && r.outcome == "expired"),
          s"1-step funnel must not expire, got $got")
      } finally q.stop()
    }
  }

  test("conversion deletes the timer: no phantom expiry after success") {
    run("wf3") { (in, q) =>
      in.addData(
        (7L, "2024-01-01T10:00:00Z", "view"),
        (7L, "2024-01-01T10:01:00Z", "click"),
        (7L, "2024-01-01T10:02:00Z", "purchase"))
      q.processAllAvailable()
      in.addData((8L, "2024-01-01T11:00:00Z", "error")) // watermark past deadline
      q.processAllAvailable()
      in.addData((8L, "2024-01-01T11:01:00Z", "error"))
      q.processAllAvailable()
      val got = spark.table("wf3").as[WindowedOut].collect().toSet
      assert(!got.exists(r => r.entity == 7L && r.outcome == "expired"),
        s"phantom expiry after conversion: $got")
    }
  }
}
