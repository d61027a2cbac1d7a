package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import StreamEwma.{Point, Spike}

class StreamEwmaSpec extends SparkSpec {
  import spark.implicits._

  private def run(name: String, batches: Seq[Seq[Point]],
                  k: Long): Set[Spike] = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Point]
    val q = StreamEwma.spikes(in.toDS(), k)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      spark.table(name).as[Spike].collect().toSet
    } finally q.stop()
  }

  test("spike against the pre-update band; band state crosses batches") {
    // k=3. t1: init m=100, dev=0. t2 x=110: d=10, dev 0 -> no alarm;
    // m=105, dev=5. t3 x=200: d=95 > 3*5 -> SPIKE with pre-update band;
    // m=152, dev=50. Batch 2, t4 x=160: d=8 < 150 -> quiet (state carried).
    val got = run("ew1", Seq(
      Seq(Point("k", 1L, 100L), Point("k", 2L, 110L), Point("k", 3L, 200L)),
      Seq(Point("k", 4L, 160L))), 3L)
    assert(got === Set(Spike("k", 3L, 200L, 105L, 5L)))
  }

  test("flat series never alarms (dev stays 0)") {
    val got = run("ew2", Seq(
      Seq(Point("k", 1L, 100L), Point("k", 2L, 100L)),
      Seq(Point("k", 3L, 100L), Point("k", 4L, 100L))), 3L)
    assert(got.isEmpty)
  }

  test("within-batch rows fold in event-time order; keys independent") {
    // arrival order reversed: time order is 100, 110, 200 as in test 1.
    // key j sees only two points -> never past cold start, no alarm.
    val got = run("ew3", Seq(
      Seq(Point("k", 3L, 200L), Point("k", 1L, 100L), Point("k", 2L, 110L),
        Point("j", 1L, 0L), Point("j", 2L, 1000L))), 3L)
    assert(got === Set(Spike("k", 3L, 200L, 105L, 5L)))
  }

  test("truncation convention: negative values divide toward zero") {
    // t1 init m=-100. t2 x=-109: d=9, dev=0 quiet; m=(-209)/2=-104
    // (toward zero), dev=4. t3 x=-200: d=96 > 12 -> spike, band (-104, 4).
    val got = run("ew4", Seq(Seq(
      Point("k", 1L, -100L), Point("k", 2L, -109L), Point("k", 3L, -200L))), 3L)
    assert(got === Set(Spike("k", 3L, -200L, -104L, 4L)))
  }
}
