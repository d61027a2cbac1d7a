package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import StreamRateLimit.{Ev, RateRow}

class StreamRateLimitSpec extends SparkSpec {
  import spark.implicits._

  private val sec = 1000000L

  /** Run the limiter over `evs` split at the given boundaries; return
    * final (total_admitted, total_rejected, tokens_e6). */
  private def run(name: String, evs: Seq[Ev], splits: Seq[Int],
                  capE6: Long, rateE6: Long): (Long, Long, Long) = withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = StreamRateLimit.decisions(in.toDS(), capE6, rateE6)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val bounds = (0 +: splits) :+ evs.size
      bounds.sliding(2).foreach { case Seq(a, b) =>
        if (b > a) { in.addData(evs.slice(a, b)); q.processAllAvailable() }
      }
      val last = spark.table(name).as[RateRow].collect()
        .filter(_.key == "k").maxBy(r => r.total_admitted + r.total_rejected)
      (last.total_admitted, last.total_rejected, last.tokens_e6)
    } finally q.stop()
  }

  test("burst drains the bucket; refill readmits at the configured rate") {
    // cap 2, rate 1/s. Burst of 4 at t=0 admits 2; t=1.5s admits 1 (refill
    // 1.5 capped by balance), t=1.6s rejects (0.1 token left).
    val evs = Seq(Ev("k", 0L), Ev("k", 1L), Ev("k", 2L), Ev("k", 3L),
      Ev("k", 3L * sec / 2), Ev("k", 8L * sec / 5))
    val (adm, rej, _) = run("rl1", evs, Seq(), 2 * sec, sec)
    assert((adm, rej) === ((3L, 3L)))
  }

  test("decisions are invariant to batch splits") {
    val evs = (0 until 40).map(i => Ev("k", i.toLong * sec / 3))
    val whole = run("rl2", evs, Seq(), 2 * sec, sec / 2)
    val split = run("rl3", evs, Seq(7, 13, 29), 2 * sec, sec / 2)
    assert(whole === split)
    // rate 0.5/s, events every 1/3 s: long-run admit ratio ~ rate/arrival
    assert(whole._1 >= 7L && whole._1 <= 9L, s"admitted=${whole._1}")
  }

  test("independent keys do not share budget") {
    val evs = Seq(Ev("a", 0L), Ev("b", 0L), Ev("a", 1L), Ev("b", 1L))
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Ev]
      val q = StreamRateLimit.decisions(in.toDS(), 1 * sec, sec)
        .writeStream.format("memory").queryName("rl4").outputMode("append").start()
      try {
        in.addData(evs); q.processAllAvailable()
        val rows = spark.table("rl4").as[RateRow].collect().map(r => r.key -> r).toMap
        assert(rows("a").total_admitted === 1L && rows("a").total_rejected === 1L)
        assert(rows("b").total_admitted === 1L && rows("b").total_rejected === 1L)
      } finally q.stop()
    }
  }
}
