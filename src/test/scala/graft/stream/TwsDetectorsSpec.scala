package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import StreamPageHinkley.{PhOut, Point}

/** Gates for [[StreamPageHinkley.detectTws]] — the transformWithState
  * (+ optional idle-TTL) twin of the fMGWS `detect` path, which until
  * this spec had no coverage at all (so a state-encoder codegen break
  * like the StreamRateLimit nested-Bucket one could hide in it).
  *
  * Invariants pinned:
  *   1. Batch-split invariance: the emitted PH trajectory is a pure
  *      function of the keyed event-time-ordered stream — replaying the
  *      same points under different micro-batch boundaries yields
  *      byte-identical (t_us, ph_e6, alarm) sequences.
  *   2. fMGWS/TWS agreement: detectTws(…, None) equals detect(…) row for
  *      row — the two state backends carry the same recursion.
  *   3. Inert TTL: an idle-TTL far longer than the test run changes
  *      nothing (TTL only evicts state, never perturbs live decisions).
  */
class TwsDetectorsSpec extends SparkSpec {
  import spark.implicits._

  private val sec = 1000000L
  // Mean shift: 30 points at x=1.0 then 30 at x=3.0 (e6 fixed point);
  // delta=0.2, threshold=5.0 → alarms well inside the second regime.
  private val pts: Seq[Point] =
    (0 until 30).map(i => Point("k", (i + 1).toLong * sec, 1000000L)) ++
      (0 until 30).map(i => Point("k", (i + 31).toLong * sec, 3000000L))
  private val deltaE6 = 200000L
  private val thrE6 = 5000000L

  /** Full emitted trajectory for key "k", sorted by event time. */
  private def runTws(name: String, splits: Seq[Int],
                     ttl: Option[java.time.Duration]): Seq[(Long, Long, Boolean)] =
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Point]
      val q = StreamPageHinkley.detectTws(in.toDS(), deltaE6, thrE6, ttl)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        val bounds = (0 +: splits) :+ pts.size
        bounds.sliding(2).foreach { case Seq(a, b) =>
          if (b > a) { in.addData(pts.slice(a, b)); q.processAllAvailable() }
        }
        spark.table(name).as[PhOut].collect().toSeq
          .filter(_.key == "k").sortBy(_.t_us)
          .map(o => (o.t_us, o.ph_e6, o.alarm))
      } finally q.stop()
    }

  private def runFmgws(name: String): Seq[(Long, Long, Boolean)] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Point]
    val q = StreamPageHinkley.detect(in.toDS(), deltaE6, thrE6)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      in.addData(pts); q.processAllAvailable()
      spark.table(name).as[PhOut].collect().toSeq
        .filter(_.key == "k").sortBy(_.t_us)
        .map(o => (o.t_us, o.ph_e6, o.alarm))
    } finally q.stop()
  }

  test("detectTws trajectory is invariant to micro-batch splits and alarms on the shift") {
    val whole = runTws("ph_tws_whole", Seq(), None)
    val split = runTws("ph_tws_split", Seq(11, 30, 47), None)
    assert(whole === split)
    assert(whole.size === pts.size)
    // No alarm in the first regime; alarms appear after the mean shift.
    assert(!whole.take(30).exists(_._3))
    assert(whole.drop(30).exists(_._3))
  }

  test("detectTws with no TTL matches the fMGWS detect path row for row") {
    val tws = runTws("ph_tws_vs_fmgws", Seq(13), None)
    val fmgws = runFmgws("ph_fmgws_ref")
    assert(tws === fmgws)
  }

  /** TTL variant needs its own harness: TTL forces
    * TimeMode.ProcessingTime, under which the stream runs micro-batches
    * continuously to advance processing time (timers/TTL expiry), so
    * `processAllAvailable` NEVER drains — the sink is polled for the
    * expected row count instead (each input point emits exactly one
    * output row). */
  private def runTwsPolling(name: String, splits: Seq[Int],
                            ttl: java.time.Duration): Seq[(Long, Long, Boolean)] =
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Point]
      val q = StreamPageHinkley.detectTws(in.toDS(), deltaE6, thrE6, Some(ttl))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("50 milliseconds"))
        .start()
      try {
        val bounds = (0 +: splits) :+ pts.size
        bounds.sliding(2).foreach { case Seq(a, b) =>
          if (b > a) {
            in.addData(pts.slice(a, b))
            val deadline = System.nanoTime() + 120L * 1000000000L
            while (spark.table(name).count() < b &&
                   System.nanoTime() < deadline) Thread.sleep(100)
            assert(spark.table(name).count() >= b,
              s"sink never reached $b rows (TTL stream stalled)")
          }
        }
        spark.table(name).as[PhOut].collect().toSeq
          .filter(_.key == "k").sortBy(_.t_us)
          .map(o => (o.t_us, o.ph_e6, o.alarm))
      } finally q.stop()
    }

  test("an idle-TTL longer than the run is inert") {
    val noTtl = runTws("ph_tws_nottl", Seq(19), None)
    val ttl = runTwsPolling("ph_tws_bigttl", Seq(19),
      java.time.Duration.ofHours(6))
    assert(noTtl === ttl)
  }
}
