package graft.stream

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming per-key EWMA anomaly detector — the online twin of
  * [[graft.ops.Anomaly]]'s batch z-score profile and the pairing of
  * [[StreamCusum]] (drift) with a SPIKE detector: CUSUM finds slow mean
  * shifts, this flags single points far outside the smoothed band.
  *
  * State is two longs per key — the EWMA of the value (m) and the EWMA
  * of the absolute deviation (dev), both α = ½ fixed-point cents (JVM
  * long division truncates toward zero, the repo's `div` convention) —
  * so billions of keys fit the store and each event costs O(1).
  * A point alarms when |x − m| > k·dev against the PRE-update band
  * (the point must not soften the band that judges it). The first
  * point per key initializes m = x, dev = 0 silently; while dev = 0
  * (constant prefix) nothing alarms — a flat series then a jump alarms
  * on the SECOND deviation, the documented cold-start trade of EW-MAD
  * detectors.
  *
  * Rows within a micro-batch fold in event-time order; cross-batch
  * late events fold at arrival (same greediness contract as
  * [[StreamCusum]] — an online detector cannot rewind).
  */
object StreamEwma {
  case class Point(key: String, t_us: Long, cents: Long)
  case class EwmaState(m: Long, dev: Long, n: Long)
  case class Spike(key: String, t_us: Long, cents: Long, m_cents: Long,
                   dev_cents: Long)

  /** Per-state TTL semantics as [[StreamPageHinkley.detectTws]]: an evicted
    * key re-baselines from its next point. RocksDB provider required. */
  class EwmaProcessor(k: Long, ttl: java.time.Duration)
      extends StatefulProcessor[String, Point, Spike] {
    @transient private var st: ValueState[EwmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val cfg = if (ttl == null) TTLConfig.NONE else new TTLConfig(ttl)
      st = getHandle.getValueState[EwmaState]("ewma",
        org.apache.spark.sql.Encoders.product[EwmaState], cfg)
    }

    override def handleInputRows(key: String, rows: Iterator[Point],
                                 timerValues: TimerValues): Iterator[Spike] = {
      var s = if (st.exists()) st.get() else EwmaState(0L, 0L, 0L)
      val out = Seq.newBuilder[Spike]
      rows.toSeq.sortBy(_.t_us).foreach { p =>
        if (s.n == 0L) s = EwmaState(p.cents, 0L, 1L)
        else {
          val d = math.abs(p.cents - s.m)
          if (s.dev > 0L && d > k * s.dev)
            out += Spike(key, p.t_us, p.cents, s.m, s.dev)
          s = EwmaState((s.m + p.cents) / 2L, (s.dev + d) / 2L, s.n + 1L)
        }
      }
      st.update(s)
      out.result().iterator
    }
  }

  def spikes(points: Dataset[Point], k: Long,
             idleTtl: Option[java.time.Duration] = None): Dataset[Spike] = {
    val spark = points.sparkSession
    import spark.implicits._
    val timeMode =
      if (idleTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    points.groupByKey(_.key)
      .transformWithState(new EwmaProcessor(k, idleTtl.orNull),
        timeMode, OutputMode.Append)
  }
}
