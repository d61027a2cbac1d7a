package graft.stream

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming Page–Hinkley mean-shift detector — the stateful twin of
  * the batch `q_page_hinkley` prefix-sum unroll
  * ([[graft.queries.SpcQueries]]). The batch form sees the whole series
  * and expresses the recursion as three window passes; online, the recursion is O(1) state per key —
  * four longs (count, value prefix-sum, PH cumulative sum, its running
  * minimum) — so billions of keys fit the state store and each event
  * costs constant work.
  *
  * Statistic (identical truncating-integer arithmetic to the batch
  * twin, x non-negative so `div` is engine-portable):
  *   t += 1; cx += x; mu = cx div t
  *   u += x − mu − delta;  minu = min(minu, u);  ph = u − minu
  * Alarm when ph > threshold.
  *
  * Rows within a micro-batch fold in event-time order; a cross-batch
  * late event folds at arrival (same documented greediness as
  * [[StreamCusum]] — an online detector cannot rewind its decisions).
  * Emits every folded point with its PH value (append mode), so a
  * replay diff can pin the full trajectory, not just crossings.
  */
object StreamPageHinkley extends Serializable {
  case class Point(key: String, t_us: Long, x_e6: Long)
  case class PhState(t: Long, cx: Long, u: Long, minu: Long)
  case class PhOut(key: String, t_us: Long, ph_e6: Long, alarm: Boolean)

  private def fold(s0: PhState, ordered: Seq[Point], deltaE6: Long,
                   thresholdE6: Long,
                   out: scala.collection.mutable.Builder[PhOut, Seq[PhOut]])
      : PhState = {
    var (t, cx, u, minu) = (s0.t, s0.cx, s0.u, s0.minu)
    ordered.foreach { p =>
      t += 1; cx += p.x_e6
      u += p.x_e6 - cx / t - deltaE6 // Scala / == Spark div (toward zero)
      if (u < minu) minu = u
      out += PhOut(p.key, p.t_us, u - minu, u - minu > thresholdE6)
    }
    PhState(t, cx, u, minu)
  }

  def detect(points: Dataset[Point], deltaE6: Long,
             thresholdE6: Long): Dataset[PhOut] = {
    val spark = points.sparkSession
    import spark.implicits._

    def update(key: String, rows: Iterator[Point],
               state: GroupState[PhState]): Iterator[PhOut] = {
      val s0 = state.getOption.getOrElse(PhState(0L, 0L, 0L, 0L))
      val out = Seq.newBuilder[PhOut]
      val s1 = fold(s0, rows.toSeq.sortBy(_.t_us), deltaE6, thresholdE6, out)
      state.update(s1)
      out.result().iterator
    }

    points.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** [[detect]] on `transformWithState` with optional idle-TTL state
    * eviction (a quiet key re-baselines from scratch — the usually
    * wanted semantics for a drift monitor over a churning key space).
    * Pass `None` for exact [[detect]] behavior. RocksDB provider
    * required. */
  class PhProcessor(deltaE6: Long, thresholdE6: Long,
                    ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Point, PhOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[PhState] = _

    override def init(outputMode: OM, timeMode: TimeMode): Unit = {
      val cfg = if (ttl == null) TTLConfig.NONE else new TTLConfig(ttl)
      st = getHandle.getValueState[PhState]("ph",
        org.apache.spark.sql.Encoders.product[PhState], cfg)
    }

    override def handleInputRows(key: String, rows: Iterator[Point],
                                 timerValues: TimerValues): Iterator[PhOut] = {
      val s0 = if (st.exists()) st.get() else PhState(0L, 0L, 0L, 0L)
      val out = Seq.newBuilder[PhOut]
      val s1 = fold(s0, rows.toSeq.sortBy(_.t_us), deltaE6, thresholdE6, out)
      st.update(s1)
      out.result().iterator
    }
  }

  def detectTws(points: Dataset[Point], deltaE6: Long, thresholdE6: Long,
                idleTtl: Option[java.time.Duration] = None): Dataset[PhOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val timeMode =
      if (idleTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    points.groupByKey(_.key)
      .transformWithState(new PhProcessor(deltaE6, thresholdE6, idleTtl.orNull),
        timeMode, OutputMode.Append)
  }
}
