package graft.stream

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming CUSUM drift detector — the stateful twin of
  * [[graft.ops.Anomaly.cusumProfile]]. Batch mode can unroll the clamp
  * recursion into windows because it sees the whole series; a stream
  * cannot, but the recursion itself is O(1) state per key — exactly one
  * long (the running clamped sum) — so the sequential form is the RIGHT
  * shape online: billions of keys fit the state store, and each event
  * costs one add/compare.
  *
  * Rows within a micro-batch fold in event-time order; a cross-batch
  * late event folds at arrival (same documented greediness as
  * [[StreamFunnel]] — an online detector cannot rewind its decision).
  * Emits only threshold crossings (delta semantics).
  */
object StreamCusum {
  case class Point(key: String, t_us: Long, cents: Long)
  case class CusumState(s: Long)
  case class Alarm(key: String, t_us: Long, s_cents: Long)

  def alarms(points: Dataset[Point], targetCents: Long, slackCents: Long,
             thresholdCents: Long): Dataset[Alarm] = {
    val spark = points.sparkSession
    import spark.implicits._
    val drift = targetCents + slackCents

    def update(key: String, rows: Iterator[Point],
               state: GroupState[CusumState]): Iterator[Alarm] = {
      var s = state.getOption.map(_.s).getOrElse(0L)
      val out = Seq.newBuilder[Alarm]
      rows.toSeq.sortBy(_.t_us).foreach { p =>
        s = math.max(0L, s + p.cents - drift)
        if (s > thresholdCents) out += Alarm(key, p.t_us, s)
      }
      state.update(CusumState(s))
      out.result().iterator
    }

    points.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }
}
