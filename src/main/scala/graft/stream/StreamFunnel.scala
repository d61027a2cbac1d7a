package graft.stream

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming funnel progression — the stateful twin of
  * [[graft.ops.Behavior.funnelStages]]. Per-entity state is just
  * (stage, time-of-reach): O(1) per key regardless of event volume, so a
  * billion-entity funnel fits the state store (RocksDB-backed at scale).
  * Emits one row per stage ADVANCE (delta semantics, like the latest-key
  * sink — ship the change, not the world).
  *
  * Ordering: rows within a micro-batch are folded in (t, type) order,
  * matching the batch fold. A cross-batch late event can still advance
  * the funnel if it lands strictly after the last reach time; a late
  * event that time-travels BEFORE the current reach point is ignored
  * (the batch fold would have consumed it — streaming greediness is the
  * documented divergence, same trade as any online funnel).
  */
object StreamFunnel {
  case class FunnelEvent(entity: Long, t_us: Long, et: String)
  case class FunnelState(stage: Int, t_us: Long)
  case class StageAdvance(entity: Long, stage: Int, t_us: Long)

  case class TimedEvent(entity: Long, ts: java.sql.Timestamp, et: String) {
    def tsUs: Long = ts.getTime * 1000 + (ts.getNanos / 1000) % 1000
  }
  case class ExpiringState(stage: Int, t_us: Long, last_us: Long)
  /** `closed = true` marks the terminal abandonment row emitted when the
    * watermark passes the entity's last activity + idle gap. */
  case class FunnelOut(entity: Long, stage: Int, t_us: Long, closed: Boolean)

  def stages(events: Dataset[FunnelEvent], steps: Seq[String]): Dataset[StageAdvance] = {
    require(steps.nonEmpty, "funnel steps must be non-empty")
    val spark = events.sparkSession
    import spark.implicits._

    def update(key: Long, rows: Iterator[FunnelEvent],
               state: GroupState[FunnelState]): Iterator[StageAdvance] = {
      var st = state.getOption.getOrElse(FunnelState(0, -1L))
      val out = Seq.newBuilder[StageAdvance]
      rows.toSeq.sortBy(e => (e.t_us, e.et)).foreach { e =>
        if (st.stage < steps.size && e.et == steps(st.stage) && e.t_us > st.t_us) {
          st = FunnelState(st.stage + 1, e.t_us)
          out += StageAdvance(key, st.stage, e.t_us)
        }
      }
      val advances = out.result()
      if (advances.nonEmpty) state.update(st)
      advances.iterator
    }

    events.groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** [[stages]] with watermark-driven state EXPIRY: an entity idle past
    * `idleMinutes` (in EVENT time — the watermark, not the wall clock)
    * emits one terminal `closed = true` row with its final stage and is
    * evicted from the state store. This is what keeps funnel state
    * bounded over unbounded entity cardinality — stalled entities don't
    * accumulate forever — and the closed rows ARE the abandonment
    * analytics (stage distribution of entities that never converted).
    *
    * `events` must NOT be watermarked upstream: the watermark attaches
    * here on the projected timestamp (same contract as
    * [[StatefulSessions.sessions]]). */
  def stagesExpiring(events: org.apache.spark.sql.DataFrame,
                     entityCol: String, tsCol: String, typeCol: String,
                     steps: Seq[String], idleMinutes: Int,
                     watermarkDelay: String = "0 seconds"): Dataset[FunnelOut] = {
    require(steps.nonEmpty, "funnel steps must be non-empty")
    require(idleMinutes >= 1, "idleMinutes must be >= 1")
    val spark = events.sparkSession
    import spark.implicits._

    def update(key: Long, rows: Iterator[TimedEvent],
               state: GroupState[ExpiringState]): Iterator[FunnelOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(FunnelOut(key, s.stage, s.t_us, closed = true))
      } else {
        var st = state.getOption.getOrElse(ExpiringState(0, -1L, -1L))
        val out = Seq.newBuilder[FunnelOut]
        rows.toSeq.sortBy(e => (e.tsUs, e.et)).foreach { e =>
          val t = e.tsUs
          if (st.stage < steps.size && e.et == steps(st.stage) && t > st.t_us) {
            st = ExpiringState(st.stage + 1, t, math.max(st.last_us, t))
            out += FunnelOut(key, st.stage, t, closed = false)
          } else st = st.copy(last_us = math.max(st.last_us, t))
        }
        state.update(st)
        state.setTimeoutTimestamp(st.last_us / 1000 + idleMinutes * 60L * 1000)
        out.result().iterator
      }
    }

    events.select(col(entityCol).cast("long").as("entity"),
        col(tsCol).as("ts"), col(typeCol).cast("string").as("et"))
      .withWatermark("ts", watermarkDelay)
      .as[TimedEvent]
      .groupByKey(_.entity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update _)
  }
}
