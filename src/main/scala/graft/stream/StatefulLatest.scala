package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** positions_latest as explicit keyed state — the
  * `KeyValueGroupedDataset.flatMapGroupsWithState` surface (SURVEY.md §1.4
  * mapping). Equivalent semantics to the sink-side W5 guard, but the
  * monotonic latest-position lives in Spark's state store (per-key O(1),
  * RocksDB-backed at scale) and only CHANGED keys are emitted per batch —
  * at 100 TB this is the difference between shipping a delta and
  * re-upserting the world.
  */
object StatefulLatest {
  case class KeyedPos(provider: String, vehicleId: String, ts_us: Long,
                      event_id: Long, lat: Double, lon: Double)

  private def newer(a: KeyedPos, b: KeyedPos): KeyedPos =
    if (b.ts_us > a.ts_us || (b.ts_us == a.ts_us && b.event_id > a.event_id)) b else a

  /** The key's new latest position, or None when every incoming row is
    * stale against `prev` (stale updates emit nothing). */
  private def advance(prev: Option[KeyedPos],
                      rows: Iterator[KeyedPos]): Option[KeyedPos] =
    rows.reduceOption(newer).map(b => prev.fold(b)(newer(_, b)))
      .filterNot(prev.contains)

  private def updateKey(
      key: (String, String), rows: Iterator[KeyedPos],
      state: GroupState[KeyedPos]): Iterator[KeyedPos] = {
    val next = advance(state.getOption, rows)
    next.foreach(state.update)
    next.iterator
  }

  /** `clean` must carry provider/vehicleId/eventTs/event-ish id/lat/lon.
    * Works on both batch and streaming frames. */
  def latest(clean: DataFrame, idCol: String = "event_id"): Dataset[KeyedPos] = {
    val spark = clean.sparkSession
    import spark.implicits._
    clean.select(col("provider"), col("vehicleId"),
        unix_micros(col("eventTs")).as("ts_us"),
        keyedId(clean, idCol), col("lat"), col("lon")).as[KeyedPos]
      .groupByKey(r => (r.provider, r.vehicleId))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateKey)
  }

  private def keyedId(clean: DataFrame, idCol: String) =
    (if (clean.columns.contains(idCol)) col(idCol) else lit(0L)).cast("long").as("event_id")

  /** The same delta semantics on Spark 4's `transformWithState` — the
    * current-generation arbitrary-state API (typed composite state via a
    * [[org.apache.spark.sql.streaming.StatefulProcessorHandle]], per-state
    * TTL, timers). Requires the RocksDB state store provider at runtime.
    * Kept alongside the `flatMapGroupsWithState` form so both stateful
    * surfaces stay exercised. */
  class LatestPositionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[(String, String), KeyedPos, KeyedPos] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var latestState: ValueState[KeyedPos] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latestState = getHandle.getValueState[KeyedPos]("latest",
        org.apache.spark.sql.Encoders.product[KeyedPos], TTLConfig.NONE)

    override def handleInputRows(key: (String, String), rows: Iterator[KeyedPos],
                                 timerValues: TimerValues): Iterator[KeyedPos] = {
      val next = advance(
        if (latestState.exists()) Some(latestState.get()) else None, rows)
      next.foreach(latestState.update)
      next.iterator
    }
  }

  /** [[latest]] via `transformWithState` (streaming frames only; set
    * `spark.sql.streaming.stateStore.providerClass` to RocksDB first). */
  def latestTws(clean: DataFrame, idCol: String = "event_id"): Dataset[KeyedPos] = {
    val spark = clean.sparkSession
    import spark.implicits._
    clean.select(col("provider"), col("vehicleId"),
        unix_micros(col("eventTs")).as("ts_us"),
        keyedId(clean, idCol), col("lat"), col("lon")).as[KeyedPos]
      .groupByKey(r => (r.provider, r.vehicleId))
      .transformWithState(new LatestPositionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update)
  }
}
