package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming OHLC candles — tumbling event-time windows per symbol with
  * open/high/low/close/volume, emitted ONCE per candle when the
  * watermark proves the window closed (append mode). This is the
  * standard "bar builder" a market/telemetry feed needs, expressed as a
  * plain declarative windowed aggregation: every column is an algebraic
  * aggregate (min_by/max_by/min/max/sum/count), so Spark keeps O(1)
  * state per open (symbol, window) pair and partial-aggregates map-side
  * before the keyed shuffle — billions of ticks, state bounded by open
  * windows × symbols.
  *
  * open/close use min_by/max_by over the UNIQUE (ts, tick_id) struct
  * order: within one engine that is deterministic (no engine-arbitrary
  * tie the verify recipe warns about, because the key is total). The
  * batch twin `q_ohlc_candles` ([[graft.queries.CoreQueries]])
  * re-expresses the same semantics with rank windows and carries the
  * DuckDB oracle row.
  *
  * Reference anchor: the reference's tumbling tile aggregation
  * (heatmap_stream.py:105-125) is the same windowed-agg shape with
  * count/avg; candles swap in order-sensitive endpoints.
  */
object StreamOhlc {
  case class Tick(sym: String, ts: java.sql.Timestamp, tick_id: Long,
                  cents: Long)

  /** Candles over `windowDur` tumbling windows, watermarked by `delay`.
    * Emits (sym, window, open_c, high_c, low_c, close_c, volume,
    * amount_c) in append mode — one row per closed candle. */
  def candles(ticks: Dataset[Tick], windowDur: String,
              delay: String): DataFrame =
    ticks.toDF()
      .withWatermark("ts", delay)
      .groupBy(col("sym"), window(col("ts"), windowDur))
      .agg(
        min_by(col("cents"), struct(col("ts"), col("tick_id"))).as("open_c"),
        max(col("cents")).as("high_c"),
        min(col("cents")).as("low_c"),
        max_by(col("cents"), struct(col("ts"), col("tick_id"))).as("close_c"),
        count(lit(1)).as("volume"),
        sum(col("cents")).as("amount_c"))
      .select(col("sym"), col("window.start").as("wstart"),
        col("open_c"), col("high_c"), col("low_c"), col("close_c"),
        col("volume"), col("amount_c"))
}
