package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sink.KeyedTable

/** The reference's core streaming program (`heatmap_stream.py:79-249`)
  * re-expressed Spark-first: one streaming query multiplexing the windowed
  * tile aggregate with raw positions (SO1), split per epoch in
  * `foreachBatch` (W4) into two keyed sinks (W5). Kafka is the production
  * source (`spark.readStream.format("kafka")` — same API); offline the
  * source is injected as any streaming DataFrame of `value: String`
  * (MemoryStream / file / rate), per SURVEY.md §2.1 S1.
  *
  * @param source streaming DataFrame with a `value` string column of JSON
  *               position events (Kafka value payloads)
  */
final class StreamingJob(
    spark: SparkSession,
    source: DataFrame,
    tilesSink: KeyedTable,
    latestSink: KeyedTable,
    res: Int = 8,
    windowMinutes: Int = 5,
    watermarkDelay: String = "10 minutes",
    city: String = "city",
    ttlMinutes: Int = 45,
    checkpointDir: Option[String] = None,
    trigger: Option[Trigger] = None) {

  /** Build the multiplexed logical plan (lazy — same shape as
    * `heatmap_stream.py:88-146`). Observed metrics (`graft_ingest`: rows
    * parsed / rows surviving sanitize+snap) surface per micro-batch in
    * `StreamingQueryProgress.observedMetrics` — the ops counter a
    * production pipeline alarms on (drop-rate spikes mean a producer
    * schema broke).
    *
    * The union scans the source once per leg (tiles and latest), so a
    * progress's `numInputRows` is twice the events the epoch read; the
    * event count is `graft_ingest.rows_parsed`. */
  def plan(): DataFrame = {
    val parsed = Pipeline.parse(source)
      .observe("graft_ingest",
        count(lit(1)).as("rows_parsed"),
        count(col("provider")).as("rows_with_provider"))
    val clean = Pipeline.snap(Pipeline.sanitize(parsed), res)
      .observe("graft_clean", count(lit(1)).as("rows_clean"))
    val tiles = Pipeline.tileKeys(
      Pipeline.tiles(clean, windowMinutes, watermarkDelay), city, res, ttlMinutes)
    val latestRaw = clean.select("provider", "vehicleId", "eventTs", "lat", "lon")
    Pipeline.multiplex(tiles, latestRaw)
  }

  /** Per-epoch callback (W4): split the union, reduce raw positions to
    * per-key argmax (A2/A3 via max_by — executor-side), upsert both sinks.
    * Batch-replay safety comes from the sinks (W5). */
  private[stream] def processBatch(df: DataFrame, epochId: Long): Unit = {
    // Two sinks = two actions on this epoch frame; cache so the multiplexed
    // plan (incl. the stateful aggregate subtree) executes once, not per
    // sink — mirrors the reference's per-batch reuse.
    df.persist()
    try {
      val tiles = Pipeline.route(df, "tiles")
        .select("tileKey", "cellId", "windowStart", "windowEnd", "cnt",
          "avgSpeedKmh", "avgLon", "avgLat", "staleAt")
      tilesSink.merge(tiles)
      val latest = Pipeline.latestByKeyMaxBy(
        Pipeline.route(df, "latest"), Seq("lat", "lon"))
      latestSink.merge(latest)
    } finally df.unpersist()
  }

  /** Idiomatic alternative to the union multiplex (SURVEY.md §2.7 SO1
    * note): two independent streaming queries sharing the source — each
    * leg gets its own trigger/checkpoint lifecycle, at the cost of reading
    * the source twice. Returns (tilesQuery, latestQuery). */
  def startSplit(): (StreamingQuery, StreamingQuery) = {
    val clean = Pipeline.snap(Pipeline.sanitize(Pipeline.parse(source)), res)
    val tiles = Pipeline.tileKeys(
      Pipeline.tiles(clean, windowMinutes, watermarkDelay), city, res, ttlMinutes)
    var tw = tiles.writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        tilesSink.merge(df.select("tileKey", "cellId", "windowStart", "windowEnd",
          "cnt", "avgSpeedKmh", "avgLon", "avgLat", "staleAt"))
      }
    var lw = clean.select("provider", "vehicleId", "eventTs", "lat", "lon")
      .writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        latestSink.merge(Pipeline.latestByKeyMaxBy(df, Seq("lat", "lon")))
      }
    checkpointDir.foreach { c =>
      tw = tw.option("checkpointLocation", s"$c/tiles")
      lw = lw.option("checkpointLocation", s"$c/latest")
    }
    trigger.foreach { t => tw = tw.trigger(t); lw = lw.trigger(t) }
    (tw.start(), lw.start())
  }

  def start(): StreamingQuery = {
    var w = plan().writeStream
      .outputMode("update")
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     epochId: Long) => processBatch(df, epochId))
    checkpointDir.foreach(c => w = w.option("checkpointLocation", c))
    trigger.foreach(t => w = w.trigger(t))
    w.start()
  }
}

object StreamingJob {
  /** Production-shape source (requires the kafka connector jar on the
    * classpath at deploy time — not present offline; see SURVEY §7.5). */
  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()

  /** File-drop source with the same contract (each line one JSON event).
    * `maxFilesPerTrigger` bounds per-batch intake — the file-source
    * backpressure knob (Kafka's equivalent is maxOffsetsPerTrigger). */
  def fileSource(spark: SparkSession, dir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.text(dir)
  }
}
