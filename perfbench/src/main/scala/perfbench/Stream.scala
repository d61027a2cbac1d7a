package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbenchshim.Shim
import graft.serve.Serving
import graft.sink.{InMemoryKeyedTable, KeyedTable}
import graft.stream.{Pipeline, StreamingJob}

/** Seeded position events as JSON strings, the wire form of a Kafka value.
  *
  * Each vehicle has a home position in the box; an event jitters it by
  * about 100 m. Event time advances `eventSecondsPerEvent` per event (the
  * accelerated clock that makes 5-minute windows close and the watermark
  * move during a short run), minus a uniform disorder of up to
  * `disorderS` seconds, which stays below the 10-minute watermark so no
  * event is late. A share of events is malformed JSON, and another share
  * carries an out-of-range latitude; both counts are kept for the ingest
  * check. */
final class Generator(seed: Long, vehicles: Int, box: Seq[Double], eventSecondsPerEvent: Double,
                      disorderS: Double, malformedShare: Double, outOfRangeShare: Double) {
  private val baseMs = 1704067200000L // 2024-01-01T00:00:00Z
  private var kinds = Array.emptyByteArray // 1 = malformed, 2 = out of range

  /** Injected (malformed, out-of-range) counts among the first `n` events. */
  def injected(n: Int): (Int, Int) = (kinds.take(n).count(_ == 1), kinds.take(n).count(_ == 2))

  private def home(v: Int, axis: Int): Double = {
    val h = new java.util.SplittableRandom(seed * 31 + v * 2 + axis).nextDouble()
    if (axis == 0) box(0) + h * (box(1) - box(0)) else box(2) + h * (box(3) - box(2))
  }

  def events(n: Int): Array[String] = {
    val rng = new java.util.SplittableRandom(seed)
    val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT
    kinds = new Array[Byte](n)
    Array.tabulate(n) { i =>
      val v = rng.nextInt(vehicles)
      val oor = rng.nextDouble() < outOfRangeShare
      val bad = rng.nextDouble() < malformedShare
      val lat = if (oor) 90.5 + rng.nextDouble() else home(v, 0) + (rng.nextDouble() - 0.5) * 0.002
      val lon = home(v, 1) + (rng.nextDouble() - 0.5) * 0.002
      val tsMs = baseMs + (i * eventSecondsPerEvent * 1000).toLong - (rng.nextDouble() * disorderS * 1000).toLong
      val ts = fmt.format(java.time.Instant.ofEpochMilli(tsMs))
      val json = f"""{"provider":"p${v % 3}","vehicleId":"v$v","lat":$lat%.6f,"lon":$lon%.6f,"speedKmh":${rng.nextInt(1200) / 10.0}%.1f,"bearing":${rng.nextInt(360)},"accuracyM":null,"ts":"$ts"}"""
      if (bad) { kinds(i) = 1; "<" + json }
      else { if (oor) kinds(i) = 2; json }
    }
  }
}

/** Timing decorator around a sink: records when each merge of each epoch
  * started and ended (freshness reads the tiles merge end), and a span in
  * the traced run. With `alternate`, the traced run traces odd epochs only
  * (this sink is merged first in an epoch), so traced and untraced epochs
  * of one run give the tracing overhead. */
final class TimedTable(name: String, inner: KeyedTable, rec: Records, tracer: Tracer,
                       alternate: Boolean) extends KeyedTable {
  override def merge(batch: DataFrame): Unit = {
    val batchId = Option(batch.sparkSession.sparkContext.getLocalProperty(Shim.batchIdKey)).getOrElse("-1")
    if (alternate && tracer.enabled) tracer.on = batchId.toLong % 2 == 1
    val t0 = Clock.nowUs
    tracer.span(s"${name}_merge", "sink", s"epoch-$batchId") { inner.merge(batch) }
    rec.add("merge", "sink" -> name, "batch" -> batchId.toLong, "start" -> t0,
      "end" -> Clock.nowUs, "traced" -> tracer.on)
  }
  override def snapshot(spark: SparkSession): DataFrame = inner.snapshot(spark)
}

/** The live workload: an open loop of position events through
  * `StreamingJob` into the reference's in-memory keyed sinks. */
object Stream {
  private val tileCols = Seq("tileKey", "cellId", "windowStart", "windowEnd", "cnt",
    "avgSpeedKmh", "avgLon", "avgLat", "staleAt")
  private val latestCols = Seq("provider", "vehicleId", "eventTs", "lat", "lon")

  /** Untimed warm epochs of `WarmEvents` events before timing. The first is
    * the first epoch this JVM runs, `cold_s`; the rest let the JIT compile
    * the epoch path. With one warm epoch only, timed epochs ran about 30%
    * slower and varied more between runs. */
  private val WarmEpochs = 3
  private val WarmEvents = 2000
  /** Sequential serving reads after the timed phase, so they do not
    * compete with the epochs whose freshness the run measures. */
  private val Reads = 3

  def run(p: Params, rec: Records, tracer: Tracer): Unit = {
    val box = p.list("box").map(_.toDouble)
    val tickMs = p.int("tick_ms")
    val perTick = p.int("rate_per_s") * tickMs / 1000
    val ticks = (p.seconds * 1000 / tickMs).toInt
    // the events a run sends: the warm epochs, then the timed phase
    val warm = WarmEpochs * WarmEvents
    val total = warm + ticks * perTick

    /** Set-up: session up, events generated, stream started. */
    def setUp(k: Int) = {
      val spark = Main.session(p, stream = true)
      val gen = new Generator(p.long("seed"), p.int("vehicles"), box, p.double("event_seconds_per_event"),
        p.double("disorder_s"), p.double("malformed_share"), p.double("out_of_range_share"))
      val events = gen.events(total)
      // Fixed source partitions, as a 4-partition Kafka topic would have.
      // With MemoryStream's default of one partition per addData call, the
      // partition count follows how many ticks an epoch picked up, so epoch
      // cost feeds back into the next epoch's size: two identical probe runs
      // read freshness p50 8.7 s and 3.9 s. With 4 fixed partitions, four
      // runs read 1.36-1.49 s. Keep the partition count fixed.
      val mem = MemoryStream[String](4)(Encoders.STRING, spark.sqlContext)
      val tiles = new InMemoryKeyedTable(Seq("tileKey"), Nil)
      val latest = new InMemoryKeyedTable(Seq("provider", "vehicleId"), Seq("eventTs", "lat", "lon"))
      val query = new StreamingJob(spark, mem.toDF(),
        new TimedTable("tiles", tiles, rec, tracer, alternate = true),
        new TimedTable("latest", latest, rec, tracer, alternate = false),
        checkpointDir = Some(s"${p.out}/checkpoint-$k")).start()
      (spark, gen, events, mem, tiles, latest, query)
    }
    val (spark, gen, events, mem, tiles, latest, query) = setUp(0)
    rec.add("setup", "s" -> (Clock.nowUs - Main.jvmStartUs) / 1e6)

    (0 until WarmEpochs).foreach { k =>
      val w0 = Clock.nowUs
      mem.addData(events.slice(k * WarmEvents, (k + 1) * WarmEvents).toIndexedSeq)
      query.processAllAvailable()
      if (k == 0) rec.add("cold", "s" -> (Clock.nowUs - w0) / 1e6)
    }
    rec.add("warm", "last_batch" -> Option(query.lastProgress).map(_.batchId).getOrElse(-1L))
    tracer.attach(spark)
    tracer.trace = p.workload

    // Open loop: one generator thread sends a tick of events every
    // `tick_ms` for the run's seconds, on schedule whatever the stream is
    // doing.
    val t0 = System.nanoTime() + 50L * 1000000L
    val sender = new Thread(() => {
      (0 until ticks).foreach { i =>
        val due = t0 + i * tickMs * 1000000L
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val dueUs = Clock.nowUs - (System.nanoTime() - due) / 1000L
        val tick = events.slice(warm + i * perTick, warm + (i + 1) * perTick)
        val off = tracer.span("send", "load", "load") { mem.addData(tick.toIndexedSeq) }
        rec.add("tick", "i" -> i, "due" -> dueUs, "sent" -> Clock.nowUs, "offset" -> off.json.toLong,
          "events" -> perTick)
      }
    }, "perfbench-generator")
    sender.start()
    sender.join()
    query.processAllAvailable()
    tracer.on = tracer.enabled
    rec.add("timed", "s" -> (System.nanoTime() - t0) / 1e9)
    rec.add("heap", "mb" -> Main.retainedHeapMb())

    (1 to Reads).foreach { k =>
      tracer.trace = s"read-$k"
      val r0 = Clock.nowUs
      val bytes = tracer.span("read", "serve") {
        Serving.featureCollectionJson(Serving.tileFeatures(Serving.tilesLatest(tiles.snapshot(spark)))).length
      }
      rec.add("read", "i" -> k, "s" -> (Clock.nowUs - r0) / 1e6, "bytes" -> bytes, "traced" -> tracer.on)
      Batch.drainJobs(spark)
      tracer.drain(spark)
    }
    tracer.on = false
    query.recentProgress.foreach(pr => rec.addRaw("progress", pr.json))
    query.stop()
    val (malformed, outOfRange) = gen.injected(total)
    rec.add("gen", "events" -> total, "malformed" -> malformed, "out_of_range" -> outOfRange)
    check(rec, spark, events, tiles, latest)
    Main.repeatSetUp(rec)(setUp(_))
  }

  /** (keys compared, keys of `a` and `b` that do not pair up with every
    * other column equal). Doubles compare within 1e-9, as the oracle check
    * rounds: a streaming average sums in another order than the batch one. */
  def mismatches(a: DataFrame, b: DataFrame, keys: Seq[String]): (Long, Long) = {
    val cols = a.columns.toSeq.filterNot(keys.contains)
    val j = a.select(a.columns.map(c => col(c).as(s"a_$c")).toIndexedSeq: _*)
      .join(b.select(b.columns.map(c => col(c).as(s"b_$c")).toIndexedSeq: _*),
        keys.map(k => col(s"a_$k") === col(s"b_$k")).reduce(_ && _), "full_outer")
    val same = (keys ++ cols).map { c =>
      val (x, y) = (col(s"a_$c"), col(s"b_$c"))
      a.schema(c).dataType match {
        case org.apache.spark.sql.types.DoubleType =>
          (x.isNull && y.isNull) || abs(x - y) <= lit(1e-9) * greatest(lit(1.0), abs(x))
        case _ => x <=> y
      }
    }.reduce(_ && _)
    val r = j.agg(count(lit(1)), sum(when(same, 0L).otherwise(1L))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The correctness gate: both sinks equal the batch twin (`Pipeline`
    * tiles and `latestByKeyMaxBy`) over the events sent. The ingest
    * counters are checked against the generator's in `run.py`. */
  private def check(rec: Records, spark: SparkSession, sent: Array[String], tiles: KeyedTable,
                    latest: KeyedTable): Unit = {
    def gate(name: String)(body: => (Long, Long)): Unit = {
      val (n, bad) = try body catch { case NonFatal(e) => System.err.println(s"check $name: $e"); (1L, 1L) }
      rec.add("check", "name" -> name, "n" -> n, "bad" -> bad)
    }
    val raw = spark.createDataset(sent.toIndexedSeq)(Encoders.STRING).toDF("value")
    val clean = Pipeline.snap(Pipeline.sanitize(Pipeline.parse(raw)), 8)
    val twinTiles = Pipeline.tileKeys(Pipeline.tiles(clean)).select(tileCols.map(col): _*)
    val twinLatest = Pipeline.latestByKeyMaxBy(clean.select(latestCols.map(col): _*), Seq("lat", "lon"))
    gate("tiles_equal_batch_twin")(
      mismatches(tiles.snapshot(spark).select(tileCols.map(col): _*), twinTiles, Seq("tileKey")))
    gate("latest_equal_batch_twin")(
      mismatches(latest.snapshot(spark).select(latestCols.map(col): _*), twinLatest, Seq("provider", "vehicleId")))
  }
}
