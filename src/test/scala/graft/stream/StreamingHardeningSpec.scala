package graft.stream

import java.nio.file.Files
import graft.{SparkSpec, Tables}
import graft.sink.{InMemoryKeyedTable, ParquetKeyedTable}
import graft.sources.Replayer
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingHardeningSpec extends SparkSpec {
  import spark.implicits._

  test("file-source e2e: replayed chunks reproduce the batch argmax") {
    val watch = Files.createTempDirectory("graft-watch").toString
    val tilesSink = new InMemoryKeyedTable(Seq("tileKey"), Nil)
    val latestSink = new InMemoryKeyedTable(Seq("provider", "vehicleId"), Seq("eventTs", "lat", "lon"))
    val job = new StreamingJob(spark, StreamingJob.fileSource(spark, watch),
      tilesSink, latestSink,
      checkpointDir = Some(Files.createTempDirectory("ckpt").toString))
    val q = job.start()
    try {
      (0 until 3).foreach { c =>
        Replayer.emitChunk(spark, sf(), watch, c, 3)
        q.processAllAvailable()
      }
      // streaming result == batch argmax over second-truncated timestamps
      // (the replayer emits whole-second ISO strings, per the reference
      // producer contract)
      val batch = Pipeline.latestByKeyMaxBy(
        Pipeline.sanitize(Tables.positions(spark, sf())
          .withColumn("eventTs", date_trunc("second", col("eventTs")))),
        Seq("lat", "lon"))
        .select("provider", "vehicleId", "eventTs", "lat", "lon")
      val streamed = latestSink.snapshot(spark)
        .select("provider", "vehicleId", "eventTs", "lat", "lon")
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted query does not reprocess committed chunks") {
    val watch = Files.createTempDirectory("graft-watch2").toString
    val ckpt = Files.createTempDirectory("ckpt2").toString
    val sink1 = new InMemoryKeyedTable(Seq("provider", "vehicleId"), Seq("eventTs", "lat", "lon"))
    val job1 = new StreamingJob(spark, StreamingJob.fileSource(spark, watch),
      new InMemoryKeyedTable(Seq("tileKey"), Nil), sink1, checkpointDir = Some(ckpt))
    val q1 = job1.start()
    Replayer.emitChunk(spark, sf(), watch, 0, 3)
    q1.processAllAvailable()
    q1.stop()
    assert(sink1.size > 0)

    // fresh sinks + same checkpoint: only NEW files may flow
    val sink2 = new InMemoryKeyedTable(Seq("provider", "vehicleId"), Seq("eventTs", "lat", "lon"))
    val job2 = new StreamingJob(spark, StreamingJob.fileSource(spark, watch),
      new InMemoryKeyedTable(Seq("tileKey"), Nil), sink2, checkpointDir = Some(ckpt))
    val q2 = job2.start()
    try {
      q2.processAllAvailable()
      assert(sink2.size == 0, "restart replayed an already-committed chunk")
      Replayer.emitChunk(spark, sf(), watch, 1, 3)
      q2.processAllAvailable()
      assert(sink2.size > 0)
    } finally q2.stop()
  }

  test("ParquetKeyedTable: distributed merge honors guard and replay") {
    val dir = Files.createTempDirectory("pkt").toString
    val t = new ParquetKeyedTable(spark, dir, Seq("provider", "vehicleId"),
      Seq("eventTs"), Seq("event_id", "lat", "lon"))
    val pos = Pipeline.sanitize(Tables.positions(spark, sf()))
      .select("provider", "vehicleId", "eventTs", "event_id", "lat", "lon")
    val epoch1 = pos.filter(col("event_id") % 2 === 0)
    val epoch2 = pos.filter(col("event_id") % 2 === 1)
    t.merge(epoch1)
    t.merge(epoch2)
    val afterBoth = t.snapshot(spark).collect().toSet
    t.merge(epoch2) // replay
    assert(t.snapshot(spark).collect().toSet == afterBoth)
    // equals the all-data argmax
    val expect = Pipeline.latestByKeyMaxBy(pos, Seq("event_id", "lat", "lon"))
      .select("provider", "vehicleId", "eventTs", "event_id", "lat", "lon").collect().toSet
    assert(afterBoth == expect)
    // a RESTARTED table on the same path resumes from durable state and
    // old generations are retired
    val t2 = new ParquetKeyedTable(spark, dir, Seq("provider", "vehicleId"),
      Seq("eventTs"), Seq("event_id", "lat", "lon"))
    assert(t2.snapshot(spark).collect().toSet == afterBoth)
    val gens = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("gen"))
    assert(gens.length == 1, s"old generations not retired: ${gens.mkString(",")}")
    t2.merge(epoch1) // older rows: guard keeps everything
    assert(t2.snapshot(spark).collect().toSet == afterBoth)
  }

  test("ParquetKeyedTable reads a generation back with the schema it was written with") {
    val dir = Files.createTempDirectory("pkt-schema").toString
    def table = new ParquetKeyedTable(spark, dir, Seq("provider", "vehicleId"),
      Seq("eventTs"), Seq("event_id", "lat", "lon"))
    val t = table
    t.merge(Pipeline.sanitize(Tables.positions(spark, sf()))
      .select("provider", "vehicleId", "eventTs", "event_id", "lat", "lon"))
    var snap: org.apache.spark.sql.DataFrame = null
    val jobs = jobsIn("pkt-snapshot") { snap = t.snapshot(spark) }
    assert(jobs == 0, s"snapshot re-inferred the written schema: $jobs jobs")
    // a restarted table infers the recovered generation: same schema
    val recovered = table.snapshot(spark)
    assert(snap.schema == recovered.schema)
    assert(snap.collect().toSet == recovered.collect().toSet)
  }

  test("stateful sessionizer closes sessions via event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    def ev(u: String, ts: String) =
      s"""{"provider":"p","vehicleId":"$u","lat":1.0,"lon":2.0,"speedKmh":1.0,"bearing":0,"accuracyM":null,"ts":"$ts"}"""
    val parsed = Pipeline.parse(mem.toDF())
    val sessions = StatefulSessions.sessions(parsed, "vehicleId", "eventTs", gapMinutes = 30)
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("closed_sessions").start()
    try {
      // session 1: two events 5 min apart
      mem.addData(ev("u1", "2024-01-01T10:00:00Z"), ev("u1", "2024-01-01T10:05:00Z"))
      q.processAllAvailable()
      assert(spark.table("closed_sessions").count() == 0) // still open
      // watermark jumps past 10:05 + 30min via another key's event
      mem.addData(ev("u2", "2024-01-01T11:00:00Z"))
      q.processAllAvailable()
      mem.addData(ev("u2", "2024-01-01T11:01:00Z")) // extra batch lets timeout fire
      q.processAllAvailable()
      import spark.implicits._
      val closed = spark.table("closed_sessions").as[StatefulSessions.ClosedSession].collect()
      assert(closed.length == 1, s"expected u1's session closed, got ${closed.toSeq}")
      assert(closed.head.user == "u1" && closed.head.cnt == 2)
      assert(closed.head.end_us - closed.head.start_us == 5L * 60 * 1000000)
    } finally q.stop()
  }

  test("observed ingest metrics report parse/drop counts per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val job = new StreamingJob(spark, mem.toDF(),
      new InMemoryKeyedTable(Seq("tileKey"), Nil),
      new InMemoryKeyedTable(Seq("provider", "vehicleId"), Seq("eventTs", "lat", "lon")))
    val q = job.start()
    try {
      mem.addData(
        """{"provider":"p","vehicleId":"v","lat":1.0,"lon":2.0,"speedKmh":1.0,"bearing":0,"accuracyM":null,"ts":"2024-01-01T00:00:00Z"}""",
        "garbage", // parses to all-null struct → provider null
        """{"provider":"p2","vehicleId":"v2","lat":999.0,"lon":2.0,"speedKmh":1.0,"bearing":0,"accuracyM":null,"ts":"2024-01-01T00:00:01Z"}""")
      q.processAllAvailable()
      val ms = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("graft_ingest")))
      assert(ms.nonEmpty, "graft_ingest metrics missing from progress")
      // sum across batches (trailing empty batches report zeros)
      assert(ms.map(_.getAs[Long]("rows_parsed")).sum == 3)
      assert(ms.map(_.getAs[Long]("rows_with_provider")).sum == 2) // garbage nulled out
    } finally q.stop()
  }

  test("maxFilesPerTrigger paces file-source intake one chunk per batch") {
    val watch = Files.createTempDirectory("graft-paced").toString
    Replayer.replayAll(spark, sf(), watch, 3)
    val latestSink = new InMemoryKeyedTable(Seq("provider", "vehicleId"), Seq("eventTs", "lat", "lon"))
    val job = new StreamingJob(spark,
      StreamingJob.fileSource(spark, watch, maxFilesPerTrigger = Some(1)),
      new InMemoryKeyedTable(Seq("tileKey"), Nil), latestSink,
      checkpointDir = Some(Files.createTempDirectory("ckpt-paced").toString))
    val q = job.start()
    try {
      q.processAllAvailable()
      // 3 pending chunks × 1 file/trigger → at least 3 distinct batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("split dual-query mode matches the multiplexed single-query results") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val tilesSink = new InMemoryKeyedTable(Seq("tileKey"), Nil)
    val latestSink = new InMemoryKeyedTable(Seq("provider", "vehicleId"), Seq("eventTs", "lat", "lon"))
    val job = new StreamingJob(spark, mem.toDF(), tilesSink, latestSink)
    val (qt, ql) = job.startSplit()
    def ev(v: String, lat: Double, ts: String) =
      s"""{"provider":"p","vehicleId":"$v","lat":$lat,"lon":-71.0,"speedKmh":5.0,"bearing":0,"accuracyM":null,"ts":"$ts"}"""
    try {
      mem.addData(ev("v1", 42.1, "2024-01-01T10:00:00Z"), ev("v2", 42.1, "2024-01-01T10:01:00Z"))
      qt.processAllAvailable(); ql.processAllAvailable()
      assert(tilesSink.snapshot(spark).agg(sum("cnt")).head().getLong(0) == 2)
      assert(latestSink.size == 2)
    } finally { qt.stop(); ql.stop() }
  }

  test("Trigger.AvailableNow backfills all pending chunks then terminates") {
    val watch = Files.createTempDirectory("graft-backfill").toString
    // drop ALL chunks before the query exists — the backlog/backfill shape
    Replayer.replayAll(spark, sf(), watch, 3)
    val tilesSink = new InMemoryKeyedTable(Seq("tileKey"), Nil)
    val latestSink = new InMemoryKeyedTable(Seq("provider", "vehicleId"), Seq("eventTs", "lat", "lon"))
    val job = new StreamingJob(spark, StreamingJob.fileSource(spark, watch),
      tilesSink, latestSink,
      checkpointDir = Some(Files.createTempDirectory("ckpt-bf").toString),
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    val q = job.start()
    try {
      assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
      val expect = Pipeline.latestByKeyMaxBy(
        Pipeline.sanitize(Tables.positions(spark, sf())
          .withColumn("eventTs", date_trunc("second", col("eventTs")))),
        Seq("lat", "lon")).count()
      assert(latestSink.size == expect)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses cross-batch duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    def ev(v: String, ts: String) =
      s"""{"provider":"p","vehicleId":"$v","lat":1.0,"lon":2.0,"speedKmh":1.0,"bearing":0,"accuracyM":null,"ts":"$ts"}"""
    val parsed = Pipeline.parse(mem.toDF())
      .withWatermark("eventTs", "10 minutes")
      .dropDuplicatesWithinWatermark("provider", "vehicleId", "eventTs")
    val q = parsed.writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup").start()
    try {
      mem.addData(ev("v1", "2024-01-01T10:00:00Z"), ev("v1", "2024-01-01T10:00:00Z"))
      q.processAllAvailable()
      mem.addData(ev("v1", "2024-01-01T10:00:00Z"), // replayed duplicate
                  ev("v1", "2024-01-01T10:02:00Z")) // genuinely new
      q.processAllAvailable()
      val vs = spark.table("stream_dedup").select("vehicleId", "ts").collect()
      assert(vs.length == 2, s"expected dedup to 2 rows, got ${vs.length}")
    } finally q.stop()
  }

  test("flatMapGroupsWithState latest: emits only changed keys, guards stale rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val clean = Pipeline.snap(Pipeline.sanitize(Pipeline.parse(mem.toDF())), 8)
      .withColumn("event_id", lit(0L))
    val out = StatefulLatest.latest(clean)
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("stateful_latest").start()
    def ev(v: String, lat: Double, ts: String) =
      s"""{"provider":"p","vehicleId":"$v","lat":$lat,"lon":10.0,"speedKmh":1.0,"bearing":0,"accuracyM":null,"ts":"$ts"}"""
    try {
      mem.addData(ev("v1", 11.0, "2024-01-01T10:00:00Z"), ev("v2", 12.0, "2024-01-01T10:01:00Z"))
      q.processAllAvailable()
      assert(spark.table("stateful_latest").count() == 2)
      // stale v1 + unchanged v2 → only... stale emits nothing, v2 not sent
      mem.addData(ev("v1", 99.0, "2024-01-01T09:00:00Z"))
      q.processAllAvailable()
      assert(spark.table("stateful_latest").count() == 2, "stale update leaked an emission")
      mem.addData(ev("v1", 13.0, "2024-01-01T10:05:00Z"))
      q.processAllAvailable()
      val rows = spark.table("stateful_latest")
        .groupBy("vehicleId").agg(max_by(col("lat"), col("ts_us")).as("lat"))
        .as[(String, Double)].collect().toMap
      assert(rows("v1") == 13.0 && rows("v2") == 12.0)
    } finally q.stop()
  }
}
