package graft.stream

import graft.SparkSpec
import graft.ops.Sketches
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import StreamDdsketch.{Obs, QuantileRow}

class StreamDdsketchSpec extends SparkSpec {
  import spark.implicits._

  private val kE6 = 250000L // quarter-decade log2 buckets
  private val ps = Seq(500000L, 950000L)

  test("streaming sketch converges to the batch sketch across batch splits") { withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val values = (1L to 400L).map(i => (i * i * 7919L) % 100000L + 1L)
    val in = MemoryStream[Obs]
    val q = StreamDdsketch.quantiles(in.toDS(), kE6, ps)
      .writeStream.format("memory").queryName("dds").outputMode("append").start()
    try {
      // feed in three uneven batches — state must merge across them
      in.addData(values.take(50).map(Obs("k", _)))
      q.processAllAvailable()
      in.addData(values.slice(50, 300).map(Obs("k", _)))
      q.processAllAvailable()
      in.addData(values.drop(300).map(Obs("k", _)))
      q.processAllAvailable()
      val fin = spark.table("dds").as[QuantileRow]
        .filter(_.n == 400L).collect().map(r => r.p_e6 -> r).toMap
      // batch twin on the same data
      val batch = Sketches.logBucketQuantile(
        values.toDF("v").withColumn("g", lit("k")), "g", "v", kE6, ps)
        .collect().map(r => r.getLong(r.fieldIndex("p_e6")) ->
          r.getLong(r.fieldIndex("bucket"))).toMap
      assert(fin.keySet === ps.toSet)
      ps.foreach { p =>
        assert(fin(p).bucket === batch(p), s"landing bucket for p=$p")
        assert(fin(p).rep_value === StreamDdsketch.repValue(batch(p), kE6))
      }
    } finally q.stop()
  } }

  test("keys keep independent sketches; rep value inverts the bucket") { withRocksDb {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Obs]
    val q = StreamDdsketch.quantiles(in.toDS(), kE6, Seq(500000L))
      .writeStream.format("memory").queryName("dds2").outputMode("append").start()
    try {
      in.addData(Seq.fill(9)(Obs("lo", 100L)) ++ Seq.fill(9)(Obs("hi", 65536L)))
      q.processAllAvailable()
      val rows = spark.table("dds2").as[QuantileRow].collect()
        .map(r => r.key -> r).toMap
      assert(rows("lo").bucket === StreamDdsketch.bucketOf(100L, kE6))
      assert(rows("hi").bucket === StreamDdsketch.bucketOf(65536L, kE6))
      // 65536 = 2^16: bucket 64, midpoint rep 2^16.125 within 3%
      val rep = rows("hi").rep_value.toDouble
      assert(math.abs(rep / math.pow(2.0, 16.125) - 1.0) < 0.03)
      // a single-value sketch's median must reproduce the value's decade
      val lo = rows("lo").rep_value.toDouble
      assert(lo >= 100.0 * 0.85 && lo <= 100.0 * 1.2)
    } finally q.stop()
  } }
}
