package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.geo.HexSql

/** Central IO over the shared testdata (TESTDATA.md). All readers go
  * through here so scale-relevant details live in one place:
  *
  *  - `events.parquet` `ts` has shipped as both TIMESTAMP(NANOS) and
  *    timestamp[us] across testdata generations; `load` sniffs the read
  *    schema and normalizes to TimestampType(us) either way.
  *  - A bare `spark.read.parquet` infers the schema with a Spark job (one
  *    task reading the footers) on every call, and building one query
  *    reads its tables many times. `load` therefore memoizes the inferred
  *    `StructType` — only the schema, never a DataFrame — per session and
  *    path, together with the path's file-status signature (leaf file
  *    names, lengths and modification times from one listing) at the time
  *    of inference. The first read of a table in a session infers as
  *    before and is returned as is; later reads whose signature matches
  *    pin the memoized schema (`spark.read.schema`), which runs no job yet
  *    still yields a fresh relation with new expression ids, so two reads
  *    of one table self-join as two independent scans. A table rewritten
  *    at the same path no longer matches, so it is inferred again and
  *    replaces its entry. The session is part of the key because its conf
  *    (e.g. `nanosAsLong`) shapes inference, and it is held weakly, so a
  *    dropped session takes its entries with it.
  *  - At 100 TB the same entry point is where partition pruning / pushdown
  *    options (`mergeSchema=false`, file-size tuning) are controlled; scans
  *    stay declarative so Catalyst prunes columns per query.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private type Signature = Seq[(String, Long, Long)]

  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Signature, StructType)]]())

  private def signature(spark: SparkSession, path: String): Signature = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted
  }

  /** Read one Parquet path, inferring its schema at most once per session,
    * path and file-status signature (see the object scaladoc). */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val memo = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    val sig = signature(spark, path)
    memo.get(path) match {
      case (`sig`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        memo.put(path, (sig, df.schema))
        df
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    // `ts` contract: the generator has shipped TIMESTAMP(NANOS) (read back
    // as long under nanosAsLong) and plain timestamp[us] (read back as
    // TIMESTAMP_NTZ) across testdata generations. Normalize to
    // TimestampType(us) either way: long→ts via integer `div` (a double `/`
    // would lose precision — nano epochs ≈ 1.7e18 > 2^53); NTZ→LTZ via cast
    // under a pinned UTC session zone so the wall-clock reinterpretation is
    // the identity and matches the DuckDB oracle's naive timestamps.
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (name == "events") df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
    else df
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The `events` table re-expressed as the reference's position stream
    * (`heatmap_stream.py:52-61` schema): the shared testdata carries no
    * coordinates, so lat/lon derive deterministically from integer columns
    * (exact modular arithmetic, then one double division — reproducible
    * bit-for-bit in any engine; SQL twin in [[HexSql.eventLatSql]]).
    */
  def positions(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      concat(lit("p"), (col("user_id") % 3).cast("string")).as("provider"),
      concat(lit("v"), col("user_id").cast("string")).as("vehicleId"),
      ((col("user_id") * 37 % 17000).cast("double") / 100.0 - 85.0).as("lat"),
      ((col("event_id") * 91 % 35000).cast("double") / 100.0 - 175.0).as("lon"),
      col("value").as("speedKmh"),
      col("ts").as("eventTs"),
      col("event_id"), col("event_type"))

  /** SQL twin of [[positions]] for the DuckDB oracle (dialect-portable). */
  val positionsSql: String =
    s"""(SELECT concat('p', CAST(user_id % 3 AS VARCHAR)) AS provider,
       |        concat('v', CAST(user_id AS VARCHAR)) AS vehicleId,
       |        ${HexSql.eventLatSql} AS lat,
       |        ${HexSql.eventLonSql} AS lon,
       |        value AS speedKmh,
       |        ts AS eventTs,
       |        event_id, event_type
       | FROM events)""".stripMargin
}
