package graft.sink

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.concurrent.TrieMap

/** The reference's MongoDB collections re-expressed as a thin keyed-table
  * sink abstraction (SURVEY.md §7.1 `graft.sink`): `tiles` is an
  * unconditionally-replaced keyed upsert (`heatmap_stream.py:176-196`),
  * `positions_latest` adds a monotonic event-time guard
  * (`heatmap_stream.py:217-228`). Both are idempotent under micro-batch
  * replay, which is what makes at-least-once foreachBatch delivery exact.
  */
trait KeyedTable {
  /** Merge one micro-batch (at-least-once; must be replay-idempotent). */
  def merge(batch: DataFrame): Unit
  /** Current table state. */
  def snapshot(spark: SparkSession): DataFrame
}

/** Driver-memory implementation of the reference's driver-side bulk-upsert
  * loop (W9/W5, `heatmap_stream.py:163,191-196,210,230-235`). Each merge
  * brings the whole batch to the driver with one `collect()`: one Spark job
  * whose tasks run in parallel. The reference's `toLocalIterator` ran one
  * job per partition, one after another, which made it the largest fixed
  * cost of a stream epoch. Holding the batch on the driver is bounded by
  * the store itself: a tiles batch holds only the tiles that changed, and a
  * latest batch is already reduced per key on the executors, so a batch is
  * never larger than what this table keeps in driver memory anyway. Fine at
  * reference scale; the scale path is [[ParquetKeyedTable]] (fully
  * distributed merge, no driver loop).
  *
  * @param keyCols   composite key (reference synthesizes `a|b|c` ids — P9)
  * @param guardCols if non-empty, an incoming row only replaces the stored
  *                  row when its guard tuple compares lexicographically
  *                  strictly greater (monotonic event-time guard with
  *                  deterministic tie-break — use the SAME column list the
  *                  in-batch argmax orders by, so results don't depend on
  *                  micro-batch boundaries); when empty, last writer wins
  *                  (tiles semantics: update-mode re-emissions overwrite).
  */
final class InMemoryKeyedTable(keyCols: Seq[String], guardCols: Seq[String])
    extends KeyedTable {
  def this(keyCols: Seq[String], guardCol: Option[String]) =
    this(keyCols, guardCol.toSeq)

  // keyed by the key values themselves: a joined string would merge
  // ("a|b", "c") with ("a", "b|c") and a null part with the string "null"
  private val store = TrieMap.empty[Seq[Any], Row]
  @volatile private var schema: StructType = _

  private def cmp(o: Any, n: Any): Int = (o, n) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (a: java.sql.Timestamp, b: java.sql.Timestamp) => a.compareTo(b)
    case (a: java.lang.Comparable[Any] @unchecked, b) => a.compareTo(b)
  }

  override def merge(batch: DataFrame): Unit = {
    if (schema == null) schema = batch.schema
    // snapshot labels every stored row with the first batch's schema
    require(batch.schema == schema,
      s"batch schema <${batch.schema.toDDL}> differs from the table's <${schema.toDDL}>")
    val keyIdx = keyCols.map(batch.schema.fieldIndex)
    val guardIdx = guardCols.map(batch.schema.fieldIndex)
    // Driver-side upsert loop (W9) over one collect(): a single job, rows in
    // partition order, so last-writer-wins and guard outcomes match a fold
    // over the batch in that order.
    batch.collect().foreach { row =>
      val key = keyIdx.map(row.get)
      store.updateWith(key) {
        case None => Some(row)
        case Some(old) if guardIdx.isEmpty => Some(row)
        case Some(old) =>
          val c = guardIdx.iterator.map(g => cmp(old.get(g), row.get(g)))
            .find(_ != 0).getOrElse(0)
          if (c < 0) Some(row) else Some(old)
      }
    }
  }

  override def snapshot(spark: SparkSession): DataFrame = {
    require(schema != null, "no batch merged yet")
    spark.createDataFrame(java.util.List.copyOf(
      scala.jdk.CollectionConverters.IterableHasAsJava(store.values).asJavaCollection), schema)
  }

  def size: Int = store.size
}

/** Distributed keyed table: state lives in parquet, merged per epoch with
  * [[Upsert.merge]] (one shuffle, executor-side, no driver loop) — the
  * design that survives 1000 executors. Double-buffered directories make
  * the overwrite safe while readers exist.
  */
final class ParquetKeyedTable(spark: SparkSession, path: String,
                              keyCols: Seq[String], orderCols: Seq[String],
                              payload: Seq[String]) extends KeyedTable {
  // Recover the newest committed generation on (re)construction so a
  // restarted process resumes from durable state instead of silently
  // starting empty.
  private var gen: Int = listGens.maxOption.getOrElse(0)

  // a generation counts only when its _SUCCESS marker exists — a crash
  // mid-write leaves a partial dir that must not shadow the durable state
  private def listGens: Seq[Int] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .flatMap(f => scala.util.Try(f.getName.stripPrefix("gen").toInt).toOption
        .filter(_ => f.getName.startsWith("gen") && f.isDirectory &&
          new java.io.File(f, "_SUCCESS").exists()))

  private def cur = s"$path/gen$gen"

  // The schema generation `gen` was written with, so reading it back runs
  // no schema-inference job; null until this instance has written or read
  // a generation (a restarted table infers the recovered one once).
  private var schema: StructType = null

  private def read(s: SparkSession): DataFrame =
    if (schema != null) s.read.schema(schema).parquet(cur)
    else {
      val df = s.read.parquet(cur)
      schema = df.schema
      df
    }

  override def merge(batch: DataFrame): Unit = {
    val merged =
      if (gen == 0) Upsert.merge(batch.limit(0), batch, keyCols, orderCols, payload)
      else Upsert.merge(read(spark), batch, keyCols, orderCols, payload)
    val next = s"$path/gen${gen + 1}"
    merged.write.mode("overwrite").parquet(next)
    val old = gen
    gen += 1
    schema = merged.schema
    // Retire superseded generations (keep only the newly committed one) —
    // otherwise a long-running stream leaks one table copy per epoch.
    listGens.filter(_ <= old).foreach(g => deleteRec(new java.io.File(s"$path/gen$g")))
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRec)
    f.delete()
  }

  override def snapshot(s: SparkSession): DataFrame =
    if (gen == 0) throw new IllegalStateException("no batch merged yet")
    else read(s)
}
