package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Harness arguments, passed by `run.py` as `key=value` pairs. */
final case class Params(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing parameter $k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
  def workload: String = apply("workload")
  def seconds: Double = double("seconds")
  def trace: Boolean = apply("trace") == "1"
  def out: String = apply("out")
}

/** One benchmark run in one JVM: set up, measure, record. Metrics are not
  * computed here; `run.py` reads the records this writes to `<out>/records.jsonl`. */
object Main {
  /** Microseconds since the epoch at which this JVM started. */
  def jvmStartUs: Long = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L

  /** Set-ups per run; `setup_s` is their median. */
  private val Setups = 3

  /** The set-ups after the first, once the run is measured and checked:
    * each tears the workload's session down and sets it up again in this
    * JVM. The first set-up counts from JVM start, so it alone carries JVM
    * start-up and the first, cold table read or stream start; running the
    * others last keeps them from warming the JVM before the cold pass. */
  def repeatSetUp(rec: Records)(setUp: Int => Unit): Unit =
    (1 until Setups).foreach { k =>
      val t0 = Clock.nowUs
      stopSession()
      setUp(k)
      rec.add("setup", "s" -> (Clock.nowUs - t0) / 1e6)
    }

  def stopSession(): Unit = SparkSession.getActiveSession.foreach { s =>
    s.streams.active.foreach(_.stop())
    s.stop()
  }

  /** The session of every run, mirroring the engine's own benchmarks on a
    * 4-core host: `local[4]`, 4 shuffle partitions, UTC and no UI. Batch
    * keeps 4096 generated classes, as graft.Bench does; streams keep their
    * state in memory and every progress update, as graft.StreamBench does. */
  def session(p: Params, stream: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${p("cores")}]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${p.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${p.out}/warehouse")
    if (stream)
      b.config("spark.sql.streaming.numRecentProgressUpdates", "100000")
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    else
      b.config("spark.sql.codegen.cache.maxEntries", "4096")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after full GCs: what the timed phase left behind. Spark's
    * ContextCleaner frees the blocks of unreachable RDDs (lazy local
    * checkpoints) asynchronously after a GC finds them, so one GC alone
    * reads a heap that varies with the cleaner's progress; pause between
    * GCs to let it catch up. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val p = Params(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val rec = new Records(s"${p.out}/records.jsonl")
    val tracer = new Tracer(rec, p.trace)
    rec.add("meta", "workload" -> p.workload, "seed" -> p.long("seed"),
      "seconds" -> p.seconds, "trace" -> p.trace)
    try p.workload match {
      case "batch_short" => Batch.run(p, rec, tracer)
      case "stream_live" => Stream.run(p, rec, tracer)
      case w => sys.error(s"unknown workload $w")
    } finally {
      tracer.flush()
      rec.write()
    }
    stopSession()
  }
}
