package perfbench

import java.time.Instant
import java.util.Properties
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.perfbenchshim.Shim
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Microseconds since the epoch on a monotonic clock, so harness spans and
  * listener timestamps (epoch milliseconds) share one time base. */
object Clock {
  private val wall0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = wall0Us + (System.nanoTime() - nano0) / 1000L
}

/** Spans and counters of the traced run, kept in memory and written to the
  * records when the run ends.
  *
  * A span has a name, a layer, a trace id (workload/pass/query, `epoch-N`
  * or `read-N`), a start and an end. Parents are not tracked here: the
  * analysis derives them by time containment within a trace, which also
  * places the listener-fed job and stage spans under the harness span that
  * was open when they ran.
  *
  * With `enabled` false nothing is attached and every call is a no-op, so
  * the untraced run pays only for the bookkeeping freshness needs. `on`
  * lets the traced run alternate traced and untraced units to measure the
  * tracing overhead. */
final class Tracer(rec: Records, val enabled: Boolean) {
  @volatile var trace: String = "setup"
  @volatile var on: Boolean = enabled

  def span[T](name: String, layer: String, traceId: String = trace)(body: => T): T =
    if (!on) body
    else {
      val s = Clock.nowUs
      try body finally record(name, layer, traceId, s, Clock.nowUs)
    }

  def record(name: String, layer: String, traceId: String, start: Long, end: Long): Unit =
    rec.add("span", "name" -> name, "layer" -> layer, "trace" -> traceId,
      "start" -> start, "end" -> end)

  private val counters = mutable.LinkedHashMap[(String, String), Double]()

  def count(traceId: String, name: String, v: Double): Unit =
    if (on) counters.synchronized {
      counters((traceId, name)) = counters.getOrElse((traceId, name), 0.0) + v
    }

  /** Codegen compile count and compile nanoseconds (JVM-wide counters). */
  def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def codegenDelta(traceId: String, before: (Long, Long)): Unit = if (on) {
    val (c, ns) = codegen
    count(traceId, "spark.codegen_compiles", (c - before._1).toDouble)
    count(traceId, "spark.codegen_ms", (ns - before._2) / 1e6)
  }

  // ---- listeners -------------------------------------------------------

  private val jobs = TrieMap[Int, (String, Long, Seq[Int])]()
  private val stageTrace = TrieMap[Int, String]()
  private val stageSubmitMs = TrieMap[Int, Long]()

  private def traceOf(props: Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Shim.batchIdKey)))
      .map(b => s"epoch-$b").getOrElse(trace)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val t = traceOf(e.properties)
      jobs(e.jobId) = (t, e.time, e.stageIds)
      e.stageIds.foreach(stageTrace(_) = t)
      count(t, "spark.jobs", 1)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (t, startMs, stageIds) =>
        record("job", "spark", t, startMs * 1000L, e.time * 1000L)
        // a stage of this job that was not submitted after the job started
        // was skipped: its shuffle output already existed
        val skipped = stageIds.count(s => stageSubmitMs.get(s).forall(_ < startMs))
        count(t, "spark.stages_skipped", skipped)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
      val id = e.stageInfo.stageId
      stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      count(stageTrace.getOrElse(id, trace), "spark.stages", 1)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        record("stage", "spark", stageTrace.getOrElse(i.stageId, trace), s * 1000L, c * 1000L)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val t = stageTrace.getOrElse(e.stageId, trace)
      count(t, "spark.tasks", 1)
      if (!e.taskInfo.successful) count(t, "spark.failed_tasks", 1)
      stageSubmitMs.get(e.stageId).foreach { s =>
        count(t, "spark.task_queue_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3)
      }
      val m = e.taskMetrics
      if (m != null) {
        count(t, "spark.task_run_s", m.executorRunTime / 1e3)
        count(t, "spark.task_cpu_s", m.executorCpuTime / 1e9)
        count(t, "spark.gc_s", m.jvmGCTime / 1e3)
        count(t, "spark.shuffle_read_mb",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1048576.0)
        count(t, "spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        count(t, "spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        count(t, "tables.scan_mb", m.inputMetrics.bytesRead / 1048576.0)
        count(t, "tables.rows_read", m.inputMetrics.recordsRead.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) {
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          phases.get(p).foreach(s => count(trace, s"plans.${p}_ms", s.durationMs.toDouble))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      val startUs = Instant.parse(p.timestamp).toEpochMilli * 1000L
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      record("epoch", "stream", s"epoch-${p.batchId}", startUs, startUs + trigger * 1000L)
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(spark: SparkSession): Unit =
    if (enabled) try Shim.drainListeners(spark.sparkContext) catch { case NonFatal(_) => () }

  def flush(): Unit = counters.synchronized {
    counters.foreach { case ((t, n), v) =>
      rec.add("counter", "trace" -> t, "name" -> n, "value" -> v)
    }
    counters.clear()
  }
}
