package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{SparkEntry, Tables}

/** Batch workload: a frozen list of registry queries, each fully
  * materialized through the `noop` sink (`count()` would let Catalyst prune
  * windows and joins). The cold pass runs every query once in this fresh
  * JVM, the warm passes repeat them; the seed shuffles the query order of
  * every pass. After the timed phase each result is written as Parquet,
  * untimed, for the DuckDB oracle check in `run.py`. */
object Batch {
  /** Measured warm passes of the untraced run, at least: 4 samples per
    * query. A traced pass runs every query twice (see `run`), so it needs
    * half. */
  private val MinPasses = 4

  /** Wait until no job is active; returns how many were active when the
    * timed action returned. A lazily computed checkpoint can leave jobs
    * running after the action; draining keeps them out of the next sample. */
  def drainJobs(spark: SparkSession): Int = {
    val tracker = spark.sparkContext.statusTracker
    val orphans = tracker.getActiveJobIds().length
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(2)
    orphans
  }

  def run(p: Params, rec: Records, tracer: Tracer): Unit = {
    val sf = p("sf_dir")
    val names = p.list("queries")
    val registry = SparkEntry.queries
    names.filterNot(registry.contains).foreach(n => sys.error(s"query $n is not in the registry"))

    /** Set-up: session up and every table read once. */
    def setUp(): SparkSession = {
      val s = Main.session(p, stream = false)
      tracer.span("load", "tables", "setup") { Tables.names.foreach(t => Tables.load(s, sf, t).count()) }
      s
    }
    val spark = setUp()
    rec.add("setup", "s" -> (Clock.nowUs - Main.jvmStartUs) / 1e6)
    tracer.attach(spark)

    /** One timed, fully materialized run of a query. Pass 0 is the cold
      * pass, -1 a warm-up pass, whose times no metric uses. */
    def sample(name: String, pass: Int): Unit = {
      val traceId = s"${p.workload}/p$pass/$name"
      tracer.trace = traceId
      val cg = tracer.codegen
      var ok = true
      var err = ""
      var constructS = 0.0
      val t0 = Clock.nowUs
      tracer.span("query", "queries") {
        try {
          val df: DataFrame = tracer.span("construct", "queries") { registry(name)(spark, sf) }
          constructS = (Clock.nowUs - t0) / 1e6
          tracer.span("materialize", "plans") { df.write.format("noop").mode("overwrite").save() }
        } catch { case NonFatal(e) => ok = false; err = String.valueOf(e.getMessage).take(300) }
      }
      val secs = (Clock.nowUs - t0) / 1e6
      val orphans = drainJobs(spark)
      tracer.drain(spark)
      tracer.codegenDelta(traceId, cg)
      tracer.count(traceId, "spark.orphan_jobs", orphans)
      rec.add("sample", "q" -> name, "pass" -> pass, "s" -> secs, "construct_s" -> constructS,
        "ok" -> ok, "err" -> err, "orphans" -> orphans, "traced" -> tracer.on)
    }

    val rng = new scala.util.Random(p.long("seed"))
    val timedStart = Clock.nowUs
    // pass 0 is the cold pass: the first materialized run of every query
    rng.shuffle(names).foreach(sample(_, 0))
    // one warm-up pass before the measured ones: on the 4-core host a pass
    // of the 9 queries took 13.4 s cold, then 5.2, 4.4, 3.9, 3.8 and 3.8 s.
    // The JIT is still compiling during the first warm pass, at a speed
    // that varies from JVM to JVM.
    tracer.on = false
    rng.shuffle(names).foreach(sample(_, -1))
    val warmStart = Clock.nowUs
    val minPasses = if (tracer.enabled) MinPasses / 2 else MinPasses
    var pass = 1
    while (pass <= minPasses || (Clock.nowUs - warmStart) / 1e6 < p.seconds) {
      rng.shuffle(names).zipWithIndex.foreach { case (n, i) =>
        if (!tracer.enabled) sample(n, pass)
        else {
          // the traced run samples each query traced and untraced back to
          // back, in alternating order, so warm-up cancels out of the
          // tracing overhead (their difference)
          val tracedFirst = (pass + i) % 2 == 0
          Seq(tracedFirst, !tracedFirst).foreach { t => tracer.on = t; sample(n, pass) }
        }
      }
      pass += 1
    }
    tracer.on = tracer.enabled
    rec.add("timed", "s" -> (Clock.nowUs - timedStart) / 1e6, "warm_s" -> (Clock.nowUs - warmStart) / 1e6)
    rec.add("heap", "mb" -> Main.retainedHeapMb())

    // untimed: every result as Parquet, and the oracle SQL, for the check
    tracer.on = false
    val oracle = SparkEntry.oracleSql
    names.foreach { n =>
      try registry(n)(spark, sf).write.mode("overwrite").parquet(s"${p.out}/results/$n")
      catch { case NonFatal(e) => System.err.println(s"result of $n not written: $e") }
      rec.add("oracle", "q" -> n, "sql" -> oracle.get(n).orNull)
    }
    Main.repeatSetUp(rec)(_ => setUp())
  }
}
