package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.util.control.NonFatal

/** Shared local SparkSession for specs — one session per JVM (suites run
  * forked in a single JVM; getOrCreate dedupes).
  *
  * afterAll drains in-flight Spark jobs before the suite hands back to the
  * runner: AQE stage materialization and broadcast builds run on async
  * thread pools, so an action can return while a follow-up job is still
  * launching tasks. If the LAST suite ends in that window, the JVM begins
  * shutdown, Spark's shutdown hook stops the SparkContext, and the straggler
  * task is rejected from the Terminated executor pool — the exact
  * "Task ... rejected from ThreadPoolExecutor[Terminated]" race that made
  * the round-12 driver test run exit non-zero after the q_deepwalk
  * plan-shape spec. Draining at every suite boundary closes the window. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Run `body` on the RocksDB state store (transformWithState needs its
    * column families), restoring the previous provider afterwards. */
  def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  override protected def afterAll(): Unit = {
    SparkSpec.drainActiveJobs()
    super.afterAll()
  }
}

object SparkSpec {
  /** Block (bounded) until no Spark job is active on the shared context.
    * Cheap when nothing is in flight (single statusTracker call); bounded
    * at 60 s so a genuinely hung job can never deadlock the test runner.
    * A no-op when no session was ever created: it never starts one. */
  def drainActiveJobs(): Unit = {
    try SparkSession.getDefaultSession.map(_.sparkContext)
      .filterNot(_.isStopped).foreach { sc =>
        val tracker = sc.statusTracker
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (tracker.getActiveJobIds().nonEmpty &&
               System.nanoTime() < deadline)
          Thread.sleep(25)
      }
    catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case NonFatal(_) => ()
    }
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
