package org.apache.spark.sql.perfbenchshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution

/** The two Spark internals the harness needs, reached from inside Spark's
  * package: draining the listener bus (so listener-fed counters are
  * complete before a sample is closed) and the local-property key under
  * which a micro-batch publishes its batch id to the jobs it runs. */
object Shim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  val batchIdKey: String = MicroBatchExecution.BATCH_ID_KEY
}
