package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The bench harness's one Spark-internal touchpoint: task-metric events
  * reach a `SparkListener` ASYNCHRONOUSLY through the LiveListenerBus, so a
  * per-query bytes snapshot taken right after an action can miss the tail
  * of its own events. `LiveListenerBus.waitUntilEmpty` is the precise
  * "every posted event has been delivered" barrier (the same one Spark's
  * own test suites use between action and assertion), but the
  * `SparkContext.listenerBus` accessor is `private[spark]` — hence this
  * tiny subpackage shim instead of a poll-until-stable heuristic in
  * the listener (deterministic, and it cannot under-wait).
  *
  * Used ONLY by the measurement code ([[graft.metrics.MetricsListener]]
  * and the benchmark's trace); no operator or query code depends on Spark
  * internals. */
object BusDrain {

  /** Block until every event posted so far is delivered (or `timeoutMs`).
    * A timeout degrades to a possibly-stale snapshot, never an error —
    * measurement must not fail the run it measures. */
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
