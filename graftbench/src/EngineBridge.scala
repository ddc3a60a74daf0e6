package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark internals the benchmark reads: draining the listener bus
  * (so counters are complete when a pass is summed) and the codegen
  * compile histogram. Both are `private[spark]`. */
object EngineBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (compiles so far, mean compile time in ms of the histogram's sample). */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
