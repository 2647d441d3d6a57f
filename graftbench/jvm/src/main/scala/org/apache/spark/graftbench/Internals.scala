package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two `private[spark]` hooks the benchmark reads from outside the
  * program: draining the listener bus before reading what a listener saw,
  * and the codegen compile-time histogram. */
object Internals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (compiles so far, estimated compile ms so far). The histogram keeps a
    * sample, not a sum, so the time is count x sample mean. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
