package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Reaches two `private[spark]` members the harness reads. */
object ListenerBusShim {
  /** Waits until the listener bus has delivered every event, so per-span
    * task counts are complete when the tracer reads them.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage codegen compilations so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
