// In the org.apache.spark package only to reach two private[spark] hooks
// the benchmark needs; it changes no engine behaviour.
package org.apache.spark

object PerfbenchBridge {
  /** Blocks until every posted listener event has been delivered, so the
    * job listener has seen the last job before its numbers are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression code generations compiled by this JVM. */
  def codegenCompiles: Long =
    metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
