package org.apache.spark

import com.codahale.metrics.Histogram

/** The two Spark internals the benchmark reads from outside the engine:
  * the listener bus (drained before counters are read) and the codegen
  * compile-time histogram. Both are `private[spark]`. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def codegenCompileTime: Histogram =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
}
