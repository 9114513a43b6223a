package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark-internal reads the benchmark needs, kept in Spark's
  * package so they compile against `private[spark]` members.
  */
object SparkInternals {

  /** Block until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (compilations, estimated total compile ms) of whole-stage codegen so
    * far. The histogram keeps a sample, not a sum, so the total is
    * count × sample mean; it is exact while fewer compilations ran than
    * the reservoir holds.
    */
  def codegenCompile(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    (n, if (n == 0) 0.0 else n * h.getSnapshot.getMean)
  }
}
