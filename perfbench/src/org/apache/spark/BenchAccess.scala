package org.apache.spark

/** The one package-private Spark call the benchmark's tracer needs. */
object BenchAccess {
  /** Block until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
