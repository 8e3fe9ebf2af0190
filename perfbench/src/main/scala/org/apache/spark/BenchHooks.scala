package org.apache.spark

/** The one Spark-internal the benchmark needs: listener events are
  * delivered asynchronously, so the traced run waits for the bus to
  * drain before it reads the folded metrics.
  */
object BenchHooks {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
