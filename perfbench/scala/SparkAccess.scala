package org.apache.spark

/** The listener bus is delivered asynchronously; a span's task metrics are
  * complete only after every event posted before the span ended has been
  * handled. `waitUntilEmpty` is package-private, hence this shim.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
