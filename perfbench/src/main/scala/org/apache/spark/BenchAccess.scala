package org.apache.spark

/** The one package-private Spark call the benchmark needs: waiting
  * until the listener bus has delivered every posted event, so task
  * counters read after an operation are complete.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
