package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until the
  * listener bus has delivered every queued event, so that a traced pass's
  * counters are complete before its listener is removed, and so that queued
  * events do not count as retained heap. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
