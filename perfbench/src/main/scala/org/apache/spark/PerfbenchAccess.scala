package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until
  * every posted listener event has been delivered, so a traced run's
  * spans are complete before they are resolved.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
