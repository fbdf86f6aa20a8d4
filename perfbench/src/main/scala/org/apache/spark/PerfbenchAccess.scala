package org.apache.spark

/** The one private Spark call the benchmark needs: wait until every
  * queued listener event has been delivered, so the traced run's
  * counts are complete before it reports them. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
