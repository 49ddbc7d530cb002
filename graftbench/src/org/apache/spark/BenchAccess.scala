package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every
  * queued listener event has been delivered, so span counters are
  * complete before they are read.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
