package org.apache.spark

/** The one engine-internal call the benchmark needs: block until every
  * listener event posted so far has been delivered, so per-call totals
  * are read after the last task of the last call has been counted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
