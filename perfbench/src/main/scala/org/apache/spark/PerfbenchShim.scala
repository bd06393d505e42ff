package org.apache.spark

/** The one private Spark call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so counters read
  * after an op are complete. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
