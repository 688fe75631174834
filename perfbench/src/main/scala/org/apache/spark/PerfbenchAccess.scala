package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so per-span counts
  * read after an action include all of that action's task-end events. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
