package org.apache.spark

/** The one Spark-internal hook the tests need: wait until every listener
  * event posted so far has been delivered, so a count a listener keeps is
  * complete once the action that posted the events has returned. */
object GraftTestAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
