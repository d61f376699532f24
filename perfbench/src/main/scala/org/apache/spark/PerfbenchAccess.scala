package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until every
  * listener has seen every event posted so far, so that the jobs and
  * tasks of an operation are counted against that operation.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
