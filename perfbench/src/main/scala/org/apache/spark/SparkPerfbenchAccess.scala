package org.apache.spark

/** The listener bus's drain call is package-private to Spark. The traced
  * run needs it so that every task-end event of the timed window is
  * counted before the counters are read.
  */
object SparkPerfbenchAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
