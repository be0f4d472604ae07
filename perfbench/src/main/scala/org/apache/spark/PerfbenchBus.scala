package org.apache.spark

/** Waits until every posted listener event has been delivered, so counts
  * read right after an action include that action's jobs, stages and tasks.
  * The listener bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
