package org.apache.spark

/** The listener bus is asynchronous; the harness drains it at query
  * boundaries so that events without a timestamp (block updates) are
  * charged to the query that caused them. `waitUntilEmpty` is
  * package-private, hence this accessor. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
