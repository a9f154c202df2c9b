package org.apache.spark

/** Reaches the driver's listener bus, which Spark keeps package-private,
  * so a traced run can wait until every event has been delivered before it
  * reads its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
