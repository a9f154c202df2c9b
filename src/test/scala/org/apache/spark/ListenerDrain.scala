package org.apache.spark

/** Reaches the driver's listener bus, which Spark keeps package-private,
  * so a spec can wait until every event of a finished action has been
  * delivered before it reads its listener's counts.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
