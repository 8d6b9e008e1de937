package org.apache.spark

/** Waits until every listener event posted so far has reached every
  * listener: Spark delivers them asynchronously, and the bus that
  * could say so is package-private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
