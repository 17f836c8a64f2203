package org.apache.spark

/** The listener bus drain is package-private to Spark; the tracer
  * needs it to read its counters only after every event has arrived.
  */
object ChainbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
