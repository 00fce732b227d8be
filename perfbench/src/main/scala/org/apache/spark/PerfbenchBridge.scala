package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can wait for every event of an operation before it reads
  * its counts. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
