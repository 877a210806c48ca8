package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark's collectors read their maps only after every event posted so
  * far has been delivered, never after a fixed sleep. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
