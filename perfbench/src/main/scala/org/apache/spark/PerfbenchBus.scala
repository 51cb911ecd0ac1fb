package org.apache.spark

/** Lets the benchmark wait for its listener to see every event posted so
  * far; the listener bus's drain call is private to the spark package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
