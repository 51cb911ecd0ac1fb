package org.apache.spark

/** Lets specs wait until every listener has seen the events posted so
  * far; the listener bus's drain call is private to the spark package.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
