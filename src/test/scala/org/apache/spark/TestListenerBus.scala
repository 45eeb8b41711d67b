package org.apache.spark

/** Test access to the listener bus, which is private to Spark. */
object TestListenerBus {

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
