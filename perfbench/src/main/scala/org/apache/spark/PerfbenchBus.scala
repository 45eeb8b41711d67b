package org.apache.spark

/** Listener events are delivered asynchronously; the traced run reads its
  * listener only after every event of a pass has been delivered. The bus is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
