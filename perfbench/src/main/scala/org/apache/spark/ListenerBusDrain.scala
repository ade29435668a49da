package org.apache.spark

/** Waits until every posted listener event has been delivered. The listener
  * bus is asynchronous and its drain hook is package-private, so the traced
  * benchmark run reaches it from inside the `org.apache.spark` package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
