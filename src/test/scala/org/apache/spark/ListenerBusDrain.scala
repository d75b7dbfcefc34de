package org.apache.spark

/** The listener bus's drain call is package-private to Spark; tests that
  * count listener events drain it before reading them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
