package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Spark delivers listener events on a background thread and exposes the
  * wait only inside its own package, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
