package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's own listener has seen the last job before results are
  * written. The bus is package-private to Spark, hence the package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
