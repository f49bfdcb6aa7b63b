package org.apache.spark

/** Lets the benchmark wait until its listeners have seen every event
  * (the listener bus is package-private to Spark). */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
