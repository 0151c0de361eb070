package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * trace can wait until every job event has been delivered.
  */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
