package org.apache.spark

/** The listener bus is Spark-private; the benchmark needs to wait for
  * it before reading counters, so this one call lives in Spark's
  * package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
