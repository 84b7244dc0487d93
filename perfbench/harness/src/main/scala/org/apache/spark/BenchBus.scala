package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners hold the counts of every job that has ended.
  * The bus is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
