package org.apache.spark

/** Spark keeps its listener bus package-private; the traced benchmark run
  * must drain it before reading what its listeners recorded.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
