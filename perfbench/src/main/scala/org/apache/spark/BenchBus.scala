package org.apache.spark

/** Spark delivers listener events asynchronously; the benchmark reads its
  * listener's totals only after every event of a finished job has arrived.
  * `listenerBus` is package-private, hence this one-line bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
