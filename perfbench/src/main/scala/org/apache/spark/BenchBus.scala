package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain before attributing jobs to spans. The bus is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
