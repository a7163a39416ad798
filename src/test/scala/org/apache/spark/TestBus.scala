package org.apache.spark

/** The listener bus delivers job events asynchronously; specs that count
  * jobs wait for it to drain first. The bus is `private[spark]`, hence this
  * one-line bridge in Spark's package. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
