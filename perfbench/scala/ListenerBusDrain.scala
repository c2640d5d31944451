package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far. The bus is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
