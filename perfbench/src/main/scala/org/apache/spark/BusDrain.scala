package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so that a traced op's events are all attributed before the next op
  * starts. The bus is package-private, hence this shim's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
