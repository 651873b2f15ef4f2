package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event.
  * The bus is asynchronous, so a traced run drains it before it reads
  * what its listeners recorded; the method is package-private to Spark,
  * hence this one-line bridge in Spark's package. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
