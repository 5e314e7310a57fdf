package org.apache.spark

/** Drains the Spark listener bus, so the counters a traced op's listeners
  * collect are complete before the next op starts. The bus is internal to
  * Spark, hence this one file in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
