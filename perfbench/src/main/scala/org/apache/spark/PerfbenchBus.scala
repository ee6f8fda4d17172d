package org.apache.spark

/** Drains Spark's listener bus, so every listener event of a phase is
  * delivered before the benchmark closes that phase. The bus is
  * package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
