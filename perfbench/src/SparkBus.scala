package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so stage metrics read after a call are complete. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
