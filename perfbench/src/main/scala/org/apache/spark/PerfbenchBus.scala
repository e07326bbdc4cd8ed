package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read after a pass belong to that pass. The bus is Spark-private,
  * hence this one-method bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
