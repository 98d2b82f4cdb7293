package org.apache.spark

/** Drains the listener bus so a trace read after the last operation sees
  * every job, stage and task event that operation produced. The bus is
  * package-private to Spark, hence this bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
