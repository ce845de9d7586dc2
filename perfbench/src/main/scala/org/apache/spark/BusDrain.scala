package org.apache.spark

/** Blocks until every event posted so far has reached every listener, so a
  * traced run can bill a query's listener counters to that query before the
  * next one starts. The bus is package-private to Spark, hence this file's
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
