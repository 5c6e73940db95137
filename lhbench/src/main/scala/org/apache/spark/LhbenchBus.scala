package org.apache.spark

/** Blocks until every listener event posted so far has been delivered, so
  * the benchmark reads complete per-span Spark accounting. The listener bus
  * is private to Spark; this one accessor is why the file sits in Spark's
  * package.
  */
object LhbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
