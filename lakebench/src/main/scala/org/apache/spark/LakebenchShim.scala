package org.apache.spark

/** Access to Spark's listener bus, which is package-private. */
object LakebenchShim {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
