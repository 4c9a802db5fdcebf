package org.apache.spark

/** Lives in Spark's package to reach the package-private listener bus of a
  * `SparkContext`; used by `graft.tools.QProf` to read its job counts. */
object GraftListenerBusShim {

  /** Blocks until every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
