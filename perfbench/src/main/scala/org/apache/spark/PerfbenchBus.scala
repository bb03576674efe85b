package org.apache.spark

/** Listener events are delivered asynchronously; the harness reads its
  * listeners' totals only after every event posted so far has been handled.
  * The bus is package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
