package org.apache.spark

/** Listener events are delivered asynchronously; specs that assert on what a
  * listener saw first wait until every event posted so far was handled. The
  * bus is package-private to Spark, hence this file's package.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
