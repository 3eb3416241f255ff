package org.apache.spark

/** Access to the context's listener bus, which is `private[spark]`. */
object GraftBenchBus {

  /** Block until every event posted so far reached every listener
    * (QueryExecutionListener callbacks ride the same bus). */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
