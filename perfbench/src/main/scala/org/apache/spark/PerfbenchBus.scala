package org.apache.spark

/** Lets the harness wait until every posted listener event has been
  * delivered, so per-op job and task records are complete before they are
  * read. `listenerBus` is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
