package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so counters read after a round include that round's events.
  * `listenerBus` is package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
