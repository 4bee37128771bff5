package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * queued listener event has been delivered, so a span's job, task and
  * shuffle counts are complete before they are read.
  */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
