package org.apache.spark

/** The one package-private hook the harness needs: block until every
  * queued listener event has been delivered, so counters keyed by job
  * group are complete before they are read (outside any timed span). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
