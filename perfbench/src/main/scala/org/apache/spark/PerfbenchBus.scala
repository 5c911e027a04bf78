package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * queued listener event has been delivered, so counters read at a pass
  * boundary include all of that pass's jobs, tasks and query executions. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
