package org.apache.spark

/** Lets the traced run wait until every listener event posted so far has
  * been delivered, so an operation's jobs, stages and query executions are
  * all recorded before the next operation starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
