package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until
  * every event already posted to the listener bus has been delivered,
  * so an op's span closes only after its jobs, tasks and query-execution
  * callbacks have been recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
