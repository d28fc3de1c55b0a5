package org.apache.spark

/** The one package-private Spark call the specs need: block until every
  * event already posted to the listener bus has been delivered, so a
  * listener's job count covers every job the probed code started. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
