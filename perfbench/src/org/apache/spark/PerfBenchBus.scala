package org.apache.spark

/** The listener bus is private to Spark; the traced benchmark run needs to
  * wait until every event of a finished request has been delivered before
  * it attributes jobs, stages and Catalyst phases to that request.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
