package org.apache.spark

/** The one Spark-internal call the harness needs: wait until every
  * posted listener event has been delivered, so a pass's spans are
  * complete before they are read. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
