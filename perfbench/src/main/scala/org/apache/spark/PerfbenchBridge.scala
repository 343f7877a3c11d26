package org.apache.spark

/** The one package-private Spark call the harness needs: wait until
  * the listener bus has delivered every queued event, so job and
  * query-execution records are complete before they are read.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
