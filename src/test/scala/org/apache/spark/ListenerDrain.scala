package org.apache.spark

/** Test access to the one package-private call a job-counting spec
  * needs: block until the listener bus has delivered every queued
  * event, so a listener's counts are complete when they are read.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
