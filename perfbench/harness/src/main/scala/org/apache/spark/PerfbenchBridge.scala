package org.apache.spark

/** The one package-private call the harness needs: block until the listener
  * bus has delivered every queued event, so task metrics are complete
  * before a pass is summed. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
