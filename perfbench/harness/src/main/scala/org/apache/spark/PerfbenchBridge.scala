package org.apache.spark

/** The one package-private hook the harness needs: wait until every event
  * already posted to the listener bus has been delivered, so the job, stage
  * and query-execution events of a phase are folded in before the next phase
  * starts. Used only by traced passes. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
