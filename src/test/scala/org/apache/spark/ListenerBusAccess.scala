package org.apache.spark

/** Test access to the engine's listener bus: wait until every posted
  * event (job ends, query-execution callbacks) has been delivered.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
