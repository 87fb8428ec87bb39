package org.apache.spark

/** The one engine-internal call the benchmark needs: waiting until the
  * listener bus has delivered every event, so a run's job and stage
  * records are complete before they are summed.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
