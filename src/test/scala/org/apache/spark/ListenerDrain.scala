package org.apache.spark

/** Test access to the listener bus: block until every posted event has
  * reached its listeners, so a spec reads complete metrics after a job. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
