package org.apache.spark

/** The listener bus is private to Spark; the benchmark lives in this
  * package only to wait until every queued event has reached its listener
  * before it reads the recorded stages. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
