package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced operation's jobs, stages and tasks are all recorded before it
  * is closed. The bus is internal to Spark, hence this package. */
object CatbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
