package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a trace read after an operation holds all of that operation's jobs
  * and tasks. `waitUntilEmpty` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
