package org.apache.spark

/** The one private-API use of the benchmark: wait until the listener bus has
  * delivered every event posted so far, so the traced run can attribute each
  * SQL execution and task to the item that was running when it happened. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
