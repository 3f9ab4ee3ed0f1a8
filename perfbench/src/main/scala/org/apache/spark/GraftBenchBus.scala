package org.apache.spark

/** The benchmark's one reach into Spark internals: waiting for the
  * listener bus to deliver every event posted so far, so that the trace
  * of a finished action is complete before it is read.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
