package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's tracer has seen all of a call's jobs, tasks and query
  * executions before the call's layer record is taken. The bus is
  * private to Spark, hence this accessor in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
