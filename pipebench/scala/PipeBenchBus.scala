package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * that the traced run's listeners have seen all jobs, tasks and streaming
  * progress before their totals are read. The bus is private to Spark,
  * hence this object's package. */
object PipeBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
