package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen an op's jobs, stages, tasks and query
  * executions before the next op starts (the bus is asynchronous and its
  * drain hook is package-private). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
