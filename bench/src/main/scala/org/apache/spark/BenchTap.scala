package org.apache.spark

/** The one Spark-internal hook the benchmark needs: listener events are
  * delivered asynchronously, so counts read right after an action can miss
  * its last jobs and tasks unless the bus is drained first.
  */
object BenchTap {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
