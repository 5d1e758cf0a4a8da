package org.apache.spark

/** Access to the one Spark-internal call the benchmark needs: waiting
  * until the listener bus has delivered every posted event, so a traced
  * run's job and plan counts are complete when they are written out. */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
