package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus to
  * deliver every posted event before it reads its listener's counts
  * (the bus is private to the `org.apache.spark` package). */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
