package org.apache.spark

/** Drains the listener bus so every job, stage and task event of an op
  * has reached the benchmark's listener before its counters are read. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
