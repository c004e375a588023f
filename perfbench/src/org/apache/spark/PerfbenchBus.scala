package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's listeners have seen a pass's last task before it reads
  * their counters. (The bus is package-private; this is the only reason
  * the file lives in Spark's package.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
