package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** The two Spark internals the harness reads: the storage pool's current
  * size and a way to wait until the listener bus has delivered every
  * event (so per-span aggregates are complete before they are written).
  */
object Bridge {
  def storageMemoryUsed: Long = {
    val env = SparkEnv.get
    if (env == null) 0L else env.memoryManager.storageMemoryUsed
  }

  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
