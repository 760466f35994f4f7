package graft

import org.apache.spark.sql.SparkSession

/** Executor-CPU meter for the mains that own their session (Bench,
  * ScaleProbe): one task-end listener accumulates CPU, and `time`
  * returns (result, wall s, CPU s) for `body` run against a cleared
  * cache. The listener bus is async, so each CPU read waits a beat
  * outside the wall timer for the tail of events to drain.
  */
private[graft] final class CpuMeter(spark: SparkSession) {
  private val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
  spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
  })
  def time[T](body: => T): (T, Double, Double) = {
    spark.catalog.clearCache()
    Thread.sleep(30)
    val cpu0 = cpuNs.get()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(30)
    (r, wall, (cpuNs.get() - cpu0) / 1e9)
  }
}
