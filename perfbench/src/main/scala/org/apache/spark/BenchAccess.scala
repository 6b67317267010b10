package org.apache.spark

/** The one package-private hook the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so a traced
  * run's job/stage/task counts are complete before they are read. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
