package org.apache.spark

/** The one non-public hook the benchmark needs: wait until every listener
  * has processed the events posted so far. The benchmark drains after each
  * op (outside its timed window), so every job, stage, task and
  * query-execution event is attributed to the op that caused it. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
