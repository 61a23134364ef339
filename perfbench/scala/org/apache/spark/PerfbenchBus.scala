package org.apache.spark

/** Accessor for the private[spark] listener bus: the traced run flushes
  * it at the end of each step so that every job, stage, task and
  * query-execution event of the step has reached the listeners before
  * the step's counters are read. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
