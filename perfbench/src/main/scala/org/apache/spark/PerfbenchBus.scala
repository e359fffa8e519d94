package org.apache.spark

/** Waits until every listener event posted so far has been delivered
  * (`listenerBus` is private[spark]), so stage/task/query totals read
  * right after an action are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
