package org.apache.spark

/** Waits until every listener has seen every event posted so far, so the
  * benchmark can attribute listener events to the query that caused them.
  * `listenerBus` is `private[spark]`, hence the package; Spark's own test
  * suites drain the bus the same way.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
