package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has been
  * delivered, so per-op counts are complete before they are read. The
  * listener bus is private to the `org.apache.spark` package. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
