package org.apache.spark

/** Blocks until every event posted so far has reached every SparkListener.
  * Task-end events arrive asynchronously; the benchmark reads its ledger
  * only after the bus is empty, so no task of a finished op is missed.
  * Lives in Spark's package because the bus is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
