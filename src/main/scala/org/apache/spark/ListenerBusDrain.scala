package org.apache.spark

/** Blocks until every event posted so far has reached every SparkListener.
  * Task-end events arrive asynchronously, so [[graft.RunLedger]] reads its
  * rows only after the bus is empty. Lives in Spark's package because the
  * bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
