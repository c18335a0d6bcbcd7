package org.apache.spark

/** Drains Spark's listener bus so every event posted so far (job, stage
  * and task ends, SQL execution ends) has reached its listeners before the
  * benchmark reads its counters. `listenerBus` is private[spark]; the
  * graft sources reach package-private APIs the same way
  * (org.apache.spark.sql.GraftColumnBridge).
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
