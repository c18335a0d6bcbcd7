package org.apache.spark

/** Drains Spark's listener bus so every event posted so far (job starts
  * and ends included) has reached its listeners before a spec reads a
  * counter. `listenerBus` is private[spark]; the graft sources reach
  * package-private APIs the same way (org.apache.spark.sql.GraftColumnBridge).
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
