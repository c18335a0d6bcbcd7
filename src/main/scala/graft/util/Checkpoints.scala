package graft.util

import org.apache.spark.sql.SparkSession

/** Release of the persistent RDDs a computation created.
  *
  * Loop operators truncate lineage with a localCheckpoint per level; when
  * the final result is a DRIVER value (a collected path, a one-row count),
  * every block those checkpoints pinned is dead the moment the value is on
  * the driver — but Spark's ContextCleaner frees blocks only via weak
  * references, so on a large heap they can survive for dozens of queries
  * (the r5 x21 finding). Such a computation releases exactly the RDDs it
  * made, by the ids read off its own checkpoints ([[idsOf]]), so hosts
  * that run queries without a Bench-style getPersistentRDDs sweep do not
  * leak blocks per invocation, and never frees what a concurrent session
  * persists meanwhile.
  */
object Checkpoints {

  /** Snapshot-diff capture of the persistent RDDs one localCheckpoint
    * registers: the checkpointed frame plus a release handle for exactly
    * the blocks the call created. The single helper behind every loop
    * operator's per-round lineage cut (the temporal sweeps, brandesCore,
    * the community family) — previously copy-pasted per operator.
    */
  def tracked(df: org.apache.spark.sql.DataFrame, eager: Boolean)
      : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint(eager)
    val mine = sc.getPersistentRDDs.keySet -- before
    (out, () => mine.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))))
  }

  /** The persistent RDD ids backing a checkpointed Dataset — the
    * LogicalRDD leaves of its analyzed plan. EXACT attribution: unlike a
    * getPersistentRDDs before/after diff, ids read off the Dataset itself
    * can never pick up a concurrent session's persists (the r11 ADVICE
    * transaction footgun on a shared SparkContext).
    */
  def idsOf(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet

  /** Unpersist the given RDD ids (non-blocking — the blocks are dead, the
    * caller does not need to wait for their removal).
    */
  def release(spark: SparkSession, ids: scala.collection.Set[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }
}
