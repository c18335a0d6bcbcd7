package graft.util

import scala.collection.mutable

import org.apache.spark.NarrowDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage cuts and the blocks they pin.
  *
  * Loop operators truncate lineage with a local checkpoint per round. Each
  * such cut persists an RDD that Spark's ContextCleaner frees only through
  * weak references, so on a large heap a dead cut can survive for dozens of
  * queries (the r5 x21 finding). Every cut is therefore made inside one
  * [[owned]] scope, which knows the ids of exactly the blocks it made — read
  * off each cut as it is made ([[idsOf]]), never diffed from the context's
  * persisted set, which would also free what another session on the same
  * SparkContext persists meanwhile.
  */
object Checkpoints {

  /** The cuts one [[owned]] scope has made and not yet released or handed
    * on. `cuts(df)` cuts, `drop` frees, `keep` hands to the caller.
    */
  final class Cuts private[Checkpoints] (spark: SparkSession) {
    private val own = mutable.Set.empty[Int]
    private val kept = mutable.Set.empty[Int]

    /** `df` with its lineage cut: a local checkpoint, lazy unless `eager`,
      * whose blocks this scope owns. The one place graft checkpoints.
      */
    def apply(df: DataFrame, eager: Boolean = false): DataFrame = {
      val cut = df.localCheckpoint(eager)
      own ++= idsOf(cut)
      cut
    }

    /** Frees the cuts `df` reads that this scope owns. */
    def drop(df: DataFrame): Unit = {
      val ids = reads(df)
      own --= ids
      release(spark, ids)
    }

    /** `df`, whose cuts this scope now hands to its caller: they outlive
      * a normal exit (an enclosing scope takes them over), and are freed
      * only if the scope throws.
      */
    def keep(df: DataFrame): DataFrame = {
      val ids = reads(df)
      own --= ids
      kept ++= ids
      df
    }

    /** Hands every cut this scope still owns to its caller, for operators
      * whose lazy result reads a chain of cuts, not only the cuts its plan
      * names.
      */
    def keepAll(): Unit = {
      kept ++= own
      own.clear()
    }

    /** The owned cuts behind `df`'s LogicalRDD leaves. A frame rebuilt
      * from a cut's RDD (`createDataFrame(cut.rdd, ...)`) names a wrapper
      * RDD, so the walk follows narrow dependencies down to the cut.
      */
    private def reads(df: DataFrame): Set[Int] = {
      val seen = mutable.Set.empty[Int]
      def down(r: RDD[_]): Iterator[Int] =
        if (!seen.add(r.id)) Iterator.empty
        else if (own(r.id)) Iterator(r.id)
        else r.dependencies.iterator.collect { case d: NarrowDependency[_] => d.rdd }
          .flatMap(down)
      leaves(df).iterator.flatMap(down).toSet
    }

    private[Checkpoints] def close(normal: Boolean, parent: Option[Cuts]): Unit =
      if (normal) {
        release(spark, own)
        parent.foreach(_.own ++= kept)
      } else release(spark, own ++ kept)
  }

  private val current = new ThreadLocal[Cuts]

  /** Runs `body` with a fresh [[Cuts]] scope. On a normal exit it frees
    * every cut it still owns and hands the kept ones on — to the scope
    * this one runs inside on the same thread, if any, else to the caller.
    * On a throw it frees all of them, kept ones too: a rejected call pins
    * no blocks.
    */
  def owned[T](spark: SparkSession)(body: Cuts => T): T = {
    val parent = Option(current.get)
    val cuts = new Cuts(spark)
    current.set(cuts)
    var normal = false
    try {
      val out = body(cuts)
      normal = true
      out
    } finally {
      current.set(parent.orNull)
      cuts.close(normal, parent)
    }
  }

  private def leaves(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** The persistent RDD ids backing a checkpointed Dataset — the
    * LogicalRDD leaves of its analyzed plan. Read off the Dataset itself,
    * so they can never pick up a concurrent session's persists.
    */
  def idsOf(df: DataFrame): Set[Int] = leaves(df).map(_.id).toSet

  /** Unpersist the given RDD ids (non-blocking — the blocks are dead, the
    * caller does not need to wait for their removal).
    */
  def release(spark: SparkSession, ids: scala.collection.Set[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }
}
