package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** The spec session: the engine's one profile ([[Session]]) at a fixed
  * `local[4]`. All specs share it in one JVM, so whichever suite runs
  * first creates the same engine.
  */
trait SparkSuite {

  lazy val spark: SparkSession = Session(4)

  /** `body`'s result and the number of Spark jobs it started. The listener
    * bus is drained before the listener attaches, so no earlier job
    * counts, and again before it detaches, so every job of `body` does.
    */
  def jobsDuring[A](body: => A): (A, Int) = {
    val (result, jobs, _) = countsDuring(body)
    (result, jobs)
  }

  /** `body`'s result and the numbers of Spark jobs and tasks it started,
    * counted like [[jobsDuring]].
    */
  def countsDuring[A](body: => A): (A, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskStart(ts: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(listener)
    val result =
      try body
      finally {
        GraftTestBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    (result, jobs.get, tasks.get)
  }
}
