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

  /** The setting under which every keyed index stays a persisted RDD,
    * however small: a lookup is then a Spark job.
    */
  val persistedIndexes: (String, String) = "spark.sql.autoBroadcastJoinThreshold" -> "-1"

  /** `body`'s result, run with the session conf `settings` set. Each key
    * then gets back the value it had, and a key that had none is unset:
    * `unset` alone resets a key to Spark's default, not to the profile's
    * value, and would leave every later spec in the JVM on it.
    */
  def withConf[A](settings: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val before = settings.map { case (k, _) => k -> conf.getAll.get(k) }.toMap
    settings.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

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
