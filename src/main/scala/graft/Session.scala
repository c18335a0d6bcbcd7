package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one engine session profile. Bench, Verify, the tools and every spec
  * start their SparkSession here, so the bench measures, the oracle
  * certifies and the specs test the same engine.
  *
  * Two deployment settings come from the environment:
  *   - `SPARK_GRAFT_CPUS`: local worker threads, also the shuffle
  *     partition count (default 32);
  *   - `SPARK_GRAFT_LOCAL_DIR`: Spark's scratch directory (default
  *     `/dev/shm/spark-local`).
  * Every other setting is a fixed part of the engine.
  */
object Session {

  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(32)

  /** The profile on `local[threads]`, not yet created: a caller may add a
    * setting of its own (ConcurrentProbe's FAIR scheduler) before
    * `getOrCreate`.
    */
  def builder(threads: Int = cpus): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$threads]")
    // deployment setting, not engine design: on the bench host /tmp sits
    // on a virtio disk with bursty write latency (vmstat shows 250 MB/s
    // flushes stalling shuffle writes); tmpfs takes the disk out of the
    // measurement. A real cluster points spark.local.dir at NVMe.
    .config("spark.local.dir",
      sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
    .config("spark.sql.shuffle.partitions", threads.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // events.ts is TIMESTAMP(NANOS) parquet; Tables.load converts the long
    // back to a micros timestamp
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    // r19 §2/§5 finding: Spark 4.1's ChecksumCheckpointFileManager gates
    // every streaming state-store delta/commit finalize on a checksum-
    // sidecar write awaited through a shared pool — jstack sampling of
    // x29 showed 78% of task samples parked in its awaitResult (a fixed
    // ~3 s per task per micro-batch, data-independent). The gates use
    // ephemeral per-query temp checkpoints deleted at gate end, where
    // corruption detection protects nothing; with it off x29 runs 18→10.5 s,
    // x28 8.2→6.6 s (medians of 3).
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // r19 §1/§7 finding: with the codegen stage id in the generated
    // CLASS NAME (the default), every iteration of an iterative
    // DataFrame algorithm produces byte-distinct sources for the same
    // logical stage, so the Janino cache can never hit — the 10 heaviest
    // gates compiled 1276 generated classes (20+ s of pure Janino) where
    // 819 sufficed with the id off, and the iterative family's paired
    // minima drop 10-40% (g47 35.1→20.2, g30 16.0→10.8, cy50 20.2→14.1).
    // The id exists only to make stack traces name their stage; plans,
    // results, and stage boundaries are untouched.
    .config("spark.sql.codegen.useIdInClassName", "false")
    // r20 §1/§7 finding: the Janino class cache holds 100 entries
    // (spark.sql.codegen.cache.maxEntries default), but one
    // g47_louvain_levels run alone generates ~180 distinct whole-stage
    // bodies and a six-gate iterative session 395 — the LRU cycles and
    // 42% of all compiles (680 vs 395 measured at INFO on the
    // CodeGenerator logger) are eviction-driven RE-compiles of
    // already-seen bodies, 12-21 s of cumulative Janino time per
    // session. The cache is keyed on the comment-stripped source, so a
    // bigger cache changes no plan, no result, only how often identical
    // code is recompiled. At cluster scale every EXECUTOR JVM carries
    // the same 100-entry cache and pays the same recompiles per task
    // wave. 4096 bounds the retained classes to a few hundred MB of
    // metaspace at worst. A static setting: it holds only for the
    // session that creates the SparkContext.
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .config("spark.ui.enabled", "false")

  def apply(threads: Int = cpus): SparkSession = {
    val spark = builder(threads).getOrCreate()
    // Releasing a lineage cut (Checkpoints.release) unpersists a locally
    // checkpointed MapPartitionsRDD, and RDD.unpersist warns about every
    // such RDD under the subclass's logger: hundreds of expected lines per
    // Verify run, printed on stderr among real errors. Only that logger is
    // raised, after the context configured logging.
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }

  /** Per-gate cleanup between independent queries, outside any timer.
    * Unpersists every persisted RDD, blocking, so the next gate starts
    * from a clean BlockManager instead of racing an async removal. Then
    * one explicit GC: Spark's ContextCleaner reclaims shuffle files and
    * broadcasts only through weak references, so with a large heap GC may
    * not run for dozens of gates, and the accumulated state slows later
    * (GraphX-heavy) gates several-fold.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }
}
