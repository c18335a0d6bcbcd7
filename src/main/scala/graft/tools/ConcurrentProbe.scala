package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._

import graft.model.Graphid

/** Concurrent-session throughput probe — the Spark-side counterpart of the
  * reference's tools/concurrent_bench.rs:14-60 (N threads hammering
  * point-gets on a 10k-vertex store for a fixed duration, reporting ops/s
  * and latency percentiles). BASELINE.md's whole second table is this
  * workload; this probe produces the comparable numbers.
  *
  * Framing (documented beside the numbers in README.md): per-operation
  * latency on Spark is scheduler-bound — every query is a distributed job
  * with ~milliseconds of driver overhead, vs the reference's in-process
  * RocksDB read at ~1 µs. That latency class is a non-goal for an
  * analytics engine; what Spark buys instead is per-QUERY throughput
  * (millions of rows/s per scan) and batched lookups. The probe therefore
  * measures three things:
  *   - `read`: random single point-get per op (the reference's workload,
  *     worst case for Spark — quantifies the OLTP gap honestly)
  *   - `hop`:  random 1-hop expansion per op (same, with a join)
  *   - `batched`: ONE query resolving 10k random point-gets via an id
  *     join — the Spark-native way to serve a point-get burst
  * Threads each get their own FAIR-scheduler pool so concurrent jobs share
  * the cluster instead of queueing FIFO.
  *
  * Prints one JSON line per (workload, threads) and a summary line.
  */
object ConcurrentProbe {

  private def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))

  def main(args: Array[String]): Unit = {
    val seconds = sys.env.getOrElse("SPARK_GRAFT_PROBE_SECONDS", "5").toInt
    val nVerts = 10000
    val spark = graft.Session.builder()
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 10k-vertex store like the reference's init (concurrent_bench.rs
    // initialize_database): Node vertices + a ring of edges for the hop
    // workload; cached so ops measure lookup cost, not parquet IO
    val verts = spark.range(1, nVerts + 1)
      .select(Graphid.packCol(1, col("id")).as("id"),
        concat(lit("Vertex"), col("id")).as("name"), (col("id") * 2).as("value"))
      .repartition(8).localCheckpoint()
    val edges = spark.range(1, nVerts + 1)
      .select(Graphid.packCol(1, col("id")).as("src"),
        Graphid.packCol(1, col("id") % nVerts + 1).as("dst"))
      .repartition(8).localCheckpoint()

    // collect() not count(): one stage over the 8 cached partitions, no
    // aggregation exchange — the lowest-latency shape a Spark lookup has
    def pointGet(id: Long): Long = verts.where(col("id") === id).collect().length.toLong
    def oneHop(id: Long): Long =
      edges.where(col("src") === id).join(verts, edges("dst") === verts("id"))
        .collect().length.toLong

    def runWorkload(name: String, threads: Int, op: Long => Long): Unit = {
      val ops = new AtomicLong(0)
      val fails = new AtomicLong(0)
      val lats = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val deadline = System.nanoTime() + seconds * 1000000000L
      val workers = (0 until threads).map { tid =>
        new Thread(() => {
          // per-thread pool: FAIR across pools, so N threads share executors
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"probe$tid")
          val rng = new scala.util.Random(42 + tid)
          while (System.nanoTime() < deadline) {
            val id = Graphid.pack(1, rng.nextInt(nVerts) + 1L)
            val t0 = System.nanoTime()
            try {
              if (op(id) > 0) { ops.incrementAndGet(); lats.add((System.nanoTime() - t0) / 1e6) }
              else fails.incrementAndGet()
            } catch { case _: Throwable => fails.incrementAndGet() }
          }
        })
      }
      val t0 = System.nanoTime()
      workers.foreach(_.start()); workers.foreach(_.join())
      val elapsed = (System.nanoTime() - t0) / 1e9
      val sorted = lats.toArray(Array.empty[java.lang.Double]).map(_.toDouble).sorted
      val out = Map(
        "workload" -> s""""$name"""", "threads" -> threads,
        "duration_sec" -> f"$elapsed%.1f", "ops" -> ops.get(), "failed" -> fails.get(),
        "ops_per_sec" -> f"${ops.get() / elapsed}%.1f",
        "p50_ms" -> f"${pct(sorted, 0.50)}%.2f", "p95_ms" -> f"${pct(sorted, 0.95)}%.2f",
        "p99_ms" -> f"${pct(sorted, 0.99)}%.2f")
      println(out.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    }

    // batched point-get: ONE query resolving nVerts random lookups — the
    // Spark idiom for a point-read burst (broadcast the probe ids)
    def runBatched(): Unit = {
      val rng = new scala.util.Random(42)
      val probes = Seq.fill(nVerts)(Graphid.pack(1, rng.nextInt(nVerts) + 1L))
        .toDF("id").distinct()
      val t0 = System.nanoTime()
      val n = verts.join(broadcast(probes), "id").count()
      val elapsed = (System.nanoTime() - t0) / 1e9
      println(s"""{"workload":"batched","threads":1,"lookups":$n,""" +
        f""""duration_sec":$elapsed%.3f,"ops_per_sec":${n / elapsed}%.1f}""")
    }

    // warm codegen/scheduler before measuring
    pointGet(Graphid.pack(1, 1L)); oneHop(Graphid.pack(1, 1L)); runBatched()
    Seq(1, 4, 8, 16).foreach(t => runWorkload("read", t, pointGet))
    Seq(4).foreach(t => runWorkload("hop", t, oneHop))
    runBatched()
    spark.stop()
  }
}
