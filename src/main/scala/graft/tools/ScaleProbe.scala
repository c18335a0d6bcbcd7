package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** Empirical scaling probe (not part of the driver contract): replicates
  * the input K× with shifted ids and times an operator at each multiple.
  * Near-linear growth = the banded/pair-restricted/frontier design holds;
  * quadratic growth would flag a hidden all-pairs stage.
  *
  * `SPARK_GRAFT_PROBE=dedup|kcore|incdedup|nodesim|pagerank|vle` picks the
  * pipeline (default dedup, which replicates the MinHash-LSH near-dup path;
  * kcore, nodesim and pagerank replicate the TPC-H graph edge list —
  * replicas are disjoint components, so per-replica work is constant and
  * total work should grow linearly; incdedup grows the CORPUS side against
  * a fixed incoming batch, the amortized-streaming axis d10 cares about;
  * vle sweeps the path-enumeration DEPTH and FAN-OUT axes, whose cost is
  * inherently the number of paths enumerated — the probe verifies time
  * tracks output size and that the maxPaths cap bounds both).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_LOCAL_DIR matters here: the probe's top rungs shuffle
    // GBs, and without tmpfs the disk's stall distribution, not the
    // operator, dominates the measured growth curve
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_PROBE_JOBS=1: per-job wall times, for attributing a
    // superlinear rung to a specific stage of the operator under probe
    if (sys.env.get("SPARK_GRAFT_PROBE_JOBS").contains("1")) {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd}
      // boxed value type: with [Int, Long] args, get/remove auto-unbox a
      // missing entry's null to 0L before any null check can see it
      val starts = new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          starts.put(js.jobId, System.nanoTime())
        override def onJobEnd(je: SparkListenerJobEnd): Unit = {
          // null = start event missed; skip instead of printing a bogus
          // nanoTime-sized duration
          val t0 = starts.remove(Integer.valueOf(je.jobId))
          if (t0 != null)
            println(f"  job ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        }
      })
    }
    sys.env.getOrElse("SPARK_GRAFT_PROBE", "dedup") match {
      case "kcore"    => kcoreProbe(spark, sfDir)
      case "incdedup" => incDedupProbe(spark, sfDir)
      case "nodesim"  => nodeSimProbe(spark, sfDir)
      case "pagerank" => pageRankProbe(spark, sfDir)
      case "vle"      => vleProbe(spark, sfDir)
      case "lpa"      => lpaProbe(spark, sfDir)
      case "triangles" => trianglesProbe(spark, sfDir)
      case "stress"   => stressProbe(spark, sfDir)
      case "walks"    => walksProbe(spark, sfDir)
      case "ktruss"   => ktrussProbe(spark, sfDir)
      case "scc"      => sccProbe(spark, sfDir)
      case "cc"       => ccProbe(spark, sfDir)
      case "linkpred" => linkpredProbe(spark, sfDir)
      case "bidir"    => bidirProbe(spark, sfDir)
      case "wdist"    => wdistProbe(spark, sfDir)
      case "temporal" => temporalProbe(spark, sfDir)
      case "kmeans"   => kmeansProbe(spark, sfDir)
      case "mis"      => misProbe(spark, sfDir)
      case "fastest"  => fastestProbe(spark, sfDir)
      case "anf"      => anfProbe(spark, sfDir)
      case "anfrounds" => anfRoundsProbe(spark, sfDir)
      case "louvain"  => louvainProbe(spark, sfDir)
      case "louvainlevels" => louvainLevelsProbe(spark, sfDir)
      case "louvainweighted" => louvainWeightedProbe(spark, sfDir)
      case "skewjoin" => skewJoinProbe(spark)
      case "tstress" => temporalStressProbe(spark, sfDir)
      case "tpivotstress" => temporalPivotStressProbe(spark, sfDir)
      case "pivotstress" => pivotStressProbe(spark, sfDir)
      case "edgestress" => edgeStressProbe(spark, sfDir)
      case "fastestw" => fastestWeightedProbe(spark, sfDir)
      case "media"    => mediaProbe(spark)
      case "mst"      => mstProbe(spark)
      case "ivfadc"   => ivfadcProbe(spark)
      case _          => dedupProbe(spark, sfDir)
    }
    spark.stop()
  }

  /** Media-payload scale probe (r17, VERDICT #8): the m3/m7 gates price
    * their walks on ~100-byte crafted headers; this measures the
    * scan-speed claim on a PAYLOAD-SIZE axis — the same box/marker walks
    * over payloads whose body grows 1 → 4 → 16 MiB. The MP4 tree puts
    * moov LAST after the giant mdat (the layout real encoders emit), so
    * the top-level walk must SKIP the body by its size field; the JPEG
    * puts the filler after SOF, which the marker walk never reaches.
    * Payload materialization is checkpointed OFF the timer, so the
    * measured wall is parse cost only and should stay flat in payload
    * size. Raw stdout committed as tools/scaleprobe_media_r17.txt.
    */
  /** Borůvka scale probe (r18): the g56 gate prices the algorithm on a
    * FIXED 41-vertex domain, so this pins the claimed scale posture —
    * O(log V) hook-and-contract rounds — on a synthetic chord graph
    * growing 256 → 4096 vertices (groups of 8 with i→i+{1,2,3} chords
    * PLUS a group-linking chord per group so the component count starts
    * at V/8 and must contract through multiple rounds). Expected: wall
    * grows with ROUNDS (log-ish), never with V at these sizes — the
    * per-round cost is the job floor, the state |V|-bounded.
    */
  private def mstProbe(spark: SparkSession): Unit = {
    import graft.pipeline.TextHash
    val sizes = sys.env.get("SPARK_GRAFT_MST_SIZES")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(256, 1024, 4096))
    for (n <- sizes) {
      val vs = spark.range(1, n + 1).select(col("id").as("src"))
      val chords = vs
        .select(col("src"), explode(array(lit(1L), lit(2L), lit(3L))).as("d"))
        .withColumn("dst", col("src") + col("d"))
        .where(expr("((src - 1) div 8) = ((dst - 1) div 8)"))
      // one inter-group link per group keeps the whole graph ONE
      // component: contraction cannot stop at the group level
      val links = spark.range(0, n / 8 - 1)
        .select((col("id") * 8 + 8).as("src"), (col("id") * 8 + 9).as("dst"))
      val edges = chords.select(col("src"), col("dst"))
        .unionByName(links)
        .select(col("src"), col("dst"),
          (TextHash.h32(concat_ws("|", col("src"), col("dst"))) % 997 + 1)
            .as("w"))
        .localCheckpoint()
      edges.count()
      val t0 = System.nanoTime()
      val mst = graft.algorithms.GraphAlgorithms.boruvkaMst(edges)
      val got = mst.agg(count(lit(1)), sum(col("w"))).head()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"SCALE axis=mst n=$n edges_kept=${got.getLong(0)} " +
        f"total_w=${got.getLong(1)} wall=$secs%.3f s")
      require(got.getLong(0) == n - 1, s"MST of one component must keep V-1")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
  }

  /** IVFADC scale probe (r19): the e15/e16 gates price the operator on
    * the fixed 500/2000-row embeddings table; this pins the claimed
    * scale posture on a VECTOR-COUNT axis (2k → 8k → 32k synthetic
    * 64-dim vectors, deterministic h32 components in [-1, 1]).
    * Expected: construction wall grows ~linearly in N (the two
    * quantizers are iterations × one broadcast-literal argmin pass each
    * — never N², never a shuffle of raw vectors), and the +rerank run
    * adds a bounded increment (64 exact re-scores per probe regardless
    * of N — the list-confined search never touches more raw vectors).
    * A superlinear rung or a rerank increment growing with N is a
    * regression. Raw stdout committed as tools/scaleprobe_ivfadc_r19.txt.
    */
  private def ivfadcProbe(spark: SparkSession): Unit = {
    import graft.pipeline.{Clustering, TextHash}
    val sizes = sys.env.get("SPARK_GRAFT_IVFADC_SIZES")
      .map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(2000, 8000, 32000))
    for (n <- sizes) {
      val vecs = spark.range(0, n.toLong).select(col("id"),
          transform(sequence(lit(1), lit(64)), j =>
            (pmod(TextHash.h32(concat_ws("|", col("id"), j)), lit(2001L))
              .cast("double") - lit(1000.0)) / lit(1000.0)).as("embedding"))
        .localCheckpoint()
      vecs.count()
      for (rr <- Seq(0, 64)) {
        val t0 = System.nanoTime()
        val got = Clustering.ivfadcTopK(vecs, "id", "embedding",
            Seq(0L, 1L, 2L), 10, rerank = rr)
          .agg(count(lit(1)), min(col("rank")), max(col("rank"))).head()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"SCALE axis=ivfadc n=$n rerank=$rr rows=${got.getLong(0)} " +
          f"ranks=${got.getInt(1)}..${got.getInt(2)} wall=$secs%.3f s")
        require(got.getLong(0) == 30L, s"expected 3 probes x k=10 rows")
        val keep = graft.util.Checkpoints.idsOf(vecs)
        spark.sparkContext.getPersistentRDDs.values
          .filter(r => !keep.contains(r.id)).foreach(_.unpersist(true))
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
  }

  private def mediaProbe(spark: SparkSession): Unit = {
    import graft.pipeline.Multimodal
    val n = 64
    def sweep(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    for (mb <- Seq(1, 4, 16)) {
      val body = repeat(lit("ABCDEFGH"), mb * 131072).cast("binary")
      val tsv = (col("id") % 7 + 1) * 600
      val durv = col("id") % 90000 + 600
      val ftyp = unhex(lit("00000010" + "66747970" + "69736F6D"
        + "00000200"))
      val mdat = concat(
        unhex(lpad(hex((length(body) + 8).cast("long")), 8, "0")),
        lit("mdat").cast("binary"), body)
      val moov = concat(
        unhex(lit("0000002C" + "6D6F6F76" + "00000008" + "66726565"
          + "0000001C" + "6D766864" + "00000000" + "00000000" + "00000000")),
        unhex(lpad(hex(tsv.cast("long")), 8, "0")),
        unhex(lpad(hex(durv.cast("long")), 8, "0")))
      val mp4 = spark.range(n)
        .select(col("id"), concat(ftyp, mdat, moov).as("payload"))
        .localCheckpoint()
      mp4.count()
      val sof = concat(unhex(lit("FFC0" + "0011" + "08")),
        unhex(lpad(hex((col("id") % 480 + 1).cast("long")), 4, "0")),
        unhex(lpad(hex((col("id") % 640 + 1).cast("long")), 4, "0")),
        unhex(lit("03" + "011100" + "021101" + "031101")))
      val jpg = spark.range(n)
        .select(col("id"), concat(
          unhex(lit("FFD8" + "FFE0" + "0010" + "4A46494600" + "0101"
            + "00" + "00480048" + "0000")),
          sof, body).as("payload"))
        .localCheckpoint()
      jpg.count()
      val vT = (1 to 3).map(_ => sweep {
        val r = Multimodal.videoMeta(mp4, "payload")
          .agg(sum(col("duration_ms")), sum(col("timescale"))).head()
        require(!r.isNullAt(0) && !r.isNullAt(1), "mp4 walk must parse")
      })
      val bT = (1 to 3).map(_ => sweep {
        val r = Multimodal.binaryMeta(jpg, "payload")
          .agg(sum(col("width")), sum(col("height"))).head()
        require(!r.isNullAt(0) && !r.isNullAt(1), "jpeg walk must parse")
      })
      // the floor any byte-TOUCHING pass must pay: crc32 reads every
      // payload byte once (length() would be O(1) on the stored row) —
      // a header walk that only random-accesses ~100 bytes should land
      // BELOW this, and far below any multiple of it
      val sT = (1 to 3).map(_ => sweep {
        val r = mp4.agg(sum(crc32(col("payload")))).head()
        require(!r.isNullAt(0))
      })
      println(f"SCALE axis=media mb=$mb docs=$n " +
        f"video_min=${vT.min}%.3f s binary_min=${bT.min}%.3f s " +
        f"scan_min=${sT.min}%.3f s")
      mp4.unpersist(true)
      jpg.unpersist(true)
    }
  }

  private def dedupProbe(spark: SparkSession, sfDir: String): Unit = {
    val base = graft.store.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val n0 = base.count()
    for (k <- Seq(1, 2, 4, 8)) {
      val df = (0 until k).map(i =>
        base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          // vary text slightly per replica so replicas aren't exact dups
          concat(col("text"), lit(" r" + i)).as("text")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val pairs = Dedup.minhashNearDupPairs(df, "doc_id", "text").count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SCALE k=$k docs=${n0 * k} pairs=$pairs time=$dt%.2f s")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
  }

  /** d10's scale axis: a FIXED incoming batch deduped against a corpus
    * replicated Kx. The candidate join is restricted to incoming x corpus
    * bucket pairs, so time should grow linearly with corpus size (the
    * signature/shingle pass) — superlinear growth would flag a hidden
    * corpus x corpus stage.
    */
  private def incDedupProbe(spark: SparkSession, sfDir: String): Unit = {
    val base = graft.store.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val n0 = base.count()
    // incoming: a ~10% slice, id-shifted clear of every corpus replica
    val incoming = base.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(1L << 40)).as("doc_id"), col("text"))
      .localCheckpoint()
    val nInc = incoming.count()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    for (k <- Seq(1, 4, 16)) {
      val corpus = (0 until k).map(i =>
        base.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          concat(col("text"), lit(" r" + i)).as("text")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val kept = Dedup.dedupAgainstCorpus(incoming, corpus,
        "doc_id", "text", minJaccard = 0.7).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SCALE k=$k corpus=${n0 * k} incoming=$nInc kept=$kept time=$dt%.2f s")
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
    }
  }

  /** g18's scale axis: disjoint replicas of g18's own bipartite
    * part->supplier adjacency — linear growth expected, quadratic would
    * flag the shared-neighbor join exploding. (NOT the full social graph:
    * node similarity is defined over bounded-degree neighborhoods; a graph
    * whose neighbors have unbounded in-degree generates d^2/2 pairs per
    * neighbor by definition, which is the documented hub-cap trade-off,
    * not a scaling property of the implementation.)
    */
  private def nodeSimProbe(spark: SparkSession, sfDir: String): Unit = {
    val base = graft.store.Tables.load(spark, sfDir, "lineitem")
      .where(col("l_partkey") < 2000)
      .select(col("l_partkey").as("src"), col("l_suppkey").as("dst"))
      .localCheckpoint()
    val n0 = base.count()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    for (k <- Seq(1, 4, 16)) {
      val df = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong << 28)).as("src"),
          (col("dst") + lit(i.toLong << 28)).as("dst")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val n = graft.algorithms.GraphAlgorithms.nodeSimilarity(df, topK = 10).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SCALE k=$k edges=${n0 * k} rows=$n time=$dt%.2f s")
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
    }
  }

  /** x17's scale axis: disjoint replicas of the TPC-H graph edge list at
    * x17's exact configuration (5 iterations, chainDepth=2). Per iteration
    * the cost is one gated broadcast (or shuffle-hash) join over K*2|E|
    * tagged rows plus one partial-aggregated shuffle over K*|V| ranks, so
    * time should grow linearly with K at fixed iteration count —
    * superlinear growth would flag a per-iteration stage whose cost is not
    * proportional to the edge relation (e.g. a sort-merge re-sorting the
    * edge set every iteration).
    */
  private def pageRankProbe(spark: SparkSession, sfDir: String): Unit = {
    val base = graft.store.GraphStore.tpch(spark, sfDir)
      .allEdges.select(col("src"), col("dst")).localCheckpoint()
    val n0 = base.count()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    val ks = sys.env.get("SPARK_GRAFT_PROBE_KS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 4, 16))
    // the host's stall distribution is bimodal (r5 per-job profiling:
    // 10x swings on identical jobs) and the top rung's jobs are long
    // enough to eat multi-second stalls repeatedly — a single sample per rung can read
    // 5x over quiet. MIN over a few repeats is the right statistic for a
    // growth curve: stalls are strictly additive, so the min is the
    // closest observable to the operator's own cost.
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    for (k <- ks) {
      val df = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong << 28)).as("src"),
          (col("dst") + lit(i.toLong << 28)).as("dst")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val ceiling = sys.env.get("SPARK_GRAFT_PR_CEILING").map(_.toLong)
        .getOrElse(graft.algorithms.GraphAlgorithms.BroadcastVertexRows)
      // the sweep between repeats must spare the replica checkpoint itself
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.algorithms.GraphAlgorithms
          .pageRankStable(df, iters = 5, chainDepth = 2,
            broadcastCeiling = ceiling).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        dt
      }
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
      val n = n0 * k
      println(f"SCALE k=$k edges=$n ceiling=$ceiling min=${times.min}%.2f s " +
        times.map(t => f"$t%.2f").mkString("samples=[", ",", "]"))
    }
  }

  /** x4's scale axes. Path enumeration is worst-case exponential in depth
    * by DEFINITION (the output IS the paths), so unlike the other probes
    * the expectation is not linear time in an input axis — it is that
    * (a) time tracks the number of paths enumerated (output-bound, no
    * hidden blowup beyond the output itself), and (b) the maxPaths cap
    * bounds both rows and time via level-order early stop, which is the
    * documented scale path when the search space explodes.
    *
    * Depth axis: same start set, maxLength 2/3/4, uncapped — rows grow
    * roughly by the graph's branching factor per level and time follows.
    * Then maxLength=4 WITH the cap: rows plateau at ~cap and time drops
    * back to the shallow-depth regime (the enumeration stops as soon as
    * a level boundary satisfies the cap).
    *
    * Fan-out axis: fixed depth 3, the edge relation thinned to 1/F of
    * dst ids (F=4/2/1, so average branching scales x1/x2/x4) — uncapped
    * rows grow ~F^depth while capped rows and time stay bounded.
    */
  private def vleProbe(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val edges = g.allEdges.select(col("src"), col("dst")).localCheckpoint()
    edges.count()
    val starts = (1L to 100L)
      .map(graft.model.Graphid.pack(graft.store.GraphStore.Lab.Customer, _))
      .toDF("id").localCheckpoint()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    // the sweep after each run must spare every checkpoint alive BEFORE the
    // run (the shared edges/starts AND a fanout iteration's thinned copy,
    // which is reused by the capped run) — sweeping against the outer keep
    // set would free the thinned checkpoint's blocks between its two runs,
    // and a localCheckpoint cannot recompute after unpersist
    def run(tag: String, e: org.apache.spark.sql.DataFrame, maxLen: Int,
        cap: Option[Int]): Unit = {
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val rows = graft.algorithms.Traversals
        .vle(e, starts, 1, maxLen, maxPaths = cap).count()
      val dt = (System.nanoTime() - t0) / 1e9
      val capStr = cap.map(_.toString).getOrElse("none")
      println(f"SCALE axis=$tag maxLen=$maxLen cap=$capStr paths=$rows time=$dt%.2f s")
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
    }
    // warmup: the first vle invocation in a fresh JVM absorbs Catalyst
    // planning + codegen JIT (the r7 axis recorded depth 2 at 3x depth 3's
    // time with 24x fewer paths — pure warmup masquerading as data); one
    // untimed shallow pass first makes the recorded axis measure the
    // operator
    run("warmup", edges, 2, None)
    for (d <- Seq(2, 3, 4)) run("depth", edges, d, None)
    run("depth", edges, 4, Some(10000))
    // 2^48 is divisible by F in {2,4}, so dst % F partitions on the local
    // id and thins every label's out-neighborhood uniformly
    for (f <- Seq(4, 2, 1)) {
      val thinned = edges.where(col("dst") % f === 0).localCheckpoint()
      val ne = thinned.count()
      println(s"SCALE axis=fanout F=$f edges=$ne")
      run(s"fanout-F$f", thinned, 3, None)
      run(s"fanout-F$f", thinned, 3, Some(10000))
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
    }
  }

  /** g22's scale axis: disjoint replicas of the FULL TPC-H graph (the gate
    * bounds its domain to the non-lineitem subgraph for suite budget; the
    * probe runs the operator on the whole thing). Per round the cost is
    * one gated broadcast join over K*2|E| symmetric rows plus two
    * partial-aggregated shuffles, so time should grow linearly with K at
    * the fixed 4-round budget — superlinear growth would flag a
    * per-round stage not proportional to the message relation. MIN over
    * repeats, same bimodal-stall rationale as the pagerank probe.
    */
  private def lpaProbe(spark: SparkSession, sfDir: String): Unit = {
    val base = graft.store.GraphStore.tpch(spark, sfDir)
      .allEdges.select(col("src"), col("dst")).localCheckpoint()
    val n0 = base.count()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    val ks = sys.env.get("SPARK_GRAFT_PROBE_KS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 4, 16))
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    for (k <- ks) {
      val df = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong << 28)).as("src"),
          (col("dst") + lit(i.toLong << 28)).as("dst")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.algorithms.GraphAlgorithms.labelPropagation(df, iters = 4).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        dt
      }
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
      println(f"SCALE k=$k edges=${n0 * k} min=${times.min}%.2f s " +
        times.map(t => f"$t%.2f").mkString("samples=[", ",", "]"))
    }
  }

  private def kcoreProbe(spark: SparkSession, sfDir: String): Unit = {
    val base = graft.store.GraphStore.tpch(spark, sfDir)
      .allEdges.select(col("src"), col("dst")).localCheckpoint()
    val n0 = base.count()
    // the per-k cleanup must spare the shared base checkpoint
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    // ids use the top 16 bits for labels, so shift replicas within the
    // 48-bit local space to keep components disjoint
    for (k <- Seq(1, 2, 4)) {
      val df = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong << 28)).as("src"),
          (col("dst") + lit(i.toLong << 28)).as("dst")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val t0 = System.nanoTime()
      val (core, rounds) =
        graft.algorithms.GraphAlgorithms.kCoreRounds(df, 3, maxRounds = 32)
      val n = core.count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SCALE k=$k edges=${n0 * k} core=$n rounds=$rounds time=$dt%.2f s")
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
    }
  }

  /** g25's scale axis: source-set size. Both Brandes sweeps carry state
    * keyed (source, vertex), so cost should grow ~linearly in |S| at a
    * fixed graph — the per-level join/aggregate shapes are |S|-independent
    * and the level count is the graph's (fixed) eccentricity. Superlinear
    * growth would flag a hidden cross-source stage.
    */
  /** g50's two axes. Cost: pivotStress on the full TPC-H graph at
    * |S| = 16/64/256 — per-pivot sweeps are the whole cost, so time
    * should track |S| (the stressProbe sources axis, reached through the
    * sampling wrapper). Error: on the bounded co-supply graph (the g23
    * domain, |V| ≈ suppliers), EXACT all-sources stress is computable, so
    * the |V|/|S|-scaled estimate's relative L1 error is measured, not
    * argued — expect it to fall as |S| grows and hit 0 at |S| = |V|.
    */
  /** Edge-stress overhead axis: the per-edge emission rides the SAME
    * shared Brandes sweeps as vertex stress, plus one per-level checkpoint
    * and one extra (src, dst)-keyed aggregate — so edge cost should track
    * vertex cost at every source count, and both should stay flat while
    * the shared multi-source sweep amortizes sources at the job floor
    * (the pivotstress shape). Vertex stress at the same (pivots, depth)
    * is measured inline as the baseline.
    */
  private def edgeStressProbe(spark: SparkSession, sfDir: String): Unit = {
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val edges = g.allEdges.select(col("src"), col("dst")).localCheckpoint()
    edges.count()
    def sweep(body: => Unit): Double = {
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
      dt
    }
    val simple = edges.where(col("src") =!= col("dst"))
    val verts = simple.select(col("src").as("id"))
      .unionByName(simple.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    def pivots(n: Int) = verts
      .select(col("id"), graft.pipeline.TextHash.h32(
        concat(lit("pivot|"), col("id").cast("string"))).as("h"))
      .orderBy(col("h"), col("id")).limit(n).select(col("id"))
    sweep { // warmup
      graft.algorithms.GraphAlgorithms.edgeStressCentrality(edges, pivots(8), 4)
        .agg(sum(col("stress"))).head
    }
    for (n <- Seq(8, 32, 128)) {
      val src = pivots(n).localCheckpoint()
      src.count()
      val eT = (1 to 3).map { _ =>
        sweep {
          graft.algorithms.GraphAlgorithms.edgeStressCentrality(edges, src, 4)
            .agg(sum(col("stress"))).head
        }
      }
      val vT = (1 to 3).map { _ =>
        sweep {
          graft.algorithms.GraphAlgorithms.stressCentrality(edges, src, 4)
            .agg(sum(col("stress"))).head
        }
      }
      println(f"SCALE axis=edge pivots=$n min=${eT.min}%.2f s " +
        eT.map(t => f"$t%.2f").mkString("samples=[", ",", "]") +
        f" vertex_min=${vT.min}%.2f s " +
        vT.map(t => f"$t%.2f").mkString("vertex=[", ",", "]"))
    }
  }

  private def pivotStressProbe(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val edges = g.allEdges.select(col("src"), col("dst")).localCheckpoint()
    edges.count()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    def sweep(body: => Unit): Double = {
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
      dt
    }
    sweep { // warmup
      graft.algorithms.GraphAlgorithms.pivotStress(edges, 16, 8)
        .agg(sum(col("stress_est"))).head
    }
    for (n <- Seq(16, 64, 256, 1024, 4096)) {
      val times = (1 to 3).map { _ =>
        sweep {
          graft.algorithms.GraphAlgorithms.pivotStress(edges, n, 8)
            .agg(sum(col("stress_est"))).head
        }
      }
      println(f"SCALE axis=cost pivots=$n min=${times.min}%.2f s " +
        times.map(t => f"$t%.2f").mkString("samples=[", ",", "]"))
    }
    // error axis: bounded co-supply graph, exact = all vertices as sources
    val ps = graft.store.Tables.load(spark, sfDir, "lineitem")
      .where(col("l_partkey") < 2000)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk")).distinct()
    val cos = ps.as("x").join(ps.as("y"), Seq("pk"))
      .where(col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("src"), col("y.sk").as("dst")).distinct()
      .localCheckpoint()
    cos.count()
    val keepErr = keep ++ graft.util.Checkpoints.idsOf(cos)
    val verts = cos.select(col("src").as("id"))
      .unionByName(cos.select(col("dst").as("id"))).distinct()
    val nV = verts.count()
    val exact = graft.algorithms.GraphAlgorithms
      .stressCentrality(cos, verts, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val totalExact = exact.values.map(_.toDouble).sum
    println(f"SCALE axis=error-domain vertices=$nV exact_total=$totalExact%.0f")
    for (n <- Seq(16, 64, 256)) {
      val est = graft.algorithms.GraphAlgorithms.pivotStress(cos, n, 8)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val l1 = exact.map { case (id, ex) =>
        math.abs(est.getOrElse(id, 0L) - ex).toDouble }.sum
      println(f"SCALE axis=error pivots=$n rel_l1=${l1 / totalExact}%.4f")
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keepErr.contains(id)) rdd.unpersist(false) }
    }
  }

  private def stressProbe(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val edges = g.allEdges.select(col("src"), col("dst")).localCheckpoint()
    edges.count()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    def run(tag: String, nSrc: Int, warm: Boolean = false): Unit = {
      val srcs = (1L to nSrc.toLong)
        .map(graft.model.Graphid.pack(graft.store.GraphStore.Lab.Customer, _))
        .toDF("id")
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to (if (warm) 1 else reps)).map { _ =>
        val t0 = System.nanoTime()
        graft.algorithms.GraphAlgorithms
          .stressCentrality(edges, srcs, 6)
          .agg(sum(col("stress"))).head
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        dt
      }
      if (!warm)
        println(f"SCALE axis=$tag sources=$nSrc min=${times.min}%.2f s " +
          times.map(t => f"$t%.2f").mkString("samples=[", ",", "]"))
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
    }
    run("warmup", 25, warm = true)
    for (n <- Seq(25, 100, 400)) run(s"sources-$n", n)
  }

  /** g28's scale axis: the g28 gate graph (h32-thinned co-supply, 20%)
    * replicated Kx as DISJOINT copies — per-replica truss structure is
    * identical, peel-round count is constant, so time should track K;
    * superlinear growth would flag a cross-copy stage in the per-round
    * support recount.
    */
  private def ktrussProbe(spark: SparkSession, sfDir: String): Unit = {
    import graft.pipeline.TextHash
    val ps = graft.store.Tables.load(spark, sfDir, "lineitem")
      .where(col("l_partkey") < 2000)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk")).distinct()
    val base = ps.as("x").join(ps.as("y"),
        col("x.pk") === col("y.pk") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("src"), col("y.sk").as("dst"))
      .where(TextHash.h32(concat_ws("|", col("src"), col("dst"))) % 10 < 2)
      .localCheckpoint()
    val n0 = base.count()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    def run(tag: String, df: org.apache.spark.sql.DataFrame, warm: Boolean = false): Unit = {
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to (if (warm) 1 else reps)).map { _ =>
        val t0 = System.nanoTime()
        val nEdges = graft.algorithms.GraphAlgorithms.kTruss(df, 4).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, nEdges)
      }
      if (!warm)
        println(f"SCALE axis=$tag truss_edges=${times.head._2} " +
          f"min=${times.map(_._1).min}%.2f s " +
          times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
    run("warmup", base, warm = true)
    for (k <- Seq(1, 4, 16)) {
      val df = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong << 28)).as("src"),
          (col("dst") + lit(i.toLong << 28)).as("dst")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      println(s"SCALE axis=replicate k=$k edges=${n0 * k}")
      run(s"replicate-k$k", df)
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
    }
  }

  /** g27's scale axis: concurrent-walk count (fixed 1000 starts, walks
    * per start swept 1/4/16/64) at fixed 6 steps. Walk state is one row
    * per live walk and each step is one frontier join + one argmin
    * shuffle whose width is the frontier's out-edge fan-out, so time
    * should be flat-to-linear in the walk count (overhead-dominated at
    * this SF). The top rung re-runs with the broadcast gate forced off —
    * the shuffle-fallback path a node2vec-scale frontier (|V| x r walks)
    * would take — which must be comparable, not cliff-shaped.
    */
  private def walksProbe(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val edges = g.allEdges.select(col("src"), col("dst")).localCheckpoint()
    edges.count()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    def run(tag: String, r: Int, gate: Long, warm: Boolean = false): Unit = {
      val starts = (1L to 1000L)
        .map(graft.model.Graphid.pack(graft.store.GraphStore.Lab.Customer, _))
        .toDF("id")
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      var rows = 0L
      val times = (1 to (if (warm) 1 else reps)).map { _ =>
        val t0 = System.nanoTime()
        rows = graft.algorithms.RandomWalks
          .hashWalks(edges, starts, steps = 6, walksPerStart = r,
            maxBroadcastRows = gate)
          .count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        dt
      }
      if (!warm)
        println(f"SCALE axis=$tag walks=${1000 * r} rows=$rows min=${times.min}%.2f s " +
          times.map(t => f"$t%.2f").mkString("samples=[", ",", "]"))
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
    }
    val bigGate = graft.algorithms.Traversals.BroadcastFrontierRows
    run("warmup", 1, bigGate, warm = true)
    for (r <- Seq(1, 4, 16, 64)) run(s"walks-x$r", r, bigGate)
    run("walks-x64-shuffle", 64, 0L)
  }

  /** g23's scale axes.
    *
    * Replication axis: the co-supply graph replicated Kx as DISJOINT
    * copies (vertex ids shifted per replica) — wedges and triangles scale
    * exactly xK, so time should track K; superlinear growth would flag a
    * hidden cross-copy stage.
    *
    * Hub axis: a star of N leaves plus one fixed triangle. An unoriented
    * node-iterator enumerates C(N,2) wedges at the hub (quadratic — 10^10
    * candidate pairs at N=10^5); the degree-ordered orientation emits
    * ZERO wedges from the hub (every star edge orients leaf->hub and
    * stops there), so time must stay linear in N while triangles stay
    * exactly 1. This axis is the orientation claim, measured.
    */
  private def trianglesProbe(spark: SparkSession, sfDir: String): Unit = {
    val ps = graft.store.Tables.load(spark, sfDir, "lineitem")
      .where(col("l_partkey") < 2000)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk")).distinct()
    // the raw sf0.1 co-supply graph is a near-clique (410k of the 500k
    // possible edges on 1k suppliers, 92.6M triangles) — cubic OUTPUT, so
    // replicating it measures output materialization, not the operator's
    // growth. Deterministically thin to ~10% of edges (hash-based, keeps
    // the degree distribution's shape) for a base whose wedge volume is
    // the dominant cost, as it is on real sparse graphs.
    val base = ps.as("x").join(ps.as("y"),
        col("x.pk") === col("y.pk") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("src"), col("y.sk").as("dst"))
      .distinct()
      .where(pmod(hash(col("src"), col("dst")), lit(10)) === 0)
      .localCheckpoint()
    val n0 = base.count()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    def run(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val r = graft.algorithms.GraphAlgorithms.triangleCountDF(df)
          .agg(sum(col("triangles")).as("t3"), count(lit(1)).as("nv")).head
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, r.getLong(0) / 3, r.getLong(1))
      }
      val (tri, nv) = (times.head._2, times.head._3)
      println(f"SCALE axis=$tag vertices=$nv triangles=$tri " +
        f"min=${times.map(_._1).min}%.2f s " +
        times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
    run("warmup", base)
    for (k <- Seq(1, 4, 16)) {
      val df = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong << 28)).as("src"),
          (col("dst") + lit(i.toLong << 28)).as("dst")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      println(s"SCALE axis=replicate k=$k edges=${n0 * k}")
      run(s"replicate-k$k", df)
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
    }
    for (n <- Seq(100000L, 400000L, 1600000L)) {
      import spark.implicits._
      val star = spark.range(1, n + 1)
        .select((col("id") + 10L).as("src"), lit(1L).as("dst"))
      val tri = Seq((2L, 3L), (3L, 4L), (2L, 4L)).toDF("src", "dst")
      val df = star.unionByName(tri).localCheckpoint()
      df.count()
      println(s"SCALE axis=hub leaves=$n")
      run(s"hub-n$n", df)
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
    }
  }

  /** g30's scale axis: the 2-out Lehmer referral digraph replicated Kx as
    * DISJOINT id-offset copies — per-copy SCC structure is identical, so
    * the trim depth, coloring fixpoint depth, and backward-sweep depth are
    * all constant in K and time should track K (the per-round relations
    * grow Kx but every join/aggregate is equi-keyed, so copies can never
    * interact); superlinear growth would flag a cross-copy stage.
    */
  private def sccProbe(spark: SparkSession, sfDir: String): Unit = {
    val c = graft.store.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").cast("long").as("k"))
    val n = c.count()
    def ref(mul: Long) = c.select(col("k").as("src"),
      (lit(1L) + (col("k") * mul) % n).as("dst"))
    val base = ref(48271L).unionByName(ref(16807L))
      .where(col("src") =!= col("dst")).localCheckpoint()
    val n0 = base.count()
    val keep = spark.sparkContext.getPersistentRDDs.keySet
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    // copies live in disjoint id ranges: derive the stride from the
    // measured max key so the premise survives any scale factor (a fixed
    // 1<<24 overlaps once custkeys pass 16.7M, silently merging copies)
    val off = base.agg(greatest(max(col("src")), max(col("dst"))))
      .head().getLong(0) + 1L
    def run(tag: String, k: Int, warm: Boolean = false): Unit = {
      val df = (0 until k).map(i => base.select(
          (col("src") + lit(i * off)).as("src"),
          (col("dst") + lit(i * off)).as("dst")))
        .reduce(_ unionByName _).localCheckpoint()
      df.count()
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to (if (warm) 1 else reps)).map { _ =>
        val t0 = System.nanoTime()
        val nScc = graft.algorithms.GraphAlgorithms
          .stronglyConnectedComponents(df)
          .select(col("scc_id")).distinct().count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, nScc)
      }
      if (!warm)
        println(f"SCALE axis=$tag edges=${n0 * k} sccs=${times.head._2} " +
          f"min=${times.map(_._1).min}%.2f s " +
          times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keep.contains(id)) rdd.unpersist(false) }
    }
    run("warmup", 1, warm = true)
    for (k <- Seq(1, 4, 16)) run(s"copies-$k", k)
  }

  /** Thinned co-supply graph (the g31/g33/g34 gate graph) replicated k
    * times in disjoint id ranges — the scc-probe construction: per-replica
    * structure identical, total size scales linearly, replica offset
    * derived from the measured max key.
    */
  private def coSupplyReplicas(spark: SparkSession, sfDir: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import graft.pipeline.TextHash
    val ps = graft.store.Tables.load(spark, sfDir, "lineitem")
      .where(col("l_partkey") < 2000)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk")).distinct()
    val base = ps.as("x").join(ps.as("y"),
        col("x.pk") === col("y.pk") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("src"), col("y.sk").as("dst"))
      .where(TextHash.h32(concat_ws("|", col("src"), col("dst"))) % 10 < 2)
      .localCheckpoint()
    val off = base.agg(greatest(max(col("src")), max(col("dst"))))
      .head().getLong(0) + 1L
    (0 until k).map(i => base.select(
        (col("src") + lit(i * off)).as("src"),
        (col("dst") + lit(i * off)).as("dst")))
      .reduce(_ unionByName _).localCheckpoint()
  }

  /** Link-prediction wedge axis: k replicas of the g31 graph multiply the
    * hub-capped wedge count by k with identical per-replica structure —
    * time must scale ~linearly in wedges (the candidate relation is the
    * inherent cost). The uncapped/capped contrast on the same rung pins
    * what the hub cap buys once hubs exist.
    */
  private def linkpredProbe(spark: SparkSession, sfDir: String): Unit = {
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    def run(tag: String, k: Int, warm: Boolean = false): Unit = {
      val df = coSupplyReplicas(spark, sfDir, k)
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to (if (warm) 1 else reps)).map { _ =>
        val t0 = System.nanoTime()
        val n = graft.algorithms.GraphAlgorithms.linkPrediction(df, 20).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, n)
      }
      if (!warm)
        println(f"SCALE axis=$tag rows=${times.head._2} " +
          f"min=${times.map(_._1).min}%.2f s " +
          times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
    run("warmup", 1, warm = true)
    for (k <- Seq(1, 4, 16)) run(s"copies-$k", k)
  }

  /** Maximal-independent-set replica axis: k disjoint copies of the g33
    * graph. Luby round count is O(log n) whp and the copies are
    * independent, so rounds must stay FLAT across rungs while per-round
    * work scales linearly.
    */
  private def misProbe(spark: SparkSession, sfDir: String): Unit = {
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    def run(tag: String, k: Int, warm: Boolean = false): Unit = {
      val df = coSupplyReplicas(spark, sfDir, k)
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to (if (warm) 1 else reps)).map { _ =>
        val t0 = System.nanoTime()
        val (mis, rounds) = graft.algorithms.GraphAlgorithms
          .misRounds(df)
        val n = mis.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, n, rounds)
      }
      if (!warm)
        println(f"SCALE axis=$tag members=${times.head._2} rounds=${times.head._3} " +
          f"min=${times.map(_._1).min}%.2f s " +
          times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
    run("warmup", 1, warm = true)
    for (k <- Seq(1, 4, 16)) run(s"copies-$k", k)
  }

  /** Bidirectional-distance axis: on a base-b de Bruijn-style digraph
    * (i -> (i*b + j) mod n, forward AND backward branching ~b) the
    * unidirectional BFS to a vertex at distance d touches ~b^d frontier
    * rows while the bidirectional meet touches ~2·b^(d/2) — the claim g32
    * ships on. Targets at exact distances 2/4/6 are read off a BFS level
    * table first; both sides then time point-to-point distance to the
    * same targets (uni capped at exactly d hops — it stops the moment the
    * level containing dst completes, the cheapest-possible unidirectional
    * contender).
    */
  private def bidirProbe(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    import graft.algorithms.Traversals
    val b = 10L
    val n = 1000000L
    val e = spark.range(0L, n).select(col("id").as("src"),
        explode(array((1L to b).map(j => (col("id") * b + lit(j)) % n): _*)).as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint()
    println(s"SCALE bidir graph: n=$n edges=${e.count()} branching=$b")
    val src = 1L
    val levels = Traversals.bfsDistances(e, Seq(src).toDF("id"), 6)
      .localCheckpoint()
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    for (d <- Seq(2, 4, 6)) {
      // deterministic target: max id at exactly distance d
      val dst = levels.where(col("dist") === d).agg(max(col("id"))).head().getLong(0)
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      def sweep(): Unit = spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
      val uniTimes = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val got = Traversals.shortestPathDist(e, src, dst, d)
          .select(col("dist")).head().getInt(0)
        require(got == d, s"uni dist $got != $d")
        val dt = (System.nanoTime() - t0) / 1e9; sweep(); dt
      }
      // the visited set a d-capped unidirectional BFS materializes
      val uniRows = levels.where(col("dist") <= d && col("dist") > 0).count()
      var biRows = 0L
      val biTimes = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val (got, rows) = Traversals.bidirDistanceStats(e, src, dst, d + 2)
        require(got.contains(d), s"bidir dist $got != $d")
        biRows = rows
        val dt = (System.nanoTime() - t0) / 1e9; sweep(); dt
      }
      println(f"SCALE axis=dist-$d dst=$dst uni_rows=$uniRows bidir_rows=$biRows " +
        f"uni_min=${uniTimes.min}%.2f s " +
        uniTimes.map(t => f"$t%.2f").mkString("uni=[", ",", "] ") +
        f"bidir_min=${biTimes.min}%.2f s " +
        biTimes.map(t => f"$t%.2f").mkString("bidir=[", ",", "]"))
    }
  }

  /** WEIGHTED bidirectional-distance axis (r10): the bidir de Bruijn
    * digraph with deterministic pseudo-weights w = (src·7 + dst·13) % 5
    * + 1. The unidirectional contender is the level-synchronous weighted
    * sweep (PregelSssp — it must settle the whole reachable set to
    * certify any one target), the bidirectional search certifies via the
    * frontier-minima rule after touching ~2·b^(d/2) improved rows. Both
    * must agree on the cost at every probed target hop-distance.
    * Run with SPARK_GRAFT_PROBE=wdist; raw stdout committed as
    * tools/scaleprobe_wdist_r10.txt.
    */
  private def wdistProbe(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    import graft.algorithms.{PregelSssp, Traversals}
    val b = 10L
    val n = 1000000L
    val e = spark.range(0L, n).select(col("id").as("src"),
        explode(array((1L to b).map(j => (col("id") * b + lit(j)) % n): _*)).as("dst"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        ((col("src") * 7 + col("dst") * 13) % 5 + 1).cast("double").as("weight"))
      .localCheckpoint()
    println(s"SCALE wdist graph: n=$n edges=${e.count()} branching=$b")
    val src = 1L
    val levels = Traversals.bfsDistances(e.select(col("src"), col("dst")),
      Seq(src).toDF("id"), 6).localCheckpoint()
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    // the full-sweep cost is target-independent: settle every vertex once,
    // read each probed target's cost from the result
    val keep0 = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val sweep = PregelSssp.run(spark, e, src).localCheckpoint()
    val settled = sweep.where(col("dist") < Double.PositiveInfinity).count()
    val uniT = (System.nanoTime() - t0) / 1e9
    println(f"SCALE axis=uni-sweep settled=$settled dt=$uniT%.2f s")
    for (d <- Seq(2, 4, 6)) {
      val dst = levels.where(col("dist") === d).agg(max(col("id"))).head().getLong(0)
      val want = sweep.where(col("id") === dst).select(col("dist")).head().getDouble(0)
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      var biRows = 0L
      val biTimes = (1 to reps).map { _ =>
        val t1 = System.nanoTime()
        val (got, rows) = Traversals.bidirWeightedDistanceStats(e, src, dst)
        require(got.contains(want), s"wdist $got != Some($want) at hop-d=$d")
        biRows = rows
        val dt = (System.nanoTime() - t1) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        dt
      }
      println(f"SCALE axis=wdist-$d dst=$dst cost=$want%.1f bidir_rows=$biRows " +
        f"uni_sweep=$uniT%.2f s bidir_min=${biTimes.min}%.2f s " +
        biTimes.map(t => f"$t%.2f").mkString("bidir=[", ",", "]"))
    }
    spark.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (!keep0.contains(id)) rdd.unpersist(false) }
  }

  /** Temporal earliest-arrival axes (r10). (a) edge volume: k disjoint
    * replicas of the g35 event-derived temporal graph, one source per
    * replica — rounds must stay FLAT (replicas are independent) and wall
    * time sublinear in k (per-round joins scale, round count does not).
    * (b) improvement-chain depth: a path graph i→i+1 at t=i forces one
    * relaxation round per hop — the DOCUMENTED linear-round bound
    * (min-arrival has no label-composition shortcut: a composed u→w jump
    * is only valid for specific departure windows, unlike CC's
    * time-free pointers), with state |V|-bounded at any depth. Run with
    * SPARK_GRAFT_PROBE=temporal; stdout committed as
    * tools/scaleprobe_temporal_r10.txt.
    */
  private def temporalProbe(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    import graft.algorithms.TemporalGraph
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    val ev = graft.store.Tables.load(spark, sfDir, "events")
      .select(col("user_id").cast("long").as("u"),
        col("event_id").cast("long").as("eid"),
        unix_micros(col("ts")).as("t"))
      .localCheckpoint()
    val b = ev.agg(max(col("u")), min(col("u")), min(col("t"))).head()
    val (nu, srcU, t0) = (b.getLong(0) + 1, b.getLong(1), b.getLong(2))
    for (k <- Seq(1, 4, 16)) {
      val te = (0 until k).map { i =>
        ev.select((col("u") + lit(i * nu)).as("src"),
          ((col("u") + 1 + col("eid") % 97) % nu + lit(i * nu)).as("dst"),
          col("t"))
      }.reduce(_.unionByName(_)).localCheckpoint()
      val nEdges = te.count()
      val sources = (0 until k).map(i => (srcU + i * nu, t0)).toDF("id", "t0")
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val s0 = System.nanoTime()
        val (res, rounds) = TemporalGraph.earliestArrivalRounds(te, sources)
        val nReached = res.count()
        val dt = (System.nanoTime() - s0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, rounds, nReached)
      }
      println(f"SCALE axis=tvolume-$k edges=$nEdges reached=${times.head._3} " +
        f"rounds=${times.head._2} min=${times.map(_._1).min}%.2f s " +
        times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
    // (b) chain depth: rounds == depth by construction
    for (d <- Seq(32, 64, 128)) {
      val chain = spark.range(0L, d.toLong)
        .select(col("id").as("src"), (col("id") + 1).as("dst"), col("id").as("t"))
        .localCheckpoint()
      chain.count()
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val t1 = System.nanoTime()
      val (res, rounds) = TemporalGraph.earliestArrivalRounds(
        chain, Seq((0L, 0L)).toDF("id", "t0"), maxHops = d + 2)
      val nReached = res.count()
      val dt = (System.nanoTime() - t1) / 1e9
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
      println(f"SCALE axis=tchain-$d reached=$nReached rounds=$rounds dt=$dt%.2f s")
      // (c) the latest-departure mirror on the same chain (target = the
      // chain head's sink, deadline = its edge time): the negate-reverse
      // reduction must show the identical linear-round bound.
      val keepLd = spark.sparkContext.getPersistentRDDs.keySet
      val t2 = System.nanoTime()
      val (resLd, roundsLd) = TemporalGraph.latestDepartureRounds(
        chain, Seq((d.toLong, d.toLong - 1)).toDF("id", "deadline"),
        maxHops = d + 2)
      val nLd = resLd.count()
      val dtLd = (System.nanoTime() - t2) / 1e9
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keepLd.contains(id)) rdd.unpersist(false) }
      println(f"SCALE axis=tchain-ld-$d reached=$nLd rounds=$roundsLd dt=$dtLd%.2f s")
    }
  }

  /** k-means volume axis (r10): k disjoint id-shifted replicas of the
    * sf embeddings corpus, same k/iters as the e7 gate. Assignment is a
    * shuffle-free HOF pass over literal centroids and the update's
    * exchange carries only executors·k·d partially-aggregated rows, so
    * wall time must grow sublinearly in corpus volume (scan-bound, NOT
    * shuffle-bound). Run with SPARK_GRAFT_PROBE=kmeans; stdout
    * committed as tools/scaleprobe_kmeans_r10.txt.
    */
  private def kmeansProbe(spark: SparkSession, sfDir: String): Unit = {
    import graft.pipeline.Clustering
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    val emb = graft.store.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val n0 = emb.count()
    for (k <- Seq(1, 4, 16)) {
      val corpus = (0 until k).map { i =>
        emb.select((col("vec_id") + lit(i * n0)).as("vec_id"), col("embedding"))
      }.reduce(_.unionByName(_)).localCheckpoint()
      val n = corpus.count()
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val out = Clustering.kmeansQuantized(corpus, "vec_id", "embedding", 10, 3)
        val nOut = out.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, nOut)
      }
      println(f"SCALE axis=kvolume-$k vectors=$n clustered=${times.head._2} " +
        f"min=${times.map(_._1).min}%.2f s " +
        times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
    // k axis (r12, r10 ask #9): fixed corpus, growing cluster count —
    // assignment is n·k·d codegen'd HOF work over the literal centroid
    // array and the update exchange stays at executors·k·d rows, so wall
    // time must track k sub-linearly while the scan dominates
    for (kk <- Seq(5, 10, 20, 40)) {
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val nOut = Clustering
          .kmeansQuantized(emb, "vec_id", "embedding", kk, 3).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, nOut)
      }
      println(f"SCALE axis=kclusters-$kk vectors=$n0 clustered=${times.head._2} " +
        f"min=${times.map(_._1).min}%.2f s " +
        times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
    // d axis (r12): dimensionality grown by tiling each embedding t
    // times (flatten ∘ array_repeat) — per-row HOF cost and the k·d
    // update rows both scale with d; the same sub-linear wall-time
    // expectation applies while scan+quantize dominate
    for (t <- Seq(1, 2, 4)) {
      val corpus = emb.select(col("vec_id"),
        flatten(array_repeat(col("embedding"), t)).as("embedding"))
        .localCheckpoint()
      val n = corpus.count()
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val nOut = Clustering
          .kmeansQuantized(corpus, "vec_id", "embedding", 10, 3).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, nOut)
      }
      println(f"SCALE axis=kdims-${t}x vectors=$n clustered=${times.head._2} " +
        f"min=${times.map(_._1).min}%.2f s " +
        times.map(t0 => f"${t0._1}%.2f").mkString("samples=[", ",", "]"))
    }
  }

  /** Connected-components axes. (a) the real cy27 graph (tpch store at
    * sfDir) — rounds + wall time; (b) the chain axis: path graphs of
    * depth 2^k — plain min-label propagation is O(D) rounds here, the
    * pointer-jumping variant must grow rounds ~logarithmically (+1-2
    * rounds per depth doubling, not 2×). Run with
    * SPARK_GRAFT_PROBE=cc; raw stdout committed as
    * tools/scaleprobe_cc_chain_r10.txt.
    */
  private def ccProbe(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    def run(tag: String, edges: org.apache.spark.sql.DataFrame,
        warm: Boolean = false): Unit = {
      // sweep only this rep's checkpoints — the caller's pinned inputs
      // (and earlier rungs') must survive across reps
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to (if (warm) 1 else reps)).map { _ =>
        val t0 = System.nanoTime()
        val (comp, prop, jump) =
          graft.algorithms.GraphAlgorithms.connectedComponentsRounds(edges)
        val nComp = comp.select(col("component")).distinct().count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, prop, jump, nComp)
      }
      if (!warm) {
        val (_, prop, jump, nComp) = times.head
        println(f"SCALE axis=$tag components=$nComp prop=$prop jump=$jump " +
          f"min=${times.map(_._1).min}%.2f s " +
          times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
      }
    }
    // (a) the cy27 graph itself
    val store = graft.store.GraphStore.tpch(spark, sfDir)
    val real = store.allEdges.select(col("src"), col("dst")).localCheckpoint()
    real.count()
    run("store-warmup", real, warm = true)
    run("store", real)
    // (a') the full cy27 gate (store build + Cypher pipeline + CC + agg),
    // cold-per-rep like the bench harness runs it
    for (r <- 1 to reps) {
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val n = graft.queries.CypherGateQueries
        .queries("cy27_call_components")(spark, sfDir).collect().length
      println(f"SCALE axis=cy27-gate rep=$r rows=$n dt=${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
    }
    // (b) chain depth axis: D doubles per rung; O(D) propagation would
    // double round count and time per rung, pointer jumping must not
    for (k <- Seq(8, 10, 12, 14)) {
      val d = 1L << k
      val chain = spark.range(1L, d).select(col("id").as("src"),
        (col("id") + 1L).as("dst")).localCheckpoint()
      chain.count()
      run(s"chain-$d", chain)
    }
  }

  /** g38's scale axes. (a) volume: k disjoint id-shifted replicas of the
    * derived event graph, one source per replica — per-replica work is
    * constant, so total time must grow (sub)linearly. (b) departure fan:
    * a source with D parallel out-edges (times 1..D) into a 30-step chain
    * — all D (dep, arr) pairs are Pareto-incomparable AT the gateway, but
    * one pair dominates from the first chain hop on, so the keyed state
    * must collapse to ~|V| and time must stay ~flat in D. Linear-in-D
    * growth here would flag the |D|x|V| blowup the per-(sid,id) dominance
    * prune exists to prevent. Run with SPARK_GRAFT_PROBE=fastest; stdout
    * committed as tools/scaleprobe_fastest_r12.txt.
    */
  private def fastestProbe(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    import graft.algorithms.TemporalGraph
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    val ev = graft.store.Tables.load(spark, sfDir, "events")
      .select(col("user_id").cast("long").as("u"),
        col("event_id").cast("long").as("eid"),
        unix_micros(col("ts")).as("t"))
      .localCheckpoint()
    val b = ev.agg(max(col("u")), min(col("u"))).head()
    val (nu, srcU) = (b.getLong(0) + 1, b.getLong(1))
    for (k <- Seq(1, 4, 16)) {
      val te = (0 until k).map { i =>
        ev.select((col("u") + lit(i * nu)).as("src"),
          ((col("u") + 1 + col("eid") % 97) % nu + lit(i * nu)).as("dst"),
          col("t"))
      }.reduce(_.unionByName(_)).localCheckpoint()
      val nEdges = te.count()
      val sources = (0 until k).map(i => srcU + i * nu).toDF("sid")
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val s0 = System.nanoTime()
        val nReached = TemporalGraph.fastestDurations(te, sources).count()
        val dt = (System.nanoTime() - s0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, nReached)
      }
      println(f"SCALE axis=fvolume-$k edges=$nEdges reached=${times.head._2} " +
        f"min=${times.map(_._1).min}%.2f s " +
        times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
    val chainLen = 30L
    for (d <- Seq(8L, 64L, 512L)) {
      val gate = spark.range(1L, d + 1)
        .select(lit(0L).as("src"), lit(1L).as("dst"), col("id").as("t"))
      val chain = spark.range(1L, chainLen)
        .select(col("id").as("src"), (col("id") + 1).as("dst"),
          (col("id") + d).as("t"))
      val te = gate.unionByName(chain).localCheckpoint()
      te.count()
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val res = TemporalGraph.fastestDurations(te, Seq(0L).toDF("sid"))
        .collect()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
      // every chain vertex v>=2 must close at duration (v-1): dep d,
      // arrive d+v-1 — a wrong Pareto prune would surface here
      val bad = res.count(r => r.getLong(1) >= 2 &&
        r.getLong(2) != r.getLong(1) - 1)
      println(f"SCALE axis=fdep-$d reached=${res.length} bad=$bad dt=$dt%.2f s")
    }
  }

  /** g46's scale axes (r13): the weighted fastest-duration sweep differs
    * from g38's by ONE codegen column term (arrival = t + w), so (a) the
    * volume axis must read within noise of the unweighted fvolume axis,
    * and (b) at full sf volume the w = 0 reduction must reproduce the
    * unweighted sweep ROW FOR ROW (exceptAll both ways empty) — the
    * delegation identity the g38/cy38 gates rely on, proven here at
    * scale, not just on the spec's hand graph. Run with
    * SPARK_GRAFT_PROBE=fastestw; stdout committed as
    * tools/scaleprobe_fastestw_r13.txt.
    */
  private def fastestWeightedProbe(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    import graft.algorithms.TemporalGraph
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    val ev = graft.store.Tables.load(spark, sfDir, "events")
      .select(col("user_id").cast("long").as("u"),
        col("event_id").cast("long").as("eid"),
        unix_micros(col("ts")).as("t"))
      .localCheckpoint()
    val b = ev.agg(max(col("u")), min(col("u"))).head()
    val (nu, srcU) = (b.getLong(0) + 1, b.getLong(1))
    def replicas(k: Int) = (0 until k).map { i =>
      ev.select((col("u") + lit(i * nu)).as("src"),
        ((col("u") + 1 + col("eid") % 97) % nu + lit(i * nu)).as("dst"),
        col("t"), (col("eid") % 5 + 1).as("w"))
    }.reduce(_.unionByName(_)).localCheckpoint()
    for (k <- Seq(1, 4, 16)) {
      val te = replicas(k)
      val nEdges = te.count()
      val sources = (0 until k).map(i => srcU + i * nu).toDF("sid")
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val s0 = System.nanoTime()
        val nReached =
          TemporalGraph.fastestDurationsWeighted(te, sources).count()
        val dt = (System.nanoTime() - s0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, nReached)
      }
      println(f"SCALE axis=fwvolume-$k edges=$nEdges reached=${times.head._2} " +
        f"min=${times.map(_._1).min}%.2f s " +
        times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
    // the w = 0 reduction identity at full sf volume
    val te1 = replicas(1)
    val src1 = Seq(srcU).toDF("sid")
    val un = TemporalGraph.fastestDurations(
      te1.select(col("src"), col("dst"), col("t")), src1)
    val w0 = TemporalGraph.fastestDurationsWeighted(
      te1.select(col("src"), col("dst"), col("t"), lit(0L).as("w")), src1)
    val diff = un.exceptAll(w0).count() + w0.exceptAll(un).count()
    val n = un.count()
    println(s"SCALE axis=fw-identity rows=$n diff=$diff")
  }

  /** g40's scale axes. (a) volume: k disjoint id-shifted replicas of the
    * TPC-H graph — sketch state is ≤16 rows/vertex by construction, so
    * time must grow linearly with |V|+|E|, never with Σ|ball| (which
    * grows much faster as radii deepen). (b) radius: rounds 2/4/8 on the
    * base graph — per-round cost is one edges⋈state join over a
    * SATURATING state relation, so marginal round cost must flatten,
    * where an exact closure's per-round cost would keep growing with
    * ball size. Run with SPARK_GRAFT_PROBE=anf; stdout committed as
    * tools/scaleprobe_anf_r12.txt.
    */
  private def anfProbe(spark: SparkSession, sfDir: String): Unit = {
    val base = graft.store.GraphStore.tpch(spark, sfDir)
      .allEdges.select(col("src"), col("dst")).localCheckpoint()
    base.count()
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    for (k <- Seq(1, 4, 16)) {
      val df = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong << 28)).as("src"),
          (col("dst") + lit(i.toLong << 28)).as("dst")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val nEdges = df.count()
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = graft.algorithms.GraphAlgorithms
          .neighborhoodFunction(df, 4).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, n)
      }
      println(f"SCALE axis=anfvol-$k edges=$nEdges rows=${times.head._2} " +
        f"min=${times.map(_._1).min}%.2f s " +
        times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
    anfRadiusSweep(spark, base, Seq(2, 4, 8), reps)
  }

  /** The g40 round-count axis on its own (r13 — the register-saturation
    * claim needs deeper rounds than the r12 2/4/8 sweep, which stops
    * right at this graph's effective diameter): rounds 4/8/16 at fixed
    * volume. Past saturation every round's edges⋈state join runs over an
    * UNCHANGED state relation, so the marginal per-round cost must
    * flatten to the AQE job floor — an exact-closure implementation's
    * per-round cost would keep growing with ball size instead. Run with
    * SPARK_GRAFT_PROBE=anfrounds; stdout committed as
    * tools/scaleprobe_anf_rounds_r13.txt.
    */
  private def anfRoundsProbe(spark: SparkSession, sfDir: String): Unit = {
    val base = graft.store.GraphStore.tpch(spark, sfDir)
      .allEdges.select(col("src"), col("dst")).localCheckpoint()
    base.count()
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    anfRadiusSweep(spark, base, Seq(4, 8, 16), reps)
  }

  /** g45's volume axis: k disjoint id-shifted replicas of the g22-domain
    * graph through the full gate shape (4 LPA rounds + the refinement
    * sweep + the digest). Every stage is |V|-or-|E|-sized aggregation and
    * equi-join with a fixed round count, so wall time must grow
    * (sub-)linearly with volume — a super-linear step would mean an
    * accidental pairs blowup in the kvc or gain relations. Run with
    * SPARK_GRAFT_PROBE=louvain; stdout committed as
    * tools/scaleprobe_louvain_r13.txt.
    */
  private def louvainProbe(spark: SparkSession, sfDir: String): Unit = {
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val base = Seq("PLACED", "CUST_NATION", "SUPP_NATION", "IN_REGION")
      .map(l => g.edges(l).select(col("src"), col("dst")))
      .reduce(_ unionByName _)
      .localCheckpoint()
    base.count()
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    for (k <- Seq(1, 4, 16)) {
      val df = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong << 28)).as("src"),
          (col("dst") + lit(i.toLong << 28)).as("dst")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val nEdges = df.count()
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val labels = graft.algorithms.GraphAlgorithms.labelPropagation(df, 4)
        val refined = graft.algorithms.GraphAlgorithms
          .louvainRefineOnce(df, labels)
        val digest = graft.algorithms.GraphAlgorithms
          .modularityDigestOf(df, refined).head()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, digest.getLong(3))
      }
      println(f"SCALE axis=louvain-$k edges=$nEdges comms=${times.head._2} " +
        f"min=${times.map(_._1).min}%.2f s " +
        times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
  }

  /** g48's hop-cap axis (r14): temporal stress on the g35 derived
    * temporal graph at fixed sf0.1 volume, k = 2/4/6 and source count
    * 3/12. Forward/backward state is bounded per level by
    * |S|·|distinct (v, t)| — never journey counts — so wall time must
    * grow at most linearly in k (2 joins + 2 aggregates per extra hop)
    * and sub-linearly in |S| (sources share every edge join). Run with
    * SPARK_GRAFT_PROBE=tstress; stdout committed as
    * tools/scaleprobe_tstress_r14.txt.
    */
  private def temporalStressProbe(spark: SparkSession, sfDir: String): Unit = {
    val ev = graft.store.Tables.load(spark, sfDir, "events")
      .select(col("user_id").cast("long").as("u"),
        col("event_id").cast("long").as("eid"),
        unix_micros(col("ts")).as("t"))
    val b = ev.agg(max(col("u")), min(col("t"))).head()
    val (nu, t0) = (b.getLong(0) + 1, b.getLong(1))
    val te = ev.select(col("u").as("src"),
        ((col("u") + 1 + col("eid") % 97) % nu).as("dst"), col("t"))
      .localCheckpoint()
    te.count()
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    for ((k, nSrc) <- Seq((2, 3), (4, 3), (6, 3), (4, 12))) {
      val srcs = ev.select(col("u")).distinct().orderBy(col("u")).limit(nSrc)
        .select(col("u").as("sid"), lit(t0).as("t0"))
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0n = System.nanoTime()
        graft.algorithms.TemporalGraph.temporalStress(te, srcs, k).count()
        val dt = (System.nanoTime() - t0n) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        dt
      }
      println(f"SCALE axis=tstress-k$k-s$nSrc min=${times.min}%.2f s " +
        times.map(t => f"$t%.2f").mkString("samples=[", ",", "]"))
    }
    // the FP twin at the gate budget: same sweeps + ONE extra (sid, id)
    // aggregate (the sigma_sw denominator) — expect near-parity with the
    // k=4, s=3 stress rung above, pinning that the x37 surface adds an
    // aggregate, not a new cost class
    val srcs3 = ev.select(col("u")).distinct().orderBy(col("u")).limit(3)
      .select(col("u").as("sid"), lit(t0).as("t0"))
    val keepTb = spark.sparkContext.getPersistentRDDs.keySet
    val tbTimes = (1 to reps).map { _ =>
      val t0n = System.nanoTime()
      graft.algorithms.TemporalGraph.temporalBetweenness(te, srcs3, 4).count()
      val dt = (System.nanoTime() - t0n) / 1e9
      spark.sparkContext.getPersistentRDDs
        .foreach { case (id, rdd) => if (!keepTb.contains(id)) rdd.unpersist(false) }
      dt
    }
    println(f"SCALE axis=tbetween-k4-s3 min=${tbTimes.min}%.2f s " +
      tbTimes.map(t => f"$t%.2f").mkString("samples=[", ",", "]"))
  }

  /** g52's pivot-count axis (r16): temporalPivotStress on the gate's
    * 1/16 log slice at k = 4, pivots 4/16/64/256. Unlike static
    * pivotStress — whose shared multi-source sweep measured FLAT to
    * 1024 pivots because level jobs dominate at the AQE job floor — the
    * temporal state is keyed (sid, vertex, arrival), so state VOLUME
    * grows with |S| and the curve shows where the data regime takes
    * over from the job floor. Whole-log cost stays ∝ |S| either way:
    * the estimator's 100× argument is that |S| is CHOSEN, not |sources|.
    * Run with SPARK_GRAFT_PROBE=tpivotstress; stdout committed as
    * tools/scaleprobe_tpivotstress_r16.txt.
    */
  private def temporalPivotStressProbe(spark: SparkSession, sfDir: String): Unit = {
    val ev = graft.store.Tables.load(spark, sfDir, "events")
      .where(col("event_id") % 16 === 0)
      .select(col("user_id").cast("long").as("u"),
        col("event_id").cast("long").as("eid"),
        unix_micros(col("ts")).as("t"))
    val nu = ev.agg(max(col("u"))).head().getLong(0) + 1
    val te = ev.select(col("u").as("src"),
        ((col("u") + 1 + col("eid") % 97) % nu).as("dst"), col("t"))
      .localCheckpoint()
    te.count()
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    for (n <- Seq(4, 16, 64, 256)) {
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0n = System.nanoTime()
        graft.algorithms.TemporalGraph.temporalPivotStress(te, n, 4).count()
        val dt = (System.nanoTime() - t0n) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        dt
      }
      println(f"SCALE axis=tpivotstress-$n min=${times.min}%.2f s " +
        times.map(t => f"$t%.2f").mkString("samples=[", ",", "]"))
    }
  }

  /** x16's SKEW axis (r14): the salted join measured against plain
    * shuffle joins on a deliberately pathological key — one hot key
    * carrying 80% of a 20M-row fact side (16M rows on one reducer vs the
    * ~125k average: >100× imbalance — the celebrity-key regime) against
    * a 250k-row dimension, with auto-broadcast disabled for the
    * experiment so the planner cannot sidestep the shuffle. plain-shj
    * pins the hot key's 16M rows on ONE reducer; plain-smj lets AQE's
    * OptimizeSkewedJoin
    * split the sort-merge partition; salted-16 spreads the key across 16
    * reducers by construction, independent of join strategy — the
    * single-key case x16 only proved parity for. Run with
    * SPARK_GRAFT_PROBE=skewjoin; stdout committed as
    * tools/scaleprobe_skewjoin_r14.txt.
    */
  private def skewJoinProbe(spark: SparkSession): Unit = {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val nLarge = 20000000L
      val nDim = 250000L
      val large = spark.range(nLarge).select(
          when(col("id") % 10 <= 7, lit(7L))
            .otherwise(pmod(col("id") * lit(2654435761L), lit(nDim))).as("key"),
          col("id").as("payload"))
        .localCheckpoint()
      large.count()
      val dim = spark.range(nDim).select(col("id").as("key"),
          (col("id") * lit(31L)).as("dval"))
        .localCheckpoint()
      dim.count()
      val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
      def run(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
        val keepRun = spark.sparkContext.getPersistentRDDs.keySet
        var rows = 0L
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          rows = mk.count()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.getPersistentRDDs
            .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
          dt
        }
        println(f"SCALE axis=skewjoin-$label rows=$rows min=${times.min}%.2f s " +
          times.map(t => f"$t%.2f").mkString("samples=[", ",", "]"))
      }
      run("plain-shj") {
        large.hint("shuffle_hash").join(dim, Seq("key"))
      }
      run("plain-smj") {
        large.hint("merge").join(dim, Seq("key"))
      }
      run("salted-16") {
        graft.operators.SkewJoin.saltedJoin(large, dim, Seq("key"), 16)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  /** g47's volume axis: k disjoint id-shifted replicas of the g22-domain
    * graph through the full multi-level gate shape (parity sub-round
    * sweeps to fixpoint-or-budget, coarsen, repeat, digest). Level 1
    * dominates (2|E| closure); every later level works on the strictly
    * smaller community graph, so wall time must grow (sub-)linearly with
    * volume and the LEVEL count must stay flat — replicas are disjoint,
    * so more volume never needs more levels. Run with
    * SPARK_GRAFT_PROBE=louvainlevels; stdout committed as
    * tools/scaleprobe_louvainlevels_r14.txt.
    */
  private def louvainLevelsProbe(spark: SparkSession, sfDir: String): Unit = {
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val base = Seq("PLACED", "CUST_NATION", "SUPP_NATION", "IN_REGION")
      .map(l => g.edges(l).select(col("src"), col("dst")))
      .reduce(_ unionByName _)
      .localCheckpoint()
    base.count()
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    for (k <- Seq(1, 4, 16)) {
      val df = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong << 28)).as("src"),
          (col("dst") + lit(i.toLong << 28)).as("dst")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val nEdges = df.count()
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val (flat, nLevels) =
          graft.algorithms.GraphAlgorithms.louvainLevels(df)
        val digest = graft.algorithms.GraphAlgorithms
          .modularityDigestOf(df, flat).head()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, nLevels, digest.getLong(3))
      }
      println(f"SCALE axis=louvainlevels-$k edges=$nEdges " +
        f"levels=${times.head._2} comms=${times.head._3} " +
        f"min=${times.map(_._1).min}%.2f s " +
        times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
  }

  /** g51's volume axis (r16): the louvainlevels replica probe through
    * the WEIGHTED entry. Every edge carries a deterministic positive
    * LONG weight and each row is emitted TWICE with different weights
    * (w and w+2), so weightedClosure's parallel-edge SUM aggregate —
    * the one stage the unweighted axis never exercises (its closure is
    * a `.distinct()`) — is on the measured path at full volume, along
    * with the loud weight-validation aggregate. Expect the same
    * (sub-)linear volume scaling as the unweighted axis: both extra
    * stages are single map-side-combinable passes over 2|E| rows. Run
    * with SPARK_GRAFT_PROBE=louvainweighted; stdout committed as
    * tools/scaleprobe_louvainweighted_r16.txt.
    */
  private def louvainWeightedProbe(spark: SparkSession, sfDir: String): Unit = {
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val w1 = Seq("PLACED", "CUST_NATION", "SUPP_NATION", "IN_REGION")
      .map(l => g.edges(l).select(col("src"), col("dst")))
      .reduce(_ unionByName _)
      .withColumn("w", (col("src") + col("dst")) % 7 + 1)
    val base = w1.unionByName(w1.withColumn("w", col("w") + 2L))
      .localCheckpoint()
    base.count()
    val reps = sys.env.get("SPARK_GRAFT_PROBE_REPS").map(_.trim.toInt).getOrElse(3)
    for (k <- Seq(1, 4, 16)) {
      val df = (0 until k).map(i =>
        base.select((col("src") + lit(i.toLong << 28)).as("src"),
          (col("dst") + lit(i.toLong << 28)).as("dst"), col("w")))
        .reduce(_ unionByName _)
        .localCheckpoint()
      val nEdges = df.count()
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val (flat, nLevels) = graft.algorithms.GraphAlgorithms
          .louvainLevels(df, weightCol = Some("w"))
        val nComms = flat.select(col("lbl")).distinct().count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        (dt, nLevels, nComms)
      }
      println(f"SCALE axis=louvainweighted-$k edges=$nEdges " +
        f"levels=${times.head._2} comms=${times.head._3} " +
        f"min=${times.map(_._1).min}%.2f s " +
        times.map(t => f"${t._1}%.2f").mkString("samples=[", ",", "]"))
    }
  }

  private def anfRadiusSweep(spark: SparkSession,
      base: org.apache.spark.sql.DataFrame,
      radii: Seq[Int], reps: Int): Unit = {
    for (r <- radii) {
      val keepRun = spark.sparkContext.getPersistentRDDs.keySet
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.algorithms.GraphAlgorithms.neighborhoodFunction(base, r).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) => if (!keepRun.contains(id)) rdd.unpersist(false) }
        dt
      }
      println(f"SCALE axis=anfradius-$r min=${times.min}%.2f s " +
        times.map(t => f"$t%.2f").mkString("samples=[", ",", "]"))
    }
  }
}
