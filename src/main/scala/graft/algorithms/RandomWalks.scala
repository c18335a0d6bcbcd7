package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.TextHash
import graft.util.Checkpoints

/** Deterministic hash-guided random walks — the DeepWalk / node2vec
  * sampling primitive (walk corpora feeding skip-gram style embedding
  * training) without any RNG state: at step t, walk (s, w) moves to the
  * out-neighbor u minimizing h32("s|w|t|u"). Each (walk, step) draw is an
  * independent uniform-ish choice over the neighbor set, yet the whole
  * corpus is a pure function of the graph — re-running on another cluster
  * (or another engine: the same argmin is plain SQL over md5, so the gate
  * is oracle-checked bit-for-bit) reproduces it exactly. The reference has
  * no sampling surface at all; this is the Spark-native one.
  *
  * Scale shape: walk state is one (start_id, walk, id) row per live walk —
  * O(|starts| * walksPerStart), never per-path arrays. Each step is ONE
  * join of the immutable edge cut against the walk frontier
  * (count-gated broadcast with a shuffle fallback — a node2vec-scale
  * frontier of |V|*r walks exceeds the gate and shuffles on the vertex
  * key) plus ONE partial-aggregated argmin shuffle keyed (start_id, walk).
  * Walks at a sink vertex simply stop (their frontier row emits no
  * candidate), matching the walk-truncation semantics of DeepWalk corpora
  * on DAG-shaped graphs.
  */
object RandomWalks {

  /** Walk id column type is INT (walksPerStart is a small per-source
    * fan-out constant; the scale axis is |starts|).
    * Returns (start_id, walk, step, id) for every visited position,
    * including step 0 at the start vertex.
    */
  def hashWalks(edges: DataFrame, starts: DataFrame, steps: Int,
      walksPerStart: Int = 1,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame = {
    require(steps >= 0, "steps must be >= 0")
    require(walksPerStart >= 1, "walksPerStart must be >= 1")
    val spark = edges.sparkSession
    Checkpoints.owned(spark) { cuts =>
      val e = cuts(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
      val walkIds = spark.range(1, walksPerStart + 1L)
        .select(col("id").cast("int").as("walk"))
      var frontier = cuts(starts.select(col("id").cast("long").as("start_id"))
        .distinct()
        .crossJoin(broadcast(walkIds)) // |walksPerStart| rows — a constant
        .select(col("start_id"), col("walk"), col("start_id").as("id")))
      var out = frontier.withColumn("step", lit(0))
      var live = frontier.count()
      var step = 0
      while (step < steps && live > 0) {
        step += 1
        val f = if (live <= maxBroadcastRows) broadcast(frontier) else frontier
        // the per-(walk, step) draw: h32 over "start|walk|step|candidate" —
        // identical text rendering in DuckDB (BIGINT/INT || coerce to the
        // same decimal digits), so the oracle replays the exact choice
        val cand = e.join(f, f("id") === e("src"))
          .select(f("start_id"), f("walk"), e("dst"))
          .withColumn("h", TextHash.h32(concat_ws("|",
            col("start_id"), col("walk"), lit(step), col("dst"))))
        // argmin via min(struct): ties (hash collisions between two
        // neighbors of one walk) break to the smaller vertex id — total
        // order, mirrored by the oracle's ORDER BY h, dst
        val next = cuts(cand.groupBy(col("start_id"), col("walk"))
          .agg(min(struct(col("h"), col("dst"))).as("m"))
          .select(col("start_id"), col("walk"), col("m.dst").as("id")))
        // ONE job per step: the count materializes the lazy cut and
        // decides both termination and the next broadcast gate
        live = next.count()
        out = out.unionByName(next.withColumn("step", lit(step)))
        frontier = next
      }
      // the steps are materialized and read nothing of the edge cut, which
      // the scope frees; the steps go to the caller
      cuts.keep(out.select(col("start_id"), col("walk"), col("step"), col("id")))
    }
  }

  /** node2vec-biased hash walks (Grover & Leskovec, KDD 2016) — the
    * second-order walk corpus that tunes exploration between BFS-like
    * (large q: avoid distance-2 moves) and DFS-like (small q), with p
    * damping immediate returns. The bias stays ZERO-RNG (the g27/g33
    * convention): the node2vec transition weights 1/p (return), 1
    * (common neighbor), 1/q (outward) are scaled by p·q to the INTEGER
    * weights q / p·q / p, and weighted sampling is exact replica-argmin —
    * candidate u with weight w contributes replicas (u, r) for r = 1..w,
    * each hashed h32("s|walk|step|u|r"), and the walk takes the argmin
    * (ties to the smaller vertex id). Each replica's hash is an
    * independent uniform draw, so u wins with probability w_u / Σw
    * exactly, yet the whole corpus is a pure function of the graph —
    * SQL-replayable bit-for-bit (unnest(range) mirrors the explode).
    * p = q = 1 is uniform sampling but NOT bit-identical to [[hashWalks]]
    * (the hash text carries the replica index); callers wanting the g27
    * corpus call hashWalks.
    *
    * Walk state carries (prev, cur) — one row per live walk, the
    * hashWalks scale shape plus ONE broadcast-gated membership join per
    * step against the distinct edge set (is (prev, cand) an edge — the
    * distance-1 test). Step 1 has no prev and draws uniformly (weight 1,
    * one replica). Extremes (AlgorithmsSpec): p→∞ never returns, q→∞
    * never steps to distance-2 candidates while a distance-≤1 one exists.
    */
  def node2vecWalks(edges: DataFrame, starts: DataFrame, steps: Int,
      walksPerStart: Int = 1, p: Int = 1, q: Int = 1,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame = {
    require(steps >= 0, "steps must be >= 0")
    require(walksPerStart >= 1, "walksPerStart must be >= 1")
    // replica count per candidate is bounded by p*q — keep the fan-out a
    // small constant (the weights only need the RATIO q : pq : p, so
    // large p/q values gain nothing a threshold can't)
    require(p >= 1 && q >= 1 && p.toLong * q <= 64L,
      s"node2vecWalks: p, q must be >= 1 with p*q <= 64, got ($p, $q)")
    val spark = edges.sparkSession
    Checkpoints.owned(spark) { cuts =>
      val e = cuts(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
      // the distance-1 membership side: distinct so a multi-edge cannot
      // double a candidate's replica set
      val adj = cuts(e.distinct().select(col("src").as("p_src"),
        col("dst").as("p_dst")))
      val walkIds = spark.range(1, walksPerStart + 1L)
        .select(col("id").cast("int").as("walk"))
      var frontier = cuts(starts.select(col("id").cast("long").as("start_id"))
        .distinct()
        .crossJoin(broadcast(walkIds))
        .select(col("start_id"), col("walk"),
          lit(null).cast("long").as("prev"), col("start_id").as("id")))
      var out = frontier.select(col("start_id"), col("walk"),
        lit(0).as("step"), col("id"))
      var live = frontier.count()
      var step = 0
      while (step < steps && live > 0) {
        step += 1
        val f = if (live <= maxBroadcastRows) broadcast(frontier) else frontier
        // distance-1 test, prev-confined (r18 bench finding: joining the
        // candidates against the FULL distinct edge set shuffled |E| rows
        // per step — 8.5 s vs g27's ~2 s at sf0.1). Only edges whose source
        // is a live prev can mark a candidate, so semi-filter the edge set
        // by the ≤|frontier| prev values first (broadcast-gated like the
        // frontier join): the |E| relation is only SCANNED map-side, and
        // the marker join runs against the slim slice (AQE sizes it).
        val prevs = frontier.select(col("prev").as("p_src"))
          .where(col("p_src").isNotNull).distinct()
        val adjSlim = adj.join(
          if (live <= maxBroadcastRows) broadcast(prevs) else prevs,
          Seq("p_src"), "left_semi")
        val cand = e.join(f, f("id") === e("src"))
          .select(f("start_id"), f("walk"), f("prev"), f("id").as("cur"),
            e("dst"))
          // distance-1 marker: is (prev, dst) itself an edge?
          .join(adjSlim,
            col("prev") === col("p_src") && col("dst") === col("p_dst"),
            "left")
        // the scaled integer node2vec weights; step 1 (prev NULL) is the
        // uniform draw. Order matters: dst == prev is distance 0 even when
        // (prev, dst) is also an edge (a 2-cycle).
        val weighted = cand.withColumn("wt",
            when(col("prev").isNull, lit(1))
              .when(col("dst") === col("prev"), lit(q))
              .when(col("p_src").isNotNull, lit(p * q))
              .otherwise(lit(p)))
          .select(col("start_id"), col("walk"), col("cur"), col("dst"),
            explode(sequence(lit(1), col("wt"))).as("r"))
          .withColumn("h", TextHash.h32(concat_ws("|",
            col("start_id"), col("walk"), lit(step), col("dst"), col("r"))))
        val next = cuts(weighted.groupBy(col("start_id"), col("walk"))
          .agg(min(struct(col("h"), col("dst"))).as("m"),
            min(col("cur")).as("prev")) // cur is constant per (start, walk)
          .select(col("start_id"), col("walk"), col("prev"),
            col("m.dst").as("id")))
        live = next.count()
        out = out.unionByName(
          next.select(col("start_id"), col("walk"), lit(step).as("step"),
            col("id")))
        frontier = next
      }
      // the edge and membership cuts back nothing in the materialized steps
      // and the scope frees them; the steps go to the caller
      cuts.keep(out.select(col("start_id"), col("walk"), col("step"), col("id")))
    }
  }
}
