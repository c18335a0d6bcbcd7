package graft.algorithms

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Checkpoints

/** Whole-graph analytics on GraphX (beyond the reference's algorithm set —
  * its rayon helpers never wire into anything, SURVEY.md §2.6 G7; Spark
  * gives us the full Pregel family).
  */
object GraphAlgorithms {

  private def toGraph(spark: SparkSession, edges: DataFrame): Graph[Int, Int] = {
    import spark.implicits._
    val edgeRdd = edges.select("src", "dst").as[(Long, Long)].rdd
      .map { case (s, d) => Edge(s, d, 1) }
    Graph.fromEdges(edgeRdd, 0)
  }

  /** Standard PageRank (damping 0.85), returns (id, rank). Fixed iteration
    * count: tolerance-based convergence runs an unbounded, data-dependent
    * number of Pregel rounds — a bounded budget is the predictable choice
    * for both a bench gate and a production job slot.
    */
  def pageRank(spark: SparkSession, edges: DataFrame, numIter: Int = 10): DataFrame = {
    import spark.implicits._
    toGraph(spark, edges).staticPageRank(numIter).vertices.toDF("id", "rank")
  }

  /** Connected components (undirected): (id, component) where component is
    * the minimum vertex id in the component — deterministic.
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    toGraph(spark, edges).connectedComponents().vertices.toDF("id", "component")
  }

  /** Degree table: (id, in_degree, out_degree) via two aggregations —
    * DataFrame-native, no GraphX needed.
    */
  def degrees(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_degree"))
    val in = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_degree"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"))
  }

  /** Deterministic distributed PageRank (damping 0.85, fixed iterations)
    * over DataFrames, in 10^-12 fixed-point LONG arithmetic: contributions
    * are integer-divided by out-degree, summed exactly (integer addition is
    * associative — the shuffle's reduction order cannot change the result),
    * and damped with integer ops. No floating point exists anywhere in the
    * fixpoint, so the iteration is run-to-run stable on a cluster and
    * oracle-checkable bit-for-bit across engines (GraphX's double-summing
    * pageRank is neither; even decimal sums break at the decimal->double
    * seam, which engines round differently). The final rank converts
    * long->double once — a single correctly-rounded operation everywhere.
    * Multigraph semantics: parallel edges each carry mass.
    */
  /** Vertex-state row ceiling for broadcasting rank/degree relations in
    * pageRankStable — (id, long) rows, tens of MB at the ceiling; same
    * pattern as Traversals.BroadcastFrontierRows (checkpoints carry no
    * stats, so AQE can't make this call itself). Measured against the
    * alternatives at sf0.1: gated broadcast beats both per-iteration
    * sort-merge joins (sorts the edge set every iteration) and a lazy
    * one-job chain (AQE re-plans each checkpoint independently).
    */
  val BroadcastVertexRows: Long = 4L << 20

  /** `broadcastCeiling` exists for tests to force the large-graph
    * shuffle-hash path; production callers keep the default.
    * `chainDepth` = iterations folded into one plan between checkpoints:
    * each un-checkpointed iteration is one nested broadcast exchange (the
    * chain is linear, nothing duplicates), trading job boundaries +
    * |V|-relation materializations for plan depth. 1 = checkpoint every
    * iteration (the cluster-safe default); small graphs profile fastest
    * around 5.
    */
  def pageRankStable(edges: DataFrame, iters: Int = 10,
      broadcastCeiling: Long = BroadcastVertexRows,
      chainDepth: Int = 1): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    require(chainDepth >= 1, "chainDepth must be >= 1")
    val e = cuts(edges.select("src", "dst"))
    // vertex state carries the (static) out-degree so an iteration touches
    // exactly one |V|-sized relation: broadcast pr, join edges, shuffle the
    // mass groupBy, rebuild pr — ONE broadcast + ONE shuffle per iteration.
    // (id, deg) in ONE partial-aggregated shuffle over 2|E| tagged rows:
    // src rows count toward out-degree, dst rows only assert existence —
    // replaces the groupBy + distinct + join (three shuffles) build.
    val verts = cuts(e.select(col("src").as("id"), lit(1L).as("c"))
      .unionByName(e.select(col("dst").as("id"), lit(0L).as("c")))
      .groupBy(col("id")).agg(sum(col("c")).as("deg")))
    // when |V| fits the broadcast ceiling the edge set is never shuffled
    // or sorted; a billion-vertex graph falls back to a shuffle-HASH join
    // (hinted: rank relations arrive hash-partitioned from the previous
    // iteration's groupBy, and hashing beats re-sorting the edge set every
    // iteration, which is what an unhinted sort-merge plan would do)
    val nVerts = verts.count()
    def small(df: DataFrame): DataFrame =
      if (nVerts <= broadcastCeiling) broadcast(df) else df.hint("shuffle_hash")
    // prf = rank * 10^12; initial rank 1.0
    var pr = verts.withColumn("prf", lit(1000000000000L))
    for (i <- 1 to iters) {
      val contrib = e.join(
          small(pr.where(col("deg") > 0)
            .select(col("id"), expr("prf div deg").as("m"))),
          col("id") === e("src"))
        .select(e("dst").as("id"), lit(0L).as("deg"), col("m"))
      // the rank rebuild is folded into the mass shuffle: every vertex
      // contributes one zero-mass self row carrying its (static) out-degree,
      // so ONE partial-aggregated groupBy yields the next rank relation —
      // no per-iteration join against verts (which, being checkpointed and
      // statless, would sort-merge both sides every iteration)
      pr = contrib
        .unionByName(verts.select(col("id"), col("deg"), lit(0L).as("m")))
        .groupBy(col("id"))
        // 0.15*10^12 + (0.85 * mass) in integer fixed-point
        .agg(max(col("deg")).as("deg"),
          expr("150000000000 + (85 * sum(m)) div 100").as("prf"))
      // lazy cut every chainDepth iterations: the next iteration's
      // broadcast collect (or the caller's action) materializes it —
      // exactly one materialization of exactly chainDepth shuffles
      if (i % chainDepth == 0 || i == iters) pr = cuts(pr)
    }
    // the last cut is lazy and reads the chain behind it: every cut goes
    // to the caller
    cuts.keepAll()
    pr.select(col("id"), (col("prf").cast("double") / lit(1e12)).as("pr"))
  }

  /** Weighted PageRank in the same 10^-12 fixed-point LONG arithmetic as
    * pageRankStable: each out-edge carries an integer weight column `w`
    * and ships mass (prf * w) div W_src, where W_src is the vertex's
    * total out-weight — the standard weighted-transition generalization
    * (uniform w = 1 degenerates to pageRankStable exactly). All
    * arithmetic stays in Long (prf <= ~10^12 and integer weights keep
    * prf * w far from overflow for any realistic weight scale), so the
    * fixpoint is shuffle-order independent and oracle-checkable
    * bit-for-bit. Dangling vertices drop their mass (the pageRankStable
    * convention, mirrored in the oracle). Per-iteration cost is identical
    * to the unweighted variant: one gated-broadcast (or shuffle-hash)
    * join over the weighted edge checkpoint + one partial-aggregated |V|
    * shuffle.
    */
  def pageRankWeighted(edges: DataFrame, iters: Int = 10,
      broadcastCeiling: Long = BroadcastVertexRows,
      chainDepth: Int = 1): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    require(chainDepth >= 1, "chainDepth must be >= 1")
    val e = cuts(edges.select(col("src"), col("dst"),
      col("w").cast("long").as("w")))
    // (id, total out-weight) in ONE partial-aggregated shuffle over the
    // tagged 2|E| rows — the pageRankStable degree build with w as the
    // src-side tag
    val verts = cuts(e.select(col("src").as("id"), col("w").as("c"))
      .unionByName(e.select(col("dst").as("id"), lit(0L).as("c")))
      .groupBy(col("id")).agg(sum(col("c")).as("wsum")))
    val nVerts = verts.count()
    def small(df: DataFrame): DataFrame =
      if (nVerts <= broadcastCeiling) broadcast(df) else df.hint("shuffle_hash")
    var pr = verts.withColumn("prf", lit(1000000000000L))
    for (i <- 1 to iters) {
      // pr carries wsum (static per vertex), so ONE join computes the
      // per-edge mass — the pageRankStable shape with the weight ratio
      val contrib = e.join(
          small(pr.where(col("wsum") > 0)
            .select(col("id"), col("prf"), col("wsum").as("ws"))),
          col("id") === e("src"))
        .select(e("dst").as("id"), lit(0L).as("wsum"),
          expr("(prf * w) div ws").as("m"))
      pr = contrib
        .unionByName(verts.select(col("id"), col("wsum"), lit(0L).as("m")))
        .groupBy(col("id"))
        .agg(max(col("wsum")).as("wsum"),
          expr("150000000000 + (85 * sum(m)) div 100").as("prf"))
      if (i % chainDepth == 0 || i == iters) pr = cuts(pr)
    }
    cuts.keepAll() // the lazy last cut reads the chain, as in pageRankStable
    pr.select(col("id"), (col("prf").cast("double") / lit(1e12)).as("wpr"))
  }

  /** Personalized PageRank (single- or multi-source teleport), in the same
    * 10^-12 fixed-point LONG arithmetic as pageRankStable — deterministic
    * across runs/engines, oracle-checkable bit-for-bit. Differences from
    * the global variant: initial mass and the per-iteration teleport land
    * ONLY on the source set (CASE on the grouping key — no extra join), so
    * rank measures proximity to the sources rather than global centrality.
    * Dangling mass is dropped, like pageRankStable (documented
    * simplification, mirrored in the oracle). Per-iteration cost is
    * identical: one gated-broadcast (or shuffle-hash) join over the edge
    * relation + one partial-aggregated |V| shuffle.
    */
  def personalizedPageRank(edges: DataFrame, sources: Seq[Long],
      iters: Int = 10, broadcastCeiling: Long = BroadcastVertexRows,
      chainDepth: Int = 1): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    require(sources.nonEmpty, "personalizedPageRank needs at least one source")
    require(chainDepth >= 1, "chainDepth must be >= 1")
    val e = cuts(edges.select("src", "dst"))
    val verts = cuts(e.select(col("src").as("id"), lit(1L).as("c"))
      .unionByName(e.select(col("dst").as("id"), lit(0L).as("c")))
      .groupBy(col("id")).agg(sum(col("c")).as("deg")))
    val nVerts = verts.count()
    def small(df: DataFrame): DataFrame =
      if (nVerts <= broadcastCeiling) broadcast(df) else df.hint("shuffle_hash")
    val isSrc = col("id").isInCollection(sources)
    // initial mass 1.0 per source; teleport 0.15 per source per iteration
    var pr = verts.withColumn("prf",
      when(isSrc, lit(1000000000000L)).otherwise(lit(0L)))
    for (i <- 1 to iters) {
      val contrib = e.join(
          small(pr.where(col("deg") > 0 && col("prf") > 0)
            .select(col("id"), expr("prf div deg").as("m"))),
          col("id") === e("src"))
        .select(e("dst").as("id"), lit(0L).as("deg"), col("m"))
      pr = contrib
        .unionByName(verts.select(col("id"), col("deg"), lit(0L).as("m")))
        .groupBy(col("id"))
        .agg(max(col("deg")).as("deg"),
          (when(isSrc, lit(150000000000L)).otherwise(lit(0L)) +
            expr("(85 * sum(m)) div 100")).as("prf"))
      if (i % chainDepth == 0 || i == iters) pr = cuts(pr)
    }
    cuts.keepAll() // the lazy last cut reads the chain, as in pageRankStable
    pr.select(col("id"), (col("prf").cast("double") / lit(1e12)).as("ppr"))
  }

  /** Katz centrality index, all-integer and exact: with attenuation
    * alpha = 1/beta and a fixed horizon L, the standard
    * katz(v) = sum_l alpha^l * paths_l(v) (paths_l = directed walks of
    * length l ENDING at v) rescaled by beta^L is
    * sum_l beta^(L-l) * paths_l(v) — pure BIGINT arithmetic, so the sum
    * is shuffle-order-independent and oracle-checkable bit-for-bit
    * (the float katz divides once at the surface, the x17 precedent).
    * The truncated-horizon form is the textbook power-series
    * approximation (Katz 1953; Newman, Networks §7.3) — exact on a DAG
    * once L reaches the longest path.
    *
    * Per level: ONE gated-broadcast (or shuffle-hash) join of the
    * |V|-bounded path-count relation against the immutable edge
    * cut plus ONE partial-aggregated shuffle keyed on the head
    * vertex — the pageRankStable cost shape, terminating early when the
    * level empties (DAGs) rather than burning the full budget.
    */
  def katzIndex(edges: DataFrame, maxLen: Int = 6, beta: Long = 4L,
      broadcastCeiling: Long = BroadcastVertexRows): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    require(maxLen >= 1, "katzIndex needs at least one level")
    require(beta >= 2, "beta must be >= 2 (alpha = 1/beta < 1)")
    val e = cuts(edges.select("src", "dst"))
    val verts = cuts(e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct())
    val nVerts = verts.count()
    def small(df: DataFrame): DataFrame =
      if (nVerts <= broadcastCeiling) broadcast(df) else df.hint("shuffle_hash")
    var paths = verts.withColumn("c", lit(1L)) // paths_0: the empty walk
    val levels = scala.collection.mutable.ArrayBuffer.empty[(Int, DataFrame)]
    var level = 0
    var live = nVerts
    while (level < maxLen && live > 0) {
      level += 1
      paths = cuts(e.join(small(paths), col("id") === e("src"))
        .groupBy(e("dst").as("id")).agg(sum(col("c")).as("c")))
      live = paths.count() // materializes the level + terminates on empty
      if (live > 0) levels += ((level, paths))
    }
    // ONE weighted union-aggregate over the checkpointed levels (instead
    // of a per-level |V| accumulator shuffle): level l enters at its final
    // beta^(maxLen-l) weight — levels past an early frontier death are
    // empty and contribute nothing, so the result equals the full-budget
    // run (and the oracle's statically-unrolled maxLen levels)
    val scores =
      if (levels.isEmpty) verts.withColumn("k", lit(0L))
      else levels.map { case (l, df) =>
        df.select(col("id"),
          (col("c") * lit(Seq.fill(maxLen - l)(beta).product)).as("k"))
      }.reduce(_.unionByName(_))
        .groupBy(col("id")).agg(sum(col("k")).as("k"))
    // the levels are materialized: the scope frees the edge cut and an
    // empty last level, and hands verts and the levels to the caller
    cuts.keep(verts.join(scores, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("k"), lit(0L)).as("katz")))
  }

  /** Synchronous label propagation (community detection), deterministic:
    * labels start as the vertex id; each round every vertex adopts the most
    * frequent label among its distinct undirected neighbors (parallel edges
    * vote once; self-loops vote nothing), ties broken by the SMALLEST
    * label; a vertex with no neighbors keeps its current label. Fixed
    * iteration budget: sync LPA oscillates on bipartite structure, so a
    * bounded budget is the deterministic, oracle-checkable choice — the
    * same rationale as pageRankStable's fixed iters (the reference ships
    * no community detection at all; this follows Raghavan et al. 2007,
    * "Near linear time algorithm to detect community structures").
    * Per round: the frequency aggregation partially combines on
    * (dst, lbl) in ONE message shuffle over the 2|E| relation; the argmax
    * folds into a second |distinct pairs|-sized aggregate via
    * max(struct(cnt, -lbl)) — no window function, so no single-partition
    * sort anywhere. Label relations are (id, long) rows and join the edge
    * relation under the same gated broadcast as pageRankStable (count
    * measured once; billion-vertex graphs fall back to shuffle-hash).
    */
  def labelPropagation(edges: DataFrame, iters: Int = 4,
      broadcastCeiling: Long = BroadcastVertexRows): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    require(iters >= 1, "labelPropagation needs at least one iteration")
    val e0 = edges.select("src", "dst").where(col("src") =!= col("dst"))
    val und = cuts(e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val verts = cuts(edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id")))
      .distinct())
    val nVerts = verts.count()
    def small(df: DataFrame): DataFrame =
      if (nVerts <= broadcastCeiling) broadcast(df)
      else df.hint("shuffle_hash")
    var lbl = verts.withColumn("lbl", col("id"))
    for (_ <- 1 to iters) {
      // neighbor votes, counted per (vertex, label) with map-side combine;
      // each vertex also casts a ZERO-count self-vote carrying its current
      // label — it loses to any real vote (c >= 1) and cannot perturb ties
      // between real votes, but wins when no neighbor votes arrive, so the
      // keep-own-label rule folds into the same aggregation instead of a
      // separate coalesce join (one broadcast + one join per round saved)
      val freq = und.join(small(lbl), col("id") === und("src"))
        .groupBy(und("dst").as("vid"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .unionByName(lbl.select(col("id").as("vid"), col("lbl"), lit(0L).as("c")))
      // lineage cut per round, lazily materialized by the next round's
      // broadcast collect (or the caller's action) — pageRankStable's shape
      lbl = cuts(freq.groupBy(col("vid"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("b"))
        .select(col("vid").as("id"), (-col("b.nl")).as("lbl")))
    }
    cuts.keepAll() // the lazy last cut reads the chain, as in pageRankStable
    lbl
  }

  /** Connected components natively on DataFrames: min-label propagation
    * with pointer-jumping shortcuts — each propagation round every vertex
    * takes the minimum component id among itself and its neighbors, then
    * the label-pointer forest is flattened to fixpoint (comp := comp∘comp,
    * each jump halving remaining pointer depth). Labels are monotone
    * non-increasing and always vertex ids inside the component, so
    * shortcutting preserves the min-id fixpoint while cutting round count
    * from O(diameter) to O(log D) propagation rounds + O(log D) total
    * jumps — the alternating contract/flatten scheme of Kiveris et al.
    * (Connected Components in MapReduce and Beyond). A 100×-deeper chain
    * costs additively more rounds, not multiplicatively (measured axis:
    * tools/scaleprobe_cc_chain_r10.txt). Each jump round joins only the
    * |V|-sized label relation with itself (broadcast-gated) — the 2|E|
    * relation is touched only by propagation rounds. Same min-id labels as
    * the GraphX version, cross-validated in AlgorithmsSpec; checkpointed
    * loop shape matches Traversals (lineage cut per round, loop terminated
    * by the same count that materializes the round).
    */
  def connectedComponentsDF(edges: DataFrame): DataFrame =
    connectedComponentsRounds(edges)._1

  /** connectedComponentsDF plus (propagation rounds, jump rounds) —
    * ScaleProbe's chain axis pins the sub-O(D) round growth with these.
    */
  def connectedComponentsRounds(edges: DataFrame): (DataFrame, Int, Int) =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    val und = cuts(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))))
    var comp = cuts(und.select(col("src").as("id"))
      .distinct().withColumn("component", col("id")))
    // same gated propagation join as pageRankStable: broadcast the |V|
    // label relation while it fits, shuffle-HASH past the ceiling (labels
    // arrive hash-partitioned from the round aggregate; never re-sort the
    // edge set per round)
    val nVerts = comp.count()
    def small(df: DataFrame): DataFrame =
      if (nVerts <= BroadcastVertexRows) broadcast(df) else df.hint("shuffle_hash")
    // Round shape: (1) propagation — the only stage that touches the 2|E|
    // relation, materialized ONCE per round by the convergence count;
    // (2) flatten — `jumps` label-compositions against that SAME
    // materialized relation (label := p[p[p[p[v]]]]), so the pointer
    // chain contracts (jumps+1)× per round for the cost of ONE |V|
    // broadcast collect and ONE |V| count: the chained joins all consume
    // the same broadcast and fuse into a single codegen span. comp[w] <= w
    // always, so every composition is monotone.
    // Termination: a fixed (jumps+1)-step composition does NOT flatten an
    // arbitrary-depth pointer chain — it contracts the remaining depth
    // geometrically (~(jumps+1)× per round), which is what bounds total
    // rounds at O(log D). Correctness needs no flatness invariant at all:
    // a zero-change propagation certifies the labeling constant across
    // every (symmetrized) edge, hence constant per component; labels are
    // always member ids of their own component (ids at init, closed under
    // min-over-neighbors and composition), so the constant is ≥ the min
    // id, and the min-id vertex's own label — initialized to itself,
    // monotone non-increasing, bounded below by the component min — IS
    // the min id. Constant-per-component at min id is the fixpoint (and
    // flat by definition), so the final round needs no flatten phase.
    val jumps = 3
    var propRounds = 0
    var jumpRounds = 0
    var changed = 1L
    while (changed > 0) {
      // self rows are tagged so the round aggregate carries the previous
      // label alongside the new minimum — the convergence test is a filter
      // over this one relation, not a second join against the old comp
      val p = cuts(
        und.join(small(comp), und("src") === comp("id"))
          .select(und("dst").as("id"), col("component"), lit(false).as("own"))
          .unionByName(comp.withColumn("own", lit(true)))
          .groupBy(col("id"))
          .agg(min(col("component")).as("component"),
            min(when(col("own"), col("component"))).as("prev")))
      changed = p.where(col("component") < col("prev")).count()
      propRounds += 1
      cuts.drop(comp) // superseded round's |V| blocks freed once p is live
      if (changed == 0) comp = p.select(col("id"), col("component"))
      else {
        // the flattened relation stays LAZY over the cut p: the next
        // round's propagation computes it inline (a chain of |V|
        // broadcast-hash joins, the identical broadcast subtree reused
        // across the plan) — no per-round flat cut or extra count job.
        // p stays pinned until the next round's p materializes.
        val parent = p.select(col("id").as("pid"), col("component").as("pc"))
        var cur = p.select(col("id"), col("component"))
        for (_ <- 1 to jumps) {
          cur = cur.join(small(parent), col("component") === col("pid"))
            .select(col("id"), col("pc").as("component"))
          jumpRounds += 1
        }
        comp = cur
      }
    }
    // the scope frees the 2|E| relation; the final comp cut goes to the
    // caller — the returned frame reads it
    (cuts.keep(comp), propRounds, jumpRounds)
  }

  /** Borůvka minimum spanning forest over a weighted undirected edge
    * relation (src, dst, w) — the classic O(log V)-round distributed MST
    * (Borůvka 1926; the hook-and-contract round structure of GHS and
    * every MapReduce MST since): each round every component picks its
    * minimum incident cross edge, the picked edges join the forest, and
    * the picked component graph contracts via the EXISTING pointer-
    * jumping CC machinery ([[connectedComponentsDF]]). Determinism
    * without RNG or weight assumptions: edges are ordered by the TUPLE
    * (w, src, dst) — a total order under which all "weights" are
    * distinct, so the MSF is unique and both endpoints of a tied pair
    * pick the same tuple (no cycles; the classic distinct-weights
    * argument). Exact integer weights (the g16 relation class).
    *
    * Input contract: self-loops are dropped; duplicate rows and
    * symmetric (u,v)/(v,u) pairs are safe (argmin is consistent, the
    * forest is deduped on the edge tuple). Returns one row per MSF edge:
    * (component, src, dst, w) with component = the final min-vertex-id
    * label of the tree the edge belongs to.
    *
    * Scale shape: state is the |V|-sized label relation plus the ≤(V-1)
    * accumulated forest; each round touches the edge relation ONCE for
    * the cross-edge filter (two gated label joins), aggregates per
    * component (map-side combinable min), and runs CC on the ≤|C|-row
    * picked graph — never on |E|. Components at least halve per PICKING
    * round (every live component merges), bounding picking rounds at
    * log2(V); one final empty round detects termination and does not
    * count against the budget (r18 review). The maxRounds guard is loud,
    * not a silent cap.
    */
  def boruvkaMst(edges: DataFrame, maxRounds: Int = 40): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    val spark = edges.sparkSession
    // Spark 4 carries the origin plan's ESTIMATED sizeInBytes into a
    // checkpoint's LogicalRDD (SPARK-39748, LogicalRDD.fromDataset).
    // Borůvka's round plan multiplies join estimates (~|joins in round +
    // nested CC|× per round), so the carried BigInt's DIGITS compound
    // exponentially round over round until stats estimation itself
    // dominates the wall clock (measured: minutes inside
    // BigInteger.multiply at round 5 of a 64-vertex probe graph).
    // Rebuilding the frame from the checkpointed RDD resets each round's
    // leaves to constant-estimate LogicalRDDs — the Row round-trip costs
    // one conversion pass over |C|-bounded relations, the estimates stop
    // compounding, and the cut blocks still back the data (the scope's
    // drop and keep follow the rebuilt frame down to its cut).
    def statsFreeCut(df: DataFrame): DataFrame = {
      val ck = cuts(df, eager = true)
      spark.createDataFrame(ck.rdd, ck.schema)
    }
    val e = cuts(
      edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
        .where(col("src") =!= col("dst")))
    var comp = cuts(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id")))
        .distinct().withColumn("component", col("id")))
    val nVerts = comp.count()
    def small(df: DataFrame): DataFrame =
      if (nVerts <= BroadcastVertexRows) broadcast(df)
      else df.hint("shuffle_hash")
    // per-round picked-edge cuts accumulate under the forest (≤ log V of
    // them, each ≤ |C| rows); the final relation reads them, so they go
    // to the caller — the CC convention
    var forestParts = List.empty[DataFrame]
    var rounds = 0
    var more = true
    while (more) {
      val cs = comp.select(col("id").as("sid"), col("component").as("csrc"))
      val cd = comp.select(col("id").as("did"), col("component").as("cdst"))
      val cross = e.join(small(cs), col("src") === col("sid"))
        .join(small(cd), col("dst") === col("did"))
        .where(col("csrc") =!= col("cdst"))
        .select(col("src"), col("dst"), col("w"), col("csrc"), col("cdst"))
      // every cross edge is incident to BOTH its endpoint components
      val incid = cross.select(col("csrc").as("comp"),
          struct(col("w"), col("src"), col("dst"),
            col("cdst").as("other")).as("e"))
        .unionByName(cross.select(col("cdst").as("comp"),
          struct(col("w"), col("src"), col("dst"),
            col("csrc").as("other")).as("e")))
      val sel = incid.groupBy(col("comp")).agg(min(col("e")).as("m"))
        .select(col("comp"), col("m.w").as("w"), col("m.src").as("src"),
          col("m.dst").as("dst"), col("m.other").as("other"))
      // ONE job: the eager cut materializes the round; its count decides
      // termination (no cross edges left = every component done)
      val selCk = statsFreeCut(sel)
      if (selCk.count() == 0) { cuts.drop(selCk); more = false }
      else {
        rounds += 1
        // a rejected call leaks NOTHING (the knnTopK rule, r18 review):
        // the scope frees every cut as the require throws
        require(rounds <= maxRounds,
          s"boruvkaMst: $maxRounds picking rounds without convergence " +
            "— components must at least halve per picking round, so " +
            s"this input exceeds 2^$maxRounds vertices or the relation " +
            "mutated mid-run; raise maxRounds deliberately")
        forestParts ::= selCk.select(col("src"), col("dst"), col("w"))
        // contract: min-id labels over the picked component graph (≤ |C|
        // rows — the CC cost is in CURRENT components, not edges), then
        // one label-composition join. The CC machinery's own cuts are
        // dead once the new label relation materializes — dropped here
        // instead of waiting for the harness sweep.
        val merged = connectedComponentsDF(
          selCk.select(col("comp").as("src"), col("other").as("dst")))
        val nc = statsFreeCut(
          comp.join(small(merged.select(col("id").as("oc"),
              col("component").as("nc"))),
              col("component") === col("oc"), "left")
            .select(col("id"),
              coalesce(col("nc"), col("component")).as("component")))
        cuts.drop(merged)
        cuts.drop(comp)
        comp = nc
      }
    }
    // the scope frees the edge cut: the forest reads only the per-round cuts
    val forest = forestParts
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.range(0).select(col("id").as("src"),
        col("id").as("dst"), col("id").as("w")))
      .distinct() // a pair of components can pick the same edge tuple
    cuts.keep(forest.join(small(comp), forest("src") === comp("id"))
      .select(col("component"), forest("src"), forest("dst"), forest("w")))
  }

  /** Triangle count per vertex (GraphX canonical orientation). */
  def triangleCount(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.graphx.PartitionStrategy
    toGraph(spark, edges)
      .partitionBy(PartitionStrategy.EdgePartition2D)
      .triangleCount().vertices.toDF("id", "triangles")
  }

  /** Deterministic DataFrame-native triangle counting (compact-forward /
    * degree-ordered node-iterator): returns (id, deg, triangles) per vertex
    * of the undirected simple graph induced by `edges` (self-loops dropped,
    * parallel/reverse duplicates collapsed), including triangles = 0 rows.
    *
    * Every undirected edge is oriented from the endpoint of lower total
    * rank (deg, id) to the higher; wedges are enumerated from the common
    * lower-rank endpoint and closed against the oriented relation itself.
    * The orientation is what makes this scale: each vertex's oriented
    * out-degree is O(sqrt(|E|)) regardless of hubs — a star graph emits
    * ZERO wedges from its hub — so the wedge relation is O(|E|^1.5) worst
    * case and near-linear on real degree distributions, vs the
    * unoriented node-iterator's sum(deg^2) hub blowup. Each triangle is
    * produced exactly once (at its lowest-rank vertex), counts are exact
    * integers, and the rank tiebreak on id makes the whole computation
    * order-independent — oracle-checkable bit-for-bit against a SQL
    * three-way self-join. All stages are joins/aggregations inside
    * whole-stage codegen; no GraphX/RDD round-trip (the GraphX wrapper
    * above stays as a cross-check surface for specs).
    */
  def triangleCountDF(edges: DataFrame): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    // und feeds deg + ranked (3 scans) and oriented feeds both wedge sides
    // + the closer (3 scans): without pinning, each consumer re-derives the
    // whole upstream lineage — cut each once; the scope frees und, which
    // the returned frame does not read. oriented/deg go to the caller,
    // whose per-query sweep reclaims them after consumption — the kCore
    // convention.
    val und = cuts(
      edges.select(col("src"), col("dst"))
        .where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct(),
      eager = true)
    val deg = cuts(
      und.select(col("a").as("id")).unionByName(und.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg")),
      eager = true)
    val ranked = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    // orient lower rank -> higher rank; carry the head's rank for the
    // wedge-ordering comparison (struct comparison is lexicographic)
    val rankA = struct(col("da").as("d"), col("a").as("i"))
    val rankB = struct(col("db").as("d"), col("b").as("i"))
    val flip = rankB < rankA
    val oriented = cuts(
      ranked.select(
        when(flip, col("b")).otherwise(col("a")).as("u"),
        when(flip, rankA).otherwise(rankB).as("rv"))
        .select(col("u"), col("rv"), col("rv").getField("i").as("v")),
      eager = true)
    // wedges out of each lower-rank pivot u: (v, w) with rank(v) < rank(w);
    // a wedge closes iff the oriented edge v->w exists (v has lower rank)
    val o1 = oriented.select(col("u"), col("v").as("wv"), col("rv").as("r1"))
    val o2 = oriented.select(col("u"), col("v").as("ww"), col("rv").as("r2"))
    val wedges = o1.join(o2, o1("u") === o2("u") && col("r1") < col("r2"))
      .select(o1("u").as("tu"), col("wv"), col("ww"))
    val closer = oriented.select(col("u").as("cu"), col("v").as("cv"))
    val tris = wedges.join(closer, col("wv") === col("cu") && col("ww") === col("cv"))
      .select(col("tu"), col("wv"), col("ww"))
    val cnt = tris.select(col("tu").as("id"))
      .unionByName(tris.select(col("wv").as("id")))
      .unionByName(tris.select(col("ww").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    cuts.keep(deg.join(cnt, Seq("id"), "left")
      .select(col("id"), col("deg"), coalesce(col("triangles"), lit(0L)).as("triangles")))
  }

  /** DOULION sampled triangle counting (Tsourakakis, Kang, Miller &
    * Faloutsos, KDD 2009) — the 100 TB answer where even the exact
    * O(E^1.5) degree-ordered enumeration is too much: toss each canonical
    * undirected edge a deterministic h32 coin keeping it with probability
    * keepPermille/1000 (the ktruss-g28 sampling convention, so the SAMPLE
    * itself replays in SQL — never a trusted RNG), run the exact
    * [[triangleCountDF]] on the sparsified graph, and scale each per-vertex
    * count by the one integer ratio (count · 1000³) div keepPermille³
    * (reduced by its gcd first, so full keep scales by exactly 1/1 and
    * never trips the overflow guard on a representable exact count): a
    * triangle survives iff all three edges do (p³), so the scaled count is
    * the paper's unbiased estimator, here in exact Long arithmetic end to
    * end. Expected cost shrinks by p on edges and ~p^1.5 on the wedge
    * join — sparsify first, count second is exactly the order that
    * matters at scale. Returns (id, deg_sampled, triangles_sampled,
    * triangles_est) for vertices of the SAMPLED graph.
    */
  def doulionTriangles(edges: DataFrame, keepPermille: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keepPermille >= 1 && keepPermille <= 1000,
      s"doulionTriangles: keepPermille must be in [1, 1000], got $keepPermille")
    val und = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val kept = und.where(
      graft.pipeline.TextHash.h32(concat(col("a").cast("string"), lit("|"),
        col("b").cast("string"))) % 1000 < keepPermille)
    val scaleNum = 1000L * 1000L * 1000L
    val scaleDen = keepPermille.toLong * keepPermille * keepPermille
    // reduce the ratio by its gcd BEFORE multiplying (r16 ADVICE): the
    // estimate is identical in-domain — (c·10⁹) div k³ = (c·(10⁹/g)) div
    // (k³/g) exactly, since g divides both — but the overflow guard now
    // fires only past the REDUCED product's domain. At keepPermille=1000
    // the ratio reduces to 1/1, so the full-keep case is the exact count
    // with no scaling to overflow; at 500 the factor drops 10⁹ → 8.
    val g = java.math.BigInteger.valueOf(scaleNum)
      .gcd(java.math.BigInteger.valueOf(scaleDen)).longValueExact()
    val (num, den) = (scaleNum / g, scaleDen / g)
    // loud past the count·(10⁹/g) < 2^63 exactness domain (the
    // pivotStress convention) — in-domain the guarded product is
    // bit-identical
    triangleCountDF(kept.select(col("a").as("src"), col("b").as("dst")))
      .select(col("id"), col("deg").as("deg_sampled"),
        col("triangles").as("triangles_sampled"),
        expr(s"coalesce(try_multiply(triangles, CAST($num AS BIGINT)), " +
          s"CAST(raise_error('doulionTriangles: count * $num overflows LONG " +
          "— outside the documented exactness domain') AS BIGINT)) " +
          s"div CAST($den AS BIGINT)").as("triangles_est"))
  }

  /** Per-edge triangle support of the canonical simple graph `und`
    * (columns a < b): the triangleCountDF degree-ordered orientation and
    * wedge closure, with each triangle's three edges unioned back to
    * canonical pairs and counted — same O(E^1.5) worst-case bound, all
    * joins/aggregates.
    */
  private def edgeSupport(und: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val deg = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val ranked = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val rankA = struct(col("da").as("d"), col("a").as("i"))
    val rankB = struct(col("db").as("d"), col("b").as("i"))
    val flip = rankB < rankA
    val oriented = ranked.select(
        when(flip, col("b")).otherwise(col("a")).as("u"),
        when(flip, rankA).otherwise(rankB).as("rv"))
      .select(col("u"), col("rv"), col("rv").getField("i").as("v"))
    val o1 = oriented.select(col("u"), col("v").as("wv"), col("rv").as("r1"))
    val o2 = oriented.select(col("u"), col("v").as("ww"), col("rv").as("r2"))
    val wedges = o1.join(o2, o1("u") === o2("u") && col("r1") < col("r2"))
      .select(o1("u").as("tu"), col("wv"), col("ww"))
    val closer = oriented.select(col("u").as("cu"), col("v").as("cv"))
    val tris = wedges
      .join(closer, col("wv") === col("cu") && col("ww") === col("cv"))
      .select(col("tu"), col("wv"), col("ww"))
    def pair(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      Seq(least(x, y).as("a"), greatest(x, y).as("b"))
    tris.select(pair(col("tu"), col("wv")): _*)
      .unionByName(tris.select(pair(col("tu"), col("ww")): _*))
      .unionByName(tris.select(pair(col("wv"), col("ww")): _*))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("sup"))
  }

  /** k-truss (Cohen 2008): the maximal subgraph in which every edge
    * closes at least k-2 triangles — the edge-cohesion sibling of k-core
    * (which bounds vertex degrees). Peels by FULL support recount per
    * round against the current edge checkpoint: simple, stateless, and
    * exactly equivalent to incremental support maintenance (the at-scale
    * refinement, which subtracts the triangles each removed edge closed
    * instead of recounting). Each round is one compact-forward triangle
    * pass + one edge filter; the cascade converges in a handful of
    * rounds on real graphs (the oracle unrolls a superset and the
    * removed-count fixpoint test ends the loop exactly); `maxRounds`
    * turns a longer cascade into a loud error, never a partial,
    * unconverged edge set (the kCore rule). Returns the
    * canonical (a < b) truss edge set; k >= 3 (the 2-truss is the whole
    * simple graph, and zero-support edges drop via the inner support
    * join, sound only when k-2 >= 1).
    */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    require(k >= 3, "k-truss needs k >= 3")
    var und = cuts(
      edges.select(col("src"), col("dst")).where(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct(),
      eager = true)
    var n = und.count()
    var rounds = 0
    var converged = n == 0
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds, s"k-truss did not converge in $maxRounds rounds")
      val kept = cuts(
        und.join(edgeSupport(und), Seq("a", "b"))
          .where(col("sup") >= k - 2)
          .select(col("a"), col("b")))
      val nk = kept.count() // one job: materializes + tests the fixpoint
      converged = nk == n || nk == 0
      cuts.drop(und); und = kept
      n = nk
    }
    cuts.keep(und)
  }

  /** Stress centrality (Shimbel 1953) from a bounded source set — the
    * all-integer member of the Brandes centrality family: stress(v) =
    * number of shortest s→t paths passing through v as an interior vertex,
    * summed over the given sources s and ALL targets t. Two level-
    * synchronous sweeps, both exact:
    *
    * Forward (one shared pass for every source, the multi-source-BFS
    * shape): per level, frontier (s, v, σ) joins the edge relation and the
    * partial-aggregated groupBy on (s, dst) sums σ over all shortest-path
    * predecessors; an anti-join against the visited set keeps only
    * first-reached vertices. σ_sv = number of shortest s→v paths.
    *
    * Backward (Brandes' dependency accumulation, made integer): τ_s(v) =
    * Σ_{w ∈ DAG-succ(v)} (1 + τ_s(w)) counts the shortest-path DAG paths
    * from v to ANY downstream target — every DAG path v→t extends a
    * shortest s→v prefix to a shortest s→t path, so σ_sv · τ_s(v) =
    * Σ_t σ_st(v) with no fractional pair-dependency anywhere (float
    * betweenness divides σ ratios, whose accumulation order would break
    * bit-equality across engines; stress stays in Long).
    *
    * Path counting is over the SIMPLE graph (parallel edges collapse —
    * otherwise σ multiplies by edge multiplicity). Cost: maxDepth levels,
    * each one edge join + one (s,v)-keyed aggregate, frontier-gated
    * broadcasts with shuffle fallback; state is bounded by |S|·|V| — the
    * per-source sweep never materializes paths.
    */
  def stressCentrality(edges: DataFrame, sources: DataFrame, maxDepth: Int,
      broadcastRows: Long = 1L << 20,
      levelProbe: DataFrame => Unit = _ => ()): DataFrame =
    brandesCore(edges, sources, maxDepth, broadcastRows, integerStress = true,
      levelProbe)
      .withColumnRenamed("value", "stress")

  /** EDGE stress centrality — the Girvan–Newman community-detection
    * primitive (Girvan & Newman, PNAS 2002, use edge betweenness; this is
    * its all-integer stress sibling, the g25/x24 pairing applied to
    * edges): stress(u→v) = number of shortest s→t paths traversing the
    * edge, summed over the given sources and all targets. Same two
    * exact sweeps as [[stressCentrality]] on the same shared core — the
    * per-edge emission is σ_u · (1 + τ_v) at each shortest-path-DAG edge,
    * the edge-keyed member of the identity the vertex contribution uses,
    * so vertex and edge results are mutually consistent by construction
    * (Σ_in-edges stress(u→v) = σ_v·τ_v + endpoint terms). Returns
    * (src, dst, stress) for every edge on ≥ 1 counted path; edges on no
    * path are omitted. State stays |S|·|V|-bounded plus one
    * |DAG-edges|-bounded relation per level.
    */
  def edgeStressCentrality(edges: DataFrame, sources: DataFrame, maxDepth: Int,
      broadcastRows: Long = 1L << 20): DataFrame =
    brandesCore(edges, sources, maxDepth, broadcastRows, integerStress = true,
      perEdge = true)
      .withColumnRenamed("value", "stress")

  /** Pivot-sampled stress centrality (Brandes & Pich, "Centrality
    * Estimation in Large Networks", 2007) — the 100 TB answer for
    * whole-graph stress, where exact all-sources Brandes is O(V·E):
    * run the exact integer [[stressCentrality]] sweeps from a
    * deterministic |S|-vertex pivot sample and scale by the one
    * documented integer ratio est(v) = (stress_S(v) · |V|) div |S|
    * (multiply before the truncating div, so the estimate is exact
    * integer arithmetic over the drawn pivots — the whole output is
    * hash-checkable, unlike FP-weighted estimators).
    *
    * Pivots are the h32-argmin draw (the g33/g27 convention): every
    * vertex hashes once to h32("pivot|" + id) and the |S| smallest
    * (h, id) win — uniform-ish, engine-independent, and replayable
    * op-for-op in SQL, so the SAMPLE ITSELF is oracle-checked, not
    * trusted. Cost is |S| Brandes sources — linear in |S| at fixed
    * graph (measured axis: tools/scaleprobe_pivotstress_r15.txt);
    * error at fixed |S| decays as pivots average over sources
    * (Brandes–Pich §4: uniform pivots give an unbiased estimator of
    * the per-source average). Exactness domain: stress_S(v) · |V|
    * < 2^63. Reference behavior: rust-graph-db has no centrality
    * surface (SURVEY §2 beyond-reference set).
    */
  def pivotStress(edges: DataFrame, nPivots: Int, maxDepth: Int,
      broadcastRows: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.functions._
    require(nPivots >= 1, "pivotStress needs at least one pivot")
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val nV = verts.count()
    require(nV > 0, "pivotStress: the self-loop-free edge relation is empty")
    // distributed top-k (TakeOrderedAndProject), never a full sort; the
    // pivot relation is the sanctioned bounded class (|S| <= thousands)
    val pivots = verts
      .select(col("id"), graft.pipeline.TextHash.h32(
        concat(lit("pivot|"), col("id").cast("string"))).as("h"))
      .orderBy(col("h"), col("id")).limit(nPivots)
      .select(col("id"))
    val nS = math.min(nPivots.toLong, nV)
    // loud outside the documented stress_S(v)·|V| < 2^63 domain:
    // try_multiply yields NULL on LONG overflow and raise_error fires in
    // its place, instead of the silent wrap non-ANSI multiplication
    // produces (r15 ADVICE); in-domain the product — and so the hashed
    // estimate — is bit-identical to the plain multiply
    stressCentrality(edges, pivots, maxDepth, broadcastRows)
      .withColumn("stress_est",
        expr(s"coalesce(try_multiply(stress, CAST($nV AS BIGINT)), " +
          "CAST(raise_error('pivotStress: stress * |V| overflows LONG " +
          "— outside the documented exactness domain') AS BIGINT)) " +
          s"div CAST($nS AS BIGINT)"))
  }

  /** Betweenness centrality (Brandes 2001) from a bounded source set —
    * the float member of the family: δ_s(v) = Σ_{w ∈ DAG-succ(v)}
    * (σ_sv/σ_sw)·(1 + δ_s(w)), bc(v) = Σ_s δ_s(v). The σ-ratio division
    * makes the accumulation FP-rounded, so unlike stressCentrality this is
    * NOT bit-reproducible across engines (it IS deterministic across runs
    * of this engine up to double-sum ordering inside each (s,v) group) —
    * gate it rows-only and let the exact stress twin carry the oracle, the
    * HLL/t-digest pairing pattern. Identical sweeps and cost shape.
    */
  def betweennessCentrality(edges: DataFrame, sources: DataFrame, maxDepth: Int,
      broadcastRows: Long = 1L << 20): DataFrame =
    brandesCore(edges, sources, maxDepth, broadcastRows, integerStress = false)
      .withColumnRenamed("value", "betweenness")

  /** `levelProbe` sees each level's join plan pre-checkpoint (checkpoints
    * erase plans from the returned frame; PlanAudit pins the broadcast
    * shape through this hook — the kCoreRounds roundProbe pattern).
    */
  private def brandesCore(edges: DataFrame, sources: DataFrame, maxDepth: Int,
      broadcastRows: Long, integerStress: Boolean,
      levelProbe: DataFrame => Unit = _ => (),
      perEdge: Boolean = false): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    // e stays pinned to the end — the returned frame derives its vertex
    // relation from it; the caller's per-query sweep reclaims (kCore
    // convention)
    val e = cuts(
      edges.select(col("src"), col("dst")).where(col("src") =!= col("dst"))
        .distinct(), eager = true)
    def gate(df: DataFrame, rows: Long): DataFrame =
      if (rows <= broadcastRows) broadcast(df) else df.hint("shuffle_hash")
    // forward: levels(L) = (s, id, sigma) for vertices first reached at L
    var levels = Vector.empty[(DataFrame, Long)] // frame + row count
    // ONE job, not an eager materialization plus a count (r20, the
    // Traversals/louvain fusion): the count materializes the lazy cut and
    // yields the level size in the same action
    var visited = cuts(sources.select(col("id").cast("long").as("s"))
      .distinct()
      .select(col("s"), col("s").as("id"), lit(1L).as("sigma")))
    levels :+= ((visited, visited.count()))
    var frontier = visited
    var frontierRows = levels.head._2
    var visitedRows = frontierRows
    var hop = 0
    while (hop < maxDepth && frontierRows > 0) {
      hop += 1
      // the visited side of the anti-join is a stats-less union of
      // cut scans — gate it on its tracked row sum or late levels
      // fall back to sorting the aggregated frontier
      val level = e.join(gate(frontier, frontierRows), frontier("id") === e("src"))
        .groupBy(frontier("s"), e("dst").as("id"))
        .agg(sum(frontier("sigma")).as("sigma"))
        .join(gate(visited.select("s", "id"), visitedRows),
          Seq("s", "id"), "left_anti")
      levelProbe(level)
      // ONE job per level: the count materializes the lazy cut and
      // yields the loop condition (r20 — formerly an eager cut job PLUS a
      // count job, the exact two-action shape the r19/r20 fusions removed
      // from Traversals and louvainLevels)
      val next = cuts(level)
      frontierRows = next.count()
      if (frontierRows > 0) {
        levels :+= ((next, frontierRows))
        visitedRows += frontierRows
        // visited is a union of already-cut level frames — a shallow
        // plan; cutting it again would burn one job per level
        visited = visited.unionByName(next)
        frontier = next
      }
    }
    // backward: acc(L) keyed (s, id) — integer τ (stress) or double δ
    // (betweenness); deepest level has no successors
    val zero = if (integerStress) lit(0L) else lit(0.0)
    val one = if (integerStress) lit(1L) else lit(1.0)
    val maxL = levels.length - 1
    var accNext: Option[(DataFrame, Long)] = None
    val contribs = Vector.newBuilder[DataFrame]
    val edgeContribs = Vector.newBuilder[DataFrame]
    // level 0 holds only (s, s) endpoint rows, whose dependency aggregate
    // no output reads (contribs excludes l = 0 and accNext dies with the
    // loop) — vertex mode skips the whole level-0 iteration outright;
    // per-edge mode still needs l = 0 for the edges-out-of-s emission
    // (r20, guide §1.2 step 1: don't compute things you throw away)
    val lMin = if (perEdge) 0 else 1
    for (l <- (maxL - 1) to lMin by -1) {
      val (vl, vRows) = levels(l)
      val (wl, wRows) = levels(l + 1)
      // join ORDER matters at scale: expand the SMALL upper level's
      // out-edges first (bounded by per-source frontier fan-out), THEN
      // intersect with the deeper level. The reverse order — edges into
      // the deeper level per source — materializes Σ_s |E restricted to
      // reached(s)| candidate rows (tens of millions at sf0.1: 50 sources
      // x the 400k-edge part→supplier bipartite core) before the upper
      // level prunes them to thousands.
      val out = e.join(gate(vl.select(col("s"), col("id").as("vid"),
            col("sigma")), vRows), col("vid") === e("src"))
        .select(col("s"), col("vid"), col("sigma"), e("dst").as("wid"))
      val dag = out.join(gate(wl.select(col("s").as("ws"), col("id").as("wid2"),
            col("sigma").as("wsigma")), wRows),
          col("s") === col("ws") && col("wid") === col("wid2"))
        .select(col("s"), col("vid"), col("sigma"), col("wid"), col("wsigma"))
      // the deeper level's acc relation is bounded by that level's row
      // count — gate it like every other per-level relation (ungated, AQE
      // occasionally leaves this left join as a sort-merge of the DAG
      // relation)
      val joined = accNext match {
        case Some((t, tRows)) => dag.join(
            gate(t.select(col("s").as("ts"), col("id").as("tid"),
              col("acc").as("wacc")), tRows),
            col("ts") === col("s") && col("tid") === col("wid"), "left")
        case None => dag.withColumn("wacc", zero)
      }
      // stress: m = 1 + τ_w (Long, exact). betweenness: m = σ_v/σ_w ·
      // (1 + δ_w) — the one FP division/sum of the float variant.
      val m =
        if (integerStress) one + coalesce(col("wacc"), zero)
        else (col("sigma").cast("double") / col("wsigma").cast("double")) *
          (one + coalesce(col("wacc"), zero))
      // per-edge mode consumes `joined` twice (the acc aggregate AND the
      // per-DAG-edge emission), so cut it once — lazily (r20): its blocks
      // compute and cache inside the first consumer's job instead of a
      // standalone materialization job; the vertex path is untouched (no
      // plan change for g25/g50)
      val jsrc = if (perEdge) cuts(joined.select(col("s"), col("vid"),
          col("sigma"), col("wid"), col("wsigma"), col("wacc"))) else joined
      if (perEdge) {
        // σ_v · (1 + τ_w) counts the shortest s→t paths traversing DAG
        // edge (v, w) — the edge-keyed member of the same identity the
        // vertex contribution uses; the source level (l = 0) DOES emit
        // (edges out of s are interior to every path they carry)
        val ec = if (integerStress) col("sigma") * m else m
        edgeContribs += jsrc.select(col("vid").as("src"),
          col("wid").as("dst"), ec.as("c"))
      }
      // l = 0 rows sit at v = s: endpoints, never interior — their
      // dependency aggregate feeds nothing, so it is not even planned
      // (vertex mode never reaches l = 0 at all; per-edge mode reaches it
      // only for the edgeContribs emission above)
      if (l > 0) {
        val accPlan = jsrc
          .select(col("s"), col("vid"), col("sigma"), m.as("m"))
          .groupBy(col("s"), col("vid"))
          .agg(sum(col("m")).as("acc"), max(col("sigma")).as("sigma"))
          .withColumnRenamed("vid", "id")
        levelProbe(accPlan)
        // lazy (r20): acc's final stage runs inside its first consumer —
        // the next level's stage materialization, or the closing
        // contribution aggregate — instead of a standalone job per level
        val acc = cuts(accPlan)
        val c = if (integerStress) col("sigma") * col("acc") else col("acc")
        contribs += acc.select(col("id"), c.as("c"))
        accNext = Some((acc.select(col("s"), col("id"), col("acc")), vRows))
      }
    }
    // the lazy acc cuts read each other level by level: every cut goes to
    // the caller
    cuts.keepAll()
    if (perEdge) {
      // only traversed DAG edges appear (an edge on zero counted paths
      // carries no signal); exact integer sums in stress mode
      edgeContribs.result() match {
        case Vector() =>
          e.select(col("src"), col("dst")).limit(0).withColumn("value", zero)
        case cs => cs.reduce(_ unionByName _)
          .groupBy(col("src"), col("dst")).agg(sum(col("c")).as("value"))
      }
    } else {
      val verts = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      val agg = contribs.result() match {
        case Vector() => verts.limit(0).withColumn("c", zero)
        case cs => cs.reduce(_ unionByName _)
      }
      verts.join(agg.groupBy(col("id")).agg(sum(col("c")).as("value")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("value"), zero).as("value"))
    }
  }

  /** k-core: iteratively peel vertices whose undirected distinct-neighbor
    * degree is < k until a fixpoint; returns the surviving vertex ids.
    * The k-core is the unique maximal subgraph of min-degree >= k, so the
    * result is peel-order independent — oracle-checkable bit-for-bit.
    *
    * Degree-message formulation (the pageRankStable shape): the symmetric
    * edge relation is built once and never rewritten; per-round state is
    * the |V|-bounded (id, deg) relation. Each round broadcasts the
    * newly-peeled vertex set (gated: shuffle-HASH past the ceiling), counts
    * the edges each survivor loses into them with ONE aggregate over the
    * immutable edge relation, and rebuilds deg — so a round is one heavy
    * scan + tiny |V| writes, vs re-filtering and re-checkpointing the whole
    * edge set. Round count is the graph's peel depth (O(tens) even on
    * power-law graphs); `maxRounds` turns a pathological chain into a loud
    * error instead of an unbounded job storm.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame =
    kCoreRounds(edges, k, maxRounds)._1

  /** kCore plus the number of peel rounds taken — specs pin the round
    * budget so the unrolled-CTE oracle provably covers convergence.
    * `roundProbe` sees each round's degree-update relation pre-checkpoint
    * (checkpointing hides per-round plans from the caller; PlanAudit uses
    * this to pin the broadcast-join shape).
    *
    * `layersPerRound` collapses that many peel layers into ONE materialized
    * round (one job, one checkpoint, one observe): a long low-degree tail
    * that would peel one layer per synchronous round peels L layers per
    * job, so a single scheduler stall burns 1/L as much of the fixpoint —
    * the r5 burst-variance fix. Work is unchanged (each layer still scans
    * the immutable edge relation once, inside the same lazy plan); only
    * job count and stall exposure drop. Extra layers engage ONLY while the
    * whole alive relation is under the broadcast ceiling: an inner layer's
    * peeled set has no cheap count to gate on, but it is a subset of the
    * alive rows, whose count n the round's stats already carry — that
    * makes the inner broadcast sound, and past the ceiling the loop
    * degrades to the proven one-layer-per-round shape. Default 2: plan
    * depth beyond ~2 chained aggregates backfires (A/B-measured; same
    * finding as the x17 chainDepth knob).
    */
  def kCoreRounds(edges: DataFrame, k: Int, maxRounds: Int = 64,
      roundProbe: DataFrame => Unit = _ => (),
      layersPerRound: Int = 2): (DataFrame, Int) =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    require(k >= 1, "k-core needs k >= 1")
    val noLoops = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    // symmetric closure via canonical (min,max) pairs: distinct shuffles
    // |E| rows instead of 2|E| (distinct-then-mirror ≡ mirror-then-distinct
    // for a symmetric relation; the mirror union is a narrow map). und's
    // 2|E| rows land in the cut either way — only shuffle work halves.
    val canon = noLoops.select(
      least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst")).distinct()
    val und = cuts(canon
      .unionByName(canon.select(col("dst").as("src"), col("src").as("dst"))))
    // The (n, peelable) stats each round needs are folded into the job
    // that materializes the deg relation itself via observe() — zero extra
    // scans or jobs for the fixpoint test. The stats thunk only runs after
    // the eager checkpoint returns, i.e. after the observed action has
    // finished, so obs.get either answers immediately or (if a Spark
    // version's checkpoint action ever stops driving the metric listener)
    // never — the bounded wait turns "never" into a fallback agg job over
    // the checkpointed blocks instead of a hang. The waiter is a DAEMON
    // thread, not a global-ExecutionContext Future: on timeout the
    // abandoned blocked thread must not pin a shared pool slot forever
    // (one leak per peel round would starve every other Future user).
    import org.apache.spark.sql.Observation
    def statsObs(df: DataFrame): (DataFrame, () => Option[(Long, Long)]) = {
      val obs = Observation()
      val observed = df.observe(obs, count(lit(1)).as("n"),
        count(when(col("deg") < k, lit(1))).as("r"))
      (observed, () => {
        // capacity-1 buffer, not a SynchronousQueue: offer() deposits the
        // value (or drops it) without ever blocking, so a waiter whose
        // consumer timed out and left still terminates instead of sitting
        // in put() forever — one leaked thread per timed-out round adds up
        val slot = new java.util.concurrent.ArrayBlockingQueue[Map[String, Any]](1)
        val t = new Thread(() => { try slot.offer(obs.get) catch { case _: Throwable => () } },
          "kcore-observation-wait")
        t.setDaemon(true)
        t.start()
        Option(slot.poll(1500, java.util.concurrent.TimeUnit.MILLISECONDS))
          .map(m => (m("n").asInstanceOf[Long], m("r").asInstanceOf[Long]))
          .orElse {
            System.err.println("[kCore] observation metric timed out; falling back to agg job")
            None
          }
      })
    }
    def statsFallback(df: DataFrame): (Long, Long) = {
      val s = df.agg(count(lit(1)).as("n"),
        count(when(col("deg") < k, lit(1))).as("r")).head
      (s.getLong(0), s.getLong(1))
    }
    // eager cuts everywhere a relation is consumed twice (broadcast
    // exchanges racing to materialize a lazy cut duplicate its job)
    val (deg0obs, deg0stats) = statsObs(
      und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg")))
    var deg = cuts(deg0obs, eager = true)
    var pendingStats: () => Option[(Long, Long)] = deg0stats
    var rounds = 0
    var survivors: DataFrame = null
    // when maxRounds fires the scope frees every cut — a caller that
    // catches the error inherits none. On success it frees the 2|E| edge
    // cut; the final deg cut goes to the caller: the returned survivors
    // frame reads it (the caller's sweep reclaims it after consumption).
    while (survivors == null) {
      rounds += 1
      require(rounds <= maxRounds, s"k-core did not converge in $maxRounds rounds")
      val (n, nRemoved) = pendingStats().getOrElse(statsFallback(deg))
      if (nRemoved == 0) {
        survivors = deg.select(col("id"))
      } else {
        // the one broadcast candidate is `removed`, gated on its OWN row
        // count (a mass-peel round must not ride the survivor count into
        // broadcasting an arbitrarily large peeled set). The degree
        // rebuild is folded into one partial-aggregated shuffle, PageRank
        // style: alive vertices contribute their current degree, each
        // edge lost into the peeled set contributes -1, and the groupBy's
        // own-flag drops src rows of already-dead vertices — there is no
        // per-src `hits` relation whose size would need a bound it cannot
        // know (und keeps peeled vertices on its src side, so such a
        // relation is NOT bounded by the alive count).
        def small(df: DataFrame, bound: Long): DataFrame =
          if (bound <= BroadcastVertexRows) broadcast(df) else df.hint("shuffle_hash")
        // one peel layer: drop cur's below-k rows, subtract each survivor's
        // edges into them. und is symmetric, so dst-side membership covers
        // both directions; the own-flag drops src rows of dead vertices.
        def peel(cur: DataFrame, gate: DataFrame => DataFrame): DataFrame = {
          val removed = cur.where(col("deg") < k).select(col("id"))
          val lost = und.join(gate(removed), und("dst") === removed("id"))
            .select(und("src").as("id"), lit(-1L).as("delta"), lit(false).as("own"))
          cur.where(col("deg") >= k)
            .select(col("id"), col("deg").as("delta"), lit(true).as("own"))
            .unionByName(lost)
            .groupBy(col("id"))
            .agg(sum(col("delta")).as("deg"), max(col("own")).as("own"))
            .where(col("own")).select(col("id"), col("deg"))
        }
        // layer 1 gated on the observed peeled-set count, as before
        var next = peel(deg, r => small(r, nRemoved))
        // inner layers: peeled set ⊆ alive rows (count n) — broadcast is
        // sound under the ceiling; above it, stay one layer per round
        var layer = 1
        while (layer < layersPerRound && n <= BroadcastVertexRows) {
          next = peel(next, broadcast)
          layer += 1
        }
        roundProbe(next) // pre-cut: the round's real join plan
        val (observed, nextStats) = statsObs(next)
        val ckpt = cuts(observed, eager = true)
        cuts.drop(deg) // superseded round's |V| blocks freed immediately
        deg = ckpt; pendingStats = nextStats
      }
    }
    (cuts.keep(survivors), rounds)
  }

  /** Node similarity (the Neo4j-GDS-style operator): Jaccard of
    * out-neighbor sets for every source pair sharing >= 1 neighbor, top-k
    * by (jaccard desc, a, b). Candidate pairs are generated per shared
    * neighbor — a neighbor of in-degree d emits d(d-1)/2 pair rows — so hub
    * neighbors dominate the cost at scale: neighbors with in-degree above
    * `maxNeighborInDegree` are removed from the adjacency FIRST (a neighbor
    * shared by everyone carries no signal), and both the pair counts and
    * the degrees are computed over that filtered adjacency, keeping the
    * semantics self-consistent and the SQL oracle exact. Jaccard is one
    * integer-to-double division — bit-identical across engines.
    */
  def nodeSimilarity(edges: DataFrame, topK: Int,
      maxNeighborInDegree: Long = 1L << 16): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    val adj = edges.select(col("src"), col("dst")).distinct()
    val nonHub = adj.groupBy(col("dst")).agg(count(lit(1)).as("nd"))
      .where(col("nd") <= maxNeighborInDegree).select(col("dst"))
    // eager: consumed by three scans (degree agg + both self-join sides) —
    // lazy cuts materialize per racing consumer, duplicating the job
    val kept = cuts(adj.join(nonHub, Seq("dst"), "left_semi"), eager = true)
    val deg = kept.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val common = kept.as("x").join(kept.as("y"),
        col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("a"), col("y.src").as("b"))
      .agg(count(lit(1)).as("common"))
    cuts.keep(common
      .join(deg.select(col("id"), col("deg").as("deg_a")), col("a") === col("id"))
      .drop("id")
      .join(deg.select(col("id"), col("deg").as("deg_b")), col("b") === col("id"))
      .drop("id")
      .select(col("a"), col("b"), col("common"),
        (col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common")).cast("double")).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(topK))
  }

  /** Strongly connected components on the directed edge relation, natively
    * on DataFrames — the directed sibling of connectedComponentsDF (the
    * reference has neither; its traversals stop at reachability,
    * /root/reference/src/algorithms/traversal.rs). Tarjan/Kosaraju's DFS
    * stack has no distributed form, so this is the Trim + Forward-Backward
    * coloring family (the standard parallel SCC shape). Per outer round:
    *
    *  1. TRIM to fixpoint: a live vertex with no live in-edges or no live
    *     out-edges cannot lie on a cycle — it is its own singleton SCC.
    *     Peeling repeats until stable, so long acyclic chains/tails resolve
    *     at one cheap job per layer instead of one outer round per vertex.
    *  2. FORWARD COLORING to fixpoint: color(v) = min vertex id that
    *     reaches v in the live subgraph (directed min-label propagation —
    *     the connectedComponentsDF loop one direction only, same
    *     own-row-tagged aggregate so the convergence test rides the round's
    *     single shuffle).
    *  3. BACKWARD SWEEP within colors: every color root r (color(r) = r)
    *     satisfies SCC(r) = { v : color(v) = r and v reaches r } — and any
    *     v→…→r path lies entirely inside color r (a smaller-id vertex
    *     reaching an interior vertex would reach r too, contradicting
    *     color(r) = r), so one backward BFS from ALL roots simultaneously
    *     over intra-color edges finds every root SCC in this coloring at
    *     once. Those vertices take scc_id = r and leave the live set.
    *
    * Every relation is |V|- or |E|-bounded ((id, long) colors, one
    * (id, root) row per reached vertex — never pair or path state), every
    * join is count-gated broadcast with a shuffle-hash fallback, and every
    * round's lineage is cut, each cut dropped when superseded. scc_id = min member id, so the output is deterministic
    * bit-for-bit. At least the minimum live id roots a color each round,
    * so ≥ 1 SCC is assigned per round; `maxRounds` bounds adversarial
    * SCC-chain depth and the convergence failure is loud.
    * `layersPerRound` folds that many propagation steps of the coloring /
    * backward-sweep fixpoints into one materialized round (the kCore
    * layer-collapse pattern — same work, half the jobs and stall
    * exposure; results are layer-count-invariant, spec-pinned).
    */
  def stronglyConnectedComponents(edges: DataFrame, maxRounds: Int = 64,
      broadcastCeiling: Long = BroadcastVertexRows,
      layersPerRound: Int = 2,
      phaseProbe: String => Unit = _ => ()): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    require(layersPerRound >= 1, "layersPerRound must be >= 1")
    import org.apache.spark.sql.functions._
    // live edges drop self-loops (they never bind two vertices together);
    // the vertex set keeps self-loop-only vertices — the trim pass assigns
    // them their singleton SCC like any other acyclic-fringe vertex
    val e0 = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct()
    var live = cuts(e0)
    var verts = cuts(
      edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id"))).distinct())
    var nLive = verts.count()
    def small(df: DataFrame): DataFrame =
      if (nLive <= broadcastCeiling) broadcast(df) else df.hint("shuffle_hash")
    val acc = new Accumulated(cuts,
      verts.where(lit(false)).select(col("id"), col("id").as("scc_id")))
    var rounds = 0
    while (nLive > 0 && rounds < maxRounds) {
      rounds += 1
      // ---- 1. trim acyclic fringe to fixpoint
      var trimming = true
      while (trimming && nLive > 0) {
        val hasOut = live.select(col("src").as("id")).distinct()
        val hasIn = live.select(col("dst").as("id")).distinct()
        val keep = cuts(
          verts.join(small(hasOut), Seq("id"), "left_semi")
            .join(small(hasIn), Seq("id"), "left_semi"))
        val nKeep = keep.count()
        phaseProbe(s"round=$rounds trim nLive=$nLive nKeep=$nKeep")
        if (nKeep == nLive) { trimming = false; cuts.drop(keep) }
        else {
          acc.add(verts.join(small(keep), Seq("id"), "left_anti")
            .select(col("id"), col("id").as("scc_id")))
          val live2 = cuts(
            live.join(small(keep.select(col("id").as("kid"))),
                live("src") === col("kid"), "left_semi")
              .join(small(keep.select(col("id").as("kid2"))),
                live("dst") === col("kid2"), "left_semi"))
          live2.count() // materialize before freeing the inputs it reads
          cuts.drop(live); live = live2
          cuts.drop(verts); verts = keep
          nLive = nKeep
        }
      }
      if (nLive > 0) {
        // ---- 2. forward min-id coloring to fixpoint, `layersPerRound`
        // propagation steps folded into ONE materialized round (the kCore
        // layer-collapse pattern: half the jobs/planning passes and half
        // the stall exposure for the same work). The color relation is
        // always exactly |nLive| rows, so the INNER layers' broadcast gate
        // rides the same measured count as the outer one — sound past the
        // ceiling too (shuffle-hash all the way down). `prev` carries the
        // round's STARTING color through every layer (own rows only), so
        // changed = 0 still certifies a true fixpoint of one step.
        var color = cuts(verts.withColumn("color", col("id")))
        var changed = 1L
        while (changed > 0) {
          var cur = color.withColumn("prev", col("color"))
          for (_ <- 1 to layersPerRound) {
            val c = cur.select(col("id").as("cid"), col("color").as("cc"))
            cur = live.join(small(c), live("src") === col("cid"))
              .select(live("dst").as("id"), col("cc").as("color"),
                lit(null).cast("long").as("prev"))
              .unionByName(cur.select(col("id"), col("color"), col("prev")))
              .groupBy(col("id"))
              .agg(min(col("color")).as("color"), min(col("prev")).as("prev"))
          }
          val next = cuts(cur)
          changed = next.where(col("color") < col("prev")).count()
          phaseProbe(s"round=$rounds color changed=$changed")
          cuts.drop(color)
          color = next.select(col("id"), col("color"))
        }
        // ---- 3. backward BFS from all color roots over intra-color edges
        val ce = cuts(
          live.join(small(color.select(col("id").as("sid"), col("color").as("sc"))),
              live("src") === col("sid"))
            .join(small(color.select(col("id").as("did"), col("color").as("dc"))),
              live("dst") === col("did"))
            .where(col("sc") === col("dc"))
            .select(live("src").as("src"), live("dst").as("dst"),
              col("sc").as("color")))
        // `reached` is a SHALLOW union of cut level frontiers
        // (bfsDistances' visited pattern — no per-round re-cut of the
        // union, so each backward round costs exactly ONE job: the count
        // that materializes the new level)
        val roots = cuts(
          color.where(col("color") === col("id"))
            .select(col("id"), col("color").as("root")))
        var reached = roots
        var frontier = roots
        var growing = true
        while (growing) {
          // an edge u→v in ce has color(u) = color(v) = root(v), so the
          // candidate (src, color) row IS the (id, root) assignment;
          // `layersPerRound` backward hops fold into one materialized
          // round (reachability only needs the union, not exact levels)
          var cand = frontier.select(col("id"), col("root"))
          var hops = cand.where(lit(false))
          for (_ <- 1 to layersPerRound) {
            cand = ce.join(small(cand.select(col("id").as("fid"))),
                ce("dst") === col("fid"), "left_semi")
              .select(col("src").as("id"), col("color").as("root")).distinct()
            hops = hops.unionByName(cand)
          }
          val nf = cuts(
            hops.distinct().join(reached.select("id"), Seq("id"), "left_anti"))
          val nNf = nf.count()
          phaseProbe(s"round=$rounds backward new=$nNf")
          if (nNf == 0) { growing = false; cuts.drop(nf) }
          else { reached = reached.unionByName(nf); frontier = nf }
        }
        cuts.drop(ce); cuts.drop(color)
        // ---- assign the swept SCCs and shrink the live subgraph
        acc.add(reached.select(col("id"), col("root").as("scc_id")))
        val verts2 = cuts(
          verts.join(small(reached.select(col("id"))), Seq("id"), "left_anti"))
        val live2 = cuts(
          live.join(small(reached.select(col("id").as("rid"))),
              live("src") === col("rid"), "left_anti")
            .join(small(reached.select(col("id").as("rid2"))),
              live("dst") === col("rid2"), "left_anti"))
        nLive = verts2.count()
        live2.count()
        cuts.drop(reached); cuts.drop(verts); cuts.drop(live)
        verts = verts2
        live = live2
      }
    }
    // a rejected call pins nothing: the scope frees every cut as it throws
    require(nLive == 0,
      s"SCC did not converge within $maxRounds rounds ($nLive vertices live)")
    // the scope frees the live subgraph; acc's final cut goes to the caller
    cuts.keep(acc.rows)
  }

  /** Deterministic maximal independent set — Luby's classic parallel MIS
    * with the RNG replaced by the repo's cross-engine h32 draw: in round r
    * vertex v gets priority p(v) = h32("r|v"), joins the MIS iff
    * (p(v), v) beats the minimum (p(u), u) over its LIVE neighbors (the
    * id tie-break makes hash collisions harmless), and winners plus their
    * neighborhoods leave the live set. Zero RNG state, so the resulting
    * set is a pure function of the graph — replayable bit-for-bit in SQL
    * (the hashWalks construction). Luby terminates in O(log n) rounds in
    * expectation per round's fresh draw; `maxRounds` makes the bound loud.
    * Per round: ONE gated-broadcast join of the |V|-bounded priority
    * relation against the immutable live edge relation + one partial
    * min-struct aggregate + the semi/anti-join shrink — never pair state.
    */
  def maximalIndependentSet(edges: DataFrame, maxRounds: Int = 64,
      broadcastCeiling: Long = BroadcastVertexRows): DataFrame =
    misRounds(edges, maxRounds, broadcastCeiling)._1

  /** maximalIndependentSet plus the number of Luby rounds taken — the
    * kCoreRounds pattern: specs pin the round budget so the unrolled-CTE
    * oracle provably covers convergence.
    */
  def misRounds(edges: DataFrame, maxRounds: Int = 64,
      broadcastCeiling: Long = BroadcastVertexRows): (DataFrame, Int) =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    import graft.pipeline.TextHash
    val e0 = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    var verts = cuts(
      edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id"))).distinct())
    var live = cuts(
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var nLive = verts.count()
    def small(df: DataFrame): DataFrame =
      if (nLive <= broadcastCeiling) broadcast(df) else df.hint("shuffle_hash")
    val acc = new Accumulated(cuts, verts.where(lit(false)))
    var round = 0
    while (nLive > 0 && round < maxRounds) {
      round += 1
      val pr = verts.select(col("id"),
        TextHash.h32(concat_ws("|", lit(round), col("id"))).as("p"))
      // min live-neighbor (priority, id) per vertex; vertices with no live
      // neighbors (m IS NULL) are isolated and always win
      val nbrMin = live.join(small(pr), live("src") === pr("id"))
        .groupBy(live("dst").as("id"))
        .agg(min(struct(col("p"), pr("id").as("nid"))).as("m"))
      val winners = cuts(
        pr.join(nbrMin.select(col("id"), col("m")), Seq("id"), "left_outer")
          .where(col("m").isNull ||
            struct(col("p"), col("id").as("nid")) < col("m"))
          .select(col("id")))
      winners.count()
      acc.add(winners)
      // winners and their whole neighborhoods leave the live set
      val removed = winners.unionByName(
        live.join(small(winners.select(col("id").as("wid"))),
            live("src") === col("wid"), "left_semi")
          .select(col("dst").as("id"))).distinct()
      val verts2 = cuts(verts.join(small(removed), Seq("id"), "left_anti"))
      val live2 = cuts(
        live.join(small(removed.select(col("id").as("rid"))),
            live("src") === col("rid"), "left_anti")
          .join(small(removed.select(col("id").as("rid2"))),
            live("dst") === col("rid2"), "left_anti"))
      nLive = verts2.count()
      live2.count()
      cuts.drop(winners); cuts.drop(verts); cuts.drop(live)
      verts = verts2
      live = live2
    }
    // a rejected call pins nothing: the scope frees every cut as it throws
    require(nLive == 0,
      s"MIS did not converge within $maxRounds rounds ($nLive vertices live)")
    // the scope frees the live subgraph; acc's final cut goes to the caller
    (cuts.keep(acc.rows), round)
  }

  /** A union grown round by round as eager cuts: each [[add]] cuts
    * rows ∪ more and drops the superseded cut. The seed, an empty frame
    * over a live relation, is never dropped.
    */
  private final class Accumulated(cuts: Checkpoints.Cuts, seed: DataFrame) {
    private var cut: Option[DataFrame] = None
    def rows: DataFrame = cut.getOrElse(seed)
    def add(more: DataFrame): Unit = {
      val next = cuts(rows.unionByName(more), eager = true)
      cut.foreach(cuts.drop)
      cut = Some(next)
    }
  }

  /** Link prediction scores (the GDS alpha family, exact-integer members):
    * for every non-adjacent vertex pair of the undirected graph sharing at
    * least one neighbor, common-neighbor count, preferential attachment
    * (degree product) and total-neighbors (union size) — all exact BIGINT
    * arithmetic, so the scores are bit-stable under any shuffle order and
    * oracle-checkable (Adamic-Adar's 1/ln(deg) sum is the FP member; its
    * ranking at small scale is CN's, so the integer triple carries the
    * gate). Candidate pairs are generated per shared neighbor — a vertex of
    * degree d emits d(d-1)/2 wedge rows, the inherent candidate set — so
    * hub wedges dominate at scale: vertices above `maxDegree` are excluded
    * as wedge CENTERS (a neighbor shared by everyone carries no signal —
    * nodeSimilarity's hub rule), while still scoring as endpoints. Degrees
    * and the adjacency anti-join use the FULL graph, so reported scores
    * are exact whenever no hub centers a counted wedge (TPC-H co-supply:
    * always).
    */
  def linkPrediction(edges: DataFrame, topK: Int,
      maxDegree: Long = 1L << 16): DataFrame = {
    import org.apache.spark.sql.functions._
    val (und, deg, pairAgg) = wedgePairs(edges, maxDegree)
    // per-pair wedge count = common-neighbor count
    val cn = pairAgg(Seq(count(lit(1)).as("common")))
    // drop already-adjacent pairs (canonical a < b matches und both ways)
    val nonAdj = cn.join(und,
        cn("a") === und("id") && cn("b") === und("nbr"), "left_anti")
    nonAdj
      .join(deg.select(col("id"), col("deg").as("deg_a")), col("a") === col("id"))
      .drop("id")
      .join(deg.select(col("id"), col("deg").as("deg_b")), col("b") === col("id"))
      .drop("id")
      .select(col("a"), col("b"), col("common"),
        (col("deg_a") * col("deg_b")).as("pref_attach"),
        (col("deg_a") + col("deg_b") - col("common")).as("total_neighbors"))
      .orderBy(col("common").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Adamic-Adar index — the FP member of the link-prediction family:
    * score(a,b) = Σ over shared neighbors c of 1/ln(deg(c)), over the same
    * hub-capped wedge set as [[linkPrediction]]. deg(c) >= 2 for every
    * wedge center, so ln(deg) > 0. Ranking ties broken by (a, b) for a
    * total order.
    *
    * Default (`quantize = None`) keeps the raw double sum — its
    * accumulation order is shuffle-dependent at the last ulp. With
    * `quantize = Some(q)` each term is snapped onto the 10^-q grid and
    * the sum is exact integer arithmetic, so the score (and therefore
    * the top-k selection) is bit-deterministic and oracle-checkable
    * across engines. The quantization is wq = floor(10^q·term + 0.5) as
    * LONG — NOT Spark's `round`, whose per-row BigDecimal path measured
    * 2.6× the whole gate's cost over the wedge relation at sf0.1; floor
    * stays inside codegen and the LONG sum is a plain integer aggregate.
    * Two r10 driver-gate lessons are baked in: ln(deg) comes from
    * [[graft.util.PortableLog]] (libm-free, bit-identical in DuckDB —
    * a JVM/libm ulp can no longer flip a floor boundary), and the
    * integer sum is presented as DECIMAL via EXACT decimal arithmetic
    * (integer × 10^-q decimal literal), never through a DOUBLE hop
    * whose rounding the oracle engine may not reproduce.
    */
  def adamicAdar(edges: DataFrame, topK: Int,
      maxDegree: Long = 1L << 16, quantize: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val (und, _, pairAgg) = wedgePairs(edges, maxDegree)
    val aa = quantize match {
      case Some(q) =>
        val scale = math.pow(10, q)
        val term = lit(1.0) / graft.util.PortableLog.lnLong(col("cdeg"))
        val wInt = floor(lit(scale) * term + lit(0.5)).cast("long")
        val microLit = lit(new java.math.BigDecimal(java.math.BigInteger.ONE, q))
        pairAgg(Seq(sum(wInt).as("__aa_int"), count(lit(1)).as("common")))
          .withColumn("adamic_adar",
            (col("__aa_int").cast(org.apache.spark.sql.types.DecimalType(22, 0))
              * microLit)
              .cast(org.apache.spark.sql.types.DecimalType(28, q)))
          .drop("__aa_int")
      case None =>
        val term = lit(1.0) / log(col("cdeg"))
        pairAgg(Seq(sum(term).as("adamic_adar"), count(lit(1)).as("common")))
    }
    aa.join(und, aa("a") === und("id") && aa("b") === und("nbr"), "left_anti")
      .select(col("a"), col("b"), col("common"), col("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Integer-pure oracle twin of [[adamicAdar]]: the same hub-capped wedge
    * relation, but every output column stays in LONG arithmetic end to end
    * — `common` (wedge count), `sum_cdeg` (Σ center degree) and
    * `sum_cdeg_sq` (Σ center degree²) per candidate pair. Those integers
    * pin the identical wedge computation the AA score is derived from
    * (the score is a function of the per-pair center-degree multiset), so
    * a cross-engine hash check on them certifies the expensive part of
    * the operator without ever hashing a transcendental-derived value —
    * the x24/g25 stress/betweenness twin pattern. Ranking is the
    * deterministic integer order (common DESC, sum_cdeg ASC, a, b):
    * more shared neighbors, then lower-degree (= more AA-informative)
    * centers. The FP-scored ranking lives in [[adamicAdar]], pinned by
    * AlgorithmsSpec's hand-computed values. Reference behavior:
    * rust-graph-db has no link-prediction surface; this family extends
    * its graph algorithms (SURVEY §2 beyond-reference set).
    */
  def adamicAdarInvariants(edges: DataFrame, topK: Int,
      maxDegree: Long = 1L << 16): DataFrame = {
    import org.apache.spark.sql.functions._
    val (und, _, pairAgg) = wedgePairs(edges, maxDegree)
    val inv = pairAgg(Seq(
      count(lit(1)).cast("long").as("common"),
      sum(col("cdeg")).cast("long").as("sum_cdeg"),
      sum(col("cdeg") * col("cdeg")).cast("long").as("sum_cdeg_sq")))
    inv.join(und, inv("a") === und("id") && inv("b") === und("nbr"), "left_anti")
      .select(col("a"), col("b"), col("common"), col("sum_cdeg"),
        col("sum_cdeg_sq"))
      .orderBy(col("common").desc, col("sum_cdeg"), col("a"), col("b"))
      .limit(topK)
  }

  /** Shared candidate machinery for the link-prediction family: symmetrized
    * adjacency, degrees, and a per-pair aggregator over the hub-capped
    * wedge relation (each center c of degree <= maxDegree emits its
    * unordered neighbor pairs a < b, carrying the center's degree `cdeg`
    * for degree-weighted scores). Degrees and the adjacency anti-join use
    * the FULL graph; when any hub is excluded as a center, wedge-derived
    * counts are lower bounds for pairs the hub touches — logged loudly so
    * consumers know (the scores silently changing meaning was the r8
    * advice item).
    */
  private def wedgePairs(edges: DataFrame, maxDegree: Long)
      : (DataFrame, DataFrame,
         Seq[org.apache.spark.sql.Column] => DataFrame) =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    val e0 = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    // canonical undirected adjacency, symmetrized: (id, nbr) both ways;
    // both cuts go to the caller, whose scores read them
    val und = cuts.keep(cuts(e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .select(col("src").as("id"), col("dst").as("nbr")), eager = true))
    val deg = cuts.keep(cuts(und.groupBy(col("id")).agg(count(lit(1)).as("deg")),
      eager = true))
    // one pass over the |V| degree relation yields the broadcast gate AND
    // the hub-exclusion audit
    val Array(nVerts, nHubs) = deg
      .agg(count(lit(1)), count(when(col("deg") > maxDegree, 1))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    if (nHubs > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"linkPrediction family: $nHubs hub vertices (deg > $maxDegree) " +
          "excluded as wedge centers — common-neighbor-derived scores are " +
          "lower bounds (and total_neighbors an overcount) for pairs they touch")
    val centers0 = deg.where(col("deg") <= maxDegree)
      .select(col("id").as("cid"), col("deg").as("cdeg"))
    val centers = if (nVerts <= BroadcastVertexRows) broadcast(centers0)
      else centers0.hint("shuffle_hash")
    val wedgeAdj = und.join(centers, col("id") === col("cid"))
      .select(col("id").as("c"), col("nbr"), col("cdeg"))
    // wedges at each center c: unordered endpoint pairs (a < b)
    val pairs = wedgeAdj.as("x").join(wedgeAdj.as("y"),
        col("x.c") === col("y.c") && col("x.nbr") < col("y.nbr"))
      .select(col("x.nbr").as("a"), col("y.nbr").as("b"),
        col("x.cdeg").as("cdeg"))
    (und, deg, aggs => pairs.groupBy(col("a"), col("b")).agg(aggs.head, aggs.tail: _*))
  }

  /** HyperANF-style approximate neighborhood function (Boldi–Rosa–Vigna,
    * WWW 2011; lineage: ANF, Palmer et al. KDD 2002): for each radius
    * h ≤ rounds, an estimate of N(h) = Σ_v |{w : dist(v, w) ≤ h}| over
    * out-neighborhoods — the sketch that replaces the |V|² distance
    * closure for diameter/centrality profiling at web scale.
    *
    * The per-vertex sketch is a 16-register HLL variant kept INTEGER-PURE
    * end to end: vertex w hashes once to x = h32("anf|" + w); register
    * index j = x % 16; the register carries lb = lowbit((x div 16) + 1),
    * a power of two with P(lb ≥ 2^k) = 2^-k — the same geometric tail as
    * HLL's leading-zero rank, but computable with `y & -y` instead of a
    * bit-length scan. Ball merge is groupBy(id, j).max(lb) (lowbit order
    * ≡ rank order), and the harmonic denominator Σ_j 2^-rank becomes the
    * EXACT BIGINT harm_v = Σ_present (2^32 div lb) + absent·2^32 — a
    * power of two divided by a smaller power of two never rounds. The
    * α₁₆·r² = 0.673·256 bias constant enters as the integer ratio
    * 172288/1000, so nf_est = Σ_v (172288·2^32) div (1000·harm_v) is
    * pure integer arithmetic reproducible on any engine — no FP, no
    * libm, nothing for an oracle host to evaluate differently. Raw HLL
    * only (no small-range correction): at tiny ball sizes the known
    * ~α·r²/(r-1) bias applies identically on both sides, and the digest
    * columns (n_regs, sum_lb) stay exact regardless.
    *
    * Scale shape: state is ≤ 16 rows per vertex, and each round is one
    * edges⋈state join plus one partial-aggregated max — never a distance
    * enumeration. `rounds` is a hard budget; past the true eccentricity
    * fixpoint the digests simply repeat.
    *
    * Returns one row per h ∈ [0, rounds]: (h, n_regs, sum_lb, nf_est).
    */
  def neighborhoodFunction(edges: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = edges.sparkSession
    import spark.implicits._
    require(rounds >= 0, "neighborhoodFunction needs rounds >= 0")
    // the digests are driver values: every cut is dead once they are read
    Checkpoints.owned(spark) { cuts =>
      val e = cuts(
        edges.select(col("src"), col("dst")).where(col("src") =!= col("dst")))
      val verts = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      // DENSE register layout — one row per vertex, 16 long columns (0 =
      // register absent). A sparse (id, j, lb) relation is the oracle's
      // natural shape but ships 16 candidate rows per edge per round; the
      // dense row ships ONE, the merge is 16 codegen'd MAXes under a single
      // |V|-key groupBy (map-side combinable), and the digest collapses to
      // one aggregation with no per-vertex regrouping — measured ~2× on the
      // sf0.1 graph.
      val regCols = (0 until 16).map(k => s"r$k")
      val seed = verts
        .withColumn("x",
          graft.pipeline.TextHash.h32(concat(lit("anf|"), col("id").cast("string"))))
        .withColumn("j", expr("x % 16"))
        .withColumn("y", expr("(x div 16) + 1"))
        .withColumn("lb", expr("y & -y"))
        .select(col("id") +: (0 until 16).map(k =>
          when(col("j") === k, col("lb")).otherwise(lit(0L)).as(s"r$k")): _*)
      def digest(state: DataFrame, h: Int): (Long, Long, Long, Long) = {
        val present = regCols.map(c => s"(case when $c > 0 then 1 else 0 end)")
          .mkString(" + ")
        val harm = regCols.map(c =>
          s"(case when $c = 0 then 4294967296 else 4294967296 div $c end)")
          .mkString(" + ")
        val r = state
          .agg(sum(expr(present)).as("n_regs"),
            sum(expr(regCols.mkString(" + "))).as("sum_lb"),
            sum(expr(s"(172288 * 4294967296) div (1000 * ($harm))")).as("nf_est"))
          .head()
        def g(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
        (h.toLong, g(0), g(1), g(2))
      }
      var state = cuts(seed, eager = true)
      // |V| never changes across rounds, so one count gates every round's
      // broadcast. The dense row is ~17 longs, so the ceiling sits 8× under
      // the (id, long) one — ~70 MB of broadcast at the cap.
      val nVerts = state.count()
      val bcast = nVerts <= BroadcastVertexRows / 8
      val digests = collection.mutable.ArrayBuffer(digest(state, 0))
      for (h <- 1 to rounds) {
        val st = if (bcast) broadcast(state) else state
        val cand = e.join(st, st("id") === e("dst"))
          .select(e("src").as("id") +: regCols.map(c => st(c)): _*)
        // lazy cut: the round's digest aggregation is the job that
        // materializes it — one job per round instead of cut + digest
        // (the AQE job floor, not shuffle volume, prices this loop)
        val next = cuts(
          state.unionByName(cand).groupBy(col("id"))
            .agg(max(col(regCols.head)).as(regCols.head),
              regCols.tail.map(c => max(col(c)).as(c)): _*))
        digests += digest(next, h)
        cuts.drop(state)
        state = next
      }
      digests.toSeq.toDF("h", "n_regs", "sum_lb", "nf_est")
    }
  }

  /** Degree-assortativity moment sums (Newman, PRL 89 2002 "Assortative
    * mixing in networks", directed out→in form): for every directed edge
    * (u, v), pair x = outdeg(u) with y = indeg(v) and return the one-row
    * exact-integer moment relation (m, Σx, Σy, Σxy, Σx², Σy²) that fully
    * determines the Pearson coefficient r = (m·Σxy − Σx·Σy) /
    * √((m·Σx² − (Σx)²)(m·Σy² − (Σy)²)). Emitting the raw BIGINT sums —
    * never the FP quotient, and never the m-scaled products (which could
    * overflow LONG on a 100 TB edge set) — keeps the hashed gate columns
    * in the engine-portable integer-pure class; [[degreeAssortativity]]
    * finishes the scalar from the one digest row. Plan shape: two
    * |V|-sized degree aggregations, each joined back to the edge relation
    * on its own key (plain shuffle joins — a degree table is |V|-sized
    * and must never broadcast unconditionally), then a single global
    * aggregate; partial aggregation makes the final reduce O(partitions).
    * Reference behavior: rust-graph-db has no mixing-statistics surface;
    * this extends its graph-algorithm family (SURVEY §2
    * beyond-reference set).
    */
  def assortativityInvariants(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
    val odeg = e.groupBy(col("src")).agg(count(lit(1)).as("dx"))
    val ideg = e.groupBy(col("dst")).agg(count(lit(1)).as("dy"))
    e.join(odeg, "src").join(ideg, "dst")
      .agg(count(lit(1)).cast("long").as("m"),
        sum(col("dx")).cast("long").as("sx"),
        sum(col("dy")).cast("long").as("sy"),
        sum(col("dx") * col("dy")).cast("long").as("sxy"),
        sum(col("dx") * col("dx")).cast("long").as("sxx"),
        sum(col("dy") * col("dy")).cast("long").as("syy"))
  }

  /** Pearson degree-assortativity coefficient finished from the
    * [[assortativityInvariants]] digest (one driver-side row — the
    * sanctioned scalar-aggregate collect class). NaN when either marginal
    * degree sequence is constant (zero variance), matching the
    * correlation's domain.
    */
  def degreeAssortativity(edges: DataFrame): Double = {
    val r = assortativityInvariants(edges).head()
    val Seq(m, sx, sy, sxy, sxx, syy) =
      (0 until 6).map(i => r.getLong(i).toDouble)
    val num = m * sxy - sx * sy
    val den = math.sqrt(m * sxx - sx * sx) * math.sqrt(m * syy - sy * sy)
    num / den
  }

  /** Edge reciprocity (directed-graph mixing statistic): of the distinct
    * non-loop directed edges, how many have their reverse edge present?
    * Returns one row of exact integers — n_edges, n_recip (edges whose
    * reverse exists; a mutual pair contributes 2), and ratio_ppm =
    * (10⁶·n_recip) div n_edges (integer `div`, the engine-portable
    * division class). Plan shape: one distinct on the edge relation
    * (checkpointed once — the wedgePairs discipline — so the swap reuses
    * it instead of recomputing), then ONE equi-join on the swapped key
    * pair marking edges whose reverse exists (at most one match — the
    * relation is a set, so the join cannot fan out), and both counts
    * fall out of a single partial-combined aggregate. Shuffle-
    * partitioned on (src, dst) both sides, never materialized on the
    * driver, no broadcast of an |E|-sized relation. Reference behavior:
    * rust-graph-db has no mixing-statistics surface (SURVEY §2
    * beyond-reference set).
    */
  def reciprocityInvariants(edges: DataFrame): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    val d = cuts(edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct(), eager = true)
    val rev = d.select(col("dst").as("src"), col("src").as("dst"),
      lit(1).as("has_rev"))
    cuts.keep(d.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).cast("long").as("n_edges"),
        count(col("has_rev")).cast("long").as("n_recip"))
      .select(col("n_edges"), col("n_recip"),
        expr("(1000000 * n_recip) div n_edges").as("ratio_ppm")))
  }

  /** Newman modularity invariants of the [[labelPropagation]] communities
    * (Newman & Girvan 2004, eq. 5; the quality number for g22): over the
    * undirected distinct non-loop edge closure (the exact relation LPA
    * votes on), the one-row exact-integer digest (m2, intra2, sum_dc2,
    * n_comm) with m2 = |closure| = Σ_v deg(v) = 2m, intra2 = closure rows
    * whose endpoints share a community (= 2·Σ_c e_c), and sum_dc2 =
    * Σ_c (Σ_{v∈c} deg v)² — which fully determine
    * Q = intra2/m2 − sum_dc2/m2². Raw BIGINT sums only, never the FP
    * quotient (the g42 moment-digest pattern — the engine-portable
    * integer class); [[modularityScore]] finishes the scalar. Exactness
    * domain: sum_dc2 stays inside LONG while every community's degree sum
    * is < 2^31.5 (≈3·10⁹ edge endpoints in ONE community) — past that,
    * widen the squared term to DECIMAL(38,0). Plan shape: the LPA label
    * relation (|V|-sized, broadcast-gated exactly as inside LPA) joins
    * the closure once per endpoint for intra2 and the degree relation
    * once for the community degree sums; every aggregate partially
    * combines. Reference behavior: rust-graph-db has no community
    * surface (SURVEY §2 beyond-reference set).
    */
  def modularityInvariants(edges: DataFrame, iters: Int = 4,
      broadcastCeiling: Long = BroadcastVertexRows): DataFrame =
    // everything inside — the LPA partition (ALL its round cuts, which
    // its scope hands to this one) AND the digest's closure — is dead the
    // moment the one-row digest is on the driver (r13 VERDICT hygiene
    // ask): the scope frees every cut, so zero blocks survive
    Checkpoints.owned(edges.sparkSession) { _ =>
      modularityDigestOf(edges,
        labelPropagation(edges, iters, broadcastCeiling), broadcastCeiling)
    }

  /** The [[modularityInvariants]] digest for an ARBITRARY partition
    * `labels` (id, lbl) — shared by the LPA gate and the Louvain
    * refinement gate, which must price different partitions of the same
    * closure identically. `labels` MUST cover the closure's vertex set
    * (checked loudly — a missing vertex would silently undercount m2 and
    * intra2, r13 ADVICE). The one-row digest is materialized internally
    * and the closure cut freed before returning (the internal blocks
    * never outlive the call); the caller's own label and edge blocks,
    * cut or cached, are never touched.
    */
  def modularityDigestOf(edges: DataFrame, labels: DataFrame,
      broadcastCeiling: Long = BroadcastVertexRows): DataFrame = {
    val spark = edges.sparkSession
    Checkpoints.owned(spark) { _ =>
      val digest = modularityDigestPlanOf(edges, labels, broadcastCeiling)
      spark.createDataFrame(java.util.Arrays.asList(digest.head()), digest.schema)
    }
  }

  /** The lazy digest plan behind [[modularityDigestOf]] — split out so
    * PlanAuditSpec can pin the distributed shape (equi-joins + partial
    * aggregates, one sanctioned one-row join) even though the public
    * method hands back a materialized one-row relation.
    */
  private[graft] def modularityDigestPlanOf(edges: DataFrame,
      labels: DataFrame, broadcastCeiling: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val und = undirectedClosure(edges)
    val nVerts = labels.count() // materializes a lazy label cut too
    // coverage precondition (r13 ADVICE): a labels relation missing any
    // closure vertex silently undercounts m2 (left-join degree sum) and
    // intra2 (inner joins drop unlabeled endpoints) — fail loudly instead
    val uncovered = und.select(col("src").as("id")).distinct()
      .join(labels.select(col("id")), Seq("id"), "left_anti").count()
    require(uncovered == 0L,
      s"modularityDigestOf: $uncovered closure vertex(es) missing from " +
        "labels — the digest would silently undercount m2/intra2")
    def small(df: DataFrame): DataFrame =
      if (nVerts <= broadcastCeiling) broadcast(df) else df.hint("shuffle_hash")
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    // community degree sums; a vertex whose only edges are self-loops has
    // no closure rows — it is its own community with degree 0
    val dc = labels.join(deg, Seq("id"), "left")
      .select(col("lbl"), coalesce(col("d"), lit(0L)).as("d"))
      .groupBy(col("lbl")).agg(sum(col("d")).as("dC"))
    val dcAgg = dc.agg(sum(col("dC")).cast("long").as("m2"),
      sum(col("dC") * col("dC")).cast("long").as("sum_dc2"),
      count(lit(1)).cast("long").as("n_comm"))
    val intra = und
      .join(small(labels.select(col("id").as("src"), col("lbl").as("lsrc"))), "src")
      .join(small(labels.select(col("id").as("dst"), col("lbl").as("ldst"))), "dst")
      .where(col("lsrc") === col("ldst"))
      .agg(count(lit(1)).cast("long").as("intra2"))
    dcAgg.crossJoin(intra) // both one-row digests
      .select(col("m2"), col("intra2"), col("sum_dc2"), col("n_comm"))
  }

  /** The undirected distinct non-loop closure every community statistic
    * here votes/prices on — cut: each caller reads it at least twice.
    * Lazy (pins only once materialized); the cut goes to the enclosing
    * scope, which every public caller opens.
    */
  private def undirectedClosure(edges: DataFrame): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
      import org.apache.spark.sql.functions._
      val e0 = edges.select("src", "dst").where(col("src") =!= col("dst"))
      cuts.keep(cuts(e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()))
    }

  /** Weighted sibling of [[undirectedClosure]] for [[louvainLevels]]'s
    * weighted entry: self-loops dropped, both directions emitted, and
    * PARALLEL edges collapse by SUMMING their weights (the standard
    * multigraph→weighted reduction — the unweighted closure's
    * `.distinct()` collapses them to weight 1 instead, which is the
    * binary-adjacency convention, not a special case of this one).
    * Weights must be positive LONGs — NULL or ≤ 0 fails loudly (zero
    * contributes nothing but corrupts degree sums; negative breaks the
    * modularity gain's sign logic).
    */
  private def weightedClosure(edges: DataFrame, weightCol: String): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    val raw = edges
      .select(col("src"), col("dst"), col(weightCol).as("w0"))
      .where(col("src") =!= col("dst"))
    // loud on NULL, non-positive, AND non-integral weights: cast("long")
    // would silently FLOOR a fractional weight (1.7 → 1), rewriting every
    // degree sum without the failure the positive-LONG contract promises.
    // The round trip compares through DECIMAL(38,9), not DOUBLE (r16
    // review): a double comparison goes blind past 2^53, where a
    // fractional or off-by-one weight would slip through; the decimal
    // cast is exact over the full LONG range, and a value decimal cannot
    // represent at all (NaN, Infinity, |w| ≥ 10^29) is rejected by its
    // NULL instead of slipping through as a saturated long
    val g = raw.agg(
      sum(when(col("w0").isNull || col("w0").cast("long").isNull
        || col("w0").cast("decimal(38,9)").isNull
        || col("w0").cast("long") <= 0L
        || col("w0").cast("decimal(38,9)") =!=
          col("w0").cast("long").cast("decimal(38,9)"),
        1L).otherwise(0L))).head()
    if (!g.isNullAt(0)) require(g.getLong(0) == 0L,
      s"louvainLevels: ${g.getLong(0)} edge(s) with NULL, non-positive, " +
        s"or non-integral weight '$weightCol' — weighted modularity needs " +
        "positive LONGs")
    val e0 = raw.select(col("src"), col("dst"), col("w0").cast("long").as("w"))
    cuts.keep(cuts(e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))))
  }

  /** One synchronous Louvain refinement sweep (Blondel et al. 2008 local
    * moves, parallel variant): every vertex evaluates moving to each
    * NEIGHBOR community and takes the best strictly-positive-gain move,
    * all moves applied simultaneously. Gains are compared by the exact
    * integer numerator g = m2·(k_vb − k_va) − k_v² − k_v·(d_b − d_a)
    * (ΔQ·m2²/2 with v's own degree removed from its source community),
    * ties broken by the smaller target label — no FP anywhere, so the
    * sweep is oracle-replayable. Exactness domain: m2·k_vb stays inside
    * LONG while m2·max_deg < 2^63 — far beyond any real edge set's
    * degree skew at 100 TB edge counts. As in every synchronous-parallel
    * Louvain, symmetric structures can swap rather than settle; a
    * refinement SWEEP is the deterministic, bounded-cost contract (the
    * fixed-budget LPA rationale). Plan shape: the per-(vertex, neighbor
    * community) edge-count relation is one map-side-combined aggregate
    * over the closure; the argmax is a per-vertex window; every join is
    * an equi-join on id or lbl with the |V|-sized label relation
    * broadcast-gated. m2 is the one driver-side scalar (the sanctioned
    * one-row collect class). Reference behavior: rust-graph-db has no
    * community surface (SURVEY §2 beyond-reference set).
    */
  def louvainRefineOnce(edges: DataFrame, labels: DataFrame,
      broadcastCeiling: Long = BroadcastVertexRows): DataFrame =
    // every internal block (closure, label pin, per-community edge counts)
    // is dead once the refined partition is materialized; the scope frees
    // them on success AND on every failure path (r13 VERDICT hygiene ask)
    // — only the result's own cut and the caller's label blocks survive
    Checkpoints.owned(edges.sparkSession) { cuts =>
      cuts.keep(cuts(louvainSweepPlan(edges, labels, broadcastCeiling), eager = true))
    }

  /** The lazy one-sweep plan behind [[louvainRefineOnce]] — split out so
    * PlanAuditSpec can pin the distributed shape (equi-joins, per-vertex
    * window argmax) even though the public method hands back a
    * materialized cut with the internal blocks released. Its cuts go to
    * the enclosing scope.
    */
  private[graft] def louvainSweepPlan(edges: DataFrame, labels: DataFrame,
      broadcastCeiling: Long): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
    import org.apache.spark.sql.functions._
    val und = undirectedClosure(edges)
    val lbl = cuts(labels.select(col("id"), col("lbl")))
    val nVerts = lbl.count()
    def small(df: DataFrame): DataFrame =
      if (nVerts <= broadcastCeiling) broadcast(df) else df.hint("shuffle_hash")
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("kv"))
    val dc = lbl.join(deg, Seq("id"), "left")
      .select(col("lbl"), coalesce(col("kv"), lit(0L)).as("kv"))
      .groupBy(col("lbl")).agg(sum(col("kv")).as("dcs"))
    // loud, not an NPE: an edgeless (or all-self-loop) graph has no
    // closure to price moves against
    val m2row = dc.agg(sum(col("dcs")).cast("long")).head()
    require(!m2row.isNullAt(0) && m2row.getLong(0) > 0L,
      "louvainRefineOnce: the undirected closure is empty — nothing to refine")
    val m2 = m2row.getLong(0)
    // edges from each vertex into each neighbor community
    val kvc = cuts(und // read twice: own-community row + candidates
      .join(small(lbl.select(col("id").as("dst"), col("lbl").as("c"))), "dst")
      .groupBy(col("src").as("id"), col("c")).agg(count(lit(1)).as("k")))
    val base = lbl.select(col("id"), col("lbl").as("a"))
      .join(deg, Seq("id"), "left")
      .select(col("id"), col("a"), coalesce(col("kv"), lit(0L)).as("kv"))
      .join(dc.select(col("lbl").as("a"), col("dcs").as("d_a")), Seq("a"))
      .join(kvc.select(col("id"), col("c").as("a"), col("k").as("k_va")),
        Seq("id", "a"), "left")
      .select(col("id"), col("a"), col("kv"), col("d_a"),
        coalesce(col("k_va"), lit(0L)).as("k_va"))
    val cand = base
      .join(kvc, Seq("id"))
      .where(col("c") =!= col("a"))
      .join(dc.select(col("lbl").as("c"), col("dcs").as("d_b")), Seq("c"))
      .withColumn("g", lit(m2) * (col("k") - col("k_va"))
        - col("kv") * col("kv") - col("kv") * (col("d_b") - col("d_a")))
    // per-vertex argmax as a PARTIAL-AGGREGABLE max, not a window sort
    // (r19, guide §2.3 "aggregate before you shuffle"): max over
    // (g, ~c) is lexicographically "largest gain, ties to the SMALLEST
    // target label" — bitwise_not is an overflow-free order inversion
    // (where -c would overflow at Long.MinValue) — so each mapper ships
    // one candidate row per vertex instead of every candidate through a
    // sort exchange. Bit-identical to the former row_number window
    // ordered (g desc, c asc).
    val best = cand
      .groupBy(col("id"))
      .agg(max(struct(col("g").as("g"), bitwise_not(col("c")).as("nc"))).as("m"))
      .where(col("m.g") > 0)
      .select(col("id"), bitwise_not(col("m.nc")).as("moved"))
    // best is |movers|-bounded and ends the plan chain: broadcast-gating
    // it streams the |V|-sized lbl side unshuffled (r20, guide §2.4)
    cuts.keep(lbl.join(small(best), Seq("id"), "left")
      .select(col("id"), coalesce(col("moved"), col("lbl")).as("lbl")))
  }

  /** Multi-level Louvain (Blondel et al. 2008, BOTH phases): each LEVEL
    * runs synchronous best-positive-move sweeps from a singleton start
    * until a sweep moves nothing (budget `sweepsPerLevel` — the bounded-
    * cost contract of synchronous parallel Louvain, the g45 rationale),
    * then COARSENS: communities become vertices, parallel edge weights
    * sum, intra-community weight becomes the super-vertex self-loop
    * (phase 2), and the next level repeats on the weighted coarse graph.
    * Stops at the first level whose sweeps produce no NET change
    * (final labels == singleton start), or after `maxLevels`.
    *
    * Gains generalize [[louvainRefineOnce]]'s exact integer numerator to
    * weights: g = m2·(k_vb − k_va) − k_v² − k_v·(d_b − d_a), with k_v the
    * weighted degree counting a self-loop twice (A_ii = 2·w_ii — the
    * matrix convention under which coarsening preserves modularity), so
    * m2 = Σ_i k_i is INVARIANT across levels and one driver scalar
    * serves all of them. Each sweep runs as two PARITY SUB-ROUNDS (only
    * id % 2 == phase moves, the rest anchor their communities) and
    * singleton→singleton moves go only toward the smaller label (the
    * Grappolo tie rule; Lu et al., Parallel Heuristics for Scalable
    * Community Detection, 2015) — together these break the synchronous
    * A↔B swap and the label-chase cascade deterministically (measured on
    * the triangle-ring probe: the plain synchronous sweep stalls at
    * Q≈0.08, this scheme reaches the ring's optimum 0.675). Every rule
    * is integer arithmetic over equi-joins plus one per-vertex window
    * argmax, so the whole multi-level run replays op-for-op in SQL (the
    * g47 oracle). Exactness domain: m2·max weighted degree < 2^63, as
    * g45.
    *
    * Scale shape: level 1 works on the 2|E| closure with w = 1; every
    * later level works on the community graph, which is strictly
    * smaller (that collapse is the point of phase 2 — the 100 TB
    * argument). Per sweep: one map-side-combined (vertex, neighbor
    * community) aggregate, broadcast-gated |V_level|-sized label joins,
    * one per-vertex window. All internal cuts are freed on
    * success and failure; the returned partition is the one surviving
    * (eagerly materialized) block.
    *
    * Returns (flat partition over ALL edge endpoints — self-loop-only
    * vertices stay singletons, the g44 digest domain —, count of levels
    * that net-moved at least one vertex). Reference behavior:
    * rust-graph-db has no community surface (SURVEY §2
    * beyond-reference set).
    *
    * `weightCol`: names a positive-LONG edge-weight column and switches
    * level 1 to the weighted closure (parallel edges sum; NULL/≤0 weights
    * fail loudly). The gain rule, coarsening, and m2 invariance were
    * already weight-general — level 1's w = 1 was the only binary
    * assumption — so the whole multi-level run still replays op-for-op
    * in SQL. Real corpora cluster weighted similarity graphs (the d7
    * LSH candidate graph is the in-repo consumer). Exactness domain
    * becomes m2·max weighted degree < 2^63.
    */
  def louvainLevels(edges: DataFrame, maxLevels: Int = 3,
      sweepsPerLevel: Int = 3,
      broadcastCeiling: Long = BroadcastVertexRows,
      weightCol: Option[String] = None): (DataFrame, Int) = {
    import org.apache.spark.sql.functions._
    require(maxLevels >= 1 && sweepsPerLevel >= 1,
      "louvainLevels needs at least one level and one sweep per level")
    val spark = edges.sparkSession
    // every internal cut is freed on success and failure; the result's
    // eager cut is the one that goes to the caller
    Checkpoints.owned(spark) { cuts =>
      var nLevels = 0
      // lazy cut, then REBUILD the frame from the cut RDD: LogicalRDD
      // copies the origin plan's size ESTIMATE, and each sweep references
      // its predecessor ~5 times, so estimates compound exponentially
      // across sweeps — by sweep 6+ the PLANNER itself grinds in
      // BigInteger multiplication (measured: bits triple per cut
      // generation, eager or lazy). Rebuilding resets the leaf estimate
      // every generation; the broadcasts here are explicitly gated, so
      // the lost estimate changes no join strategy.
      def statsBarrier(df: DataFrame): DataFrame = {
        val cp = cuts(df)
        spark.createDataFrame(cp.rdd, cp.schema)
      }
      var sym = weightCol match {
        case None => undirectedClosure(edges)
          .select(col("src"), col("dst"), lit(1L).as("w"))
        case Some(wc) => weightedClosure(edges, wc)
      }
      var flat = statsBarrier(edges.select(col("src").as("id"))
        .unionByName(edges.select(col("dst").as("id")))
        .distinct().select(col("id"), col("id").as("lbl")))
      // m2 is derived from LEVEL 1's degree relation (Σkv = Σw over the
      // closure — the same scalar the former standalone sym aggregate
      // produced), so the m2 job, the level-1 vertex count, and the deg
      // checkpoint materialization fuse into ONE driver action (r20,
      // guide §1.2 step 1: count the actions per iteration)
      var m2 = 0L
      var continue = true
      var level = 0
      // levels ≥ 2 read their vertex count off the previous level's
      // end-of-level aggregate (distinct labels = coarse vertices: every
      // final community has ≥ 1 member with ≥ 1 edge, so it appears as a
      // coarse src) instead of running a deg.count() job per level
      var nextNVerts = -1L
      while (continue && level < maxLevels) {
        level += 1
        val deg = cuts(sym.groupBy(col("src").as("id"))
          .agg(sum(col("w")).as("kv")))
        val nVerts =
          if (level == 1) {
            val r = deg.agg(count(lit(1)), sum(col("kv"))).head()
            require(!r.isNullAt(1) && r.getLong(1) > 0L,
              "louvainLevels: the undirected closure is empty — nothing to cluster")
            m2 = r.getLong(1)
            r.getLong(0)
          } else nextNVerts
        def small(df: DataFrame): DataFrame =
          if (nVerts <= broadcastCeiling) broadcast(df)
          else df.hint("shuffle_hash")
        var lbl = deg.select(col("id"), col("id").as("lbl"))
        var sweepMoved = -1L
        var s = 0
        // a zero-move sweep is a fixpoint (deterministic: replaying it
        // changes nothing), so breaking early equals the full budget
        while (sweepMoved != 0L && s < sweepsPerLevel) {
          s += 1
          sweepMoved = 0L
          // one sweep = two PARITY SUB-ROUNDS: only vertices with
          // id % 2 == phase may move, everyone else is frozen. A frozen
          // majority anchors every target community, which kills the two
          // synchronous pathologies — the A↔B swap and the label-chase
          // cascade (a mover landing in a community whose members all
          // left the same instant). Same-parity singleton pairs can still
          // swap, so singleton→singleton moves additionally go only
          // toward the smaller label (the Grappolo tie rule; Lu et al.,
          // Parallel Heuristics for Scalable Community Detection, 2015).
          var phase = 0
          while (phase < 2) {
            // pmod, not %: Spark's remainder keeps the dividend's sign,
            // so a negative odd id would match NEITHER phase and freeze
            // forever (ids are arbitrary longs at the API surface)
            val phaseOf = pmod(col("id"), lit(2L))
            // NOTE (r20, measured): broadcast-gating deg/dc/base/k_va
            // here (the guide §3.1 reflex) made the gate ~20% SLOWER at
            // local scale — a hinted plan chains broadcast stages
            // sequentially (each waits for its build subtree) where this
            // sort-merge shape lets AQE materialize independent shuffle
            // stages in PARALLEL and convert to broadcast joins from real
            // sizes afterwards. The joins deliberately stay unhinted.
            val dc = lbl.join(deg, Seq("id"))
              .groupBy(col("lbl"))
              .agg(sum(col("kv")).as("dcs"), count(lit(1)).as("sz"))
            val kvc = cuts(phaseKvcPlan(sym, phase, // read twice: own-community + candidates
              small(lbl.select(col("id").as("dst"), col("lbl").as("c")))))
            val base = lbl.select(col("id"), col("lbl").as("a"))
              .where(phaseOf === phase)
              .join(deg, Seq("id"))
              .join(dc.select(col("lbl").as("a"), col("dcs").as("d_a"),
                col("sz").as("sz_a")), Seq("a"))
              .join(kvc.select(col("id"), col("c").as("a"), col("k").as("k_va")),
                Seq("id", "a"), "left")
              .select(col("id"), col("a"), col("kv"), col("d_a"), col("sz_a"),
                coalesce(col("k_va"), lit(0L)).as("k_va"))
            val cand = base
              .join(kvc, Seq("id"))
              .where(col("c") =!= col("a"))
              .join(dc.select(col("lbl").as("c"), col("dcs").as("d_b"),
                col("sz").as("sz_b")), Seq("c"))
              .where(!(col("sz_a") === 1 && col("sz_b") === 1
                && col("c") > col("a")))
              .withColumn("g", lit(m2) * (col("k") - col("k_va"))
                - col("kv") * col("kv") - col("kv") * (col("d_b") - col("d_a")))
            // partial-aggregable per-vertex argmax (the louvainSweepPlan
            // r19 conversion): max(struct(g, ~c)) = best gain, ties to the
            // smaller label — bit-identical to the former row_number
            // window, one candidate row per vertex shipped per mapper
            val best = cand
              .groupBy(col("id"))
              .agg(max(struct(col("g").as("g"),
                bitwise_not(col("c")).as("nc"))).as("m"))
              .where(col("m.g") > 0)
              .select(col("id"), bitwise_not(col("m.nc")).as("moved"))
            // ONE action per phase, not a count + a deferred label
            // materialization (r20, the O3/Traversals fusion carried
            // here): applying the moves and counting them share one job —
            // `mv` marks exactly best's rows (best ⊆ lbl ids, both unique
            // on id, and every move targets c ≠ a), so the mv-filtered
            // count == best.count(). best is |movers|-bounded and sits at
            // the END of the phase chain, so its broadcast adds no stage
            // depth while the |V|-sized lbl side streams unshuffled. The
            // cut-rebuild keeps the statsBarrier estimate reset.
            val appliedCp = cuts(lbl.join(small(best), Seq("id"), "left")
              .select(col("id"),
                coalesce(col("moved"), col("lbl")).as("lbl"),
                col("moved").isNotNull.as("mv")))
            sweepMoved += appliedCp.where(col("mv")).count()
            lbl = spark.createDataFrame(appliedCp.rdd, appliedCp.schema)
              .select(col("id"), col("lbl"))
            phase += 1
          }
        }
        // net change vs the singleton start — oscillations that return to
        // the start count as no progress, exactly as the SQL replay prices
        // — fused with the next level's vertex count (distinct labels =
        // coarse vertices) in ONE level-end job where two ran before
        // (the netMoved count + the next level's deg.count)
        val lvlEnd = lbl.agg(
          count(when(col("lbl") =!= col("id"), lit(1))),
          countDistinct(col("lbl"))).head()
        val netMoved = lvlEnd.getLong(0)
        nextNVerts = lvlEnd.getLong(1)
        if (netMoved == 0L) continue = false
        else {
          nLevels += 1
          val lx = lbl.select(col("id").as("xid"), col("lbl").as("xlbl"))
          flat = statsBarrier(
            flat.join(small(lx), flat("lbl") === lx("xid"), "left")
              .select(flat("id"), coalesce(col("xlbl"), flat("lbl")).as("lbl")))
          sym = statsBarrier(sym
            .join(small(lbl.select(col("id").as("src"), col("lbl").as("lsrc"))),
              "src")
            .join(small(lbl.select(col("id").as("dst"), col("lbl").as("ldst"))),
              "dst")
            .groupBy(col("lsrc").as("src"), col("ldst").as("dst"))
            .agg(sum(col("w")).as("w")))
        }
      }
      (cuts.keep(cuts(flat, eager = true)), nLevels)
    }
  }

  /** The per-phase (vertex, neighbor-community) weight aggregate inside a
    * [[louvainLevels]] parity sub-round — split out so PlanAuditSpec can
    * pin that the phase predicate sits BELOW the aggregate. Its only
    * consumers inner-join on ids already filtered to
    * pmod(id, 2) == phase, so aggregating the other parity's half of
    * `sym` would compute and shuffle rows that are then dropped; the
    * src-side pre-filter halves the dominant per-sweep shuffle without
    * changing any consumed row. The label join side (`dst`) must stay
    * full: a phase-p mover prices edges into neighbors of EITHER parity.
    */
  private[graft] def phaseKvcPlan(sym: DataFrame, phase: Int,
      lblAsDstC: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    sym.where(col("src") =!= col("dst"))
      .where(pmod(col("src"), lit(2L)) === phase)
      .join(lblAsDstC, "dst")
      .groupBy(col("src").as("id"), col("c")).agg(sum(col("w")).as("k"))
  }

  /** Modularity Q finished from the [[modularityInvariants]] digest (one
    * driver-side row — the sanctioned scalar-aggregate collect class):
    * Q = intra2/m2 − sum_dc2/m2². NaN on an edgeless graph (m2 = 0),
    * matching the statistic's domain.
    */
  def modularityScore(edges: DataFrame, iters: Int = 4): Double = {
    val r = modularityInvariants(edges, iters).head()
    val m2 = r.getLong(0).toDouble
    r.getLong(1).toDouble / m2 - r.getLong(2).toDouble / (m2 * m2)
  }

  /** Effective diameter off a [[neighborhoodFunction]] digest: the
    * smallest h whose estimate reaches ⌈0.9·N̂(h_max)⌉ — the integer
    * comparison form, so the read-off inherits the digest's
    * engine-portability.
    */
  def effectiveDiameter(digests: DataFrame, fraction: (Long, Long) = (9L, 10L)): Long = {
    import org.apache.spark.sql.functions.col
    val rows = digests.select(col("h"), col("nf_est")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(rows.nonEmpty, "effectiveDiameter needs a non-empty digest")
    val (num, den) = fraction
    val target = (num * rows.last._2 + den - 1) / den
    rows.collectFirst { case (h, est) if est >= target => h }.getOrElse(rows.last._1)
  }
}
