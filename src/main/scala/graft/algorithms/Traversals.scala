package graft.algorithms

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

import graft.functions.ParamLiteral

/** Edge direction for expansion, mirroring the reference's
  * Out/In/Both dispatch (/root/reference/src/executor/match_executor.rs:149-177).
  */
sealed trait Direction
object Direction {
  case object Out extends Direction
  case object In extends Direction
  case object Both extends Direction

  /** Normalize an edge set to (src, dst) rows in traversal direction.
    * Both = union of forward and reversed — two scans, no per-row branching.
    */
  def orient(edges: DataFrame, dir: Direction): DataFrame = {
    // preserve the edge id when present so callers can reconstruct
    // edge sequences; orientation does not change identity
    val extra = edges.columns.filter(_ == "id").toSeq.map(col)
    dir match {
      case Out  => edges.select(col("src") +: col("dst") +: extra: _*)
      case In   => edges.select(col("dst").as("src") +: col("src").as("dst") +: extra: _*)
      case Both => edges.select(col("src") +: col("dst") +: extra: _*)
        .unionByName(edges.select(col("dst").as("src") +: col("src").as("dst") +: extra: _*))
    }
  }
}

/** Distributed graph traversals as iterative DataFrame joins — the
  * Spark-native replacement for the reference's per-vertex loops:
  * Dijkstra (/root/reference/src/algorithms/shortest_path.rs:77-141) and
  * BFS variable-length expansion (/root/reference/src/algorithms/vle.rs:85-153).
  *
  * Scale posture: each hop is one equi-join of the frontier against the
  * (bucketable) edge table; frontiers are localCheckpoint'ed to cut lineage;
  * no driver-side materialization of vertex sets. Loop termination reuses the
  * frontier count that also gates the join strategy: checkpointed relations
  * report no usable size stats, so we count the (already materialized)
  * frontier once per hop — a cheap cached-block scan — and broadcast ONLY
  * when the frontier is provably small. A frontier near |V| falls back to a
  * shuffle join instead of OOMing the driver.
  */
object Traversals {

  /** Frontier row-count ceiling for a broadcast hop join. ~1M (id,dist) rows
    * is tens of MB serialized — safely under executor memory anywhere.
    * Overridable per call so the shuffle-join fallback is testable (and
    * tunable for small executors).
    */
  val BroadcastFrontierRows: Long = 1L << 20

  /** Lower ceiling when frontier rows carry path arrays (VLE). */
  val BroadcastPathRows: Long = 100000L

  /** Unweighted single/multi-source shortest-path distances (BFS level
    * sweep). `sources` must have an `id` column. Returns (id, dist) with
    * dist = minimal hop count, sources at dist 0.
    * Equivalent to the reference's uniform-weight Dijkstra (weights are all
    * 1 there: shortest_path.rs:108).
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame, maxHops: Int,
      dir: Direction = Direction.Out,
      maxBroadcastRows: Long = BroadcastFrontierRows): DataFrame = {
    // one materialization of the oriented edge set for all hops (lazy
    // checkpoint: the first level's count writes its blocks)
    val e = Direction.orient(edges, dir).select("src", "dst").localCheckpoint(false)
    var visited = sources.select(col("id").cast("long").as("id"), lit(0).as("dist"))
      .distinct().localCheckpoint(false)
    var frontier = visited
    var frontierRows = frontier.count()
    var hop = 0
    while (hop < maxHops && frontierRows > 0) {
      hop += 1
      // Small frontier → broadcast: map-side scan of the (large) edge table,
      // no edge shuffle. Large frontier → regular shuffle join; never force
      // a broadcast of an unbounded relation.
      val f = if (frontierRows <= maxBroadcastRows) broadcast(frontier) else frontier
      val next = e.join(f, f("id") === e("src"))
        .select(e("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint(false)
      // ONE job per level: the count materializes the lazy checkpoint and
      // yields the loop condition
      frontierRows = next.count()
      // visited is a shallow union of already-checkpointed levels — no
      // re-materialization needed per hop
      visited = visited.unionByName(next)
      frontier = next
    }
    // the oriented edge checkpoint backs nothing in the result (levels are
    // materialized) — release its blocks instead of pinning them for the
    // session lifetime (Dataset.unpersist would only clear the cache
    // manager, which never held them)
    graft.util.Checkpoints.release(edges.sparkSession, graft.util.Checkpoints.idsOf(e))
    visited
  }

  /** Per-source BFS distances: like `bfsDistances`, but each source keeps
    * its own distance field instead of collapsing to min-over-any-source —
    * the multi-source twin of the reference's ≤k-hop collection
    * (/root/reference/src/algorithms/shortest_path.rs:185-254, which returns every
    * vertex reachable within k from ONE source; here a batch of sources
    * shares the level sweep). Returns (start_id, id, dist).
    *
    * Scale shape: the frontier is keyed by (start_id, id), so the level
    * join fans out by |sources| in the worst case — the broadcast gate
    * accounts for that (row count measured per level, not assumed), and
    * a large multi-source frontier falls back to a shuffle join keyed on
    * the vertex id.
    */
  def bfsDistancesPerSource(edges: DataFrame, sources: DataFrame, maxHops: Int,
      dir: Direction = Direction.Out,
      maxBroadcastRows: Long = BroadcastFrontierRows): DataFrame = {
    val e = Direction.orient(edges, dir).select("src", "dst").localCheckpoint(false)
    var visited = sources.select(col("id").cast("long").as("start_id")).distinct()
      .select(col("start_id"), col("start_id").as("id"), lit(0).as("dist"))
      .localCheckpoint(false)
    var frontier = visited
    var frontierRows = frontier.count()
    var hop = 0
    while (hop < maxHops && frontierRows > 0) {
      hop += 1
      val f = if (frontierRows <= maxBroadcastRows) broadcast(frontier) else frontier
      val next = e.join(f, f("id") === e("src"))
        .select(f("start_id"), e("dst").as("id")).distinct()
        .join(visited.select("start_id", "id"), Seq("start_id", "id"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint(false)
      // ONE job per level: materializes the lazy checkpoint and yields the
      // loop condition
      frontierRows = next.count()
      visited = visited.unionByName(next)
      frontier = next
    }
    graft.util.Checkpoints.release(edges.sparkSession, graft.util.Checkpoints.idsOf(e))
    visited
  }

  /** BFS with deterministic predecessor tracking: returns
    * (id, dist, parent) where parent is the minimum-id neighbor at dist-1
    * (NULL for sources). Walking parents backwards reconstructs the unique
    * lexicographically-minimal shortest path, mirroring the reference's
    * vertex+edge path result (/root/reference/src/algorithms/shortest_path.rs:144-174)
    * without carrying per-vertex path arrays (which would be |V|*maxHops
    * memory at scale — parents are O(|V|)).
    */
  def bfsParents(edges: DataFrame, sources: DataFrame, maxHops: Int,
      dir: Direction = Direction.Out, until: Option[Long] = None): DataFrame = {
    val e = Direction.orient(edges, dir).select("src", "dst").localCheckpoint(false)
    var visited = sources.select(col("id").cast("long").as("id"), lit(0).as("dist"),
      lit(null).cast("long").as("parent"))
      .distinct().localCheckpoint(false)
    var frontier = visited.select("id")
    var frontierRows = frontier.count()
    var found = false
    var hop = 0
    while (hop < maxHops && frontierRows > 0 && !found) {
      hop += 1
      val f = if (frontierRows <= BroadcastFrontierRows) broadcast(frontier) else frontier
      val next = e.join(f, f("id") === e("src"))
        // min-parent is a map-side-combinable aggregation — deterministic
        // and shuffle-light (one row per newly reached vertex)
        .groupBy(e("dst").as("id")).agg(min(e("src")).as("parent"))
        .join(visited.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(hop).as("dist"), col("parent"))
        .localCheckpoint(false)
      // ONE job per level: materializes the lazy checkpoint and yields both
      // the loop condition and the early-exit signal (the target id is a
      // code parameter, so another endpoint reuses the compiled level)
      val stats = next.agg(count(lit(1)),
        count(when(col("id") === ParamLiteral(until.getOrElse(Long.MinValue)), 1)))
        .collect()(0)
      frontierRows = stats.getLong(0)
      found = until.isDefined && stats.getLong(1) > 0
      visited = visited.unionByName(next)
      frontier = next.select("id")
    }
    // the levels are materialized: the oriented edge checkpoint backs
    // nothing in the result (Dataset.unpersist would not free it)
    graft.util.Checkpoints.release(edges.sparkSession, graft.util.Checkpoints.idsOf(e))
    visited
  }

  /** Full shortest path between two vertices: returns one row
    * (start_id, end_id, dist, path) with path = the vertex-id sequence of
    * the lexicographically-minimal shortest path, or 0 rows if unreachable
    * within maxHops (the reference errors on unreachable:
    * shortest_path.rs:66-73 — we return 0 rows, the relational idiom;
    * `pathsBetween` restores the erroring surface).
    *
    * Reconstruction is `doublingChain`: O(log pathLen) Spark jobs, never an
    * O(pathLen) driver pointer walk.
    */
  def shortestPath(edges: DataFrame, srcId: Long, dstId: Long, maxHops: Int,
      dir: Direction = Direction.Out): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the result is a driver-side Seq, so every checkpoint made along the
    // way is dead once it exists: bfsParents' levels and the parents
    // snapshot are released here by the ids read off those frames
    // (doublingChain releases its own rounds). Never a diff of the
    // context's persisted set: that would also free what another session
    // persists meanwhile.
    val levels = bfsParents(edges, Seq(srcId).toDF("id"), maxHops, dir, Some(dstId))
    val parents = levels.localCheckpoint()
    val out = try {
      val endRow = parents.where(col("id") === ParamLiteral(dstId))
        .select("dist", "parent").collect()
      if (endRow.isEmpty) Seq.empty[(Long, Long, Int, Seq[Long])]
      else {
        val dist = endRow(0).getInt(0)
        Seq((srcId, dstId, dist, doublingChain(parents, dstId, dist)))
      }
    } finally graft.util.Checkpoints.release(spark,
      graft.util.Checkpoints.idsOf(levels) ++ graft.util.Checkpoints.idsOf(parents))
    out.toDF("start_id", "end_id", "dist", "path")
  }

  /** [[shortestPath]] over an adjacency index walked in the search's
    * direction: the same row, with the BFS frontier and the min-id parents
    * held on the driver and each level one lookup job. None when the
    * vertices reached, or the edges one level fetches, pass `maxRows`
    * before the search ends; the caller then runs [[shortestPath]].
    */
  private[graft] def shortestPathLocal(spark: org.apache.spark.sql.SparkSession,
      adj: Adjacency, srcId: Long, dstId: Long, maxHops: Int,
      maxRows: Long = BroadcastFrontierRows): Option[DataFrame] = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap(srcId -> srcId)
    var frontier = Array(srcId)
    var found = srcId == dstId
    var over = false
    var hop = 0
    while (!found && !over && hop < maxHops && frontier.nonEmpty) {
      hop += 1
      val next = scala.collection.mutable.LongMap.empty[Long]
      adj.lookup(frontier, maxRows) match {
        case None => over = true
        case Some(nb) =>
          val it = frontier.iterator
          while (!over && it.hasNext) {
            val u = it.next()
            nb.foreach(u) { (v, _) =>
              if (!parent.contains(v) && next.getOrElse(v, Long.MaxValue) > u) next(v) = u
            }
            over = parent.size + next.size > maxRows
          }
      }
      parent ++= next
      frontier = next.keys.toArray
      found = next.contains(dstId)
    }
    if (over) None
    else {
      val rows =
        if (!found) Seq.empty[(Long, Long, Int, Seq[Long])]
        else {
          val path = Iterator.iterate(dstId)(parent).takeWhile(_ != srcId).toVector.reverse
          Seq((srcId, dstId, hop, srcId +: path))
        }
      Some(rows.toDF("start_id", "end_id", "dist", "path"))
    }
  }

  /** Runs `body` with `cut`, a lazy localCheckpoint, and releases every
    * checkpoint `cut` made when `body` returns: for searches whose answer is
    * a driver value, so that all of them are dead by then. The ids are read
    * off each checkpoint as it is made, never diffed from the context's
    * persisted set, which would also free what another session persists
    * meanwhile.
    */
  private def releasingCuts[T](spark: org.apache.spark.sql.SparkSession)(
      body: (DataFrame => DataFrame) => T): T = {
    val own = scala.collection.mutable.Set.empty[Int]
    try body { df => val c = df.localCheckpoint(false); own ++= graft.util.Checkpoints.idsOf(c); c }
    finally graft.util.Checkpoints.release(spark, own)
  }

  /** Point-to-point shortest-path DISTANCE via bidirectional BFS — the
    * 100 TB point-query optimization the unidirectional sweep can't match:
    * two frontiers of depth ~d/2 (≈ b^(d/2) vertices each on a
    * branching-factor-b graph) replace one of depth d (≈ b^d). Expands the
    * SMALLER frontier each step (by measured row count — the same count
    * that gates the broadcast), checking each new level against the
    * opposite visited set; `best` (the cheapest meeting vertex's
    * fdist + bdist) is provably exact once lF + lB ≥ best, or immediately
    * once either side's frontier is exhausted — that side's visited set
    * is then complete, so any meet is exact and NO meet proves dst
    * unreachable (the search stops right there, no tail-side expansion
    * to maxHops). Both searches run against ONE oriented
    * edge checkpoint — the backward hop is the same relation joined on
    * `dst`. Returns the hop count, or None if unreachable within maxHops.
    */
  def bidirDistance(edges: DataFrame, srcId: Long, dstId: Long, maxHops: Int,
      dir: Direction = Direction.Out,
      maxBroadcastRows: Long = BroadcastFrontierRows): Option[Int] =
    bidirDistanceStats(edges, srcId, dstId, maxHops, dir, maxBroadcastRows)._1

  /** bidirDistance plus the total frontier rows expanded (both sides) —
    * ScaleProbe's distance axis pins the ~2·b^(d/2)-vs-b^d visited-set
    * claim with this (row volume is the cluster-dominant cost: it is what
    * gets shuffled/broadcast per level; local wall time is edge-scan-bound
    * and hides it).
    */
  private[graft] def bidirDistanceStats(edges: DataFrame, srcId: Long,
      dstId: Long, maxHops: Int, dir: Direction = Direction.Out,
      maxBroadcastRows: Long = BroadcastFrontierRows): (Option[Int], Long) = {
    if (srcId == dstId) return (Some(0), 0L)
    if (maxHops <= 0) return (None, 0L)
    val spark = edges.sparkSession
    import spark.implicits._
    var expanded = 0L
    releasingCuts(spark) { cut =>
      val e = cut(Direction.orient(edges, dir).select("src", "dst"))
      var vF = cut(Seq(srcId).toDF("id").withColumn("dist", lit(0)))
      var vB = cut(Seq(dstId).toDF("id").withColumn("dist", lit(0)))
      var fF = vF; var fB = vB
      var nF = 1L; var nB = 1L
      var lF = 0; var lB = 0
      var best = Int.MaxValue
      // expand one level of the (forward | backward) search: hop join,
      // dedup, anti-join vs own visited, then score meets against the
      // OPPOSITE visited set — one extra small aggregate per level
      def expand(forward: Boolean): Unit = {
        val (frontier, rows, visited, opposite, lvl) =
          if (forward) (fF, nF, vF, vB, lF + 1) else (fB, nB, vB, vF, lB + 1)
        val f = if (rows <= maxBroadcastRows) broadcast(frontier) else frontier
        val hop = if (forward) e.join(f, f("id") === e("src")).select(e("dst").as("id"))
          else e.join(f, f("id") === e("dst")).select(e("src").as("id"))
        val next = cut(hop.distinct()
          .join(visited.select("id"), Seq("id"), "left_anti")
          .withColumn("dist", lit(lvl)))
        // ONE action per level, not two (r19): the frontier count and the
        // meet score fuse into a single aggregate over next LEFT JOIN
        // opposite — next's ids are unique (distinct + anti-join) and so
        // are the visited set's, so the left join is 1:≤1 and count(1)
        // still counts exactly the new frontier; unmatched rows contribute
        // NULL to the meet min. Same numbers, one distributed pass fewer
        // per level (here and at cluster scale).
        val st = next.join(
            opposite.select(col("id").as("oid"), col("dist").as("odist")),
            col("id") === col("oid"), "left")
          .agg(count(lit(1)), min(col("dist") + col("odist"))).head()
        val n = st.getLong(0)
        expanded += n
        if (!st.isNullAt(1)) best = math.min(best, st.getInt(1))
        if (forward) { nF = n; vF = vF.unionByName(next); fF = next; lF += 1 }
        else { nB = n; vB = vB.unionByName(next); fB = next; lB += 1 }
      }
      var done = false
      while (!done) {
        if (best <= lF + lB || lF + lB >= maxHops) done = true
        // one side exhausted → its visited set is COMPLETE: any meet found
        // is exact, and no meet means dst is provably unreachable (the
        // other side's seed alone would have met a complete reachable set)
        else if (nF == 0 || nB == 0) done = true
        else if (nF <= nB) expand(forward = true)
        else expand(forward = false)
      }
      (if (best <= maxHops) Some(best) else None, expanded)
    }
  }

  /** Point-to-point MIN-COST distance over nonnegative edge weights via
    * bidirectional level-synchronous Bellman-Ford — the weighted sibling
    * of [[bidirDistance]]. Each round relaxes the smaller frontier one
    * hop (frontier = the rows whose tentative distance improved last
    * round); `best` tracks the cheapest meeting vertex's fdist + bdist,
    * re-scored from BOTH directions whenever either side improves a
    * meeting vertex. Termination is the bidirectional-Dijkstra rule
    * lifted to frontier minima: every future tentative value on a side
    * is some current frontier value plus nonnegative weights, so once
    * best ≤ min(frontier_F) + min(frontier_B) no undiscovered s→t path
    * can be cheaper. An exhausted side's frontier minimum is +∞, which
    * makes the same test certify its completed search — the opposite
    * SEED is always in the opposite visited set, so a finite best is
    * exact and an infinite one is a proven miss. Unlike the unweighted
    * meet rule the search must NOT stop at the first meet: a 2-hop meet
    * of cost 20 loses to a 4-hop path of cost 4 (TraversalsSpec pins
    * exactly that shape).
    *
    * `weight` must be nonnegative (checked, loudly — one aggregate over
    * the oriented checkpoint the loop reuses anyway); throws rather
    * than answers if `maxRounds` expansions pass uncertified.
    */
  def bidirWeightedDistance(edges: DataFrame, srcId: Long, dstId: Long,
      maxRounds: Int = 64, dir: Direction = Direction.Out,
      maxBroadcastRows: Long = BroadcastFrontierRows): Option[Double] =
    bidirWeightedDistanceStats(edges, srcId, dstId, maxRounds, dir,
      maxBroadcastRows)._1

  /** bidirWeightedDistance plus total improved-frontier rows across both
    * sides — ScaleProbe's wdist axis pins the ~2·b^(d/2)-vs-b^d claim on
    * the weighted search the same way the unweighted axis does (row
    * volume is the cluster-dominant cost: it is what shuffles/broadcasts
    * per round).
    */
  private[graft] def bidirWeightedDistanceStats(edges: DataFrame,
      srcId: Long, dstId: Long,
      maxRounds: Int = 64, dir: Direction = Direction.Out,
      maxBroadcastRows: Long = BroadcastFrontierRows): (Option[Double], Long) = {
    if (srcId == dstId) return (Some(0.0), 0L)
    if (maxRounds <= 0) return (None, 0L)
    var expanded = 0L
    val spark = edges.sparkSession
    import spark.implicits._
    releasingCuts(spark) { cut =>
      // Direction.orient drops non-id columns, so the weight rides an
      // inline orient (the Planner's weighted-shortestPath convention)
      val w0 = edges.select(col("src"), col("dst"),
        col("weight").cast("double").as("weight"))
      val e = cut(dir match {
        case Direction.Out => w0
        case Direction.In =>
          w0.select(col("dst").as("src"), col("src").as("dst"), col("weight"))
        case Direction.Both => w0.unionByName(
          w0.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      })
      val eStats = e.agg(count(lit(1)), min(col("weight"))).head()
      if (eStats.getLong(0) == 0L) (None, 0L)
      else {
        require(!eStats.isNullAt(1) && eStats.getDouble(1) >= 0.0,
          "bidirWeightedDistance requires nonnegative weights, found " +
            s"min weight ${eStats.get(1)}")
        var vF = cut(Seq((srcId, 0.0)).toDF("id", "dist"))
        var vB = cut(Seq((dstId, 0.0)).toDF("id", "dist"))
        var fF = vF; var fB = vB
        var nF = 1L; var nB = 1L
        var minF = 0.0; var minB = 0.0
        var best = Double.PositiveInfinity
        var rounds = 0
        def expand(forward: Boolean): Unit = {
          val (frontier, rows, visited, opposite) =
            if (forward) (fF, nF, vF, vB) else (fB, nB, vB, vF)
          val f = if (rows <= maxBroadcastRows) broadcast(frontier) else frontier
          val hop = if (forward)
            e.join(f, f("id") === e("src"))
              .select(e("dst").as("id"), (f("dist") + e("weight")).as("cand"))
          else
            e.join(f, f("id") === e("dst"))
              .select(e("src").as("id"), (f("dist") + e("weight")).as("cand"))
          // candidates that IMPROVE the side's tentative distance are the
          // next frontier; everything else is already at least as good
          val imp = cut(hop.groupBy(col("id")).agg(min(col("cand")).as("dist"))
            .join(visited.select(col("id").as("vid"), col("dist").as("old")),
              col("id") === col("vid"), "left")
            .where(col("old").isNull || col("dist") < col("old"))
            .select(col("id"), col("dist")))
          // ONE action per round, not two (r19): frontier count, frontier
          // min, and the meet score fuse into a single aggregate over
          // imp LEFT JOIN opposite — imp's ids are unique (groupBy) and so
          // are the visited set's, so the join is 1:≤1: count(1) still
          // counts the improved frontier, min(dist) is unchanged, and
          // unmatched rows contribute NULL to the meet min. Same numbers,
          // one distributed pass fewer per round.
          val st = imp.join(
              opposite.select(col("id").as("oid"), col("dist").as("odist")),
              col("id") === col("oid"), "left")
            .agg(count(lit(1)), min(col("dist")),
              min(col("dist") + col("odist"))).head()
          val n = st.getLong(0)
          expanded += n
          if (!st.isNullAt(2)) best = math.min(best, st.getDouble(2))
          val merged = cut(visited
            .join(imp.select(col("id").as("iid")), col("id") === col("iid"),
              "left_anti")
            .unionByName(imp))
          val mn = if (n == 0) Double.PositiveInfinity else st.getDouble(1)
          if (forward) { nF = n; minF = mn; vF = merged; fF = imp }
          else { nB = n; minB = mn; vB = merged; fB = imp }
        }
        while (best > minF + minB) {
          rounds += 1
          require(rounds <= maxRounds,
            s"bidirWeightedDistance: no certified answer within $maxRounds " +
              s"rounds (best=$best, frontier minima $minF/$minB) — raise maxRounds")
          if (nF <= nB) expand(forward = true) else expand(forward = false)
        }
        (if (best.isInfinity) None else Some(best), expanded)
      }
    }
  }

  /** Ancestor chain dst → … → src by pointer doubling over a
    * (id, parent, dist) parents relation: the jump table J_k (id → its
    * 2^k-th ancestor) is squared each round, and the known path prefix
    * doubles by jumping 2^k from every node already on it. ceil(log2 L+1)
    * rounds of bounded-size distributed joins — a 64-hop path costs ~7
    * small jobs, where the naive driver pointer walk is 64 round-trips
    * (and a 100-hop path 100). J is pruned to dist ≤ dist(dst): parent
    * pointers never increase dist (BFS levels / nonnegative weights), so
    * only potential ancestors of dst are ever shuffled.
    *
    * `pathLen` must be the exact hop count of dst (BFS dist, or the Pregel
    * hop counter) — known upfront, so no per-round convergence job runs.
    * Returns the id sequence src..dst (length pathLen + 1).
    */
  private[graft] def doublingChain(parents: DataFrame, dstId: Long,
      pathLen: Int): Seq[Long] = {
    val spark = parents.sparkSession
    import spark.implicits._
    if (pathLen <= 0) return Seq(dstId)
    val endDist = parents.where(col("id") === ParamLiteral(dstId))
      .select(col("dist")).head.get(0)
    // every round's checkpoint is dead once the chain is collected
    val rounds = Seq.newBuilder[DataFrame]
    def round(df: DataFrame): DataFrame = { val c = df.localCheckpoint(false); rounds += c; c }
    try {
      // lazy checkpoints: flat plan, materialized by the final action
      var jump = round(parents
        .where(col("parent").isNotNull && col("dist") <= ParamLiteral(endDist))
        .select(col("id"), col("parent").as("anc")))
      // chain rows: (id, pos) with pos = #hops walked back from dst
      var chain = Seq((dstId, 0L)).toDF("id", "pos")
      var span = 1L
      while (span <= pathLen) {
        // jumping `span` back from every known chain node extends the
        // covered prefix from [0, span) to [0, 2*span): doubling, not
        // walking
        val jumped = chain.join(jump, "id")
          .select(col("anc").as("id"), (col("pos") + span).as("pos"))
        // each round's blocks serve both the union and the join
        chain = round(chain.unionByName(
          jumped.where(col("pos") <= ParamLiteral(pathLen.toLong))))
        span *= 2
        if (span <= pathLen)
          jump = round(jump.as("a").join(jump.as("b"), col("a.anc") === col("b.id"))
            .select(col("a.id"), col("b.anc").as("anc")))
      }
      // ONE final action collects the (pathLen+1)-row chain, src-first
      chain.orderBy(col("pos").desc).select(col("id")).as[Long].collect().toSeq
    } finally graft.util.Checkpoints.release(spark,
      rounds.result().flatMap(graft.util.Checkpoints.idsOf).toSet)
  }

  /** All simple paths between two vertices with length in [minLen, maxLen]
    * (reference vle.rs:165-185 `paths_between`, which errors when none
    * exist). Throws NoSuchElementException if no path is found, matching
    * the reference's error surface.
    */
  def pathsBetween(edges: DataFrame, srcId: Long, dstId: Long,
      minLen: Int, maxLen: Int, dir: Direction = Direction.Out): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    // vle's per-level checkpoints back only the lazy result; once the
    // eager snapshot below materializes they are lineage-dead and released
    // here (r6 audit). The snapshot itself is caller-owned.
    val before = sc.getPersistentRDDs.keySet
    val lazyRes = vle(edges, Seq(srcId).toDF("id"), minLen, maxLen, dir)
      .where(col("end_id") === dstId)
    val vleInternals = sc.getPersistentRDDs.keySet -- before
    val res = lazyRes.localCheckpoint()
    graft.util.Checkpoints.release(spark, vleInternals)
    if (res.isEmpty)
      throw new NoSuchElementException(
        s"no path of length [$minLen,$maxLen] from $srcId to $dstId")
    res
  }

  /** Shortest-path distance between two vertices; empty result if
    * unreachable within maxHops (the reference errors on unreachable:
    * shortest_path.rs:66-73 — we return 0 rows, the relational idiom).
    */
  def shortestPathDist(edges: DataFrame, srcId: Long, dstId: Long, maxHops: Int,
      dir: Direction = Direction.Out): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sources = Seq(srcId).toDF("id")
    bfsDistances(edges, sources, maxHops, dir).where(col("id") === dstId)
  }

  /** ALL shortest paths between two vertices (unweighted): every distinct
    * minimum-length vertex sequence as (start_id, end_id, path) — the
    * openCypher `allShortestPaths`, absent from both the reference grammar
    * (cypher.pest) and its algorithm API (shortest_path.rs returns one
    * path). Two phases, both confined to the shortest-path DAG rather than
    * the whole graph: a forward BFS fixes dist(v), then a backward walk
    * from the target enumerates predecessors through edges with
    * dist(v) = dist(u) + 1 only. Every intermediate row is the suffix of
    * some shortest path (each DAG vertex at level l is reachable from the
    * source in exactly l hops by construction), so the enumeration never
    * expands a non-optimal edge. Output size is the path count — can be
    * combinatorial in pathological graphs — so `maxPaths` caps it
    * deterministically (ordered by path), same convention as `vle`.
    */
  def allShortestPaths(edges: DataFrame, srcId: Long, dstId: Long, maxHops: Int,
      dir: Direction = Direction.Out, maxPaths: Option[Int] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def done(res: DataFrame): DataFrame = {
      val internals = sc.getPersistentRDDs.keySet -- before
      val out = res.localCheckpoint()
      graft.util.Checkpoints.release(spark, internals)
      out
    }
    if (srcId == dstId)
      return Seq((srcId, dstId, Seq(srcId))).toDF("start_id", "end_id", "path")
    val e = Direction.orient(edges, dir).select("src", "dst").localCheckpoint(false)
    val dists = bfsDistances(e, Seq(srcId).toDF("id"), maxHops, Direction.Out)
      .localCheckpoint(false)
    val lRow = dists.where(col("id") === dstId).select(col("dist")).take(1)
    if (lRow.isEmpty)
      return done(Seq.empty[(Long, Long, Seq[Long])].toDF("start_id", "end_id", "path"))
    val L = lRow(0).getInt(0)
    // the DAG keeps only optimal edges: |dag| <= |E|, usually far smaller
    val du = dists.where(col("dist") < L)
      .select(col("id").as("src"), col("dist").as("du"))
    val dv = dists.where(col("dist") <= L && col("dist") > 0)
      .select(col("id").as("dst"), col("dist").as("dv"))
    // distinct: parallel edges (same src/dst, different edge identity) must
    // not multiply VERTEX-sequence paths
    val dag = e.join(du, "src").join(dv, "dst")
      .where(col("dv") === col("du") + 1)
      .select(col("src"), col("dst"), col("du")).distinct().localCheckpoint(false)
    var paths = Seq((dstId, Seq(dstId))).toDF("head", "path")
    var lvl = L
    while (lvl > 0) {
      val dagL = dag.where(col("du") === lvl - 1)
      paths = dagL.join(paths, dagL("dst") === paths("head"))
        .select(dagL("src").as("head"),
          concat(array(dagL("src")), col("path")).as("path"))
      // cap INSIDE the loop: a blowup is stopped at the level it happens,
      // not after materializing the full cross product
      maxPaths.foreach { k => paths = paths.orderBy(col("path")).limit(k) }
      paths = paths.localCheckpoint(false)
      lvl -= 1
    }
    done(paths.select(lit(srcId).as("start_id"), lit(dstId).as("end_id"),
      col("path")))
  }

  /** Variable-length expansion: enumerate all simple paths (cycle-free, as
    * the reference checks via path.contains_vertex: vle.rs:117-121) of length
    * in [minLength, maxLength] starting from `starts` (an `id` column).
    *
    * Returns (start_id, end_id, len, path) where path is the full vertex-id
    * sequence. Result size is worst-case exponential — `maxPaths` caps it
    * deterministically (ordered by (len, path)) like the reference's
    * max_paths option (vle.rs:60-63,124-127).
    */
  def vle(edges: DataFrame, starts: DataFrame, minLength: Int, maxLength: Int,
      dir: Direction = Direction.Out, maxPaths: Option[Int] = None,
      carryEdges: Boolean = false): DataFrame = {
    require(minLength >= 1 && maxLength >= minLength, "need 1 <= min <= max")
    require(!carryEdges || edges.columns.contains("id"),
      "carryEdges needs an `id` column on the edge relation")
    val eCols = if (carryEdges) Seq("src", "dst", "id") else Seq("src", "dst")
    val e = Direction.orient(edges, dir)
      .select(eCols.head, eCols.tail: _*).localCheckpoint(false)
    var frontier = starts.select(col("id").cast("long").as("start_id"))
      .distinct()
      .withColumn("end_id", col("start_id"))
      .withColumn("path", array(col("start_id")))
    if (carryEdges)
      frontier = frontier.withColumn("epath", array().cast("array<long>"))
    frontier = frontier.localCheckpoint(false)
    var frontierRows = frontier.count()
    var results: Option[DataFrame] = None
    var resultRows = 0L
    var len = 0
    while (len < maxLength && frontierRows > 0 &&
        maxPaths.forall(k => resultRows < k)) {
      len += 1
      // path rows are wider than (id,dist) — lower broadcast ceiling; a
      // large path frontier falls back to a shuffle join
      val f = if (frontierRows <= BroadcastPathRows) broadcast(frontier) else frontier
      val stepCols =
        Seq(col("start_id"), e("dst").as("end_id"),
          concat(col("path"), array(e("dst"))).as("path")) ++
          (if (carryEdges) Seq(concat(col("epath"), array(e("id"))).as("epath")) else Nil)
      frontier = e.join(f, f("end_id") === e("src"))
        .where(!array_contains(col("path"), e("dst")))
        .select(stepCols: _*)
        .localCheckpoint(false)
      // ONE job per level: materializes the lazy checkpoint, yields the
      // loop/broadcast/maxPaths bookkeeping
      frontierRows = frontier.count()
      if (len >= minLength) {
        // shallow union of checkpointed levels — not re-checkpointed
        val withLen = frontier.withColumn("len", lit(len))
        results = Some(results.map(_.unionByName(withLen)).getOrElse(withLen))
        // maxPaths orders by (len, path): levels arrive in len order, so
        // once k paths exist no longer level can displace them — stop
        // enumerating instead of exhausting the (worst-case exponential)
        // search space like the reference's max_paths option (vle.rs:124-127)
        resultRows += frontierRows
      }
    }
    graft.util.Checkpoints.release(edges.sparkSession, graft.util.Checkpoints.idsOf(e))
    val outCols = Seq(col("start_id"), col("end_id"), col("len"), col("path")) ++
      (if (carryEdges) Seq(col("epath")) else Nil)
    val all = results.getOrElse(
      frontier.withColumn("len", lit(0)).limit(0))
      .select(outCols: _*)
    maxPaths match {
      case Some(k) => all.orderBy(col("len"), col("path")).limit(k)
      case None    => all
    }
  }

  /** [[vle]] over an adjacency index walked in its direction: the same
    * rows and schema, walked on the driver (see [[vlePaths]]) from the
    * distinct non-null `id`s of `starts`, read by one job. None when the
    * start ids or the paths held pass `maxRows`; the caller then runs
    * [[vle]].
    */
  private[graft] def vleLocal(adj: Adjacency, starts: DataFrame, minLength: Int,
      maxLength: Int, carryEdges: Boolean,
      maxRows: Long = BroadcastPathRows): Option[DataFrame] = {
    val ids = distinctIds(Seq(starts), (maxRows + 1).min(Int.MaxValue).toInt).head
    if (ids.length > maxRows) None
    else vlePaths(adj, ids, minLength, maxLength, carryEdges, maxRows).map { rows =>
      val longs = ArrayType(LongType)
      val schema = StructType(Seq(StructField("start_id", LongType),
        StructField("end_id", LongType), StructField("len", IntegerType),
        StructField("path", longs)) ++
        (if (carryEdges) Seq(StructField("epath", longs)) else Nil))
      starts.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    }
  }

  /** The rows of [[vle]] from `starts` — (start_id, end_id, len, path
    * [, epath]) — walked on the driver over an adjacency index, one lookup
    * job per level. None as soon as the paths held (the results, the
    * frontier and the next level as it grows, checked after each path's
    * expansion) or the edges one level fetches pass `maxRows`; the caller
    * then runs [[vle]].
    */
  private[graft] def vlePaths(adj: Adjacency, starts: Array[Long], minLength: Int,
      maxLength: Int, carryEdges: Boolean, maxRows: Long): Option[Seq[Row]] = {
    require(minLength >= 1 && maxLength >= minLength, "need 1 <= min <= max")
    // (vertex path, edge path) per frontier row
    var frontier = starts.distinct.map(s => (Array(s), Array.emptyLongArray))
    val out = scala.collection.mutable.ArrayBuffer[Row]()
    var over = frontier.length > maxRows
    var len = 0
    while (!over && len < maxLength && frontier.nonEmpty) {
      len += 1
      val held = out.size + frontier.length
      val next = scala.collection.mutable.ArrayBuffer[(Array[Long], Array[Long])]()
      adj.lookup(frontier.map(_._1.last), maxRows) match {
        case None => over = true
        case Some(nb) =>
          val it = frontier.iterator
          while (!over && it.hasNext) {
            val (path, epath) = it.next()
            nb.foreach(path.last) { (v, e) =>
              if (!path.contains(v)) next += ((path :+ v, if (carryEdges) epath :+ e else epath))
            }
            over = held + next.size > maxRows
          }
      }
      frontier = next.toArray
      if (!over && len >= minLength) frontier.foreach { case (path, epath) =>
        out += Row.fromSeq(Seq(path.head, path.last, len, path.toSeq) ++
          (if (carryEdges) Seq(epath.toSeq) else Nil))
      }
    }
    if (over) None else Some(out.toSeq)
  }

  /** The distinct non-null values of each frame's `id` column, at most
    * `limit` of each, read by one job over the frames' union (plus the
    * stages the frames' own plans need).
    */
  private[graft] def distinctIds(frames: Seq[DataFrame], limit: Int): Seq[Array[Long]] = {
    val tagged = frames.zipWithIndex
      .map { case (df, t) => df.select(lit(t).as("t"), col("id").cast("long").as("id")) }
      .reduce(_.unionByName(_))
    val n = frames.size
    val found = tagged.sparkSession.sparkContext.runJob(tagged.queryExecution.toRdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val seen = Array.fill(n)(scala.collection.mutable.LinkedHashSet.empty[Long])
        while (it.hasNext && seen.exists(_.size < limit)) {
          val r = it.next()
          if (!r.isNullAt(1) && seen(r.getInt(0)).size < limit) seen(r.getInt(0)) += r.getLong(1)
        }
        seen.map(_.toArray)
      })
    (0 until n).map(t => found.iterator.flatMap(_(t)).distinct.take(limit).toArray)
  }

  /** Vertices at exactly k hops (reference vle.rs:196-220): distinct BFS
    * level-k endpoints (note: reference defines this via simple paths; on a
    * DAG or when k is minimal these agree — we use distance semantics, which
    * is the scalable definition).
    */
  def kHopNeighbors(edges: DataFrame, starts: DataFrame, k: Int,
      dir: Direction = Direction.Out): DataFrame =
    bfsDistances(edges, starts, k, dir).where(col("dist") === k).select("id")

  /** All vertices within [1, k] hops (vle.rs:231-251). */
  def neighborsWithin(edges: DataFrame, starts: DataFrame, k: Int,
      dir: Direction = Direction.Out): DataFrame =
    bfsDistances(edges, starts, k, dir).where(col("dist").between(1, k)).select("id", "dist")
}
