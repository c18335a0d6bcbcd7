package graft.algorithms

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Checkpoints

/** Time-respecting graph analytics (beyond the reference — the temporal
  * dimension its event-log tables imply but its engine never exploits):
  * a path is time-respecting when each hop departs no earlier than the
  * previous hop arrived — the semantics of information/contagion flow
  * over interaction logs. Everything here is exact LONG arithmetic on
  * event-time micros — no FP anywhere — so results are bit-stable under
  * any shuffle order and fully oracle-checkable.
  */
object TemporalGraph {

  /** Earliest-arrival sweep: for every vertex reachable from `sources`
    * (rows `(id, t0)` — earliest departure per source), the minimum
    * arrival time over time-respecting paths: arrival(v) = min over
    * edges (u, v, t) with t ≥ arrival(u) of t, seeded with
    * arrival(src) = t0. The relaxation is a monotone integer fixpoint
    * (arrivals only decrease, bounded below), run with the connected-
    * components round shape: one aggregate per round produces the FULL
    * arrival relation with the previous value carried alongside (own-row
    * tag), so the convergence test is a filter over that one relation,
    * the superseded round's checkpoint frees once the new one is live,
    * and only last round's IMPROVED rows (the frontier, count-gated for
    * broadcast) join the edge relation. `maxHops` caps rounds and throws
    * loudly rather than returning an uncertified fixpoint (an
    * improvement chain cannot outlive the longest ascending edge-time
    * sequence, so real convergence is fast).
    *
    * Output: (id, arrival) — LONG micros, sources included at their t0.
    * The returned frame reads the final round's pinned checkpoint;
    * callers sweep after consumption (the connectedComponentsDF
    * contract).
    */
  def earliestArrival(edges: DataFrame, sources: DataFrame,
      maxHops: Int = 64,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame =
    earliestArrivalRounds(edges, sources, maxHops, maxBroadcastRows)._1

  /** Latest-departure sweep — the exact time-mirror of [[earliestArrival]]:
    * for every vertex that can still reach some target by its deadline,
    * the LATEST time one may depart and arrive in time over a
    * time-respecting path: depart(v) = max over edges (v, w, t) with
    * t ≤ depart(w) of t, seeded with depart(target) = deadline
    * (`targets` rows are `(id, deadline)`). Implemented as a pure
    * reduction — reverse every edge and negate every time, and the max
    * fixpoint IS the min fixpoint: an edge (u, v, t) permits departure
    * at t exactly when t ≤ depart(v), which under negation is the
    * earliest-arrival usability test -t ≥ -depart(v) on the reversed
    * edge (v, u, -t). So one engine serves both sweeps, and the measured
    * earliest-arrival scale axes (rounds flat under edge volume, linear
    * in improvement-chain depth, |V|-bounded state) carry over verbatim.
    *
    * Output: (id, depart) — LONG micros, targets included at their
    * deadline; vertices that cannot make any deadline are absent. Same
    * checkpoint-sweep contract as earliestArrival.
    */
  def latestDeparture(edges: DataFrame, targets: DataFrame,
      maxHops: Int = 64,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame =
    latestDepartureRounds(edges, targets, maxHops, maxBroadcastRows)._1

  private[graft] def latestDepartureRounds(edges: DataFrame,
      targets: DataFrame, maxHops: Int = 64,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows)
      : (DataFrame, Int) = {
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      (-col("t").cast("long")).as("t"))
    val seeds = targets.select(col("id"),
      (-col("deadline").cast("long")).as("t0"))
    val (neg, rounds) =
      earliestArrivalRounds(rev, seeds, maxHops, maxBroadcastRows)
    (neg.select(col("id"), (-col("arrival")).as("depart")), rounds)
  }

  /** Per-source temporal k-reachability: for each source row
    * `(sid, t0, deadline)`, the number of distinct vertices reachable
    * from `sid` over a time-respecting path of AT MOST `k` hops whose
    * arrival is no later than the source's deadline (the source itself
    * counts when t0 ≤ deadline — it is reachable in 0 hops). The
    * contagion/influence question over an interaction log: "how many
    * vertices can s infect within k forwarding steps by time d?".
    *
    * Same round shape as [[earliestArrival]] but the state is the
    * per-source relation (sid, id, arrival) — a shared multi-source
    * sweep (the g19 BFS pattern): one edge join per round serves every
    * source, state is Σ|reach_s| ≤ |sources|·|V| rows. Exactly `k`
    * relaxation rounds bound path length; converged rounds are
    * idempotent under MIN, so early-stop when a round improves nothing
    * equals running all k. Exact LONG arithmetic end to end.
    */
  def kReachableCounts(edges: DataFrame, sources: DataFrame, k: Int,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
      val e = cuts(edges.select(col("src"), col("dst"), col("t").cast("long").as("t"))
        .where(col("src") =!= col("dst")))
      val srcs = cuts(sources.select(col("sid"),
        col("t0").cast("long").as("t0"),
        col("deadline").cast("long").as("deadline")))
      var visited = cuts(
        srcs.select(col("sid"), col("sid").as("id"), col("t0").as("arrival"))
          .groupBy(col("sid"), col("id")).agg(min(col("arrival")).as("arrival")))
      var frontier = visited
      var changed = frontier.count()
      var round = 0
      while (changed > 0 && round < k) {
        round += 1
        val f = if (changed <= maxBroadcastRows) broadcast(frontier) else frontier
        val cand = e.join(f, f("id") === e("src") && e("t") >= f("arrival"))
          .select(f("sid"), e("dst").as("id"), e("t").as("arrival"),
            lit(false).as("own"))
        val next = cuts(
          cand.unionByName(visited.withColumn("own", lit(true)))
            .groupBy(col("sid"), col("id"))
            .agg(min(col("arrival")).as("arrival"),
              min(when(col("own"), col("arrival"))).as("prev")))
        val improved = next.where(col("prev").isNull || col("arrival") < col("prev"))
        changed = improved.count()
        cuts.drop(visited) // superseded round's blocks, now dead
        visited = next.select(col("sid"), col("id"), col("arrival"))
        frontier = improved.select(col("sid"), col("id"), col("arrival"))
      }
      val counts = visited.join(srcs.select(col("sid"), col("deadline")), "sid")
        .where(col("arrival") <= col("deadline"))
        .groupBy(col("sid")).agg(count(lit(1)).cast("long").as("n_reachable"))
      // sources that reach nothing by their deadline still get a row (0);
      // the edge cut is freed, the sources and final round go to the caller
      cuts.keep(srcs.select(col("sid")).join(counts, Seq("sid"), "left")
        .select(col("sid"), coalesce(col("n_reachable"), lit(0L)).as("n_reachable")))
    }

  /** Fewest-hops temporal distance — the fourth classic temporal measure
    * (the "shortest path" of Wu et al.'s taxonomy, completing earliest
    * arrival / latest departure / fastest duration): the minimum number
    * of EDGES among time-respecting paths from each source row
    * `(sid, t0)`, hop-capped at k.
    *
    * Hop-soundness of the min-arrival sweep: keeping only each vertex's
    * MINIMUM arrival never delays a first appearance — an earlier
    * arrival is usable on every edge a later one is (t ≥ arr is
    * monotone) — so the round at which a vertex first enters the
    * relation IS its fewest-hop distance, and later arrival
    * improvements never revise it (min(hops) keeps the first round).
    * Same shared multi-source frontier machinery, state bounds, and
    * checkpoint discipline as [[kReachableCounts]]; all-LONG.
    *
    * Output: (sid, id, hops) — sources themselves at hops 0.
    */
  def fewestHops(edges: DataFrame, sources: DataFrame, k: Int,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame =
    Checkpoints.owned(edges.sparkSession) { cuts =>
      val e = cuts(edges.select(col("src"), col("dst"), col("t").cast("long").as("t"))
        .where(col("src") =!= col("dst")))
      val srcs = sources.select(col("sid"), col("t0").cast("long").as("t0"))
      var visited = cuts(
        srcs.select(col("sid"), col("sid").as("id"), col("t0").as("arrival"),
            lit(0L).as("hops"))
          .groupBy(col("sid"), col("id"))
          .agg(min(col("arrival")).as("arrival"), min(col("hops")).as("hops")))
      var frontier = visited
      var changed = frontier.count()
      var round = 0
      while (changed > 0 && round < k) {
        round += 1
        val f = if (changed <= maxBroadcastRows) broadcast(frontier) else frontier
        val cand = e.join(f, f("id") === e("src") && e("t") >= f("arrival"))
          .select(f("sid"), e("dst").as("id"), e("t").as("arrival"),
            lit(round.toLong).as("hops"), lit(false).as("own"))
        val next = cuts(
          cand.unionByName(visited.withColumn("own", lit(true)))
            .groupBy(col("sid"), col("id"))
            .agg(min(col("arrival")).as("arrival"), min(col("hops")).as("hops"),
              min(when(col("own"), col("arrival"))).as("prev")))
        val improved = next.where(col("prev").isNull || col("arrival") < col("prev"))
        changed = improved.count()
        cuts.drop(visited)
        visited = next.select(col("sid"), col("id"), col("arrival"), col("hops"))
        frontier = improved.select(col("sid"), col("id"), col("arrival"),
          col("hops"))
      }
      cuts.keep(visited.select(col("sid"), col("id"), col("hops")))
    }

  /** Fastest-path (minimum journey duration) sweep — the third classic
    * temporal distance beside [[earliestArrival]] and [[latestDeparture]]
    * (Wu et al., "Path Problems in Temporal Graphs", VLDB 2014): for each
    * source row `(sid)` and every vertex v reachable from it, the minimum
    * of (arrival − departure) over time-respecting paths, where departure
    * is the time of the path's FIRST edge. Exact over the source's
    * distinct out-edge times D (optionally capped upstream by the
    * caller): any journey departs on some t_d ∈ D, and seeding a keyed
    * earliest-arrival sweep per t_d never understates a duration (a path
    * counted under an earlier key also appears under its own key with the
    * true, smaller value), so the min over keys is the true fastest.
    *
    * Scale shape: the state relation is (sid, dep, id, arrival) — the
    * g19/g37 shared multi-source sweep with `dep` as an extra key — and
    * each round PRUNES it to the per-(sid, id) Pareto frontier: a pair
    * (dep, arr) dominated by (dep' ≥ dep, arr' ≤ arr) can never yield a
    * better duration downstream (future usability only loosens as arr
    * shrinks, and arr_final − dep' ≤ arr_final − dep), so dominated rows
    * leave both state and frontier. That bounds state by the frontier
    * size instead of |D|·|V| — the 100 TB argument. Dominated rows a
    * frontier edge regenerates die at the next prune and never count as
    * progress, so termination is the plain monotone argument. All-LONG
    * arithmetic end to end; `maxHops` throws loudly rather than
    * returning an uncertified fixpoint.
    *
    * Output: (sid, id, duration) — sources themselves at duration 0.
    */
  def fastestDurations(edges: DataFrame, sources: DataFrame,
      maxHops: Int = 64,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame =
    // the zero-travel-time reduction: arrival = t + 0 is the identity on
    // LONGs, so this is bit-for-bit the original instantaneous-edge sweep
    fastestDurationsWeighted(
      edges.select(col("src"), col("dst"), col("t"), lit(0L).as("w")),
      sources, maxHops, maxBroadcastRows)

  /** [[fastestDurations]] with per-edge TRAVEL TIMES (the weighted
    * fastest-path of Wu et al. 2014 §2: an edge departing src at `t`
    * with travel time `w ≥ 0` arrives at dst at `t + w`; it is usable
    * iff `t ≥` the traveler's arrival at src). One new term in the
    * relaxation — candidate arrival `t + w` instead of `t` — and the
    * per-(sid, id) Pareto-dominance prune carries over unchanged: its
    * argument uses only that usability is monotone in the arrival value
    * and that a later departure never lengthens the final duration,
    * both independent of how arrivals are produced. Negative travel
    * times are rejected loudly (one bounded aggregate) — they would
    * invert the duration semantics silently. All-LONG end to end.
    */
  def fastestDurationsWeighted(edges: DataFrame, sources: DataFrame,
      maxHops: Int = 64,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the up-front guards, the no-fixpoint require, and any Spark job
    // failure free the edge and state cuts as the scope throws (r12/r13
    // ADVICE — the guard row reads the edge cut)
    Checkpoints.owned(edges.sparkSession) { cuts =>
      val e = cuts(edges.select(col("src"), col("dst"), col("t").cast("long").as("t"),
          col("w").cast("long").as("w"))
        .where(col("src") =!= col("dst")))
      // one bounded aggregate guards both input hazards loudly: negative
      // travel times (durations ill-defined) and NULL t/w (NULL arrivals
      // pass min()-based checks, then register as 'improved' every round
      // and the sweep dies at maxHops with a misleading message)
      val guard = e.agg(
        sum(when(col("t").isNull || col("w").isNull, 1L).otherwise(0L))
          .as("n_null"),
        min(col("w")).as("min_w")).head()
      val nNull = if (guard.isNullAt(0)) 0L else guard.getLong(0)
      require(nNull == 0L,
        s"fastestDurationsWeighted: $nNull edge(s) with NULL t or w — " +
          "arrivals would be NULL and the sweep could never converge")
      if (!guard.isNullAt(1)) require(guard.getLong(1) >= 0L,
        s"fastestDurationsWeighted: negative travel time ${guard.getLong(1)} " +
          "— durations would be ill-defined")
      val srcs = sources.select(col("sid"))
      var visited = cuts(
        e.join(srcs, e("src") === srcs("sid"))
          .select(col("sid"), col("t").as("dep")).distinct()
          .select(col("sid"), col("dep"), col("sid").as("id"),
            col("dep").as("arrival")))
      var frontier = visited
      var changed = frontier.count()
      var round = 0
      // dominance: among this (sid, id)'s pairs, a row survives iff no
      // strictly-later departure reaches it no later
      val wUp = Window.partitionBy(col("sid"), col("id"))
        .orderBy(col("dep").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      while (changed > 0) {
        round += 1
        require(round <= maxHops,
          s"fastestDurations: no fixpoint within $maxHops rounds — raise maxHops")
        val f = if (changed <= maxBroadcastRows) broadcast(frontier) else frontier
        val cand = e.join(f, f("id") === e("src") && e("t") >= f("arrival"))
          .select(f("sid"), f("dep"), e("dst").as("id"),
            (e("t") + e("w")).as("arrival"), lit(false).as("own"))
        val next = cuts(
          cand.unionByName(visited.withColumn("own", lit(true)))
            .groupBy(col("sid"), col("dep"), col("id"))
            .agg(min(col("arrival")).as("arrival"),
              min(when(col("own"), col("arrival"))).as("prev"))
            .withColumn("minUp", min(col("arrival")).over(wUp))
            .where(col("minUp").isNull || col("arrival") < col("minUp"))
            .select(col("sid"), col("dep"), col("id"), col("arrival"),
              col("prev")))
        val improved =
          next.where(col("prev").isNull || col("arrival") < col("prev"))
        changed = improved.count()
        cuts.drop(visited)
        visited = next.select(col("sid"), col("dep"), col("id"), col("arrival"))
        frontier = improved.select(col("sid"), col("dep"), col("id"),
          col("arrival"))
      }
      cuts.keep(visited.groupBy(col("sid"), col("id"))
        .agg(min(col("arrival") - col("dep")).as("duration")))
    }
  }

  /** Temporal closeness digest — the centrality read-off of
    * [[fastestDurations]] (Wasserman–Faust closeness over temporal
    * distances, kept as the exact-integer pair the oracle can check, the
    * g44 digest discipline): for each source, (n_reach, sum_duration)
    * over every OTHER vertex it reaches, where distance is the minimum
    * journey duration. The FP quotient n_reach/sum_duration (or the
    * n_reach²/((N−1)·Σd) Wasserman–Faust form) is one driver-side
    * division the caller finishes. Sources reaching nothing row out
    * absent (their closeness is undefined, not zero).
    */
  def temporalCloseness(edges: DataFrame, sources: DataFrame,
      maxHops: Int = 64,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame =
    fastestDurations(edges, sources, maxHops, maxBroadcastRows)
      .where(col("id") =!= col("sid"))
      .groupBy(col("sid"))
      .agg(count(lit(1)).cast("long").as("n_reach"),
        sum(col("duration")).cast("long").as("sum_duration"))

  /** Per-target mirror of [[kReachableCounts]] via the negate-reverse
    * reduction (the [[latestDeparture]] argument, hop-capped): for each
    * target row `(tid, deadline, floor)`, the number of distinct
    * vertices that can DEPART at or after `floor` and reach `tid` by
    * `deadline` over a time-respecting path of at most `k` hops.
    * depart(v) ≥ floor under negation is arrival'(v) ≤ -floor on the
    * reversed-negated graph, so the per-source engine serves both
    * directions and its measured scale axes carry over.
    */
  def kReachingCounts(edges: DataFrame, targets: DataFrame, k: Int,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame = {
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      (-col("t").cast("long")).as("t"))
    val seeds = targets.select(col("tid").as("sid"),
      (-col("deadline").cast("long")).as("t0"),
      (-col("floor").cast("long")).as("deadline"))
    kReachableCounts(rev, seeds, k, maxBroadcastRows)
      .select(col("sid").as("tid"), col("n_reachable"))
  }

  /** earliestArrival plus the relaxation round count — ScaleProbe's
    * temporal axis pins the round behavior with it: rounds track the
    * longest improvement chain (a temporal chain has no label-composition
    * shortcut — unlike CC's pointer jumping, min-arrival does not compose
    * through a vertex without its intermediate times), while state stays
    * |V|-bounded at any depth.
    */
  private[graft] def earliestArrivalRounds(edges: DataFrame,
      sources: DataFrame, maxHops: Int = 64,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows)
      : (DataFrame, Int) =
    Checkpoints.owned(edges.sparkSession) { cuts =>
      val e = cuts(edges.select(col("src"), col("dst"), col("t").cast("long").as("t"))
        .where(col("src") =!= col("dst")))
      var visited = cuts(sources
        .select(col("id"), col("t0").cast("long").as("arrival"))
        .groupBy(col("id")).agg(min(col("arrival")).as("arrival")))
      var frontier = visited
      var changed = frontier.count()
      var rounds = 0
      while (changed > 0) {
        rounds += 1
        require(rounds <= maxHops,
          s"earliestArrival: no fixpoint within $maxHops rounds — raise maxHops")
        val f = if (changed <= maxBroadcastRows) broadcast(frontier) else frontier
        // candidate arrivals: edges usable at-or-after the frontier arrival;
        // own rows carry the previous arrival so one aggregate yields both
        // the new relation and the convergence filter
        val cand = e.join(f, f("id") === e("src") && e("t") >= f("arrival"))
          .select(e("dst").as("id"), e("t").as("arrival"), lit(false).as("own"))
        val next = cuts(
          cand.unionByName(visited.withColumn("own", lit(true)))
            .groupBy(col("id"))
            .agg(min(col("arrival")).as("arrival"),
              min(when(col("own"), col("arrival"))).as("prev")))
        val improved = next.where(col("prev").isNull || col("arrival") < col("prev"))
        changed = improved.count() // materializes `next`
        cuts.drop(visited)         // superseded round's blocks, now dead
        visited = next.select(col("id"), col("arrival"))
        frontier = improved.select(col("id"), col("arrival"))
      }
      (cuts.keep(visited), rounds)
    }

  /** Temporal stress centrality — the exact-integer member of the
    * temporal centrality family (the g25 stressCentrality argument
    * carried to time-respecting journeys): stress(v) = number of
    * interior visits to v over all HOP-MINIMAL time-respecting journeys
    * from the sources (rows `(sid, t0)`) to every vertex they reach
    * within `k` hops. Hop-minimal means d(s,t) = the fewest hops of any
    * time-respecting journey s→t departing ≥ t0 with ≤ k hops; σ_st
    * counts ALL d(s,t)-hop journeys (over every arrival time). Journeys
    * returning to their own source are not centrality pairs: the seed
    * registers d(s, s) = 0, so nothing ENDING at s is ever hop-minimal
    * (standard stress excludes t = s; the brute-force cross-validation
    * spec pins this).
    *
    * The static Brandes decomposition does NOT carry over unchanged: a
    * prefix of a hop-minimal temporal journey need not be hop-minimal
    * for its own vertex (the shorter route may arrive too late to
    * continue — AlgorithmsSpec pins exactly this case), so both sweeps
    * run over the time-expanded STATE DAG keyed (sid, vertex, arrival):
    *
    * Forward, k levels: σ_h(s, v, a) = number of h-hop journeys from s
    * arriving at v exactly at time a — level h+1 is one edge join
    * (usable iff t ≥ a) plus a partial-aggregated (sid, dst, t) sum; NO
    * visited pruning (non-minimal states still prefix minimal journeys).
    * First-touch levels assign d(s, v) on the side. State per level is
    * bounded by |S|·|distinct (v, t) edge targets| — never paths.
    *
    * Backward: τ_h(s, v, a) = number of completions of hop-minimal
    * journeys from state (h, v, a) = Σ over usable edges (v→w, t ≥ a) of
    * [d(s, w) = h+1] + τ_{h+1}(s, w, t). Then stress(v) =
    * Σ_{h ≥ 1, s ≠ v, a} σ_h · τ_h — all LONG, no fractional pair
    * dependency, bit-stable under any shuffle order (the oracle replays
    * both sweeps). A journey revisiting v contributes once per interior
    * VISIT (temporal journeys need not be simple; documented).
    *
    * `k` is the contract, not a convergence budget (the g37 hop-cap
    * class): journeys longer than k hops are out of scope by definition.
    * Self-loops are inert and dropped. Exactness domain: σ, τ stay in
    * LONG while per-state journey counts < 2^63 (≈ avg-degree^k — far
    * beyond any event log's interaction fan-out at k ≤ 8).
    *
    * Output: (id, stress) over every vertex of the edge relation.
    */
  def temporalStress(edges: DataFrame, sources: DataFrame, k: Int,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame =
    temporalBrandesCore(edges, sources, k, integerStress = true,
      maxBroadcastRows)

  /** Pivot-sampled whole-log temporal stress (r16) —
    * [[GraphAlgorithms.pivotStress]]'s Brandes–Pich draw carried to
    * journeys: where exact all-sources temporalStress costs
    * |sources| · state-DAG sweeps, draw |S| sources by the deterministic
    * h32-argmin convention over the DISTINCT edge sources, seed each at
    * its own t0 = MIN event time (the earliest departure that source can
    * ever make, so every journey it can start is in scope), and scale by
    * the one integer ratio est(v) = (stress_S(v) · n_src) div |S| with
    * n_src = the number of distinct sources in the log. Multiply before
    * the truncating div, try_multiply + raise_error outside the
    * stress·n_src < 2^63 domain — the whole output stays hash-checkable
    * (the g50 discipline, sample included: the draw replays op-for-op in
    * SQL). Cost ∝ |S| temporal sweeps at fixed log — the same 100×
    * argument as pivotStress: whole-log temporal centrality at bounded,
    * chosen cost. NULL src/t rows are NOT pre-filtered here; they reach
    * [[temporalStress]]'s loud guard unchanged.
    */
  def temporalPivotStress(edges: DataFrame, nPivots: Int, k: Int,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame = {
    require(nPivots >= 1, "temporalPivotStress needs at least one pivot")
    val srcT0 = edges.select(col("src"), col("t").cast("long").as("t"))
      .groupBy(col("src")).agg(min(col("t")).as("t0"))
    val nSrc = srcT0.count()
    require(nSrc > 0,
      "temporalPivotStress: the edge relation has no sources to draw from")
    // h32-argmin draw (the g50/g33 convention): a bounded
    // TakeOrderedAndProject, never a full sort; the pivot relation is
    // the sanctioned bounded class (|S| <= thousands)
    val pivots = srcT0
      .select(col("src").as("sid"), col("t0"),
        graft.pipeline.TextHash.h32(
          concat(lit("tpivot|"), col("src").cast("string"))).as("h"))
      .orderBy(col("h"), col("sid")).limit(nPivots)
      .select(col("sid"), col("t0"))
    val nS = math.min(nPivots.toLong, nSrc)
    temporalStress(edges, pivots, k, maxBroadcastRows)
      .withColumn("stress_est",
        expr(s"coalesce(try_multiply(stress, CAST($nSrc AS BIGINT)), " +
          "CAST(raise_error('temporalPivotStress: stress * n_src " +
          "overflows LONG — outside the documented exactness domain') " +
          s"AS BIGINT)) div CAST($nS AS BIGINT)"))
  }

  /** Temporal betweenness centrality — the FP twin of [[temporalStress]]
    * on the SAME state DAG (the x24/g25 pairing carried to journeys):
    * bc(v) = Σ_{s ≠ v ≠ t} σ_st(v)/σ_st over hop-minimal time-respecting
    * journeys, credited once per interior VISIT like its exact twin.
    * Identical forward sweep; the backward completion count becomes the
    * normalized φ_h(s, v, a) = Σ over usable edges (v→w, t ≥ a) of
    * [d(s, w) = h+1]/σ_sw + φ_{h+1}(s, w, t), where σ_sw = Σ_a'
    * σ_{d(s,w)}(s, w, a') is the per-target minimal-journey total (one
    * extra (sid, id) aggregate off the forward levels), and
    * bc(v) = Σ σ_h · φ_h. The σ-ratio division makes the accumulation
    * FP-rounded — deterministic up to double-sum ordering, NOT
    * bit-reproducible across engines, so its gate rides rows-only while
    * g48 carries the oracle on the shared sweeps (the x24 pattern).
    */
  def temporalBetweenness(edges: DataFrame, sources: DataFrame, k: Int,
      maxBroadcastRows: Long = Traversals.BroadcastFrontierRows): DataFrame =
    temporalBrandesCore(edges, sources, k, integerStress = false,
      maxBroadcastRows)

  private def temporalBrandesCore(edges: DataFrame, sources: DataFrame,
      k: Int, integerStress: Boolean, maxBroadcastRows: Long): DataFrame = {
    val name = if (integerStress) "temporalStress" else "temporalBetweenness"
    require(k >= 1, s"$name needs a positive hop cap")
    // a NULL event time (or NULL endpoint) would make the usability
    // predicate t >= a NULL and the edge silently inert — reject loudly,
    // matching the fastestDurationsWeighted guard (r14 ADVICE); same for
    // NULL sid/t0 source rows, which the seed projection would turn into
    // a NULL-keyed state that can never join
    val eGuard = edges.agg(
      sum(when(col("src").isNull || col("dst").isNull
        || col("t").cast("long").isNull, 1L).otherwise(0L))).head()
    if (!eGuard.isNullAt(0)) require(eGuard.getLong(0) == 0L,
      s"$name: ${eGuard.getLong(0)} edge(s) with NULL src/dst/t — " +
        "they would be silently unusable in every journey")
    val sGuard = sources.agg(
      sum(when(col("sid").isNull || col("t0").isNull, 1L).otherwise(0L))).head()
    if (!sGuard.isNullAt(0)) require(sGuard.getLong(0) == 0L,
      s"$name: ${sGuard.getLong(0)} source row(s) with NULL sid/t0")
    // every internal cut (edge relation, levels, taus) is dead once the
    // result is materialized below: the scope frees them on success and
    // on any failure path; only the result's own block survives.
    // r20 (the Traversals/louvain/brandes fusion): per-level relations are
    // cut LAZILY and materialized by the count that immediately follows —
    // one job where an eager cut plus a count ran two
    Checkpoints.owned(edges.sparkSession) { cuts =>
      val e = cuts(
        edges.select(col("src"), col("dst"), col("t").cast("long").as("t"))
          .where(col("src") =!= col("dst")).distinct(), eager = true)
      def gate(df: DataFrame, rows: Long): DataFrame =
        if (rows <= maxBroadcastRows) broadcast(df) else df.hint("shuffle_hash")
      // forward: levels(h) = (sid, id, a, sigma), reached = (sid, id, d)
      // lazy: the dup-guard aggregate below is l0's first action and
      // materializes its blocks; l0.count() then reads the cache
      val l0 = cuts(sources
        .select(col("sid").cast("long").as("sid"), col("t0").cast("long").as("t0"))
        .distinct()
        .select(col("sid"), col("sid").as("id"), col("t0").as("a"),
          lit(1L).as("sigma")))
      // a sid seeded at two different t0 values would POOL its journey
      // counts (the forward groupBy merges the seeds' states and sums
      // sigma across start times) — neither per-seed run nor their sum;
      // reject loudly instead of silently double-counting
      val dup = l0.groupBy(col("sid")).agg(count(lit(1)).as("c"))
        .where(col("c") > 1).count()
      require(dup == 0L,
        s"$name: $dup source id(s) appear with multiple t0 " +
          "values — journey counts would pool across start times")
      var levels = Vector((l0, l0.count()))
      var reached = l0.select(col("sid"), col("id"), lit(0).as("d"))
      var reachedRows = levels.head._2
      var h = 0
      while (h < k && levels.last._2 > 0) {
        h += 1
        val (prev, prevRows) = levels.last
        val f = gate(prev, prevRows)
        // each hop is TWO jobs, not four: the counts materialize the lazy
        // cuts (level states, then the newly-reached delta)
        val lh = cuts(
          e.join(f, f("id") === e("src") && e("t") >= f("a"))
            .groupBy(f("sid"), e("dst").as("id"), e("t").as("a"))
            .agg(sum(f("sigma")).as("sigma")))
        levels :+= ((lh, lh.count()))
        val newly = cuts(
          lh.select(col("sid"), col("id")).distinct()
            .join(gate(reached.select(col("sid"), col("id")), reachedRows),
              Seq("sid", "id"), "left_anti")
            .withColumn("d", lit(h)))
        reachedRows += newly.count()
        reached = reached.unionByName(newly)
      }
      val maxH = levels.length - 1
      // FP mode only: per-target minimal-journey totals σ_sw = Σ over
      // arrival times of σ_{d(s,w)}(s, w, a) — the betweenness
      // denominator, one (sid, id) aggregate off the forward levels
      // (level h rows count only where d(s, w) = h)
      val sigtot: Option[(DataFrame, Long)] =
        if (integerStress || maxH < 1) None
        else {
          val states = (1 to maxH).map { hh =>
            levels(hh)._1.select(col("sid"), col("id"), col("sigma"))
              .withColumn("h", lit(hh))
          }.reduce(_ unionByName _)
          val st = cuts(states
            .join(gate(reached, reachedRows), Seq("sid", "id"))
            .where(col("h") === col("d"))
            .groupBy(col("sid"), col("id").as("wid"))
            .agg(sum(col("sigma")).cast("double").as("sigtot")))
          Some((st, st.count()))
        }
      // backward: tau(h) keyed (sid, id, a); the deepest level's states
      // have no in-budget continuations
      val zero = if (integerStress) lit(0L) else lit(0.0)
      var tauNext: Option[(DataFrame, Long)] = None
      val contribs = Vector.newBuilder[DataFrame]
      // level 0 holds only (sid, sid) endpoint states, whose dependency
      // aggregate no output reads (contribs excluded l = 0 and tauNext
      // dies with the loop) — the whole level-0 iteration was dead work
      // and is skipped outright (r20, guide §1.2 step 1)
      for (l <- (maxH - 1) to 1 by -1) {
        val (vl, vRows) = levels(l)
        val out = e.join(gate(vl, vRows), vl("id") === e("src") && e("t") >= vl("a"))
          .select(vl("sid"), vl("id").as("vid"), vl("a"), vl("sigma"),
            e("dst").as("wid"), e("t").as("wt"))
        val withD = out.join(
            gate(reached.select(col("sid"), col("id").as("wid"),
              col("d").as("dw")), reachedRows),
            Seq("sid", "wid"))
        // FP mode: the endpoint credit is 1/σ_sw, not 1 — join the
        // denominator in (left: rows whose wid is the source, d = 0,
        // never take the credit branch and need no denominator)
        val withSig = sigtot match {
          case Some((st, stRows)) => withD.join(
              gate(st.select(col("sid").as("ss"), col("wid").as("sw"),
                col("sigtot")), stRows),
              col("ss") === col("sid") && col("sw") === col("wid"), "left")
          case None => withD
        }
        val withTau = tauNext match {
          case Some((t, tRows)) => withSig.join(
              gate(t.select(col("sid").as("ts"), col("id").as("tid"),
                col("a").as("ta"), col("tau").as("wtau")), tRows),
              col("ts") === col("sid") && col("tid") === col("wid")
                && col("ta") === col("wt"), "left")
          case None => withSig.withColumn("wtau", zero)
        }
        val m =
          if (integerStress)
            when(col("dw") === l + 1, 1L).otherwise(0L) +
              coalesce(col("wtau"), lit(0L))
          else
            when(col("dw") === l + 1, lit(1.0) / col("sigtot"))
              .otherwise(0.0) + coalesce(col("wtau"), lit(0.0))
        // ONE job per level: the count materializes the lazy cut and
        // yields the next gate's row count
        val tau = cuts(withTau
          .select(col("sid"), col("vid"), col("a"), col("sigma"), m.as("m"))
          .groupBy(col("sid"), col("vid"), col("a"))
          .agg(sum(col("m")).as("tau"), max(col("sigma")).as("sigma")))
        val tRows = tau.count()
        contribs += tau.where(col("vid") =!= col("sid"))
          .select(col("vid").as("id"), (col("sigma") * col("tau")).as("c"))
        tauNext = Some((tau.select(col("sid"), col("vid").as("id"), col("a"),
          col("tau")), tRows))
      }
      val outName = if (integerStress) "stress" else "betweenness"
      val verts = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      val agg = contribs.result() match {
        case Vector() => verts.limit(0).withColumn("c", zero)
        case cs => cs.reduce(_ unionByName _)
      }
      cuts.keep(cuts(
        verts.join(agg.groupBy(col("id")).agg(sum(col("c")).as(outName)),
            Seq("id"), "left")
          .select(col("id"), coalesce(col(outName), zero).as(outName)),
        eager = true))
    }
  }
}
