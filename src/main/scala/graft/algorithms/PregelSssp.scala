package graft.algorithms

import org.apache.spark.graphx.{Edge, Graph, Pregel, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Weighted single-source shortest paths on GraphX Pregel — the
  * cluster-scale counterpart of the reference's binary-heap Dijkstra
  * (/root/reference/src/algorithms/shortest_path.rs:77-141). Each superstep
  * relaxes all frontier edges in parallel instead of popping one vertex at a
  * time; with uniform weights this is exactly the BFS the reference runs.
  *
  * DataFrame in / DataFrame out so it composes with the rest of the engine;
  * GraphX is used internally (RDD-based) because Pregel's message combine is
  * the right primitive for value-propagation (path *enumeration* stays in
  * Traversals.vle — Pregel aggregates, it does not enumerate).
  */
object PregelSssp {

  /** edges: (src: Long, dst: Long[, weight: Double]); absent weight = 1.0.
    * Returns (id, dist) for every vertex reachable from srcId.
    */
  def run(spark: SparkSession, edges: DataFrame, srcId: Long,
      maxIterations: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    val hasW = edges.columns.contains("weight")
    val edgeRdd = (if (hasW) edges.select("src", "dst", "weight").as[(Long, Long, Double)].rdd
      else edges.select("src", "dst").as[(Long, Long)].rdd.map(e => (e._1, e._2, 1.0)))
      .map { case (s, d, w) => Edge(s: VertexId, d: VertexId, w) }
    val graph = Graph.fromEdges(edgeRdd, Double.PositiveInfinity)
      .mapVertices((id, _) => if (id == srcId) 0.0 else Double.PositiveInfinity)
    val result = Pregel(graph, Double.PositiveInfinity, maxIterations)(
      (_, dist, msg) => math.min(dist, msg),
      triplet =>
        if (triplet.srcAttr + triplet.attr < triplet.dstAttr)
          Iterator((triplet.dstId, triplet.srcAttr + triplet.attr))
        else Iterator.empty,
      (a, b) => math.min(a, b))
    result.vertices.filter(_._2 != Double.PositiveInfinity)
      .toDF("id", "dist")
  }

  /** Weighted SSSP with predecessor tracking: (id, dist, parent, hops),
    * parent = the minimum-id neighbor among those achieving the minimal
    * distance (deterministic; NULL for the source), hops = the length of
    * that min-cost parent chain (it rides along with the winning message so
    * path reconstruction knows its round budget upfront). The weighted
    * counterpart of Traversals.bfsParents — the parent chain reconstructs
    * the min-cost path like the reference's Dijkstra predecessor map
    * (/root/reference/src/algorithms/shortest_path.rs:98-141).
    */
  def runWithParents(spark: SparkSession, edges: DataFrame, srcId: Long,
      maxIterations: Int = Int.MaxValue): DataFrame =
    withParents(spark, edges, srcId, maxIterations)._3

  /** [[runWithParents]] as an eager local checkpoint. The RDDs the GraphX
    * run cached are released once the checkpoint holds its rows, so the
    * caller owns exactly the checkpoint: `Checkpoints.idsOf` reads its ids.
    */
  def parentsCheckpoint(spark: SparkSession, edges: DataFrame, srcId: Long,
      maxIterations: Int = Int.MaxValue): DataFrame = {
    val (source, result, parents) = withParents(spark, edges, srcId, maxIterations)
    val cut = parents.localCheckpoint()
    cachedAbove(source, Seq(result.vertices, result.edges)).foreach(_.unpersist(blocking = false))
    cut
  }

  /** The persisted RDDs in the lineage of `roots` down to `source`, not
    * below it: all of them derived from `source`, so made after it.
    */
  private def cachedAbove(source: RDD[_], roots: Seq[RDD[_]]): Seq[RDD[_]] = {
    val seen = scala.collection.mutable.Set(source.id)
    val todo = scala.collection.mutable.Stack[RDD[_]](roots: _*)
    val out = Seq.newBuilder[RDD[_]]
    while (todo.nonEmpty) {
      val r = todo.pop()
      if (seen.add(r.id)) {
        if (r.getStorageLevel != StorageLevel.NONE) out += r
        r.dependencies.foreach(d => todo.push(d.rdd))
      }
    }
    out.result()
  }

  /** The edge RDD a [[runWithParents]] run reads, its Pregel result graph
    * (cached by GraphX) and the parents relation over that graph.
    */
  private def withParents(spark: SparkSession, edges: DataFrame, srcId: Long,
      maxIterations: Int): (RDD[Edge[Double]], Graph[(Double, Long, Int), Double], DataFrame) = {
    import spark.implicits._
    val hasW = edges.columns.contains("weight")
    val edgeRdd = (if (hasW) edges.select("src", "dst", "weight").as[(Long, Long, Double)].rdd
      else edges.select("src", "dst").as[(Long, Long)].rdd.map(e => (e._1, e._2, 1.0)))
      .map { case (s, d, w) => Edge(s: VertexId, d: VertexId, w) }
    // state/message = (dist, parent, hops); order lexicographic on
    // (dist, parent) so equal-cost paths resolve to the lowest parent id —
    // run-to-run deterministic. hops is carried, never compared — BUT it
    // must be REFRESHED: when a vertex later re-ties to a lower-id parent
    // whose chain is a different length, its children hold a stale hop
    // count for a parent pointer that did not change, and a stale
    // (understated) hops budget would silently truncate path
    // reconstruction. So sendMsg also fires on (same dist, same parent,
    // different hops), and the vertex program adopts the fresher hops on a
    // full (dist, parent) tie. Parallel equal-weight edges are the only way
    // two messages tie on (dist, parent) inside one superstep, and those
    // carry identical hops — the combiner tie-pick is deterministic.
    val inf = (Double.PositiveInfinity, Long.MaxValue, 0)
    def better(a: (Double, Long, Int), b: (Double, Long, Int)): (Double, Long, Int) =
      if (a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b
    val graph = Graph.fromEdges(edgeRdd, inf)
      .mapVertices((id, _) => if (id == srcId) (0.0, -1L, 0) else inf)
    val result = Pregel(graph, inf, maxIterations)(
      (_, st, msg) =>
        if (msg._1 == st._1 && msg._2 == st._2) (st._1, st._2, msg._3) // hop refresh
        else better(st, msg),
      triplet => {
        val cand = triplet.srcAttr._1 + triplet.attr
        val hops = triplet.srcAttr._3 + 1
        if (cand < triplet.dstAttr._1 ||
          (cand == triplet.dstAttr._1 && triplet.srcId < triplet.dstAttr._2) ||
          (cand == triplet.dstAttr._1 && triplet.srcId == triplet.dstAttr._2 &&
            hops != triplet.dstAttr._3))
          Iterator((triplet.dstId, (cand, triplet.srcId, hops)))
        else Iterator.empty
      },
      better)
    (edgeRdd, result, result.vertices.filter(_._2._1 != Double.PositiveInfinity)
      .map { case (id, (d, p, h)) => (id, d, if (p < 0) None else Some(p), h) }
      .toDF("id", "dist", "parent", "hops"))
  }

  /** Full weighted shortest path src -> dst: one row (start_id, end_id,
    * dist, path) with the vertex-id sequence of the min-cost
    * (lowest-parent-id tie-broken) path; 0 rows when unreachable.
    * Pointer-doubling over the parents table — O(log path-length) jobs,
    * never a |V| driver materialization or an O(path-length) walk.
    */
  def shortestPath(spark: SparkSession, edges: DataFrame, srcId: Long,
      dstId: Long, maxIterations: Int = Int.MaxValue): DataFrame = {
    // reconstruct's result is built from a driver-side Seq, so the parents
    // snapshot is dead on return and released by its own ids (the GraphX
    // run's cached RDDs went when it was made; doublingChain releases its
    // rounds). Never a diff of the context's persisted set: that would also
    // free what another session persists meanwhile.
    val parents = parentsCheckpoint(spark, edges, srcId, maxIterations)
    try reconstruct(parents, srcId, dstId)
    finally graft.util.Checkpoints.release(spark, graft.util.Checkpoints.idsOf(parents))
  }

  /** Pointer-doubling reconstruction over a (id, dist, parent, hops)
    * relation from `runWithParents`: the hops column gives the round budget
    * upfront, so the chain assembles in O(log path-length) Spark jobs
    * (Traversals.doublingChain) — never an O(path-length) driver walk.
    */
  def reconstruct(parents: DataFrame, srcId: Long, dstId: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = parents.sparkSession
    import spark.implicits._
    val endRow = parents.where(col("id") === dstId)
      .select("dist", "hops").collect()
    val out =
      if (endRow.isEmpty) Seq.empty[(Long, Long, Double, Seq[Long])]
      else {
        val dist = endRow(0).getDouble(0)
        val hops = endRow(0).getInt(1)
        val path = Traversals.doublingChain(parents, dstId, hops)
        // a stale/understated hops budget must fail loudly, never return a
        // "path" that does not actually begin at the source
        require(path.headOption.contains(srcId),
          s"path reconstruction truncated: budget $hops hops, chain starts at " +
            s"${path.headOption.getOrElse("<empty>")} instead of $srcId")
        Seq((srcId, dstId, dist, path))
      }
    out.toDF("start_id", "end_id", "dist", "path")
  }
}
