package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.algorithms.{Direction, PregelSssp, Traversals}
import graft.model.Graphid
import graft.store.GraphStore
import graft.tools.DataGenerator

/** Algorithm tests on the reference's canonical fixtures (FIXTURES.md §3):
  * the 5-node DAG (A→B, A→C, B→D, B→E, C→E) and R×C grids with known
  * shortest-path costs.
  */
class TraversalsSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  def dag: GraphStore = {
    val v = Seq("A", "B", "C", "D", "E").zipWithIndex
      .map { case (n, i) => (Graphid.pack(1, i + 1), n) }.toDF("id", "name")
    def id(n: String) = Graphid.pack(1, "ABCDE".indexOf(n) + 1)
    val e = Seq(("A", "B"), ("A", "C"), ("B", "D"), ("B", "E"), ("C", "E")).zipWithIndex
      .map { case ((s, d), i) => (Graphid.pack(2, i + 1), id(s), id(d)) }
      .toDF("id", "src", "dst")
    new GraphStore(Map("Node" -> v), Map("LINK" -> e))
  }

  def idOf(n: String): Long = Graphid.pack(1, "ABCDE".indexOf(n) + 1)

  test("BFS distances on 5-node DAG: A→D cost 2") {
    val d = Traversals.shortestPathDist(dag.edges("LINK"), idOf("A"), idOf("D"), 5)
      .collect()
    assert(d.length == 1 && d(0).getInt(1) == 2)
  }

  test("VLE from A length 1..2 yields 5 paths, 2 of them reach E at length 2") {
    val paths = Traversals.vle(dag.edges("LINK"), Seq(idOf("A")).toDF("id"), 1, 2)
    assert(paths.count() == 5) // len 1: A→B, A→C; len 2: A→B→D, A→B→E, A→C→E
    val toE = paths.filter($"end_id" === idOf("E") && $"len" === 2)
    assert(toE.count() == 2)
  }

  test("k-hop neighbors: 1-hop of A = {B, C}") {
    val n = Traversals.kHopNeighbors(dag.edges("LINK"), Seq(idOf("A")).toDF("id"), 1)
      .collect().map(_.getLong(0)).toSet
    assert(n == Set(idOf("B"), idOf("C")))
  }

  test("neighborsWithin 2 of A = {B, C, D, E}") {
    val n = Traversals.neighborsWithin(dag.edges("LINK"), Seq(idOf("A")).toDF("id"), 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(n == Set(idOf("B"), idOf("C"), idOf("D"), idOf("E")))
  }

  test("Both direction: neighbors of E within 1 = {B, C}") {
    val n = Traversals.neighborsWithin(dag.edges("LINK"), Seq(idOf("E")).toDF("id"), 1,
      Direction.Both).select("id").collect().map(_.getLong(0)).toSet
    assert(n == Set(idOf("B"), idOf("C")))
  }

  test("grid 10x10: corner-to-corner BFS cost = 18, Pregel agrees") {
    val g = DataGenerator.grid(spark, 10, 10)
    val src = Graphid.pack(DataGenerator.GridLab, 1)
    val dst = Graphid.pack(DataGenerator.GridLab, 100)
    val bfs = Traversals.shortestPathDist(g.edges("CONNECTED"), src, dst, 20).collect()
    assert(bfs.length == 1 && bfs(0).getInt(1) == 18)
    val pregel = PregelSssp.run(spark, g.edges("CONNECTED"), src)
      .filter($"id" === dst).collect()
    assert(pregel.length == 1 && pregel(0).getDouble(1) == 18.0)
  }

  test("tree generator: root reaches all leaves at depth d") {
    val g = DataGenerator.tree(spark, 3, 2) // 15 nodes
    val root = Graphid.pack(DataGenerator.GridLab, 1)
    val leaves = Traversals.kHopNeighbors(g.edges("CONNECTED"), Seq(root).toDF("id"), 3)
    assert(leaves.count() == 8)
  }

  test("uniform generator is deterministic") {
    val a = DataGenerator.uniform(spark, 100, 300, seed = 7)
    val b = DataGenerator.uniform(spark, 100, 300, seed = 7)
    assert(a.edges("KNOWS").collect().toSeq == b.edges("KNOWS").collect().toSeq)
  }

  test("Pregel SSSP honors edge weights") {
    import org.apache.spark.sql.functions._
    val g = DataGenerator.grid(spark, 5, 5)
    val weighted = g.edges("CONNECTED")
      .select($"src", $"dst", (col("distance") * 2.5).as("weight"))
    val src = Graphid.pack(DataGenerator.GridLab, 1)
    val dst = Graphid.pack(DataGenerator.GridLab, 25)
    val d = PregelSssp.run(spark, weighted, src)
      .filter($"id" === dst).collect()
    assert(d.length == 1 && d(0).getDouble(1) == 8 * 2.5)
  }

  test("shortestPath reconstructs the lexicographically-minimal path") {
    // A→E via B (A,B,E) and via C (A,C,E); min-parent picks B (lower id)
    val p = Traversals.shortestPath(dag.edges("LINK"), idOf("A"), idOf("E"), 5).collect()
    assert(p.length == 1)
    assert(p(0).getInt(2) == 2)
    assert(p(0).getSeq[Long](3) == Seq(idOf("A"), idOf("B"), idOf("E")))
  }

  test("shortestPath returns 0 rows when unreachable") {
    assert(Traversals.shortestPath(dag.edges("LINK"), idOf("D"), idOf("E"), 5).isEmpty)
  }

  test("pathsBetween enumerates all simple paths, errors when none") {
    val ps = Traversals.pathsBetween(dag.edges("LINK"), idOf("A"), idOf("E"), 1, 3)
      .collect().map(_.getSeq[Long](3)).toSet
    assert(ps == Set(
      Seq(idOf("A"), idOf("B"), idOf("E")),
      Seq(idOf("A"), idOf("C"), idOf("E"))))
    // the rejected call frees its own snapshot too
    rejectsUnpinned[NoSuchElementException] {
      Traversals.pathsBetween(dag.edges("LINK"), idOf("D"), idOf("E"), 1, 3)
    }
  }

  test("vle carryEdges returns the traversed edge-id sequence") {
    val out = Traversals.vle(dag.edges("LINK"), Seq(idOf("A")).toDF("id"), 2, 2,
      carryEdges = true)
      .filter($"end_id" === idOf("D")).collect()
    assert(out.length == 1)
    // A→B is edge 1, B→D is edge 3 (insertion order in the fixture)
    assert(out(0).getSeq[Long](4) == Seq(Graphid.pack(2, 1), Graphid.pack(2, 3)))
  }

  test("shuffle-join fallback (ceiling 0) computes the same distances as broadcast") {
    val g = DataGenerator.grid(spark, 20, 20)
    val src = Graphid.pack(DataGenerator.GridLab, 1)
    val viaBroadcast = Traversals.bfsDistances(g.edges("CONNECTED"), Seq(src).toDF("id"), 40)
      .collect().map(_.toSeq).toSet
    // ceiling 0 forces the non-broadcast path on every hop — the plan a
    // |V|-sized frontier takes at cluster scale
    val viaShuffle = Traversals.bfsDistances(g.edges("CONNECTED"), Seq(src).toDF("id"), 40,
      maxBroadcastRows = 0L)
      .collect().map(_.toSeq).toSet
    assert(viaBroadcast == viaShuffle && viaBroadcast.size == 400)
  }

  test("weighted Pregel shortest path reconstructs the min-cost vertex sequence") {
    import org.apache.spark.sql.functions._
    // A→B→D costs 1+1=2; direct A→D costs 5 — the cheap detour must win
    val e = Seq(
      (idOf("A"), idOf("B"), 1.0), (idOf("B"), idOf("D"), 1.0),
      (idOf("A"), idOf("D"), 5.0), (idOf("A"), idOf("C"), 1.0))
      .toDF("src", "dst", "weight")
    val p = PregelSssp.shortestPath(spark, e, idOf("A"), idOf("D")).collect()
    assert(p.length == 1)
    assert(p(0).getDouble(2) == 2.0)
    assert(p(0).getSeq[Long](3) == Seq(idOf("A"), idOf("B"), idOf("D")))
    // unreachable → 0 rows
    assert(PregelSssp.shortestPath(spark, e, idOf("C"), idOf("A")).isEmpty)
  }

  test("hops refresh: a late lower-id parent re-tie cannot truncate the path") {
    import org.apache.spark.sql.functions._
    // vertex 5 first reaches dist 2 via parent 2 (2 hops, arrives superstep
    // 2), then RE-TIES to the lower-id parent 1 whose equal-cost chain is 4
    // hops (arrives superstep 4). Child 6 adopted hops=3 from the first
    // state; without the hop-refresh message its budget understates the
    // real 5-hop chain 10→3→4→1→5→6 and reconstruction truncates.
    val e = Seq(
      (10L, 2L, 1.0), (2L, 5L, 1.0),                        // short, higher-id parent
      (10L, 3L, 0.5), (3L, 4L, 0.25), (4L, 1L, 0.25), (1L, 5L, 1.0), // long, lower-id
      (5L, 6L, 1.0))
      .toDF("src", "dst", "weight")
    val parents = PregelSssp.runWithParents(spark, e, 10L)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), if (r.isNullAt(2)) -1L else r.getLong(2), r.getInt(3)))).toMap
    assert(parents(5L) == ((2.0, 1L, 4)))  // re-tied to parent 1, 4-hop chain
    assert(parents(6L) == ((3.0, 5L, 5)))  // child's hops refreshed to 5
    val p = PregelSssp.shortestPath(spark, e, 10L, 6L).collect()
    assert(p.length == 1 && p(0).getDouble(2) == 3.0)
    assert(p(0).getSeq[Long](3) == Seq(10L, 3L, 4L, 1L, 5L, 6L))
  }

  test("doublingChain reconstructs a 64-hop path in O(log L) jobs, not O(L)") {
    import org.apache.spark.sql.functions._
    // line graph 1→2→…→65: the worst case for the old driver pointer walk
    // (one collect per hop = 64 round-trips)
    val e = (1 to 64).map(i => (Graphid.pack(1, i), Graphid.pack(1, i + 1)))
      .toDF("src", "dst")
    val src = Graphid.pack(1, 1)
    val dst = Graphid.pack(1, 65)
    val parents = Traversals.bfsParents(e, Seq(src).toDF("id"), 64).localCheckpoint()
    val (chain, jobs) = jobsDuring(Traversals.doublingChain(parents, dst, 64))
    parents.unpersist()
    assert(chain == (1 to 65).map(i => Graphid.pack(1, i)))
    // ~13 round queries (2 log2 L: jump doubling + chain extension), each a
    // constant few AQE stage-materialization jobs — grows with log L, where
    // the old driver pointer walk is >= 65 strictly sequential collects and
    // grows linearly (a 100-hop path: ~48 jobs here vs 100 round-trips)
    assert(jobs <= 48, s"expected O(log L) jobs, saw $jobs")
  }

  test("doublingChain handles non-power-of-two and trivial lengths") {
    val e = (1 to 5).map(i => (Graphid.pack(1, i), Graphid.pack(1, i + 1)))
      .toDF("src", "dst")
    val src = Graphid.pack(1, 1)
    val parents = Traversals.bfsParents(e, Seq(src).toDF("id"), 10).localCheckpoint()
    assert(Traversals.doublingChain(parents, Graphid.pack(1, 6), 5) ==
      (1 to 6).map(i => Graphid.pack(1, i)))
    assert(Traversals.doublingChain(parents, Graphid.pack(1, 2), 1) ==
      Seq(Graphid.pack(1, 1), Graphid.pack(1, 2)))
    assert(Traversals.doublingChain(parents, src, 0) == Seq(src))
    parents.unpersist()
  }

  test("per-source BFS distances keep each source's own frontier") {
    val e = dag.edges("LINK")
    val starts = Seq(idOf("A"), idOf("B")).toDF("id")
    val got = Traversals.bfsDistancesPerSource(e, starts, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // A sees the whole DAG at its own distances; B sees only its subtree —
    // a collapsed (min-over-any-source) result would lose A's D/E at 2
    val exp = Set(
      (idOf("A"), idOf("A"), 0), (idOf("A"), idOf("B"), 1), (idOf("A"), idOf("C"), 1),
      (idOf("A"), idOf("D"), 2), (idOf("A"), idOf("E"), 2),
      (idOf("B"), idOf("B"), 0), (idOf("B"), idOf("D"), 1), (idOf("B"), idOf("E"), 1))
    assert(got == exp)
    // hop cap truncates per source
    val capped = Traversals.bfsDistancesPerSource(e, starts, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped == exp.filter(_._3 <= 1))
  }

  test("closeness aggregation over the per-source sweep (the g39 shape)") {
    import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
    val e = dag.edges("LINK")
    val starts = Seq(idOf("A"), idOf("B")).toDF("id")
    // A reaches B,C at 1 and D,E at 2: sum 6, n 4, ppm 4e6 div 6 = 666666
    // B reaches D,E at 1:              sum 2, n 2, ppm 2e6 div 2 = 1000000
    val got = Traversals.bfsDistancesPerSource(e, starts, 5)
      .where(col("dist") > 0)
      .groupBy(col("start_id"))
      .agg(sum(col("dist")).cast("long").as("sum_dist"),
        count(lit(1)).as("n_reached"))
      .withColumn("closeness_ppm", expr("(1000000 * n_reached) div sum_dist"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      idOf("A") -> ((6L, 4L, 666666L)),
      idOf("B") -> ((2L, 2L, 1000000L))))
  }

  test("allShortestPaths enumerates every minimum-length path (A→E via B and C)") {
    val got = Traversals.allShortestPaths(dag.edges("LINK"), idOf("A"), idOf("E"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(got == Set(
      (idOf("A"), idOf("E"), Seq(idOf("A"), idOf("B"), idOf("E"))),
      (idOf("A"), idOf("E"), Seq(idOf("A"), idOf("C"), idOf("E")))))
  }

  test("allShortestPaths: parallel edges don't duplicate vertex paths") {
    val dup = dag.edges("LINK").select("id", "src", "dst").unionByName(
      Seq((Graphid.pack(2, 99), idOf("B"), idOf("E"))).toDF("id", "src", "dst"))
    val got = Traversals.allShortestPaths(dup, idOf("A"), idOf("E"), 5)
    assert(got.count() == 2)
  }

  test("allShortestPaths: deterministic cap, unreachable, and self cases") {
    val capped = Traversals.allShortestPaths(
      dag.edges("LINK"), idOf("A"), idOf("E"), 5, maxPaths = Some(1)).collect()
    assert(capped.length == 1 &&
      capped(0).getSeq[Long](2) == Seq(idOf("A"), idOf("B"), idOf("E")))
    assert(Traversals.allShortestPaths(
      dag.edges("LINK"), idOf("D"), idOf("A"), 5).count() == 0)
    val self = Traversals.allShortestPaths(
      dag.edges("LINK"), idOf("A"), idOf("A"), 5).collect()
    assert(self.length == 1 && self(0).getSeq[Long](2) == Seq(idOf("A")))
  }

  test("allShortestPaths releases every persistent RDD except the snapshot") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = Traversals.allShortestPaths(dag.edges("LINK"), idOf("A"), idOf("E"), 5)
    res.count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked RDDs: $leaked") // caller-owned snapshot only
    res.unpersist()
  }

  test("shortestPath releases every persistent RDD it creates (r6 audit)") {
    val e = dag.edges("LINK")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = Traversals.shortestPath(e, idOf("A"), idOf("D"), 5).collect()
    assert(res.length == 1)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  test("weighted PregelSssp.shortestPath releases its whole delta (r6 audit)") {
    val e = dag.edges("LINK").withColumn("weight",
      org.apache.spark.sql.functions.lit(1.0))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = PregelSssp.shortestPath(spark, e, idOf("A"), idOf("E")).collect()
    assert(res.length == 1)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs (incl. GraphX): $leaked")
  }

  test("pathsBetween keeps only the caller-owned snapshot persisted (r6 audit)") {
    val e = dag.edges("LINK")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = Traversals.pathsBetween(e, idOf("A"), idOf("E"), 1, 3)
    assert(res.count() == 2) // A→B→E, A→C→E
    val delta = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(delta.size <= 1, s"expected only the result snapshot, got: $delta")
    res.unpersist()
  }

  test("fixed-point PageRank is deterministic and ranks the hub first") {
    import org.apache.spark.sql.functions._
    // star into 1 + ring 2->3->4->5->2, 1 feeds 2 (aperiodic, so 10
    // iterations are near the fixpoint: 2 > 1 > 3 > 4 > 5)
    val e = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 2L))
      .toDF("src", "dst")
    val pr = graft.algorithms.GraphAlgorithms.pageRankStable(e, 10)
      .orderBy(col("pr").desc, col("id")).collect()
    assert(pr.map(_.getLong(0)).toSeq == Seq(2L, 1L, 3L, 4L, 5L))
    // repartitioning the input cannot change a single bit of the result
    val pr2 = graft.algorithms.GraphAlgorithms.pageRankStable(e.repartition(7), 10)
      .orderBy(col("pr").desc, col("id")).collect()
    assert(pr.map(_.toSeq).toSeq == pr2.map(_.toSeq).toSeq)
    // the past-the-broadcast-ceiling path (shuffle-hash joins) is the same
    // fixed-point: bit-identical results through an entirely different plan
    // (the per-iteration joins live behind checkpoints, so result parity is
    // the observable contract — integer arithmetic guarantees it holds)
    val pr3 = graft.algorithms.GraphAlgorithms
      .pageRankStable(e, 10, broadcastCeiling = 0)
      .orderBy(col("pr").desc, col("id")).collect()
    assert(pr.map(_.toSeq).toSeq == pr3.map(_.toSeq).toSeq)
  }

  test("bidirDistance: DAG hops, unreachable, Both direction, trivial") {
    val e = dag.edges("LINK")
    assert(Traversals.bidirDistance(e, idOf("A"), idOf("D"), 5) == Some(2))
    assert(Traversals.bidirDistance(e, idOf("A"), idOf("E"), 5) == Some(2))
    assert(Traversals.bidirDistance(e, idOf("A"), idOf("A"), 5) == Some(0))
    // D→A unreachable along Out edges, 3 hops away undirected
    assert(Traversals.bidirDistance(e, idOf("D"), idOf("A"), 5).isEmpty)
    assert(Traversals.bidirDistance(e, idOf("D"), idOf("A"), 5,
      Direction.Both) == Some(2))
    // maxHops caps the search
    assert(Traversals.bidirDistance(e, idOf("A"), idOf("D"), 1).isEmpty)
  }

  test("bidirDistance equals unidirectional BFS on grid and uniform graphs") {
    val grid = DataGenerator.grid(spark, 8, 8).edges("CONNECTED")
    val corner = Graphid.pack(DataGenerator.GridLab, 1)
    val far = Graphid.pack(DataGenerator.GridLab, 64)
    val uni = Traversals.bfsDistances(grid, Seq(corner).toDF("id"), 20)
      .where($"id" === far).collect()
    assert(Traversals.bidirDistance(grid, corner, far, 20) ==
      Some(uni(0).getInt(1)))
    // random digraph: every (1 → v) distance must agree with the sweep
    val g = DataGenerator.uniform(spark, 60, 150, seed = 7)
    val e = g.allEdges.select($"src", $"dst")
    val src = g.allVertices.select($"id").orderBy($"id").head.getLong(0)
    val dists = Traversals.bfsDistances(e, Seq(src).toDF("id"), 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probes = g.allVertices.select($"id").orderBy($"id")
      .collect().map(_.getLong(0)).grouped(7).map(_.head) // every 7th vertex
    probes.foreach { v =>
      assert(Traversals.bidirDistance(e, src, v, 10) == dists.get(v),
        s"mismatch at $v")
    }
  }

  test("bidirWeightedDistance: min cost beats min hops; certification rules") {
    // hop-minimal ≠ cost-minimal: 1→2→4 is 2 hops cost 20; the 4-hop
    // detour 1→3→5→6→4 costs 4 — the first meet must NOT end the search
    val e = Seq(
      (1L, 2L, 10.0), (2L, 4L, 10.0),
      (1L, 3L, 1.0), (3L, 5L, 1.0), (5L, 6L, 1.0), (6L, 4L, 1.0))
      .toDF("src", "dst", "weight")
    assert(Traversals.bidirWeightedDistance(e, 1L, 4L) == Some(4.0))
    // direction handling: Out unreachable backwards, In/Both find it
    assert(Traversals.bidirWeightedDistance(e, 4L, 1L).isEmpty)
    assert(Traversals.bidirWeightedDistance(e, 4L, 1L,
      dir = Direction.In) == Some(4.0))
    assert(Traversals.bidirWeightedDistance(e, 4L, 1L,
      dir = Direction.Both) == Some(4.0))
    // trivial + unreachable island
    assert(Traversals.bidirWeightedDistance(e, 1L, 1L) == Some(0.0))
    assert(Traversals.bidirWeightedDistance(e, 1L, 99L).isEmpty)
    // zero weights are legal (zero-cycles can't spin: frontier advances
    // only on STRICT improvement); negative weights refuse loudly
    val z = Seq((1L, 2L, 0.0), (2L, 3L, 0.0)).toDF("src", "dst", "weight")
    assert(Traversals.bidirWeightedDistance(z, 1L, 3L) == Some(0.0))
    val neg = Seq((1L, 2L, -1.0)).toDF("src", "dst", "weight")
    val err = intercept[Exception](Traversals.bidirWeightedDistance(neg, 1L, 2L))
    assert(err.getMessage.contains("nonnegative"))
    // the round cap refuses rather than answering uncertified
    val chain = (1L to 40L).sliding(2).map(p => (p(0), p(1), 1.0)).toSeq
      .toDF("src", "dst", "weight")
    val capped = intercept[Exception](
      Traversals.bidirWeightedDistance(chain, 1L, 40L, maxRounds = 5))
    assert(capped.getMessage.contains("maxRounds"))
  }

  test("bidirWeightedDistance agrees with Pregel SSSP on a random weighted graph") {
    import org.apache.spark.sql.functions.col
    val g = DataGenerator.uniform(spark, 50, 140, seed = 11)
    // deterministic pseudo-weights from the edge endpoints
    val e = g.allEdges.select($"src", $"dst",
      ((col("src") * 7 + col("dst") * 13) % 5 + 1).cast("double").as("weight"))
    val src = g.allVertices.select($"id").orderBy($"id").head.getLong(0)
    val dists = PregelSssp.run(spark, e, src)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
      .filter(_._2.isFinite).toMap
    val probes = g.allVertices.select($"id").orderBy($"id")
      .collect().map(_.getLong(0)).grouped(7).map(_.head)
    probes.foreach { v =>
      assert(Traversals.bidirWeightedDistance(e, src, v) ==
        (if (v == src) Some(0.0) else dists.get(v)), s"mismatch at $v")
    }
  }

  test("shortestPath frees only its own checkpoints, not blocks persisted meanwhile") {
    val sc = spark.sparkContext
    val e = (0 until 12).map(i => (Graphid.pack(1, i), Graphid.pack(1, i + 1))).toDF("src", "dst")
    // another thread persists (as a concurrent session's compaction would)
    // for as long as each search runs
    val theirs = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[Int]]()
    @volatile var running = true
    val (a, b) = (Graphid.pack(1, 0), Graphid.pack(1, 12))
    val weighted = e.withColumn("weight", org.apache.spark.sql.functions.lit(1.0))
    // the unweighted path search, then the weighted bidirectional distance
    val searches = Seq[(String, () => Unit)](
      "shortestPath" -> { () =>
        val res = Traversals.shortestPath(e, a, b, 12).collect()
        assert(res.length == 1 && res(0).getInt(2) == 12)
      },
      "bidirWeightedDistance" -> { () =>
        assert(Traversals.bidirWeightedDistance(weighted, a, b).contains(12.0))
      })
    for ((name, search) <- searches) {
      theirs.clear()
      running = true
      val started = new java.util.concurrent.CountDownLatch(1)
      val other = new Thread(() => while (running) {
        val r = sc.parallelize(1 to 4, 1).persist()
        r.count()
        theirs.add(r)
        started.countDown()
        Thread.sleep(10)
      })
      other.start()
      started.await()
      try search() finally { running = false; other.join() }
      val persisted = theirs.toArray(Array.empty[org.apache.spark.rdd.RDD[Int]]).toSeq
      assert(persisted.size >= 2, name)
      val live = sc.getPersistentRDDs.keySet
      assert(persisted.forall(r => live.contains(r.id)),
        s"$name: ${persisted.count(r => !live.contains(r.id))} of ${persisted.size} were freed")
      persisted.foreach(_.unpersist())
    }
  }

  test("a weighted shortestPath frees only what it persisted, and leaks nothing") {
    val sc = spark.sparkContext
    val e = (0 until 12).map(i => (Graphid.pack(1, i), Graphid.pack(1, i + 1), 1.0 + i % 3))
      .toDF("src", "dst", "weight")
    val (a, b) = (Graphid.pack(1, 0), Graphid.pack(1, 12))
    // another thread persists (as a concurrent session's compaction would)
    // for as long as the search runs
    val theirs = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[Int]]()
    @volatile var running = true
    val started = new java.util.concurrent.CountDownLatch(1)
    val other = new Thread(() => while (running) {
      val r = sc.parallelize(1 to 4, 1).persist()
      r.count()
      theirs.add(r)
      started.countDown()
      Thread.sleep(10)
    })
    val before = sc.getPersistentRDDs.keySet
    other.start()
    started.await()
    val res =
      try PregelSssp.shortestPath(spark, e, a, b, 12).collect()
      finally { running = false; other.join() }
    assert(res.length == 1 && res(0).getDouble(2) == 24.0)
    assert(res(0).getSeq[Long](3) == (0 to 12).map(Graphid.pack(1, _)))
    val persisted = theirs.toArray(Array.empty[org.apache.spark.rdd.RDD[Int]]).toSeq
    assert(persisted.size >= 2)
    // held strongly: the context tracks persisted RDDs by weak reference
    val live = sc.getPersistentRDDs.toMap
    assert(persisted.forall(r => live.contains(r.id)),
      s"${persisted.count(r => !live.contains(r.id))} of ${persisted.size} were freed")
    val left = live.keySet -- before -- persisted.map(_.id)
    assert(left.isEmpty, s"the search left ${left.toSeq.sorted.map(live(_).toString)} persisted")
    persisted.foreach(_.unpersist())
  }

  test("bfsDistances keeps persisted only the checkpoints its result reads") {
    val sc = spark.sparkContext
    val e = (0 until 3).map(i => (Graphid.pack(1, i), Graphid.pack(1, i + 1))).toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet
    val res = Traversals.bfsDistances(e, Seq(Graphid.pack(1, 0)).toDF("id"), 5)
    // held strongly: the context tracks persisted RDDs by weak reference, so
    // a garbage collection must not hide one the call left behind
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(res.collect().map(_.getInt(1)).sorted.toSeq == Seq(0, 1, 2, 3))
    assert(left.keySet == graft.util.Checkpoints.idsOf(res))
    graft.util.Checkpoints.release(spark, left.keySet)
  }
}
