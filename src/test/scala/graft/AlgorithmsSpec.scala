package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.algorithms.GraphAlgorithms
import graft.store.GraphStore
import graft.tools.DataGenerator

/** Whole-graph analytics + store persistence tests. */
class AlgorithmsSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("connected components: two disjoint chains") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val cc = GraphAlgorithms.connectedComponents(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == cc(2L) && cc(2L) == cc(3L))
    assert(cc(10L) == cc(11L))
    assert(cc(1L) != cc(10L))
  }

  test("DataFrame connected components equals GraphX min-id labels") {
    val g = graft.tools.DataGenerator.uniform(spark, 120, 150, seed = 13)
    val e = g.allEdges.select($"src", $"dst")
    val viaDf = GraphAlgorithms.connectedComponentsDF(e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaGraphX = GraphAlgorithms.connectedComponents(spark, e)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaDf == viaGraphX && viaDf.nonEmpty)
  }

  test("connected components shortcutting: chain converges in O(log D) rounds") {
    // a 256-vertex path is the worst case for plain min-label propagation
    // (255 rounds); pointer jumping must close it in logarithmic rounds
    val chain = (1L until 256L).map(i => (i, i + 1)).toDF("src", "dst")
    val (comp, propRounds, jumpRounds) =
      GraphAlgorithms.connectedComponentsRounds(chain)
    val labels = comp.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 256 && labels.forall(_._2 == 1L))
    assert(propRounds + jumpRounds <= 24,
      s"expected O(log D) rounds on a 255-hop chain, got prop=$propRounds jump=$jumpRounds")
  }

  test("degrees full-outer: sources, sinks, both") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val d = GraphAlgorithms.degrees(edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(d(1L) == ((0L, 2L))) // pure source
    assert(d(3L) == ((2L, 0L))) // pure sink
    assert(d(2L) == ((1L, 1L)))
  }

  test("triangle count on a triangle") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val t = GraphAlgorithms.triangleCount(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(t == Map(1L -> 1, 2L -> 1, 3L -> 1))
  }

  test("triangleCountDF: known counts, normalization, zero rows") {
    // two triangles sharing edge 2-3, plus a pendant 5 and duplicate /
    // reversed / self-loop noise the normalization must collapse
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),            // triangle A
      (2L, 4L), (4L, 3L),                       // triangle B shares 2-3
      (3L, 2L), (1L, 2L), (2L, 2L),             // reverse dup, dup, loop
      (4L, 5L)                                  // pendant — 0 triangles
    ).toDF("src", "dst")
    val t = GraphAlgorithms.triangleCountDF(edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(t == Map(
      1L -> ((2L, 1L)), 2L -> ((3L, 2L)), 3L -> ((3L, 2L)),
      4L -> ((3L, 1L)), 5L -> ((1L, 0L))))
  }

  test("personalizedPageRank: hand-computed 2-cycle, source-restricted teleport") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    // source 1, two iterations of the 10^-12 fixpoint:
    //   i1: pr1 = 0.15, pr2 = 0.85
    //   i2: pr1 = 0.15 + 0.85*0.85 = 0.8725, pr2 = 0.85*0.15 = 0.1275
    val p = GraphAlgorithms.personalizedPageRank(edges, Seq(1L), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p == Map(1L -> 0.8725, 2L -> 0.1275))
    // multi-source: teleport and initial mass land on both sources
    val p2 = GraphAlgorithms.personalizedPageRank(edges, Seq(1L, 2L), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p2 == Map(1L -> 1.0, 2L -> 1.0))
    // a vertex unreachable from the source holds rank exactly 0
    val p3 = GraphAlgorithms.personalizedPageRank(
      Seq((1L, 2L), (3L, 1L)).toDF("src", "dst"), Seq(1L), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p3(3L) == 0.0 && p3(1L) == 0.15 && p3(2L) > 0.0)
  }

  test("stressCentrality: diamond DAG, multi-source, parallel-edge collapse") {
    // 1->2, 1->3, 2->4, 3->4, 4->5 (diamond + tail), duplicated edge 1->2
    // must not double path counts (simple-graph sigma)
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    // from s=1: sigma = (1,1,1,2,2); tau = (6,2,2,1,0)
    //   stress: v2 = 1*2 = 2 (1-2-4, 1-2-4-5), v3 = 2, v4 = 2*1 = 2, v5 = 0
    val s1 = GraphAlgorithms.stressCentrality(edges, Seq(1L).toDF("id"), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s1 == Map(1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 5L -> 0L))
    // adding source 2 contributes one more path through 4 (2-4-5)
    val s12 = GraphAlgorithms.stressCentrality(edges, Seq(1L, 2L).toDF("id"), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s12 == Map(1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 3L, 5L -> 0L))
    // maxDepth truncation: depth 2 sees only paths of <= 2 hops from 1
    //   through v2/v3: only 1-2-4 / 1-3-4 -> stress 1 each; v4 interior
    //   needs 3 hops -> 0
    val d2 = GraphAlgorithms.stressCentrality(edges, Seq(1L).toDF("id"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 5L -> 0L))
  }

  test("edgeStressCentrality: per-edge counts, vertex consistency, truncation") {
    // same diamond + tail as the vertex spec (duplicate edge collapses)
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    // from s=1 (sigma = 1,1,1,2,2; tau = 6,2,2,1,0):
    //   e(u,v) = sigma_u * (1 + tau_v):
    //   1->2: 1*3 = 3 (paths ending at 2, at 4 via 2, at 5 via 2)
    //   1->3: 3, 2->4: 1*2 = 2, 3->4: 2, 4->5: 2*1 = 2
    val s1 = GraphAlgorithms.edgeStressCentrality(edges, Seq(1L).toDF("id"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(s1 == Map((1L, 2L) -> 3L, (1L, 3L) -> 3L, (2L, 4L) -> 2L,
      (3L, 4L) -> 2L, (4L, 5L) -> 2L))
    // in-edge sums vs the vertex sweep: sum of stress over v's in-edges =
    // vertex stress(v) + paths ENDING at v (sigma_v per reached v) — the
    // construction-level consistency the shared core guarantees
    // (v4: 2+2 = vertex 2 + ended 2; v5: 2 = 0 + 2)
    assert(s1((2L, 4L)) + s1((3L, 4L)) == 2L + 2L)
    assert(s1((4L, 5L)) == 0L + 2L)
    // second source 2 adds its own DAG: 2->4 (+2: ends at 4, at 5), 4->5 (+1)
    val s12 = GraphAlgorithms
      .edgeStressCentrality(edges, Seq(1L, 2L).toDF("id"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(s12 == Map((1L, 2L) -> 3L, (1L, 3L) -> 3L, (2L, 4L) -> 4L,
      (3L, 4L) -> 2L, (4L, 5L) -> 3L))
    // depth-1 truncation: only the source level's out-edges, count 1 each;
    // untraversed edges are OMITTED, not zero-filled
    val d1 = GraphAlgorithms.edgeStressCentrality(edges, Seq(1L).toDF("id"), 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(d1 == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L))
  }

  test("pivotStress: all-vertex pivots reproduce full stress; draw is deterministic") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    // nPivots >= |V|: the sample is every vertex, |V|/|S| = 1, so both
    // the per-pivot sum and the estimate must equal exact all-sources
    // stress — the estimator is exact at full sampling, Brandes–Pich §3
    val full = GraphAlgorithms.stressCentrality(edges,
        (1L to 5L).toDF("id"), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pv = GraphAlgorithms.pivotStress(edges, 10, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(pv.view.mapValues(_._1).toMap == full, pv.toString)
    assert(pv.forall { case (_, (st, est)) => st == est }, pv.toString)
    // a strict subset draw: deterministic (two runs identical) and the
    // estimate is exactly (stress * |V|) div |S| of its own sums
    val p2a = GraphAlgorithms.pivotStress(edges, 2, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val p2b = GraphAlgorithms.pivotStress(edges, 2, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(p2a == p2b)
    assert(p2a.forall { case (_, (st, est)) => est == st * 5L / 2L })
    // per-pivot sums never exceed the all-sources total
    assert(p2a.forall { case (id, (st, _)) => st <= full(id) })
    // the estimate's overflow guard (r15 ADVICE): in-domain,
    // try_multiply equals the plain product (pinned above — every est
    // matched stress * |V| div |S|); out-of-domain it yields NULL and
    // the raise_error arm fires loudly instead of a silent Long wrap
    val boom = intercept[Exception] {
      spark.sql("SELECT coalesce(try_multiply(9223372036854775807, 2), " +
        "CAST(raise_error('stress overflow') AS BIGINT)) AS v").collect()
    }
    assert(boom.getMessage.contains("stress overflow"), boom.getMessage)
  }

  test("betweennessCentrality: diamond DAG, hand-computed Brandes deltas") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    // from s=1: pair (1,4) splits 1/2 through each of v2/v3; pair (1,5)
    // adds 1/2 through each of v2/v3 and 1 through v4
    val b1 = GraphAlgorithms.betweennessCentrality(edges, Seq(1L).toDF("id"), 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b1 == Map(1L -> 0.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0, 5L -> 0.0))
    // source 2 adds one more unit through v4 (2-4-5); v2 as source of its
    // own sweep is an endpoint, not interior
    val b12 = GraphAlgorithms.betweennessCentrality(edges, Seq(1L, 2L).toDF("id"), 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(b12 == Map(1L -> 0.0, 2L -> 1.0, 3L -> 1.0, 4L -> 2.0, 5L -> 0.0))
  }

  test("pageRankWeighted: uniform weights = pageRankStable; weights steer mass") {
    import org.apache.spark.sql.functions._
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val stable = GraphAlgorithms.pageRankStable(edges, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val uni = GraphAlgorithms.pageRankWeighted(edges.withColumn("w", lit(1L)), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(stable == uni) // w=1 degenerates bit-exactly
    // 1 splits mass 9:1 between 2 and 3; one fixed-point iteration:
    // pr(2) = 0.15 + 0.85 * 0.9 = 0.915, pr(3) = 0.15 + 0.85 * 0.1 = 0.235
    val w = Seq((1L, 2L, 9L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val pr = GraphAlgorithms.pageRankWeighted(w, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(2L) == 0.915 && pr(3L) == 0.235 && pr(1L) == 0.15)
  }

  test("kTruss: support threshold, multi-round cascade, duplicate collapse") {
    import org.apache.spark.sql.functions._
    // two triangles sharing edge (2,3), plus a tail (4,5); duplicate and
    // reversed edges must collapse before support counting
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L)).toDF("src", "dst")
    def truss(k: Int) = GraphAlgorithms.kTruss(edges, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // k=3 (support >= 1): only the tail edge lacks a triangle
    assert(truss(3) == Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // k=4 (support >= 2): round 1 keeps only (2,3) (support 2), round 2
    // finds it support-less -> empty; the CASCADE is what this pins
    assert(truss(4) == Set.empty)
    // a 4-clique is a 4-truss: every edge closes 2 triangles
    val clique = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("src", "dst")
    assert(GraphAlgorithms.kTruss(clique, 4).count() == 6L)
  }

  test("katzIndex: hand-computed weights, multigraph mass, early-stop rescale") {
    // chain 1->2->3 plus shortcut 1->3: walks ending at 3 are
    // {1-3, 2-3} (len 1) and {1-2-3} (len 2); at 2 just {1-2}
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    def katz(maxLen: Int) = GraphAlgorithms.katzIndex(edges, maxLen, beta = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // L=3: weights 4^(3-l) = 16, 4, 1 -> v2 = 1*16, v3 = 2*16 + 1*4
    assert(katz(3) == Map(1L -> 0L, 2L -> 16L, 3L -> 36L))
    // L=4: the frontier dies at level 3, so the accumulator must be
    // rescaled by the remaining 4^1 — identical to a full-budget run
    assert(katz(4) == Map(1L -> 0L, 2L -> 64L, 3L -> 144L))
    // multigraph: a parallel 1->2 edge doubles every walk through it
    val dup = edges.unionByName(Seq((1L, 2L)).toDF("src", "dst"))
    val k = GraphAlgorithms.katzIndex(dup, 3, beta = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k == Map(1L -> 0L, 2L -> 32L, 3L -> 40L))
  }

  test("hashWalks: chain following, sink truncation, edge validity, determinism") {
    import graft.algorithms.RandomWalks
    // deterministic on a chain: the only neighbor is always chosen
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val w = RandomWalks.hashWalks(chain, Seq(1L).toDF("id"), steps = 5)
      .orderBy("step").collect().map(r => (r.getInt(2), r.getLong(3)))
    assert(w.toSeq == Seq((0, 1L), (1, 2L), (2, 3L))) // truncates at sink 3
    // branching graph: every consecutive pair must be a real edge, every
    // walk present, and the corpus identical across runs (zero RNG state)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L), (4L, 5L))
      .toDF("src", "dst")
    val edgeSet = Set((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L), (4L, 5L))
    def corpus() = RandomWalks
      .hashWalks(g, Seq(1L, 4L).toDF("id"), steps = 6, walksPerStart = 3)
      .orderBy("start_id", "walk", "step").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    val c1 = corpus()
    assert(c1 == corpus())
    assert(c1.map(t => (t._1, t._2)).distinct.size == 6) // 2 starts x 3 walks
    c1.groupBy(t => (t._1, t._2)).values.foreach { walk =>
      val sorted = walk.sortBy(_._3)
      assert(sorted.head._3 == 0 && sorted.head._4 == sorted.head._1)
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._3 == a._3 + 1, s"gap in steps: $sorted")
          assert(edgeSet((a._4, b._4)), s"non-edge hop ${a._4}->${b._4}")
        case _ =>
      }
    }
  }

  test("boruvkaMst: hand MST, Kruskal cross-check, duplicate/symmetric safety") {
    import graft.algorithms.GraphAlgorithms
    // two components: a weighted triangle (the MST must DROP the w=4
    // edge) and an isolated pair; a self-loop that must vanish
    val es = Seq((1L, 2L, 4L), (2L, 3L, 1L), (1L, 3L, 2L), (5L, 6L, 7L),
      (7L, 7L, 1L)).toDF("src", "dst", "w")
    def run(df: org.apache.spark.sql.DataFrame) =
      GraphAlgorithms.boruvkaMst(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val got = run(es)
    assert(got == Set((1L, 2L, 3L, 1L), (1L, 1L, 3L, 2L), (5L, 5L, 6L, 7L)),
      got.toString)
    // duplicate rows and symmetric (v,u) copies change nothing: the
    // tuple argmin is consistent and the forest dedups on the tuple
    val noisy = es.unionByName(
      Seq((2L, 1L, 4L), (3L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w"))
    assert(run(noisy) == got)
    // Kruskal cross-check on a hash-derived graph: under the SAME
    // (w, src, dst) total order all weights are tuple-distinct, so the
    // MSF is unique and greedy-by-weight must agree with hook-and-contract
    val rnd = for {
      u <- 1L to 24L; d <- Seq(1L, 2L, 5L)
      if u + d <= 24L && (u * 31 + d) % 3 != 0
    } yield (u, u + d, (u * 2654435761L + d * 40503L) % 225L + 1L)
    def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.sortBy(e => (e._3, e._1, e._2)).flatMap { case (u, v, w) =>
        val (ru, rv) = (find(u), find(v))
        if (ru == rv) None else { parent(ru max rv) = ru min rv; Some((u, v, w)) }
      }.toSet
    }
    val expect = kruskal(rnd)
    val gotRnd = run(rnd.toDF("src", "dst", "w"))
    assert(gotRnd.map(t => (t._2, t._3, t._4)) == expect,
      s"engine ${gotRnd.size} vs kruskal ${expect.size}")
    // component labels are the min vertex id of each tree (the CC min-id
    // convention carried through contraction)
    gotRnd.groupBy(_._1).foreach { case (c, rows) =>
      val verts = rows.flatMap(t => Seq(t._2, t._3))
      assert(verts.min == c, s"component $c labels $verts")
    }
    // maxRounds counts PICKING rounds only (r18 review): this path needs
    // exactly 2 picking rounds (the middle edge joins the two pairs in
    // round 2) plus the free empty detection round
    val path = Seq((1L, 2L, 1L), (2L, 3L, 5L), (3L, 4L, 2L))
      .toDF("src", "dst", "w")
    assert(run2(path, 2) ==
      Set((1L, 1L, 2L, 1L), (1L, 2L, 3L, 5L), (1L, 3L, 4L, 2L)))
    // the rejected call leaks NOTHING (r18 ADVICE): the round's sel,
    // the prior rounds' picked-edge checkpoints, the label relation,
    // and the edge relation are all released before the throw
    val exR = rejectsUnpinned[IllegalArgumentException](run2(path, 1))
    assert(exR.getMessage.contains("picking rounds"), exR.getMessage)
  }

  private def run2(df: org.apache.spark.sql.DataFrame, maxRounds: Int) =
    graft.algorithms.GraphAlgorithms.boruvkaMst(df, maxRounds).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("node2vecWalks: replica-argmin matches a driver replay; p/q extremes; guard") {
    import graft.algorithms.RandomWalks
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    // driver-side reference replay of the FULL biased draw: candidates
    // from the out-edge map, scaled integer weights by the node2vec rule,
    // weight-many hashed replicas, (h, dst) argmin
    def replay(edges: Set[(Long, Long)], starts: Seq[Long], steps: Int,
        walks: Int, p: Int, q: Int): Seq[(Long, Int, Int, Long)] = {
      val out = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted)
      val acc = scala.collection.mutable.ArrayBuffer[(Long, Int, Int, Long)]()
      for (s <- starts; w <- 1 to walks) {
        var prev = Option.empty[Long]
        var cur = s
        acc += ((s, w, 0, cur))
        var t = 0
        var live = true
        while (t < steps && live) {
          t += 1
          val cands = out.getOrElse(cur, Seq.empty)
          if (cands.isEmpty) live = false
          else {
            val picked = cands.flatMap { d =>
              val wt =
                if (prev.isEmpty) 1
                else if (d == prev.get) q
                else if (edges((prev.get, d))) p * q
                else p
              (1 to wt).map(r => ((h32(s"$s|$w|$t|$d|$r"), d), d))
            }.minBy(_._1)._2
            acc += ((s, w, t, picked))
            prev = Some(cur); cur = picked
          }
        }
      }
      acc.toSeq.sortBy(x => (x._1, x._2, x._3))
    }
    // hand graph with all three weight classes reachable: returns (2-cycle
    // 1<->2), a common-neighbor move (1->3 makes 2->3 distance-1 from
    // prev 1), and outward moves (2->4 is distance-2 from 1)
    val es = Set((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 2L), (4L, 5L), (3L, 1L))
    val g = es.toSeq.toDF("src", "dst")
    def engine(p: Int, q: Int) = RandomWalks
      .node2vecWalks(g, Seq(1L, 4L).toDF("id"), steps = 5,
        walksPerStart = 3, p = p, q = q)
      .orderBy("start_id", "walk", "step").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    // exact corpus equality at a mixed setting and at BOTH extremes the
    // bounded domain allows (p-heavy: returns damped 64x; q-heavy:
    // distance-2 moves damped 64x) — the replay recomputes every weight
    // class, so a misclassified candidate shifts some argmin
    for ((p, q) <- Seq((2, 3), (64, 1), (1, 64)))
      assert(engine(p, q) == replay(es, Seq(1L, 4L), 5, 3, p, q),
        s"corpus mismatch at p=$p q=$q")
    // weight classes actually differ across these settings somewhere in
    // the corpus (otherwise the three asserts test one draw three times)
    assert(Seq(engine(2, 3), engine(64, 1), engine(1, 64)).distinct.size > 1)
    // chain: single-candidate steps are bias-free; sink truncates
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val w = RandomWalks.node2vecWalks(chain, Seq(1L).toDF("id"), steps = 5,
        p = 4, q = 4)
      .orderBy("step").collect().map(r => (r.getInt(2), r.getLong(3)))
    assert(w.toSeq == Seq((0, 1L), (1, 2L), (2, 3L)))
    // the replica fan-out guard is loud
    val ex = intercept[IllegalArgumentException](
      RandomWalks.node2vecWalks(chain, Seq(1L).toDF("id"), 2, 1, 9, 9))
    assert(ex.getMessage.contains("p*q"), ex.getMessage)
  }

  test("doulionTriangles: full keep equals exact, coin deterministic, 8x scale") {
    // two triangles sharing vertex 3, plus a chord
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L), (1L, 4L)).toDF("src", "dst")
    val exact = GraphAlgorithms.triangleCountDF(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // keepPermille = 1000: every edge survives, the estimator is exact
    // with scale 1000^3 div 1000^3 = 1
    val full = GraphAlgorithms.doulionTriangles(edges, 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(full.map(t => (t._1, t._2, t._3)).toSet == exact)
    assert(full.forall(t => t._4 == t._3))
    // the h32 coin is a pure function of the canonical pair: two runs
    // sample identically, and every estimate is sampled * 8 at 500 permille
    def run() = GraphAlgorithms.doulionTriangles(edges, 500)
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val s1 = run()
    assert(s1 == run())
    assert(s1.forall(t => t._4 == t._3 * 8))
    val bad = intercept[IllegalArgumentException](
      GraphAlgorithms.doulionTriangles(edges, 0))
    assert(bad.getMessage.contains("keepPermille"))
    // the scale ratio is gcd-reduced BEFORE the guarded multiply (r16
    // ADVICE): full keep multiplies by 1 (a representable exact count can
    // never trip the overflow guard) and 500 permille by 8, never 10^9
    val planFull = GraphAlgorithms.doulionTriangles(edges, 1000)
      .queryExecution.analyzed.toString
    assert(!planFull.contains("1000000000"), planFull.take(500))
    assert(planFull.contains("count * 1 overflows"))
    val planHalf = GraphAlgorithms.doulionTriangles(edges, 500)
      .queryExecution.analyzed.toString
    assert(planHalf.contains("count * 8 overflows"))
  }

  test("triangleCountDF equals GraphX triangleCount on a generated graph") {
    val g = DataGenerator.uniform(spark, 150, 400, seed = 29)
    val e = g.allEdges.select($"src", $"dst")
    val viaDf = GraphAlgorithms.triangleCountDF(e)
      .select($"id", $"triangles")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // GraphX counts over the same canonicalized simple graph; it emits
    // vertices of the directed relation, ours emits vertices of the
    // undirected simple graph — identical sets once loops are dropped
    val viaGraphX = GraphAlgorithms.triangleCount(spark,
        e.where($"src" =!= $"dst"))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSet
    assert(viaDf == viaGraphX && viaDf.exists(_._2 > 0L))
  }

  test("kCore peels tails, keeps the dense core, bounds its rounds") {
    // K4 core {1,2,3,4} + a chain 4-5-6 hanging off it. k=2: the chain
    // peels over two rounds (6 first, then 5), the K4 survives; k=3: only
    // the K4 survives; k=4: nothing (K4 has min-degree 3).
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    def core(k: Int, layers: Int = 2) = {
      val (df, rounds) = GraphAlgorithms.kCoreRounds(edges, k, layersPerRound = layers)
      (df.collect().map(_.getLong(0)).toSet, rounds)
    }
    // multi-layer peel collapses the 6-then-5 tail into one materialized
    // round: 3 rounds at one layer each, 2 at the default two layers —
    // same core either way (the r5 burst-tolerance round-count drop)
    assert(core(2, layers = 1) == ((Set(1L, 2L, 3L, 4L), 3))) // peel 6, peel 5, confirm
    assert(core(2) == ((Set(1L, 2L, 3L, 4L), 2))) // peel 6+5, confirm
    assert(core(3)._1 == Set(1L, 2L, 3L, 4L))
    assert(core(4)._1 == Set.empty[Long])
    // every survivor keeps >= k distinct surviving neighbors (the k-core
    // invariant, independent of the peel schedule)
    val surv = core(2)._1
    val und = (k4 ++ Seq((4L, 5L), (5L, 6L))).flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val degs = und.filter { case (a, b) => surv(a) && surv(b) }
      .groupBy(_._1).map { case (_, es) => es.map(_._2).distinct.size }
    assert(degs.forall(_ >= 2))
  }

  test("kCore: duplicate edges and self-loops do not inflate degrees") {
    // 1-2 duplicated 3x plus self-loops: distinct-neighbor degree is 1,
    // so the 2-core is empty
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 1L), (2L, 2L)).toDF("src", "dst")
    assert(GraphAlgorithms.kCore(edges, 2).count() == 0)
    assert(GraphAlgorithms.kCore(edges, 1).count() == 2)
  }

  test("nodeSimilarity: exact Jaccard, hub filter, total order") {
    // a:{x,y}, b:{x,y}, c:{x,z} -> J(a,b)=1, J(a,c)=J(b,c)=1/3
    val edges = Seq(
      (1L, 10L), (1L, 11L),
      (2L, 10L), (2L, 11L),
      (3L, 10L), (3L, 12L)).toDF("src", "dst")
    val rows = GraphAlgorithms.nodeSimilarity(edges, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.head == ((1L, 2L, 2L, 1.0)))
    assert(rows.toList.drop(1) == List((1L, 3L, 1L, 1.0 / 3), (2L, 3L, 1L, 1.0 / 3)))
    // hub filter: neighbor 10 (in-degree 3) excluded -> degrees shrink with
    // it, so J(a,b) stays 1 on the {11} sets and c pairs with nobody
    val filtered = GraphAlgorithms.nodeSimilarity(edges, 10, maxNeighborInDegree = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(filtered.toList == List((1L, 2L, 1.0)))
  }

  test("labelPropagation: hand-computed rounds, tie-breaks, oscillation, loners") {
    // triangle {1,2,3} converges to label 1 by round 3; the isolated pair
    // {4,5} oscillates with period 2 (round 4 lands on swapped-back own
    // labels); a self-loop-only vertex {6} never receives a vote and keeps
    // its own label. All three behaviors are fixed by the deterministic
    // min-label tie-break + fixed budget.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (6L, 6L))
      .toDF("src", "dst")
    val l4 = GraphAlgorithms.labelPropagation(edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l4 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 6L))
    // round 1 alone: each triangle vertex adopts its smallest neighbor,
    // the pair swaps labels
    val l1 = GraphAlgorithms.labelPropagation(edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 4L, 6L -> 6L))
    // parallel edges vote once: duplicating 2->3 must not double 2's vote
    // on vertex 3 — 3's round-1 frequencies stay {1: 1, 2: 1}, and the tie
    // still breaks to label 1 (a multiplicity-counting bug would yield 2)
    val dup = edges.unionByName(Seq((2L, 3L), (3L, 2L)).toDF("src", "dst"))
    val d1 = GraphAlgorithms.labelPropagation(dup, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1(3L) == 1L && d1(1L) == 2L)
  }

  test("pageRank: sink of a star ranks highest") {
    // 1..5 all point at 6
    val edges = (1L to 5L).map(i => (i, 6L)).toDF("src", "dst")
    val pr = GraphAlgorithms.pageRank(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(6L) > pr(1L))
  }

  test("scc: cycles, bridge, tail, self-loop-only vertex") {
    // cycle {1,2,3} -> bridge -> cycle {5,6} -> tail 7; 9 has only a
    // self-loop (still a singleton SCC, must not vanish from the output)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 5L), (5L, 6L), (6L, 5L), (6L, 7L),
      (9L, 9L)).toDF("src", "dst")
    val scc = GraphAlgorithms.stronglyConnectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 9L -> 9L))
  }

  test("scc: a DAG is all singletons (trim resolves everything)") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val scc = GraphAlgorithms.stronglyConnectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("scc: cycle colored from outside resolves in a later round") {
    // the 2-cycle {0,1} reaches the 3-cycle {2,3,4}; NOTHING trims (every
    // vertex keeps live in- and out-edges), round 1's forward coloring
    // paints the whole graph color 0 and sweeps only SCC(0)={0,1}; the
    // downstream cycle must come back as its own SCC in a LATER round —
    // this is the re-color-after-partial-sweep path
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L),
      (2L, 3L), (3L, 4L), (4L, 2L)).toDF("src", "dst")
    val scc = GraphAlgorithms.stronglyConnectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scc == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("scc equals GraphX SCC labels on the referral digraph") {
    import org.apache.spark.sql.functions._
    val n = 120L
    val ks = (1L to n).toDF("k")
    def ref(mul: Long) = ks.select(col("k").as("src"),
      (lit(1L) + (col("k") * mul) % n).as("dst"))
    val edges = ref(48271L).unionByName(ref(16807L))
      .where(col("src") =!= col("dst"))
    val viaDf = GraphAlgorithms.stronglyConnectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaGraphX = {
      import org.apache.spark.graphx._
      val er = edges.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }
      Graph.fromEdges(er, 0).stronglyConnectedComponents(50).vertices
        .map { case (id, c) => (id.toLong, c.toLong) }.collect().toSet
    }
    assert(viaDf == viaGraphX && viaDf.nonEmpty)
    // layer collapse is an execution-shape knob, not a semantic one
    val oneLayer = GraphAlgorithms
      .stronglyConnectedComponents(edges, layersPerRound = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneLayer == viaDf)
    // past the broadcast ceiling every join degrades to shuffle-hash —
    // the plan a |V|-scale graph takes — with the identical partition
    val viaShuffle = GraphAlgorithms
      .stronglyConnectedComponents(edges, broadcastCeiling = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaShuffle == viaDf)
  }

  test("maximalIndependentSet: independence, maximality, determinism") {
    import org.apache.spark.sql.functions.col
    val g = graft.tools.DataGenerator.uniform(spark, 80, 200, seed = 11)
    val e = g.allEdges.select(col("src"), col("dst"))
    val (misDf, rounds) = GraphAlgorithms.misRounds(e)
    val mis = misDf.collect().map(_.getLong(0)).toSet
    assert(mis.nonEmpty && rounds <= 16, s"rounds=$rounds")
    val raw = e.collect().map(r => (r.getLong(0), r.getLong(1)))
    val und = raw.flatMap(p => Seq(p, p.swap)).filter(p => p._1 != p._2)
    // independence: no two members adjacent
    assert(und.forall { case (a, b) => !(mis(a) && mis(b)) })
    // maximality: every vertex is a member or has a member neighbor
    val verts = raw.flatMap(p => Seq(p._1, p._2)).toSet
    val nbrs = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(verts.forall(v => mis(v) || nbrs.getOrElse(v, Set.empty[Long]).exists(mis)))
    // pure function of the graph: partitioning cannot change the set
    val mis2 = GraphAlgorithms.maximalIndependentSet(e.repartition(7))
      .collect().map(_.getLong(0)).toSet
    assert(mis2 == mis)
    // a self-loop-only vertex is isolated under simple-graph normalization
    val e2 = Seq((1L, 2L), (9L, 9L)).toDF("src", "dst")
    val m2 = GraphAlgorithms.maximalIndependentSet(e2)
      .collect().map(_.getLong(0)).toSet
    assert(m2.contains(9L) && (m2 & Set(1L, 2L)).size == 1)
  }

  test("linkPrediction: square diagonals, hub-cap center exclusion") {
    // square 1-2-3-4: only the diagonals are non-adjacent, each sharing
    // both of the other two vertices
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val top = GraphAlgorithms.linkPrediction(sq, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(top.toSeq == Seq((1L, 3L, 2L, 4L, 2L), (2L, 4L, 2L, 4L, 2L)))
    // star 1-(2,3,4,5): uncapped, the center wedges all C(4,2) leaf pairs;
    // with maxDegree=2 the center is excluded as a wedge center and no
    // candidate pair survives
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val full = GraphAlgorithms.linkPrediction(star, 10).collect()
    assert(full.length == 6 && full.forall(r => r.getLong(2) == 1L))
    assert(GraphAlgorithms.linkPrediction(star, 10, maxDegree = 2).isEmpty)
  }

  test("adamicAdar: hand-computed square + path scores, hub cap") {
    // square 1-2-3-4: diagonals (1,3) and (2,4) each share two degree-2
    // neighbors -> score = 2/ln(2); common carried alongside
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val top = GraphAlgorithms.adamicAdar(sq, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(top.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1L, 3L, 2L), (2L, 4L, 2L)))
    top.foreach(t => assert(math.abs(t._4 - 2.0 / math.log(2.0)) < 1e-12))
    // path 1-2-3-4-5: (1,3)/(2,4)/(3,5) share one center; the middle
    // center 3 has degree 2 for pair (2,4) -> 1/ln(2); ends' centers 2 and
    // 4 also degree 2. All three pairs score 1/ln(2); ordering falls back
    // to (a, b)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val p = GraphAlgorithms.adamicAdar(path, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(p.map(t => (t._1, t._2)).toSeq == Seq((1L, 3L), (2L, 4L), (3L, 5L)))
    p.foreach(t => assert(math.abs(t._3 - 1.0 / math.log(2.0)) < 1e-12))
    // hub cap: star center excluded as wedge center -> no candidates
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    assert(GraphAlgorithms.adamicAdar(star, 10, maxDegree = 2).isEmpty)
    // uncapped star: leaf pairs share the degree-4 hub -> 1/ln(4)
    val s = GraphAlgorithms.adamicAdar(star, 10).collect()
    assert(s.length == 6)
    s.foreach(r => assert(math.abs(r.getDouble(3) - 1.0 / math.log(4.0)) < 1e-12))
  }

  test("adamicAdarInvariants: exact integer wedge invariants + ordering") {
    // square 1-2-3-4: diagonals share two degree-2 centers ->
    // (common, sum_cdeg, sum_cdeg_sq) = (2, 4, 8); tie falls to (a, b)
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val top = GraphAlgorithms.adamicAdarInvariants(sq, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(top.toSeq == Seq((1L, 3L, 2L, 4L, 8L), (2L, 4L, 2L, 4L, 8L)))
    // star center degree 4: each leaf pair -> (1, 4, 16); capped -> empty
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("src", "dst")
    val s = GraphAlgorithms.adamicAdarInvariants(star, 10).collect()
    assert(s.length == 6)
    s.foreach(r => assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((1L, 4L, 16L))))
    assert(GraphAlgorithms.adamicAdarInvariants(star, 10, maxDegree = 2).isEmpty)
    // ordering: lower-degree centers rank first within equal common —
    // path pair (1,3) (center degree 2) precedes star pairs (degree 3)
    val mixed = (Seq((1L, 2L), (2L, 3L)) ++
      Seq((5L, 6L), (5L, 7L), (5L, 8L))).toDF("src", "dst")
    val m = GraphAlgorithms.adamicAdarInvariants(mixed, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(m.head == ((1L, 3L)))
  }

  test("GraphStore save/load roundtrip preserves tables and queries") {
    val g = DataGenerator.grid(spark, 4, 4)
    val dir = java.nio.file.Files.createTempDirectory("store").toString
    g.save(dir)
    val g2 = GraphStore.load(spark, dir)
    assert(g2.vertexLabels == Seq("GridNode"))
    assert(g2.edgeLabels == Seq("CONNECTED"))
    assert(g2.vertices("GridNode").count() == 16)
    assert(g2.edges("CONNECTED").count() == g.edges("CONNECTED").count())
    // still queryable through Cypher after reload
    val sess = new graft.cypher.CypherSession(spark, g2)
    val n = sess.run("MATCH (a:GridNode)-[:CONNECTED]->(b) RETURN count(*) AS n")
      .collect()(0).getLong(0)
    assert(n == 24) // 4x4 grid: 12 right + 12 down
  }

  test("temporal earliest arrival: time-respecting only, departure-gated") {
    import graft.algorithms.TemporalGraph
    def arrivals(sources: Seq[(Long, Long)]): Map[Long, Long] = {
      val e = Seq(
        (1L, 2L, 5L),  // usable from t<=5
        (2L, 3L, 3L),  // arrives at 2 no earlier than 5 -> NOT usable
        (2L, 3L, 9L),
        (1L, 3L, 20L), // direct but late
        (4L, 5L, 1L),
        (3L, 3L, 50L)) // self-loop: never relaxes anything
        .toDF("src", "dst", "t")
      TemporalGraph.earliestArrival(e, sources.toDF("id", "t0"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // the 2-hop route (arrive 2@5, depart 9) beats the direct t=20 edge
    assert(arrivals(Seq((1L, 0L))) == Map(1L -> 0L, 2L -> 5L, 3L -> 9L))
    // a later departure closes the early edge: only the t=20 route remains
    assert(arrivals(Seq((1L, 6L))) == Map(1L -> 6L, 3L -> 20L))
    // multi-source: each source seeds its own component
    assert(arrivals(Seq((1L, 0L), (4L, 0L))) ==
      Map(1L -> 0L, 2L -> 5L, 3L -> 9L, 4L -> 0L, 5L -> 1L))
    // unreachable component stays absent entirely
    assert(!arrivals(Seq((1L, 0L))).contains(5L))
  }

  test("temporal latest departure: deadline-gated mirror of earliest arrival") {
    import graft.algorithms.TemporalGraph
    def departs(targets: Seq[(Long, Long)]): Map[Long, Long] = {
      val e = Seq(
        (1L, 2L, 5L),
        (2L, 3L, 3L),
        (2L, 3L, 9L),
        (1L, 3L, 20L),
        (4L, 5L, 1L),
        (3L, 3L, 50L)) // self-loop: never relaxes anything
        .toDF("src", "dst", "t")
      TemporalGraph.latestDeparture(e, targets.toDF("id", "deadline"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // generous deadline: the direct t=20 edge beats routing via 2 (dep 5)
    assert(departs(Seq((3L, 100L))) == Map(3L -> 100L, 2L -> 9L, 1L -> 20L))
    // deadline 15 closes the direct edge: only depart-5-via-2 remains
    assert(departs(Seq((3L, 15L))) == Map(3L -> 15L, 2L -> 9L, 1L -> 5L))
    // deadline 8 forces the t=3 hop at vertex 2, stranding vertex 1
    assert(departs(Seq((3L, 8L))) == Map(3L -> 8L, 2L -> 3L))
    // multi-target, per-target deadlines
    assert(departs(Seq((3L, 15L), (5L, 2L))) ==
      Map(3L -> 15L, 2L -> 9L, 1L -> 5L, 5L -> 2L, 4L -> 1L))
  }

  test("temporal k-reachability: hop cap, deadline gate, per-target mirror") {
    import graft.algorithms.TemporalGraph
    val e = Seq(
      (1L, 2L, 10L),
      (2L, 3L, 5L),  // closed: arrival at 2 is 10 > 5
      (2L, 3L, 20L),
      (1L, 3L, 50L),
      (3L, 4L, 60L)).toDF("src", "dst", "t")
    def reach(srcs: Seq[(Long, Long, Long)], k: Int): Map[Long, Long] =
      TemporalGraph.kReachableCounts(e, srcs.toDF("sid", "t0", "deadline"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k=1 from 1: {1@0, 2@10, 3@50}
    assert(reach(Seq((1L, 0L, 100L)), 1) == Map(1L -> 3L))
    // k=2 adds 4 via 1->3@50 ->4@60; 3's arrival improves to 20
    assert(reach(Seq((1L, 0L, 100L)), 2) == Map(1L -> 4L))
    // deadline 30 at k=2 drops 4 (arrives 60): {1@0, 2@10, 3@20}
    assert(reach(Seq((1L, 0L, 30L)), 2) == Map(1L -> 3L))
    // t0 after every edge: only the source itself makes its deadline
    assert(reach(Seq((1L, 70L, 100L)), 3) == Map(1L -> 1L))
    // t0 past the deadline: zero, but the source still rows out
    assert(reach(Seq((1L, 70L, 60L)), 2) == Map(1L -> 0L))
    // multi-source shared sweep: per-source counts stay independent
    assert(reach(Seq((1L, 0L, 100L), (3L, 0L, 100L)), 2) ==
      Map(1L -> 4L, 3L -> 2L))
    // per-target mirror via negate-reverse: who reaches 4 by 60 from
    // floor 0 — everyone within 3 hops, only {3, 4} within 1
    def reaching(tgts: Seq[(Long, Long, Long)], k: Int): Map[Long, Long] =
      TemporalGraph.kReachingCounts(e, tgts.toDF("tid", "deadline", "floor"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reaching(Seq((4L, 60L, 0L)), 3) == Map(4L -> 4L))
    assert(reaching(Seq((4L, 60L, 0L)), 1) == Map(4L -> 2L))
    // floor above every viable departure: only the target itself
    assert(reaching(Seq((4L, 60L, 55L)), 3) == Map(4L -> 2L)) // 3 departs 60
  }

  test("temporal fastest durations: later departure beats earliest arrival") {
    import graft.algorithms.TemporalGraph
    val e = Seq(
      (1L, 2L, 2L), (2L, 4L, 20L),   // dep 2, arrive 4 @20 -> duration 18
      (1L, 3L, 10L), (3L, 4L, 25L),  // dep 10, arrive 4 @25 -> duration 15
      (4L, 5L, 30L),                 // open from either route
      (7L, 8L, 1L),                  // disconnected component
      (2L, 2L, 6L))                  // self-loop: inert, not a departure
      .toDF("src", "dst", "t")
    def fastest(sids: Seq[Long]): Map[(Long, Long), Long] =
      TemporalGraph.fastestDurations(e, sids.toDF("sid"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // earliest arrival at 4 is 20 (via the dep-2 route, duration 18); the
    // fastest journey departs later and arrives later: duration 15
    assert(fastest(Seq(1L)) == Map(
      (1L, 1L) -> 0L, (1L, 2L) -> 0L, (1L, 3L) -> 0L,
      (1L, 4L) -> 15L,
      // 5 via dep 10: arr(4)=25 <= 30, duration 30-10=20 beats 30-2=28
      (1L, 5L) -> 20L))
    // multi-source keyed sweep stays per-source
    assert(fastest(Seq(1L, 7L)).view.filterKeys(_._1 == 7L).toMap ==
      Map((7L, 7L) -> 0L, (7L, 8L) -> 0L))
    // a source with no (non-self-loop) out-edges is absent entirely
    assert(fastest(Seq(5L)).isEmpty)
    // closeness digest: the read-off excludes the source's own 0-row and
    // sums the fastest durations; a source reaching nothing rows out
    // absent (5 has no out-edges)
    val cl = TemporalGraph.temporalCloseness(e, Seq(1L, 5L).toDF("sid"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cl == Map(1L -> ((4L, 35L))))
    // the no-fixpoint failure path must release every checkpoint it
    // created — the edge relation and the in-flight round state (r12
    // ADVICE): persistent-RDD count returns to its pre-call baseline
    val ex = rejectsUnpinned[IllegalArgumentException] {
      TemporalGraph.fastestDurations(e, Seq(1L).toDF("sid"), maxHops = 1)
    }
    assert(ex.getMessage.contains("no fixpoint"))
  }

  test("temporal weighted durations: travel time trades off against waiting") {
    import graft.algorithms.TemporalGraph
    // 1-[t0,w10]->2-[t10,w1]->4 vs 1-[t5,w1]->3-[t7,w2]->4: the slow
    // direct-ish route arrives 11, the late-departing light route 9
    val e = Seq(
      (1L, 2L, 0L, 10L), (2L, 4L, 10L, 1L),
      (1L, 3L, 5L, 1L), (3L, 4L, 7L, 2L))
      .toDF("src", "dst", "t", "w")
    val got = TemporalGraph.fastestDurationsWeighted(e, Seq(1L).toDF("sid"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // dep 5 reaches 3 at 6 (duration 1) and 4 at 9 (duration 4); dep 0
    // reaches 2 at 10 (duration 10) — waiting for the later departure
    // beats the earliest-arrival route's duration
    assert(got == Map(1L -> 0L, 2L -> 10L, 3L -> 1L, 4L -> 4L))
    // w = 0 reduces to the instantaneous sweep bit for bit
    val e0 = Seq((1L, 2L, 2L), (2L, 4L, 20L), (1L, 3L, 10L), (3L, 4L, 25L))
      .toDF("src", "dst", "t")
    val a = TemporalGraph.fastestDurations(e0, Seq(1L).toDF("sid"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val b = TemporalGraph.fastestDurationsWeighted(
        e0.withColumn("w", org.apache.spark.sql.functions.lit(0L)),
        Seq(1L).toDF("sid"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
    // negative travel times are rejected loudly
    val bad = Seq((1L, 2L, 0L, -1L)).toDF("src", "dst", "t", "w")
    val ex = intercept[IllegalArgumentException] {
      TemporalGraph.fastestDurationsWeighted(bad, Seq(1L).toDF("sid")).count()
    }
    assert(ex.getMessage.contains("negative travel time"))
    // the guard itself releases the edge checkpoint it reads before
    // rethrowing (r13 ADVICE — the failure-path leak class), and NULL
    // travel times are named loudly instead of spinning to maxHops on
    // NULL arrivals that min()-based checks would wave through
    val nullW = Seq((1L, 2L, 0L, Some(1L)), (2L, 3L, 1L, None))
      .toDF("src", "dst", "t", "w")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val exNeg = intercept[IllegalArgumentException] {
      TemporalGraph.fastestDurationsWeighted(bad, Seq(1L).toDF("sid")).count()
    }
    assert(exNeg.getMessage.contains("negative travel time"))
    val exNull = intercept[IllegalArgumentException] {
      TemporalGraph.fastestDurationsWeighted(nullW, Seq(1L).toDF("sid")).count()
    }
    assert(exNull.getMessage.contains("NULL t or w"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"guard failure path leaked checkpoints: $leaked")
  }

  test("temporal stress: hop-minimal journeys ride non-minimal prefixes") {
    import graft.algorithms.TemporalGraph
    // d(3) = 1 via the direct t=10 edge, but the ONLY journey to 4 rides
    // the 2-hop prefix 1->2->3 (arrives 2 <= 5; the direct arrival 10
    // misses the t=5 edge) — the static Brandes prefix property fails
    // here, and the state-DAG sweeps must still count through 2 and 3
    val e = Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 10L), (3L, 4L, 5L),
      (9L, 9L, 1L)) // self-loop: inert, and 9 leaves the vertex relation
      .toDF("src", "dst", "t")
    def stress(edges: org.apache.spark.sql.DataFrame, k: Int,
        srcs: Seq[(Long, Long)] = Seq((1L, 0L))): Map[Long, Long] =
      TemporalGraph.temporalStress(edges, srcs.toDF("sid", "t0"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stress(e, 4) == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    // the hop cap is the contract: k=2 leaves 4 out of scope entirely
    assert(stress(e, 2) == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    // a second early 1->2 edge doubles every journey to 4: sigma
    // multiplicities flow through both interior vertices
    val e2 = e.unionByName(Seq((1L, 2L, 0L)).toDF("src", "dst", "t"))
    assert(stress(e2, 4) == Map(1L -> 0L, 2L -> 2L, 3L -> 2L, 4L -> 0L))
    // duplicate edge rows collapse — counting must not multiply by
    // storage multiplicity
    assert(stress(e.unionByName(e), 4) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    // multi-source: source 3 at t0=0 reaches 4 directly (no interiors),
    // so the combined counts equal source 1's alone
    assert(stress(e, 4, Seq((1L, 0L), (3L, 0L))) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    // a sid seeded at two t0 values would pool journey counts across
    // start times — rejected loudly
    val exDup = intercept[IllegalArgumentException] {
      TemporalGraph.temporalStress(e,
        Seq((1L, 0L), (1L, 5L)).toDF("sid", "t0"), 4)
    }
    assert(exDup.getMessage.contains("multiple t0"))
    // internal checkpoints (edge relation, levels, taus) are released on
    // success — only the returned relation's block survives
    val base = spark.sparkContext.getPersistentRDDs.keySet
    val out = TemporalGraph.temporalStress(e, Seq((1L, 0L)).toDF("sid", "t0"), 4)
    out.count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- base
    assert(leaked == graft.util.Checkpoints.idsOf(out),
      s"temporalStress left more than its result: $leaked")
    graft.util.Checkpoints.release(spark, leaked)
  }

  test("temporalPivotStress: full sampling equals exact per-source-t0 sweeps") {
    import graft.algorithms.TemporalGraph
    val e = Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 10L), (3L, 4L, 5L),
      (9L, 9L, 1L)).toDF("src", "dst", "t")
    // nPivots >= n_src: every source drawn at its own min-t seed, and
    // n_src/|S| = 1 — the estimate coincides with the exact sum.
    // Sources {1,2,3,9} (9 only via its inert self-loop): src 1 credits
    // 2 and 3 on the forced 3-hop journey to 4; src 2 credits 3 on
    // 2->3->4; src 3 and 9 credit nothing.
    val full = TemporalGraph.temporalPivotStress(e, 10, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(full == Map(1L -> ((0L, 0L)), 2L -> ((1L, 1L)),
      3L -> ((2L, 2L)), 4L -> ((0L, 0L))), full.toString)
    // a strict subset draw: deterministic, estimate exactly
    // (stress * n_src) div |S| of its own sums, never above full + scale
    val p2a = TemporalGraph.temporalPivotStress(e, 2, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val p2b = TemporalGraph.temporalPivotStress(e, 2, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(p2a == p2b)
    assert(p2a.forall { case (_, (st, est)) => est == st * 4L / 2L })
    assert(p2a.forall { case (id, (st, _)) => st <= full(id)._1 })
  }

  test("temporal stress cross-validates against brute-force journey enumeration") {
    import graft.algorithms.TemporalGraph
    // seeded random temporal digraphs, small enough to enumerate EVERY
    // journey up to the hop cap on the driver — the independent
    // implementation the sweeps must agree with (the g25 pedigree)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val n = 6
      val edges = (1 to 16).map { _ =>
        (rnd.nextInt(n) + 1L, rnd.nextInt(n) + 1L, rnd.nextInt(6).toLong)
      }.filter(e => e._1 != e._2).distinct
      val k = 4
      val srcs = Seq((1L, 0L), (2L, 0L))
      val adj = edges.groupBy(_._1)
      val expect = collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((s, t0) <- srcs) {
        // every journey = vertex path + arrival chain; hop-minimal per
        // TARGET, interior slots are positions 1..h-1, v = s excluded
        // (endpoint of the pair), v = target-at-an-earlier-hop counts
        val journeys = collection.mutable.ArrayBuffer[Vector[Long]]()
        def dfs(path: Vector[Long], arr: Long): Unit = {
          if (path.length > 1) journeys += path
          if (path.length <= k)
            adj.getOrElse(path.last, Nil).foreach { case (_, w, t) =>
              if (t >= arr) dfs(path :+ w, t)
            }
        }
        dfs(Vector(s), t0)
        // journeys returning to the source are not centrality pairs —
        // the operator's d(s, s) = 0 seed convention excludes them
        val dmap = journeys.groupBy(_.last)
          .map { case (t, js) => t -> js.map(_.length - 1).min }
        for (p <- journeys if p.last != s && dmap(p.last) == p.length - 1)
          p.slice(1, p.length - 1).foreach(v => if (v != s) expect(v) += 1L)
      }
      val got = TemporalGraph
        .temporalStress(edges.toDF("src", "dst", "t"), srcs.toDF("sid", "t0"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val verts = edges.flatMap(e => Seq(e._1, e._2)).toSet
      assert(got.keySet == verts)
      verts.foreach { v =>
        assert(got(v) == expect(v),
          s"stress($v): sweep ${got(v)} != brute ${expect(v)} on $edges")
      }
    }
  }

  test("temporal betweenness: hand-computed deltas, sigma-ratio normalization") {
    import graft.algorithms.TemporalGraph
    def bc(edges: org.apache.spark.sql.DataFrame, k: Int,
        srcs: Seq[(Long, Long)] = Seq((1L, 0L))): Map[Long, Double] =
      TemporalGraph.temporalBetweenness(edges, srcs.toDF("sid", "t0"), k)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the non-minimal-prefix graph (g48's): the only journey to 4 rides
    // the 2-hop detour, pair (1,4) credits 2 and 3 fully (sigma = 1);
    // pair (1,3)'s minimal journey is the direct edge — no interior
    val e = Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 10L), (3L, 4L, 5L))
      .toDF("src", "dst", "t")
    assert(bc(e, 4) == Map(1L -> 0.0, 2L -> 1.0, 3L -> 1.0, 4L -> 0.0))
    // doubling the 1->2 edge doubles sigma AND sigma_st — the ratio
    // stays 1.0 where the exact stress twin doubles to 2 (the
    // normalization the FP member exists for)
    val e2 = e.unionByName(Seq((1L, 2L, 0L)).toDF("src", "dst", "t"))
    assert(bc(e2, 4) == Map(1L -> 0.0, 2L -> 1.0, 3L -> 1.0, 4L -> 0.0))
    // a genuine split: two disjoint 2-hop routes to 4 — each interior
    // carries exactly half of pair (1,4)
    val split = Seq((1L, 2L, 1L), (1L, 5L, 1L), (2L, 4L, 2L), (5L, 4L, 2L))
      .toDF("src", "dst", "t")
    assert(bc(split, 4) ==
      Map(1L -> 0.0, 2L -> 0.5, 4L -> 0.0, 5L -> 0.5))
    // internal checkpoints released on success (the g48 hygiene)
    val base = spark.sparkContext.getPersistentRDDs.keySet
    val out = TemporalGraph.temporalBetweenness(e,
      Seq((1L, 0L)).toDF("sid", "t0"), 4)
    out.count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- base
    assert(leaked == graft.util.Checkpoints.idsOf(out),
      s"temporalBetweenness left more than its result: $leaked")
    graft.util.Checkpoints.release(spark, leaked)
  }

  test("temporal betweenness cross-validates against brute-force journey enumeration") {
    import graft.algorithms.TemporalGraph
    // the g48 enumerator with sigma-ratio credit: each minimal journey
    // to t contributes 1/sigma_st per interior visit
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 5) {
      val n = 6
      val edges = (1 to 16).map { _ =>
        (rnd.nextInt(n) + 1L, rnd.nextInt(n) + 1L, rnd.nextInt(6).toLong)
      }.filter(e => e._1 != e._2).distinct
      val k = 4
      val srcs = Seq((1L, 0L), (2L, 0L))
      val adj = edges.groupBy(_._1)
      val expect = collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for ((s, t0) <- srcs) {
        val journeys = collection.mutable.ArrayBuffer[Vector[Long]]()
        def dfs(path: Vector[Long], arr: Long): Unit = {
          if (path.length > 1) journeys += path
          if (path.length <= k)
            adj.getOrElse(path.last, Nil).foreach { case (_, w, t) =>
              if (t >= arr) dfs(path :+ w, t)
            }
        }
        dfs(Vector(s), t0)
        val dmap = journeys.groupBy(_.last)
          .map { case (t, js) => t -> js.map(_.length - 1).min }
        val minimal = journeys
          .filter(p => p.last != s && dmap(p.last) == p.length - 1)
        val sigmaSt = minimal.groupBy(_.last).map { case (t, js) => t -> js.size }
        for (p <- minimal)
          p.slice(1, p.length - 1).foreach(v =>
            if (v != s) expect(v) += 1.0 / sigmaSt(p.last))
      }
      val got = TemporalGraph
        .temporalBetweenness(edges.toDF("src", "dst", "t"),
          srcs.toDF("sid", "t0"), k)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val verts = edges.flatMap(e => Seq(e._1, e._2)).toSet
      assert(got.keySet == verts)
      verts.foreach { v =>
        assert(math.abs(got(v) - expect(v)) < 1e-9,
          s"bc($v): sweep ${got(v)} != brute ${expect(v)} on $edges")
      }
    }
  }

  test("temporal fewest hops: late direct edge beats early two-hop detour") {
    import graft.algorithms.TemporalGraph
    val e = Seq(
      (1L, 4L, 100L),              // direct but late: 1 hop
      (1L, 2L, 1L), (2L, 4L, 2L),  // early detour: 2 hops, better arrival
      (4L, 5L, 150L),              // open from the late arrival too
      (9L, 9L, 5L))                // self-loop: inert
      .toDF("src", "dst", "t")
    def hops(k: Int): Map[Long, Long] =
      TemporalGraph.fewestHops(e, Seq((1L, 0L)).toDF("sid", "t0"), k)
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // 4 is FIRST seen at round 1 (via t=100); the round-2 arrival
    // improvement to t=2 must not revise its hop count
    assert(hops(8) == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 5L -> 2L))
    // the hop cap truncates the sweep
    assert(hops(1) == Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
    // a time-infeasible start (t0 above every edge) reaches nothing
    assert(TemporalGraph.fewestHops(e, Seq((1L, 500L)).toDF("sid", "t0"), 8)
      .collect().map(r => r.getLong(1)).toSeq == Seq(1L))
  }

  test("neighborhood function matches a register-level replica; fixpoint repeats") {
    // pure-Scala replica of the integer-pure sketch (same md5-prefix h32)
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    def reg(id: Long): (Long, Long) = {
      val x = h32(s"anf|$id"); val y = x / 16 + 1; (x % 16, y & -y)
    }
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    val balls: Map[Int, Map[Long, Set[Long]]] = Map(
      0 -> Map(1L -> Set(1L), 2L -> Set(2L), 3L -> Set(3L),
        7L -> Set(7L), 8L -> Set(8L)),
      1 -> Map(1L -> Set(1L, 2L), 2L -> Set(2L, 3L), 3L -> Set(3L),
        7L -> Set(7L, 8L), 8L -> Set(8L)),
      2 -> Map(1L -> Set(1L, 2L, 3L), 2L -> Set(2L, 3L), 3L -> Set(3L),
        7L -> Set(7L, 8L), 8L -> Set(8L)))
    def digestOf(h: Int): (Long, Long, Long) = {
      val perVertex = balls(h).values.map { ball =>
        val regs = ball.toSeq.map(reg).groupBy(_._1)
          .map { case (j, vs) => j -> vs.map(_._2).max }
        val harm = regs.values.map(4294967296L / _).sum +
          (16 - regs.size) * 4294967296L
        (regs.size.toLong, regs.values.sum,
          (172288L * 4294967296L) / (1000L * harm))
      }
      (perVertex.map(_._1).sum, perVertex.map(_._2).sum, perVertex.map(_._3).sum)
    }
    val got = GraphAlgorithms.neighborhoodFunction(edges, 3)
      .collect()
      .map(r => r.getLong(0).toInt ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(0, 1, 2, 3))
    for (h <- 0 to 2) assert(got(h) == digestOf(h), s"radius $h")
    // both components have eccentricity <= 2: radius 3 repeats the fixpoint
    assert(got(3) == got(2))
    // estimates are monotone in the radius (balls only grow)
    assert(got(0)._3 <= got(1)._3 && got(1)._3 <= got(2)._3)
  }

  test("assortativity invariants and coefficient on hand graphs") {
    // 4-cycle-ish digraph: per-edge (outdeg(src), indeg(dst)) pairs are
    // (2,1),(2,2),(1,2),(1,1) -> moments m=4 sx=sy=6 sxy=9 sxx=syy=10,
    // numerator 4*9-36 = 0 -> r = 0 exactly
    val e1 = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r1 = GraphAlgorithms.assortativityInvariants(e1).head()
    assert((0 until 6).map(r1.getLong) == Seq(4L, 6L, 6L, 9L, 10L, 10L))
    assert(GraphAlgorithms.degreeAssortativity(e1) == 0.0)
    // disassortative hand case: pairs (2,1),(2,2),(1,2) -> r = -1/2;
    // a self-loop must not perturb any moment
    val e2 = Seq((1L, 2L), (1L, 3L), (4L, 3L), (2L, 2L)).toDF("src", "dst")
    val r2 = GraphAlgorithms.assortativityInvariants(e2).head()
    assert((0 until 6).map(r2.getLong) == Seq(3L, 5L, 5L, 8L, 9L, 9L))
    assert(math.abs(GraphAlgorithms.degreeAssortativity(e2) + 0.5) < 1e-12)
    // constant marginals have zero variance -> correlation undefined
    val e3 = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    assert(GraphAlgorithms.degreeAssortativity(e3).isNaN)
  }

  test("reciprocity counts reverse edges over the distinct non-loop set") {
    // duplicate 1->2 and the 5->5 loop must not count; mutual pairs
    // {1,2} and {3,4} contribute two reciprocal edges each
    val e = Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L), (3L, 4L),
      (4L, 3L), (5L, 5L)).toDF("src", "dst")
    val r = GraphAlgorithms.reciprocityInvariants(e).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((5L, 4L, 800000L)))
  }

  test("modularity invariants and Q on the two-triangle hand graph") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4: 4 LPA rounds settle on
    // exactly the two triangles (hand-traced rounds; min tie-breaks).
    // Closure m2 = 14; intra2 = 12 (the bridge crosses); community degree
    // sums 7 and 7 -> sum_dc2 = 98 -> Q = 12/14 - 98/196 = 5/14.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val r = GraphAlgorithms.modularityInvariants(e).head()
    assert((0 until 4).map(r.getLong) == Seq(14L, 12L, 98L, 2L))
    assert(math.abs(GraphAlgorithms.modularityScore(e) - 5.0 / 14.0) < 1e-12)
    // duplicate and self-loop edges must not perturb the closure moments
    val noisy = e.unionByName(Seq((1L, 2L), (2L, 1L), (5L, 5L)).toDF("src", "dst"))
    val rn = GraphAlgorithms.modularityInvariants(noisy).head()
    assert((0 until 4).map(rn.getLong) == Seq(14L, 12L, 98L, 2L))
    // a vertex with only a self-loop is its own degree-0 community:
    // it contributes a community but nothing to any moment
    val lonely = e.unionByName(Seq((9L, 9L)).toDF("src", "dst"))
    val rl = GraphAlgorithms.modularityInvariants(lonely).head()
    assert((0 until 4).map(rl.getLong) == Seq(14L, 12L, 98L, 3L))
  }

  test("louvain refinement: integer gains, sync moves, fixpoint invariance") {
    // two triangles bridged by 3-4; the 1-round LPA seed is deliberately
    // fragmented: (2,1,1,3,4,4) -> communities {2,3} {1} {4} {5,6}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val seed = GraphAlgorithms.labelPropagation(e, iters = 1)
    assert(seed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
    // hand-traced sweep: v1 joins {2,3} (g=18), v2 swaps into the vacated
    // {1} (g=2 — the synchronous artifact, documented), v4 joins {5,6}
    // (g=16), v3/v5/v6 have no strictly positive gain
    val refined = GraphAlgorithms.louvainRefineOnce(e, seed)
    assert(refined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
    // the digest prices the refined partition strictly better:
    // seed Q = 4/14 - 54/196 ~ 0.010 -> refined Q = 8/14 - 78/196 ~ 0.173
    val d0 = GraphAlgorithms.modularityDigestOf(e, seed).head()
    assert((0 until 4).map(d0.getLong) == Seq(14L, 4L, 54L, 4L))
    val d1 = GraphAlgorithms.modularityDigestOf(e, refined).head()
    assert((0 until 4).map(d1.getLong) == Seq(14L, 8L, 78L, 3L))
    def q(m2: Long, i2: Long, s2: Long): Double =
      i2.toDouble / m2 - s2.toDouble / (m2.toDouble * m2)
    assert(q(14, 8, 78) > q(14, 4, 54))
    // the settled two-triangle partition is a fixpoint: no positive gain
    val stable = GraphAlgorithms.labelPropagation(e, iters = 4)
    val again = GraphAlgorithms.louvainRefineOnce(e, stable)
    assert(again.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      stable.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // an edgeless closure fails loudly, not with an NPE on the m2 scalar
    val loops = Seq((9L, 9L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      GraphAlgorithms.louvainRefineOnce(loops,
        GraphAlgorithms.labelPropagation(loops, iters = 1))
    }
    assert(ex.getMessage.contains("closure is empty"))
  }

  test("multi-level louvain: two triangles settle in one level, hand-traced") {
    // edges (1,2),(2,3),(3,1),(4,5),(5,6),(6,4),(3,4): the even sub-round
    // moves 2->1 and 4->3 then 6->5 (odd anchors frozen; singleton rule
    // blocks every uphill singleton target); the odd sub-rounds pull 3
    // into {1,2} and 4,6 into {5}; the coarse 2-vertex graph (self-loops
    // w=6, bridge w=1) offers only g=-35, so level 2 nets zero moves and
    // the run stops at nLevels=1 with the exact two-triangle partition.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    val (flat, nLevels) = GraphAlgorithms.louvainLevels(e)
    assert(nLevels == 1)
    assert(flat.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 5L, 6L -> 5L))
    // the digest prices the found partition as the true two-triangle one
    val d = GraphAlgorithms.modularityDigestOf(e, flat).head()
    assert((0 until 4).map(d.getLong) == Seq(14L, 12L, 98L, 2L))
    // the only surviving block is the returned partition itself
    val leaked = sc.getPersistentRDDs.keySet -- base
    assert(leaked == graft.util.Checkpoints.idsOf(flat),
      s"louvainLevels left more than its result: $leaked")
    graft.util.Checkpoints.release(spark, leaked)
    // a self-loop-only vertex stays its own singleton community
    val lonely = e.unionByName(Seq((9L, 9L)).toDF("src", "dst"))
    val (flat2, n2) = GraphAlgorithms.louvainLevels(lonely)
    assert(n2 == 1)
    assert(flat2.where(flat2("id") === 9L).head().getLong(1) == 9L)
    graft.util.Checkpoints.release(spark, graft.util.Checkpoints.idsOf(flat2))
    // an edgeless closure fails loudly and releases its checkpoints
    val loops = Seq((9L, 9L)).toDF("src", "dst")
    val base2 = sc.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException] {
      GraphAlgorithms.louvainLevels(loops)
    }
    assert(ex.getMessage.contains("closure is empty"))
    assert((sc.getPersistentRDDs.keySet -- base2).isEmpty)
    // NEGATIVE ids move too: Spark's % keeps the dividend's sign, so a
    // plain id % 2 phase gate would freeze every negative odd id — pmod
    // keeps the sub-rounds total over arbitrary long ids
    val neg = e.select((e("src") - 100L).as("src"), (e("dst") - 100L).as("dst"))
    val (flatN, nN) = GraphAlgorithms.louvainLevels(neg)
    val gotN = flatN.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nN >= 1)
    assert(Seq(-99L, -98L, -97L).map(gotN).distinct.size == 1)
    assert(Seq(-96L, -95L, -94L).map(gotN).distinct.size == 1)
    assert(gotN(-99L) != gotN(-94L))
    graft.util.Checkpoints.release(spark, graft.util.Checkpoints.idsOf(flatN))
  }

  test("weighted louvain: weights flip a community assignment; w=1 equals unweighted") {
    // same TOPOLOGY both runs — the 5-path 1-2-3-4-5 — only the weights
    // move: vertex 3 follows whichever side holds the heavy edge
    def path(w23: Long, w34: Long) =
      Seq((1L, 2L, 5L), (2L, 3L, w23), (3L, 4L, w34), (4L, 5L, 5L))
        .toDF("src", "dst", "w")
    def run(e: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val (flat, _) = GraphAlgorithms.louvainLevels(e, weightCol = Some("w"))
      val got = flat.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      graft.util.Checkpoints.release(spark, graft.util.Checkpoints.idsOf(flat))
      got
    }
    val a = run(path(10L, 1L)) // heavy 2-3: vertex 3 clusters left
    assert(a(3L) == a(2L) && a(3L) != a(4L), a.toString)
    val b = run(path(1L, 10L)) // heavy 3-4: vertex 3 clusters right
    assert(b(3L) == b(4L) && b(3L) != b(2L), b.toString)
    // all-1 weights reproduce the unweighted run exactly (two triangles)
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val w1 = run(tri.withColumn("w", org.apache.spark.sql.functions.lit(1L)))
    assert(w1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 5L, 6L -> 5L))
    // parallel edges SUM under the weighted closure: duplicating the 3-4
    // bridge with w=5 each is the same graph as one w=10 bridge
    val dup = Seq((1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 5L), (3L, 4L, 5L),
      (4L, 5L, 5L)).toDF("src", "dst", "w")
    val d = run(dup)
    assert(d(3L) == d(4L) && d(3L) != d(2L), d.toString)
    // NULL / non-positive weights fail loudly, releasing everything
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    val bad = Seq((1L, 2L, 0L), (2L, 3L, 4L)).toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      GraphAlgorithms.louvainLevels(bad, weightCol = Some("w"))
    }
    assert(ex.getMessage.contains("non-positive"))
    assert((sc.getPersistentRDDs.keySet -- base).isEmpty)
    // a FRACTIONAL weight would silently floor under cast("long") —
    // rejected loudly instead of quietly rewriting every degree sum
    val frac = Seq((1L, 2L, 1.7), (2L, 3L, 4.0)).toDF("src", "dst", "w")
    val exF = intercept[IllegalArgumentException] {
      GraphAlgorithms.louvainLevels(frac, weightCol = Some("w"))
    }
    assert(exF.getMessage.contains("non-integral"), exF.getMessage)
    // exact integral doubles pass (4.0 == 4L round trip)
    val okD = Seq((1L, 2L, 2.0), (2L, 3L, 4.0)).toDF("src", "dst", "w")
    val (flatD, _) = GraphAlgorithms.louvainLevels(okD, weightCol = Some("w"))
    assert(flatD.count() == 3)
    graft.util.Checkpoints.release(spark, graft.util.Checkpoints.idsOf(flatD))
  }

  test("kNN graph feeds weighted louvain: embedding communities recovered") {
    // the e12 -> g51 bridge as one composition: two cosine communities in
    // embedding space become two Louvain communities of the kNN graph
    import graft.pipeline.Similarity
    def vec(axis: Int, i: Int) = Array.tabulate(64)(j =>
      if (j == axis) 1.0f else if (j == 60 + i % 3) 0.05f else 0.0f)
    val pts = ((0 until 6).map(i => (i.toLong, vec(0, i))) ++
      (6 until 12).map(i => (i.toLong, vec(32, i))))
      .toDF("vec_id", "embedding")
    val edges = Similarity.knnGraphEdges(pts, "vec_id", "embedding", 3)
    val (flat, _) = GraphAlgorithms.louvainLevels(edges,
      maxLevels = 2, sweepsPerLevel = 2, weightCol = Some("w_ppm"))
    val lbl = flat.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.util.Checkpoints.release(spark, graft.util.Checkpoints.idsOf(flat))
    assert(lbl.size == 12, lbl.toString)
    // one label per embedding community, and the two differ
    assert((0L until 6L).map(lbl).toSet.size == 1, lbl.toString)
    assert((6L until 12L).map(lbl).toSet.size == 1, lbl.toString)
    assert(lbl(0L) != lbl(6L), lbl.toString)
  }

  test("multi-level louvain: a triangle ring coarsens and merges at level 2") {
    // ring of 10 triangles joined by bridges: level 1 finds the triangles
    // (communities of weighted degree 8, m2 = 80); level 2 prices merging
    // two adjacent super-vertices at g = 80·1 − 64 = 16 > 0, so the
    // coarse pass MUST act — the phase-2 behavior one level cannot reach
    val tri = (0 until 10).flatMap { i =>
      val (a, b, c) = (3L * i + 1, 3L * i + 2, 3L * i + 3)
      Seq((a, b), (b, c), (c, a))
    }
    val bridges = (0 until 10).map(i => (3L * i + 3, (3L * i + 3) % 30 + 1))
    val e = (tri ++ bridges).toDF("src", "dst")
    val (flat, nLevels) = GraphAlgorithms.louvainLevels(e)
    val got = flat.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangles never split: the parity sub-rounds settle each triangle
    // before the coarse levels move them as whole communities
    (0 until 10).foreach { i =>
      val ls = Seq(3L * i + 1, 3L * i + 2, 3L * i + 3).map(got)
      assert(ls.distinct.size == 1, s"triangle $i split: $ls")
    }
    assert(nLevels >= 2, s"coarse level never acted: nLevels=$nLevels")
    def q(d: org.apache.spark.sql.Row): Double =
      d.getLong(1).toDouble / d.getLong(0) -
        d.getLong(2).toDouble / (d.getLong(0).toDouble * d.getLong(0))
    // the budgeted default lands near the optimum...
    val qMulti = q(GraphAlgorithms.modularityDigestOf(e, flat).head())
    assert(qMulti > 0.6, s"ring Q $qMulti below the triangle partition's 0.65 band")
    // ...and a wider sweep budget reaches the ring's true optimum: five
    // adjacent-triangle pairs, Q = 70/80 - 1280/6400 = 0.675 exactly
    val (flat8, n8) = GraphAlgorithms.louvainLevels(e, maxLevels = 3, sweepsPerLevel = 8)
    val d8 = GraphAlgorithms.modularityDigestOf(e, flat8).head()
    assert((0 until 4).map(d8.getLong) == Seq(80L, 70L, 1280L, 5L))
    assert(n8 == 2)
    graft.util.Checkpoints.release(spark,
      graft.util.Checkpoints.idsOf(flat) ++ graft.util.Checkpoints.idsOf(flat8))
  }

  test("community digests release every internal checkpoint — success and failure") {
    // the r13 temporal-sweep discipline applied to the community family
    // (r13 VERDICT ask): persistent-RDD set returns to its pre-call
    // baseline after modularityInvariants (digest collected internally,
    // LPA rounds included in the sweep), and louvainRefineOnce leaves
    // EXACTLY its result's own checkpoint
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val sc = spark.sparkContext
    val base0 = sc.getPersistentRDDs.keySet
    val inv = GraphAlgorithms.modularityInvariants(e)
    assert((0 until 4).map(inv.head().getLong) == Seq(14L, 12L, 98L, 2L))
    val leak0 = sc.getPersistentRDDs.keySet -- base0
    assert(leak0.isEmpty, s"modularityInvariants leaked checkpoints: $leak0")
    // caller-held labels survive the digest's internal sweep
    val seed = GraphAlgorithms.labelPropagation(e, iters = 4)
    seed.count() // caller materializes its own relation first
    val base1 = sc.getPersistentRDDs.keySet
    GraphAlgorithms.modularityDigestOf(e, seed).head()
    val leak1 = sc.getPersistentRDDs.keySet -- base1
    assert(leak1.isEmpty, s"modularityDigestOf leaked checkpoints: $leak1")
    assert(seed.count() == 6L) // and the caller's relation still reads
    // louvainRefineOnce: the only surviving block is the result itself
    val base2 = sc.getPersistentRDDs.keySet
    val refined = GraphAlgorithms.louvainRefineOnce(e, seed)
    val leak2 = sc.getPersistentRDDs.keySet -- base2
    assert(leak2 == graft.util.Checkpoints.idsOf(refined),
      s"louvainRefineOnce left more than its result: $leak2")
    graft.util.Checkpoints.release(spark, leak2)
    // failure paths restore the baseline exactly: edgeless closure...
    val loops = Seq((9L, 9L)).toDF("src", "dst")
    val loopSeed = GraphAlgorithms.labelPropagation(loops, iters = 1)
    loopSeed.count()
    val base3 = sc.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      GraphAlgorithms.louvainRefineOnce(loops, loopSeed)
    }
    val leak3 = sc.getPersistentRDDs.keySet -- base3
    assert(leak3.isEmpty, s"louvainRefineOnce failure path leaked: $leak3")
    // ...and a labels relation missing a closure vertex fails loudly
    // (silent m2/intra2 undercount, r13 ADVICE) without leaking
    val partial = Seq((1L, 10L), (2L, 10L)).toDF("id", "lbl")
    partial.count()
    val base4 = sc.getPersistentRDDs.keySet
    val exCov = intercept[IllegalArgumentException] {
      GraphAlgorithms.modularityDigestOf(e, partial)
    }
    assert(exCov.getMessage.contains("missing from labels"))
    val leak4 = sc.getPersistentRDDs.keySet -- base4
    assert(leak4.isEmpty, s"coverage failure path leaked: $leak4")
  }

  test("effective diameter reads the 90% radius off the digest") {
    val digests = Seq((0L, 5L, 5L, 50L), (1L, 9L, 9L, 120L),
      (2L, 12L, 12L, 180L), (3L, 12L, 12L, 185L))
      .toDF("h", "n_regs", "sum_lb", "nf_est")
    // ceil(0.9 * 185) = 167 -> first h at or above is 2
    assert(GraphAlgorithms.effectiveDiameter(digests) == 2L)
    // a half-mass read-off: ceil(185/2) = 93 -> h = 1
    assert(GraphAlgorithms.effectiveDiameter(digests, (1L, 2L)) == 1L)
  }

  test("randomWalks and katzIndex leave pinned only what their results read") {
    import graft.algorithms.RandomWalks
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L), (4L, 5L))
      .toDF("src", "dst")
    // the edge (and node2vec's membership) cuts are freed, not left
    // behind a no-op Dataset.unpersist
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "hashWalks" -> (() => RandomWalks.hashWalks(g, Seq(1L, 4L).toDF("id"), 4, 2)),
      "node2vecWalks" -> (() =>
        RandomWalks.node2vecWalks(g, Seq(1L, 4L).toDF("id"), 4, 2, p = 2, q = 3)),
      // the chain's frontier dies at level 3 of 5: the empty last level
      // is freed with the edge cut
      "katzIndex" -> (() => GraphAlgorithms.katzIndex(
        Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst"), 5, beta = 4L)))
    calls.foreach { case (name, call) =>
      val (out, leaked) = persistedBy { val o = call(); o.count(); o }
      assert(leaked == graft.util.Checkpoints.idsOf(out),
        s"$name left more than its result: $leaked")
      graft.util.Checkpoints.release(spark, leaked)
    }
  }

  test("rejected loop calls pin no blocks: SCC, MIS, kCore, kTruss, earliestArrival") {
    import graft.algorithms.TemporalGraph
    // two 2-cycles joined 2 -> 3: round 1 colors 3 and 4 with root 1, so
    // only {1, 2} is swept and a second round is needed
    val twoCycles = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val exScc = rejectsUnpinned[IllegalArgumentException](
      GraphAlgorithms.stronglyConnectedComponents(twoCycles, maxRounds = 1))
    assert(exScc.getMessage.contains("SCC did not converge"), exScc.getMessage)
    // MIS on a path: one round short of the Luby rounds it needs
    val path = (1L until 16L).map(i => (i, i + 1)).toDF("src", "dst")
    val (_, misNeeds) = GraphAlgorithms.misRounds(path)
    assert(misNeeds >= 2, s"the path converges in $misNeeds round")
    val exMis = rejectsUnpinned[IllegalArgumentException](
      GraphAlgorithms.misRounds(path, maxRounds = misNeeds - 1))
    assert(exMis.getMessage.contains("MIS did not converge"), exMis.getMessage)
    // the path's 2-core is empty, peeled from both ends over several rounds
    val exCore = rejectsUnpinned[IllegalArgumentException](
      GraphAlgorithms.kCore(path, 2, maxRounds = 1))
    assert(exCore.getMessage.contains("k-core did not converge"), exCore.getMessage)
    // a triangle with a pendant edge: round 1 drops the pendant, round 2
    // certifies the fixpoint — past maxRounds = 1, never a partial set
    val pendant = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    assert(GraphAlgorithms.kTruss(pendant, 3).count() == 3L)
    val exTruss = rejectsUnpinned[IllegalArgumentException](
      GraphAlgorithms.kTruss(pendant, 3, maxRounds = 1))
    assert(exTruss.getMessage.contains("k-truss did not converge"), exTruss.getMessage)
    // an ascending-time chain improves one vertex per round
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)).toDF("src", "dst", "t")
    val exArr = rejectsUnpinned[IllegalArgumentException](
      TemporalGraph.earliestArrival(chain, Seq((1L, 0L)).toDF("id", "t0"), maxHops = 1))
    assert(exArr.getMessage.contains("no fixpoint"), exArr.getMessage)
  }

  test("louvainLevels and kReachableCounts leave another party's persisted RDD alone") {
    import graft.algorithms.TemporalGraph
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // a second session on the same SparkContext, standing in as a
    // listener that persists its own RDD when the call's first job starts
    def whileAnotherPersists[A](body: => A): (A, org.apache.spark.rdd.RDD[Int], Boolean) = {
      val other = sc.parallelize(1 to 4)
      val callDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val duringCall = new java.util.concurrent.atomic.AtomicBoolean(false)
      val listener = new SparkListener {
        private val first = new java.util.concurrent.atomic.AtomicBoolean(true)
        override def onJobStart(js: SparkListenerJobStart): Unit =
          if (first.getAndSet(false)) { other.persist(); duringCall.set(!callDone.get) }
      }
      org.apache.spark.GraftTestBus.drain(sc)
      sc.addSparkListener(listener)
      try {
        val out = body
        callDone.set(true)
        org.apache.spark.GraftTestBus.drain(sc)
        (out, other, duringCall.get)
      } finally sc.removeSparkListener(listener)
    }
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val te = Seq((1L, 2L, 10L), (2L, 3L, 20L), (1L, 3L, 50L), (3L, 4L, 60L))
      .toDF("src", "dst", "t")
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "louvainLevels" -> (() => GraphAlgorithms.louvainLevels(e)._1),
      "kReachableCounts" -> (() => TemporalGraph.kReachableCounts(te,
        Seq((1L, 0L, 100L)).toDF("sid", "t0", "deadline"), 2)))
    calls.foreach { case (name, call) =>
      val ((out, other, duringCall), leaked) = persistedBy(whileAnotherPersists(call()))
      assert(duringCall, s"$name: the other party persisted after the call")
      assert(sc.getPersistentRDDs.contains(other.id),
        s"$name released another party's persisted RDD")
      assert(leaked - other.id == graft.util.Checkpoints.idsOf(out),
        s"$name left more than its result: ${leaked - other.id}")
      other.unpersist()
      graft.util.Checkpoints.release(spark, leaked - other.id)
    }
  }
}
