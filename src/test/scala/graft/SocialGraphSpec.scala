package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

import graft.operators.SkewJoin
import graft.model.Graphid
import graft.social.SocialGraph
import graft.store.GraphStore

/** C1-C6 social workload tests (mirrors the reference's
  * social-network-api behavior) + the salting helper.
  */
class SocialGraphSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  def freshGraph: SocialGraph = {
    val users = (1L to 6L).map(k => (Graphid.pack(200, k), s"user$k"))
      .toDF("id", "username")
    val g = new SocialGraph(spark,
      new GraphStore(Map("User" -> users), Map.empty))
    // 1→2, 1→3, 2→4, 3→4, 2→5: suggestions for 1 should rank 4 (2 paths) over 5
    g.follow(1, 2, 100); g.follow(1, 3, 101)
    g.follow(2, 4, 102); g.follow(3, 4, 103); g.follow(2, 5, 104)
    g
  }

  test("follow is idempotent; unfollow removes") {
    val g = freshGraph
    g.follow(1, 2, 999) // duplicate
    assert(g.following(1).count() == 2)
    g.unfollow(1, 2)
    assert(g.following(1).count() == 1)
  }

  test("followers / following expansion") {
    val g = freshGraph
    assert(g.following(1).collect().map(_.getLong(0)).toSet ==
      Set(g.userId(2), g.userId(3)))
    assert(g.followers(4).count() == 2)
  }

  test("mutual friends = intersection of following sets") {
    val g = freshGraph
    val m = g.mutualFriends(2, 3).collect().map(_.getLong(0))
    assert(m.toSeq == Seq(g.userId(4)))
  }

  test("friend suggestion scores by path count and excludes followed/self") {
    val g = freshGraph
    val s = g.suggestFriends(1).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(s.head == ((g.userId(4), 2L))) // two paths: via 2 and via 3
    assert(s.map(_._1).contains(g.userId(5)))
    assert(!s.map(_._1).contains(g.userId(2))) // already followed
    assert(!s.map(_._1).contains(g.userId(1))) // self
  }

  test("degrees of separation via BFS") {
    val g = freshGraph
    assert(g.degreesOfSeparation(1, 4).contains(2))
    assert(g.degreesOfSeparation(1, 2).contains(1))
    assert(g.degreesOfSeparation(4, 1).isEmpty) // directed
  }

  test("connectionPath returns the minimal follow chain") {
    val g = freshGraph
    // 1→4 via 2 (user key 2 < 3): lexicographically-minimal shortest path
    assert(g.connectionPath(1, 4).contains(Seq(1L, 2L, 4L)))
    assert(g.connectionPath(1, 2).contains(Seq(1L, 2L)))
    assert(g.connectionPath(4, 1).isEmpty)
  }

  test("100 sequential mutations keep the FOLLOWS plan bounded (compaction)") {
    val g = freshGraph
    def planNodes: Int =
      g.store.edgeTables("FOLLOWS").queryExecution.logical.collect { case n => n }.length
    // 100 follow/unfollow pairs across distinct user pairs; without the
    // every-N compaction each op stacks union+anti-join nodes and the plan
    // (and per-op planning time) grows without bound
    // user keys 10+ are disjoint from the fixture's edges, so the churn
    // can't delete fixture state
    (1 to 50).foreach { i =>
      g.follow(i % 6 + 10, (i + 2) % 6 + 10, 1000 + i)
      g.unfollow(i % 6 + 10, (i + 2) % 6 + 10)
    }
    // ceiling = one compaction window (<= 16 mutations x ~8 plan nodes) +
    // base; without compaction 100 mutations stack ~600 nodes
    assert(planNodes <= 200,
      s"FOLLOWS plan grew to $planNodes nodes — mutation lineage unbounded")
    // correctness after churn: every synthetic edge removed, fixture intact
    assert(g.following(1).count() == 2)
    assert(g.followers(4).count() == 2)
  }

  test("salted join equals plain join on skewed data") {
    val big = (1 to 10000).map(i => (if (i % 10 == 0) 1L else i.toLong, i))
      .toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "cold")).toDF("k", "tag")
    val expected = big.join(small, Seq("k")).agg(org.apache.spark.sql.functions.count(col("v")))
      .collect()(0).getLong(0)
    val got = SkewJoin.saltedJoin(big, small, Seq("k"), salts = 8)
      .agg(org.apache.spark.sql.functions.count(col("v"))).collect()(0).getLong(0)
    assert(got == expected)
  }
}
