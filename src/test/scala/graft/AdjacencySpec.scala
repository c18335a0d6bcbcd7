package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.algorithms.{Adjacency, Direction, Traversals}
import graft.cypher.CypherSession
import graft.model.Graphid
import graft.store.GraphStore

/** The adjacency-index traversals against the DataFrame loops they stand
  * in for, on seeded random multigraphs (self-loops, parallel edges and
  * cycles included): identical sorted rows, directly and through Cypher.
  */
class AdjacencySpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  val n = 24

  def vid(i: Int): Long = Graphid.pack(1, i)

  /** `m` random edges over vertices 0 until n, plus a self-loop, a
    * parallel pair and a 2-cycle on vertex 0; vertex n has no edges.
    */
  def multigraph(seed: Long, m: Int = 60): DataFrame = {
    val r = new scala.util.Random(seed)
    val pairs = Seq((0, 0), (0, 1), (0, 1), (1, 0)) ++
      Seq.fill(m)((r.nextInt(n), r.nextInt(n)))
    pairs.zipWithIndex.map { case ((s, d), i) => (Graphid.pack(2, i), vid(s), vid(d)) }
      .toDF("id", "src", "dst")
  }

  /** The adjacency of `edges` walked in `dir`, and the indexes to release. */
  def adjacency(edges: DataFrame, dir: Direction): (Adjacency, Seq[org.apache.spark.rdd.RDD[_]]) = {
    def index(reverse: Boolean) = Adjacency.index(edges, reverse, 4)
    dir match {
      case Direction.Out => val o = index(false); (Adjacency(o), Seq(o))
      case Direction.In => val i = index(true); (Adjacency(i), Seq(i))
      case Direction.Both =>
        val (o, i) = (index(false), index(true))
        (Adjacency.both(o, i), Seq(o, i))
    }
  }

  def sorted(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted

  def sortedRows(df: DataFrame): Seq[String] = sorted(df.collect().toSeq)

  def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString))

  val dirs = Seq(Direction.Out, Direction.In, Direction.Both)

  test("vle over an adjacency returns the DataFrame loop's rows") {
    for (seed <- Seq(1L, 2L); dir <- dirs) {
      val e = multigraph(seed)
      val (adj, owned) = adjacency(e, dir)
      val starts = Seq(vid(0), vid(5), vid(n))
      for ((lo, hi, carry) <- Seq((1, 3, true), (2, 3, false))) {
        val loop = Traversals.vle(e, starts.toDF("id"), lo, hi, dir, carryEdges = carry)
        val local = Traversals.vlePaths(adj, starts.toArray, lo, hi, carry, 1000).get
        assert(sorted(local) == sortedRows(loop), s"seed $seed $dir *$lo..$hi carry=$carry")
      }
      owned.foreach(_.unpersist())
    }
  }

  test("shortestPath over an adjacency returns the DataFrame loop's row") {
    for (dir <- dirs) {
      val e = multigraph(3, m = 40).select("src", "dst", "id")
      val (adj, owned) = adjacency(e, dir)
      // a reachable pair, the isolated vertex, and src == dst
      for ((s, d) <- Seq((0, 7), (2, n), (3, 3))) {
        val loop = Traversals.shortestPath(e.select("src", "dst"), vid(s), vid(d), 5, dir)
        val local = Traversals.shortestPathLocal(spark, adj, vid(s), vid(d), 5).get
        val ctx = s"$dir $s->$d"
        assert(local.schema == loop.schema, ctx)
        assert(sortedRows(local) == sortedRows(loop), ctx)
      }
      owned.foreach(_.unpersist())
    }
  }

  test("a traversal past its row bound falls back to the DataFrame loop") {
    val e = multigraph(5)
    val (adj, owned) = adjacency(e, Direction.Both)
    val starts = Seq(vid(0), vid(1))
    // the planner's composition: the loop answers once a level passes the bound
    def walk(bound: Long): Seq[String] =
      Traversals.vlePaths(adj, starts.toArray, 1, 3, carryEdges = false, bound).map(sorted)
        .getOrElse(sortedRows(Traversals.vle(e, starts.toDF("id"), 1, 3, Direction.Both)))
    assert(Traversals.vlePaths(adj, starts.toArray, 1, 3, carryEdges = false, 20).isEmpty)
    // more start ids, or more edges in one lookup, than the bound
    assert(Traversals.vleLocal(adj, starts.toDF("id"), 1, 3, carryEdges = false, maxRows = 1).isEmpty)
    assert(adj.lookup(Array(vid(0)), maxRows = 2).isEmpty)
    assert(adj.lookup(Array(vid(0))).nonEmpty)
    assert(walk(20) == walk(Traversals.BroadcastPathRows))
    assert(Traversals.shortestPathLocal(spark, adj, vid(0), vid(n), 5, maxRows = 3).isEmpty)
    owned.foreach(_.unpersist())
  }

  test("Cypher traversals in a resident session return a fresh session's rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_adjacency").toString
    val vs = (0 to n).map(i => (vid(i), i.toLong)).toDF("id", "k")
    new GraphStore(Map("V" -> vs), Map("E" -> multigraph(6))).save(dir)
    val store = GraphStore.load(spark, dir)
    val reads = Seq(
      "MATCH (a:V {k: 0})-[:E*1..3]->(b:V) RETURN a.k AS a, b.k AS b",
      "MATCH (a:V {k: 2})<-[:E*2..3]-(b:V) RETURN b.k AS b",
      "MATCH (a:V {k: 0})-[:E*0..2]-(b:V) RETURN b.k AS b",
      "MATCH (a:V)-[:E*1..2]->(b:V {k: 1}) WHERE a.k < 4 RETURN a.k AS a",
      "MATCH (a:V {k: 0})-[r:E*1..2]->(b:V) RETURN b.k AS b, r AS r",
      "MATCH p = (a:V {k: 1})-[:E*1..2]-(b:V) " +
        "RETURN nodes(p) AS ns, relationships(p) AS rs, length(p) AS l",
      "MATCH p = shortestPath((a:V {k: 0})-[:E*..5]->(b:V {k: 9})) RETURN p AS p",
      "MATCH p = shortestPath((a:V {k: 9})<-[:E*..5]-(b:V {k: 0})) RETURN p AS p",
      "MATCH p = shortestPath((a:V {k: 3})-[:E*..5]->(b:V {k: 3})) RETURN length(p) AS l")
    val resident = new CypherSession(spark, store)
    val warm = "MATCH (a:V)-[:E]->(b:V) RETURN count(*) AS c"
    rows(resident.run(warm)); rows(resident.run(warm))
    for (q <- reads) {
      val (local, loop) = (resident.run(q), new CypherSession(spark, store).run(q))
      assert(shape(local) == shape(loop), q)
      assert(sortedRows(local) == sortedRows(loop), q)
    }
    val names = spark.sparkContext.getPersistentRDDs.values.map(_.name).toSet
    assert(names.contains("graft adjacency by src") && names.contains("graft adjacency by dst"))
  }

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
}
