package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.algorithms.{Adjacency, Direction, KeyedIndex, KeyedRows, Traversals}
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

  /** Where an index is built: on the driver (the default bound holds these
    * graphs), or as a persisted RDD.
    */
  val placements: Seq[Seq[(String, String)]] = Seq(Nil, Seq(persistedIndexes))

  /** The index of `edges` keyed on `src` (or `dst`, `reverse`), placed as
    * `placement` says.
    */
  def index(edges: DataFrame, reverse: Boolean, placement: Seq[(String, String)]): KeyedIndex = {
    val built = withConf(placement: _*)(Adjacency.index(edges, reverse, 4))
    assert(built.isInstanceOf[KeyedIndex.Persisted] == placement.nonEmpty)
    built
  }

  /** The adjacency of `edges` walked in `dir`, and the indexes to release;
    * each index placed as `placement` says.
    */
  def adjacency(edges: DataFrame, dir: Direction,
      placement: Seq[(String, String)] = Nil): (Adjacency, Seq[KeyedIndex]) = {
    def at(reverse: Boolean) = index(edges, reverse, placement)
    dir match {
      case Direction.Out => val o = at(false); (Adjacency(o), Seq(o))
      case Direction.In => val i = at(true); (Adjacency(i), Seq(i))
      case Direction.Both =>
        val (o, i) = (at(false), at(true))
        (Adjacency.both(o, i), Seq(o, i))
    }
  }

  def release(indexes: Seq[KeyedIndex]): Unit = indexes.flatMap(_.rdd).foreach(_.unpersist())

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
    for (seed <- Seq(1L, 2L); dir <- dirs; placement <- placements) {
      val e = multigraph(seed)
      val (adj, owned) = adjacency(e, dir, placement)
      val starts = Seq(vid(0), vid(5), vid(n))
      for ((lo, hi, carry) <- Seq((1, 3, true), (2, 3, false))) {
        val loop = Traversals.vle(e, starts.toDF("id"), lo, hi, dir, carryEdges = carry)
        val local = Traversals.vlePaths(adj, starts.toArray, lo, hi, carry, 1000).get
        assert(sorted(local) == sortedRows(loop), s"seed $seed $dir $placement *$lo..$hi carry=$carry")
      }
      release(owned)
    }
  }

  test("shortestPath over an adjacency returns the DataFrame loop's row") {
    for (dir <- dirs; placement <- placements) {
      val e = multigraph(3, m = 40).select("src", "dst", "id")
      val (adj, owned) = adjacency(e, dir, placement)
      // a reachable pair, the isolated vertex, and src == dst
      for ((s, d) <- Seq((0, 7), (2, n), (3, 3))) {
        val loop = Traversals.shortestPath(e.select("src", "dst"), vid(s), vid(d), 5, dir)
        val local = Traversals.shortestPathLocal(spark, adj, vid(s), vid(d), 5).get
        val ctx = s"$dir $placement $s->$d"
        assert(local.schema == loop.schema, ctx)
        assert(sortedRows(local) == sortedRows(loop), ctx)
      }
      release(owned)
    }
  }

  /** Every (key, neighbour, edge id) of `keys`, in the order read. */
  def edgesOf(rows: KeyedRows, keys: Seq[Long]): Seq[(Long, Long, Long)] =
    keys.flatMap { k =>
      val out = Seq.newBuilder[(Long, Long, Long)]
      rows.foreach(k)((v, e) => out += ((k, v, e)))
      out.result()
    }

  test("driver-held and persisted indexes give the same lookups, mixed ones too") {
    for (seed <- Seq(1L, 2L)) {
      val e = multigraph(seed)
      val keys = (0 to n).map(vid) :+ vid(n + 7)
      val driver = Seq(false, true).map(index(e, _, Nil))
      val persisted = Seq(false, true).map(index(e, _, Seq(persistedIndexes)))
      val walks = Seq(
        "out" -> (Adjacency(driver(0)), Adjacency(persisted(0))),
        "in" -> (Adjacency(driver(1)), Adjacency(persisted(1))),
        "both" -> (Adjacency.both(driver(0), driver(1)), Adjacency.both(persisted(0), persisted(1))),
        "mixed" -> (Adjacency.both(driver(0), persisted(1)), Adjacency.both(persisted(0), driver(1))))
      for ((name, (a, b)) <- walks) {
        val ctx = s"seed $seed $name"
        val (ra, rb) = (a.lookup(keys.toArray).get, b.lookup(keys.toArray).get)
        assert(edgesOf(ra, keys) == edgesOf(rb, keys), ctx)
        assert(edgesOf(ra, keys).nonEmpty, ctx)
        // vertex 0's self-loop, parallel pair and 2-cycle pass a bound of 2
        for (adj <- Seq(a, b)) {
          assert(adj.lookup(Array(vid(0)), maxRows = 2).isEmpty, ctx)
          assert(adj.lookup(Array(vid(n)), maxRows = 0).nonEmpty, ctx)
        }
        val one = edgesOf(a.lookup(Array(vid(0))).get, Seq(vid(0))).size
        assert(a.lookup(Array(vid(0)), maxRows = one).nonEmpty && b.lookup(Array(vid(0)), maxRows = one).nonEmpty, ctx)
        assert(a.lookup(Array(vid(0)), maxRows = one - 1).isEmpty && b.lookup(Array(vid(0)), maxRows = one - 1).isEmpty, ctx)
      }
      // a driver-held lookup starts no job; a persisted one starts one
      assert(jobsDuring(Adjacency(driver(0)).lookup(keys.toArray))._2 == 0)
      assert(jobsDuring(Adjacency(persisted(0)).lookup(keys.toArray))._2 == 1)
      release(persisted)
    }
  }

  test("a traversal past its row bound falls back to the DataFrame loop") {
    for (placement <- placements) {
      val e = multigraph(5)
      val (adj, owned) = adjacency(e, Direction.Both, placement)
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
      release(owned)
    }
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
    for (placement <- placements) withConf(placement: _*) {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val resident = new CypherSession(spark, store)
      val warm = "MATCH (a:V)-[:E]->(b:V) RETURN count(*) AS c"
      rows(resident.run(warm)); rows(resident.run(warm))
      for (q <- reads) {
        val (local, loop) = (resident.run(q), new CypherSession(spark, store).run(q))
        assert(shape(local) == shape(loop), s"$placement: $q")
        assert(sortedRows(local) == sortedRows(loop), s"$placement: $q")
      }
      val names = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.values.map(_.name).toSet
      if (placement.nonEmpty)
        assert(names.contains("graft adjacency by src") && names.contains("graft adjacency by dst"))
      else {
        assert(!names.exists(n => n != null && n.startsWith("graft ")), names)
        assert(resident.heldIndexes.count(_.isInstanceOf[KeyedIndex.OnDriver]) >= 2)
      }
    }
  }

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
}
