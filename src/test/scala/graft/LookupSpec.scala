package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.CypherSession
import graft.model.Graphid
import graft.store.GraphStore

/** Key-anchored reads answered by index lookups in a resident session
  * against a fresh single-statement session's DataFrame plan, on seeded
  * random multigraphs (a self-loop, parallel edges, a 2-cycle, an isolated
  * vertex, a non-unique key): the same sorted rows and column types.
  */
class LookupSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  val n = 24

  def vid(i: Int): Long = Graphid.pack(1, i)
  def wid(i: Int): Long = Graphid.pack(3, i)

  /** V vertices 0..n (uid unique, k = uid / 2 shared by pairs, a name, a
    * double x that is null on every third), two W vertices, and E edges:
    * `m` random ones over V 0 until n, a self-loop, a parallel pair and a
    * 2-cycle on vertex 0, and two into W. Vertex n has no edges.
    */
  def store(seed: Long, m: Int = 60): GraphStore = {
    val r = new scala.util.Random(seed)
    val vs = (0 to n).map(i => (vid(i), i.toLong, (i / 2).toLong, s"v$i",
      Option.when(i % 3 != 0)(i * 0.37 - 2.5))).toDF("id", "uid", "k", "name", "x")
    val ws = (0 until 2).map(i => (wid(i), 100L + i)).toDF("id", "uid")
    val pairs = Seq((vid(0), vid(0)), (vid(0), vid(1)), (vid(0), vid(1)), (vid(1), vid(0)),
      (vid(0), wid(0)), (vid(2), wid(1))) ++
      Seq.fill(m)((vid(r.nextInt(n)), vid(r.nextInt(n))))
    val es = pairs.zipWithIndex.map { case ((s, d), i) => (Graphid.pack(2, i), s, d, i.toLong % 5) }
      .toDF("id", "src", "dst", "w")
    val dir = java.nio.file.Files.createTempDirectory("graft_lookup").toString
    new GraphStore(Map("V" -> vs, "W" -> ws), Map("E" -> es)).save(dir)
    GraphStore.load(spark, dir)
  }

  /** Reads that use every index the checked reads use: the second run
    * holds the tables resident and wants the indexes, the third builds them.
    */
  val warm = Seq(
    "MATCH (a:V {uid: 0})-[:E]-(b:V), (c:V {k: 0}), (d:V {name: 'v0'}), (a)-[:E]->(w:W) " +
      "RETURN count(*) AS c",
    "MATCH (a:V {uid: 0})-[:E*1..2]-(b:V) RETURN count(*) AS c")

  def resident(st: GraphStore, lookupRows: Long = graft.algorithms.Traversals.BroadcastPathRows,
      params: Map[String, Any] = Map.empty): CypherSession = {
    val s = new CypherSession(spark, st, params, lookupRows)
    for (_ <- 0 until 3; q <- warm) s.run(q).collect()
    s
  }

  /** Reads the lookups answer, with the parameters they bind. */
  val answered = Seq(
    "MATCH (a:V {uid: 3}) RETURN a.name AS n, a.k AS k",
    "MATCH (a:V {k: 2}) RETURN a.uid AS u",
    "MATCH (a:V {uid: 999}) RETURN a.uid AS u",
    "MATCH (a:V {uid: 0})-[e:E]->(b:V) RETURN b.uid AS b, e.w AS w",
    "MATCH (a:V {uid: 0})<-[e:E]-(b:V) RETURN b.uid AS b, e.w AS w, startNode(e) AS s",
    "MATCH (a:V {k: 0})-[e:E]-(b:V) RETURN a.uid AS a, b.uid AS b, e.w AS w, endNode(e) AS t",
    "MATCH (a:V {k: 1})-[:E]->(:V)-[:E]->(c:V) RETURN c.uid AS c, count(*) AS n",
    "MATCH (a:V {uid: 1}) OPTIONAL MATCH (a)-[:E]->(b:V) RETURN a.uid AS a, b.uid AS b",
    s"MATCH (a:V {uid: $n}) OPTIONAL MATCH (a)<-[:E]-(b:V) RETURN a.uid AS a, count(b) AS c",
    "MATCH (a:V {k: 0}) OPTIONAL MATCH (a)-[:E]->(b:W) RETURN a.uid AS a, b.uid AS b",
    "MATCH (a:V {uid: 0})-[e:E]->(b:V) RETURN e AS e, a AS a",
    "MATCH p = (a:V {uid: 0})-[:E]->(b:V)-[:E]-(c:V) " +
      "RETURN p AS p, nodes(p) AS ns, relationships(p) AS rs, length(p) AS l",
    "MATCH (a:V {uid: $u})-[:E]->(b:V) RETURN b.uid AS b",
    "MATCH (a:V {uid: $ul})<-[:E]-(b:V) RETURN b.uid AS b",
    "MATCH (a:V {name: 'v3'})-[:E]-(b:V) RETURN b.name AS b",
    "MATCH (a:V {name: $s}) RETURN a.uid AS u",
    "MATCH (a:V {uid: 0})-[:E]->(b:W) RETURN b.uid AS b",
    "MATCH (a:V {uid: 0}), (b:V {k: 1}) RETURN a.uid AS a, b.uid AS b",
    "MATCH (a:V {uid: 0})-[:E]->(b:V)-[:E]->(a) RETURN b.uid AS b",
    "MATCH (a:V {uid: 0})-[e:E]->() RETURN e.w AS w",
    "MATCH (a:V {uid: 1}) MATCH (a)-[:E]->(b:V) RETURN b.uid AS b",
    "MATCH (a:V {uid: 0})-[:E]->(b:V) WHERE b.k > 2 RETURN b.uid AS b ORDER BY b",
    "MATCH (a:V {uid: 0})-[:E*1..2]->(b:V) RETURN b.uid AS b",
    "MATCH p = (a:V {uid: 0})-[r:E*0..2]-(b:V) RETURN p AS p, r AS r, length(p) AS l")

  /** Reads the DataFrame plan keeps: a key of another type family, a null
    * key, an unlabelled target.
    */
  val kept = Seq(
    "MATCH (a:V {uid: 2.0}) RETURN a.uid AS u",
    "MATCH (a:V {uid: null}) RETURN a.uid AS u",
    "MATCH (a:V {uid: '3'}) RETURN a.uid AS u",
    "MATCH (a:V {uid: 0})-[:E]->(b) RETURN b.uid AS b")

  val params: Map[String, Any] = Map("u" -> 2, "ul" -> 1L, "s" -> "v5")

  def sorted(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(show).mkString("|")).sorted

  /** A value as text; a double to 12 significant digits, the tolerance
    * between two orders of summing it.
    */
  def show(x: Any): String = x match {
    case d: Double => f"$d%.12g"
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
    case other => String.valueOf(other)
  }

  def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString))

  /** Whether the statement's plan reads no table: its MATCH was answered by
    * lookups.
    */
  def lookedUp(df: DataFrame): Boolean = df.queryExecution.analyzed.collectFirst {
    case l: org.apache.spark.sql.execution.LogicalRDD => l
    case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
  }.isEmpty

  test("key-anchored reads in a resident session return a fresh session's rows") {
    for (seed <- Seq(1L, 2L)) {
      val st = store(seed)
      val s = resident(st, params = params)
      for (q <- answered ++ kept) {
        val (local, frames) = (s.run(q), new CypherSession(spark, st, params).run(q))
        val ctx = s"seed $seed: $q"
        assert(!lookedUp(frames), ctx)
        assert(lookedUp(local) == answered.contains(q), ctx)
        assert(shape(local) == shape(frames), ctx)
        assert(sorted(local) == sorted(frames), ctx)
      }
    }
  }

  test("a read whose bindings pass the row bound falls back to the DataFrame plan") {
    val st = store(3)
    val s = resident(st, lookupRows = 2)
    for ((q, small) <- Seq(
        "MATCH (a:V {uid: 3}) RETURN a.uid AS u" -> true,
        "MATCH (a:V {uid: 0})-[:E]-(b:V) RETURN b.uid AS b" -> false,
        "MATCH (a:V {uid: 0})-[:E*1..2]->(b:V) RETURN b.uid AS b" -> false)) {
      val (bounded, frames) = (s.run(q), new CypherSession(spark, st).run(q))
      assert(lookedUp(bounded) == small, q)
      assert(sorted(bounded) == sorted(frames), q)
    }
  }

  /** Whether the statement's plan holds rows lookups bound and also reads a
    * table: some MATCH clauses answered, others not.
    */
  def halfAnswered(df: DataFrame): Boolean = !lookedUp(df) &&
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isDefined

  test("an OPTIONAL MATCH whose rows pass the bound sends the whole read to the DataFrame plan") {
    val st = store(5)
    val fresh = new CypherSession(spark, st)
    def count(q: String) = fresh.run(q).collect().length.toLong
    // each clause's rows, and every lookup, stay under the bound; the
    // OPTIONAL's product with the first clause's rows passes it
    val out = count("MATCH (a:V {uid: 0})-[:E]->(b) RETURN b.uid AS b")
    val in = count("MATCH (a:V {uid: 0})<-[:E]-(c:V) RETURN c.uid AS c")
    val bound = out.max(in)
    val q = "MATCH (a:V {uid: 0})-[:E]->(b:V) OPTIONAL MATCH (a)<-[:E]-(c:V) " +
      "RETURN b.uid AS b, c.uid AS c"
    val rows = sorted(fresh.run(q))
    assert(rows.size > bound)
    val unbounded = resident(st).run(q)
    assert(lookedUp(unbounded) && sorted(unbounded) == rows)
    val bounded = resident(st, lookupRows = bound).run(q)
    assert(!lookedUp(bounded) && !halfAnswered(bounded))
    assert(sorted(bounded) == rows)
  }

  /** A read anchored by a WHERE equality, and a degrees CALL. */
  val whereAnchored = "MATCH (a:V)-[:E]->(b:V) WHERE a.k = 1 RETURN b.uid AS b, count(*) AS n"
  val degreesCall = "CALL graft.degrees() YIELD id, in_degree, out_degree " +
    "WITH id, in_degree, out_degree WHERE out_degree >= 2 RETURN count(*) AS n, sum(in_degree) AS s"

  test("lookups return the same rows at 1, 7 and 32 partitions and with AQE and codegen off") {
    val st = store(4)
    // point, one-hop each way, two-hop, OPTIONAL with and without a match,
    // a path over a fixed and over a var-length hop
    val reads = Seq(0, 3, 4, 5, 6, 7, 8, 11, 23).map(answered)
    val default = reads.map(q => sorted(new CypherSession(spark, st).run(q)))
    val warmReads = Seq(whereAnchored, degreesCall)
    val warmDefault = warmReads.map(q => sorted(new CypherSession(spark, st).run(q)))
    for (conf <- Seq(
        Map("spark.sql.shuffle.partitions" -> "1"),
        Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
        Map("spark.sql.shuffle.partitions" -> "7"),
        Map("spark.sql.shuffle.partitions" -> "32"),
        Map("spark.sql.adaptive.enabled" -> "false", "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) {
      withConf(conf.toSeq: _*) {
        val s = resident(st)
        reads.zip(default).foreach { case (q, rows) =>
          val df = s.run(q)
          assert(lookedUp(df), s"$conf: $q")
          assert(sorted(df) == rows, s"$conf: $q")
        }
        // persisted indexes: the WHERE-anchored read is looked up by jobs,
        // degrees keep the DataFrame plan; held ones answer both with none
        val persisted = conf.get("spark.sql.autoBroadcastJoinThreshold").contains("-1")
        warmReads.zip(warmDefault).foreach { case (q, rows) =>
          val (got, jobs) = jobsDuring(sorted(s.run(q)))
          val df = s.run(q)
          assert(got == rows, s"$conf: $q")
          assert(folded(df) != (persisted && q == degreesCall), s"$conf: $q")
          if (!persisted) assert(jobs == 0, s"$conf: $q")
        }
      }
    }
  }

  /** Whether the statement's plan keeps a WHERE as a Filter. */
  def filtered(df: DataFrame): Boolean = df.queryExecution.analyzed.collectFirst {
    case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
  }.isDefined

  test("a WHERE equality anchors a lookup only on a new single-label node, by a literal of its column's type") {
    val st = store(7)
    val ps = Map[String, Any]("u" -> 3L, "nul" -> null, "s" -> "v4")
    val s = resident(st, params = ps)
    // (statement, answered by lookups, keeps a Filter)
    for ((q, looked, filter) <- Seq(
        ("MATCH (a:V)-[:E]->(b:V) WHERE 1 = a.k RETURN b.uid AS b", true, false),
        ("MATCH (a:V)-[e:E]-(b:V) WHERE a.name = $s AND e.w > 1 RETURN b.uid AS b, e.w AS w", true, true),
        ("MATCH (a:V {uid: 0})-[:E]->(b:V) WHERE b.uid = $u RETURN b.name AS b", true, false),
        ("MATCH (a:V)-[:E]->(b:V) WHERE a.k = 1 OR a.k = 2 RETURN b.uid AS b", false, true),
        ("MATCH (a:V {uid: 1}) MATCH (a)-[:E]->(b:V) WHERE a.k = 0 RETURN b.uid AS b", true, true),
        ("MATCH (a:V {uid: 0})-[:E]->(b:V) WHERE a.k = 0 RETURN b.uid AS b", true, true),
        ("MATCH (a:V)-[:E]->(b:V) WHERE a.uid = 2.0 RETURN b.uid AS b", false, true),
        ("MATCH (a:V)-[:E]->(b:V) WHERE a.uid = $nul RETURN b.uid AS b", false, true),
        ("MATCH (a:V {uid: 1}) OPTIONAL MATCH (a)-[:E]->(b:V) WHERE b.k = 3 RETURN a.uid AS a, b.uid AS b",
          false, true),
        ("MATCH (a:V:W)-[:E]->(b:V) WHERE a.uid = 0 RETURN b.uid AS b", false, true))) {
      val (local, frames) = (s.run(q), new CypherSession(spark, st, ps).run(q))
      assert(lookedUp(local) == looked, q)
      assert(filtered(local) == filter, q)
      assert(shape(local) == shape(frames), q)
      assert(sorted(local) == sorted(frames), q)
    }
  }

  /** V 0..3 and W 0, with E edges 0->1, 0->1, 1->1 (a self-loop), 2->0 and
    * 1->W0, and F edges 0->2 and 3->0: W0 has only in-edges, 3 only
    * out-edges. With `nulls`, one E edge each with a null source, a null
    * target and both.
    */
  def twoLabels(nulls: Boolean): GraphStore = {
    val vs = (0 to 3).map(i => (vid(i), i.toLong)).toDF("id", "uid")
    val ws = Seq((wid(0), 100L)).toDF("id", "uid")
    val e = Seq[(Option[Long], Option[Long])]((Some(vid(0)), Some(vid(1))), (Some(vid(0)), Some(vid(1))),
      (Some(vid(1)), Some(vid(1))), (Some(vid(2)), Some(vid(0))), (Some(vid(1)), Some(wid(0)))) ++
      (if (nulls) Seq((None, Some(vid(2))), (Some(vid(3)), None), (None, None)) else Nil)
    val f = Seq((vid(0), vid(2)), (vid(3), vid(0)))
    val es = e.zipWithIndex.map { case ((a, b), i) => (Graphid.pack(2, i), a, b) }.toDF("id", "src", "dst")
    val fs = f.zipWithIndex.map { case ((a, b), i) => (Graphid.pack(4, i), a, b) }.toDF("id", "src", "dst")
    val dir = java.nio.file.Files.createTempDirectory("graft_degrees").toString
    new GraphStore(Map("V" -> vs, "W" -> ws), Map("E" -> es, "F" -> fs)).save(dir)
    GraphStore.load(spark, dir)
  }

  val allDegrees = "CALL graft.degrees() YIELD id, in_degree, out_degree RETURN id, in_degree, out_degree"

  /** A session whose reads have built the src and dst indexes of E and F. */
  def degreesSession(st: GraphStore, lookupRows: Long = graft.algorithms.Traversals.BroadcastPathRows)
      : CypherSession = {
    val s = new CypherSession(spark, st, Map.empty, lookupRows)
    for (_ <- 0 until 3) s.run(allDegrees).collect()
    s
  }

  test("degrees from driver-held indexes sum the labels per id, with the DataFrame plan's rows and schema") {
    for (nulls <- Seq(false, true)) {
      val st = twoLabels(nulls)
      val (local, jobs) = jobsDuring {
        val df = degreesSession(st).run(allDegrees)
        (df, unordered(df))
      }
      val frames = new CypherSession(spark, st).run(allDegrees)
      val ctx = s"nulls $nulls"
      assert(folded(local._1), ctx)
      assert(local._2 == unordered(frames), ctx)
      assert(local._1.schema == frames.schema, ctx)
      assert(local._1.schema == graft.algorithms.GraphAlgorithms.degrees(
        st.allEdges.select("src", "dst")).schema, ctx)
      assert(jobs > 0, ctx) // the warm-up builds the indexes
      val counts = local._2.map(_.split('|').toSeq)
      // vertex 1: in 0->1 twice and its self-loop; out the self-loop and 1->W0
      assert(counts.contains(Seq(vid(1).toString, "3", "2")), ctx)
      // vertex 0: in 2->0 (E) and 3->0 (F); out 0->1 twice (E) and 0->2 (F)
      assert(counts.contains(Seq(vid(0).toString, "2", "3")), ctx)
      assert(counts.contains(Seq(wid(0).toString, "1", "0")), ctx)
      assert(counts.count(_.head == "null") == (if (nulls) 2 else 0), ctx)
    }
  }

  test("degrees past the row bound or over persisted indexes keep the DataFrame plan") {
    val st = twoLabels(nulls = false)
    val rows = unordered(new CypherSession(spark, st).run(allDegrees))
    val bounded = degreesSession(st, lookupRows = 3).run(allDegrees)
    assert(!folded(bounded) && unordered(bounded) == rows)
    // the persisted index blocks among `ids`
    def indexBlocks(ids: Set[Int]) = ids.filter { id =>
      Option(spark.sparkContext.getPersistentRDDs(id).name).exists(_.startsWith("graft "))
    }
    withConf(persistedIndexes) {
      // no index is held on the driver under -1: degrees build none
      val (s, pinned) = persistedBy(degreesSession(st))
      val persisted = s.run(allDegrees)
      assert(!folded(persisted) && unordered(persisted) == rows)
      assert(s.heldIndexes.isEmpty && indexBlocks(pinned).isEmpty)
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "1") {
      // every index is persisted: the first one built stops the rest
      val (s, pinned) = persistedBy(degreesSession(st))
      val persisted = s.run(allDegrees)
      assert(!folded(persisted) && unordered(persisted) == rows)
      val built = s.heldIndexes.flatMap(_.rdd).map(_.id).toSet
      assert(built.size == 1 && indexBlocks(pinned) == built)
      s.heldIndexes.flatMap(_.rdd).foreach(_.unpersist())
    }
  }

  /** Whether the statement's tail was evaluated on the driver: its plan is
    * a bare LocalRelation.
    */
  def folded(df: DataFrame): Boolean = df.queryExecution.optimizedPlan
    .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Rows sorted, each list value sorted too: `collect` compared as a
    * multiset.
    */
  def unordered(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.map {
    case s: scala.collection.Seq[_] => s.map(show).sorted.mkString("[", ",", "]")
    case other => show(other)
  }.mkString("|")).sorted

  /** Lookup-answered reads whose aggregates, DISTINCT, ORDER BY, SKIP /
    * LIMIT and UNION the driver evaluates.
    */
  val tails = Seq(
    "MATCH (a:V {k: 0})-[:E]-(b:V) RETURN count(*) AS n",
    "MATCH (a:V {k: 1}) OPTIONAL MATCH (a)-[:E]->(b:V) RETURN a.uid AS a, count(b) AS c, count(b.x) AS cx",
    "MATCH (a:V {uid: 0})-[:E*1..2]-(b:V) RETURN count(DISTINCT b.uid) AS n",
    "MATCH (a:V {k: 0})-[:E]-(b:V) RETURN a.uid AS a, count(DISTINCT b.uid) AS n, count(DISTINCT b.k) AS m, " +
      "count(*) AS c",
    "MATCH (a:V {uid: 0})-[e:E]-(b:V) RETURN a.uid AS a, sum(e.w) AS s, avg(e.w) AS m, min(b.name) AS lo, " +
      "max(b.uid) AS hi",
    "MATCH (a:V {uid: 0})-[:E*1..2]-(b:V) RETURN sum(b.x) AS s, avg(b.x) AS m, min(b.x) AS lo, max(b.x) AS hi, " +
      "count(b.x) AS c",
    "MATCH (a:V {k: 1})-[:E]-(b:V) RETURN a.uid AS a, collect(b.uid) AS bs, collect(DISTINCT b.k) AS ks",
    "MATCH (a:V {uid: 999}) RETURN count(*) AS n, sum(a.x) AS s, collect(a.uid) AS c",
    "MATCH (a:V {uid: 999}) RETURN a.k AS k, count(*) AS n",
    "MATCH (a:V {uid: 0})-[:E*1..2]-(b:V) RETURN b.x AS x, count(*) AS n",
    "MATCH (a:V {k: 0}) OPTIONAL MATCH (a)-[:E]->(w:W) RETURN w.uid AS w, count(*) AS n",
    "MATCH (a:V {uid: 0})-[:E]-(b:V) RETURN DISTINCT b.k AS k",
    "MATCH (a:V {uid: 0})-[:E*1..2]-(b:V) RETURN b.uid AS u, b.x AS x ORDER BY x DESC, u SKIP 2 LIMIT 7",
    "MATCH (a:V {uid: 0})-[:E*1..2]-(b:V) RETURN DISTINCT b.x AS x ORDER BY x LIMIT 4",
    "MATCH (a:V {k: 0})-[:E]-(b:V) WITH b.uid AS u, count(*) AS n WHERE n > 1 RETURN u, n ORDER BY n DESC, u",
    "MATCH (a:V {uid: 0})-[:E]->(b:V) RETURN b.k AS k UNION MATCH (a:V {uid: 1})-[:E]-(b:V) RETURN b.k AS k",
    "MATCH (a:V {uid: 0})-[:E]->(b:V) RETURN b.k AS k UNION ALL MATCH (a:V {uid: 1})-[:E]-(b:V) RETURN b.k AS k")

  test("a lookup-answered read's tail on the driver returns a fresh session's rows and types") {
    for (seed <- Seq(1L, 2L)) {
      val st = store(seed)
      val s = resident(st)
      for (q <- tails) {
        val (local, frames) = (s.run(q), new CypherSession(spark, st).run(q))
        val ctx = s"seed $seed: $q"
        assert(lookedUp(local) && folded(local), ctx)
        assert(!lookedUp(frames), ctx)
        assert(shape(local) == shape(frames), ctx)
        assert(unordered(local) == unordered(frames), ctx)
      }
    }
  }

  test("the driver's tail returns the same rows at 1, 7 and 32 partitions and with AQE and codegen off") {
    val st = store(4)
    val default = tails.map(q => unordered(new CypherSession(spark, st).run(q)))
    for (conf <- Seq(
        Map("spark.sql.shuffle.partitions" -> "1"),
        Map("spark.sql.shuffle.partitions" -> "7"),
        Map("spark.sql.shuffle.partitions" -> "32"),
        Map("spark.sql.adaptive.enabled" -> "false", "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) {
      withConf(conf.toSeq: _*) {
        val s = resident(st)
        tails.zip(default).foreach { case (q, rows) =>
          val df = s.run(q)
          assert(folded(df), s"$conf: $q")
          assert(unordered(df) == rows, s"$conf: $q")
        }
      }
    }
  }

  test("an UNWIND that takes the tail past the row bound keeps the DataFrame tail") {
    val st = store(6)
    val fresh = new CypherSession(spark, st)
    def count(q: String) = fresh.run(q).collect().length.toLong
    // the bound passes every lookup (the edge lookup also finds the edge
    // into W); the UNWIND's rows pass it
    val hops = count("MATCH (a:V {uid: 0})-[:E]->(b:V) RETURN b.uid AS b")
    val bound = count("MATCH (a:V {uid: 0})-[:E]->(b) RETURN b.uid AS b")
    assert(3 * hops > bound)
    val q = "MATCH (a:V {uid: 0})-[:E]->(b:V) UNWIND [1, 2, 3] AS i RETURN b.uid AS b, i AS i, count(*) AS n"
    val rows = unordered(fresh.run(q))
    assert(rows.map(_.split('|').last.toLong).sum == 3 * hops)
    val unbounded = resident(st).run(q)
    assert(lookedUp(unbounded) && folded(unbounded) && unordered(unbounded) == rows)
    val bounded = resident(st, lookupRows = bound).run(q)
    assert(lookedUp(bounded) && !folded(bounded))
    assert(unordered(bounded) == rows)
  }
}
