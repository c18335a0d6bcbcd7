package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.cypher.CypherSession
import graft.model.Graphid
import graft.store.GraphStore

/** End-to-end Cypher tests over the canonical People graph
  * (FIXTURES.md §3 — mirrors the reference's executor/OPTIONAL/WITH tests):
  * Alice(30,Beijing), Bob(25,Shanghai), Charlie(35,Beijing),
  * David(28,Shenzhen); KNOWS: Alice→Bob(2020), Bob→Charlie(2021).
  */
class CypherSpec extends AnyFunSuite with SparkSuite {

  def peopleStore: GraphStore = {
    import spark.implicits._
    val persons = Seq(
      (Graphid.pack(100, 1), "Alice", 30L, "Beijing"),
      (Graphid.pack(100, 2), "Bob", 25L, "Shanghai"),
      (Graphid.pack(100, 3), "Charlie", 35L, "Beijing"),
      (Graphid.pack(100, 4), "David", 28L, "Shenzhen"))
      .toDF("id", "name", "age", "city")
    val knows = Seq(
      (Graphid.pack(101, 1), Graphid.pack(100, 1), Graphid.pack(100, 2), 2020L),
      (Graphid.pack(101, 2), Graphid.pack(100, 2), Graphid.pack(100, 3), 2021L))
      .toDF("id", "src", "dst", "since")
    new GraphStore(Map("Person" -> persons), Map("KNOWS" -> knows))
  }

  def session: CypherSession = new CypherSession(spark, peopleStore)

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("node scan with filter, projection, order, limit") {
    val df = session.run(
      "MATCH (n:Person) WHERE n.age >= 28 RETURN n.name AS name, n.age AS age ORDER BY n.age DESC LIMIT 2")
    assert(rows(df) == Seq(Seq("Charlie", 35L), Seq("Alice", 30L)))
  }

  test("one-hop pattern with WHERE on both endpoints") {
    val df = session.run(
      "MATCH (a:Person)-[r:KNOWS]->(b:Person) WHERE a.age >= 25 RETURN a.name AS a, r.since AS y, b.name AS b ORDER BY a")
    assert(rows(df) == Seq(Seq("Alice", 2020L, "Bob"), Seq("Bob", 2021L, "Charlie")))
  }

  test("inline property pattern") {
    val df = session.run("MATCH (a:Person {name: 'Alice'})-[:KNOWS]->(b) RETURN b.name AS n")
    assert(rows(df) == Seq(Seq("Bob")))
  }

  test("two-hop chain") {
    val df = session.run(
      "MATCH (a:Person)-[:KNOWS]->(b:Person)-[:KNOWS]->(c:Person) RETURN a.name AS a, c.name AS c")
    assert(rows(df) == Seq(Seq("Alice", "Charlie")))
  }

  test("undirected (Both) expansion") {
    val df = session.run(
      "MATCH (a:Person {name: 'Bob'})-[:KNOWS]-(x) RETURN x.name AS n ORDER BY n")
    assert(rows(df) == Seq(Seq("Alice"), Seq("Charlie")))
  }

  test("incoming direction") {
    val df = session.run("MATCH (a)<-[:KNOWS]-(b) RETURN a.name AS a, b.name AS b ORDER BY a")
    assert(rows(df) == Seq(Seq("Bob", "Alice"), Seq("Charlie", "Bob")))
  }

  test("OPTIONAL MATCH emits nulls for unmatched") {
    val df = session.run(
      "MATCH (a:Person) OPTIONAL MATCH (a)-[:KNOWS]->(b) RETURN a.name AS a, b.name AS b ORDER BY a")
    assert(rows(df) == Seq(
      Seq("Alice", "Bob"), Seq("Bob", "Charlie"), Seq("Charlie", null), Seq("David", null)))
  }

  test("aggregation with implicit grouping (openCypher semantics)") {
    val df = session.run(
      "MATCH (n:Person) RETURN n.city AS city, count(*) AS n, avg(n.age) AS avg_age ORDER BY city")
    assert(rows(df) == Seq(
      Seq("Beijing", 2L, 32.5), Seq("Shanghai", 1L, 25.0), Seq("Shenzhen", 1L, 28.0)))
  }

  test("count(entity) skips OPTIONAL nulls") {
    val df = session.run(
      "MATCH (a:Person) OPTIONAL MATCH (a)-[:KNOWS]->(b) RETURN a.name AS a, count(b) AS n ORDER BY a")
    assert(rows(df) == Seq(
      Seq("Alice", 1L), Seq("Bob", 1L), Seq("Charlie", 0L), Seq("David", 0L)))
  }

  test("WITH chaining + aggregate + post-WHERE") {
    val df = session.run(
      "MATCH (a:Person)-[:KNOWS]->(b) WITH a, count(b) AS n WHERE n >= 1 RETURN a.name AS name, n ORDER BY name")
    assert(rows(df) == Seq(Seq("Alice", 1L), Seq("Bob", 1L)))
  }

  test("correlated subsequent MATCH (reference cartesian bug fixed)") {
    val df = session.run(
      "MATCH (a:Person {name: 'Alice'}) MATCH (a)-[:KNOWS]->(b) RETURN b.name AS b")
    assert(rows(df) == Seq(Seq("Bob")))
  }

  test("variable-length expansion *1..2") {
    val df = session.run(
      "MATCH (a:Person {name: 'Alice'})-[*1..2]->(x) RETURN x.name AS n ORDER BY n")
    assert(rows(df) == Seq(Seq("Bob"), Seq("Charlie")))
  }

  test("DISTINCT and scalar functions") {
    val df = session.run(
      "MATCH (n:Person) RETURN DISTINCT toupper(n.city) AS c ORDER BY c")
    assert(rows(df) == Seq(Seq("BEIJING"), Seq("SHANGHAI"), Seq("SHENZHEN")))
  }

  test("expression surface: arithmetic, CASE, concat, coalesce") {
    val df = session.run(
      "MATCH (n:Person {name: 'Alice'}) RETURN n.age + 1 AS a, n.age / 7 AS d, " +
        "n.age % 7 AS m, CASE WHEN n.age > 28 THEN 'old' ELSE 'young' END AS c, " +
        "n.name + '!' AS s, coalesce(n.missing, 'x') AS z")
    assert(rows(df) == Seq(Seq(31L, 4L, 2L, "old", "Alice!", "x")))
  }

  test("missing property is NULL (openCypher divergence from reference)") {
    val df = session.run("MATCH (n:Person {name: 'Bob'}) RETURN n.nope AS x")
    assert(rows(df) == Seq(Seq(null)))
  }

  test("UNWIND and list literals") {
    val df = session.run("UNWIND [3, 1, 2] AS x RETURN x ORDER BY x")
    assert(rows(df) == Seq(Seq(3L), Seq(1L), Seq(2L)).sortBy(_.head.asInstanceOf[Long]))
  }

  test("id / labels / type / startNode / endNode functions") {
    val df = session.run(
      "MATCH (a:Person {name:'Alice'})-[r:KNOWS]->(b) " +
        "RETURN id(a) AS ia, labels(a) AS la, type(r) AS t, startNode(r) AS s, endNode(r) AS e")
    val r = rows(df).head
    assert(r == Seq(Graphid.pack(100, 1), "Person", "KNOWS",
      Graphid.pack(100, 1), Graphid.pack(100, 2)))
  }

  test("CREATE nodes and edge, then query (session state swap)") {
    val sess = session
    sess.run("CREATE (a:Person {name: 'Eve', age: 22, city: 'Wuhan'})")
    val df = sess.run("MATCH (n:Person) RETURN count(*) AS n")
    assert(rows(df) == Seq(Seq(5L)))
    sess.run("MATCH (a:Person {name: 'Eve'}), (b:Person {name: 'Alice'}) CREATE (a)-[:KNOWS {since: 2024}]->(b)")
    val df2 = sess.run("MATCH (:Person {name: 'Eve'})-[r:KNOWS]->(b) RETURN r.since AS y, b.name AS b")
    assert(rows(df2) == Seq(Seq(2024L, "Alice")))
  }

  test("SET updates a property") {
    val sess = session
    sess.run("MATCH (n:Person {name: 'Bob'}) SET n.age = n.age + 1")
    val df = sess.run("MATCH (n:Person {name: 'Bob'}) RETURN n.age AS a")
    assert(rows(df) == Seq(Seq(26L)))
  }

  test("DELETE with edges errors; DETACH DELETE works") {
    val sess = session
    val err = intercept[RuntimeException] {
      sess.run("MATCH (n:Person {name: 'Bob'}) DELETE n")
    }
    assert(err.getMessage.contains("DETACH"))
    sess.run("MATCH (n:Person {name: 'Bob'}) DETACH DELETE n")
    assert(rows(sess.run("MATCH (n:Person) RETURN count(*) AS n")) == Seq(Seq(3L)))
    assert(rows(sess.run("MATCH ()-[r:KNOWS]->() RETURN count(*) AS n")) == Seq(Seq(0L)))
  }

  test("unlabeled scan via JSON fallback") {
    val df = session.run("MATCH (n) WHERE n.age > 30 RETURN n.name AS name ORDER BY name")
    assert(rows(df) == Seq(Seq("Charlie")))
  }

  test("IS NULL / IN / STARTS WITH predicates") {
    val df = session.run(
      "MATCH (n:Person) WHERE n.city IN ['Beijing', 'Shenzhen'] AND n.name STARTS WITH 'C' " +
        "RETURN n.name AS name")
    assert(rows(df) == Seq(Seq("Charlie")))
  }

  test("SKIP and LIMIT") {
    val df = session.run("MATCH (n:Person) RETURN n.name AS name ORDER BY name SKIP 1 LIMIT 2")
    assert(rows(df) == Seq(Seq("Bob"), Seq("Charlie")))
  }

  test("CREATE over a binding set avoids a single-partition exchange") {
    val sess = session
    sess.run("MATCH (a:Person), (b:Person) CREATE (a)-[:ALL_PAIRS]->(b)")
    val plan = sess.store.edges("ALL_PAIRS").queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"plan funnels through one task:\n$plan")
    assert(rows(sess.run("MATCH ()-[r:ALL_PAIRS]->() RETURN count(*) AS n")) == Seq(Seq(16L)))
    // ids are unique and dense within the label
    val ids = sess.store.edges("ALL_PAIRS").select("id").collect().map(_.getLong(0))
    assert(ids.distinct.length == 16)
  }

  test("multi-label pattern = conjunction; empty on a single-label store") {
    val df = session.run("MATCH (n:Person:Admin) RETURN n.name AS name")
    assert(df.count() == 0)
    // identical repeated labels degenerate to the plain scan
    val df2 = session.run("MATCH (n:Person:Person) RETURN count(*) AS n")
    assert(rows(df2) == Seq(Seq(4L)))
  }

  test("integer division by zero errors (reference semantics)") {
    val ex = intercept[Exception] {
      session.run("MATCH (n:Person) RETURN n.age / 0 AS x").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("division by zero")))
  }

  test("split() uses the literal delimiter") {
    val df = session.run("MATCH (n:Person {name: 'Alice'}) RETURN split('a.b.c', '.') AS parts")
    assert(rows(df) == Seq(Seq(Seq("a", "b", "c"))))
  }

  test("WITH applies ORDER BY/LIMIT before WHERE (openCypher clause order)") {
    // top-2 by age = Charlie(35), Alice(30); WHERE then keeps Alice only
    val df = session.run(
      """MATCH (n:Person) WITH n ORDER BY n.age DESC LIMIT 2
        |WHERE n.age < 35 RETURN n.name AS name""".stripMargin)
    assert(rows(df) == Seq(Seq("Alice")))
  }

  test("CASE expression and aggregate-of-expression") {
    val df = session.run(
      """MATCH (n:Person)
        |RETURN CASE WHEN n.age >= 30 THEN 'senior' ELSE 'junior' END AS band,
        |  sum(n.age * 2) AS dbl ORDER BY band""".stripMargin)
    assert(rows(df) == Seq(Seq("junior", 106L), Seq("senior", 130L)))
  }

  test("OPTIONAL MATCH composes with var-length patterns") {
    val df = session.run(
      """MATCH (a:Person) OPTIONAL MATCH (a)-[r:KNOWS *1..2]->(b)
        |RETURN a.name AS name, count(b) AS n ORDER BY name""".stripMargin)
    // Alice reaches Bob (1 hop) and Charlie (2 hops); Bob reaches Charlie;
    // Charlie and David reach nobody but still appear (left join)
    assert(rows(df) == Seq(
      Seq("Alice", 2L), Seq("Bob", 1L), Seq("Charlie", 0L), Seq("David", 0L)))
  }

  test("re-binding a typed variable under a different label matches nothing") {
    val df = session.run(
      "MATCH (n:Person) MATCH (n:Admin) RETURN count(*) AS c")
    assert(rows(df) == Seq(Seq(0L)))
    // same label re-bind is a no-op
    val df2 = session.run(
      "MATCH (n:Person) MATCH (n:Person) RETURN count(*) AS c")
    assert(rows(df2) == Seq(Seq(4L)))
  }

  test("regex match requires a literal pattern and works") {
    val df = session.run(
      "MATCH (n:Person) WHERE n.name =~ '^[AB].*' RETURN n.name AS name ORDER BY name")
    assert(rows(df) == Seq(Seq("Alice"), Seq("Bob")))
  }

  test("var-length binds the relationship list and filters props per step") {
    val df = session.run(
      """MATCH (a:Person {name: 'Alice'})-[r:KNOWS *1..2]->(b)
        |RETURN b.name AS name, size(r) AS hops ORDER BY hops""".stripMargin)
    assert(rows(df) == Seq(Seq("Bob", 1L), Seq("Charlie", 2L)))
    // inline prop filters every expansion step: since=2021 kills hop 1
    val df2 = session.run(
      """MATCH (a:Person {name: 'Alice'})-[r:KNOWS {since: 2021} *1..2]->(b)
        |RETURN b.name AS name""".stripMargin)
    assert(df2.count() == 0)
  }

  test("replace is literal, list index handles negatives, integer / is exact") {
    val df = session.run(
      "RETURN replace('1.2.3', '.', '-') AS r, [1,2,3][-1] AS l, " +
        "9007199254740993 / 1 AS d")
    assert(rows(df) == Seq(Seq("1-2-3", 3L, 9007199254740993L)))
  }

  test("IS NULL on an unmatched OPTIONAL entity variable") {
    // Charlie and David know nobody: their OPTIONAL rows bind b to an
    // all-null entity, and `b IS NULL` must see that (id test, not struct)
    val df = session.run(
      """MATCH (a:Person) OPTIONAL MATCH (a)-[:KNOWS]->(b:Person)
        |WITH a, b WHERE b IS NULL
        |RETURN a.name AS name ORDER BY name""".stripMargin)
    assert(rows(df) == Seq(Seq("Charlie"), Seq("David")))
    val df2 = session.run(
      """MATCH (a:Person) OPTIONAL MATCH (a)-[:KNOWS]->(b:Person)
        |WITH a, b WHERE b IS NOT NULL
        |RETURN a.name AS name ORDER BY name""".stripMargin)
    assert(rows(df2) == Seq(Seq("Alice"), Seq("Bob")))
  }

  test("startNode/endNode report the stored orientation on incoming patterns") {
    // Alice-[KNOWS]->Bob walked from Bob's side: start must still be Alice
    val df = session.run(
      """MATCH (b:Person)<-[r:KNOWS]-(a:Person) WHERE b.name = 'Bob'
        |RETURN startNode(r) AS s, endNode(r) AS e""".stripMargin)
    assert(rows(df) == Seq(Seq(Graphid.pack(100, 1), Graphid.pack(100, 2))))
    // undirected: both rows report the one stored orientation
    val df2 = session.run(
      """MATCH (x:Person)-[r:KNOWS]-(y:Person) WHERE x.name = 'Bob'
        |RETURN startNode(r) AS s, endNode(r) AS e ORDER BY s""".stripMargin)
    assert(rows(df2) == Seq(
      Seq(Graphid.pack(100, 1), Graphid.pack(100, 2)),
      Seq(Graphid.pack(100, 2), Graphid.pack(100, 3))))
  }

  test("zero-length var-length matches the start vertex itself") {
    val df = session.run(
      """MATCH (a:Person {name: 'Alice'})-[r:KNOWS*0..1]->(b)
        |RETURN b.name AS name, size(r) AS hops ORDER BY hops""".stripMargin)
    assert(rows(df) == Seq(Seq("Alice", 0L), Seq("Bob", 1L)))
    // *0..0 binds only the vertex itself, and target constraints apply
    val df2 = session.run(
      "MATCH (a:Person {name: 'Alice'})-[:KNOWS*0..0]->(b:Person) RETURN b.name AS n")
    assert(rows(df2) == Seq(Seq("Alice")))
  }

  test("JSON-backed false/zero properties are falsy in WHERE (schemaless store)") {
    val json =
      """{"vertices":[
        |  {"id":"1","label":"Flag","properties":{"name":"t","active":true}},
        |  {"id":"2","label":"Flag","properties":{"name":"f","active":false}},
        |  {"id":"3","label":"Flag","properties":{"name":"z","active":0}},
        |  {"id":"4","label":"Flag","properties":{"name":"s","active":"yes"}}],
        |"edges":[]}""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_truthy", ".json")
    java.nio.file.Files.writeString(f, json)
    val store = graft.store.GraphIO.importJson(spark, f.toString)
    val sess = new CypherSession(spark, store)
    val got = rows(sess.run(
      "MATCH (n:Flag) WHERE n.active RETURN n.name AS name ORDER BY name"))
    assert(got == Seq(Seq("s"), Seq("t")))
  }

  test("JSON truthiness is typed: string 'false'/'0' are truthy, empties/null are not") {
    // the reference parses JSON properties into typed values before
    // is_truthy (match_executor.rs), so the STRING "false" is a non-empty
    // string (truthy) while the BOOLEAN false is falsy — a text-level
    // decode cannot tell them apart (r4 ADVICE); VARIANT typing can
    val json =
      """{"vertices":[
        |  {"id":"1","label":"F","properties":{"name":"sf","active":"false"}},
        |  {"id":"2","label":"F","properties":{"name":"sz","active":"0"}},
        |  {"id":"3","label":"F","properties":{"name":"es","active":""}},
        |  {"id":"4","label":"F","properties":{"name":"ea","active":[]}},
        |  {"id":"5","label":"F","properties":{"name":"fa","active":[1,2]}},
        |  {"id":"6","label":"F","properties":{"name":"nu","active":null}},
        |  {"id":"7","label":"F","properties":{"name":"mi"}},
        |  {"id":"8","label":"F","properties":{"name":"eo","active":{}}},
        |  {"id":"9","label":"F","properties":{"name":"fo","active":{"k":1}}},
        |  {"id":"10","label":"F","properties":{"name":"nf","active":2.5}}],
        |"edges":[]}""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_truthy2", ".json")
    java.nio.file.Files.writeString(f, json)
    val store = graft.store.GraphIO.importJson(spark, f.toString)
    val sess = new CypherSession(spark, store)
    val got = rows(sess.run(
      "MATCH (n:F) WHERE n.active RETURN n.name AS name ORDER BY name"))
    assert(got == Seq(Seq("fa"), Seq("fo"), Seq("nf"), Seq("sf"), Seq("sz")))
  }

  test("CREATE into a JSON-imported label folds props into the properties JSON") {
    // a mixed table (typed columns beside a properties JSON column) would
    // split property reads by row origin; the fold keeps the schemaless
    // shape uniform so one MATCH reads imported and created rows alike
    val json =
      """{"vertices":[
        |  {"id":"1","label":"City","properties":{"name":"Oslo","pop":700000}},
        |  {"id":"2","label":"City","properties":{"name":"Tromso","pop":77000}}],
        |"edges":[{"label":"ROAD","start":"1","end":"2","properties":{"km":1640}}]}""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_mixed", ".json")
    java.nio.file.Files.writeString(f, json)
    val sess = new CypherSession(spark,
      graft.store.GraphIO.importJson(spark, f.toString))
    sess.run("CREATE (c:City {name: 'Bergen', pop: 280000})")
    assert(sess.store.vertexTables("City").columns.toSet == Set("id", "properties"))
    val got = rows(sess.run(
      "MATCH (c:City) WHERE c.pop > 100000 RETURN c.name AS name ORDER BY name"))
    assert(got == Seq(Seq("Bergen"), Seq("Oslo")))
    // an edge CREATE into the imported ROAD table folds the same way,
    // and one MATCH reads imported and created edges alike
    sess.run("MATCH (a:City {name: 'Oslo'}), (b:City {name: 'Bergen'}) " +
      "CREATE (a)-[:ROAD {km: 463}]->(b)")
    assert(sess.store.edgeTables("ROAD").columns.toSet ==
      Set("id", "src", "dst", "properties"))
    val road = rows(sess.run(
      "MATCH (:City)-[r:ROAD]->(b:City) " +
        "RETURN toInteger(r.km) AS km, b.name AS to_city ORDER BY km"))
    assert(road == Seq(Seq(463L, "Bergen"), Seq(1640L, "Tromso")))
  }

  test("typed truthiness reaches nested schemaless properties") {
    val json =
      """{"vertices":[
        |  {"id":"1","label":"N","properties":{"name":"on","meta":{"enabled":true}}},
        |  {"id":"2","label":"N","properties":{"name":"off","meta":{"enabled":false}}},
        |  {"id":"3","label":"N","properties":{"name":"zero","meta":{"enabled":0}}},
        |  {"id":"4","label":"N","properties":{"name":"str","meta":{"enabled":"false"}}},
        |  {"id":"5","label":"N","properties":{"name":"none","meta":{}}}],
        |"edges":[]}""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_truthy3", ".json")
    java.nio.file.Files.writeString(f, json)
    val sess = new CypherSession(spark,
      graft.store.GraphIO.importJson(spark, f.toString))
    val got = rows(sess.run(
      "MATCH (n:N) WHERE n.meta.enabled RETURN n.name AS name ORDER BY name"))
    // boolean false and 0 are falsy even two levels deep; the non-empty
    // STRING "false" is truthy (reference typed is_truthy)
    assert(got == Seq(Seq("on"), Seq("str")))
  }

  test("un-aliased RETURN items take the reference's column names") {
    // reference get_return_key (executor/mod.rs:627-645): property chains
    // keep their dotted text, function calls become name(...), variables
    // stay themselves; aliases always win
    val df = session.run(
      "MATCH (n:Person) RETURN n.name, toUpper(n.name), n.age AS a LIMIT 1")
    assert(df.columns.toSeq == Seq("n.name", "toUpper(...)", "a"))
    // dotted names select cleanly with backticks (terminal rename only —
    // nothing internal resolves through them)
    assert(df.select(df("`n.name`")).count() == 1)
    val agg = session.run("MATCH (n:Person) RETURN count(*), max(n.age)")
    assert(agg.columns.toSeq == Seq("count(*)", "max(...)"))
  }

  test("ORDER BY matches RETURN items up to function-name case") {
    // function names are case-insensitive in openCypher; the AST keeps
    // the user's spelling for output naming, so structural resolution
    // must canonicalize before comparing (Count(n) == count(n))
    val df = session.run(
      "MATCH (n:Person) RETURN n.city AS city, Count(n) ORDER BY count(n) DESC, city")
    assert(df.columns.toSeq == Seq("city", "Count(...)"))
    assert(rows(df).map(_.head) == Seq("Beijing", "Shanghai", "Shenzhen"))
    val df2 = session.run(
      "MATCH (n:Person) RETURN DISTINCT toUpper(n.city) AS c ORDER BY TOUPPER(n.city)")
    assert(rows(df2) == Seq(Seq("BEIJING"), Seq("SHANGHAI"), Seq("SHENZHEN")))
  }

  test("ORDER BY an expression that is not projected") {
    val df = session.run(
      "MATCH (n:Person) RETURN n.name AS name ORDER BY n.age DESC LIMIT 2")
    assert(rows(df) == Seq(Seq("Charlie"), Seq("Alice")))
    // mixed: one projected key, one hidden key
    val df2 = session.run(
      "MATCH (n:Person) RETURN n.city AS city ORDER BY n.city, n.age DESC")
    assert(rows(df2) == Seq(Seq("Beijing"), Seq("Beijing"),
      Seq("Shanghai"), Seq("Shenzhen")))
  }

  /** Deterministic content snapshot of a store (ids + every prop column,
    * sorted) — run-twice idempotency compares these, a store "hash".
    */
  private def storeSnapshot(s: GraphStore): Seq[String] = {
    def dump(df: DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    }
    (s.vertexTables.toSeq.sortBy(_._1) ++ s.edgeTables.toSeq.sortBy(_._1))
      .flatMap { case (l, t) => dump(t).map(l + ":" + _) }
  }

  test("MERGE node form: creates once, matches thereafter (idempotent)") {
    val s = session
    s.run("MERGE (n:Person {name: 'Eve', age: 22, city: 'Wuhan'})")
    val after1 = storeSnapshot(s.store)
    s.run("MERGE (n:Person {name: 'Eve', age: 22, city: 'Wuhan'})")
    assert(storeSnapshot(s.store) == after1, "second MERGE must be a no-op")
    assert(s.run("MATCH (n:Person {name: 'Eve'}) RETURN n.age AS a")
      .collect().map(_.getLong(0)).toSeq == Seq(22L))
    // existing node: MERGE binds it instead of creating
    val n0 = s.store.vertexTables("Person").count()
    val got = s.run("MERGE (n:Person {name: 'Alice'}) RETURN n.age AS a")
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(30L))
    assert(s.store.vertexTables("Person").count() == n0)
    // a label absent from the store creates table + node
    s.run("MERGE (t:Tag {name: 'x'}) ")
    assert(s.store.vertexTables("Tag").count() == 1)
  }

  test("MERGE relationship form: creates exactly the missing pairs") {
    val s = session
    // Alice->Bob exists; MERGE over all (a,b) with a.city='Beijing', b='Bob'
    // must add only Charlie->Bob
    val q = "MATCH (a:Person), (b:Person {name: 'Bob'}) " +
      "WHERE a.city = 'Beijing' MERGE (a)-[:KNOWS {since: 2022}]->(b)"
    // note: the existing Alice->Bob edge has since=2020, so with the prop
    // constraint BOTH pairs are missing wrt {since: 2022}
    s.run(q)
    val after1 = storeSnapshot(s.store)
    s.run(q) // idempotent
    assert(storeSnapshot(s.store) == after1)
    assert(s.store.edgeTables("KNOWS").count() == 4) // 2 seed + 2 created
    // prop-free MERGE sees any existing edge as a match: no new edges
    s.run("MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) " +
      "MERGE (a)-[:KNOWS]->(b)")
    assert(s.store.edgeTables("KNOWS").count() == 4)
    // and a fresh edge label creates its table
    s.run("MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'David'}) " +
      "MERGE (a)-[:LIKES]->(b) ")
    s.run("MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'David'}) " +
      "MERGE (a)-[:LIKES]->(b) ")
    assert(s.store.edgeTables("LIKES").count() == 1)
  }

  test("MERGE binds the merged entities for later clauses") {
    val s = session
    val got = s.run(
      "MATCH (a:Person {name: 'Charlie'}), (b:Person {name: 'David'}) " +
        "MERGE (a)-[r:KNOWS {since: 2023}]->(b) RETURN a.name AS an, r.since AS y, b.name AS bn")
    assert(rows(got) == Seq(Seq("Charlie", 2023L, "David")))
    // guards: unbound endpoints / undirected / var-length fail loudly
    intercept[Exception](s.run("MERGE (x)-[:KNOWS]->(y)"))
    intercept[Exception](s.run(
      "MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) MERGE (a)-[:KNOWS]-(b)"))
    intercept[Exception](s.run(
      "MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) MERGE (a)-[:KNOWS *1..2]->(b)"))
  }

  test("shortestPath() plans to the traversal operator and binds p/endpoints") {
    val s = session
    // Alice -KNOWS-> Bob -KNOWS-> Charlie: dist 2, path = the id chain
    val got = s.run(
      "MATCH p = shortestPath((a:Person {name: 'Alice'})-[:KNOWS *..5]->(b:Person {name: 'Charlie'})) " +
        "RETURN a.name AS an, b.name AS bn, size(p) - 1 AS dist, p AS path")
    val r = got.collect()
    assert(r.length == 1)
    assert(r(0).getString(0) == "Alice" && r(0).getString(1) == "Charlie")
    assert(r(0).getLong(2) == 2L)
    assert(r(0).getSeq[Long](3) == Seq(Graphid.pack(100, 1), Graphid.pack(100, 2),
      Graphid.pack(100, 3)))
    // bound-endpoint form: earlier MATCH pins the vertices
    val got2 = s.run(
      "MATCH (a:Person {name: 'Alice'}), (b:Person {name: 'Bob'}) " +
        "MATCH p = shortestPath((a)-[*..3]->(b)) RETURN size(p) - 1 AS d")
    assert(got2.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // unreachable within the cap -> zero rows (MATCH semantics)
    assert(s.run(
      "MATCH p = shortestPath((a:Person {name: 'Charlie'})-[:KNOWS *..4]->(b:Person {name: 'Alice'})) " +
        "RETURN size(p) AS n").count() == 0)
    // a multi-vertex endpoint fails loudly (single-pair contract)
    val e = intercept[Exception](s.run(
      "MATCH p = shortestPath((a:Person {name: 'Alice'})-[*..2]->(b:Person)) RETURN p"))
    assert(e.getMessage.contains("exactly one vertex"), e.getMessage)
    // a lower bound > 1 contradicts "shortest" — rejected loudly instead
    // of silently returning a path shorter than the written pattern
    val e2 = intercept[Exception](s.run(
      "MATCH p = shortestPath((a:Person {name: 'Alice'})-[*3..6]->(b:Person {name: 'Charlie'})) RETURN p"))
    assert(e2.getMessage.contains("lower bound"), e2.getMessage)
  }

  test("weighted shortestPath {weight: 'prop'} picks min-cost over min-hops") {
    import spark.implicits._
    // 1→4 direct costs 10; 1→2→3→4 costs 3 — BFS and weighted disagree
    val v = (1 to 4).map(i => (Graphid.pack(7, i), s"v$i")).toDF("id", "name")
    val e = Seq(
      (Graphid.pack(8, 1), Graphid.pack(7, 1), Graphid.pack(7, 4), 10.0),
      (Graphid.pack(8, 2), Graphid.pack(7, 1), Graphid.pack(7, 2), 1.0),
      (Graphid.pack(8, 3), Graphid.pack(7, 2), Graphid.pack(7, 3), 1.0),
      (Graphid.pack(8, 4), Graphid.pack(7, 3), Graphid.pack(7, 4), 1.0))
      .toDF("id", "src", "dst", "w")
    val sess = new CypherSession(spark,
      new graft.store.GraphStore(Map("N" -> v), Map("E" -> e)))
    val bfs = sess.run(
      "MATCH p = shortestPath((a:N {name: 'v1'})-[:E *..4]->(b:N {name: 'v4'})) " +
        "RETURN size(p) - 1 AS d")
    assert(rows(bfs) == Seq(Seq(1L))) // unweighted: the direct hop
    val w = sess.run(
      "MATCH p = shortestPath((a:N {name: 'v1'})-[:E *..4 {weight: 'w'}]->(b:N {name: 'v4'})) " +
        "RETURN p AS path")
    assert(w.collect()(0).getSeq[Long](0) ==
      Seq(Graphid.pack(7, 1), Graphid.pack(7, 2), Graphid.pack(7, 3), Graphid.pack(7, 4)))
    // the knob must be a string literal naming the property
    val err = intercept[Exception](sess.run(
      "MATCH p = shortestPath((a:N {name: 'v1'})-[:E *..2 {weight: 1}]->(b:N {name: 'v4'})) RETURN p"))
    assert(err.getMessage.contains("string literal"), err.getMessage)
  }

  test("weighted shortestPath reads weights off schemaless JSON properties") {
    // same topology as the typed test (direct hop costs 10, the 3-hop
    // detour costs 3) but imported from JSON, so the edge table has only
    // (id, src, dst, properties) and the {weight:'w'} knob must take the
    // get_json_object fallback — the reference reads weights off JSON
    // properties too (shortest_path.rs:77-141)
    val json =
      """{"vertices":[
        |  {"id":"1","label":"W","properties":{"name":"v1"}},
        |  {"id":"2","label":"W","properties":{"name":"v2"}},
        |  {"id":"3","label":"W","properties":{"name":"v3"}},
        |  {"id":"4","label":"W","properties":{"name":"v4"}}],
        |"edges":[
        |  {"label":"E","start":"1","end":"4","properties":{"w":10}},
        |  {"label":"E","start":"1","end":"2","properties":{"w":1}},
        |  {"label":"E","start":"2","end":"3","properties":{"w":1}},
        |  {"label":"E","start":"3","end":"4","properties":{"w":1}}]}""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_wjson", ".json")
    java.nio.file.Files.writeString(f, json)
    val sess = new CypherSession(spark,
      graft.store.GraphIO.importJson(spark, f.toString))
    // unweighted control: BFS takes the direct hop
    val bfs = sess.run(
      "MATCH p = shortestPath((a:W {name: 'v1'})-[:E *..4]->(b:W {name: 'v4'})) " +
        "RETURN size(p) - 1 AS d")
    assert(rows(bfs) == Seq(Seq(1L)))
    // weighted: the JSON-string weight routes the path through the detour
    val w = sess.run(
      "MATCH p = shortestPath((a:W {name: 'v1'})-[:E *..4 {weight: 'w'}]->(b:W {name: 'v4'})) " +
        "RETURN size(p) - 1 AS d")
    assert(rows(w) == Seq(Seq(3L)))
    // a key absent from the JSON falls back to weight 1.0 per edge — the
    // min-cost path degenerates to the min-hop one
    val missing = sess.run(
      "MATCH p = shortestPath((a:W {name: 'v1'})-[:E *..4 {weight: 'nope'}]->(b:W {name: 'v4'})) " +
        "RETURN size(p) - 1 AS d")
    assert(rows(missing) == Seq(Seq(1L)))
  }

  test("EXISTS pattern predicate compiles to semi/anti joins") {
    val s = session
    // semi: who has an outgoing KNOWS edge
    assert(rows(s.run(
      "MATCH (a:Person) WHERE EXISTS((a)-[:KNOWS]->()) RETURN a.name AS n ORDER BY n"))
      == Seq(Seq("Alice"), Seq("Bob")))
    // anti: who has none
    assert(rows(s.run(
      "MATCH (a:Person) WHERE NOT EXISTS((a)-[:KNOWS]->()) RETURN a.name AS n ORDER BY n"))
      == Seq(Seq("Charlie"), Seq("David")))
    // incoming direction inside the pattern
    assert(rows(s.run(
      "MATCH (a:Person) WHERE EXISTS((a)<-[:KNOWS]-()) RETURN a.name AS n ORDER BY n"))
      == Seq(Seq("Bob"), Seq("Charlie")))
    // inline props inside a NOT EXISTS pattern (filtered anti-join)
    assert(rows(s.run(
      "MATCH (a:Person) WHERE NOT EXISTS((a)-[:KNOWS {since: 2021}]->()) " +
        "RETURN a.name AS n ORDER BY n"))
      == Seq(Seq("Alice"), Seq("Charlie"), Seq("David")))
    // mixes with scalar conjuncts
    assert(rows(s.run(
      "MATCH (a:Person) WHERE a.age >= 28 AND EXISTS((a)-[:KNOWS]->()) " +
        "RETURN a.name AS n"))
      == Seq(Seq("Alice")))
    // WITH ... WHERE EXISTS goes through the projection path too
    assert(rows(s.run(
      "MATCH (a:Person) WITH a WHERE EXISTS((a)-[:KNOWS]->(:Person)) " +
        "RETURN a.name AS n ORDER BY n"))
      == Seq(Seq("Alice"), Seq("Bob")))
  }

  test("EXISTS value form and misuse errors") {
    val s = session
    // legacy EXISTS(expr) is IS NOT NULL; unmatched OPTIONAL b is null
    assert(rows(s.run(
      "MATCH (a:Person) OPTIONAL MATCH (a)-[:KNOWS]->(b:Person) " +
        "WITH a, b WHERE EXISTS(b.name) RETURN a.name AS n ORDER BY n"))
      == Seq(Seq("Alice"), Seq("Bob")))
    // EXISTS((a)) with no hops is the value form on the variable
    assert(s.run(
      "MATCH (a:Person) WHERE EXISTS((a)) RETURN a.name AS n").count() == 4)
    // a pattern predicate under OR cannot become a scalar column — loud error
    val err = intercept[Exception](s.run(
      "MATCH (a:Person) WHERE a.age > 100 OR EXISTS((a)-[:KNOWS]->()) RETURN a.name"))
    assert(err.getMessage.contains("top-level WHERE conjuncts"), err.getMessage)
    // a pattern sharing no bound variable is rejected, not cross-joined
    val err2 = intercept[Exception](s.run(
      "MATCH (a:Person) WHERE EXISTS((x:Person)-[:KNOWS]->()) RETURN a.name"))
    assert(err2.getMessage.contains("bound"), err2.getMessage)
  }

  test("CALL graft.mst: weighted form; a present non-integer weight is loud") {
    import spark.implicits._
    val sess = session
    // KNOWS carries `since` (2020, 2021) — the weighted form reads it;
    // the people graph is a path, so the MSF is the graph itself
    val df = sess.run(
      "CALL graft.mst('since') YIELD component, src, dst, w " +
        "RETURN component, src, dst, w ORDER BY w")
    assert(rows(df) == Seq(
      Seq(Graphid.pack(100, 1), Graphid.pack(100, 1),
        Graphid.pack(100, 2), 2020L),
      Seq(Graphid.pack(100, 1), Graphid.pack(100, 2),
        Graphid.pack(100, 3), 2021L)))
    // an ABSENT property defaults to 1 (the graft.distance convention)
    assert(rows(sess.run(
      "CALL graft.mst('nope') YIELD w RETURN w ORDER BY w"))
      == Seq(Seq(1L), Seq(1L)))
    // a PRESENT value that does not cast to long fails loudly (r18
    // ADVICE): a silent default-1 would silently change the MSF
    val ps = peopleStore
    val bad = new CypherSession(spark, new GraphStore(ps.vertexTables,
      Map("KNOWS" -> Seq((Graphid.pack(101, 1), Graphid.pack(100, 1),
        Graphid.pack(100, 2), "heavy")).toDF("id", "src", "dst", "wt"))))
    val e = intercept[Exception](bad.run(
      "CALL graft.mst('wt') YIELD w RETURN w"))
    assert(e.getMessage.contains("non-integer"), e.getMessage)
  }

  test("CALL graft.latestDeparture: temporal sweep, loud failure paths") {
    val sess = session
    // KNOWS carries `since` as the event time: 1-[2020]->2-[2021]->3;
    // target Charlie with deadline 2021 admits both hops
    val df = sess.run(
      s"CALL graft.latestDeparture(${Graphid.pack(100, 3)}, 2021, 'since') " +
        "YIELD id, depart RETURN id, depart ORDER BY depart, id")
    assert(rows(df) == Seq(
      Seq(Graphid.pack(100, 1), 2020L),
      Seq(Graphid.pack(100, 2), 2021L),
      Seq(Graphid.pack(100, 3), 2021L)))
    // deadline 2020 closes the 2021 hop: only the target remains seeded
    val df2 = sess.run(
      s"CALL graft.latestDeparture(${Graphid.pack(100, 3)}, 2020, 'since') " +
        "YIELD id, depart RETURN id, depart ORDER BY id")
    assert(rows(df2) == Seq(Seq(Graphid.pack(100, 3), 2020L)))
    // a missing deadline argument fails loudly
    val e1 = intercept[Exception](sess.run(
      "CALL graft.latestDeparture(1) YIELD id, depart RETURN id"))
    assert(e1.getMessage.contains("argument 2"), e1.getMessage)
    // the default time property 't' is absent from every KNOWS edge —
    // a temporal sweep must refuse to default an event time
    val e2 = intercept[Exception](sess.run(
      s"CALL graft.latestDeparture(${Graphid.pack(100, 3)}, 2021) " +
        "YIELD id, depart RETURN id"))
    assert(e2.getMessage.contains("time property 't'"), e2.getMessage)
  }

  test("CALL graft.fewestHops: temporal hop counts, loud failure paths") {
    val sess = session
    // KNOWS 1-[2020]->2-[2021]->3: hops 0/1/2 from Alice; hop cap 1 trims
    val df = sess.run(
      s"CALL graft.fewestHops(${Graphid.pack(100, 1)}, 8, 'since') " +
        "YIELD id, hops RETURN id, hops ORDER BY id")
    assert(rows(df) == Seq(
      Seq(Graphid.pack(100, 1), 0L),
      Seq(Graphid.pack(100, 2), 1L),
      Seq(Graphid.pack(100, 3), 2L)))
    val capped = sess.run(
      s"CALL graft.fewestHops(${Graphid.pack(100, 1)}, 1, 'since') " +
        "YIELD id, hops RETURN id, hops ORDER BY id")
    assert(rows(capped).map(_.head) ==
      Seq(Graphid.pack(100, 1), Graphid.pack(100, 2)))
    // missing time property refuses to default
    val e1 = intercept[Exception](sess.run(
      s"CALL graft.fewestHops(${Graphid.pack(100, 1)}) YIELD id RETURN id"))
    assert(e1.getMessage.contains("time property 't'"), e1.getMessage)
    val e2 = intercept[Exception](sess.run(
      "CALL graft.fewestHops(1, 2, 'since', 9) YIELD id RETURN id"))
    assert(e2.getMessage.contains("at most 3"), e2.getMessage)
  }

  test("CALL graft.fastestDuration: temporal sweep, loud failure paths") {
    val sess = session
    // KNOWS carries `since`: 1-[2020]->2-[2021]->3. From Alice the only
    // departure is 2020; durations are 0/0/1 (waiting one unit at Bob).
    val df = sess.run(
      s"CALL graft.fastestDuration(${Graphid.pack(100, 1)}, 'since') " +
        "YIELD id, duration RETURN id, duration ORDER BY id")
    assert(rows(df) == Seq(
      Seq(Graphid.pack(100, 1), 0L),
      Seq(Graphid.pack(100, 2), 0L),
      Seq(Graphid.pack(100, 3), 1L)))
    // the default time property 't' is absent from every KNOWS edge —
    // a temporal sweep must refuse to default an event time
    val e1 = intercept[Exception](sess.run(
      s"CALL graft.fastestDuration(${Graphid.pack(100, 1)}) " +
        "YIELD id, duration RETURN id"))
    assert(e1.getMessage.contains("time property 't'"), e1.getMessage)
    // a non-string travel-time argument fails loudly
    val e2 = intercept[Exception](sess.run(
      "CALL graft.fastestDuration(1, 'since', 3) YIELD id RETURN id"))
    assert(e2.getMessage.contains("string literal"), e2.getMessage)
    // weighted sweep (arg 3 = travel-time property): with since as both
    // time and travel, 1-[2020]->2 arrives at 4040, so the 2021 edge to
    // Charlie is no longer usable — only Bob is reached (duration 2020)
    val dfw = sess.run(
      s"CALL graft.fastestDuration(${Graphid.pack(100, 1)}, 'since', 'since') " +
        "YIELD id, duration RETURN id, duration ORDER BY id")
    assert(rows(dfw) == Seq(
      Seq(Graphid.pack(100, 1), 0L),
      Seq(Graphid.pack(100, 2), 2020L)))
    // a missing travel-time property refuses to default
    val e3 = intercept[Exception](sess.run(
      s"CALL graft.fastestDuration(${Graphid.pack(100, 1)}, 'since', 'w') " +
        "YIELD id, duration RETURN id"))
    assert(e3.getMessage.contains("travel-time property 'w'"), e3.getMessage)
  }

  test("CALL graft.kReachable: temporal reach counts, loud failure paths") {
    val sess = session
    // KNOWS 1-[2020]->2-[2021]->3: from Alice departing 2020 with
    // deadline 2021 the count includes the source itself (arrival t0)
    val df = sess.run(
      s"CALL graft.kReachable(${Graphid.pack(100, 1)}, 2020, 2021, 4, 'since') " +
        "YIELD sid, n_reachable RETURN sid, n_reachable")
    assert(rows(df) == Seq(Seq(Graphid.pack(100, 1), 3L)))
    // deadline 2020 closes the 2021 hop
    val df2 = sess.run(
      s"CALL graft.kReachable(${Graphid.pack(100, 1)}, 2020, 2020, 4, 'since') " +
        "YIELD sid, n_reachable RETURN n_reachable")
    assert(rows(df2) == Seq(Seq(2L)))
    // the hop cap trims the sweep: k = 1 cannot reach Charlie
    val df3 = sess.run(
      s"CALL graft.kReachable(${Graphid.pack(100, 1)}, 2020, 2021, 1, 'since') " +
        "YIELD sid, n_reachable RETURN n_reachable")
    assert(rows(df3) == Seq(Seq(2L)))
    // missing deadline argument fails loudly
    val e1 = intercept[Exception](sess.run(
      "CALL graft.kReachable(1, 2020) YIELD sid RETURN sid"))
    assert(e1.getMessage.contains("argument 3"), e1.getMessage)
    // the default time property 't' is absent — refuse to default
    val e2 = intercept[Exception](sess.run(
      s"CALL graft.kReachable(${Graphid.pack(100, 1)}, 2020, 2021) " +
        "YIELD sid RETURN sid"))
    assert(e2.getMessage.contains("time property 't'"), e2.getMessage)
  }

  test("CALL mixing statistics: assortativity, reciprocity, modularity") {
    val sess = session
    // KNOWS chain 1->2->3: every (outdeg, indeg) pair is (1, 1)
    assert(rows(sess.run(
      "CALL graft.assortativity() YIELD m, sx, sy, sxy, sxx, syy " +
        "RETURN m, sx, sy, sxy, sxx, syy"))
      == Seq(Seq(2L, 2L, 2L, 2L, 2L, 2L)))
    // a directed chain has no reciprocal edges
    assert(rows(sess.run(
      "CALL graft.reciprocity() YIELD n_edges, n_recip, ratio_ppm " +
        "RETURN n_edges, n_recip, ratio_ppm"))
      == Seq(Seq(2L, 0L, 0L)))
    // 4 sync-LPA rounds oscillate on the bipartite path to {1,3} vs {2}:
    // m2 = 4, intra2 = 0 (both closure edges cross), dc = (2, 2) -> 8
    assert(rows(sess.run(
      "CALL graft.modularity(4) YIELD m2, intra2, sum_dc2, n_comm " +
        "RETURN m2, intra2, sum_dc2, n_comm"))
      == Seq(Seq(4L, 0L, 8L, 2L)))
    // one round settles on a different partition — the budget is honored:
    // labels (2,1,2) -> {2} alone vs {1,3}; same moments here by symmetry
    assert(rows(sess.run(
      "CALL graft.modularity(1) YIELD m2, intra2, sum_dc2, n_comm " +
        "RETURN m2, intra2, sum_dc2, n_comm"))
      == Seq(Seq(4L, 0L, 8L, 2L)))
    // the refinement sweep through CALL: the 1-round LPA seed on the
    // chain is (2,1,2) -> {1,3} vs {2}; all three vertices take their
    // best positive move (the documented synchronous swap) -> (1,2,1)
    assert(rows(sess.run(
      "CALL graft.louvainRefine(1) YIELD id, lbl RETURN id, lbl ORDER BY id"))
      == Seq(Seq(Graphid.pack(100, 1), Graphid.pack(100, 1)),
        Seq(Graphid.pack(100, 2), Graphid.pack(100, 2)),
        Seq(Graphid.pack(100, 3), Graphid.pack(100, 1))))
    // arity violations fail loudly
    val e1 = intercept[Exception](sess.run(
      "CALL graft.assortativity(3) YIELD m RETURN m"))
    assert(e1.getMessage.contains("at most 0"), e1.getMessage)
    val e2 = intercept[Exception](sess.run(
      "CALL graft.modularity(2, 3) YIELD m2 RETURN m2"))
    assert(e2.getMessage.contains("at most 1"), e2.getMessage)
    val e3 = intercept[Exception](sess.run(
      "CALL graft.louvainRefine(1, 2) YIELD id RETURN id"))
    assert(e3.getMessage.contains("at most 1"), e3.getMessage)
  }

  test("CALL graft.temporalBetweenness / pivotStress / weighted louvain surfaces") {
    val sess = session
    // since-chain 1-[2020]->2-[2021]->3 from Alice at t0 = 2020: one
    // minimal journey per target, Bob interior for pair (1,3) -> 1.0
    val tb = sess.run(
      s"CALL graft.temporalBetweenness(${Graphid.pack(100, 1)}, 2020, 4, 'since') " +
        "YIELD id, betweenness RETURN id, betweenness ORDER BY id")
    assert(rows(tb) == Seq(
      Seq(Graphid.pack(100, 1), 0.0),
      Seq(Graphid.pack(100, 2), 1.0),
      Seq(Graphid.pack(100, 3), 0.0)))
    val e1 = intercept[Exception](sess.run(
      s"CALL graft.temporalBetweenness(${Graphid.pack(100, 1)}, 0) " +
        "YIELD id RETURN id"))
    assert(e1.getMessage.contains("time property 't'"), e1.getMessage)
    // pivot stress at full sampling (10 > |V| = 3) equals exact
    // all-sources stress on the chain — only pair (1,3) has an interior —
    // and the |V|/|S| = 1 estimate coincides
    val ps = sess.run(
      "CALL graft.pivotStress(10, 8) YIELD id, stress, stress_est " +
        "RETURN id, stress, stress_est ORDER BY id")
    assert(rows(ps) == Seq(
      Seq(Graphid.pack(100, 1), 0L, 0L),
      Seq(Graphid.pack(100, 2), 1L, 1L),
      Seq(Graphid.pack(100, 3), 0L, 0L)))
    val e2 = intercept[Exception](sess.run(
      "CALL graft.pivotStress(1, 2, 3) YIELD id RETURN id"))
    assert(e2.getMessage.contains("at most 2"), e2.getMessage)
    // DOULION at full keep on the triangle-free chain: every canonical
    // edge survives, degrees are the undirected ones, counts/estimates 0
    val dt = sess.run(
      "CALL graft.doulionTriangles(1000) " +
        "YIELD id, deg_sampled, triangles_sampled, triangles_est " +
        "RETURN id, deg_sampled, triangles_sampled, triangles_est ORDER BY id")
    assert(rows(dt) == Seq(
      Seq(Graphid.pack(100, 1), 1L, 0L, 0L),
      Seq(Graphid.pack(100, 2), 2L, 0L, 0L),
      Seq(Graphid.pack(100, 3), 1L, 0L, 0L)))
    val e2b = intercept[Exception](sess.run(
      "CALL graft.doulionTriangles(0) YIELD id RETURN id"))
    assert(e2b.getMessage.contains("keepPermille"), e2b.getMessage)
    // weighted louvain: the 'weightProp' arg reaches the weighted closure
    // (positive 'since' weights run; every edge vertex gets a label)
    val wl = sess.run(
      "CALL graft.louvain(1, 1, 'since') YIELD id, lbl RETURN id, lbl ORDER BY id")
    assert(rows(wl).map(_.head) == Seq(Graphid.pack(100, 1),
      Graphid.pack(100, 2), Graphid.pack(100, 3)))
    // a missing weight property is NULL on every edge — rejected loudly
    val e3 = intercept[Exception](sess.run(
      "CALL graft.louvain(1, 1, 'nope') YIELD id RETURN id"))
    assert(e3.getMessage.contains("non-positive"), e3.getMessage)
    // a FRACTIONAL weight fails loudly too (r15 ADVICE): the CALL
    // surface casts the JSON string to DOUBLE — a LONG cast would
    // silently floor 2.5 to 2, bypassing weightedClosure's advertised
    // non-integral rejection and quietly rewriting degree sums
    sess.run("CREATE (f1:F {k: 1})-[:KNOWS {since: 2.5}]->(f2:F {k: 2})")
    val e4 = intercept[Exception](sess.run(
      "CALL graft.louvain(1, 1, 'since') YIELD id RETURN id"))
    assert(e4.getMessage.contains("non-integral"), e4.getMessage)
    // why the CALL surface casts through DECIMAL(38,9), not DOUBLE (r16
    // review): decimal keeps a 2^53+1 integer weight exact on the way to
    // LONG, where the double path silently rounds it off by one
    val big = spark.sql(
      "SELECT CAST(CAST('9007199254740993' AS DECIMAL(38,9)) AS BIGINT), " +
        "CAST(CAST('9007199254740993' AS DOUBLE) AS BIGINT)").head()
    assert(big.getLong(0) == 9007199254740993L
      && big.getLong(1) != 9007199254740993L)
  }

  test("CALL graft.temporalPivotStress: full-sample estimate, loud failure") {
    val sess = session
    // since-chain sources {1: 2020, 2: 2021}, n_src = 2; full sampling
    // (10 > 2): only Bob is interior (journey 1->2->3), est = 1*2 div 2
    val df = sess.run(
      "CALL graft.temporalPivotStress(10, 4, 'since') " +
        "YIELD id, stress, stress_est RETURN id, stress, stress_est " +
        "ORDER BY id")
    assert(rows(df) == Seq(
      Seq(Graphid.pack(100, 1), 0L, 0L),
      Seq(Graphid.pack(100, 2), 1L, 1L),
      Seq(Graphid.pack(100, 3), 0L, 0L)))
    // the default time property 't' is absent — loud, never defaulted
    val e1 = intercept[Exception](sess.run(
      "CALL graft.temporalPivotStress(4) YIELD id RETURN id"))
    assert(e1.getMessage.contains("time property 't'"), e1.getMessage)
  }

  test("CALL graft.earliestArrival / temporalCloseness / stress / betweenness surfaces") {
    val sess = session
    val alice = Graphid.pack(100, 1)
    // min arrivals on the since-chain from Alice departing 2020:
    // Alice seeds at t0, Bob via the 2020 edge, Charlie via 2021
    val ea = sess.run(
      s"CALL graft.earliestArrival($alice, 2020, 'since') " +
        "YIELD id, arrival RETURN id, arrival ORDER BY id")
    assert(rows(ea) == Seq(
      Seq(alice, 2020L),
      Seq(Graphid.pack(100, 2), 2020L),
      Seq(Graphid.pack(100, 3), 2021L)))
    val e1 = intercept[Exception](sess.run(
      s"CALL graft.earliestArrival($alice, 0) YIELD id RETURN id"))
    assert(e1.getMessage.contains("time property 't'"), e1.getMessage)
    // the g49 digest: 2 reached (self excluded), durations 0 + 1
    val tc = sess.run(
      s"CALL graft.temporalCloseness($alice, 'since') " +
        "YIELD sid, n_reach, sum_duration RETURN sid, n_reach, sum_duration")
    assert(rows(tc) == Seq(Seq(alice, 2L, 1L)))
    // bounded-source Brandes through CALL: from Alice and Bob only pair
    // (Alice, Charlie) has an interior — Bob, once (and fully, sigma = 1)
    val st = sess.run(
      s"CALL graft.stress(6, $alice, ${Graphid.pack(100, 2)}) " +
        "YIELD id, stress RETURN id, stress ORDER BY id")
    assert(rows(st) == Seq(
      Seq(alice, 0L),
      Seq(Graphid.pack(100, 2), 1L),
      Seq(Graphid.pack(100, 3), 0L)))
    val bt = sess.run(
      s"CALL graft.betweenness(6, $alice, ${Graphid.pack(100, 2)}) " +
        "YIELD id, betweenness RETURN id, betweenness ORDER BY id")
    assert(rows(bt) == Seq(
      Seq(alice, 0.0),
      Seq(Graphid.pack(100, 2), 1.0),
      Seq(Graphid.pack(100, 3), 0.0)))
    val e2 = intercept[Exception](sess.run(
      "CALL graft.stress(0, 1) YIELD id RETURN id"))
    assert(e2.getMessage.contains("positive"), e2.getMessage)
    val e3 = intercept[Exception](sess.run(
      "CALL graft.betweenness(6) YIELD id RETURN id"))
    assert(e3.getMessage.contains("at least one source"), e3.getMessage)
    // the edge-keyed twin (g53): Alice→Bob carries Alice's paths ending
    // at Bob and at Charlie (2); Bob→Charlie carries one from each source
    val es = sess.run(
      s"CALL graft.edgeStress(6, $alice, ${Graphid.pack(100, 2)}) " +
        "YIELD src, dst, stress RETURN src, dst, stress ORDER BY src")
    assert(rows(es) == Seq(
      Seq(alice, Graphid.pack(100, 2), 2L),
      Seq(Graphid.pack(100, 2), Graphid.pack(100, 3), 2L)))
    val e3b = intercept[Exception](sess.run(
      "CALL graft.edgeStress(6) YIELD src RETURN src"))
    assert(e3b.getMessage.contains("at least one source"), e3b.getMessage)
    // WF closeness from Alice: dists 1 (Bob) + 2 (Charlie), ppm = 2M div 3
    val cl = sess.run(
      s"CALL graft.closeness(6, $alice) " +
        "YIELD id, sum_dist, n_reached, closeness_ppm " +
        "RETURN id, sum_dist, n_reached, closeness_ppm")
    assert(rows(cl) == Seq(Seq(alice, 3L, 2L, 666666L)))
    // harmonic per reached vertex from Alice + Bob: Bob gets 840 (d = 1
    // from Alice), Charlie 420 (d = 2 from Alice) + 840 (d = 1 from Bob)
    val ha = sess.run(
      s"CALL graft.harmonic(6, $alice, ${Graphid.pack(100, 2)}) " +
        "YIELD id, h840, n_reached RETURN id, h840, n_reached ORDER BY id")
    assert(rows(ha) == Seq(
      Seq(Graphid.pack(100, 2), 840L, 1L),
      Seq(Graphid.pack(100, 3), 1260L, 2L)))
    val e4 = intercept[Exception](sess.run(
      "CALL graft.harmonic(9, 1) YIELD id RETURN id"))
    assert(e4.getMessage.contains("1..8"), e4.getMessage)
    // per-target temporal mirror: Charlie is reached by himself (0 hops),
    // Bob (departs 2021), and Alice (2020 then 2021) by deadline 2021
    val kr = sess.run(
      s"CALL graft.kReaching(${Graphid.pack(100, 3)}, 2021, 2020, 4, 'since') " +
        "YIELD tid, n_reachable RETURN tid, n_reachable")
    assert(rows(kr) == Seq(Seq(Graphid.pack(100, 3), 3L)))
  }

  test("explain renders the physical plan without executing mutations") {
    val s = session
    val before = s.store
    val p = s.explain(
      "MATCH (a:Person)-[:KNOWS]->(b:Person) WHERE a.age > 25 RETURN a.name AS n")
    assert(p.contains("Physical Plan"))
    // the hop compiles to a join, not a loop
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"), p)
    // a write statement explains without mutating the session store
    s.explain("CREATE (x:Person {name: 'Ghost', age: 1})")
    assert(s.store eq before)
    assert(s.run("MATCH (n:Person {name: 'Ghost'}) RETURN n.name").count() == 0)
  }

  test("FOREACH creates one node per list element") {
    val s = session
    s.run("FOREACH (k IN [1, 2, 3] | CREATE (:Tag {k: k}))")
    assert(s.run("MATCH (t:Tag) RETURN count(*) AS n").head.getLong(0) == 3L)
    assert(s.run("MATCH (t:Tag) WHERE t.k = 2 RETURN count(*) AS n").head.getLong(0) == 1L)
  }

  test("FOREACH over a collected list from the data") {
    val s = session
    s.run(
      """MATCH (n:Person) WITH collect(n.age) AS ages
        |FOREACH (a IN ages | CREATE (:AgeTag {v: a}))""".stripMargin)
    assert(s.run("MATCH (t:AgeTag) RETURN count(*) AS n").head.getLong(0) == 4L)
    assert(s.run("MATCH (t:AgeTag) WHERE t.v = 30 RETURN count(*) AS n").head.getLong(0) == 1L)
  }

  test("FOREACH over an empty list is a no-op") {
    val s = session
    s.run("FOREACH (k IN [] | CREATE (:Never {k: k}))")
    assert(s.run("MATCH (n:Person) RETURN count(*) AS n").head.getLong(0) == 4L)
    s.store.vertexTables.get("Never").foreach(t => assert(t.count() == 0))
  }

  test("FOREACH (n IN nodes(p) | SET ...) flags the path's vertices") {
    val s = session
    s.run(
      """MATCH p = shortestPath((a:Person {name: 'Alice'})-[*..4]->(c:Person {name: 'Charlie'}))
        |FOREACH (n IN nodes(p) | SET n.flag = 1)""".stripMargin)
    val flagged = s.run(
      "MATCH (m:Person) WHERE m.flag = 1 RETURN m.name AS name ORDER BY name")
    assert(rows(flagged) == Seq(Seq("Alice"), Seq("Bob"), Seq("Charlie")))
  }

  test("nested FOREACH multiplies iterations") {
    val s = session
    s.run("FOREACH (i IN [1, 2] | FOREACH (j IN [10, 20] | CREATE (:Cell {v: i + j})))")
    assert(s.run("MATCH (c:Cell) RETURN count(*) AS n").head.getLong(0) == 4L)
    assert(s.run("MATCH (c:Cell) WHERE c.v = 22 RETURN count(*) AS n").head.getLong(0) == 1L)
  }

  test("FOREACH body rejects read clauses") {
    val e = intercept[Exception](session.run("FOREACH (k IN [1] | RETURN k)"))
    assert(e.getMessage.toLowerCase.contains("foreach"))
  }

  test("REMOVE nulls a typed property on the matched rows only") {
    val s = session
    s.run("MATCH (n:Person {name: 'Alice'}) REMOVE n.city")
    val r = s.run("MATCH (n:Person) WHERE n.city IS NULL RETURN n.name AS name")
    assert(rows(r) == Seq(Seq("Alice")))
    assert(s.run("MATCH (n:Person) WHERE n.city = 'Beijing' RETURN count(*) AS n")
      .head.getLong(0) == 1L) // Charlie keeps Beijing
  }

  test("REMOVE drops the key from a schemaless properties JSON") {
    val json =
      """{"vertices":[
        |  {"id":"1","label":"Doc","properties":{"k":1,"w":5}},
        |  {"id":"2","label":"Doc","properties":{"k":2,"w":7}}],
        |"edges":[]}""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_remove", ".json")
    java.nio.file.Files.writeString(f, json)
    val s = new CypherSession(spark, graft.store.GraphIO.importJson(spark, f.toString))
    s.run("MATCH (d:Doc) WHERE d.k = 1 REMOVE d.w")
    assert(s.run("MATCH (d:Doc) WHERE d.w IS NULL RETURN count(*) AS n").head.getLong(0) == 1L)
    assert(s.run("MATCH (d:Doc) WHERE d.w = 7 RETURN count(*) AS n").head.getLong(0) == 1L)
    // the key is ABSENT from the victim's stored JSON, not null-valued
    val props = s.store.vertexTables("Doc")
      .orderBy("id").select("properties").collect().map(_.getString(0))
    assert(!props(0).contains("\"w\""), props(0))
    assert(props(1).contains("\"w\""), props(1))
  }

  test("REMOVE of a property that exists nowhere is a no-op") {
    val s = session
    s.run("MATCH (n:Person) REMOVE n.nonexistent")
    assert(s.run("MATCH (n:Person) RETURN count(*) AS n").head.getLong(0) == 4L)
    assert(!s.store.vertexTables("Person").columns.contains("nonexistent"))
  }

  test("list comprehension filters and projects") {
    val df = session.run(
      "MATCH (a:Person {name: 'Alice'}) RETURN [x IN [1, 2, 3, 4] WHERE x % 2 = 0 | x * 10] AS evens")
    assert(df.head.getSeq[Long](0) == Seq(20L, 40L))
  }

  test("list comprehension without projection copies the filtered list") {
    val df = session.run(
      "MATCH (a:Person {name: 'Alice'}) RETURN [x IN [1, 2, 3] WHERE x > 1] AS xs, [y IN [5, 6]] AS ys")
    val r = df.head
    assert(r.getSeq[Long](0) == Seq(2L, 3L))
    assert(r.getSeq[Long](1) == Seq(5L, 6L))
  }

  test("lambda variable shadows a scope variable of the same name") {
    val df = session.run(
      "MATCH (n:Person {name: 'Alice'}) RETURN [n IN [1, 2] | n * 2] AS doubled")
    assert(df.head.getSeq[Long](0) == Seq(2L, 4L))
  }

  test("comprehension over scope data with scope columns in the body") {
    val df = session.run(
      """MATCH (n:Person) WITH collect(n.age) AS ages
        |RETURN [a IN ages WHERE a >= 30 | a + 1] AS bumped""".stripMargin)
    assert(df.head.getSeq[Long](0).sorted == Seq(31L, 36L))
  }

  test("reduce folds a collected list") {
    val df = session.run(
      """MATCH (n:Person) WITH collect(n.age) AS ages
        |RETURN reduce(s = 0, a IN ages | s + a) AS total""".stripMargin)
    assert(df.head.getLong(0) == 118L) // 30+25+35+28
  }

  test("MERGE ON CREATE SET / ON MATCH SET: node form branches per run") {
    val s = session
    s.run("MERGE (h:Hub {name: 'hub'}) ON CREATE SET h.born = 1 ON MATCH SET h.seen = 1")
    val after1 = s.run(
      "MATCH (h:Hub) RETURN toInteger(h.born) AS born, h.seen IS NULL AS noseen").head
    assert(after1.getLong(0) == 1L && after1.getBoolean(1))
    s.run("MERGE (h:Hub {name: 'hub'}) ON CREATE SET h.born = 99 ON MATCH SET h.seen = 2")
    val after2 = s.run(
      "MATCH (h:Hub) RETURN toInteger(h.born) AS born, toInteger(h.seen) AS seen").head
    assert(after2.getLong(0) == 1L && after2.getLong(1) == 2L)
  }

  test("MERGE ON CREATE/ON MATCH: relationship form splits per pair") {
    val s = session
    // pre-seed Alice->Bob; the merge adds Alice->Charlie and Alice->David
    val seeded = s.run(
      """MATCH (a:Person {name: 'Alice'}), (b:Person)
        |WHERE b.name <> 'Alice'
        |MERGE (a)-[r:KNOWS]->(b)
        |ON CREATE SET r.fresh = 1
        |ON MATCH SET r.old = 1
        |RETURN count(*) AS n""".stripMargin)
    assert(seeded.head.getLong(0) == 3L)
    val fresh = s.run(
      """MATCH (a:Person {name: 'Alice'})-[r:KNOWS]->(b)
        |WHERE r.fresh = 1 RETURN b.name AS n ORDER BY n""".stripMargin)
    assert(rows(fresh) == Seq(Seq("Charlie"), Seq("David")))
    val old = s.run(
      """MATCH (a:Person {name: 'Alice'})-[r:KNOWS]->(b)
        |WHERE r.old = 1 RETURN b.name AS n""".stripMargin)
    assert(rows(old) == Seq(Seq("Bob")))
  }

  test("UNION distinct and UNION ALL combine read-only query parts") {
    val s = session
    val u = s.run(
      """MATCH (n:Person) WHERE n.city = 'Beijing' RETURN n.name AS name
        |UNION
        |MATCH (n:Person) WHERE n.age > 28 RETURN n.name AS name""".stripMargin)
    assert(rows(u.orderBy("name")) == Seq(Seq("Alice"), Seq("Charlie")))
    val ua = s.run(
      """MATCH (n:Person) WHERE n.city = 'Beijing' RETURN n.name AS name
        |UNION ALL
        |MATCH (n:Person) WHERE n.age > 28 RETURN n.name AS name""".stripMargin)
    assert(ua.count() == 4)
  }

  test("UNION guards: column mismatch, mutation parts, mixed ALL") {
    val s = session
    val e1 = intercept[Exception](s.run(
      "MATCH (n:Person) RETURN n.name AS a UNION MATCH (n:Person) RETURN n.name AS b"))
    assert(e1.getMessage.contains("same columns"))
    val e2 = intercept[Exception](s.run(
      "CREATE (:T {x: 1}) UNION MATCH (n:Person) RETURN n.name AS name"))
    assert(e2.getMessage.toLowerCase.contains("read-only"))
    val e3 = intercept[Exception](s.run(
      """MATCH (n:Person) RETURN n.name AS name
        |UNION ALL MATCH (n:Person) RETURN n.name AS name
        |UNION MATCH (n:Person) RETURN n.name AS name""".stripMargin))
    assert(e3.getMessage.contains("mix"))
  }

  test("RETURN * and WITH * project every named variable") {
    val s = session
    val df = s.run(
      "MATCH (a:Person {name: 'Alice'})-[r:KNOWS]->(b) RETURN *")
    assert(df.columns.toSet == Set("a", "b", "r"))
    val chained = s.run(
      """MATCH (a:Person {name: 'Alice'})-[r:KNOWS]->(b)
        |WITH * RETURN b.name AS n, r.since AS y""".stripMargin)
    assert(rows(chained) == Seq(Seq("Bob", 2020L)))
    val extra = s.run(
      "MATCH (a:Person {name: 'Alice'}) RETURN *, a.age * 2 AS dbl")
    assert(extra.columns.toSet == Set("a", "dbl"))
    assert(extra.head.getAs[Long]("dbl") == 60L)
  }

  test("keys(n) lists present properties and tracks REMOVE") {
    val s = session
    val ks = s.run("MATCH (n:Person {name: 'Alice'}) RETURN keys(n) AS ks")
      .head.getSeq[String](0)
    assert(ks.toSet == Set("name", "age", "city"))
    s.run("MATCH (n:Person {name: 'Alice'}) REMOVE n.city")
    val ks2 = s.run("MATCH (n:Person {name: 'Alice'}) RETURN keys(n) AS ks")
      .head.getSeq[String](0)
    assert(ks2.toSet == Set("name", "age"))
  }

  test("map projection selects, computes, and splats properties") {
    val s = session
    val r = s.run(
      """MATCH (n:Person {name: 'Alice'})
        |RETURN n {.name, .age, doubled: n.age * 2} AS m""".stripMargin).head
    val m = r.getStruct(0)
    assert(m.getAs[String]("name") == "Alice")
    assert(m.getAs[Long]("age") == 30L)
    assert(m.getAs[Long]("doubled") == 60L)
    val all = s.run(
      "MATCH (n:Person {name: 'Bob'}) RETURN n {.*} AS m").head.getStruct(0)
    assert(all.getAs[String]("name") == "Bob")
    assert(all.getAs[String]("city") == "Shanghai")
  }

  test("collect of a bare entity gathers structs and skips unmatched OPTIONAL rows") {
    val s = session
    val collected = s.run(
      """MATCH (a:Person {name: 'Alice'}) OPTIONAL MATCH (a)-[:KNOWS]->(b:Person)
        |RETURN collect(b) AS bs""".stripMargin).head.getSeq[org.apache.spark.sql.Row](0)
    assert(collected.map(_.getAs[String]("name")) == Seq("Bob"))
    val none = s.run(
      """MATCH (d:Person {name: 'David'}) OPTIONAL MATCH (d)-[:KNOWS]->(b:Person)
        |RETURN collect(b) AS bs, count(b) AS n""".stripMargin).head
    assert(none.getSeq[Any](0).isEmpty && none.getLong(1) == 0L)
  }

  test("pattern comprehension collects per-row match projections") {
    val s = session
    val df = s.run(
      "MATCH (a:Person) RETURN a.name AS name, " +
        "[(a)-[:KNOWS]->(b) | b.name] AS knows ORDER BY name")
    val got = df.collect().map(r => (r.getString(0), r.getSeq[String](1).sorted))
    assert(got.toSeq == Seq(
      ("Alice", Seq("Bob")), ("Bob", Seq("Charlie")),
      ("Charlie", Nil), ("David", Nil)))
    // WHERE inside the comprehension filters matches; size() wraps fine
    val sized = s.run(
      "MATCH (a:Person) RETURN a.name AS name, " +
        "size([(a)-[r:KNOWS]->(b) WHERE r.since >= 2021 | b.name]) AS n ORDER BY name")
    assert(rows(sized) == Seq(
      Seq("Alice", 0L), Seq("Bob", 1L), Seq("Charlie", 0L), Seq("David", 0L)))
  }

  test("COUNT {} subquery counts pattern matches per row") {
    val s = session
    val df = s.run(
      "MATCH (a:Person) RETURN a.name AS name, " +
        "COUNT { (a)-[:KNOWS]-(x) } AS deg ORDER BY name")
    assert(rows(df) == Seq(
      Seq("Alice", 1L), Seq("Bob", 2L), Seq("Charlie", 1L), Seq("David", 0L)))
    // usable in WITH, and arithmetic over the count works
    val via = s.run(
      "MATCH (a:Person) WITH a, COUNT { (a)-[:KNOWS]->(b) } + 10 AS d " +
        "WHERE d > 10 RETURN a.name AS name, d ORDER BY name")
    assert(rows(via) == Seq(Seq("Alice", 11L), Seq("Bob", 11L)))
    // a subquery in WHERE stays a loud error (only projections hoist)
    val e = intercept[Exception](s.run(
      "MATCH (a:Person) WHERE COUNT { (a)-->(b) } > 1 RETURN a.name AS n"))
    assert(e.getMessage.contains("projection"), e.getMessage)
  }

  test("pattern comprehension and count subquery do not break list literals") {
    val s = session
    // bracketed expression starting with ( is still a list literal
    val lit = s.run("RETURN [(1 + 2), 4] AS xs")
    assert(lit.head.getSeq[Long](0) == Seq(3L, 4L))
    val empty = s.run("RETURN size([]) AS n")
    assert(rows(empty) == Seq(Seq(0L)))
  }

  test("nodes() rejects non-path arguments loudly") {
    val s = session
    val e1 = intercept[Exception](s.run(
      "MATCH (n:Person) RETURN nodes(n) AS x"))
    assert(e1.getMessage.contains("path"), e1.getMessage)
    val e2 = intercept[Exception](s.run(
      "MATCH (n:Person) RETURN nodes(n.age) AS x"))
    assert(e2.getMessage.contains("path"), e2.getMessage)
    // the legitimate use keeps working
    val ok = s.run(
      "MATCH p = shortestPath((a:Person {name: 'Alice'})-[*..3]->(b:Person {name: 'Charlie'})) " +
        "RETURN size(nodes(p)) AS n")
    assert(rows(ok) == Seq(Seq(3L)))
  }

  test("map projection .* guards schemaless entities on unlabeled scans too") {
    val json =
      """{"vertices":[{"id":"1","label":"Doc","properties":{"k":"v"}}],
        |"edges":[]}""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft_mapproj", ".json")
    java.nio.file.Files.writeString(f, json)
    val s = new CypherSession(spark,
      graft.store.GraphIO.importJson(spark, f.toString))
    // labeled scan: props = [properties] — guarded before r8
    val e1 = intercept[Exception](s.run("MATCH (n:Doc) RETURN n {.*} AS m"))
    assert(e1.getMessage.contains("properties(n)"), e1.getMessage)
    // unlabeled scan: props = [label, properties] — must hit the same
    // guard, not splat the raw JSON string as a field named 'properties'
    val e2 = intercept[Exception](s.run("MATCH (n) RETURN n {.*} AS m"))
    assert(e2.getMessage.contains("properties(n)"), e2.getMessage)
  }

  test("relationship-form MERGE with scope-dependent edge props") {
    val s = session
    // Alice->Bob KNOWS {since: 2020} exists. Merging with since = a.age - 10
    // gives Alice->Bob since 20 (missing: 2020 != 20 -> CREATE a second
    // edge) and Bob->Charlie since 15 (missing -> CREATE); the edge-prop
    // value participates in the merge key per row.
    s.run("MATCH (a:Person)-[:KNOWS]->(b:Person) " +
      "MERGE (a)-[r:KNOWS {since: a.age - 10}]->(b)")
    assert(rows(s.run(
      "MATCH (a)-[r:KNOWS]->(b) RETURN a.name AS a, r.since AS y ORDER BY a, y")) ==
      Seq(Seq("Alice", 20L), Seq("Alice", 2020L), Seq("Bob", 15L), Seq("Bob", 2021L)))
    // replay: every (pair, value) tuple now exists -> no new edges
    s.run("MATCH (a:Person)-[:KNOWS {since: 2020}]->(b:Person) " +
      "MERGE (a)-[r:KNOWS {since: a.age - 10}]->(b)")
    assert(rows(s.run("MATCH ()-[r:KNOWS]->() RETURN count(*) AS n")) ==
      Seq(Seq(4L)))
    // branch split honors the prop key: since 20 pre-exists now, since 25
    // does not -> ON MATCH marks the former, ON CREATE the latter
    s.run("MATCH (a:Person {name: 'Alice'})-[:KNOWS {since: 2020}]->(b:Person) " +
      "MERGE (a)-[r:KNOWS {since: 20}]->(b) ON MATCH SET r.old = 1")
    s.run("MATCH (a:Person {name: 'Alice'})-[:KNOWS {since: 2020}]->(b:Person) " +
      "MERGE (a)-[r:KNOWS {since: 25}]->(b) ON CREATE SET r.fresh = 1")
    assert(rows(s.run(
      "MATCH (a:Person {name: 'Alice'})-[r:KNOWS]->() " +
        "RETURN r.since AS y, r.old AS o, r.fresh AS f ORDER BY y")) ==
      Seq(Seq(20L, 1L, null), Seq(25L, null, 1L), Seq(2020L, null, null)))
  }

  test("node-form MERGE with scope-dependent props creates per distinct key") {
    val s = session
    // one City per DISTINCT person city (3 of the 4 rows are distinct)
    s.run("MATCH (p:Person) MERGE (c:City {name: p.city})")
    assert(rows(s.run("MATCH (c:City) RETURN c.name AS n ORDER BY n")) ==
      Seq(Seq("Beijing"), Seq("Shanghai"), Seq("Shenzhen")))
    // replay is idempotent: everything matches, nothing new is created
    s.run("MATCH (p:Person) MERGE (c:City {name: p.city})")
    assert(rows(s.run("MATCH (c:City) RETURN count(*) AS n")) == Seq(Seq(3L)))
    // the re-match binds per row: each person pairs with exactly their city
    val pairs = s.run(
      "MATCH (p:Person) MERGE (c:City {name: p.city}) " +
        "RETURN p.name AS p, c.name AS c ORDER BY p")
    assert(rows(pairs) == Seq(
      Seq("Alice", "Beijing"), Seq("Bob", "Shanghai"),
      Seq("Charlie", "Beijing"), Seq("David", "Shenzhen")))
  }

  test("node-form MERGE ON CREATE/ON MATCH splits per key under a bound scope") {
    val s = session
    s.run("CREATE (c:City {name: 'Beijing', pre: 1})")
    s.run("MATCH (p:Person) MERGE (c:City {name: p.city}) " +
      "ON CREATE SET c.fresh = 1 ON MATCH SET c.seen = 1")
    // Beijing pre-existed → ON MATCH; Shanghai/Shenzhen created → ON CREATE
    assert(rows(s.run(
      "MATCH (c:City) RETURN c.name AS n, c.pre AS p, c.fresh AS f, c.seen AS s ORDER BY n")) ==
      Seq(Seq("Beijing", 1L, null, 1L),
        Seq("Shanghai", null, 1L, null),
        Seq("Shenzhen", null, 1L, null)))
    // replay: every key now matches, ON CREATE must fire nowhere
    s.run("MATCH (p:Person) MERGE (c:City {name: p.city}) ON CREATE SET c.fresh = 99")
    assert(rows(s.run("MATCH (c:City) WHERE c.fresh = 99 RETURN count(*) AS n")) ==
      Seq(Seq(0L)))
    // the standalone (unit-scope) branch form keeps the global decision
    s.run("MERGE (c:City {name: 'Y'}) ON CREATE SET c.fresh = 1")
    assert(rows(s.run("MATCH (c:City {name: 'Y'}) RETURN c.fresh AS f")) ==
      Seq(Seq(1L)))
  }

  test("node-form MERGE errors on a NULL merge value") {
    val s = session
    val e = intercept[Exception](s.run(
      "MATCH (p:Person) MERGE (c:City {name: p.nosuch}) RETURN count(*) AS n").collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("null property value")), chain(e).mkString(" | "))
  }

  test("MERGE inside FOREACH may reference the loop variable") {
    val s = session
    s.run("FOREACH (x IN [1, 2, 2, 3] | MERGE (k:Num {v: x}))")
    assert(rows(s.run("MATCH (k:Num) RETURN k.v AS v ORDER BY v")) ==
      Seq(Seq(1L), Seq(2L), Seq(3L)))
  }

  test("per-row CREATE pins id allocation under a shuffled scope") {
    // DISTINCT puts a shuffle in the scope lineage; without the
    // localCheckpoint pin, each recomputation could reorder rows and
    // rebind id↔row pairings between reads
    val s = session
    s.run("MATCH (p:Person) WITH DISTINCT p.city AS c CREATE (m:City {name: c})")
    val read1 = rows(s.run("MATCH (m:City) RETURN id(m) AS i, m.name AS n ORDER BY i"))
    val read2 = rows(s.run("MATCH (m:City) RETURN id(m) AS i, m.name AS n ORDER BY i"))
    assert(read1 == read2)
    assert(read1.map(_(1)).map(_.toString).sorted ==
      Seq("Beijing", "Shanghai", "Shenzhen"))
    assert(read1.map(_(0)).distinct.size == 3)
  }

  test("per-row CREATE binds edges to the matched row's created node") {
    // one created node + edge per scope row: the ORIG edge must connect
    // each person to the Copy carrying THAT person's name, and the
    // binding must be identical across repeated store reads
    val s = session
    s.run("MATCH (p:Person) CREATE (p)-[:ORIG]->(c:Copy {name: p.name})")
    val q = "MATCH (p:Person)-[:ORIG]->(c:Copy) RETURN p.name AS pn, c.name AS cn ORDER BY pn"
    val read1 = rows(s.run(q))
    assert(read1.size == 4)
    read1.foreach { r => assert(r(0) == r(1), s"edge bound to wrong copy: $r") }
    assert(rows(s.run(q)) == read1)
  }

  test("list quantifiers any/all/none/single") {
    val df = session.run(
      """MATCH (n:Person) WITH collect(n.age) AS ages
        |RETURN any(x IN ages WHERE x > 30) AS a,
        |       all(x IN ages WHERE x > 20) AS b,
        |       none(x IN ages WHERE x > 100) AS c,
        |       single(x IN ages WHERE x = 30) AS d,
        |       single(x IN ages WHERE x > 26) AS e""".stripMargin)
    val r = df.head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
    assert(!r.getBoolean(4)) // three ages > 26
  }

  test("CALL graft.degrees composes with YIELD aliasing, WHERE, RETURN") {
    // KNOWS: 1->2, 2->3 — only vertex 2 has both an in- and an out-edge
    val df = session.run(
      """CALL graft.degrees() YIELD id, in_degree AS ind, out_degree AS outd
        |WHERE ind > 0 AND outd > 0
        |RETURN id, ind, outd""".stripMargin)
    assert(rows(df) == Seq(Seq(Graphid.pack(100, 2), 1L, 1L)))
  }

  test("CALL graft.anf yields the digest rows; arity fails loudly") {
    val sess = session
    val df = sess.run(
      """CALL graft.anf(2) YIELD h, n_regs, sum_lb, nf_est
        |RETURN h, n_regs, sum_lb, nf_est ORDER BY h""".stripMargin)
    val got = rows(df)
    // identical to the library API over the same edge relation
    import org.apache.spark.sql.functions.col
    val direct = graft.algorithms.GraphAlgorithms
      .neighborhoodFunction(
        sess.store.allEdges.select(col("src"), col("dst")), 2)
      .orderBy(col("h")).collect().toSeq.map(_.toSeq)
    assert(got == direct)
    // the 1->2->3 chain: 3 single-register sketches at h=0, monotone after
    assert(got.map(_.head) == Seq(0L, 1L, 2L))
    assert(got.head(1) == 3L)
    val ests = got.map(_(3).asInstanceOf[Long])
    assert(ests == ests.sorted)
    val e1 = intercept[Exception](sess.run(
      "CALL graft.anf(2, 3) YIELD h RETURN h"))
    assert(e1.getMessage.contains("at most 1"), e1.getMessage)
  }

  test("CALL graft.connectedComponents labels the chain with its min id") {
    val df = session.run(
      """CALL graft.connectedComponents() YIELD id, component
        |RETURN component, count(*) AS n ORDER BY component""".stripMargin)
    assert(rows(df) == Seq(Seq(Graphid.pack(100, 1), 3L)))
  }

  test("CALL graft.triangles from Cypher counts the KNOWS triangle") {
    import spark.implicits._
    val persons = Seq((Graphid.pack(100, 1), "a"), (Graphid.pack(100, 2), "b"),
      (Graphid.pack(100, 3), "c")).toDF("id", "name")
    val knows = Seq(
      (Graphid.pack(101, 1), Graphid.pack(100, 1), Graphid.pack(100, 2)),
      (Graphid.pack(101, 2), Graphid.pack(100, 2), Graphid.pack(100, 3)),
      (Graphid.pack(101, 3), Graphid.pack(100, 3), Graphid.pack(100, 1)))
      .toDF("id", "src", "dst")
    val s = new CypherSession(spark,
      new GraphStore(Map("Person" -> persons), Map("KNOWS" -> knows)))
    val df = s.run(
      "CALL graft.triangles() YIELD id, triangles RETURN sum(triangles) AS t")
    assert(rows(df) == Seq(Seq(3L)))
  }

  test("CALL graft.distance runs the bidirectional point query") {
    import spark.implicits._
    val persons = (1L to 4L)
      .map(i => (Graphid.pack(100, i), s"p$i")).toDF("id", "name")
    val knows = Seq(
      (Graphid.pack(101, 1), Graphid.pack(100, 1), Graphid.pack(100, 2)),
      (Graphid.pack(101, 2), Graphid.pack(100, 2), Graphid.pack(100, 3)),
      (Graphid.pack(101, 3), Graphid.pack(100, 3), Graphid.pack(100, 4)))
      .toDF("id", "src", "dst")
    val s = new CypherSession(spark,
      new GraphStore(Map("Person" -> persons), Map("KNOWS" -> knows)))
    val a = Graphid.pack(100, 1); val b = Graphid.pack(100, 4)
    assert(rows(s.run(
      s"CALL graft.distance($a, $b, 5) YIELD end_id, dist RETURN end_id, dist"))
      == Seq(Seq(b, 3L)))
    // unreachable within the cap -> zero rows through the whole pipeline
    assert(s.run(
      s"CALL graft.distance($a, $b, 2) YIELD dist RETURN dist").isEmpty)
  }

  test("CALL graft.scc partitions a KNOWS cycle-plus-tail") {
    import spark.implicits._
    val persons = (1L to 4L)
      .map(i => (Graphid.pack(100, i), s"p$i")).toDF("id", "name")
    // 1→2→3→1 cycle plus tail 3→4: one 3-SCC and a singleton
    val knows = Seq(
      (Graphid.pack(101, 1), Graphid.pack(100, 1), Graphid.pack(100, 2)),
      (Graphid.pack(101, 2), Graphid.pack(100, 2), Graphid.pack(100, 3)),
      (Graphid.pack(101, 3), Graphid.pack(100, 3), Graphid.pack(100, 1)),
      (Graphid.pack(101, 4), Graphid.pack(100, 3), Graphid.pack(100, 4)))
      .toDF("id", "src", "dst")
    val s = new CypherSession(spark,
      new GraphStore(Map("Person" -> persons), Map("KNOWS" -> knows)))
    val df = s.run(
      """CALL graft.scc() YIELD scc_id
        |RETURN scc_id, count(*) AS n ORDER BY scc_id""".stripMargin)
    assert(rows(df) == Seq(Seq(Graphid.pack(100, 1), 3L),
      Seq(Graphid.pack(100, 4), 1L)))
  }

  test("CALL results correlate with a following MATCH as an equi-join") {
    // procedure output joins back onto the store through an id predicate;
    // Catalyst rewrites the cross + equality filter into a hash join, so
    // the composition carries no cartesian at scale
    val df = session.run(
      """CALL graft.degrees() YIELD id AS did, out_degree
        |MATCH (n:Person) WHERE id(n) = did AND out_degree > 0
        |RETURN n.name AS name, out_degree ORDER BY name""".stripMargin)
    assert(rows(df) == Seq(Seq("Alice", 1L), Seq("Bob", 1L)))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("CALL graft.walks follows the KNOWS chain; graft.katz weights walk counts") {
    // KNOWS: 1->2, 2->3 — a chain, so the hash draw has one candidate per
    // step and the walk is forced: 1, 2, 3, then sink truncation
    val start = Graphid.pack(100, 1)
    val df = session.run(
      s"""CALL graft.walks($start, 1, 5) YIELD walk, step, id
         |RETURN walk, step, id ORDER BY step""".stripMargin)
    assert(rows(df) == Seq(
      Seq(1, 0, Graphid.pack(100, 1)),
      Seq(1, 1, Graphid.pack(100, 2)),
      Seq(1, 2, Graphid.pack(100, 3))))
    // katz over the chain, beta 4, L=2: walks into 2 = {1-2} (w 4),
    // into 3 = {2-3} (w 4) + {1-2-3} (w 1)
    val k = session.run(
      """CALL graft.katz(2, 4) YIELD id, katz
        |RETURN id, katz ORDER BY id""".stripMargin)
    assert(rows(k) == Seq(
      Seq(Graphid.pack(100, 1), 0L),
      Seq(Graphid.pack(100, 2), 4L),
      Seq(Graphid.pack(100, 3), 5L)))
    // the KNOWS chain has no triangles: its 3-truss is empty
    val t = session.run("CALL graft.kTruss(3) YIELD a RETURN count(*) AS n")
    assert(rows(t) == Seq(Seq(0L)))
    // the optional p/q args route to the node2vec draw (r18): on the
    // chain every step has one candidate, so the biased walk is the same
    // forced path — this pins the 5-arg surface end-to-end
    val n2v = session.run(
      s"""CALL graft.walks($start, 1, 5, 2, 3) YIELD walk, step, id
         |RETURN walk, step, id ORDER BY step""".stripMargin)
    assert(rows(n2v) == Seq(
      Seq(1, 0, Graphid.pack(100, 1)),
      Seq(1, 1, Graphid.pack(100, 2)),
      Seq(1, 2, Graphid.pack(100, 3))))
  }

  test("SET += merges a literal map: overwrites named keys, keeps the rest") {
    val s = session
    s.run("MATCH (p:Person {name: 'Alice'}) SET p += {age: 31, vip: true}")
    val df = s.run(
      """MATCH (p:Person {name: 'Alice'})
        |RETURN p.age AS age, p.vip AS vip, p.city AS city""".stripMargin)
    assert(rows(df) == Seq(Seq(31L, true, "Beijing")))
    val e = intercept[Exception](
      s.run("MATCH (p:Person) SET p += p"))
    assert(e.getMessage.contains("map literals only"), e.getMessage)
  }

  test("EXISTS { } braces form: inner WHERE, NOT form, COUNT { MATCH }") {
    // KNOWS: 1->2 (2020), 2->3 (2021); only Bob's outgoing edge is 2021
    val df = session.run(
      """MATCH (p:Person)
        |WHERE EXISTS { MATCH (p)-[r:KNOWS]->(q) WHERE r.since >= 2021 }
        |RETURN p.name AS name""".stripMargin)
    assert(rows(df) == Seq(Seq("Bob")))
    val not = session.run(
      """MATCH (p:Person)
        |WHERE NOT EXISTS { (p)-[:KNOWS]->(q) WHERE q.age > 30 }
        |RETURN p.name AS name ORDER BY name""".stripMargin)
    // only Bob knows someone over 30 (Charlie, 35)
    assert(rows(not) == Seq(Seq("Alice"), Seq("Charlie"), Seq("David")))
    val cnt = session.run(
      """MATCH (p:Person)
        |RETURN p.name AS name,
        |       COUNT { MATCH (p)-[:KNOWS]->(q) } AS nk
        |ORDER BY name""".stripMargin)
    assert(rows(cnt) == Seq(Seq("Alice", 1L), Seq("Bob", 1L),
      Seq("Charlie", 0L), Seq("David", 0L)))
  }

  test("CALL { } correlated aggregate: one row per outer row, empty fills") {
    val df = session.run(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:KNOWS]->(q)
        |       RETURN count(q) AS nk, collect(q.name) AS names }
        |RETURN p.name AS name, nk, names ORDER BY name""".stripMargin)
    assert(rows(df) == Seq(
      Seq("Alice", 1L, Seq("Bob")),
      Seq("Bob", 1L, Seq("Charlie")),
      Seq("Charlie", 0L, Seq()),
      Seq("David", 0L, Seq())))
  }

  test("CALL { } non-aggregate multiplies rows and drops empty invocations") {
    val df = session.run(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:KNOWS]->(q) RETURN q.name AS friend }
        |RETURN p.name AS name, friend ORDER BY name""".stripMargin)
    assert(rows(df) == Seq(Seq("Alice", "Bob"), Seq("Bob", "Charlie")))
  }

  test("CALL { } uncorrelated: runs once, cross-joins; works as first clause") {
    val df = session.run(
      """MATCH (p:Person {name: 'Alice'})
        |CALL { MATCH (q:Person) RETURN max(q.age) AS oldest }
        |RETURN p.name AS name, oldest""".stripMargin)
    assert(rows(df) == Seq(Seq("Alice", 35L)))
    val first = session.run("CALL { MATCH (q:Person) RETURN count(*) AS n } RETURN n")
    assert(rows(first) == Seq(Seq(4L)))
  }

  test("CALL { } chains with the outer pipeline after the join-back") {
    // subquery output feeds a later WHERE + aggregate like any value var
    val df = session.run(
      """MATCH (p:Person)
        |CALL { WITH p MATCH (p)-[:KNOWS]->(q) RETURN count(q) AS nk }
        |WITH p, nk WHERE nk > 0
        |RETURN count(*) AS with_friends, sum(nk) AS total""".stripMargin)
    assert(rows(df) == Seq(Seq(2L, 2L)))
  }

  test("CALL { } fails loud: order-by, mutation, collision, trailing input") {
    val s = session
    val e1 = intercept[Exception](s.run(
      "MATCH (p:Person) CALL { WITH p MATCH (p)-[:KNOWS]->(q) RETURN q.name AS f ORDER BY f } RETURN f"))
    assert(e1.getMessage.contains("per-invocation"), e1.getMessage)
    val e2 = intercept[Exception](s.run(
      "MATCH (p:Person) CALL { CREATE (x:Y) RETURN 1 AS one } RETURN one"))
    assert(e2.getMessage.contains("read-only"), e2.getMessage)
    val e3 = intercept[Exception](s.run(
      "MATCH (p:Person) CALL { WITH p MATCH (p)-[:KNOWS]->(q) RETURN q.name AS p } RETURN p"))
    assert(e3.getMessage.contains("already bound"), e3.getMessage)
    val e4 = intercept[Exception](s.run("MATCH (p:Person) RETURN p.name AS n }"))
    assert(e4.getMessage.contains("trailing"), e4.getMessage)
  }

  test("path assignment: nodes()/relationships() on var-length and fixed paths") {
    val s = session
    // var-length: Alice -[e1]-> Bob -[e2]-> Charlie
    val df = s.run(
      """MATCH p = (a:Person {name: 'Alice'})-[*1..2]->(b)
        |RETURN b.name AS n, nodes(p) AS ns, relationships(p) AS rs
        |ORDER BY n""".stripMargin)
    val got = rows(df).map(r => (r(0),
      r(1).asInstanceOf[scala.collection.Seq[Long]].toSeq,
      r(2).asInstanceOf[scala.collection.Seq[Long]].toSeq))
    val (alice, bob, charlie) =
      (Graphid.pack(100, 1), Graphid.pack(100, 2), Graphid.pack(100, 3))
    val (e1, e2) = (Graphid.pack(101, 1), Graphid.pack(101, 2))
    assert(got == Seq(
      ("Bob", Seq(alice, bob), Seq(e1)),
      ("Charlie", Seq(alice, bob, charlie), Seq(e1, e2))))
    // fixed hops bind the same lists; size/length compose
    val f = s.run(
      """MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(b)-[:KNOWS]->(c)
        |RETURN nodes(p) AS ns, relationships(p) AS rs, size(relationships(p)) AS len""".stripMargin)
    val fr = rows(f).map(r => (r(0).asInstanceOf[scala.collection.Seq[Long]].toSeq,
      r(1).asInstanceOf[scala.collection.Seq[Long]].toSeq, r(2)))
    assert(fr == Seq((Seq(alice, bob, charlie), Seq(e1, e2), 2L)))
    // *0 zero-length: path = just the start, no relationships
    val z = s.run(
      """MATCH p = (a:Person {name: 'David'})-[*0..1]->(b)
        |RETURN nodes(p) AS ns, relationships(p) AS rs""".stripMargin)
    val zr = rows(z).map(r => (r(0).asInstanceOf[scala.collection.Seq[Long]].toSeq,
      r(1).asInstanceOf[scala.collection.Seq[Long]].toSeq))
    assert(zr == Seq((Seq(Graphid.pack(100, 4)), Seq.empty[Long])))
    // survives WITH passthrough (rename included)
    val w = s.run(
      """MATCH p = (a:Person {name: 'Alice'})-[*2..2]->(c)
        |WITH p AS q, c
        |RETURN nodes(q) AS ns, relationships(q) AS rs, c.name AS n""".stripMargin)
    val wr = rows(w).map(r => (r(0).asInstanceOf[scala.collection.Seq[Long]].toSeq,
      r(1).asInstanceOf[scala.collection.Seq[Long]].toSeq, r(2)))
    assert(wr == Seq((Seq(alice, bob, charlie), Seq(e1, e2), "Charlie")))
    // loud failures: shortestPath paths carry no edge ids; entities reject
    val err = intercept[Exception](s.run(
      """MATCH q = shortestPath((a:Person {name: 'Alice'})-[*..4]->(c:Person {name: 'Charlie'}))
        |RETURN relationships(q)""".stripMargin))
    assert(err.getMessage.contains("MATCH-assigned path"), err.getMessage)
    val err2 = intercept[Exception](
      s.run("MATCH (a:Person) RETURN relationships(a)"))
    assert(err2.getMessage.contains("not a node"), err2.getMessage)
  }

  test("CALL surface fails loud: position, placement, yield, args") {
    val s = session
    val e1 = intercept[Exception](s.run("CALL graft.nope() YIELD id RETURN id"))
    assert(e1.getMessage.contains("unknown procedure"))
    val e2 = intercept[Exception](s.run(
      "MATCH (n:Person) CALL graft.degrees() YIELD id RETURN id"))
    assert(e2.getMessage.contains("first clause"))
    val e3 = intercept[Exception](s.run(
      "CALL graft.degrees() YIELD rank RETURN rank"))
    assert(e3.getMessage.contains("does not yield"))
    val e4 = intercept[Exception](s.run(
      "CALL graft.kCore(1 + 2) YIELD id RETURN id"))
    assert(e4.getMessage.contains("integer literals"))
    val e5 = intercept[Exception](s.run("CALL graft.kCore() YIELD id RETURN id"))
    assert(e5.getMessage.contains("requires argument"))
  }

  test("corpus CALL procedures fail loud on bad arguments") {
    val s = session
    // missing / mistyped corpus dir
    val e1 = intercept[Exception](s.run(
      "CALL graft.corpusProfile() YIELD source RETURN source"))
    assert(e1.getMessage.contains("corpus data directory"), e1.getMessage)
    val e2 = intercept[Exception](s.run(
      "CALL graft.corpusProfile(3) YIELD source RETURN source"))
    assert(e2.getMessage.contains("string literal"), e2.getMessage)
    // out-of-range per-mille threshold fails before any data is touched
    val e3 = intercept[Exception](s.run(
      "CALL graft.dedupClusters('/nowhere', 2000) " +
        "YIELD survivor_id RETURN survivor_id"))
    assert(e3.getMessage.contains("per-mille"), e3.getMessage)
    // annTopK: probes are mandatory, k must be positive
    val e4 = intercept[Exception](s.run(
      "CALL graft.annTopK('/nowhere', 5) YIELD pid RETURN pid"))
    assert(e4.getMessage.contains("at least one probe"), e4.getMessage)
    val e5 = intercept[Exception](s.run(
      "CALL graft.annTopK('/nowhere', 0, 1) YIELD pid RETURN pid"))
    assert(e5.getMessage.contains("k must be positive"), e5.getMessage)
    // editDistPairs: a negative threshold never reaches the scan — the
    // arg parser rejects the unary-minus expression (args are literals)
    val e6 = intercept[Exception](s.run(
      "CALL graft.editDistPairs('/nowhere', -1) YIELD a RETURN a"))
    assert(e6.getMessage.contains("integer literals"), e6.getMessage)
    val e7 = intercept[Exception](s.run(
      "CALL graft.editDistPairs() YIELD a RETURN a"))
    assert(e7.getMessage.contains("corpus data directory"), e7.getMessage)
    // semDedup: per-mille tau domain and positive k/iters enforced loudly
    val e8 = intercept[Exception](s.run(
      "CALL graft.semDedup('/nowhere', 10, 3, 2000) " +
        "YIELD vec_id RETURN vec_id"))
    assert(e8.getMessage.contains("per-mille"), e8.getMessage)
    val e9 = intercept[Exception](s.run(
      "CALL graft.semDedup('/nowhere', 0, 3, 350) " +
        "YIELD vec_id RETURN vec_id"))
    assert(e9.getMessage.contains("must be >= 1"), e9.getMessage)
    // a mistyped dir surfaces as a LOAD failure naming the path, not a
    // silent empty set (and not an unrelated arg error)
    val e10 = intercept[Exception](s.run(
      "CALL graft.semDedup('/nowhere', 10, 3, 350) " +
        "YIELD vec_id RETURN vec_id"))
    assert(e10.getMessage.contains("nowhere"), e10.getMessage)
  }

  test("CALL graft.distance: weighted mode via the cost-property argument") {
    val s = session
    val alice = Graphid.pack(100, 1)
    val charlie = Graphid.pack(100, 3)
    val un = rows(s.run(
      s"CALL graft.distance($alice, $charlie, 6) YIELD dist RETURN dist"))
    assert(un == Seq(Seq(2L)))
    // KNOWS.since as the cost: 2020 + 2021, not the hop count
    val w = rows(s.run(
      s"CALL graft.distance($alice, $charlie, 6, 'since') YIELD dist RETURN dist"))
    assert(w == Seq(Seq(4041.0)))
    // a property no edge carries costs 1.0 per hop (the coalesce rule)
    val d1 = rows(s.run(
      s"CALL graft.distance($alice, $charlie, 6, 'nope') YIELD dist RETURN dist"))
    assert(d1 == Seq(Seq(2.0)))
    val bad = intercept[Exception](s.run(
      s"CALL graft.distance($alice, $charlie, 6, 7) YIELD dist RETURN dist"))
    assert(bad.getMessage.contains("string literal"))
  }

  test("transaction: rollback restores the snapshot, session stays usable") {
    val s = session
    s.begin()
    s.run("CREATE (p:Person {name: 'Eve', age: 22, city: 'Chengdu'})")
    s.run("MATCH (n:Person) WHERE n.name = 'Eve' SET n.age = 23")
    // reads-see-own-writes inside the scope (the documented divergence)
    assert(rows(s.run("MATCH (n:Person) RETURN count(n) AS c")) == Seq(Seq(5L)))
    assert(rows(s.run("MATCH (n:Person) WHERE n.name = 'Eve' RETURN n.age AS a"))
      == Seq(Seq(23L)))
    s.rollback()
    // both staged statements discarded atomically
    assert(rows(s.run("MATCH (n:Person) RETURN count(n) AS c")) == Seq(Seq(4L)))
    assert(rows(s.run("MATCH (n:Person) WHERE n.name = 'Eve' RETURN n.age AS a"))
      == Seq.empty)
    // a fresh post-rollback mutation lands
    s.run("CREATE (p:Person {name: 'Frank', age: 40, city: 'Wuhan'})")
    assert(rows(s.run("MATCH (n:Person) WHERE n.name = 'Frank' RETURN n.age AS a"))
      == Seq(Seq(40L)))
    val dup = intercept[Exception] { s.begin(); s.begin() }
    assert(dup.getMessage.contains("already open"))
    s.rollback()
    assert(intercept[Exception](s.rollback()).getMessage.contains("no open"))
  }

  test("transaction: rollback frees only this scope's checkpoints") {
    val s = session
    val sc = spark.sparkContext
    val preBegin = sc.getPersistentRDDs.keySet
    s.begin()
    // enough SET rewrites to cross CompactPlanNodes: the scope owns a
    // compacted generation's checkpoint blocks when it rolls back
    for (i <- 1 to 12)
      s.run(s"MATCH (n:Person) WHERE n.name = 'Alice' SET n.age = ${30 + i}")
    // a concurrent job persists on the shared context BETWEEN this
    // scope's statements — rollback must not free it (the r9 advice)
    val b0 = sc.getPersistentRDDs.keySet
    val side = spark.range(100).toDF("v").localCheckpoint(true)
    assert(side.count() == 100L)
    val sideIds = sc.getPersistentRDDs.keySet -- b0
    assert(sideIds.nonEmpty)
    s.run("MATCH (n:Person) WHERE n.name = 'Bob' SET n.age = 26")
    s.rollback()
    val after = sc.getPersistentRDDs.keySet
    // the concurrent block survives, consumable (localCheckpoint truncated
    // its lineage: a wrongful free would make this unrecoverable)
    assert(sideIds.subsetOf(after))
    assert(side.count() == 100L)
    // every block the scope's own statements persisted is gone
    assert((after -- preBegin -- sideIds).isEmpty)
    assert(rows(s.run("MATCH (n:Person) WHERE n.name = 'Alice' RETURN n.age AS a"))
      == Seq(Seq(30L)))
    side.unpersist()
  }

  test("transaction: in-txn compaction defers releases; commit applies atomically") {
    val s = session
    val sc = spark.sparkContext
    // force a PRE-begin compaction so the live store is checkpoint-backed
    // (its generation must survive an in-txn compaction + rollback)
    for (i <- 1 to 12)
      s.run(s"MATCH (n:Person) WHERE n.name = 'Alice' SET n.age = ${50 + i}")
    s.begin()
    for (i <- 1 to 12)
      s.run(s"MATCH (n:Person) WHERE n.name = 'Bob' SET n.age = ${60 + i}")
    s.rollback()
    // the snapshot's checkpoint-backed tables are intact after the
    // txn-era generation is freed
    assert(rows(s.run("MATCH (n:Person) WHERE n.name = 'Alice' RETURN n.age AS a"))
      == Seq(Seq(62L)))
    assert(rows(s.run("MATCH (n:Person) WHERE n.name = 'Bob' RETURN n.age AS a"))
      == Seq(Seq(25L)))
    // now the commit path: in-txn compactions defer their releases; the
    // first post-commit compaction frees the deferred generations
    val preTxn = sc.getPersistentRDDs.keySet
    s.begin()
    for (i <- 1 to 12)
      s.run(s"MATCH (n:Person) WHERE n.name = 'Charlie' SET n.age = ${70 + i}")
    s.commit()
    assert(rows(s.run("MATCH (n:Person) WHERE n.name = 'Charlie' RETURN n.age AS a"))
      == Seq(Seq(82L)))
    for (i <- 1 to 12)
      s.run(s"MATCH (n:Person) WHERE n.name = 'David' SET n.age = ${80 + i}")
    assert(rows(s.run("MATCH (n:Person) WHERE n.name = 'David' RETURN n.age AS a"))
      == Seq(Seq(92L)))
    // deferred generations released: only the latest live generation's
    // blocks (one checkpoint per store table, plus the in-flight
    // statement's) remain beyond the pre-txn set
    val extra = sc.getPersistentRDDs.keySet -- preTxn
    assert(extra.size <= 6, s"deferred generations leaked: ${extra.size} blocks")
  }

  test("length(p) counts relationships on MATCH-assigned and shortestPath paths") {
    val s = session
    // Alice -KNOWS-> Bob -KNOWS-> Charlie
    assert(rows(s.run(
      "MATCH p = (a:Person {name: 'Alice'})-[:KNOWS]->(b) RETURN length(p) AS l, size(p) AS n"))
      == Seq(Seq(1L, 2L)))
    assert(rows(s.run(
      "MATCH p = (a:Person {name: 'Alice'})-[:KNOWS*1..2]->(b:Person) " +
        "RETURN b.name AS b, length(p) AS l ORDER BY l")) == Seq(Seq("Bob", 1L), Seq("Charlie", 2L)))
    assert(rows(s.run(
      "MATCH p = shortestPath((a:Person {name: 'Alice'})-[:KNOWS*..3]->(b:Person {name: 'Charlie'})) " +
        "RETURN length(p) AS l, size(p) AS n")) == Seq(Seq(2L, 3L)))
    // a path passed through WITH is still a path
    assert(rows(s.run(
      "MATCH p = shortestPath((a:Person {name: 'Alice'})-[:KNOWS*..3]->(b:Person {name: 'Charlie'})) " +
        "WITH p AS q RETURN length(q) AS l")) == Seq(Seq(2L)))
    assert(rows(s.run(
      "MATCH p = (a:Person {name: 'Alice'})-[:KNOWS*2]->(b) WITH p RETURN length(p) AS l"))
      == Seq(Seq(2L)))
    // strings and lists keep their size
    assert(rows(s.run(
      "MATCH (n:Person {name: 'Alice'}) RETURN length(n.name) AS s, length([1, 2, 3]) AS l"))
      == Seq(Seq(5, 3L)))
  }

  /** The People graph saved as parquet and loaded back: a file-backed
    * store, whose tables a long-lived session keeps resident.
    */
  def parquetPeople(): GraphStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft_people").toString
    peopleStore.save(dir)
    GraphStore.load(spark, dir)
  }

  /** `body`'s result and the number of classes Janino compiled meanwhile. */
  def compilesDuring[A](body: => A): (A, Long) = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val result = body
    (result, compiles.getCount - before)
  }

  object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    def fileScans(df: DataFrame): Int = collect(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.size
    def broadcasts(df: DataFrame): Int = collect(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }.size
  }

  def pointRead(age: Long): String = s"MATCH (u:Person {age: $age}) RETURN u.name AS name"
  def hopRead(age: Long): String =
    s"MATCH (u:Person {age: $age})-[k:KNOWS]->(v:Person) RETURN v.name AS name, k.since AS y"

  test("a re-run point or one-hop read with another numeric key compiles no class") {
    val s = new CypherSession(spark, parquetPeople())
    // two statements read Person and KNOWS, so both are resident from the
    // second on; the first point read on the resident table compiles
    rows(s.run(hopRead(30)))
    assert(rows(s.run(hopRead(25))) == Seq(Seq("Charlie", 2021L)))
    assert(rows(s.run(pointRead(30))) == Seq(Seq("Alice")))
    val (point, pointCompiles) = compilesDuring(rows(s.run(pointRead(25))))
    assert(point == Seq(Seq("Bob")))
    assert(pointCompiles == 0)
    val (hop, hopCompiles) = compilesDuring(rows(s.run(hopRead(30))))
    assert(hop == Seq(Seq("Bob", 2020L)))
    assert(hopCompiles == 0)
  }

  test("a session keeps a table resident once a second statement reads it") {
    val s = new CypherSession(spark, parquetPeople())
    val q = "MATCH (u:Person) WHERE u.age > 26 RETURN u.name AS name"
    val first = s.run(q)
    assert(rows(first).map(_.head.toString).sorted == Seq("Alice", "Charlie", "David"))
    assert(Plans.fileScans(first) == 1)
    val second = s.run(q)
    assert(rows(second).map(_.head.toString).sorted == Seq("Alice", "Charlie", "David"))
    assert(Plans.fileScans(second) == 0)
    assert(graft.util.Checkpoints.idsOf(s.store.vertexTables("Person")).nonEmpty)
  }

  test("a single-statement session scans parquet and persists nothing") {
    val store = parquetPeople()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = new CypherSession(spark, store).run(hopRead(30))
    assert(rows(df) == Seq(Seq("Bob", 2020L)))
    assert(Plans.fileScans(df) > 0)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("a frame returned before a compaction collects after its resident blocks go") {
    val sc = spark.sparkContext
    val s = new CypherSession(spark, parquetPeople())
    val q = "MATCH (u:Person) RETURN u.name AS name, u.age AS age ORDER BY name"
    rows(s.run(q))
    val early = s.run(q) // reads the resident copy
    val expected = rows(early)
    val resident = graft.util.Checkpoints.idsOf(s.store.vertexTables("Person"))
    assert(resident.nonEmpty && resident.subsetOf(sc.getPersistentRDDs.keySet))
    // each SET doubles the Person plan until auto-compaction cuts it and
    // releases the resident blocks
    var sets = 0
    while (resident.exists(sc.getPersistentRDDs.contains)) {
      sets += 1
      assert(sets <= 20, "no compaction released the resident copy")
      s.run(s"MATCH (n:Person) WHERE n.name = 'Bob' SET n.age = ${40 + sets}")
    }
    assert(rows(early) == expected)
    assert(rows(s.run("MATCH (n:Person {name: 'Bob'}) RETURN n.age AS a")) == Seq(Seq(40L + sets)))
  }

  test("read cases return the same rows with codegen off") {
    val reads = Seq(
      "MATCH (n:Person) WHERE n.age >= 28 RETURN n.name AS name, n.age AS age",
      "MATCH (a:Person {age: 30})-[r:KNOWS]->(b:Person) RETURN b.name AS b, r.since AS y",
      "MATCH (a:Person)-[:KNOWS]->(b:Person)-[:KNOWS]->(c:Person) RETURN a.name AS a, c.name AS c",
      "MATCH (a:Person) OPTIONAL MATCH (a)-[:KNOWS]->(b) RETURN a.name AS a, b.name AS b",
      "MATCH (n:Person) RETURN n.city AS city, count(*) AS n, avg(n.age) AS avg_age",
      "MATCH (n:Person) WHERE n.age * 1.5 > 40.0 " +
        "RETURN n.name AS name, n.age / 2 AS h, n.age % 7 AS m, n.age + 0.25 AS f",
      "MATCH (n:Person) WHERE n.age IN [25, 35] RETURN n.name AS name",
      "MATCH (n:Person) RETURN n.name AS name, CASE WHEN n.age > 29 THEN 1 ELSE 0 END AS old",
      "MATCH (a:Person {age: 30})-[:KNOWS*1..2]->(b:Person) WHERE b.age <> 30 RETURN b.name AS b",
      "MATCH p = (a:Person {age: 30})-[:KNOWS*1..2]->(b) RETURN b.name AS b, length(p) AS l",
      "MATCH p = shortestPath((a:Person {age: 30})-[:KNOWS*..3]->(b:Person {age: 35})) " +
        "RETURN length(p) AS l, p AS p",
      "CALL graft.degrees() YIELD id, in_degree, out_degree " +
        "WITH id, in_degree, out_degree WHERE out_degree >= 1 RETURN count(*) AS n")
    // one session per configuration over the parquet store: its later
    // statements read the resident tables
    def run(): Seq[Seq[String]] = {
      val s = new CypherSession(spark, parquetPeople())
      reads.map(q => rows(s.run(q)).map(_.mkString("|")).sorted)
    }
    val default = run()
    assert(default == reads.map(q => rows(session.run(q)).map(_.mkString("|")).sorted))
    // NO_CODEGEN covers expression-level code only, so whole-stage codegen
    // is off there too: everything is interpreted
    for (conf <- Seq(Map("spark.sql.codegen.wholeStage" -> "false"),
        Map("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) {
      withConf(conf.toSeq: _*)(assert(run() == default, conf))
    }
  }

  /** A parquet store of 40 Person nodes (age = position) on a KNOWS ring
    * with chords: i -> i+1 and i -> i+3 (mod 40).
    */
  def parquetRing(): GraphStore = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ring").toString
    val persons = (0 until 40).map(i => (Graphid.pack(100, i + 1), s"p$i", i.toLong))
      .toDF("id", "name", "age")
    val knows = (0 until 40).flatMap(i => Seq((i, (i + 1) % 40), (i, (i + 3) % 40)))
      .zipWithIndex.map { case ((s, d), j) =>
        (Graphid.pack(101, j + 1), Graphid.pack(100, s + 1), Graphid.pack(100, d + 1), 2000L + j) }
      .toDF("id", "src", "dst", "since")
    new GraphStore(Map("Person" -> persons), Map("KNOWS" -> knows)).save(dir)
    GraphStore.load(spark, dir)
  }

  def ringShortest(to: Int): String =
    s"MATCH p = shortestPath((a:Person {age: 0})-[:KNOWS*..6]->(b:Person {age: $to})) RETURN length(p) AS l"
  def ringVle(from: Int): String =
    s"MATCH (a:Person {age: $from})-[:KNOWS*1..3]->(b:Person) RETURN count(DISTINCT b.age) AS n"

  /** A ring session whose KNOWS table is resident and walked once. */
  def residentRing(): CypherSession = {
    val s = new CypherSession(spark, parquetRing())
    for (_ <- 0 until 2) { rows(s.run(ringShortest(10))); rows(s.run(ringVle(0))) }
    s
  }

  def adjacencyIds: Set[Int] = spark.sparkContext.getPersistentRDDs
    .collect { case (id, r) if r.name != null && r.name.startsWith("graft adjacency") => id }.toSet

  test("resident shortestPath and *1..3 reads run far fewer jobs than the DataFrame loop") {
    val s = residentRing()
    // 13 = 3+3+3+3+1: five hops, for which the DataFrame loop ran 58 jobs
    val (sp, spJobs) = jobsDuring(rows(s.run(ringShortest(13))))
    assert(sp == Seq(Seq(5L)))
    assert(spJobs <= 29, s"shortestPath ran $spJobs jobs")
    // the DataFrame loop ran 17 jobs; here the start ids (1), one lookup
    // per level (3) and the read with the walked paths joined in (5)
    val (vl, vlJobs) = jobsDuring(rows(s.run(ringVle(7))))
    assert(vl == Seq(Seq(8L)))
    assert(vlJobs <= 9, s"*1..3 ran $vlJobs jobs")
  }

  test("a one-key adjacency lookup runs one task at 4 and at 32 partitions") {
    // pins the persisted index form, whose every lookup is a Spark job
    withConf(persistedIndexes) {
      val knows = parquetRing().edgeTables("KNOWS")
      for (partitions <- Seq(4, 32)) {
        val index = graft.algorithms.Adjacency.index(knows, reverse = false, partitions)
        val adj = graft.algorithms.Adjacency(index)
        val (nb, jobs, tasks) = countsDuring(adj.lookup(Array(Graphid.pack(100, 1))).get)
        val found = Seq.newBuilder[Long]
        nb.foreach(Graphid.pack(100, 1))((v, _) => found += v)
        assert(found.result().sorted == Seq(Graphid.pack(100, 2), Graphid.pack(100, 4)))
        assert((jobs, tasks) == (1, 1), s"$partitions partitions")
        index.rdd.foreach(_.unpersist())
      }
    }
  }

  test("a var-length read in a resident session persists nothing") {
    val s = residentRing()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = s.run(ringVle(5))
    assert(rows(df) == Seq(Seq(8L)))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("a write to the walked label sends the next traversal to the DataFrame loop") {
    // pins the persisted index form, whose every lookup is a Spark job
    withConf(persistedIndexes) {
      val s = residentRing()
      val sc = spark.sparkContext
      rows(s.run("MATCH (a:Person {age: 5}), (b:Person {age: 30}) CREATE (a)-[:KNOWS {since: 1}]->(b)"))
      // held so that no listed RDD leaves the context's weak list at a GC
      val pinned = sc.getPersistentRDDs.values.toList
      val (before, adjBefore) = (sc.getPersistentRDDs.keySet, adjacencyIds)
      val df = s.run(ringVle(5))
      assert(rows(df) == rows(new CypherSession(spark, s.store).run(ringVle(5))))
      assert(rows(df) == Seq(Seq(14L)))
      // the loop's level checkpoints, and no new index
      assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
      assert(adjacencyIds == adjBefore)
      assert(pinned.nonEmpty)
    }
  }

  test("an adjacency built in a transaction goes with its rollback") {
    // pins the persisted index form, whose every lookup is a Spark job
    withConf(persistedIndexes) {
      val s = residentRing()
      val back = "MATCH (a:Person {age: 7})<-[:KNOWS*1..2]-(b:Person) RETURN count(DISTINCT b.age) AS n"
      // the context lists persisted RDDs weakly: holding them keeps an earlier
      // test's unreachable index from leaving the list at a GC
      val pinned = spark.sparkContext.getPersistentRDDs.values.toList
      val before = adjacencyIds
      s.begin()
      assert(rows(s.run(back)) == Seq(Seq(5L)))
      val built = adjacencyIds -- before
      assert(built.size == 1)
      s.rollback()
      assert(adjacencyIds == before)
      assert(pinned.nonEmpty)
      // the next backward walk builds it again
      assert(rows(s.run(back)) == Seq(Seq(5L)))
      assert((adjacencyIds -- before).size == 1)
    }
  }

  test("compaction releases the session's adjacency") {
    // pins the persisted index form, whose every lookup is a Spark job
    withConf(persistedIndexes) {
      val before = adjacencyIds
      val s = residentRing()
      val mine = adjacencyIds -- before
      assert(mine.nonEmpty)
      var sets = 0
      while (mine.exists(spark.sparkContext.getPersistentRDDs.contains)) {
        sets += 1
        assert(sets <= 20, "no compaction released the adjacency")
        s.run(s"MATCH (n:Person) WHERE n.age = 3 SET n.name = 'q$sets'")
      }
      // the compacted generation is resident: the next walk indexes it
      assert(rows(s.run(ringVle(0))) == Seq(Seq(8L)))
      assert((adjacencyIds -- before -- mine).nonEmpty)
    }
  }

  def optionalRead(age: Long): String =
    s"MATCH (u:Person {age: $age}) OPTIONAL MATCH (u)<-[:KNOWS]-(v:Person) " +
      "RETURN u.age AS a, count(v) AS c"

  /** A ring session whose key-anchored reads are answered by lookups: three
    * rounds of a one-hop and an OPTIONAL read hold the tables resident, want
    * their indexes and build them.
    */
  def lookupRing(): CypherSession = {
    val s = new CypherSession(spark, parquetRing())
    for (_ <- 0 until 3) { rows(s.run(hopRead(0))); rows(s.run(optionalRead(0))) }
    s
  }

  def indexIds: Set[Int] = spark.sparkContext.getPersistentRDDs
    .collect { case (id, r) if r.name != null && r.name.startsWith("graft ") => id }.toSet

  /** Whether the statement's plan reads no table. */
  def lookedUp(df: DataFrame): Boolean = df.queryExecution.analyzed.collectFirst {
    case l: org.apache.spark.sql.execution.LogicalRDD => l
    case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
  }.isEmpty

  test("a resident point read is one job of one task, a one-hop read three jobs and no broadcast") {
    // pins the persisted index form, whose every lookup is a Spark job
    withConf(persistedIndexes) {
      val s = lookupRing()
      val (point, pointJobs, pointTasks) = countsDuring(rows(s.run(pointRead(7))))
      assert(point == Seq(Seq("p7")))
      assert((pointJobs, pointTasks) == (1, 1))
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val targets = Seq(8, 10).map(i => new org.apache.spark.HashPartitioner(parts)
        .getPartition(Graphid.pack(100, i + 1))).distinct.size
      val (hop, hopJobs, hopTasks) = countsDuring {
        val df = s.run(hopRead(7))
        val r = rows(df)
        assert(Plans.broadcasts(df) == 0)
        r
      }
      assert(hop.map(_.head.toString).sorted == Seq("p10", "p8"))
      assert(hopJobs <= 3, s"one-hop read ran $hopJobs jobs")
      assert(hopTasks <= 2 + targets, s"one-hop read ran $hopTasks tasks")
      // the DataFrame plan ran 8 jobs
      val (opt, optJobs) = jobsDuring(rows(s.run(optionalRead(7))))
      assert(opt == Seq(Seq(7L, 2L)))
      assert(optJobs <= 5, s"OPTIONAL read ran $optJobs jobs")
    }
  }

  def hop2Read(age: Long): String =
    s"MATCH (u:Person {age: $age})-[:KNOWS]->(:Person)-[:KNOWS]->(w:Person) RETURN w.age AS a, count(*) AS n"

  /** Whether the statement's tail was evaluated on the driver. */
  def folded(df: DataFrame): Boolean = df.queryExecution.optimizedPlan
    .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("a lookup-answered aggregate read collects with no job") {
    val s = lookupRing()
    // holds the two-hop and var-length reads' indexes too
    for (_ <- 0 until 2) { rows(s.run(hop2Read(0))); rows(s.run(ringVle(0))) }
    // the jobs of the whole read: its lookups; before the driver evaluated
    // the tail, OPTIONAL ran 5 and two-hop 7
    for ((q, expected, most) <- Seq(
        (optionalRead(7), Seq(Seq(7L, 2L)), 3),
        (hop2Read(7), Seq(Seq(9L, 1L), Seq(11L, 2L), Seq(13L, 1L)), 5),
        (ringVle(7), Seq(Seq(8L)), 5))) {
      val ((df, (got, collectJobs)), jobs) = jobsDuring {
        val df = s.run(q)
        (df, jobsDuring(rows(df)))
      }
      assert(lookedUp(df) && folded(df), q)
      assert(got.sortBy(_.head.asInstanceOf[Long]) == expected, q)
      assert(collectJobs == 0, s"collecting $q ran $collectJobs jobs")
      assert(jobs <= most, s"$q ran $jobs jobs")
    }
  }

  test("an aggregate read lookups do not answer keeps its DataFrame plan and job count") {
    val agg = "MATCH (u:Person)-[:KNOWS]->(v:Person) WHERE u.age < 5 RETURN v.age % 2 AS p, count(*) AS n"
    val s = lookupRing()
    val df = s.run(agg)
    assert(!lookedUp(df) && !folded(df))
    assert(rows(df).sortBy(_.head.asInstanceOf[Long]) == Seq(Seq(0L, 4L), Seq(1L, 6L)))
    // a single-statement session is never answered by lookups: its
    // OPTIONAL read runs the DataFrame plan's jobs
    val single = new CypherSession(spark, parquetRing())
    val (opt, jobs) = jobsDuring(rows(single.run(optionalRead(7))))
    assert(opt == Seq(Seq(7L, 2L)))
    assert(jobs == 8, s"single-statement OPTIONAL read ran $jobs jobs")
  }

  test("point and one-hop lookups run as many tasks at 32 shuffle partitions as at 4") {
    def tasks(parts: Int): (Int, Int) =
      withConf("spark.sql.shuffle.partitions" -> parts.toString, persistedIndexes) {
        val s = lookupRing()
        (countsDuring(rows(s.run(pointRead(3))))._3, countsDuring(rows(s.run(hopRead(3))))._3)
      }
    assert(tasks(4) == tasks(32))
  }

  test("a lookup read persists nothing, a write keeps its job count") {
    val s = lookupRing()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = s.run(hopRead(5))
    assert(lookedUp(df))
    assert(rows(df).map(_.head.toString).sorted == Seq("p6", "p8"))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    // the jobs the same CREATE ran before reads were answered by lookups
    val (_, jobs) = jobsDuring(rows(s.run(
      "MATCH (a:Person {age: 5}), (b:Person {age: 30}) CREATE (a)-[:KNOWS {since: 1}]->(b)")))
    assert(jobs == 6, s"CREATE ran $jobs jobs")
  }

  test("a read after a write to its label keeps the DataFrame plan and builds no index") {
    val s = lookupRing()
    rows(s.run("MATCH (n:Person {age: 3}) SET n.name = 'q'"))
    val before = indexIds
    for (_ <- 0 until 3) {
      val df = s.run(pointRead(3))
      assert(!lookedUp(df))
      assert(rows(df) == Seq(Seq("q")))
    }
    assert((indexIds -- before).isEmpty)
  }

  test("a read that cannot use every index it needs builds none and keeps the DataFrame plan") {
    val s = new CypherSession(spark, parquetRing())
    // wants Person by age and by id and KNOWS by dst (opening tables)
    rows(s.run(optionalRead(1)))
    // holds Person and KNOWS resident, then replaces KNOWS
    rows(s.run("MATCH (a:Person {age: 1}), (b:Person {age: 30}) CREATE (a)-[:KNOWS {since: 2}]->(b)"))
    // wants them again after the write
    rows(s.run(optionalRead(1)))
    val before = indexIds
    // the Person indexes are due, KNOWS is no held table: none is built,
    // and the first MATCH is not answered alone
    val df = s.run(optionalRead(1))
    assert(rows(df) == Seq(Seq(1L, 2L)))
    assert(!lookedUp(df))
    assert(df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isEmpty)
    assert((indexIds -- before).isEmpty)
  }

  test("a write statement between two reads that want an index defers it") {
    // pins the persisted index form, whose every lookup is a Spark job
    withConf(persistedIndexes) {
      val s = new CypherSession(spark, parquetRing())
      // wants Person by age (the opening table)
      rows(s.run(pointRead(1)))
      // holds Person resident and replaces KNOWS only
      rows(s.run("MATCH (a:Person {age: 1}), (b:Person {age: 30}) CREATE (a)-[:KNOWS {since: 2}]->(b)"))
      val before = indexIds
      val first = s.run(pointRead(2))
      assert(!lookedUp(first) && rows(first) == Seq(Seq("p2")))
      assert((indexIds -- before).isEmpty)
      // the second read in a row builds it
      val second = s.run(pointRead(3))
      assert(lookedUp(second) && rows(second) == Seq(Seq("p3")))
      assert((indexIds -- before).size == 1)
    }
  }

  test("an index built in a transaction goes with its rollback, explain builds none") {
    // pins the persisted index form, whose every lookup is a Spark job
    withConf(persistedIndexes) {
      val s = new CypherSession(spark, parquetRing())
      rows(s.run(pointRead(1)))
      val before = indexIds
      // explain answers over the built indexes only
      assert(s.explain(pointRead(2)).nonEmpty)
      assert((indexIds -- before).isEmpty)
      s.begin()
      val df = s.run(pointRead(2))
      assert(lookedUp(df) && rows(df) == Seq(Seq("p2")))
      val built = indexIds -- before
      assert(built.size == 1)
      s.rollback()
      assert(!built.exists(spark.sparkContext.getPersistentRDDs.contains))
      assert(rows(s.run(pointRead(2))) == Seq(Seq("p2")))
    }
  }

  test("compaction releases every index of the session") {
    // pins the persisted index form, whose every lookup is a Spark job
    withConf(persistedIndexes) {
      val before = indexIds
      val s = lookupRing()
      val mine = indexIds -- before
      assert(mine.size == 4) // Person by age and by id, KNOWS by src and by dst
      var sets = 0
      while (mine.exists(spark.sparkContext.getPersistentRDDs.contains)) {
        sets += 1
        assert(sets <= 20, "no compaction released the indexes")
        s.run(s"MATCH (n:Person) WHERE n.age = 3 SET n.name = 'q$sets'")
      }
      assert(rows(s.run(hopRead(3))).map(_.head.toString).sorted == Seq("p4", "p6"))
    }
  }

  /** Whether every index the session holds is held on the driver. */
  def onDriver(s: CypherSession): Boolean =
    s.heldIndexes.nonEmpty && s.heldIndexes.forall(_.isInstanceOf[graft.algorithms.KeyedIndex.OnDriver])

  test("key-anchored reads over driver-held indexes run no job") {
    val before = indexIds
    val s = lookupRing()
    val reads = Seq(pointRead(7), hopRead(7), optionalRead(7), hop2Read(7), ringVle(7), ringShortest(13))
    // holds the two-hop, var-length and shortestPath reads' indexes too
    for (_ <- 0 until 2; q <- reads) rows(s.run(q))
    for (q <- reads) {
      val (got, jobs) = jobsDuring(rows(s.run(q)))
      assert(jobs == 0, s"$q ran $jobs jobs")
      val fresh = rows(new CypherSession(spark, s.store).run(q))
      assert(got.map(_.mkString("|")).sorted == fresh.map(_.mkString("|")).sorted, q)
    }
    assert(onDriver(s))
    // every build unpersisted the blocks it collected
    assert((indexIds -- before).isEmpty)
  }

  test("a key-anchored shortestPath endpoint still resolves to exactly one vertex") {
    val s = lookupRing()
    val many = "MATCH p = shortestPath((a:Person {age: 0})-[:KNOWS*..3]->(b:Person {name: 'none'})) RETURN p AS p"
    for (_ <- 0 until 2) {
      val e = intercept[IllegalArgumentException](rows(s.run(many)))
      assert(e.getMessage.contains("exactly one vertex, got 0"), e.getMessage)
    }
  }

  test("rollback and compaction drop the session's driver-held indexes, explain builds none") {
    val s = new CypherSession(spark, parquetRing())
    rows(s.run(pointRead(1)))
    assert(s.explain(pointRead(2)).nonEmpty)
    assert(s.heldIndexes.isEmpty)
    s.begin()
    val df = s.run(pointRead(2))
    assert(lookedUp(df) && rows(df) == Seq(Seq("p2")))
    val built = s.heldIndexes
    assert(built.size == 1 && onDriver(s))
    s.rollback()
    assert(!s.heldIndexes.exists(i => built.exists(_ eq i)))
    assert(rows(s.run(pointRead(2))) == Seq(Seq("p2")))

    val ring = lookupRing()
    val mine = ring.heldIndexes
    assert(mine.size == 4 && onDriver(ring)) // Person by age and by id, KNOWS by src and by dst
    var sets = 0
    while (ring.heldIndexes.exists(i => mine.exists(_ eq i))) {
      sets += 1
      assert(sets <= 20, "no compaction dropped the indexes")
      ring.run(s"MATCH (n:Person) WHERE n.age = 3 SET n.name = 'q$sets'")
    }
    assert(rows(ring.run(hopRead(3))).map(_.head.toString).sorted == Seq("p4", "p6"))
  }
}
