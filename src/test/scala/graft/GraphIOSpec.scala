package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.store.GraphIO

/** Import/export roundtrip tests on the reference's interchange formats
  * (FIXTURES.md §1-2, mirrors tests/integration_test.rs:110-122).
  */
class GraphIOSpec extends AnyFunSuite with SparkSuite {

  val jsonDoc: String =
    """{
      |  "vertices": [
      |    {"id": "1", "label": "Person", "properties": {"name": "Alice", "age": 30}},
      |    {"id": "2", "label": "Person", "properties": {"name": "Bob", "age": 25}},
      |    {"id": "3", "label": "City", "properties": {"name": "Beijing"}}
      |  ],
      |  "edges": [
      |    {"label": "KNOWS", "start": "1", "end": "2", "properties": {"since": 2020}},
      |    {"label": "LIVES_IN", "start": "1", "end": "3", "properties": {}}
      |  ]
      |}""".stripMargin

  test("JSON import builds a queryable store") {
    val f = Files.createTempFile("graph", ".json")
    Files.writeString(f, jsonDoc)
    val store = GraphIO.importJson(spark, f.toString)
    assert(store.vertexLabels == Seq("City", "Person"))
    assert(store.edgeLabels == Seq("KNOWS", "LIVES_IN"))
    assert(store.vertices("Person").count() == 2)
    assert(store.edges("KNOWS").count() == 1)
    // edge endpoints resolve through the string-id mapping
    val sess = new graft.cypher.CypherSession(spark, store)
    val res = sess.run(
      "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b")
    assert(res.collect().map(_.toSeq).toSeq == Seq(Seq("\"Alice\"", "\"Bob\"")) ||
      res.collect().map(_.toSeq).toSeq == Seq(Seq("Alice", "Bob")))
  }

  test("JSON doc export/import roundtrip preserves counts") {
    val f = Files.createTempFile("graph", ".json")
    Files.writeString(f, jsonDoc)
    val store = GraphIO.importJson(spark, f.toString)
    val out = GraphIO.exportJsonDoc(store)
    val f2 = Files.createTempFile("graph2", ".json")
    Files.writeString(f2, out)
    val store2 = GraphIO.importJson(spark, f2.toString)
    assert(store2.allVertices.count() == 3)
    assert(store2.allEdges.count() == 2)
    // the single-document export is a driver-side collect by design —
    // a store past the ceiling fails loudly instead of OOMing the driver
    val ex = intercept[IllegalArgumentException] {
      GraphIO.exportJsonDoc(store, maxElements = 4L)
    }
    assert(ex.getMessage.contains("exportJsonLines"))
  }

  test("CSV import with auto-generated ids") {
    val vf = Files.createTempFile("verts", ".csv")
    Files.writeString(vf, "id,label,name,age\n,Person,Alice,30\n,Person,Bob,25\n")
    val ef = Files.createTempFile("edges", ".csv")
    // CSV edges reference vertex keys; with auto ids we use explicit keys
    val vf2 = Files.createTempFile("verts2", ".csv")
    Files.writeString(vf2, "id,label,name,age\nalice,Person,Alice,30\nbob,Person,Bob,25\n")
    Files.writeString(ef, "id,label,start,end,since\n,KNOWS,alice,bob,2020\n")
    val store = GraphIO.importCsv(spark, vf2.toString, ef.toString)
    assert(store.vertices("Person").count() == 2)
    assert(store.edges("KNOWS").count() == 1)
    val e = store.edges("KNOWS").collect()(0)
    val vs = store.vertices("Person").collect()
    assert(vs.map(_.getLong(0)).toSet.contains(e.getLong(1)))
  }

  test("CSV cells are typed like the reference: int/float to numbers, rest strings") {
    // reference import.rs deserializes each CSV cell into a
    // serde_json::Value via the csv crate: integer, then float, then
    // string — booleans are NOT inferred ("true" stays a string)
    val vf = Files.createTempFile("verts", ".csv")
    Files.writeString(vf,
      "id,label,name,age,score,flag,quote\n" +
      "a,P,Alice,30,1.5,true,\"say \"\"hi\"\"\"\n" +
      "b,P,Bob,007,1e3,false,plain\n")
    val ef = Files.createTempFile("edges", ".csv")
    Files.writeString(ef, "id,label,start,end\n,K,a,b\n")
    val store = GraphIO.importCsv(spark, vf.toString, ef.toString)
    val props = store.vertices("P").orderBy("id").collect()
      .map(_.getString(1)).toSeq
    assert(props == Seq(
      """{"age":30,"flag":"true","name":"Alice","quote":"say \"hi\"","score":1.5}""",
      """{"age":7,"flag":"false","name":"Bob","quote":"plain","score":1000.0}"""))
    // a float literal overflowing double (1e999 -> Infinity) must fall to
    // the string branch, not emit a bare Infinity token that would corrupt
    // the JSON; a 19-digit integer exceeds the bounded-exact window and
    // normalizes through double instead
    val vf3 = Files.createTempFile("verts3", ".csv")
    Files.writeString(vf3, "id,label,big,huge\nc,Q,1e999,9999999999999999999\n")
    val ef3 = Files.createTempFile("edges3", ".csv")
    Files.writeString(ef3, "id,label,start,end\n")
    val store3 = GraphIO.importCsv(spark, vf3.toString, ef3.toString)
    assert(store3.vertices("Q").collect().map(_.getString(1)).toSeq ==
      Seq("""{"big":"1e999","huge":1.0E19}"""))
    // and the typed values flow through Cypher predicates without casts
    val sess = new graft.cypher.CypherSession(spark, store)
    val got = sess.run("MATCH (n:P) WHERE n.age > 25 RETURN n.name AS name")
    assert(got.collect().map(_.getString(0)).toSeq == Seq("Alice"))
  }

  test("absent JSON properties normalize to the empty object, like the reference") {
    // the reference's import stores an empty map for a vertex without a
    // properties field (import.rs unwrap_or_default); a NULL here would
    // make toJSON-based exports drop the properties key for such rows
    val json =
      """{"vertices":[
        |  {"id":"1","label":"T"},
        |  {"id":"2","label":"T","properties":null},
        |  {"id":"3","label":"T","properties":{"k":1}}],
        |"edges":[{"label":"E","start":"1","end":"2"}]}""".stripMargin
    val f = Files.createTempFile("noprops", ".json")
    Files.writeString(f, json)
    val s = GraphIO.importJson(spark, f.toString)
    assert(s.allVertices.collect().map(_.getAs[String]("properties")).sorted.toSeq ==
      Seq("{\"k\":1}", "{}", "{}"))
    assert(s.allEdges.collect().map(_.getAs[String]("properties")).toSeq == Seq("{}"))
    // and the export keeps the properties key on every row
    val doc = GraphIO.exportJsonDoc(s)
    assert(doc.sliding("\"properties\"".length).count(_ == "\"properties\"") == 4, doc)
  }

  test("empty CSV cells become present empty-string properties; +5 parses integer") {
    // the csv crate deserializes an empty cell to String("") — the key
    // stays present (import.rs:64-70); and its i64 parse accepts a leading
    // '+', so "+5" is the integer 5, not the float 5.0
    val vf = Files.createTempFile("verts", ".csv")
    Files.writeString(vf,
      "id,label,name,age\na,P,,30\nb,P,\"\",+5\nc,P,x,-7\n")
    val ef = Files.createTempFile("edges", ".csv")
    Files.writeString(ef, "id,label,start,end\n")
    val store = GraphIO.importCsv(spark, vf.toString, ef.toString)
    assert(store.vertices("P").orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("""{"age":30,"name":""}""", """{"age":5,"name":""}""",
        """{"age":-7,"name":"x"}"""))
  }

  test("typed JSON properties survive an export/reimport roundtrip") {
    // booleans/numbers/arrays/nested objects keep their JSON types through
    // importJson -> exportJsonDoc -> importJson: the first import
    // normalizes through to_json(variant) (sorted keys), the export emits
    // the properties string verbatim as a JSON string token, and the
    // re-import's STRING-variant unwrap passes it through unchanged
    val json =
      """{"vertices":[
        |  {"id":"1","label":"T","properties":{"b":false,"n":0,"s":"false","f":2.5}},
        |  {"id":"2","label":"T","properties":{"a":[1,2],"o":{"k":true},"e":""}}],
        |"edges":[{"label":"E","start":"1","end":"2","properties":{"w":1.5}}]}""".stripMargin
    val f = Files.createTempFile("typed", ".json")
    Files.writeString(f, json)
    val s1 = GraphIO.importJson(spark, f.toString)
    def propSet(s: graft.store.GraphStore) =
      (s.allVertices.collect().map(_.getAs[String]("properties")) ++
        s.allEdges.collect().map(_.getAs[String]("properties"))).toSet
    val f2 = Files.createTempFile("typed2", ".json")
    Files.writeString(f2, GraphIO.exportJsonDoc(s1))
    val s2 = GraphIO.importJson(spark, f2.toString)
    val p1 = propSet(s1)
    assert(p1 == propSet(s2))
    // and the types are actually in the text (unquoted scalars, quoted strings)
    assert(p1.exists(_.contains(""""b":false""")), p1)
    assert(p1.exists(_.contains(""""s":"false"""")), p1)
    assert(p1.exists(_.contains(""""a":[1,2]""")), p1)
    assert(p1.exists(_.contains(""""o":{"k":true}""")), p1)
  }

  test("typed properties survive a CSV export/reimport roundtrip") {
    // exportCsv writes the reference's layout (id,label,properties-JSON;
    // edges in start/end interchange shape); importCsv recognizes the
    // lone properties column and passes the JSON through un-escaped —
    // the roundtrip the reference's own importer cannot do
    val json =
      """{"vertices":[
        |  {"id":"1","label":"T","properties":{"b":false,"s":"say \"hi\"","n":7}},
        |  {"id":"2","label":"T","properties":{"a":[1,2]}}],
        |"edges":[{"label":"E","start":"1","end":"2","properties":{"w":1.5}}]}""".stripMargin
    val f = Files.createTempFile("csvr", ".json")
    Files.writeString(f, json)
    val s1 = GraphIO.importJson(spark, f.toString)
    val out = Files.createTempDirectory("csvr_out")
    GraphIO.exportCsv(s1, out.toString)
    def part(d: String) = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(d))
        .iterator().asScala.filter(_.toString.endsWith(".csv")).next().toString
    }
    val s2 = GraphIO.importCsv(spark, part(s"$out/vertices"), part(s"$out/edges"))
    def propSet(s: graft.store.GraphStore) =
      (s.allVertices.collect().map(_.getAs[String]("properties")) ++
        s.allEdges.collect().map(_.getAs[String]("properties"))).toSet
    assert(propSet(s1) == propSet(s2))
    assert(s2.allEdges.count() == 1)
  }

  test("schemaless Cypher-script export replays with properties intact") {
    // the export writes `properties: '<json>'` as one quoted prop; replay
    // must store that blob AS the properties column for every statement —
    // the second-and-later CREATEs of a label hit the schemaless fold,
    // which must pass the lone properties prop through un-wrapped
    val json =
      """{"vertices":[
        |  {"id":"1","label":"T","properties":{"b":false,"n":7}},
        |  {"id":"2","label":"T","properties":{"s":"x"}},
        |  {"id":"3","label":"T","properties":{"a":[1]}}],
        |"edges":[{"label":"E","start":"1","end":"2","properties":{"w":1}},
        |  {"label":"E","start":"2","end":"3","properties":{"v":2}}]}""".stripMargin
    val f = Files.createTempFile("cyr", ".json")
    Files.writeString(f, json)
    val s1 = GraphIO.importJson(spark, f.toString)
    val script = GraphIO.exportCypherScript(s1)
    val sess = new graft.cypher.CypherSession(spark,
      new graft.store.GraphStore(Map.empty, Map.empty))
    sess.runScript(script)
    def propSet(s: graft.store.GraphStore) =
      (s.allVertices.collect().map(_.getAs[String]("properties")) ++
        s.allEdges.collect().map(_.getAs[String]("properties"))).toSet
    assert(propSet(s1) == propSet(sess.store))
  }

  test("import id allocation is deterministic across repeated imports") {
    val f = Files.createTempFile("graph", ".json")
    Files.writeString(f, jsonDoc)
    def snapshot(): Seq[Seq[Any]] = {
      val s = GraphIO.importJson(spark, f.toString)
      (s.allVertices.orderBy("id").collect() ++
        s.allEdges.orderBy("id").collect()).toSeq.map(_.toSeq)
    }
    // the range-partitioned sort + zipWithIndex allocation must yield the
    // exact same packed ids every time
    assert(snapshot() == snapshot())
  }

  test("Cypher-script export follows the reference layout and replays id-exact") {
    val f = Files.createTempFile("graph", ".json")
    Files.writeString(f, jsonDoc)
    val store = GraphIO.importJson(spark, f.toString)
    val script = GraphIO.exportCypherScript(store)
    // reference graph.cypher layout (data_generator.rs:393-439): section
    // comments, CREATE per vertex, MATCH+CREATE per edge
    assert(script.startsWith("-- Create Vertices\n"))
    assert(script.contains("\n-- Create Edges\n"))
    assert(script.linesIterator.count(_.startsWith("CREATE (n")) == 3)
    assert(script.linesIterator.count(
      _.startsWith("MATCH (a), (b) WHERE id(a) = ")) == 2)
    // replay into an empty session: explicit id properties make the
    // roundtrip id-exact, so the id(a)=N edge bindings resolve
    val sess = new graft.cypher.CypherSession(spark,
      new graft.store.GraphStore(Map.empty, Map.empty))
    assert(sess.runScript(script) == 5)
    val replayed = sess.store
    assert(replayed.allVertices.select("id").collect().map(_.getLong(0)).toSet ==
      store.allVertices.select("id").collect().map(_.getLong(0)).toSet)
    assert(replayed.allEdges.count() == 2)
    // edges resolve endpoints identically to the source store
    val q = "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN id(a) AS a, id(b) AS b"
    assert(sess.run(q).collect().map(_.toSeq).toSeq ==
      new graft.cypher.CypherSession(spark, store).run(q).collect().map(_.toSeq).toSeq)
  }

  test("exportCypher writes replayable distributed text files") {
    val f = Files.createTempFile("graph", ".json")
    Files.writeString(f, jsonDoc)
    val store = GraphIO.importJson(spark, f.toString)
    val dir = Files.createTempDirectory("cy").toString
    GraphIO.exportCypher(store, dir)
    // replay the part files in directory order (01_vertices then 02_edges)
    val script = spark.read.textFile(s"$dir/01_vertices").collect().mkString("\n") +
      "\n" + spark.read.textFile(s"$dir/02_edges").collect().mkString("\n")
    val sess = new graft.cypher.CypherSession(spark,
      new graft.store.GraphStore(Map.empty, Map.empty))
    assert(sess.runScript(script) == 5)
    assert(sess.store.allVertices.count() == 3)
    assert(sess.store.allEdges.count() == 2)
  }

  test("string properties with quotes and backslashes survive the Cypher roundtrip") {
    import spark.implicits._
    val v = Seq((graft.model.Graphid.pack(1, 1L), "it's a \\ test", 7L),
        (graft.model.Graphid.pack(1, 2L), "plain", 8L))
      .toDF("id", "name", "n")
    val store = new graft.store.GraphStore(Map("Thing" -> v), Map.empty)
    val sess = new graft.cypher.CypherSession(spark,
      new graft.store.GraphStore(Map.empty, Map.empty))
    sess.runScript(GraphIO.exportCypherScript(store))
    val got = sess.run("MATCH (t:Thing) RETURN t.name AS name, t.n AS n ORDER BY n")
      .collect().map(_.toSeq).toSeq
    assert(got == Seq(Seq("it's a \\ test", 7L), Seq("plain", 8L)))
  }

  test("newlines and comment-looking lines inside string properties roundtrip") {
    import spark.implicits._
    // "\n-- item" inside a value: a line-based comment stripper would
    // delete it; export escapes newlines so statements stay one-line, and
    // runScript's splitter is quote-aware either way
    val tricky = "list:\n-- item 1\n-- item 2;\tend"
    val v = Seq((graft.model.Graphid.pack(1, 1L), tricky, 1L))
      .toDF("id", "name", "n")
    val store = new graft.store.GraphStore(Map("Thing" -> v), Map.empty)
    val script = GraphIO.exportCypherScript(store)
    assert(!script.contains("list:\n"), "export must escape newlines")
    val sess = new graft.cypher.CypherSession(spark,
      new graft.store.GraphStore(Map.empty, Map.empty))
    sess.runScript(script)
    val got = sess.run("MATCH (t:Thing) RETURN t.name AS name")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(tricky))
    // and a hand-written multi-line literal with an embedded "--" line,
    // plus a real comment line, through runScript directly
    val sess2 = new graft.cypher.CypherSession(spark,
      new graft.store.GraphStore(Map.empty, Map.empty))
    sess2.runScript(
      "-- a real comment\nCREATE (x:Note {id: 281474976710657, body: 'a\n-- kept\nb'});")
    val body = sess2.run("MATCH (x:Note) RETURN x.body AS b")
      .collect().map(_.getString(0)).toSeq
    assert(body == Seq("a\n-- kept\nb"))
  }

  test("MERGE-heavy replay stays bounded: jobs per statement and persisted blocks") {
    // pins the replay cost model the r7 verdict asked for: each node-form
    // MERGE runs a bounded number of driver actions (the existence probe
    // + first-statement id priming), so a 100-statement MERGE script costs
    // O(statements) jobs with a small constant — not O(statements^2) from
    // re-scanning a growing lineage — and compaction keeps the persisted
    // set at the live generation
    val sess = new graft.cypher.CypherSession(spark,
      new graft.store.GraphStore(Map.empty, Map.empty))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // keys wrap at 50: the second half re-merges existing nodes (match
    // path), the first half creates — both paths under the one ceiling
    val script = (1 to 100)
      .map(i => s"MERGE (n:P {k: ${i % 50}}) ON CREATE SET n.fresh = 1;")
      .mkString("\n")
    val (statements, total) = jobsDuring(sess.runScript(script))
    assert(statements == 100)
    assert(total <= 100 * 6,
      s"MERGE replay ran $total jobs for 100 statements (> 6/stmt ceiling)")
    val delta = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(delta.size <= 1, s"expected <= 1 live checkpoint, leaked: $delta")
    val n = sess.run("MATCH (n:P) RETURN count(n) AS c").collect()(0).getLong(0)
    assert(n == 50L)
    // every node was created by the first pass over its key
    val fresh = sess.run(
      "MATCH (n:P) WHERE n.fresh = 1 RETURN count(n) AS c").collect()(0).getLong(0)
    assert(fresh == 50L)
  }

  test("runScript of 100 statements leaves only the live compact generation persisted") {
    val sess = new graft.cypher.CypherSession(spark,
      new graft.store.GraphStore(Map.empty, Map.empty))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val script = (1 to 100)
      .map(i => s"CREATE (n:P {k: $i});").mkString("\n")
    assert(sess.runScript(script) == 100)
    // 3 compactions happened (every 32) — each must have released its
    // predecessor's blocks, so the persisted delta is bounded by the LIVE
    // generation (one checkpoint per table), independent of script length
    val delta = spark.sparkContext.getPersistentRDDs.keySet -- before
    val tables = 1 // single vertex label, no edges
    assert(delta.size <= tables,
      s"expected <= $tables live checkpoint(s), leaked: $delta")
    // and releasing the dead generations must not have broken the store
    val n = sess.run("MATCH (n:P) RETURN count(n) AS c")
      .collect()(0).getLong(0)
    assert(n == 100L)
    val ks = sess.run("MATCH (n:P) WHERE toInteger(n.k) > 98 RETURN toInteger(n.k) AS k ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(ks == Seq(99L, 100L))
  }

  test("explicit-id edge CREATE refuses a multi-row match") {
    import spark.implicits._
    val sess = new graft.cypher.CypherSession(spark,
      new graft.store.GraphStore(Map.empty, Map.empty))
    sess.runScript(
      """CREATE (a:P {id: 281474976710657, g: 1});
        |CREATE (b:P {id: 281474976710658, g: 1});
        |CREATE (c:P {id: 281474976710659, g: 2});""".stripMargin)
    // two (a, c) bindings -> stamping one literal edge id would duplicate
    // it; mutations are lazy, so the in-plan guard fires at first read —
    // duplicated ids can never be OBSERVED
    val e = intercept[Exception] {
      sess.run("MATCH (a:P), (c:P) WHERE a.g = 1 AND c.g = 2 " +
        "CREATE (a)-[:R {id: 562949953421313}]->(c)")
      sess.run("MATCH (:P)-[r:R]->(:P) RETURN id(r) AS i").collect()
    }
    assert(e.getMessage.contains("more than one row"), e.getMessage)
    // the single-row form still replays id-exact (fresh session: the
    // poisoned CREATE above stays in the old store's lineage)
    val sess2 = new graft.cypher.CypherSession(spark,
      new graft.store.GraphStore(Map.empty, Map.empty))
    sess2.runScript(
      """CREATE (a:P {id: 281474976710657, g: 1});
        |CREATE (c:P {id: 281474976710659, g: 2});""".stripMargin)
    sess2.run("MATCH (a:P), (c:P) WHERE a.g = 1 AND c.g = 2 " +
      "CREATE (a)-[:R {id: 562949953421313}]->(c)")
    val ids = sess2.run("MATCH (:P)-[r:R]->(:P) RETURN id(r) AS i")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(562949953421313L))
  }

  test("nested SET writes through JSON-string properties (schemaless store)") {
    val f = Files.createTempFile("graph", ".json")
    Files.writeString(f, jsonDoc)
    val store = GraphIO.importJson(spark, f.toString)
    val sess = new graft.cypher.CypherSession(spark, store)
    // nested path materializes intermediate objects inside the JSON
    sess.run("MATCH (n:Person {name: 'Alice'}) SET n.meta.score = 5")
    val s = sess.run(
      "MATCH (n:Person {name: 'Alice'}) RETURN toInteger(n.meta.score) AS s")
    assert(s.collect()(0).getLong(0) == 5L)
    // flat SET also lands in the JSON, visible to property reads
    sess.run("MATCH (n:Person {name: 'Alice'}) SET n.age = 31")
    val a = sess.run(
      "MATCH (n:Person {name: 'Alice'}) RETURN toInteger(n.age) AS a")
    assert(a.collect()(0).getLong(0) == 31L)
    // untouched vertices keep their properties
    val b = sess.run(
      "MATCH (n:Person {name: 'Bob'}) RETURN toInteger(n.age) AS a")
    assert(b.collect()(0).getLong(0) == 25L)
  }
}
