package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the scale properties the code comments promise
  * must actually appear in the executed plan — filters pushed to the
  * parquet scan, scans pruned to referenced columns, small dimensions
  * broadcast, top-k as TakeOrderedAndProject, hot paths inside
  * whole-stage codegen. A regression here is a silent 100×-scale problem
  * long before it is a wrong answer.
  */
class PlanAuditSpec extends AnyFunSuite with SparkSuite {

  val sfDir = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan: execute first — before execution the
    * AdaptiveSparkPlan prints isFinalPlan=false without join/codegen nodes.
    */
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** The engine profile's settings, as the shared session must carry them. */
  private def assertProfile(): Unit = {
    assert(spark.sparkContext.master == "local[4]")
    val conf = spark.conf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(conf.get("spark.sql.codegen.useIdInClassName") == "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("the shared spec session carries the engine profile, whichever suite made it") {
    // the codegen cache is a static setting: a suite that created the
    // session with Spark's defaults would leave every later suite on a
    // 100-entry cache, unlike the engine Bench and Verify run
    assertProfile()
  }

  test("withConf gives the profile's values back, whether its body returns or throws") {
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    assert(!spark.conf.getAll.contains(threshold))
    val changes = Seq("spark.sql.shuffle.partitions" -> "32", "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.session.timeZone" -> "America/New_York", threshold -> "-1")
    assert(withConf(changes: _*)(spark.conf.get("spark.sql.shuffle.partitions")) == "32")
    assertProfile()
    assert(!spark.conf.getAll.contains(threshold))
    intercept[IllegalStateException](withConf(changes: _*) {
      assert(spark.conf.get(threshold) == "-1")
      throw new IllegalStateException("body failed")
    })
    assertProfile()
    assert(!spark.conf.getAll.contains(threshold))
  }

  test("q2: predicate pushdown and column pruning reach the part scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(p_size,40"), p)
    assert(p.contains("StringStartsWith(p_type,STANDARD)"), p)
    // scan schema carries only referenced columns, never the whole table
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("p_retailprice") && !readSchema.contains("p_comment"),
      readSchema)
  }

  test("q3: customer side broadcast, top-k as TakeOrderedAndProject, codegen on") {
    val p = plan("q3_join_topk")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("*("), p) // whole-stage-codegen stages print as *(n)
  }

  test("g1: label scan prunes to the projected columns") {
    val p = plan("g1_label_scan")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("c_name") && readSchema.contains("c_acctbal"), readSchema)
    assert(!readSchema.contains("c_address") && !readSchema.contains("c_comment"),
      readSchema)
  }

  test("g13: point get pushes the id-derived key filter into the scan") {
    val p = plan("g13_point_get")
    // label pruning keeps a single table scan; the equality filter reaches it
    assert(p.contains("PushedFilters"), p)
    assert(!p.contains("Exchange"), p) // a point get needs no shuffle before the filter
  }

  test("cy1: Cypher WHERE predicates reach the parquet scans through the planner") {
    val p = plan("cy1_match_where")
    // c.c_acctbal > 5000 and o.o_orderstatus = 'F' must be pushed into the
    // customer/orders file scans, not evaluated post-join
    assert(p.contains("GreaterThan(c_acctbal,5000"), p)
    assert(p.contains("EqualTo(o_orderstatus,F)"), p)
  }

  test("a numeric Cypher key still reaches the parquet scan as a pushed filter") {
    import spark.implicits._
    // Cypher integer literals are code parameters (ParamLiteral), yet still
    // literals to the optimizer's data-source filter translation
    val dir = java.nio.file.Files.createTempDirectory("graft_users").toString
    new graft.store.GraphStore(
      Map("User" -> Seq((1L, 7L, "a"), (2L, 8L, "b")).toDF("id", "uid", "name")), Map.empty)
      .save(dir)
    val df = new graft.cypher.Planner(spark, graft.store.GraphStore.load(spark, dir))
      .plan(graft.cypher.Parser.parse("MATCH (u:User {uid: 7}) RETURN u.name AS name")).df.get
    assert(df.collect().map(_.getString(0)).toSeq == Seq("a"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("EqualTo(uid,7)"), p)
  }

  test("bucketed edge tables self-join on the bucket key without an exchange") {
    implicit val s: SparkSession = spark
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("bucketed").toString
    new graft.store.GraphStore(Map.empty, Map("PLACED" -> g.edges("PLACED")))
      .writeBucketed(tmp, buckets = 4)
    try {
      val placed = spark.table("edges_placed")
      val j = placed.as("a").join(placed.as("b"),
        org.apache.spark.sql.functions.col("a.src") ===
          org.apache.spark.sql.functions.col("b.src"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      // both sides read pre-bucketed by src: the join key partitioning is
      // already satisfied — no shuffle anywhere in the plan
      assert(!p.contains("Exchange hashpartitioning"), p)
      // the mirrored dst-bucketed copy serves the incoming direction the
      // same way: an in-edge expansion joins on dst with no exchange
      val mirror = spark.table("edges_placed_by_dst")
      val jIn = mirror.as("a").join(mirror.as("b"),
        org.apache.spark.sql.functions.col("a.dst") ===
          org.apache.spark.sql.functions.col("b.dst"))
      jIn.collect()
      val pIn = jIn.queryExecution.executedPlan.toString
      assert(!pIn.contains("Exchange hashpartitioning"), pIn)
    } finally {
      spark.sql("DROP TABLE IF EXISTS edges_placed")
      spark.sql("DROP TABLE IF EXISTS edges_placed_by_dst")
    }
  }

  test("m1: multimodal stats stay inside whole-stage codegen (no encoder round-trip)") {
    val p = plan("m1_multimodal")
    assert(p.contains("*("), p) // whole-stage-codegen stages print as *(n)
    assert(!p.contains("DeserializeToObject"), p)
  }

  test("m7/m8: header metadata extraction is map-only — no join, no hash shuffle") {
    // the container walks (MP4 boxes, RIFF chunks) are aggregate-HOF
    // folds over byte-slice builtins: the whole parse must stay a scan +
    // codegen'd project, with the gate's final sort as the only exchange
    for (name <- Seq("m7_video_meta", "m8_audio_duration")) {
      val p = plan(name)
      assert(p.contains("*("), s"$name lost codegen: $p")
      assert(!p.contains("Join"), s"$name grew a join: $p")
      assert(!p.contains("Exchange hashpartitioning"), s"$name shuffled: $p")
      assert(!p.contains("DeserializeToObject"), s"$name left codegen: $p")
    }
  }

  test("t20: extended redaction is one map pass + one per-source aggregate") {
    val p = plan("t20_redaction_extended")
    // regex passes + the Luhn fold are per-row column expressions: no
    // join anywhere, and the ONLY hash exchange is the source aggregate,
    // fed map-side partial (the text column itself never shuffles)
    assert(p.contains("*("), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    // AQE prints Final + Initial sections, so the same exchange can
    // appear twice — pin the KEY, not the count
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("source#")), p)
    // the staged passes keep the Luhn candidate filter single-evaluation:
    // exactly one filter(regexp_extract_all(...)) site in the final plan
    val finalPlan = p.indexOf("== Initial Plan ==") match {
      case -1 => p
      case i => p.substring(0, i)
    }
    assert("filter\\(regexp_extract_all".r.findAllIn(finalPlan).length == 1,
      s"Luhn candidate filter duplicated: $finalPlan")
  }

  test("x16: salted join partitions on (key, salt), spreading each hot key") {
    val p = plan("x16_salted_join")
    // the join key must include the salt — that IS the skew spread; a
    // join on the bare key re-concentrates the hot key. Catalyst may run it
    // as a broadcast join (small dim side, salt keys intact) or a shuffle
    // join partitioned on (key, salt).
    val joinOrShuffle = p.linesIterator
      .filter(l => l.contains("HashJoin") || l.contains("hashpartitioning")).toSeq
    assert(joinOrShuffle.exists(l => l.contains("l_suppkey") && l.contains("__salt")), p)
  }

  test("g15: triangle closure is pure equi-joins — no nested-loop product") {
    val p = plan("g15_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("x15: hash sampling is a partition-local filter (no exchange before it)") {
    val df = SparkEntry.queries("x15_hash_sample")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the sample filter sits directly on the scan: the only exchanges in
    // the plan belong to the downstream aggregate, so exactly one
    // shuffle boundary (plus AQE's final agg read) may exist
    val scanSide = p.split("Exchange").last // deepest fragment holds the scan
    assert(scanSide.contains("Filter") && scanSide.contains("Scan parquet"), p)
  }

  test("d8: the corpus shingle stream is probed in place, never shuffled") {
    import org.apache.spark.sql.functions._
    val docs = graft.store.Tables.load(spark, sfDir, "documents")
    val df = graft.pipeline.Dedup.decontaminate(
      docs, "doc_id", "text", docs.where(col("doc_id") < 5), "text", 5)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // both the contamination probe and the survivor filter are broadcast
    // joins: the exploded 5-gram relation (the largest in the query, ~n×
    // corpus size) must appear on the streamed side of a BroadcastHashJoin
    // with no Exchange between its generator and the join
    assert(p.contains("BroadcastHashJoin"), p)
    val gen = p.linesIterator.filter(_.contains("Generate explode")).toSeq
    assert(gen.nonEmpty, p)
    // the only shuffles allowed are the small relations: the blocklist
    // hash distinct (h) and the contaminated id distinct (doc_id) — never
    // the corpus (id, shingle/hash) stream itself
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.forall(l => l.contains("doc_id#") || l.contains("h#")), p)
  }

  test("t17: unigram NLL shuffles only doc/tok aggregates; total rides broadcast") {
    // the component, not the gate: since r12 the t17 GATE runs the
    // integer-pure unigramRarity twin (driver-hash-safe); the broadcast-
    // total contract below belongs to the FP unigramNll plan
    val df = graft.pipeline.TextAnalysis.unigramNll(
      graft.store.Tables.load(spark, sfDir, "documents"), "doc_id", "text")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the corpus total joins in as a broadcast single row, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // every hash exchange keys on the doc/tok aggregate relations — the
    // corpus never shuffles on anything else, and no global window/sort
    // exists besides the gate's final ORDER BY
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.nonEmpty, p)
    assert(hashEx.forall(l => l.contains("tok#") || l.contains("doc_id#")), p)
    assert(!p.contains("Window"), p)
  }

  test("t8: mixture weights ride a broadcast single-row join, no global window") {
    val df = SparkEntry.queries("t8_mixture")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("g18: node similarity is equi-join + top-k, never a nested-loop product") {
    val df = SparkEntry.queries("g18_node_similarity")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("g20: LDBC composite joins on shared vars — no cartesian; anchor pushed") {
    val p = plan("g20_ldbc_fof")
    // correlated multi-MATCH must become equi-joins on p and f, never a
    // cartesian product re-filtered later
    assert(!p.contains("CartesianProduct"), p)
    // the {c_custkey: 1} anchor reaches the customer parquet scan
    assert(p.contains("EqualTo(c_custkey,1"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("cy22: UNION = pushed filters + Union + one distinct aggregate, no cartesian") {
    val p = plan("cy22_union")
    assert(p.contains("Union"), p)
    assert(!p.contains("CartesianProduct"), p)
    // both parts' acctbal filters reach their parquet scans
    assert(p.contains("GreaterThan(c_acctbal,9900"), p)
    assert(p.contains("GreaterThan(s_acctbal,9900"), p)
    // the distinct step is one hash aggregate over the union, not a join
    assert(p.contains("HashAggregate"), p)
  }

  test("g21: LDBC recent-FOF pushes the ts filter and takes top-k, no cartesian") {
    val p = plan("g21_ldbc_recent_fof")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the ts predicate reaches the events parquet scan as a pushed filter
    // in the file's own encoding (loadEventsBefore)
    assert(p.contains("LessThan(ts,"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("cy25: pattern subqueries hoist to aggregating joins, no cartesian") {
    val p = plan("cy25_subqueries")
    // each subquery = one aggregate over the pattern match joined back
    // left-outer on the nation key — never a per-row subquery loop or a
    // nested-loop join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftOuter"), p)
    // the comprehension's acctbal filter reaches the customer scan
    assert(p.contains("GreaterThan(c_acctbal,5000"), p)
  }

  test("cy18: EXISTS compiles to one semi + one anti hash join, no subquery loop") {
    val p = plan("cy18_exists")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the acctbal filter still reaches the customer parquet scan
    assert(p.contains("GreaterThan(c_acctbal,9000"), p)
  }

  test("g17: k-core rounds broadcast the peeled set; edges never re-sorted") {
    // under the vertex ceiling every round's degree update must ride
    // broadcast joins (peeled set into the immutable edge relation, hits
    // into the degree relation) — never a sort of the edge set (probed
    // pre-checkpoint: each round's checkpoint erases its plan)
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val edges = g.allEdges.select(org.apache.spark.sql.functions.col("src"),
      org.apache.spark.sql.functions.col("dst"))
    var plans = List.empty[String]
    graft.algorithms.GraphAlgorithms.kCoreRounds(edges, 3, maxRounds = 32,
      roundProbe = { df => df.collect(); plans ::= df.queryExecution.executedPlan.toString })
    assert(plans.nonEmpty)
    plans.foreach { p =>
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    }
  }

  test("g23: triangle wedges close via equi-joins only — no nested-loop product") {
    // the wedge join keys on the pivot u and the closer keys on (v, w);
    // the rank comparison rides as a join filter, never a cartesian
    val p = plan("g23_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("g25: both Brandes sweeps ride gated broadcasts — no cartesian, no edge re-sort") {
    // per-level plans are erased by checkpoints, so audit them through the
    // levelProbe hook (the g17 roundProbe pattern): levels are far under
    // the ceiling at spec scale, so every per-level join — frontier
    // expansion forward, level intersection backward — must be a broadcast
    // hash join against the pinned edge relation, never a re-sort of it
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    val srcs = (1L to 10L)
      .map(graft.model.Graphid.pack(graft.store.GraphStore.Lab.Customer, _))
      .toDF("id")
    var plans = List.empty[String]
    graft.algorithms.GraphAlgorithms.stressCentrality(
        g.allEdges.select(col("src"), col("dst")), srcs, 6,
        levelProbe = { df => df.collect(); plans ::= df.queryExecution.executedPlan.toString })
      .collect()
    assert(plans.nonEmpty)
    plans.foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    }
  }

  test("d11: LSH candidates stay band-bucketed; text joins are hash equi-joins") {
    // the pair join keys on (band, bucket) and the two text lookups key on
    // the candidate ids — a cartesian or nested-loop anywhere here is the
    // all-pairs blowup the banding exists to avoid
    val p = plan("d11_editdist_verify")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("e11: the semDedup verify join keys on the cluster — no all-pairs stage") {
    // within-cluster pairs come from an equi-join on the cluster id (with
    // the id< predicate as a join filter); the k-means feeding it assigns
    // via literal centroids (the e7 pin), so no stage is corpus × corpus
    val p = plan("e11_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("g53: the edge-stress tail is checkpoint unions + one keyed aggregate") {
    // per-level join discipline is g25's levelProbe pin (shared core); the
    // edge mode's own tail — union of per-level checkpointed emissions
    // into one (src, dst) hash aggregate — must not smuggle in a join
    val p = plan("g53_edge_stress")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("g54: sampled triangles keep g23's equi-join-only wedge discipline") {
    val p = plan("g54_doulion_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("g26: harmonic closeness is one shared BFS sweep + one aggregate") {
    val p = plan("g26_harmonic")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("g39: closeness rides the shared sweep — no cartesian, no sort-merge") {
    val p = plan("g39_closeness")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("e9: radius search is one broadcast-probe pass over the corpus") {
    val p = plan("e9_radius_search")
    // the 3-row probe side broadcasts into a nested-loop (the non-equi
    // cid != pid join is the sanctioned shape, same as e1); the corpus
    // itself is never shuffled or sorted into the join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // threshold is a plain Filter, not a ranking window
    assert(!p.contains("Window"), p)
  }

  test("g42: assortativity is equi-joined degree lookups + one partial-combined aggregate") {
    val p = plan("g42_assortativity")
    // degree tables join back on their own keys — plain equi-joins (AQE
    // may legitimately pick broadcast at this SF; at 100 TB they shuffle)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // moment sums are map-side partial aggregates into one final row
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("g43: reciprocity is one equi-join on the swapped key — no cartesian") {
    val p = plan("g43_reciprocity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // both counts come from a single partial-combined aggregate
    assert(p.contains("partial_count"), p)
  }

  /** The gate edge relation g44/g45 run over — the public methods now
    * hand back materialized relations with their internal checkpoints
    * released (r14 hygiene), so the distributed shape is pinned on the
    * internal plan builders instead of the gate plans.
    */
  private def communityEdges() = {
    import org.apache.spark.sql.functions.col
    val g = graft.store.GraphStore.tpch(spark, sfDir)
    Seq("PLACED", "CUST_NATION", "SUPP_NATION", "IN_REGION")
      .map(l => g.edges(l).select(col("src"), col("dst")))
      .reduce(_.unionByName(_))
  }

  /** Audit an internal lazy plan builder, then release every persistent
    * block the audit created (the lazy builders intentionally leave
    * their checkpoints to the PUBLIC wrappers' sweeps — a bare audit
    * call must clean up after itself).
    */
  private def auditingDelta(body: => org.apache.spark.sql.DataFrame): String = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try {
      val df = body
      df.collect()
      df.queryExecution.executedPlan.toString
    } finally graft.util.Checkpoints.release(spark,
      sc.getPersistentRDDs.keySet -- before)
  }

  test("g44: modularity digest is equi-joins + partial aggregates; one sanctioned one-row join") {
    import graft.algorithms.GraphAlgorithms
    val edges = communityEdges()
    // audit the executed (final) plan only — AQE's toString appends the
    // initial plan too, which would double-count every node
    val p = auditingDelta {
      GraphAlgorithms.modularityDigestPlanOf(edges,
        GraphAlgorithms.labelPropagation(edges, iters = 4),
        GraphAlgorithms.BroadcastVertexRows)
    }.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    // the ONLY nested-loop is the final crossJoin of the two one-row
    // digests — never a data-sized relation
    assert(p.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1, p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("g45: louvain sweep is equi-joins + per-vertex partial-agg argmax; no data-sized nested loop") {
    import graft.algorithms.GraphAlgorithms
    val edges = communityEdges()
    val p = auditingDelta {
      GraphAlgorithms.louvainSweepPlan(edges,
        GraphAlgorithms.labelPropagation(edges, iters = 4),
        GraphAlgorithms.BroadcastVertexRows)
    }.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the per-vertex argmax is a map-side-combinable aggregate (r19:
    // partial_max of the (g, ~c) struct) — never a window SORT, which
    // would ship every candidate row through the exchange
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_max"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    // the gate plan itself stays cartesian-free: the digest and move-count
    // one-row joins are the only BNLJs
    val gp = plan("g45_louvain_refine").split("== Initial Plan ==")(0)
    assert(!gp.contains("CartesianProduct"), gp)
    assert(gp.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 2, gp)
  }

  test("g47: parity-phase kvc filters sym to the moving parity below the partial aggregate") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.algorithms.GraphAlgorithms
    val edges = communityEdges()
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .withColumn("w", lit(1L))
    // community labels WITHOUT pmod so the only pmod in the plan is the
    // phase predicate under audit (% prints as `%`, pmod as `pmod`)
    val lbl = sym.select(col("src").as("dst")).distinct()
      .select(col("dst"), (col("dst") % 7).as("c"))
    val p = auditingDelta {
      GraphAlgorithms.phaseKvcPlan(sym, 0, lbl)
    }.split("== Initial Plan ==")(0)
    // physical plans print top-down: the partial aggregate must appear
    // ABOVE (before) the phase filter — i.e. the filter runs pre-shuffle,
    // so the other parity's half of sym is never aggregated or shuffled
    val agg = p.indexOf("partial_sum")
    val flt = p.indexOf("pmod")
    assert(agg >= 0, p)
    assert(flt > agg, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("m3/m5: header parsers are projections between a pruned scan and the output sort") {
    for (name <- Seq("m3_binary_meta", "m5_audio_meta")) {
      val p = plan(name)
      // byte-slice parsing is a per-row projection: never a join or
      // aggregate, and the ONLY exchange is the gate's own ORDER BY
      // (rangepartitioning) — a hash shuffle appearing before the sort
      // would mean the parse stopped being map-side
      assert(!p.contains("Join"), s"$name: $p")
      assert(!p.contains("HashAggregate"), s"$name: $p")
      assert(!p.contains("Exchange hashpartitioning"), s"$name: $p")
      val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(readSchema.contains("doc_id") && readSchema.contains("text"),
        s"$name: $readSchema")
      assert(!readSchema.contains("source"), s"$name: $readSchema")
    }
  }

  test("e12: the kNN-graph self-join stays bucket-keyed — no all-pairs stage") {
    // every stage of bucketed-probe kNN + symmetrize must be an equi-join
    // on the bucket (or id) keys: a cartesian/nested-loop anywhere is the
    // |corpus|^2 blowup the LSH confinement exists to avoid
    val p = plan("e12_knn_graph")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("m9/m10: EXIF and track-dim walks are map-only projections") {
    for (name <- Seq("m9_exif_meta", "m10_track_dims")) {
      val p = plan(name)
      // the m3/m5 contract one level deeper: byte walks are per-row
      // projections — no join, no aggregate, and the only exchange is the
      // gate's ORDER BY (rangepartitioning)
      assert(!p.contains("Join"), s"$name: $p")
      assert(!p.contains("HashAggregate"), s"$name: $p")
      assert(!p.contains("Exchange hashpartitioning"), s"$name: $p")
      val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(readSchema.contains("doc_id") && readSchema.contains("text"),
        s"$name: $readSchema")
      assert(!readSchema.contains("source"), s"$name: $readSchema")
    }
  }

  test("t21: domain stats are a map-side extraction + two chained aggregates") {
    // no join anywhere: hosts explode per row, then (id, domain) and
    // (domain) aggregates — both partial-combined map-side; the top-20
    // rides TakeOrdered, never a global sort
    val p = plan("t21_domain_stats")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t22: the quality-filter verdict composes via equi-joins and partial aggregates") {
    val p = plan("t22_quality_filter")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("e13: PQ search is a broadcast LUT join + one rank window, no all-pairs") {
    // training ran at construction (literal centroids, the e7 pin); the
    // SEARCH plan joins the codes relation against the m*kCodes-row LUT —
    // broadcastable by construction — and ranks per probe
    val p = plan("e13_pq_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("e15: IVFADC search is a list-confined broadcast-LUT join, no all-pairs") {
    // both quantizers trained at construction (literal centroids); the
    // SEARCH joins the (list, sub, code) index against the broadcast
    // probe LUT — the e13 pin plus the list confinement key
    val p = plan("e15_ivfadc_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("g55: the per-step distance-1 edge filter is a broadcast semi-join, never a full-|E| exchange") {
    // r18's bench fix pinned (r18 VERDICT #7): each step must semi-filter
    // the adjacency relation by the broadcast prev frontier — a full-|E|
    // hashpartitioning exchange per step is the 100×-scale regression the
    // fix removed. Per-step plans hide behind localCheckpoints, so capture
    // them with a QueryExecutionListener (delivered async — poll to quiesce).
    import spark.implicits._
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L), (2L, 1L),
        (3L, 1L)).toDF("src", "dst")
      graft.algorithms.RandomWalks.node2vecWalks(edges,
        Seq(1L).toDF("id"), steps = 3, walksPerStart = 2, p = 2, q = 3)
        .collect()
      // quiesce: listener events are async — wait until the captured set
      // stops growing (bounded at ~10 s)
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 100) {
        Thread.sleep(100)
        waited += 1
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      val captured = plans.synchronized(plans.toList)
      assert(captured.exists(p => p.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))),
        s"no broadcast LeftSemi step plan captured (${captured.size} plans)")
      // negative pins apply to the STEP plans (the ones that join) and to
      // their FINAL section only: the one-time adj setup legitimately
      // shuffles for its distinct, and AQE's toString repeats the
      // pre-adaptive plan (where the static planner picks sort-merge
      // before runtime sizes arrive) under "== Initial Plan =="
      // the regression signature is the marker join shuffling the ADJ
      // relation on its two keys — hashpartitioning(p_src, p_dst) — or
      // the frontier join shuffling the edge relation on src; the tiny
      // prevs.distinct legitimately partitions on p_src ALONE
      for (p <- captured if p.contains("Join")) {
        val fin = p.split("== Initial Plan ==").head
        assert(!fin.linesIterator.exists(l =>
          l.contains("Exchange hashpartitioning(p_src#") && l.contains("p_dst#")),
          s"adjacency relation shuffled on (p_src, p_dst) — the r18 per-step fix regressed:\n$p")
        assert(!fin.contains("hashpartitioning(src#"),
          s"edge relation shuffled on src — the frontier join lost its broadcast:\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("x39: the emit manifest shuffles once on the shard key, no global sort") {
    // sample predicate is partition-local behind a broadcast plan join;
    // the packing window and the manifest aggregate share ONE
    // (source, shard) exchange; the only range exchange is the gate's
    // own ORDER BY over the |sources|·nShards-row manifest
    // count in the FINAL plan only — AQE's toString repeats the whole
    // tree under "== Initial Plan ==", doubling every textual match
    val p = plan("x39_emit_manifest")
    val fin = p.split("== Initial Plan ==").head
    // exactly ONE (source, shard) data exchange: the packing window's —
    // the manifest aggregate must REUSE its partitioning, so a second
    // one means the reuse regressed (r19 review: contains() alone would
    // miss that)
    val shardExchanges = fin.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(source#") && l.contains("shard#"))
    assert(shardExchanges == 1, s"$shardExchanges (source, shard) exchanges:\n$p")
    val rangeExchanges = fin.linesIterator
      .count(_.contains("Exchange rangepartitioning"))
    assert(rangeExchanges <= 1, s"$rangeExchanges range exchanges:\n$p")
    // the mixture plan's 1-row totals ride a broadcast CROSS join by
    // design (the t9 shape) — only an unbounded cartesian is forbidden
    assert(!p.contains("CartesianProduct"), p)
  }

  test("g55/g56: biased walks and Boruvka keep the equi-join-only discipline") {
    for (name <- Seq("g55_node2vec_walks", "g56_boruvka_mst")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name: $p")
    }
  }

  test("t19: real BPE is one pruned scan + one aggregation shuffle, no join") {
    val p = plan("t19_bpe_real")
    // the 24-merge replace chain stays a per-row projection: no join of
    // any kind, and the only exchange is the group-by-source aggregate
    assert(!p.contains("Join"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("source") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("doc_id"), readSchema)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("cy31: CALL { } compiles to one seeded join — no cartesian, no per-row loop") {
    val p = plan("cy31_call_subquery_agg")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the invocation join-back is a real join over the grouped subquery
    assert(p.contains("HashAggregate"), p)
  }

  test("g27: walk steps are gated-broadcast joins + partial argmin aggregates") {
    val p = plan("g27_hash_walks")
    // the per-step frontier joins ride the broadcast gate at this scale,
    // and the per-(start,walk) argmin is a hash aggregate (map-side
    // partial_min of the (h, dst) struct), never a window sort
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x25: katz levels are gated-broadcast joins; one final weighted aggregate") {
    val p = plan("x25_katz")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the checkpointed sides carry no stats, so the INITIAL plan guesses
    // sort-merge for the |V|-vs-|V| outer join; what must hold is the
    // runtime decision — AQE's final plan replans it as a broadcast join
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
    assert(finalPlan.contains("HashAggregate"), finalPlan)
  }

  test("g29: ego-net induced edges are equi-joins on the reach set, no cartesian") {
    val p = plan("g29_egonet")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("g31: link-prediction wedges are equi-joins + anti join — no cartesian") {
    val p = plan("g31_link_prediction")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the pair filter is the anti join against the adjacency, not a
    // post-product filter
    assert(p.contains("LeftAnti"), p)
  }

  test("x30: the stream-static enrichment's dim side is a broadcast hash join") {
    // audit through the batch twin — the streaming plan re-plans the same
    // join per micro-batch with the identical static side
    import org.apache.spark.sql.functions.col
    val ev = graft.store.Tables.load(spark, sfDir, "events")
    val dim = graft.store.Tables.load(spark, sfDir, "customer")
    val df = graft.streaming.EventStreams.enrichedNationStats(ev, dim)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    // dim scan prunes to the join key + payload column
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema"))
      .find(_.contains("c_custkey")).getOrElse("")
    assert(readSchema.contains("c_nationkey") && !readSchema.contains("c_name"),
      readSchema)
  }

  test("t13: duplicated-span islands window per document, never globally") {
    val df = SparkEntry.queries("t13_dupspans")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the islands window partitions by doc_id: a global (empty-partition)
    // window would surface as an Exchange SinglePartition before a Sort
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("e7: k-means assigns via literal centroids — no point-vs-centroid join") {
    val df = SparkEntry.queries("e7_kmeans")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // centroids are a k·d literal re-broadcast per iteration, so the
    // argmin is a per-row HOF pass: the only join in the FINAL plan is
    // the broadcast of the k-row cluster-size relation — no cartesian
    // point×centroid product and no sort-merge join anywhere
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // every hash exchange serves a k-keyed aggregate (cluster / cluster
    // + dim), so post-combine shuffle volume is executors·k·d rows,
    // independent of the corpus size
    val hashEx = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashEx.forall(_.contains("cluster#")), p)
  }
}
