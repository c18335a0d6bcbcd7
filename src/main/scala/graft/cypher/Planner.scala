package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import Ast._
import graft.algorithms.{Adjacency, Direction, KeyedIndex, PregelSssp, Traversals}
import graft.store.GraphStore

final case class PlanResult(df: Option[DataFrame], store: GraphStore)

/** Compiles a Cypher AST to a DataFrame pipeline over a GraphStore — the
  * analogue of the reference's QueryExecutor dispatch
  * (/root/reference/src/executor/mod.rs:156-197), except the output is a
  * declarative Catalyst plan: triple patterns become equi-joins (the
  * reference's nested-loop index join, match_executor.rs:128-213), OPTIONAL
  * MATCH becomes a left join (mod.rs:1089-1120), subsequent MATCH clauses
  * correlate on shared variables (fixing the reference's cartesian-only
  * apply_match, mod.rs:1065-1087), aggregation uses correct openCypher
  * implicit grouping (fixing mod.rs:664-677), and pattern length is
  * unbounded (the reference caps at 5 elements, match_executor.rs:115-123).
  */
final class Planner(spark: SparkSession, store0: GraphStore,
    params: Map[String, Any] = Map.empty,
    reading: Planner.ReadHook = Planner.DirectReads,
    adjacency: Planner.AdjacencyHook = Planner.NoAdjacency,
    lookup: Planner.LookupHook = Planner.NoLookups,
    lookupRows: Long = Traversals.BroadcastPathRows) {

  private var store = store0

  /** The store to read `labels`' tables of `kind` from: each read passes
    * the session's hook, which may swap a table for its resident copy
    * (CypherSession); later reads and writes of this statement see the
    * swap.
    */
  private def readStore(kind: VarKind, labels: Iterable[String]): GraphStore = {
    labels.foreach(l => store = reading(store, kind, l))
    store
  }

  private def allEdges: DataFrame = readStore(VarKind.Edge, store.edgeLabels).allEdges

  /** The session's adjacency index for walking `rel` in `dir`: only when
    * `rel` names exactly one edge type and has no inline props, over the
    * table this statement reads.
    */
  private def adjacencyFor(rel: RelPat, dir: Direction): Option[Adjacency] = rel.types match {
    case Seq(t) if rel.props.isEmpty => adjacency(readStore(VarKind.Edge, Seq(t)).edgeTables(t), dir)
    case _ => None
  }

  private var anon = 0
  private def fresh(p: String): String = { anon += 1; s"__$p$anon" }
  private def ec(s: Scope) = new ExprCompiler(s, params)

  /** Checkpoint blocks THIS planner's statement persisted for store
    * bookkeeping (the CREATE id-sequence pin) — registered at the
    * creation site, never inferred by diffing the shared context's
    * persistent-RDD set (exact attribution; see CypherSession rollback).
    */
  val createdCheckpointIds: scala.collection.mutable.Set[Int] =
    scala.collection.mutable.Set.empty

  def plan(q: Query): PlanResult = {
    val named = anon
    nodeLookups = Option.when(Planner.readOnly(q))(new KeyLookups(spark, params,
      (kind, l) => {
        val st = readStore(kind, Seq(l))
        if (kind == VarKind.Node) st.vertexTables.get(l) else st.edgeTables.get(l)
      },
      fresh, lookup, lookupRows))
    val answerable = nodeLookups.flatMap(_.prepare(q))
    keyLookups = nodeLookups.filter(_ => answerable.isDefined)
    val res =
      try planQuery(answerable.getOrElse(q))
      catch {
        case KeyLookups.Restart =>
          // a clause passed the row bound after others were answered, or
          // the statement's hoisted form fell back: the statement as
          // written runs as the DataFrame plan
          keyLookups = None
          anon = named
          planQuery(q)
      }
    // the rows lookups bound are on the driver: so is the rest of the read
    if (keyLookups.exists(_.answered) || boundOnDriver) res.copy(df = res.df.map(LocalTail.fold(_, lookupRows)))
    else res
  }

  private def planQuery(q: Query): PlanResult =
    if (q.union.isDefined) planUnion(q) else planBody(q)

  /** Key lookups answer the MATCH clauses of a read-only statement, all of
    * them or none: a write's own reads keep the DataFrame plan.
    */
  private var keyLookups: Option[KeyLookups] = None

  /** A read-only statement's lookups, whether or not they answer its MATCH
    * clauses: a shortestPath binds its key-anchored endpoints through them.
    */
  private var nodeLookups: Option[KeyLookups] = None

  /** Whether rows outside the MATCH clauses were bound on the driver from
    * the session's indexes: a shortestPath's endpoints or a degrees CALL.
    */
  private var boundOnDriver = false

  /** UNION [ALL] chain (openCypher combinator, beyond the reference's
    * grammar): every part must be read-only and RETURN the same column
    * list; plain UNION applies set-distinct across the combined rows.
    * Mixed UNION / UNION ALL in one chain is rejected, like Neo4j.
    */
  private def planUnion(q: Query): PlanResult = {
    val parts = scala.collection.mutable.ArrayBuffer[Query]()
    val alls = scala.collection.mutable.ArrayBuffer[Boolean]()
    var curQ = q
    while (curQ.union.isDefined) {
      val (all, next) = curQ.union.get
      parts += curQ.copy(union = None); alls += all
      curQ = next
    }
    parts += curQ
    require(alls.distinct.size == 1,
      "cannot mix UNION and UNION ALL in one chain")
    val mutating = parts.exists(_.clauses.exists {
      case _: CreateClause | _: MergeClause | _: SetClause | _: DeleteClause |
          _: RemoveClause | _: ForeachClause => true
      case _ => false
    })
    require(!mutating, "UNION parts must be read-only queries")
    val results = parts.map { part =>
      planBody(part).df.getOrElse(sys.error("every UNION part needs a RETURN"))
    }
    val names = results.head.columns.toSeq
    results.tail.foreach(r => require(r.columns.toSeq == names,
      s"UNION parts must return the same columns: $names vs ${r.columns.toSeq}"))
    val combined = results.reduce(_ unionByName _)
    PlanResult(Some(if (alls.head) combined else combined.distinct()), store)
  }

  private def planBody(q: Query): PlanResult = {
    var scope: Option[Scope] = None
    var result: Option[DataFrame] = None
    q.clauses.foreach {
      case m: MatchClause => scope = Some(compileMatch(scope, m))
      case sp: ShortestPathClause => scope = Some(compileShortestPath(scope, sp))
      case w0: WithClause =>
        val w = if (w0.star) w0.copy(items = starItems(scope) ++ w0.items,
          star = false) else w0
        require(w.items.nonEmpty, "WITH * needs at least one variable in scope")
        scope = Some(compileWith(scope.getOrElse(emptyScope), w))
      case u: UnwindClause =>
        val s = scope.getOrElse(emptyScope)
        val c = ec(s).compile(u.expr)
        scope = Some(Scope(s.df.withColumn(u.alias, explode(c)),
          s.vars + (u.alias -> VarInfo(VarKind.Value, None, Nil)),
          s.order :+ u.alias))
      case r0: ReturnClause =>
        val r = if (r0.star) r0.copy(items = starItems(scope) ++ r0.items,
          star = false) else r0
        require(r.items.nonEmpty, "RETURN * needs at least one variable in scope")
        result = Some(compileReturn(scope.getOrElse(emptyScope), r))
      case c: CreateClause => scope = Some(compileCreate(scope, c))
      case m: MergeClause => scope = Some(compileMerge(scope, m))
      case s: SetClause => compileSet(scope.getOrElse(sys.error("SET requires MATCH")), s)
      case d: DeleteClause => compileDelete(scope.getOrElse(sys.error("DELETE requires MATCH")), d)
      case f: ForeachClause => compileForeach(scope.getOrElse(emptyScope), f)
      case r: RemoveClause => compileRemove(scope.getOrElse(sys.error("REMOVE requires MATCH")), r)
      case c: CallClause =>
        require(scope.isEmpty && result.isEmpty,
          "CALL is supported as the first clause of a query part")
        scope = Some(compileCall(c))
      case cs: CallSubqueryClause =>
        scope = Some(compileCallSubquery(scope, cs))
    }
    PlanResult(result, store)
  }

  /** CALL graft.<proc>(...) — whole-graph procedures over the bound store
    * (the GDS idiom). The procedure runs ONCE on unit cardinality (hence
    * the first-clause restriction: openCypher's per-input-row CALL
    * semantics on an analytics procedure would re-run a whole-graph job
    * per row — a scale hazard with no legitimate use here). Yielded
    * columns enter scope as plain value variables, so WHERE / WITH /
    * RETURN / ORDER BY compose on top unchanged.
    */
  private def compileCall(c: CallClause): Scope = {
    import graft.algorithms.GraphAlgorithms
    def longArg(i: Int, default: Option[Long] = None): Long =
      if (i < c.args.length) c.args(i) match {
        case IntLit(v) => v
        case other => sys.error(s"CALL arguments must be integer literals, got $other")
      } else default.getOrElse(sys.error(s"${c.proc} requires argument ${i + 1}"))
    def intArg(i: Int, default: Option[Int] = None): Int =
      longArg(i, default.map(_.toLong)).toInt
    def strArg(i: Int): Option[String] =
      if (i < c.args.length) c.args(i) match {
        case StrLit(v) => Some(v)
        case other =>
          sys.error(s"CALL argument ${i + 1} must be a string literal, got $other")
      } else None
    def nargs(max: Int): Unit = require(c.args.length <= max,
      s"${c.proc} takes at most $max argument(s)")
    def corpusDir(proc: String): String = strArg(0).getOrElse(sys.error(
      s"$proc requires a corpus data directory as its first (string) argument"))
    // shared by every temporal procedure (r16 hoist of ~9 verbatim
    // copies): project the edge relation to (src, dst, t) with t read
    // from JSON property `prop`, failing loudly when any edge lacks a
    // numeric time — a temporal sweep cannot default an event time
    // (one bounded pass over the edge relation)
    def temporalEdges(prop: String, procName: String): DataFrame = {
      val te = allEdges.select(col("src"), col("dst"),
        get_json_object(col("properties"), "$." + prop)
          .cast("long").as("t"))
      val nMissing = te.where(col("t").isNull).count()
      require(nMissing == 0,
        s"$procName: $nMissing edge(s) missing/non-numeric " +
          s"time property '$prop' — a temporal sweep cannot default " +
          "an event time")
      te
    }
    lazy val edges = allEdges.select(col("src"), col("dst"))
    val out: DataFrame = c.proc.toLowerCase match {
      case "graft.pagerank" => nargs(1)
        GraphAlgorithms.pageRankStable(edges, intArg(0, Some(10)))
      case "graft.connectedcomponents" => nargs(0)
        // routed to the GraphX engine (r12, closing the r10/r11 landing
        // question): identical min-id labels and oracle as the DF
        // fixpoint, but ~2× faster at sf0.1 (x7 ~3.7 s vs cy27's ~7.5 s
        // measured DF job floor — tiny AQE stage-jobs dominate the DF
        // loop, not data). connectedComponentsDF remains the pure-DF
        // engine with its measured chain-depth axis (ScaleProbe,
        // AlgorithmsSpec cross-validation).
        GraphAlgorithms.connectedComponents(spark, edges)
      case "graft.kcore" => nargs(1)
        GraphAlgorithms.kCore(edges, intArg(0))
      case "graft.labelpropagation" => nargs(1)
        GraphAlgorithms.labelPropagation(edges, intArg(0, Some(4)))
      case "graft.triangles" => nargs(0)
        GraphAlgorithms.triangleCountDF(edges)
      case "graft.degrees" => nargs(0)
        // a read's degrees come off the session's edge indexes when they
        // are held on the driver
        nodeLookups.flatMap(_.degrees(store.edgeLabels)) match {
          case Some(local) => boundOnDriver = true; local
          case None => GraphAlgorithms.degrees(edges)
        }
      case "graft.anf" => nargs(1)
        // approximate neighborhood function digest per radius (the g40
        // integer-pure HyperANF sketch), default radius budget 4
        GraphAlgorithms.neighborhoodFunction(edges, intArg(0, Some(4)))
      case "graft.ppr" => nargs(2)
        GraphAlgorithms.personalizedPageRank(edges, Seq(longArg(0)),
          intArg(1, Some(10)))
      case "graft.katz" => nargs(2)
        GraphAlgorithms.katzIndex(edges, intArg(0, Some(6)),
          longArg(1, Some(4L)))
      case "graft.ktruss" => nargs(1)
        GraphAlgorithms.kTruss(edges, intArg(0))
      case "graft.scc" => nargs(0)
        GraphAlgorithms.stronglyConnectedComponents(edges)
      case "graft.linkprediction" => nargs(1)
        GraphAlgorithms.linkPrediction(edges, intArg(0, Some(10)))
      case "graft.adamicadar" => nargs(1)
        GraphAlgorithms.adamicAdar(edges, intArg(0, Some(10)))
      case "graft.mis" => nargs(0)
        GraphAlgorithms.maximalIndependentSet(edges)
      case "graft.assortativity" => nargs(0)
        // the g42 one-row exact-integer moment digest (m, Σx, Σy, Σxy,
        // Σx², Σy²) — the caller finishes the Pearson coefficient
        GraphAlgorithms.assortativityInvariants(edges)
      case "graft.reciprocity" => nargs(0)
        // the g43 digest: distinct non-loop edges, reverse-present count,
        // ppm ratio via integer div
        GraphAlgorithms.reciprocityInvariants(edges)
      case "graft.modularity" => nargs(1)
        // the g44 digest (m2, intra2, sum_dc2, n_comm) over the LPA
        // communities; arg 1 = LPA iteration budget
        GraphAlgorithms.modularityInvariants(edges, intArg(0, Some(4)))
      case "graft.louvainrefine" => nargs(1)
        // the g45 sweep: one synchronous best-positive-move pass over the
        // LPA seed (arg 1 = LPA iteration budget); yields (id, lbl)
        GraphAlgorithms.louvainRefineOnce(edges,
          GraphAlgorithms.labelPropagation(edges, intArg(0, Some(4))))
      case "graft.louvain" => nargs(3)
        // the g47 multi-level run (singleton start, parity sub-round
        // sweeps, coarsen, repeat): arg 1 = max levels, arg 2 = sweeps
        // per level; optional arg 3 names a positive-LONG edge-weight
        // property (the r15 weighted entry — NULL/≤0 weights fail
        // loudly); yields the flat (id, lbl) partition. The JSON string
        // is cast to DECIMAL(38,9), not LONG or DOUBLE: a string-to-long
        // cast silently FLOORS a fractional weight ('1.7' → 1), and a
        // double cast silently rounds integers past 2^53
        // ('9007199254740993' → ...992) — decimal hands weightedClosure
        // the exact value, so its round-trip check sees fractions and
        // the long conversion stays exact across the full LONG range
        // (r15 ADVICE, tightened in the r16 review)
        val lvWeighted = strArg(2).map { wp =>
          allEdges.select(col("src"), col("dst"),
            get_json_object(col("properties"), "$." + wp)
              .cast("decimal(38,9)").as("w"))
        }
        GraphAlgorithms.louvainLevels(lvWeighted.getOrElse(edges),
          intArg(0, Some(3)), intArg(1, Some(3)),
          weightCol = lvWeighted.map(_ => "w"))._1
      // ---- corpus procedures (r14): pipeline operators addressed at a
      // parquet corpus root rather than the graph store — the dir string
      // is the required first argument, missing/mistyped args fail loudly
      case "graft.corpusprofile" => nargs(1)
        // the t14 per-source curation digest over <dir>/documents.parquet
        graft.pipeline.TextAnalysis.corpusProfile(
          graft.store.Tables.load(spark, corpusDir("graft.corpusProfile"),
            "documents"))
      case "graft.dedupclusters" => nargs(2)
        // the d7 LSH→connected-components→survivor clusters; optional
        // arg 2 = Jaccard threshold in per-mille (default 500 = 0.5)
        val permille = longArg(1, Some(500L))
        require(permille >= 0L && permille <= 1000L,
          s"graft.dedupClusters: threshold $permille must be 0..1000 per-mille")
        graft.pipeline.Dedup.nearDupClusters(
          graft.store.Tables.load(spark, corpusDir("graft.dedupClusters"),
            "documents"),
          "doc_id", "text", permille.toDouble / 1000.0)
      case "graft.anntopk" =>
        // the e2 hyperplane-LSH approximate top-k: (dir, k, probe ids...)
        require(c.args.length >= 3,
          "graft.annTopK requires (corpus dir, k, at least one probe id)")
        val k = intArg(1)
        require(k >= 1, s"graft.annTopK: k must be positive, got $k")
        val probes = (2 until c.args.length).map(longArg(_))
        graft.pipeline.Similarity.annTopK(
          graft.store.Tables.load(spark, corpusDir("graft.annTopK"),
            "embeddings"),
          "vec_id", "embedding", probes, k)
      case "graft.editdistpairs" => nargs(3)
        // the d11 edit-distance-verified fuzzy dedup over
        // <dir>/documents.parquet: shared-LSH candidates, THRESHOLDED
        // Levenshtein verify (r17 CALL surface — the REST-only-algorithms
        // lesson stays inverted for the r16 operators too). The optional
        // sliceMod arg (r18, the cy38/cy45 re-budget discipline) confines
        // the corpus to doc_id % sliceMod = 1 — the d11 gate's own
        // half-corpus slice when 2 — so a CALL twin prices the surface,
        // not a second full-corpus LSH prefix (already priced as d3).
        val edMax = intArg(1, Some(16))
        require(edMax >= 0,
          s"graft.editDistPairs: maxDist must be >= 0, got $edMax")
        val edSlice = intArg(2, Some(1))
        require(edSlice >= 1,
          s"graft.editDistPairs: sliceMod must be >= 1, got $edSlice")
        val edCorpus = graft.store.Tables.load(spark,
          corpusDir("graft.editDistPairs"), "documents")
        graft.pipeline.Dedup.editDistancePairs(
          if (edSlice == 1) edCorpus
          else edCorpus.where(col("doc_id") % edSlice === 1),
          "doc_id", "text", edMax)
      case "graft.semdedup" => nargs(4)
        // the e11 SemDeDup drop list over <dir>/embeddings.parquet:
        // k-means-confined cosine verify, min-id survivor. tau rides the
        // dedupClusters per-mille convention (CALL args are integer
        // literals); k/iters default to the e11 gate budget.
        val sdK = intArg(1, Some(10))
        val sdIters = intArg(2, Some(3))
        val sdTau = longArg(3, Some(350L))
        require(sdK >= 1 && sdIters >= 1,
          s"graft.semDedup: k and iters must be >= 1, got ($sdK, $sdIters)")
        require(sdTau >= 0L && sdTau <= 1000L,
          s"graft.semDedup: tau $sdTau must be 0..1000 per-mille")
        graft.pipeline.Clustering.semDedupDropped(
          graft.store.Tables.load(spark, corpusDir("graft.semDedup"),
            "embeddings"),
          "vec_id", "embedding", sdK, sdIters, sdTau.toDouble / 1000.0)
      case "graft.mst" =>
        // Borůvka minimum spanning forest over the session graph (r18):
        // optional arg names an integer edge-weight property; an ABSENT
        // property defaults to 1 — the graft.distance convention — but a
        // PRESENT value that does not cast to long fails loudly (r18
        // ADVICE: a silent 1 would silently change the MSF; the
        // temporalEdges pattern, one bounded pass over the edge relation).
        nargs(1)
        val mstEdges = strArg(0) match {
          case None => allEdges.select(col("src"), col("dst"),
            lit(1L).as("w"))
          case Some(wk) =>
            // try_cast, not cast: ANSI cast THROWS on a malformed string
            // with a generic CAST_INVALID_INPUT — the guard below is the
            // loud path, with the property name and the default rule
            val we = allEdges.select(col("src"), col("dst"),
                get_json_object(col("properties"), "$." + wk).as("raw"))
              .withColumn("cast", expr("try_cast(raw AS long)"))
            val nBad =
              we.where(col("raw").isNotNull && col("cast").isNull).count()
            require(nBad == 0,
              s"graft.mst: $nBad edge(s) carry weight property '$wk' " +
                "with a non-integer value — a present weight must cast " +
                "to long (only an ABSENT property defaults to 1)")
            we.select(col("src"), col("dst"),
              coalesce(col("cast"), lit(1L)).as("w"))
        }
        GraphAlgorithms.boruvkaMst(mstEdges)
      case "graft.distance" =>
        nargs(4)
        import spark.implicits._
        val (s0, d0) = (longArg(0), longArg(1))
        strArg(3) match {
          case None =>
            graft.algorithms.Traversals
              .bidirDistance(edges, s0, d0, intArg(2, Some(10)))
              .map(d => Seq((s0, d0, d.toLong))).getOrElse(Seq.empty)
              .toDF("start_id", "end_id", "dist")
          case Some(wk) =>
            // optional 4th arg names the edge cost property → weighted
            // min-cost search (bidirectional Bellman-Ford). allEdges folds
            // every non-id column into `properties` JSON, so the weight
            // resolves from there; edges missing the property cost 1.0 —
            // the shortestPath {weight: ...} convention. arg 3 caps
            // RELAXATION ROUNDS here (hops per side), not path cost.
            val we = allEdges.select(col("src"), col("dst"),
              coalesce(get_json_object(col("properties"), "$." + wk)
                .cast("double"), lit(1.0)).as("weight"))
            graft.algorithms.Traversals
              .bidirWeightedDistance(we, s0, d0, intArg(2, Some(32)))
              .map(d => Seq((s0, d0, d))).getOrElse(Seq.empty)
              .toDF("start_id", "end_id", "dist")
        }
      case "graft.walks" =>
        // (sourceId, walksPerStart, steps[, p[, q]]) — the two optional
        // node2vec bias args (r18): absent → the g27 uniform hash walks,
        // byte-identical to the pre-r18 surface; present → the biased
        // replica-argmin draw (g55). p = q = 1 through the biased path is
        // uniform but hashes the replica index, so the two forms are
        // deliberately distinct corpora.
        nargs(5)
        import spark.implicits._
        if (c.args.length <= 3)
          graft.algorithms.RandomWalks.hashWalks(edges,
            Seq(longArg(0)).toDF("id"), intArg(2, Some(6)),
            intArg(1, Some(1)))
        else
          graft.algorithms.RandomWalks.node2vecWalks(edges,
            Seq(longArg(0)).toDF("id"), intArg(2, Some(6)),
            intArg(1, Some(1)), intArg(3, Some(1)), intArg(4, Some(1)))
      case "graft.latestdeparture" =>
        // latest time-respecting departure toward a target by a deadline
        // (the g36 temporal sweep) — arg 3 names the edge-time property.
        // Unlike graft.distance's cost-1.0 weight default, an event time
        // has NO sane fallback: an edge missing the property fails
        // loudly (one bounded pass over the edge relation) instead of
        // silently pretending a timeless edge is always usable.
        nargs(3)
        import spark.implicits._
        val (target, deadline) = (longArg(0), longArg(1)) // validate args
        val timeProp = strArg(2).getOrElse("t")           // before scanning
        val te = temporalEdges(timeProp, "graft.latestDeparture")
        graft.algorithms.TemporalGraph.latestDeparture(te,
          Seq((target, deadline)).toDF("id", "deadline"))
      case "graft.fastestduration" =>
        // minimum time-respecting journey duration from a source to every
        // reachable vertex (the g38 temporal sweep — fastest-path, the
        // third classic temporal distance) — arg 1 names the edge-time
        // property; same loud-failure contract as latestDeparture (an
        // event time has no sane default). An optional arg 2 names a
        // per-edge TRAVEL-TIME property (the g46 weighted sweep:
        // arrivals become t + w); travel times fail loudly when missing
        // too — defaulting one silently would skew every duration.
        nargs(3)
        import spark.implicits._
        val source = longArg(0)          // validate args before scanning
        val fdProp = strArg(1).getOrElse("t")
        val fdT = get_json_object(col("properties"), "$." + fdProp)
          .cast("long").as("t")
        strArg(2) match {
          case None =>
            val fte = temporalEdges(fdProp, "graft.fastestDuration")
            graft.algorithms.TemporalGraph.fastestDurations(fte,
              Seq(source).toDF("sid")).drop("sid")
          case Some(wk) =>
            val fte = allEdges.select(col("src"), col("dst"), fdT,
              get_json_object(col("properties"), "$." + wk)
                .cast("long").as("w"))
            val fdMissing =
              fte.where(col("t").isNull || col("w").isNull).count()
            require(fdMissing == 0,
              s"graft.fastestDuration: $fdMissing edge(s) missing/non-numeric " +
                s"time property '$fdProp' or travel-time property '$wk'")
            graft.algorithms.TemporalGraph.fastestDurationsWeighted(fte,
              Seq(source).toDF("sid")).drop("sid")
        }
      case "graft.fewesthops" =>
        // minimum time-respecting edge count to every reachable vertex
        // (the g41 sweep — fewest hops, the fourth classic temporal
        // distance). Start is unconstrained: t0 = the minimum edge time.
        nargs(3)
        import spark.implicits._
        val fhSource = longArg(0)
        val fhK = intArg(1, Some(8))
        val fhProp = strArg(2).getOrElse("t")
        val fhe = temporalEdges(fhProp, "graft.fewestHops")
        val fhT0Row = fhe.agg(min(col("t"))).head()
        require(!fhT0Row.isNullAt(0),
          "graft.fewestHops: the store has no edges to sweep")
        val fhT0 = fhT0Row.getLong(0)
        graft.algorithms.TemporalGraph.fewestHops(fhe,
          Seq((fhSource, fhT0)).toDF("sid", "t0"), fhK).drop("sid")
      case "graft.kreachable" =>
        // temporal k-hop reachability count (the g37 sweep): how many
        // vertices can sourceId reach over a time-respecting path of at
        // most k hops, departing at or after t0 and arriving by deadline.
        // Same loud-failure contract as the other temporal procedures.
        nargs(5)
        import spark.implicits._
        val (krSrc, krT0, krDl) = (longArg(0), longArg(1), longArg(2))
        val krK = intArg(3, Some(4))
        val krProp = strArg(4).getOrElse("t")
        val kre = temporalEdges(krProp, "graft.kReachable")
        graft.algorithms.TemporalGraph.kReachableCounts(kre,
          Seq((krSrc, krT0, krDl)).toDF("sid", "t0", "deadline"), krK)
      case "graft.temporalstress" =>
        // interior-visit counts over hop-minimal time-respecting journeys
        // (the g48 two-phase state-DAG sweep): (src, t0[, k[, 'timeProp']])
        nargs(4)
        import spark.implicits._
        val (tsSrc, tsT0) = (longArg(0), longArg(1))
        val tsK = intArg(2, Some(4))
        val tsProp = strArg(3).getOrElse("t")
        val tse = temporalEdges(tsProp, "graft.temporalStress")
        graft.algorithms.TemporalGraph.temporalStress(tse,
          Seq((tsSrc, tsT0)).toDF("sid", "t0"), tsK)
      case "graft.temporalbetweenness" =>
        // the FP sigma-ratio twin of temporalStress on the same state
        // DAG (x37): (src, t0[, k[, 'timeProp']]) — FP output, so its
        // gates ride rows-only; the stress twin carries oracles
        nargs(4)
        import spark.implicits._
        val (tbSrc, tbT0) = (longArg(0), longArg(1))
        val tbK = intArg(2, Some(4))
        val tbProp = strArg(3).getOrElse("t")
        val tbe = temporalEdges(tbProp, "graft.temporalBetweenness")
        graft.algorithms.TemporalGraph.temporalBetweenness(tbe,
          Seq((tbSrc, tbT0)).toDF("sid", "t0"), tbK)
      case "graft.pivotstress" =>
        // pivot-sampled whole-graph stress (g50, Brandes–Pich 2007):
        // (nPivots[, maxDepth]) — deterministic h32-argmin pivot draw,
        // exact integer sweeps, (stress * |V|) div |S| estimate
        nargs(2)
        val psN = intArg(0, Some(16))
        val psD = intArg(1, Some(8))
        GraphAlgorithms.pivotStress(edges, psN, psD)
      case "graft.douliontriangles" =>
        // DOULION sparsify-first triangle estimation (g54, KDD 2009):
        // ([keepPermille]) — deterministic h32 edge coin, exact count on
        // the kept edges, (count * 1000^3) div permille^3 integer scale
        nargs(1)
        val dtP = intArg(0, Some(500))
        GraphAlgorithms.doulionTriangles(edges, dtP)
      case "graft.temporalpivotstress" =>
        // the pivot estimator carried to journeys (g52):
        // (nPivots[, k[, 'timeProp']]) — h32-argmin draw over distinct
        // edge sources, each departing at its own min event time,
        // (stress * n_src) div |S| integer estimate
        nargs(3)
        val tpN = intArg(0, Some(4))
        val tpK = intArg(1, Some(4))
        val tpProp = strArg(2).getOrElse("t")
        graft.algorithms.TemporalGraph.temporalPivotStress(
          temporalEdges(tpProp, "graft.temporalPivotStress"), tpN, tpK)
      case "graft.closeness" =>
        // Wasserman–Faust closeness over the reachable set (the g39
        // digest): (maxDepth, sourceIds...) — integer-pure, ppm-scaled
        require(c.args.length >= 2,
          "graft.closeness requires (maxDepth, at least one source id)")
        import spark.implicits._
        val clD = intArg(0)
        require(clD >= 1,
          s"graft.closeness: maxDepth must be positive, got $clD")
        val clSrcs = (1 until c.args.length).map(longArg(_))
        graft.algorithms.Traversals
          .bfsDistancesPerSource(edges, clSrcs.toDF("id"), clD)
          .where(col("dist") > 0)
          .groupBy(col("start_id"))
          .agg(sum(col("dist")).cast("long").as("sum_dist"),
            count(lit(1)).as("n_reached"))
          .withColumn("closeness_ppm",
            expr("(1000000 * n_reached) div sum_dist"))
          .select(col("start_id").as("id"), col("sum_dist"),
            col("n_reached"), col("closeness_ppm"))
      case "graft.harmonic" =>
        // harmonic centrality per reached vertex (the g26 digest —
        // 840 = lcm(1..8), so 840/d is exact for any BFS depth ≤ 8):
        // (maxDepth, sourceIds...)
        require(c.args.length >= 2,
          "graft.harmonic requires (maxDepth, at least one source id)")
        import spark.implicits._
        val haD = intArg(0)
        require(haD >= 1 && haD <= 8,
          s"graft.harmonic: maxDepth must be in 1..8 (the exact-840 " +
            s"domain), got $haD")
        val haSrcs = (1 until c.args.length).map(longArg(_))
        graft.algorithms.Traversals
          .bfsDistancesPerSource(edges, haSrcs.toDF("id"), haD)
          .where(col("dist") > 0)
          .groupBy(col("id"))
          .agg(sum(expr("840 div dist")).as("h840"),
            count(lit(1)).as("n_reached"))
      case "graft.kreaching" =>
        // per-target mirror of graft.kReachable (negate-reverse):
        // (targetId, deadline, floor[, k[, 'timeProp']])
        nargs(5)
        import spark.implicits._
        val (krTid, krDl2, krFloor) = (longArg(0), longArg(1), longArg(2))
        val krK2 = intArg(3, Some(4))
        val krProp2 = strArg(4).getOrElse("t")
        val kre2 = temporalEdges(krProp2, "graft.kReaching")
        graft.algorithms.TemporalGraph.kReachingCounts(kre2,
          Seq((krTid, krDl2, krFloor)).toDF("tid", "deadline", "floor"), krK2)
      case "graft.earliestarrival" =>
        // the g35 min-arrival sweep: (sourceId, t0[, 'timeProp']) →
        // (id, arrival) over every vertex the source can reach in time
        nargs(3)
        import spark.implicits._
        val (eaSrc, eaT0) = (longArg(0), longArg(1))
        val eaProp = strArg(2).getOrElse("t")
        val eae = temporalEdges(eaProp, "graft.earliestArrival")
        graft.algorithms.TemporalGraph.earliestArrival(eae,
          Seq((eaSrc, eaT0)).toDF("id", "t0"))
      case "graft.temporalcloseness" =>
        // the g49 digest: (sourceId[, 'timeProp']) → one
        // (sid, n_reach, sum_duration) row off the fastest-duration sweep
        nargs(2)
        import spark.implicits._
        val tcSrc = longArg(0)
        val tcProp = strArg(1).getOrElse("t")
        val tce = temporalEdges(tcProp, "graft.temporalCloseness")
        graft.algorithms.TemporalGraph.temporalCloseness(tce,
          Seq(tcSrc).toDF("sid"))
      case "graft.stress" =>
        // bounded-source exact stress (g25): (maxDepth, sourceIds...) —
        // whole-graph estimation is graft.pivotStress's job
        require(c.args.length >= 2,
          "graft.stress requires (maxDepth, at least one source id)")
        import spark.implicits._
        val stD = intArg(0)
        require(stD >= 1, s"graft.stress: maxDepth must be positive, got $stD")
        val stSrcs = (1 until c.args.length).map(longArg(_))
        GraphAlgorithms.stressCentrality(edges, stSrcs.toDF("id"), stD)
      case "graft.edgestress" =>
        // the Girvan–Newman primitive (g53): per-EDGE exact path counts
        // from the same shared Brandes sweeps as graft.stress
        require(c.args.length >= 2,
          "graft.edgeStress requires (maxDepth, at least one source id)")
        import spark.implicits._
        val esD = intArg(0)
        require(esD >= 1,
          s"graft.edgeStress: maxDepth must be positive, got $esD")
        val esSrcs = (1 until c.args.length).map(longArg(_))
        GraphAlgorithms.edgeStressCentrality(edges, esSrcs.toDF("id"), esD)
      case "graft.betweenness" =>
        // the FP sigma-ratio twin of graft.stress (x24 pairing): same
        // sweeps, fractional pair credit — output is FP, gates ride
        // rows-only with the stress twin carrying oracles
        require(c.args.length >= 2,
          "graft.betweenness requires (maxDepth, at least one source id)")
        import spark.implicits._
        val btD = intArg(0)
        require(btD >= 1,
          s"graft.betweenness: maxDepth must be positive, got $btD")
        val btSrcs = (1 until c.args.length).map(longArg(_))
        GraphAlgorithms.betweennessCentrality(edges, btSrcs.toDF("id"), btD)
      case other => sys.error(s"unknown procedure '$other' — available: " +
        "graft.pageRank(iters), graft.connectedComponents(), graft.kCore(k), " +
        "graft.labelPropagation(iters), graft.triangles(), graft.degrees(), " +
        "graft.ppr(sourceId, iters), graft.katz(maxLen, beta), " +
        "graft.kTruss(k), graft.walks(sourceId, walksPerStart, steps" +
        "[, p[, q]]), " +
        "graft.scc(), graft.linkPrediction(topK), graft.mis(), " +
        "graft.distance(srcId, dstId, maxHops[, 'weightProp']), " +
        "graft.latestDeparture(targetId, deadline[, 'timeProp']), " +
        "graft.fastestDuration(sourceId[, 'timeProp'[, 'travelProp']]), " +
        "graft.anf(rounds), " +
        "graft.fewestHops(sourceId[, k[, 'timeProp']]), " +
        "graft.assortativity(), graft.reciprocity(), " +
        "graft.modularity(iters), graft.louvainRefine(iters), " +
        "graft.louvain(maxLevels, sweepsPerLevel[, 'weightProp']), " +
        "graft.kReachable(sourceId, t0, deadline[, k[, 'timeProp']]), " +
        "graft.temporalStress(sourceId, t0[, k[, 'timeProp']]), " +
        "graft.temporalBetweenness(sourceId, t0[, k[, 'timeProp']]), " +
        "graft.pivotStress(nPivots[, maxDepth]), " +
        "graft.doulionTriangles([keepPermille]), " +
        "graft.temporalPivotStress(nPivots[, k[, 'timeProp']]), " +
        "graft.earliestArrival(sourceId, t0[, 'timeProp']), " +
        "graft.temporalCloseness(sourceId[, 'timeProp']), " +
        "graft.stress(maxDepth, sourceIds...), " +
        "graft.edgeStress(maxDepth, sourceIds...), " +
        "graft.betweenness(maxDepth, sourceIds...), " +
        "graft.closeness(maxDepth, sourceIds...), " +
        "graft.harmonic(maxDepth, sourceIds...), " +
        "graft.kReaching(targetId, deadline, floor[, k[, 'timeProp']]), " +
        "graft.corpusProfile('dir'), graft.dedupClusters('dir', permille), " +
        "graft.annTopK('dir', k, probeIds...), " +
        "graft.editDistPairs('dir'[, maxDist[, sliceMod]]), " +
        "graft.semDedup('dir'[, k[, iters[, tauPermille]]]), " +
        "graft.mst(['weightProp'])")
    }
    val available = out.columns.toSeq
    val items = if (c.yields.nonEmpty) c.yields
      else available.map(n => (n, Option.empty[String]))
    items.foreach { case (n, _) => require(available.contains(n),
      s"${c.proc} does not yield '$n' (yields: ${available.mkString(", ")})") }
    val names = items.map { case (n, a) => a.getOrElse(n) }
    require(names.distinct.size == names.size, "duplicate YIELD column names")
    val projected = out.select(items.map { case (n, a) =>
      col(n).as(a.getOrElse(n)) }.toIndexedSeq: _*)
    val sc = Scope(projected,
      names.map(n => n -> VarInfo(VarKind.Value, None, Nil)).toMap,
      names)
    c.where.map(w => sc.copy(df = sc.df.where(ec(sc).truthyExpr(w))))
      .getOrElse(sc)
  }

  /** RETURN * / WITH * expansion: every USER-named scope variable in
    * binding order (planner-internal fresh vars carry the `__` prefix and
    * stay hidden, openCypher behavior for anonymous pattern parts).
    */
  private def starItems(scope: Option[Scope]): Seq[ReturnItem] =
    scope.toSeq.flatMap(_.order).filterNot(_.startsWith("__"))
      .map(v => ReturnItem(Variable(v), None))

  private def emptyScope: Scope = {
    import spark.implicits._
    Scope(Seq(1).toDF("__unit"), Map.empty, Nil)
  }

  // ---------------- scans ----------------

  private def prefixAll(df: DataFrame, v: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(Scope.colName(v, c))).toIndexedSeq: _*)

  /** Label `l`'s table of `kind` as a scan reads it ([[Planner.labelled]]). */
  private def labelScan(kind: VarKind, l: String): DataFrame = {
    val st = readStore(kind, Seq(l))
    val t = (if (kind == VarKind.Node) st.vertexTables else st.edgeTables)
      .getOrElse(l, sys.error(s"unknown ${if (kind == VarKind.Node) "vertex" else "edge"} label: $l"))
    t.select(Planner.labelled(t.columns.toSeq).map { case (c, from) =>
      from.fold(lit(l))(col).as(c)
    }: _*)
  }

  private def nodeScan(np: NodePat, v: String): (DataFrame, VarInfo) = np.labels.distinct match {
    case Seq(l) =>
      val base = labelScan(VarKind.Node, l)
      (prefixAll(base, v),
        VarInfo(VarKind.Node, Some(l), Planner.scanProps(VarKind.Node, base.columns.toSeq)))
    case Nil =>
      val base = readStore(VarKind.Node, store.vertexLabels).allVertices
      (prefixAll(base, v), VarInfo(VarKind.Node, None, Seq("label", "properties")))
    case many =>
      // openCypher conjunction semantics: (n:A:B) matches nodes carrying
      // ALL listed labels. This store (like the reference) is
      // single-label-per-vertex, so distinct labels can never co-occur —
      // the scan is statically empty (SURVEY §8 divergence note).
      val base = labelScan(VarKind.Node, many.head).limit(0)
      (prefixAll(base, v),
        VarInfo(VarKind.Node, Some(many.head), Planner.scanProps(VarKind.Node, base.columns.toSeq)))
  }

  /** Typed union of edge tables (schema union, absent props null-filled). */
  private def edgeUnion(types: Seq[String]): DataFrame = {
    val names = if (types.nonEmpty) types else store.edgeLabels
    names.map(labelScan(VarKind.Edge, _)).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Edge scan, traversal-oriented: after this, `src` is always the side we
    * expand FROM. Both = union of the two orientations (matches the
    * reference's Both handling, match_executor.rs:149-177).
    */
  private def edgeScan(rp: RelPat, v: String): (DataFrame, VarInfo) = {
    // __start/__end pin the STORED orientation before any traversal swap —
    // startNode()/endNode() must report the edge as stored, not as walked
    val base = edgeUnion(rp.types)
    def walked(reversed: Boolean) = base.select(
      Planner.oriented(base.columns.toSeq, reversed).map { case (c, from) => col(from).as(c) }: _*)
    val oriented = rp.dir match {
      case Dir.Out => walked(false)
      case Dir.In => walked(true)
      case Dir.Both => walked(false).unionByName(walked(true))
    }
    val label = rp.types match { case Seq(t) => Some(t); case _ => None }
    (prefixAll(oriented, v),
      VarInfo(VarKind.Edge, label, Planner.scanProps(VarKind.Edge, oriented.columns.toSeq)))
  }

  // ---------------- pattern compilation ----------------

  private def applyProps(sc: Scope, v: String, props: Seq[(String, Expr)]): Scope =
    props.foldLeft(sc) { case (s, (k, e)) =>
      val compiler = ec(s)
      val target = compiler.compile(Prop(Variable(v), k))
      s.copy(df = s.df.where(target === compiler.compile(e)))
    }

  private def applyNodeConstraints(sc: Scope, v: String, np: NodePat): Scope = {
    val vi = sc.vars(v)
    val withLabels = np.labels.distinct.foldLeft(sc) { (s, l) =>
      vi.label match {
        // label known statically (typed table, no label column): a matching
        // re-label is a no-op, a different one can never match
        case Some(known) =>
          if (known == l) s else s.copy(df = s.df.where(lit(false)))
        case None =>
          s.copy(df = s.df.where(col(Scope.colName(v, "label")) === l))
      }
    }
    applyProps(withLabels, v, np.props)
  }

  private def bindStart(scope: Option[Scope], np: NodePat): (Scope, String) = {
    val sv = np.variable.getOrElse(fresh("n"))
    val sc = scope match {
      case Some(s) if s.vars.contains(sv) =>
        applyNodeConstraints(s, sv, np)
      case Some(s) =>
        val (ndf, info) = nodeScan(np, sv)
        val joined = Scope(s.df.crossJoin(ndf), s.vars + (sv -> info), s.order :+ sv)
        applyProps(joined, sv, np.props)
      case None =>
        val (ndf, info) = nodeScan(np, sv)
        applyProps(Scope(ndf, Map(sv -> info), Seq(sv)), sv, np.props)
    }
    (sc, Scope.colName(sv, "id"))
  }

  private def compilePath(scope: Option[Scope], pat: PathPat): Scope = {
    val wantPath = pat.pathVar.isDefined
    // anonymous unconstrained start before a plain hop: the first edge scan
    // is the anchor, no vertex join (`MATCH ()-[r:X]->(b)` touches only the
    // edge table and b). A bound path variable needs the start id in its
    // vertex list, so the shortcut is disabled there.
    val skipStart = !wantPath && Planner.anonFree(pat.start) && pat.hops.nonEmpty &&
      pat.hops.head._1.varLength.isEmpty
    var (sc, prevId): (Option[Scope], Option[String]) =
      if (skipStart) (scope, None)
      else {
        val (s, p) = bindStart(scope, pat.start)
        (Some(s), Some(p))
      }
    val startId = prevId
    // per-hop (appended vertex ids, traversed edge ids) for the path var
    val pieces = Seq.newBuilder[(Column, Column)]
    val tempCols = Seq.newBuilder[String]
    pat.hops.foreach { case (rel, node) =>
      val (next, anchor, piece) = compileHop(sc, prevId, rel, node, wantPath)
      sc = Some(next)
      prevId = Some(anchor)
      piece.foreach { case (p, temps) => pieces += p; tempCols ++= temps }
    }
    pat.pathVar.fold(sc.get) { pv =>
      val s0 = sc.get
      require(!s0.vars.contains(pv), s"path variable reused: $pv")
      val ps = pieces.result()
      val nodesArr = concat((array(col(startId.get).cast("long")) +: ps.map(_._1)): _*)
      val relsArr =
        if (ps.isEmpty) array().cast("array<long>") else concat(ps.map(_._2): _*)
      s0.copy(
        df = s0.df.withColumn(pv, nodesArr)
          .withColumn(Planner.pathRels(pv), relsArr)
          .drop(tempCols.result(): _*),
        vars = s0.vars + (pv -> Planner.pathInfo),
        order = s0.order :+ pv)
    }
  }

  /** One hop; returns the new scope plus the column anchoring the far end
    * (a bound variable's id, or the raw edge dst for skipped anon nodes).
    * With `wantPath` it also returns this hop's contribution to the
    * enclosing path variable — (vertex ids appended past the hop start,
    * edge ids traversed) — plus any temp columns to drop after assembly.
    */
  private def compileHop(scOpt: Option[Scope], prevIdCol: Option[String],
      rel: RelPat, node: NodePat,
      wantPath: Boolean = false): (Scope, String, Option[((Column, Column), Seq[String])]) = {
    rel.varLength match {
      case Some((lo, hi)) =>
        val sc0 = scOpt.getOrElse(sys.error("var-length hop needs a bound start"))
        val prev = prevIdCol.getOrElse(sys.error("var-length hop needs a bound start"))
        val dir = Planner.direction(rel.dir)
        // honor inline props on EVERY expansion step, like the reference's
        // per-step edge filter (match_executor.rs:128-213): filter the edge
        // relation once, before iteration — pushed to the scan
        var eb = edgeUnion(rel.types)
        rel.props.foreach { case (k, ex) =>
          val target: Column =
            if (eb.columns.contains(k)) eb(k)
            else if (eb.columns.contains("properties"))
              get_json_object(col("properties"), "$." + k)
            else lit(null)
          eb = eb.where(target === ec(sc0).compile(ex))
        }
        val starts = sc0.df.select(col(prev).as("id")).distinct()
        val ev = fresh("vl")
        // a named relationship variable binds to the LIST of traversed edge
        // ids (openCypher list-of-relationships semantics; ids are the
        // entity handle here)
        val carry = rel.variable.isDefined
        val carryE = carry || wantPath
        val walkCols = Planner.walkColumns(ev, rel.variable, wantPath)
        val pairCols = walkCols.map { case (c, from) => col(from).as(c) }
        // openCypher *0: the zero-length match binds the target to the start
        // vertex itself with an empty relationship list (edge-type and
        // -property constraints are vacuous on zero edges; target node
        // constraints still apply via bindTargetVar below). The reference's
        // grammar has no var-length at all (cypher.pest:89-94), so this
        // extension follows openCypher.
        val zeroRows = starts.select(walkCols.map { case (c, from) =>
          (from match {
            case "path" => array(col("id"))
            case "epath" => expr("CAST(array() AS ARRAY<BIGINT>)")
            case _ => col("id")
          }).as(c)
        }: _*)
        // with a session adjacency the walk runs on the driver; without
        // one, or past the path bound, the DataFrame loop
        val walked =
          if (hi >= 1) adjacencyFor(rel, dir)
            .flatMap(Traversals.vleLocal(_, sc0.df.select(col(prev).as("id")),
              lo.max(1), hi, carryE))
            .getOrElse(Traversals.vle(eb.select(col("id"), col("src"), col("dst")),
              starts, lo.max(1), hi, dir, carryEdges = carryE))
            .select(pairCols: _*)
          else zeroRows.where(lit(false))
        val pairs = if (lo == 0) walked.unionByName(zeroRows) else walked
        var sc = sc0.copy(df = sc0.df.join(pairs, col(prev) === col(s"${ev}__s")))
        rel.variable.foreach { rv =>
          require(!sc0.vars.contains(rv), s"relationship variable reused: $rv")
          sc = sc.copy(vars = sc.vars + (rv -> VarInfo(VarKind.Value, None, Nil)),
            order = sc.order :+ rv)
        }
        val nv = node.variable.getOrElse(fresh("n"))
        sc = bindTargetVar(sc, s"${ev}__d", node, nv)
        sc = sc.copy(df = sc.df.drop(s"${ev}__s", s"${ev}__d"))
        // path piece: the vle vertex path minus its leading start vertex
        val piece = if (wantPath) {
          val vp = col(s"${ev}__vp")
          Some(((slice(vp, lit(2), greatest(size(vp) - 1, lit(0))).cast("array<long>"),
            col(s"${ev}__ep").cast("array<long>")),
            Seq(s"${ev}__vp", s"${ev}__ep")))
        } else None
        (sc, Scope.colName(nv, "id"), piece)
      case None =>
        val ev = rel.variable.getOrElse(fresh("e"))
        require(!scOpt.exists(_.vars.contains(ev)), s"relationship variable reused: $ev")
        val (edf, einfo) = edgeScan(rel, ev)
        val srcCol = Scope.colName(ev, "src")
        var sc = (scOpt, prevIdCol) match {
          case (Some(s), Some(p)) =>
            Scope(s.df.join(edf, col(p) === col(srcCol)),
              s.vars + (ev -> einfo), s.order :+ ev)
          case (Some(s), None) =>
            Scope(s.df.crossJoin(edf), s.vars + (ev -> einfo), s.order :+ ev)
          case (None, _) =>
            Scope(edf, Map(ev -> einfo), Seq(ev))
        }
        sc = applyProps(sc, ev, rel.props)
        val endCol = Scope.colName(ev, "dst")
        def piece(anchor: String) = if (wantPath)
          Some(((array(col(anchor).cast("long")),
            array(col(Scope.colName(ev, "id")).cast("long"))),
            Seq.empty[String]))
        else None
        if (Planner.anonFree(node) && !scOpt.exists(s => node.variable.exists(s.vars.contains))) {
          (sc, endCol, piece(endCol)) // no vertex join needed
        } else {
          val nv = node.variable.getOrElse(fresh("n"))
          (bindTargetVar(sc, endCol, node, nv), Scope.colName(nv, "id"),
            piece(Scope.colName(nv, "id")))
        }
    }
  }

  /** Bind the far end of a hop to a variable: join a fresh node scan, or
    * constrain to an already-bound variable (same-variable re-occurrence =
    * equi-filter).
    */
  private def bindTargetVar(sc0: Scope, endCol: String, node: NodePat, nv: String,
      scan: Option[(DataFrame, VarInfo)] = None): Scope = {
    if (sc0.vars.contains(nv)) {
      val filtered = sc0.copy(df = sc0.df.where(col(endCol) === col(Scope.colName(nv, "id"))))
      applyNodeConstraints(filtered, nv, node)
    } else {
      val (ndf, ninfo) = scan.getOrElse(nodeScan(node, nv))
      val joined = Scope(
        sc0.df.join(ndf, col(endCol) === col(Scope.colName(nv, "id"))),
        sc0.vars + (nv -> ninfo), sc0.order :+ nv)
      applyProps(joined, nv, node.props)
    }
  }

  /** WHERE application shared by MATCH / OPTIONAL MATCH / WITH: splits the
    * expression into AND-conjuncts, compiles EXISTS pattern predicates
    * (optionally under NOT) to left-semi/left-anti joins, and the scalar
    * remainder to one Column filter. EXISTS anywhere else (under OR, in a
    * CASE, …) fails loudly in ExprCompiler rather than guessing.
    */
  private def applyWhere(s0: Scope, w: Expr): Scope = {
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case Bin("AND", l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    var s = s0
    val plain = Seq.newBuilder[Expr]
    conjuncts(w).foreach {
      case PatternPred(p, w) =>
        s = compilePatternPred(s, p, w, negated = false)
      case Un("NOT", PatternPred(p, w)) =>
        s = compilePatternPred(s, p, w, negated = true)
      case other => plain += other
    }
    val rest = plain.result()
    if (rest.isEmpty) s
    else {
      val compiler = ec(s)
      s.copy(df = s.df.where(rest.map(compiler.truthyExpr).reduce(_ && _)))
    }
  }

  /** EXISTS/NOT EXISTS pattern predicate: the pattern runs in its own
    * scope seeded by the DISTINCT shared-variable rows (the OPTIONAL MATCH
    * seeding) and joins back left-semi/left-anti on the entity-id keys —
    * a correlated subquery as ONE hash join, never per-row execution. The
    * semi side is key-distinct, so its size is bounded by the outer key
    * cardinality regardless of the pattern's fan-out.
    */
  private def compilePatternPred(s: Scope, pat: PathPat, whereE: Option[Expr],
      negated: Boolean): Scope = {
    val shared = Planner.patternVars(Seq(pat)).filter(s.vars.contains)
    require(shared.nonEmpty,
      "EXISTS pattern must reference at least one variable bound by the enclosing MATCH")
    val seedCols = shared.flatMap(s.varCols)
    val seed = s.df.select(seedCols.map(col).toIndexedSeq: _*).distinct()
    var sub = Scope(seed, shared.map(v => v -> s.vars(v)).toMap, shared)
    sub = compilePath(Some(sub), pat)
    // the braces form's inner WHERE filters the sub-match before the
    // key-distinct join-back; recursion through applyWhere means a nested
    // EXISTS inside it compiles to its own semi join
    whereE.foreach(w => sub = applyWhere(sub, w))
    val keyCols = shared.map { v =>
      if (s.vars(v).kind == VarKind.Value) v else Scope.colName(v, "id")
    }
    val joined = s.df.join(
      sub.df.select(keyCols.map(col).toIndexedSeq: _*).distinct(),
      keyCols, if (negated) "left_anti" else "left_semi")
    s.copy(df = joined)
  }

  /** CALL { <subquery> } — openCypher CALL subquery compiled as ONE join,
    * never per-row execution (the EXISTS/COUNT{} seeding pattern
    * generalized to arbitrary returned columns): the inner part runs once
    * against the DISTINCT imported rows, every WITH (and the final
    * RETURN, compiled as a WITH) carries hidden import-key columns, and
    * the result joins back onto the outer relation null-safe on those
    * keys. Cardinality follows openCypher: each outer row multiplies by
    * its invocation's result rows; an all-aggregate RETURN yields exactly
    * one row per invocation (empty matches fill count with 0, sum with 0,
    * collect with [] — so the outer row survives with the aggregate's
    * empty value). ORDER BY / SKIP / LIMIT inside the subquery RETURN
    * would be per-invocation top-k — rejected loudly (apply them after
    * the CALL); the inner part is read-only, and UNION inside the
    * subquery is not supported.
    */
  private def compileCallSubquery(outer: Option[Scope],
      c: CallSubqueryClause): Scope = {
    val q = c.inner
    require(q.union.isEmpty, "UNION inside CALL { } is not supported")
    require(q.clauses.nonEmpty && q.clauses.last.isInstanceOf[ReturnClause],
      "CALL { } must end in RETURN")
    q.clauses.foreach {
      case _: MatchClause | _: WithClause | _: UnwindClause |
          _: ShortestPathClause | _: ReturnClause => ()
      case _ => sys.error(
        "CALL { } subqueries are read-only (MATCH/WITH/UNWIND/RETURN only)")
    }
    val ret = q.clauses.last.asInstanceOf[ReturnClause]
    require(ret.orderBy.isEmpty && ret.skip.isEmpty && ret.limit.isEmpty &&
      !ret.star, "ORDER BY / SKIP / LIMIT / * in a CALL { } RETURN have " +
      "per-invocation semantics — apply them after the CALL instead")
    ret.items.foreach { it =>
      require(it.alias.isDefined || it.expr.isInstanceOf[Variable],
        "CALL { } RETURN items must be variables or aliased expressions")
    }
    // leading import WITH: bare outer variables, nothing else (openCypher
    // importing-WITH rule). A first-clause WITH of non-outer names would
    // have no bindings to read anyway.
    val (imports, body) = q.clauses.head match {
      case w: WithClause if !w.star && !w.distinct && w.where.isEmpty &&
          w.orderBy.isEmpty && w.skip.isEmpty && w.limit.isEmpty &&
          w.items.nonEmpty && w.items.forall { it =>
            it.expr match {
              case Variable(v) => it.alias.forall(_ == v) &&
                outer.exists(_.vars.contains(v))
              case _ => false
            }
          } =>
        (w.items.map(_.expr.asInstanceOf[Variable].name), q.clauses.tail)
      case _ => (Nil, q.clauses)
    }
    val keyAliases = imports.map(v => fresh(s"ck_$v"))
    val keyItems = keyAliases.map(k => ReturnItem(Variable(k), Some(k)))
    def withKeys(w: WithClause): WithClause =
      if (keyItems.isEmpty) w else w.copy(items = w.items ++ keyItems)
    var sub: Option[Scope] = imports match {
      case Nil => None
      case vs =>
        val s = outer.get
        val seedCols = vs.flatMap(s.varCols)
        val seed0 = s.df.select(seedCols.map(col).toIndexedSeq: _*).distinct()
        // hidden key columns computed ONCE on the seed (entity -> id,
        // value -> itself); every subsequent WITH carries them forward
        val seed = vs.zip(keyAliases).foldLeft(seed0) { case (df, (v, k)) =>
          df.withColumn(k,
            if (s.vars(v).kind == VarKind.Value) col(v)
            else col(Scope.colName(v, "id")))
        }
        Some(Scope(seed,
          vs.map(v => v -> s.vars(v)).toMap ++
            keyAliases.map(_ -> VarInfo(VarKind.Value, None, Nil)),
          vs))
    }
    body.init.foreach {
      case m: MatchClause => sub = Some(compileMatch(sub, m))
      case sp: ShortestPathClause => sub = Some(compileShortestPath(sub, sp))
      case w0: WithClause =>
        val w1 = if (w0.star) w0.copy(items = starItems(sub) ++ w0.items,
          star = false) else w0
        sub = Some(compileWith(sub.getOrElse(emptyScope), withKeys(w1)))
      case u: UnwindClause =>
        val ss = sub.getOrElse(emptyScope)
        val cc = ec(ss).compile(u.expr)
        sub = Some(Scope(ss.df.withColumn(u.alias, explode(cc)),
          ss.vars + (u.alias -> VarInfo(VarKind.Value, None, Nil)),
          ss.order :+ u.alias))
      case _ => sys.error("CALL { } must end in RETURN")
    }
    val asWith = WithClause(ret.distinct, ret.items, Nil, None, None, None)
    val subF = compileWith(sub.getOrElse(emptyScope), withKeys(asWith))
    val outputs = subF.order.filterNot(keyAliases.contains)
    outer.foreach { s =>
      outputs.foreach(o => require(!s.vars.contains(o),
        s"CALL { } returns '$o', which is already bound in the outer scope"))
    }
    val outVars = outputs.map(o => o -> subF.vars(o)).toMap
    val allAgg = ret.items.forall(it => ec(subF).isAggregate(it.expr))
    outer match {
      case None =>
        Scope(subF.df.drop(keyAliases: _*), outVars, outputs)
      case Some(s) if imports.isEmpty =>
        // uncorrelated under a bound scope: every outer row pairs with
        // every invocation row (the invocation is outer-independent, so
        // this cross product IS the openCypher cardinality)
        Scope(s.df.crossJoin(subF.df), s.vars ++ outVars, s.order ++ outputs)
      case Some(s) =>
        val cond = imports.zip(keyAliases).map { case (v, k) =>
          val ocName = if (s.vars(v).kind == VarKind.Value) v
          else Scope.colName(v, "id")
          s.df(ocName) <=> subF.df(k)
        }.reduce(_ && _)
        val joinType = if (allAgg) "left_outer" else "inner"
        var joined = s.df.join(subF.df, cond, joinType).drop(keyAliases: _*)
        if (allAgg) {
          // per-invocation aggregate semantics on an empty match: the row
          // survives with the aggregate's empty value
          val types = subF.df.schema.fields.map(f => f.name -> f.dataType).toMap
          ret.items.foreach { it =>
            val name = it.alias.getOrElse(defaultName(it.expr, 0))
            val fill: Option[Column] = it.expr match {
              case CountStar => Some(lit(0L))
              case FnCall(n, _, _) if n.equalsIgnoreCase("count") => Some(lit(0L))
              case FnCall(n, _, _) if n.equalsIgnoreCase("sum") =>
                Some(lit(0).cast(types(name)))
              case FnCall(n, _, _) if n.equalsIgnoreCase("collect") =>
                Some(array().cast(types(name)))
              case _ => None // min/max/avg over empty stay NULL (openCypher)
            }
            fill.foreach(f =>
              joined = joined.withColumn(name, coalesce(col(name), f)))
          }
        }
        Scope(joined, s.vars ++ outVars, s.order ++ outputs)
    }
  }

  /** Hoist pattern comprehensions and COUNT {} subqueries out of
    * projection item expressions: each DISTINCT subquery becomes a hidden
    * Value column computed by ONE aggregating left join (the EXISTS
    * machinery's seeding — the pattern runs in its own scope seeded by the
    * DISTINCT shared-variable rows — with a groupBy on the shared keys
    * before the join-back; never per-row execution), and the item
    * expression references the column instead. The semi-join-side group
    * relation is key-distinct, so its size is bounded by the outer key
    * cardinality regardless of pattern fan-out.
    */
  private def hoistPatternSubqueries(scope: Scope,
      items: Seq[ReturnItem]): (Scope, Seq[ReturnItem]) = {
    var s = scope
    val seen = scala.collection.mutable.Map[Expr, String]()
    def hoist(sub: Expr, pat: PathPat, whereE: Option[Expr],
        proj: Option[Expr]): Expr = Variable(seen.getOrElseUpdate(sub, {
      val outName = fresh("subq")
      s = compilePatternSubquery(s, pat, whereE, proj, outName)
      outName
    }))
    // recursion covers the scalar wrappers a subquery realistically sits
    // under (size(...), arithmetic, CASE, lists); lambda-scoped constructs
    // (list comprehension/reduce bodies) are left alone — a subquery there
    // still fails loudly in ExprCompiler
    def walk(e: Expr): Expr = e match {
      case pc @ PatternComp(p, w, pr) => hoist(pc, p, w, Some(pr))
      case cs @ CountSub(p, w) => hoist(cs, p, w, None)
      case FnCall(n, args, d) => FnCall(n, args.map(walk), d)
      case Prop(b, k) => Prop(walk(b), k)
      case Index(b, i) => Index(walk(b), walk(i))
      case Bin(op, l, r) => Bin(op, walk(l), walk(r))
      case Un(op, x) => Un(op, walk(x))
      case IsNull(x, neg) => IsNull(walk(x), neg)
      case InList(x, l, neg) => InList(walk(x), walk(l), neg)
      case CaseExpr(ws, o) =>
        CaseExpr(ws.map { case (c, v) => (walk(c), walk(v)) }, o.map(walk))
      case ListLit(xs) => ListLit(xs.map(walk))
      case other => other
    }
    val rewritten = items.map(it => it.copy(expr = walk(it.expr)))
    (s, rewritten)
  }

  private def compilePatternSubquery(s: Scope, pat: PathPat,
      whereE: Option[Expr], proj: Option[Expr], outName: String): Scope = {
    val shared = Planner.patternVars(Seq(pat)).filter(s.vars.contains)
    require(shared.nonEmpty,
      "pattern subquery must reference at least one variable bound by the enclosing MATCH")
    val seedCols = shared.flatMap(s.varCols)
    val seed = s.df.select(seedCols.map(col).toIndexedSeq: _*).distinct()
    var sub = Scope(seed, shared.map(v => v -> s.vars(v)).toMap, shared)
    sub = compilePath(Some(sub), pat)
    whereE.foreach(w => sub = applyWhere(sub, w))
    val keyCols = shared.map { v =>
      if (s.vars(v).kind == VarKind.Value) v else Scope.colName(v, "id")
    }
    val agg = proj match {
      case Some(pe) => collect_list(ec(sub).compile(pe)).as(outName)
      case None => count(lit(1)).as(outName)
    }
    val grouped = sub.df.groupBy(keyCols.map(col).toIndexedSeq: _*).agg(agg)
    // unmatched outer rows: empty list / 0, never NULL (openCypher)
    val fill = proj match {
      case Some(_) => array().cast(grouped.schema(outName).dataType)
      case None => lit(0L)
    }
    val joined = s.df.join(grouped, keyCols, "left_outer")
      .withColumn(outName, coalesce(col(outName), fill))
    // hidden Value var: resolvable by name, absent from `order` so
    // RETURN * / WITH * never surface it
    s.copy(df = joined,
      vars = s.vars + (outName -> VarInfo(VarKind.Value, None, Nil)))
  }

  private def compileMatch(outer: Option[Scope], m: MatchClause): Scope = {
    val named = anon
    keyLookups.flatMap(_.answer(outer, m)) match {
      case Some(s) => m.where.fold(s)(applyWhere(s, _))
      case None => anon = named; matchFrames(outer, m)
    }
  }

  private def matchFrames(outer: Option[Scope], m: MatchClause): Scope = {
    if (!m.optional || outer.isEmpty) {
      var sc = outer
      m.patterns.foreach { pat => sc = Some(compilePath(sc, pat)) }
      val s = sc.get
      m.where match {
        case Some(w) => applyWhere(s, w)
        case None => s
      }
    } else {
      val o = outer.get
      val shared = Planner.patternVars(m.patterns).filter(o.vars.contains)
      require(shared.nonEmpty,
        "OPTIONAL MATCH without a shared variable is not supported")
      val seedCols = shared.flatMap(o.varCols)
      val seed = o.df.select(seedCols.map(col).toIndexedSeq: _*).distinct()
      var sub = Scope(seed, shared.map(v => v -> o.vars(v)).toMap, shared)
      m.patterns.foreach { pat => sub = compilePath(Some(sub), pat) }
      sub = m.where match {
        case Some(w) => applyWhere(sub, w)
        case None => sub
      }
      // join back on entity ids only (they functionally determine the rest
      // of the seed columns) — narrower keys, smaller shuffle
      val keyCols = shared.map { v =>
        if (o.vars(v).kind == VarKind.Value) v else Scope.colName(v, "id")
      }
      val joined = o.df.join(
        sub.df.drop(seedCols.filterNot(keyCols.contains): _*), keyCols, "left_outer")
      val newVars = sub.vars -- shared
      Scope(joined, o.vars ++ newVars, o.order ++ sub.order.filterNot(shared.contains))
    }
  }

  // ---------------- projection (RETURN / WITH) ----------------

  private final case class NamedItem(name: String, expr: Expr, agg: Boolean)

  private def defaultName(e: Expr, i: Int): String = e match {
    case Variable(n) => n
    case Prop(Variable(v), k) => s"${v}_$k"
    case _ => s"col$i"
  }

  /** Structural equality up to function-name case: the AST preserves the
    * user's spelling for output naming (openCypher function names are
    * case-insensitive), so `Count(n)` in RETURN must still match
    * `count(n)` in ORDER BY. Canonicalize before comparing.
    */
  private def canon(e: Expr): Expr = e match {
    case FnCall(n, args, d) => FnCall(n.toLowerCase, args.map(canon), d)
    case Prop(b, k) => Prop(canon(b), k)
    case Index(b, i) => Index(canon(b), canon(i))
    case Bin(op, l, r) => Bin(op, canon(l), canon(r))
    case Un(op, x) => Un(op, canon(x))
    case IsNull(x, neg) => IsNull(canon(x), neg)
    case InList(x, l, neg) => InList(canon(x), canon(l), neg)
    case CaseExpr(ws, o) =>
      CaseExpr(ws.map { case (c, v) => (canon(c), canon(v)) }, o.map(canon))
    case ListLit(xs) => ListLit(xs.map(canon))
    case MapLit(entries) => MapLit(entries.map { case (k, v) => (k, canon(v)) })
    case other => other
  }

  private def sameExpr(a: Expr, b: Expr): Boolean = canon(a) == canon(b)

  /** The reference's column name for an un-aliased RETURN item
    * (executor/mod.rs get_return_key, :627-645): a property chain keeps
    * its dotted text, a function call becomes `name()`/`name(...)`,
    * anything else is `expr`. These names may contain dots, so they are
    * applied as a single terminal rename (toDF) AFTER all internal
    * by-name resolution — col("p.name") would parse as a struct access.
    * (Where the reference's HashMap silently overwrites colliding
    * un-aliased keys, Spark keeps both columns — strictly more faithful
    * to the query than dropping one.)
    */
  private def referenceName(e: Expr, i: Int): String = e match {
    case Variable(n) => n
    case p: Prop =>
      def chain(x: Expr): Option[List[String]] = x match {
        case Prop(b, k) => chain(b).map(_ :+ k)
        case Variable(v) => Some(List(v))
        case _ => None
      }
      chain(p).map(_.mkString(".")).getOrElse("expr")
    case CountStar => "count(*)"
    case FnCall(n, args, _) => if (args.isEmpty) s"$n()" else s"$n(...)"
    case _ => "expr"
  }

  private def nameItems(items: Seq[ReturnItem], compiler: ExprCompiler): Seq[NamedItem] =
    items.zipWithIndex.map { case (it, i) =>
      NamedItem(it.alias.getOrElse(defaultName(it.expr, i)), it.expr,
        compiler.isAggregate(it.expr))
    }

  private def orderAndSlice(df0: DataFrame, orderBy: Seq[OrderItem],
      skip: Option[Long], limit: Option[Long],
      resolve: Expr => Column): DataFrame = {
    var df = df0
    if (orderBy.nonEmpty) {
      val sortCols = orderBy.map { oi =>
        val c = resolve(oi.expr)
        // reference sorts NULLs last in both directions (mod.rs:969-977)
        if (oi.asc) c.asc_nulls_last else c.desc_nulls_last
      }
      df = df.orderBy(sortCols.toIndexedSeq: _*)
    }
    skip.foreach(n => df = df.offset(n.toInt))
    limit.foreach(n => df = df.limit(n.toInt))
    df
  }

  /** Resolver for ORDER BY expressions: an output column when the expr is an
    * alias or structurally equals a projected item, else compiled fresh
    * against the projected relation.
    */
  private def outputResolver(items: Seq[NamedItem], outDf: DataFrame): Expr => Column = {
    val outScope = Scope(outDf,
      items.map(i => i.name -> VarInfo(VarKind.Value, None, Nil)).toMap,
      items.map(_.name))
    val oec = ec(outScope)
    (e: Expr) => items.find(it => sameExpr(it.expr, e)).map(i => col(i.name))
      .getOrElse(oec.compile(e))
  }

  private def compileReturn(scope: Scope, rc: ReturnClause): DataFrame = {
    val df = compileReturn0(scope, rc)
    // reference-faithful output column names (aliases win; un-aliased
    // items take get_return_key text) — one rename at the very end, after
    // every internal by-name lookup is done
    val refNames = rc.items.zipWithIndex.map { case (it, i) =>
      it.alias.getOrElse(referenceName(it.expr, i))
    }
    if (refNames == df.columns.toSeq) df else df.toDF(refNames.toIndexedSeq: _*)
  }

  private def compileReturn0(scope0: Scope, rc0: ReturnClause): DataFrame = {
    val (scope, items) = hoistPatternSubqueries(scope0, rc0.items)
    val rc = rc0.copy(items = items)
    val compiler = ec(scope)
    val named = nameItems(rc.items, compiler)
    val hasAgg = named.exists(_.agg)
    var df =
      if (hasAgg) {
        val keys = named.filterNot(_.agg)
        val aggs = named.filter(_.agg)
        val aggCols = aggs.map(a => compiler.compile(a.expr).as(a.name))
        if (keys.isEmpty) scope.df.agg(aggCols.head, aggCols.tail.toIndexedSeq: _*)
        else {
          val keyCols = keys.map(k => compiler.compile(k.expr).as(k.name))
          scope.df.groupBy(keyCols.toIndexedSeq: _*)
            .agg(aggCols.head, aggCols.tail.toIndexedSeq: _*)
            .select(named.map(i => col(i.name)).toIndexedSeq: _*)
        }
      } else {
        // non-aggregating RETURN: a sort key may reference non-projected
        // scope expressions (`RETURN n.name ORDER BY n.age` is legal
        // Cypher). Carry unmatched sort keys as hidden columns, sort, then
        // drop them. DISTINCT/aggregation keep the projected-only rule
        // (openCypher: the sort key must be in scope after those).
        // output-side resolution first (structural match or alias
        // reference); anything else is a scope expression to carry hidden
        def fromOutput(e: Expr): Option[Column] =
          named.find(it => sameExpr(it.expr, e)).map(i => col(i.name)).orElse(e match {
            case Variable(n) if named.exists(_.name == n) => Some(col(n))
            case _ => None
          })
        val extras = rc.orderBy.map(_.expr)
          .filterNot(e => fromOutput(e).isDefined).distinct
          .zipWithIndex.map { case (e, i) => e -> s"__sort$i" }
        if (extras.nonEmpty && !rc.distinct) {
          val proj = named.map(i => compiler.compile(i.expr).as(i.name)) ++
            extras.map { case (e, n) => compiler.compile(e).as(n) }
          val sorted = orderAndSlice(scope.df.select(proj.toIndexedSeq: _*),
            rc.orderBy, rc.skip, rc.limit, { e =>
              fromOutput(e)
                .orElse(extras.collectFirst { case (ex, n) if ex == e => col(n) })
                .getOrElse(sys.error(s"unresolvable ORDER BY expression: $e"))
            })
          return sorted.select(named.map(i => col(i.name)).toIndexedSeq: _*)
        }
        scope.df.select(
          named.map(i => compiler.compile(i.expr).as(i.name)).toIndexedSeq: _*)
      }
    if (rc.distinct) df = df.distinct()
    orderAndSlice(df, rc.orderBy, rc.skip, rc.limit, outputResolver(named, df))
  }

  private def compileWith(scope1: Scope, wc0: WithClause): Scope = {
    val (scope, witems) = hoistPatternSubqueries(scope1, wc0.items)
    val wc = wc0.copy(items = witems)
    val compiler = ec(scope)
    val named = nameItems(wc.items, compiler)
    val hasAgg = named.exists(_.agg)

    /** Entity passthrough: `WITH c` (or `WITH c AS d`) keeps all prefixed
      * columns of the entity under the (possibly renamed) variable.
      */
    def passthrough(it: NamedItem): Option[(String, String)] = it.expr match {
      case Variable(v) if scope.vars.get(v).exists(vi =>
          vi.kind != VarKind.Value || vi.props.nonEmpty || vi.path) =>
        Some((v, it.name))
      case _ => None
    }

    val selectCols: Seq[Column] = named.filterNot(_.agg).flatMap { it =>
      passthrough(it) match {
        case Some((v, out)) => scope.varCols(v).map(c =>
          // a path variable's own column carries the variable name itself;
          // only its prefixed companions re-prefix under the new name
          if (c == v) col(c).as(out)
          else col(c).as(Scope.colName(out, c.stripPrefix(s"${v}__"))))
        case None => Seq(compiler.compile(it.expr).as(it.name))
      }
    }
    var df =
      if (hasAgg) {
        val aggCols = named.filter(_.agg).map(a => compiler.compile(a.expr).as(a.name))
        if (selectCols.isEmpty) scope.df.agg(aggCols.head, aggCols.tail.toIndexedSeq: _*)
        else scope.df.groupBy(selectCols.toIndexedSeq: _*)
          .agg(aggCols.head, aggCols.tail.toIndexedSeq: _*)
      } else scope.df.select(selectCols.toIndexedSeq: _*)
    if (wc.distinct) df = df.distinct()

    val newVars: Map[String, VarInfo] = named.map { it =>
      passthrough(it) match {
        case Some((v, out)) => out -> scope.vars(v)
        case None => it.name -> VarInfo(VarKind.Value, None, Nil)
      }
    }.toMap
    val newOrder = named.map(it => passthrough(it).map(_._2).getOrElse(it.name))
    var out = Scope(df, newVars, newOrder)

    // ORDER BY / SKIP / LIMIT on the projected relation
    val resolve: Expr => Column = { e =>
      named.find(it => sameExpr(it.expr, e)).map(i => i.expr match {
        case Variable(v) if out.vars(i.name).kind != VarKind.Value =>
          col(Scope.colName(i.name, "id"))
        case _ => col(i.name)
      }).getOrElse(ec(out).compile(e))
    }
    out = out.copy(df = orderAndSlice(out.df, wc.orderBy, wc.skip, wc.limit, resolve))
    wc.where match {
      case Some(w) => applyWhere(out, w)
      case None => out
    }
  }

  // ---------------- mutations ----------------

  /** CREATE: standalone literal patterns append vertices/edges; with a bound
    * scope, edges between bound node variables are created per binding row
    * (reference create_executor.rs:44-177; id allocation mirrors the
    * per-label counter, rocksdb_store.rs:302-304, via max-locid + row_number).
    */
  private def compileCreate(scope: Option[Scope], cc: CreateClause): Scope = {
    import graft.model.Graphid
    val sc = scope.getOrElse(emptyScope)

    def labidOf(label: String): Int =
      GraphStore.Lab.byId.find(_._2 == label).map(_._1)
        .getOrElse {
          val id = math.abs(label.hashCode) % 60000 + 100
          // ids are embedded in rows, so the mapping must be stable — a
          // dictionary hash collision with ANY other live label would
          // conflate two labels' id spaces; fail loudly instead
          val clash = (store.vertexTables.keySet ++ store.edgeTables.keySet)
            .find(l => l != label && !GraphStore.Lab.byId.values.exists(_ == l) &&
              math.abs(l.hashCode) % 60000 + 100 == id)
          clash.foreach(c => sys.error(
            s"label dictionary collision: '$label' and '$c' both map to labid $id; " +
              "rename one label"))
          id
        }

    def maxLocid(tables: Map[String, DataFrame], label: String): Long =
      tables.get(label) match {
        case Some(df) =>
          val r = df.agg(max(Graphid.locidCol(col("id")))).collect()(0)
          if (r.isNullAt(0)) 0L else r.getLong(0)
        case None => 0L
      }

    // collect literal nodes created in this clause (var -> (label, props))
    val createdNodes = scala.collection.mutable.LinkedHashMap[String, (String, Seq[(String, Expr)])]()
    cc.patterns.foreach { p =>
      (p.start +: p.hops.map(_._2)).foreach { np =>
        val v = np.variable.getOrElse(fresh("cn"))
        val bound = sc.vars.contains(v)
        if (!bound && !createdNodes.contains(v)) {
          require(np.labels.size == 1, s"CREATE node needs exactly one label: $np")
          createdNodes(v) = (np.labels.head, np.props)
        }
      }
    }

    val compiler = ec(sc)
    // assign ids to new literal nodes. A standalone CREATE (unit scope)
    // takes the single-row literal-id path: one node per variable, with an
    // explicit integer `id` property overriding counter allocation — the
    // Cypher-script export (GraphIO.exportCypher) writes one so replay is
    // id-exact and its `id(a) = N` edge bindings resolve. A CREATE under a
    // non-unit scope (after MATCH/UNWIND, or inside FOREACH) creates ONE
    // NODE PER SCOPE ROW — openCypher cardinality — with ids allocated by
    // per-partition sequence (the edge path's allocator) and props
    // compiled against the scope row, so they may reference matched
    // variables or the FOREACH loop variable.
    var vtabs = store.vertexTables
    val scopeIsUnit = sc.df.columns.sameElements(Array("__unit"))
    // scope cardinality, needed once per multi-row statement to advance
    // the id counter between same-label creates; lazy so the single-row
    // path never runs the count
    lazy val scopeRows = sc.df.count()
    var baseDf = sc.df
    // Per-row allocation reads baseDf many times — the vertex-table row,
    // every edge-endpoint select, and each later store read recompute the
    // plan independently. zipWithIndex is only deterministic for a pinned
    // partition order; a shuffle in the scope lineage (MATCH ... CREATE,
    // MERGE's distinct createScope) may reorder rows between
    // recomputations and silently rebind id↔row pairings (edges to wrong
    // endpoints, drifting id(n)). Sequence ONCE and localCheckpoint so
    // every consumer reads a single materialized id assignment; created
    // vertices reuse the shared __seq column with per-label offsets.
    val perRowWork = !scopeIsUnit &&
      (createdNodes.nonEmpty || cc.patterns.exists(_.hops.nonEmpty))
    if (perRowWork) {
      baseDf = graft.store.Ids.withSequence(baseDf, "__seq").localCheckpoint()
      createdCheckpointIds ++= graft.util.Checkpoints.idsOf(baseDf)
    }
    val nodeIds = scala.collection.mutable.Map[String, Long]()
    val perRowIds = scala.collection.mutable.Set[String]()
    val counters = scala.collection.mutable.Map[String, Long]()
    // labels whose counter has consulted the table's max locid; explicit-id
    // creates skip priming (a pure script replay never runs the collect),
    // but a mixed statement still allocates clear of both worlds
    val primed = scala.collection.mutable.Set[String]()
    createdNodes.foreach { case (v, (label, props)) =>
      val (idProp, rest) = props.partition(_._1 == "id")
      // a CREATE into a schemaless (JSON-imported) label must fold its
      // props into the properties JSON string, not union typed columns
      // beside it — a mixed table would split property reads by row
      // origin (typed column null for imported rows, JSON key null for
      // created rows)
      val schemaless = vtabs.get(label)
        .exists(_.columns.toSet == Set("id", "properties"))
      def propsJson = rest match {
        case Seq() => lit("{}")
        // a lone `properties` prop IS the JSON blob (the
        // exportCypher replay shape) — wrapping it would nest one
        // level deeper per statement
        case Seq(("properties", e)) => compiler.compile(e)
        case _ => to_json(struct(rest.sortBy(_._1).map { case (k, e) =>
          compiler.compile(e).as(k) }.toIndexedSeq: _*))
      }
      val row: DataFrame = if (scopeIsUnit) {
        val id = idProp.headOption.map(_._2) match {
          case Some(IntLit(value)) =>
            // keep later same-statement allocations clear of the explicit id
            counters(label) = math.max(
              counters.getOrElse(label, 0L), Graphid.unpack(value)._2)
            value
          case Some(other) =>
            sys.error(s"explicit CREATE id must be an integer literal, got $other")
          case None =>
            if (!primed(label)) {
              counters(label) = math.max(
                counters.getOrElse(label, 0L), maxLocid(vtabs, label))
              primed += label
            }
            val next = counters(label) + 1
            counters(label) = next
            Graphid.pack(labidOf(label), next)
        }
        nodeIds(v) = id
        if (schemaless)
          spark.range(1).select(lit(id).as("id"), propsJson.as("properties"))
        else spark.range(1).select(
          (lit(id).as("id") +: rest.map { case (k, e) => compiler.compile(e).as(k) }).toIndexedSeq: _*)
      } else {
        require(idProp.isEmpty,
          "explicit CREATE id needs a standalone single-row statement (multi-row CREATE would stamp one id on every row)")
        if (!primed(label)) {
          counters(label) = math.max(
            counters.getOrElse(label, 0L), maxLocid(vtabs, label))
          primed += label
        }
        val start = counters(label)
        counters(label) = start + scopeRows
        val vidCol = Scope.colName(v, "id")
        baseDf = baseDf
          .withColumn(vidCol, Graphid.packCol(labidOf(label), lit(start) + col("__seq")))
        perRowIds += v
        if (schemaless)
          baseDf.select(col(vidCol).as("id"), propsJson.as("properties"))
        else baseDf.select(
          (col(vidCol).as("id") +: rest.map { case (k, e) => compiler.compile(e).as(k) }).toIndexedSeq: _*)
      }
      vtabs = vtabs.get(label) match {
        case Some(t) => vtabs + (label -> t.unionByName(row, allowMissingColumns = true))
        case None => vtabs + (label -> row)
      }
    }

    // edges: endpoints are either freshly created or bound scope vars
    var etabs = store.edgeTables
    cc.patterns.filter(_.hops.nonEmpty).foreach { p =>
      var prevVar = p.start.variable.getOrElse(sys.error("CREATE pattern needs node variables"))
      p.hops.foreach { case (rel, node) =>
        val nv = node.variable.getOrElse(sys.error("CREATE pattern needs node variables"))
        require(rel.types.size == 1, s"CREATE relationship needs exactly one type")
        require(rel.dir != Dir.Both, "CREATE relationship cannot be undirected (reference create_executor.rs:80-85)")
        val label = rel.types.head
        val (fromV, toV) = if (rel.dir == Dir.In) (nv, prevVar) else (prevVar, nv)
        def endpoint(v: String): Column =
          if (nodeIds.contains(v)) lit(nodeIds(v))
          // per-row created node: its allocated id rides baseDf as a column
          else if (perRowIds.contains(v)) col(Scope.colName(v, "id"))
          else if (sc.vars.contains(v)) col(Scope.colName(v, "id"))
          else sys.error(s"CREATE edge endpoint not bound: $v")
        val base = if (nodeIds.contains(fromV) && nodeIds.contains(toV))
          spark.range(1).toDF() else baseDf
        // explicit integer `id` property (script replay, GraphIO
        // .exportCypher) overrides allocation, like the vertex path
        val (eIdProp, eRest) = rel.props.partition(_._1 == "id")
        val rows = eIdProp.headOption.map(_._2) match {
          case Some(IntLit(value)) =>
            // explicit-id CREATE is single-row by construction (script
            // replay binds endpoints by unique vertex id); a multi-row
            // match would stamp the same id on every created edge — fail
            // inside the plan instead of silently duplicating edge ids
            graft.store.Ids.withSequence(
              base.select(
                (endpoint(fromV).as("src") +: endpoint(toV).as("dst") +:
                  eRest.map { case (k, e) => compiler.compile(e).as(k) }).toIndexedSeq: _*),
              "__seq")
              .withColumn("id", when(col("__seq") > 1,
                expr("raise_error('explicit edge id CREATE matched more than one row')")
                  .cast("long"))
                .otherwise(lit(value)))
          case Some(other) =>
            sys.error(s"explicit CREATE id must be an integer literal, got $other")
          case None =>
            val start = maxLocid(etabs, label)
            // contiguous local ids via per-partition offsets
            // (Ids.withSequence) — a global unpartitioned window would
            // serialize every created edge through one task
            graft.store.Ids.withSequence(
              base.select(
                (endpoint(fromV).as("src") +: endpoint(toV).as("dst") +:
                  eRest.map { case (k, e) => compiler.compile(e).as(k) }).toIndexedSeq: _*),
              "__seq")
              .withColumn("id", Graphid.packCol(labidOf(label), lit(start) + col("__seq")))
        }
        // same schemaless fold as the vertex path: an edge CREATE into a
        // JSON-imported edge table keeps the uniform properties shape
        val eSchemaless = etabs.get(label)
          .exists(_.columns.toSet == Set("id", "src", "dst", "properties"))
        val ordered =
          if (eSchemaless) {
            val propsJson = eRest match {
              case Seq() => lit("{}")
              // lone `properties` prop = the JSON blob (replay shape)
              case Seq(("properties", _)) => col("properties")
              case _ => to_json(struct(eRest.sortBy(_._1).map { case (k, _) =>
                col(k) }.toIndexedSeq: _*))
            }
            rows.select(col("id"), col("src"), col("dst"),
              propsJson.as("properties"))
          } else rows.select(
            (col("id") +: col("src") +: col("dst") +:
              eRest.map { case (k, _) => col(k) }).toIndexedSeq: _*)
        etabs = etabs.get(label) match {
          case Some(t) => etabs + (label -> t.unionByName(ordered, allowMissingColumns = true))
          case None => etabs + (label -> ordered)
        }
        prevVar = nv
      }
    }
    store = new GraphStore(vtabs, etabs)
    sc
  }

  /** MATCH p = shortestPath((a)-[:T*..k]->(b)) — the proven single-pair
    * shortest-path operator (Traversals.shortestPath, g12-oracle-checked)
    * surfaced through the query language, with `[*..k]`'s upper bound as
    * the hop-cap cost knob (the reference exposes the same algorithm only
    * as an API call with a max_hops argument, shortest_path.rs:20-35).
    * Endpoints must resolve to exactly ONE vertex each (bound earlier, or
    * pinned by inline props) — the single-pair contract of the underlying
    * operator; a multi-source surface would be a different algorithm
    * (bfsFrom), not a silent generalization. Unreachable within the cap
    * → zero rows (MATCH semantics; pathsBetween keeps the erroring
    * surface). `p` binds the vertex-id list src..dst; `size(p) - 1` is
    * the hop count. Edge-type and inline-prop constraints filter the edge
    * relation before the BFS, like the var-length path.
    */
  private def compileShortestPath(scope: Option[Scope],
      spc: ShortestPathClause): Scope = {
    val pat = spc.pattern
    require(pat.hops.size == 1, "shortestPath takes a single relationship pattern")
    val (rel, endNp) = pat.hops.head
    require(rel.variable.isEmpty,
      "shortestPath: bind the path variable (p = ...) instead of the relationship")
    val dir = Planner.direction(rel.dir)
    // [*..k] caps the BFS depth; a plain relationship means one hop; open
    // ranges take the vle default cap (parser default, reference vle.rs:68).
    // A lower bound > 1 contradicts "shortest" (the shortest path may be
    // shorter than min, and silently returning it would not match the
    // written pattern) — rejected loudly, as Neo4j does; use a var-length
    // MATCH for min-hop constraints.
    val maxHops = rel.varLength.map(_._2).getOrElse(1)
    rel.varLength.map(_._1).foreach { min =>
      require(min <= 1,
        s"shortestPath: lower bound must be 0 or 1, got $min — use MATCH (a)-[*$min..]->(b) for min-hop patterns")
    }
    // {weight: 'prop'} is a KNOB, not a filter: the string names the edge
    // property holding the cost and switches the search to weighted
    // min-cost (PregelSssp, g16-proven) instead of BFS. Neither openCypher
    // nor the reference has a weighted shortestPath surface, so the key is
    // free to claim; edges missing the property cost 1.0 (documented —
    // exactly the g16 PLACED/CONTAINS construction). All other props
    // filter the edge relation as usual.
    val (weightProps, filterProps) = rel.props.partition(_._1 == "weight")
    val weightKey: Option[String] = weightProps.headOption.map {
      case (_, StrLit(p)) => p
      case _ => throw new IllegalArgumentException(
        "shortestPath: {weight: ...} must be a string literal naming the edge cost property")
    }
    var eb = edgeUnion(rel.types)
    filterProps.foreach { case (k, ex) =>
      val target: Column =
        if (eb.columns.contains(k)) eb(k)
        else if (eb.columns.contains("properties"))
          get_json_object(col("properties"), "$." + k)
        else lit(null)
      eb = eb.where(target === ec(emptyScope).compile(ex))
    }
    def endpoint(np: NodePat): DataFrame = {
      val boundV = np.variable.filter(v => scope.exists(_.vars.contains(v)))
      val (df, idCol) = boundV match {
        case Some(v) =>
          // constraints on an already-bound endpoint re-check label/props
          (applyNodeConstraints(scope.get, v, np).df, Scope.colName(v, "id"))
        case None =>
          val v = np.variable.getOrElse(fresh("sp"))
          (compilePath(None, PathPat(np.copy(variable = Some(v)), Nil)).df,
            Scope.colName(v, "id"))
      }
      df.select(col(idCol).as("id"))
    }
    val aV = pat.start.variable.getOrElse(fresh("n"))
    val bV = endNp.variable.getOrElse(fresh("n"))
    // endpoints bound by no earlier clause and anchored on a key are read,
    // rows and all, from the session's lookup indexes when they exist or
    // may be built now; otherwise both resolve in one job
    def boundBefore(np: NodePat) = np.variable.exists(v => scope.exists(_.vars.contains(v)))
    val looked =
      if (boundBefore(pat.start) || boundBefore(endNp)) None
      else nodeLookups.flatMap(_.nodes(Seq(pat.start -> aV, endNp -> bV)))
    boundOnDriver ||= looked.isDefined
    val Seq(srcId, dstId) =
      Seq(pat.start, endNp).zip(looked.fold(
        Traversals.distinctIds(Seq(endpoint(pat.start), endpoint(endNp)), 2))(_.map(_._1)))
        .map { case (np, ids) =>
          require(ids.length == 1,
            s"shortestPath endpoint must resolve to exactly one vertex, got ${ids.length}: $np")
          ids(0)
        }
    val raw = weightKey match {
      case None if spc.all =>
        Traversals.allShortestPaths(
          eb.select(col("src"), col("dst")), srcId, dstId, maxHops, dir)
      case Some(_) if spc.all =>
        throw new IllegalArgumentException(
          "allShortestPaths does not take a {weight: ...} knob — " +
            "minimum-cost path multiplicity is not defined here; use " +
            "shortestPath for the weighted single path")
      case None =>
        adjacencyFor(rel, dir)
          .flatMap(Traversals.shortestPathLocal(spark, _, srcId, dstId, maxHops))
          .getOrElse(Traversals.shortestPath(
            eb.select(col("src"), col("dst")), srcId, dstId, maxHops, dir))
      case Some(wk) =>
        val wcol: Column =
          if (eb.columns.contains(wk)) eb(wk).cast("double")
          else if (eb.columns.contains("properties"))
            get_json_object(col("properties"), "$." + wk).cast("double")
          else lit(null).cast("double")
        val we0 = eb.select(col("src"), col("dst"),
          coalesce(wcol, lit(1.0)).as("weight"))
        // orient per the pattern arrow (Direction.orient drops non-id
        // columns, so the weight rides an inline orient)
        val we = dir match {
          case Direction.Out => we0
          case Direction.In => we0.select(col("dst").as("src"),
            col("src").as("dst"), col("weight"))
          case Direction.Both => we0.unionByName(we0.select(
            col("dst").as("src"), col("src").as("dst"), col("weight")))
        }
        // [*..k] caps the Pregel supersteps = the max hop count considered
        PregelSssp.shortestPath(spark, we, srcId, dstId, maxHops)
    }
    val res = raw
      .select(col("start_id").as("__sp_s"), col("end_id").as("__sp_d"),
        col("path").as(spc.pathVar.getOrElse("__sp_path")))
    val base = scope.getOrElse(emptyScope)
    // 0-row result (unreachable) empties the scope — MATCH semantics
    var sc = base.copy(df = base.df.crossJoin(res))
    spc.pathVar.foreach { pv =>
      require(!base.vars.contains(pv), s"path variable reused: $pv")
      sc = sc.copy(vars = sc.vars + (pv -> VarInfo(VarKind.Value, None, Nil, path = true)),
        order = sc.order :+ pv)
    }
    def scan(end: Int) = looked.map(ns => (ns(end)._2, ns(end)._3))
    sc = bindTargetVar(sc, "__sp_s", pat.start, aV, scan(0))
    sc = bindTargetVar(sc, "__sp_d", endNp, bV, scan(1))
    sc.copy(df = sc.df.drop(
      Seq("__sp_s", "__sp_d") ++
        (if (spc.pathVar.isEmpty) Seq("__sp_path") else Nil): _*))
  }

  /** MERGE — match-or-create (openCypher; absent from the reference's
    * grammar, cypher.pest:1-160 — a reach extension, not a parity item).
    * Reduced to "create exactly the missing rows, then re-MATCH the
    * pattern": run-twice idempotency is structural (the second run finds
    * nothing missing and re-binds the same rows), and the re-match gives
    * created entities their bindings with the normal MATCH machinery
    * instead of a parallel binding path. Two forms, mirroring the C1
    * follow-with-dup-check workload (SocialGraph.follow):
    *  - node form `MERGE (n:L {props})`: n unbound. Standalone (unit
    *    scope) the decision is the single global match-or-create. Under a
    *    bound scope (r8) the decision is PER DISTINCT merge-key tuple —
    *    props may reference scope variables (`UNWIND rows AS r MERGE
    *    (n:L {k: r.k})`), one node is created per missing tuple, and the
    *    re-match binds per row; NULL merge values error like openCypher.
    *  - relationship form `MERGE (a)-[r:T {props}]->(b)`: a and b bound
    *    by earlier clauses; per DISTINCT (a, b, props) key tuple the edge
    *    is created iff no T-edge with those prop values connects the pair
    *    (r8: prop values may reference scope variables, evaluated per
    *    row like the node form).
    * The existence probes are driver-side actions — acceptable on the
    * mutation path (CREATE's maxLocid does the same); the per-tuple
    * existence test itself is one distributed anti-join, not a loop.
    * ON CREATE SET / ON MATCH SET: both forms split the re-matched rows
    * by semi/anti-joining the pre-create `missing` snapshot (node form
    * per key tuple, relationship form per endpoint pair).
    */
  private def compileMerge(scope: Option[Scope], mc: MergeClause): Scope = {
    val pat = mc.pattern
    def bound(v: String): Boolean = scope.exists(_.vars.contains(v))
    if (pat.hops.isEmpty) {
      val np = pat.start
      require(np.variable.forall(v => !bound(v)),
        "MERGE node form needs an unbound variable")
      require(np.labels.size == 1, s"MERGE node needs exactly one label: $np")
      val label = np.labels.head
      val scopeIsUnit = scope.forall(_.df.columns.sameElements(Array("__unit")))
      if (scopeIsUnit) {
        // standalone MERGE: ONE input row, so match-or-create is a single
        // global decision and the branch SETs fire off that same boolean
        val exists = store.vertexTables.contains(label) &&
          !compilePath(None, pat).df.isEmpty
        if (!exists) compileCreate(None, CreateClause(Seq(pat)))
        val matched = compileMatch(scope,
          MatchClause(Seq(pat), optional = false, where = None))
        (if (exists) mc.onMatch else mc.onCreate)
          .foreach(s => compileSet(matched, s))
        matched
      } else {
        // bound scope: openCypher decides match-or-create PER INPUT ROW,
        // and props may reference scope variables (`UNWIND rows AS r
        // MERGE (n:L {k: r.k})` — the upsert-ETL idiom). Set-based
        // reduction, mirroring the relationship form: evaluate the
        // merge-key tuple per row, DISTINCT it, anti-join against the
        // label's nodes to find the missing tuples, create ONE node per
        // missing tuple, then re-MATCH the pattern (inline props compile
        // against the scope, so the re-match IS the per-row binding
        // join). ON CREATE / ON MATCH split per key tuple by
        // semi/anti-joining the pre-create `missing` snapshot. Duplicate
        // scope rows of a created tuple all take the ON CREATE branch
        // (openCypher's row-at-a-time replay would fire ON MATCH for the
        // later duplicates, but set-based SET collapses that replay
        // anyway — same divergence as the relationship form, documented
        // in SURVEY.md §2.8).
        val sc0 = scope.get
        // merge keys evaluate per row; a NULL merge value is an error
        // (openCypher: "cannot merge using null property value")
        val keyNames =
          if (np.props.isEmpty) Seq("__mk") else np.props.map("__mk_" + _._1)
        def keyCols(c: ExprCompiler): Seq[(String, Column)] =
          if (np.props.isEmpty) Seq("__mk" -> lit(1L))
          else np.props.map { case (k, e) =>
            val v = c.compile(e)
            s"__mk_$k" -> when(v.isNull, raise_error(
              lit(s"cannot MERGE using null property value for '$k'")))
              .otherwise(v)
          }
        val keys = sc0.df
          .select(keyCols(ec(sc0)).map { case (n, c) => c.as(n) }: _*)
          .distinct()
        val missing = store.vertexTables.get(label) match {
          case Some(t) =>
            // per key: typed column, or schemaless JSON lookup (same
            // resolution as the var-length edge filter), cast to the key
            // expression's type so the anti-join compares exactly
            val existing =
              if (np.props.isEmpty) t.limit(1).select(lit(1L).as("__mk"))
              else t.select(keyNames.zip(np.props).map { case (n, (k, _)) =>
                val raw: Column =
                  if (t.columns.contains(k)) t(k)
                  else if (t.columns.contains("properties"))
                    get_json_object(col("properties"), "$." + k)
                  else lit(null)
                raw.cast(keys.schema(n).dataType).as(n)
              }: _*)
            keys.join(existing, keyNames, "left_anti")
          case None => keys
        }
        if (!missing.isEmpty) {
          // hand compileCreate a scope of ONLY the missing key tuples; it
          // creates one node per tuple through its normal per-row path
          // (pinned sequence allocation, schemaless fold all shared)
          val createScope = Scope(missing,
            keyNames.map(_ -> VarInfo(VarKind.Value, None, Nil)).toMap,
            keyNames)
          val createProps =
            np.props.map { case (k, _) => k -> (Variable(s"__mk_$k"): Expr) }
          compileCreate(Some(createScope),
            CreateClause(Seq(PathPat(np.copy(props = createProps), Nil))))
        }
        val matched = compileMatch(scope,
          MatchClause(Seq(pat), optional = false, where = None))
        if (mc.onCreate.nonEmpty || mc.onMatch.nonEmpty) {
          // `missing` references the PRE-create store snapshot (DataFrames
          // are immutable): semi = rows whose tuple this merge created,
          // anti = rows whose tuple pre-existed
          def branch(joinType: String): Scope = {
            val withKeys = keyCols(ec(matched)).foldLeft(matched.df) {
              case (d, (n, c)) => d.withColumn(n, c)
            }
            matched.copy(
              df = withKeys.join(missing, keyNames, joinType).drop(keyNames: _*))
          }
          mc.onCreate.foreach(s => compileSet(branch("left_semi"), s))
          mc.onMatch.foreach(s => compileSet(branch("left_anti"), s))
        }
        matched
      }
    } else {
      val sc0 = scope.getOrElse(
        sys.error("MERGE relationship form requires bound endpoints"))
      require(pat.hops.size == 1, "MERGE supports a single relationship hop")
      val (rel, endNp) = pat.hops.head
      val aV = pat.start.variable.getOrElse(
        sys.error("MERGE relationship form needs node variables"))
      val bV = endNp.variable.getOrElse(
        sys.error("MERGE relationship form needs node variables"))
      require(bound(aV) && bound(bV),
        "MERGE relationship form requires both endpoints bound by an earlier MATCH")
      require(pat.start.labels.isEmpty && pat.start.props.isEmpty &&
        endNp.labels.isEmpty && endNp.props.isEmpty,
        "MERGE bound endpoints take no inline labels/props")
      require(rel.types.size == 1, "MERGE relationship needs exactly one type")
      require(rel.dir != Dir.Both, "MERGE relationship cannot be undirected")
      require(rel.varLength.isEmpty, "MERGE relationship cannot be var-length")
      val label = rel.types.head
      val (fromV, toV) = if (rel.dir == Dir.In) (bV, aV) else (aV, bV)
      // merge key = the endpoint pair PLUS the edge-prop tuple, evaluated
      // per row like the node form (r8: props may reference scope
      // variables — `MATCH ... MERGE (a)-[r:T {w: row.w}]->(b)`); a NULL
      // merge value errors like openCypher
      val propNames = rel.props.map("__mp_" + _._1)
      def propCols(c: ExprCompiler): Seq[(String, Column)] =
        rel.props.map { case (k, e) =>
          val v = c.compile(e)
          s"__mp_$k" -> when(v.isNull, raise_error(
            lit(s"cannot MERGE using null property value for '$k'")))
            .otherwise(v)
        }
      val pairs = sc0.df.select(
        col(Scope.colName(fromV, "id")).as("__ms") +:
          col(Scope.colName(toV, "id")).as("__md") +:
          propCols(ec(sc0)).map { case (n, c) => c.as(n) }: _*).distinct()
      val keyNames = Seq("__ms", "__md") ++ propNames
      val missing = store.edgeTables.get(label) match {
        case Some(t) =>
          // per prop key: typed column or schemaless JSON lookup (same
          // resolution as the var-length path), cast to the key
          // expression's type so the anti-join compares exactly
          val lookups = propNames.zip(rel.props).map { case (n, (k, _)) =>
            val raw: Column =
              if (t.columns.contains(k)) t(k)
              else if (t.columns.contains("properties"))
                get_json_object(col("properties"), "$." + k)
              else lit(null)
            raw.cast(pairs.schema(n).dataType).as(n)
          }
          pairs.join(
            t.select(col("src").as("__ms") +: col("dst").as("__md") +: lookups: _*),
            keyNames, "left_anti")
        case None => pairs
      }
      if (!missing.isEmpty) {
        // hand compileCreate a scope of ONLY the missing key tuples: it
        // creates one edge per tuple through its normal bound-endpoint
        // path (id allocation, schemaless fold, Both-dir guard all
        // shared); prop values ride the scope as value columns
        val createScope = Scope(
          missing.select(
            col("__ms").as(Scope.colName(fromV, "id")) +:
              col("__md").as(Scope.colName(toV, "id")) +:
              propNames.map(col): _*),
          Map(fromV -> VarInfo(VarKind.Node, None, Nil),
            toV -> VarInfo(VarKind.Node, None, Nil)) ++
            propNames.map(_ -> VarInfo(VarKind.Value, None, Nil)),
          Seq(fromV, toV) ++ propNames)
        val createPat = PathPat(pat.start, Seq((rel.copy(props =
          rel.props.map { case (k, _) => k -> (Variable(s"__mp_$k"): Expr) }),
          endNp)))
        compileCreate(Some(createScope), CreateClause(Seq(createPat)))
      }
      val matched = compileMatch(scope,
        MatchClause(Seq(pat), optional = false, where = None))
      // ON CREATE / ON MATCH split per key tuple: `missing` still
      // references the PRE-create store snapshot (DataFrames are
      // immutable), so a semi-join restricts the re-matched rows to the
      // tuples this merge created and an anti-join to the found ones
      def pairScope(joinType: String): Scope = {
        val withKeys = propCols(ec(matched)).foldLeft(
          matched.df
            .withColumn("__ms", col(Scope.colName(fromV, "id")))
            .withColumn("__md", col(Scope.colName(toV, "id")))) {
          case (d, (n, c)) => d.withColumn(n, c)
        }
        matched.copy(df = withKeys.join(missing, keyNames, joinType)
          .drop(keyNames: _*))
      }
      mc.onCreate.foreach(s => compileSet(pairScope("left_semi"), s))
      mc.onMatch.foreach(s => compileSet(pairScope("left_anti"), s))
      matched
    }
  }

  /** DELETE / DETACH DELETE (reference delete_executor.rs:42-129): victims
    * are anti-joined out of their tables; a plain DELETE on a vertex that
    * still has edges errors, matching the reference's guard (:90-107).
    */
  private def compileDelete(scope: Scope, dc: DeleteClause): Unit = {
    dc.vars.foreach { v =>
      val vi = scope.vars.getOrElse(v, sys.error(s"DELETE of unbound variable $v"))
      val victims = scope.df.select(col(Scope.colName(v, "id")).as("__vid")).distinct()
      vi.kind match {
        case VarKind.Edge =>
          store = new GraphStore(store.vertexTables,
            store.edgeTables.map { case (l, t) =>
              l -> t.join(victims, t("id") === col("__vid"), "left_anti")
            })
        case VarKind.Node =>
          val touching = store.edgeTables.values.map(t =>
            t.join(victims, t("src") === col("__vid") || t("dst") === col("__vid"), "left_semi")
              .select("id"))
            .reduce((a, b) => a.unionByName(b))
          if (!dc.detach && !touching.isEmpty)
            sys.error(s"cannot DELETE vertex with edges; use DETACH DELETE (reference rocksdb_store.rs:568-583)")
          val etabs =
            if (dc.detach) store.edgeTables.map { case (l, t) =>
              l -> t.join(victims, t("src") === col("__vid") || t("dst") === col("__vid"), "left_anti")
            } else store.edgeTables
          val vtabs = store.vertexTables.map { case (l, t) =>
            l -> t.join(victims, t("id") === col("__vid"), "left_anti")
          }
          store = new GraphStore(vtabs, etabs)
        case VarKind.Value => sys.error(s"cannot DELETE value $v")
      }
    }
  }

  /** JSON-path write: set `path` inside a JSON-object string to the value
    * carried (type-preserved) in `valJson` as {"v": ...}. Schemaless tables
    * store properties as a JSON string like the reference
    * (set_executor.rs:157-202 writes through JSON paths); this is the
    * mutation-path analogue — a UDF is acceptable off the hot read path.
    */
  private def jsonSetUdf(path: Seq[String]) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    udf { (json: String, valJson: String) =>
      val v: JValue =
        if (valJson == null) JNull
        else JsonMethods.parse(valJson) \ "v" match { case JNothing => JNull; case x => x }
      def set(j: JValue, p: List[String]): JValue = p match {
        case Nil => v
        case h :: t =>
          val fields = j match { case JObject(fs) => fs; case _ => Nil }
          val cur = fields.find(_._1 == h).map(_._2).getOrElse(JObject(Nil))
          JObject(fields.filterNot(_._1 == h) :+ (h -> set(cur, t)))
      }
      val root = if (json == null || json.isEmpty) JObject(Nil)
        else JsonMethods.parse(json)
      JsonMethods.compact(JsonMethods.render(set(root, path.toList)))
    }
  }

  /** SET n.prop = expr (reference set_executor.rs:29-202): per-entity
    * grouped read-modify-write becomes a join + conditional column rewrite.
    * Nested paths write through struct columns via withField; schemaless
    * tables (JSON-string `properties`, e.g. GraphIO imports) get a
    * JSON-path write for both flat and nested SET.
    */
  private def compileSet(scope: Scope, sclause: SetClause): Unit = {
    val compiler = ec(scope)
    sclause.items.foreach { item =>
      val vi = scope.vars.getOrElse(item.variable, sys.error(s"SET of unbound ${item.variable}"))
      require(item.path.nonEmpty, "SET needs a property path")
      val prop = item.path.head
      val idCol = Scope.colName(item.variable, "id")
      // one update value per entity (reference groups updates per entity).
      // With multiple binding rows carrying DIFFERENT values the pick is
      // arbitrary in both engines (the reference applies them in storage
      // iteration order); `first` here mirrors that — callers needing a
      // deterministic multi-row SET must make the value row-invariant.
      val updates = scope.df
        .select(col(idCol).as("__uid"), compiler.compile(item.value).as("__uval"))
        .groupBy("__uid").agg(first("__uval").as("__uval"))
        .withColumn("__hit", lit(true))
      def rewrite(t: DataFrame): DataFrame = {
        val joined = t.join(updates, t("id") === col("__uid"), "left")
        // {"v": <val>} round-trip preserves the value's JSON type
        def valJson = to_json(struct(col("__uval").as("v")),
          Map("ignoreNullFields" -> "false"))
        val (targetCol, newVal): (String, Column) = t.schema.find(_.name == prop) match {
          case Some(f) if item.path.size == 1 => (prop, col("__uval"))
          case Some(f) if f.dataType.isInstanceOf[StructType] =>
            (prop, col(prop).withField(item.path.tail.mkString("."), col("__uval")))
          case Some(f) if f.dataType == org.apache.spark.sql.types.StringType =>
            // prop column IS a JSON string: write the remaining path into it
            (prop, jsonSetUdf(item.path.tail)(t(prop), valJson))
          case Some(_) =>
            sys.error(s"nested SET needs a struct or JSON column: ${item.path.mkString(".")}")
          case None if t.columns.contains("properties") =>
            // schemaless table: the whole path goes into the properties JSON
            ("properties", jsonSetUdf(item.path)(t("properties"), valJson))
          case None if item.path.size == 1 => (prop, col("__uval"))
          case None =>
            sys.error(s"nested SET on missing column: ${item.path.mkString(".")}")
        }
        val updatedCol = when(col("__hit"), newVal)
          .otherwise(if (t.columns.contains(targetCol)) t(targetCol) else lit(null))
        joined.withColumn(targetCol, updatedCol).drop("__uid", "__uval", "__hit")
      }
      def applyTo(tables: Map[String, DataFrame]): Map[String, DataFrame] =
        vi.label match {
          case Some(l) if tables.contains(l) => tables + (l -> rewrite(tables(l)))
          case Some(_) => tables
          case None => tables.map { case (l, t) => l -> rewrite(t) }
        }
      store = vi.kind match {
        case VarKind.Node => new GraphStore(applyTo(store.vertexTables), store.edgeTables)
        case VarKind.Edge => new GraphStore(store.vertexTables, applyTo(store.edgeTables))
        case VarKind.Value => sys.error(s"cannot SET on value ${item.variable}")
      }
    }
  }

  /** FOREACH (x IN list | updates): the loop body runs against the outer
    * scope row-joined with one row per list element (`explode`, so a NULL
    * or empty list contributes zero iterations — openCypher semantics);
    * the outer scope's cardinality and bindings are untouched. `nodes(p)`
    * as the list marks the loop variable as a node binding over the
    * path's vertex-id sequence, which is what lets SET/REMOVE/DELETE
    * inside the body address stored vertices (a path variable IS its id
    * sequence in this engine).
    */
  private def compileForeach(scope: Scope, fc: ForeachClause): Unit = {
    val (listExpr, kind) = fc.list match {
      case FnCall(n, Seq(e), _) if n.equalsIgnoreCase("nodes") => (e, VarKind.Node)
      case other => (other, VarKind.Value)
    }
    val exploded = ec(scope).compile(listExpr)
    val loopCol =
      if (kind == VarKind.Node) Scope.colName(fc.variable, "id") else fc.variable
    val inner0 = Scope(scope.df.withColumn(loopCol, explode(exploded)),
      scope.vars + (fc.variable -> VarInfo(kind, None, Nil)),
      scope.order :+ fc.variable)
    var inner: Option[Scope] = Some(inner0)
    fc.updates.foreach {
      case c: CreateClause => inner = Some(compileCreate(inner, c))
      case m: MergeClause => inner = Some(compileMerge(inner, m))
      case s: SetClause => compileSet(inner.get, s)
      case d: DeleteClause => compileDelete(inner.get, d)
      case r: RemoveClause => compileRemove(inner.get, r)
      case f: ForeachClause => compileForeach(inner.get, f)
      case other => sys.error(s"FOREACH body cannot hold ${other.getClass.getSimpleName}")
    }
  }

  /** JSON-path delete: the removal analogue of jsonSetUdf — drops the key
    * at `path` from a JSON-object string; intermediate non-objects and
    * missing keys leave the document unchanged (REMOVE of an absent
    * property is a no-op, like openCypher).
    */
  private def jsonRemoveUdf(path: Seq[String]) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    udf { (json: String) =>
      if (json == null || json.isEmpty) json
      else {
        def rm(j: JValue, p: List[String]): JValue = (j, p) match {
          case (JObject(fs), h :: Nil) => JObject(fs.filterNot(_._1 == h))
          case (JObject(fs), h :: t) =>
            JObject(fs.map { case (k, v) => if (k == h) (k, rm(v, t)) else (k, v) })
          case (other, _) => other
        }
        JsonMethods.compact(JsonMethods.render(
          rm(JsonMethods.parse(json), path.toList)))
      }
    }
  }

  /** REMOVE n.prop: same join-then-conditional-rewrite shape as SET, but
    * the new value is a deletion — typed columns go NULL for the victim
    * rows, struct columns drop the nested field, schemaless JSON
    * properties drop the key entirely (so a later read sees ABSENT, not
    * null-valued). A property that exists nowhere on the variable's
    * tables is a no-op, matching openCypher.
    */
  private def compileRemove(scope: Scope, rc: RemoveClause): Unit = {
    rc.items.foreach { case (v, path) =>
      val vi = scope.vars.getOrElse(v, sys.error(s"REMOVE of unbound variable $v"))
      val prop = path.head
      val idCol = Scope.colName(v, "id")
      val victims = scope.df.select(col(idCol).as("__rid")).distinct()
        .withColumn("__hit", lit(true))
      def rewrite(t: DataFrame): DataFrame = {
        val target: Option[(String, Column)] = t.schema.find(_.name == prop) match {
          case Some(f) if path.size == 1 => Some((prop, lit(null).cast(f.dataType)))
          case Some(f) if f.dataType.isInstanceOf[StructType] =>
            Some((prop, col(prop).dropFields(path.tail.mkString("."))))
          case Some(f) if f.dataType == org.apache.spark.sql.types.StringType =>
            // prop column IS a JSON string: delete the remaining path in it
            Some((prop, jsonRemoveUdf(path.tail)(t(prop))))
          case Some(_) =>
            sys.error(s"nested REMOVE needs a struct or JSON column: ${path.mkString(".")}")
          case None if t.columns.contains("properties") =>
            Some(("properties", jsonRemoveUdf(path)(t("properties"))))
          case None => None // property absent from this table: no-op
        }
        target match {
          case None => t
          case Some((targetCol, newVal)) =>
            val joined = t.join(victims, t("id") === col("__rid"), "left")
            val updatedCol = when(col("__hit"), newVal).otherwise(t(targetCol))
            joined.withColumn(targetCol, updatedCol).drop("__rid", "__hit")
        }
      }
      def applyTo(tables: Map[String, DataFrame]): Map[String, DataFrame] =
        vi.label match {
          case Some(l) if tables.contains(l) => tables + (l -> rewrite(tables(l)))
          case Some(_) => tables
          case None => tables.map { case (l, t) => l -> rewrite(t) }
        }
      store = vi.kind match {
        case VarKind.Node => new GraphStore(applyTo(store.vertexTables), store.edgeTables)
        case VarKind.Edge => new GraphStore(store.vertexTables, applyTo(store.edgeTables))
        case VarKind.Value => sys.error(s"cannot REMOVE on value $v")
      }
    }
  }
}

object Planner {

  /** Called before a statement reads a label table of `kind`, with the
    * store it would read from; returns the store to read instead.
    */
  type ReadHook = (GraphStore, VarKind, String) => GraphStore

  val DirectReads: ReadHook = (store, _, _) => store

  /** Called when a statement walks a var-length or shortestPath pattern
    * over one edge table, with that table as the statement reads it (after
    * the ReadHook) and the direction of the walk; returns an adjacency
    * index over exactly that table, or None for the DataFrame loop.
    */
  type AdjacencyHook = (DataFrame, Direction) => Option[Adjacency]

  val NoAdjacency: AdjacencyHook = (_, _) => None

  /** Called before a read-only statement is answered by key lookups, once
    * for each index its MATCH clauses read: a label table as the statement
    * reads it, the column to look rows up by (`src`/`dst` for an edge
    * table, any keyable column of a vertex table) and whether a var-length
    * hop walks it. Returns how to get a keyed index over exactly that
    * table when one exists or may be built now (calling it builds), or
    * None for the DataFrame plan.
    */
  type LookupHook = (DataFrame, String, Boolean) => Option[() => KeyedIndex]

  val NoLookups: LookupHook = (_, _, _) => None

  /** Whether `q` has no write clause, in any part or subquery. */
  private[cypher] def readOnly(q: Query): Boolean =
    q.clauses.forall {
      case _: CreateClause | _: MergeClause | _: SetClause | _: DeleteClause |
          _: RemoveClause | _: ForeachClause => false
      case c: CallSubqueryClause => readOnly(c.inner)
      case _ => true
    } && q.union.forall { case (_, next) => readOnly(next) }

  /** A label scan's columns over a table's `columns`, in order, each with
    * the table column it reads (None: the label, a literal): the table's
    * columns, then `label`.
    */
  private[cypher] def labelled(columns: Seq[String]): Seq[(String, Option[String])] =
    columns.map(c => c -> Some(c).filter(_ != "label")) ++
      (if (columns.contains("label")) Nil else Seq("label" -> None))

  /** An edge scan's columns over a labelled edge relation's `columns`,
    * walked from `src` or, `reversed`, from `dst`; each with the relation
    * column it reads: `src` and `dst` swap, `__start`/`__end` keep the
    * stored orientation.
    */
  private[cypher] def oriented(columns: Seq[String], reversed: Boolean): Seq[(String, String)] = {
    def from(c: String) = c match {
      case "src" if reversed => "dst"
      case "dst" if reversed => "src"
      case other => other
    }
    columns.map(c => c -> from(c)) ++ Seq("__start" -> "src", "__end" -> "dst")
  }

  /** The properties of an entity variable bound by a scan with `columns`. */
  private[cypher] def scanProps(kind: VarKind, columns: Seq[String]): Seq[String] =
    columns.filterNot(c => c == "id" || (kind == VarKind.Edge && (c == "__start" || c == "__end")))

  /** The columns a var-length hop `ev` joins onto its scope, each with the
    * column of the walked pairs (start_id, end_id, path, epath) it reads:
    * the start and end ids, the relationship variable's edge list, and for
    * a path variable the vertex and edge lists.
    */
  private[cypher] def walkColumns(ev: String, relVar: Option[String],
      wantPath: Boolean): Seq[(String, String)] =
    Seq(s"${ev}__s" -> "start_id", s"${ev}__d" -> "end_id") ++ relVar.map(_ -> "epath") ++
      (if (wantPath) Seq(s"${ev}__vp" -> "path", s"${ev}__ep" -> "epath") else Nil)

  /** A path variable: its value is the vertex id list, its `rels` column
    * ([[pathRels]]) the edge id list.
    */
  private[cypher] val pathInfo: VarInfo = VarInfo(VarKind.Value, None, Seq("rels"), path = true)

  private[cypher] def pathRels(pv: String): String = Scope.colName(pv, "rels")

  /** Node that constrains nothing: no variable, labels, or props. Edges
    * always reference existing vertices (store integrity invariant, same as
    * the reference), so such nodes need no vertex-table join at all.
    */
  private[cypher] def anonFree(np: NodePat): Boolean =
    np.variable.isEmpty && np.labels.isEmpty && np.props.isEmpty

  private[cypher] def direction(d: Dir): Direction = d match {
    case Dir.Out => Direction.Out; case Dir.In => Direction.In; case Dir.Both => Direction.Both
  }

  /** The variables a pattern list names, in order of first mention. */
  private[cypher] def patternVars(pats: Seq[PathPat]): Seq[String] =
    pats.flatMap { p =>
      (p.start.variable.toSeq ++
        p.hops.flatMap { case (r, n) => r.variable.toSeq ++ n.variable.toSeq })
    }.distinct
}

/** User-facing session: parse → plan → run; mutations swap the store
  * atomically per statement (the Spark analogue of the reference's
  * per-statement transaction, SURVEY.md §2.7 M6). `begin()/commit()/
  * rollback()` add a multi-statement scope over the same swap chain
  * (reference transaction.rs:55-183 WriteBatch semantics): begin
  * snapshots the immutable store value, commit keeps the chain,
  * rollback restores the snapshot and frees exactly the checkpoint
  * blocks THIS session's statements persisted for store bookkeeping —
  * registered at each creation site (the planner's CREATE id-sequence
  * pin, compaction's new generation) and read off the owning Dataset
  * itself (Checkpoints.idsOf), never inferred by diffing the shared
  * context's persistent-RDD set. Blocks persisted by other sessions or
  * concurrent jobs can therefore NEVER be misattributed to the scope,
  * even when they persist while a statement is mid-flight (the r11
  * ADVICE footgun). Blocks a read-only CALL procedure pins for its
  * RESULT relation are deliberately not scope-owned: the caller may
  * still be consuming that result after rollback; they reclaim via the
  * normal compaction/sweep paths. DOCUMENTED
  * DIVERGENCE: the reference buffers writes so in-transaction reads see
  * only pre-transaction state (transaction.rs:187-207
  * reads-see-committed); here each statement's swap is visible to the
  * next statement in the same scope (reads-see-own-writes), which is
  * the openCypher/Neo4j visibility rule. DataFrames returned inside a
  * rolled-back scope must not be consumed after rollback (their
  * checkpoint blocks are freed).
  */
final class CypherSession private[graft] (val spark: SparkSession, initial: GraphStore,
    params: Map[String, Any], lookupRows: Long) {

  def this(spark: SparkSession, initial: GraphStore, params: Map[String, Any] = Map.empty) =
    this(spark, initial, params, Traversals.BroadcastPathRows)

  @volatile var store: GraphStore = initial

  private var txnSnapshot: Option[GraphStore] = None
  private var txnCreated: scala.collection.Set[Int] = Set.empty

  def begin(): Unit = synchronized {
    require(txnSnapshot.isEmpty, "transaction already open (no nesting)")
    txnSnapshot = Some(store)
    txnCreated = Set.empty
    txnHeld = new java.util.IdentityHashMap(held)
  }

  /** Keep everything executed since begin(). The statements already
    * swapped the store; commit just closes the scope (deferred checkpoint
    * releases resume at the next compaction).
    */
  def commit(): Unit = synchronized {
    require(txnSnapshot.nonEmpty, "no open transaction")
    txnSnapshot = None
    txnCreated = Set.empty
    txnHeld = null
  }

  /** Discard everything executed since begin(): restore the snapshot
    * store and free the checkpoint blocks this scope's own statements
    * persisted (accumulated per-run diffs — never a blanket "everything
    * persisted since begin", which would free concurrent sessions'
    * blocks on the shared SparkContext), the indexes built in the scope
    * among them. The held tables and their indexes are those of begin()
    * again.
    */
  def rollback(): Unit = synchronized {
    require(txnSnapshot.nonEmpty, "no open transaction")
    store = txnSnapshot.get
    txnSnapshot = None
    graft.util.Checkpoints.release(spark, txnCreated)
    ownedGen = ownedGen -- txnCreated
    held.clear()
    held.putAll(txnHeld)
    txnCreated = Set.empty
    txnHeld = null
  }

  def run(cypher: String): DataFrame = {
    val inTxn = synchronized { txnSnapshot.nonEmpty }
    val readNow = scala.collection.mutable.Set[(VarKind, String)]()
    synchronized { statements += 1 }
    val planner = new Planner(spark, store, params, residency(readNow), adjacencyOf(build = true),
      lookupOf(build = true), lookupRows)
    val q = Parser.parse(cypher)
    val res = planner.plan(q)
    synchronized {
      readBefore ++= readNow
      if (!Planner.readOnly(q)) wanted = Map.empty
    }
    store = res.store
    val compacted = maybeCompact()
    if (inTxn) synchronized {
      // exact per-site registration (planner CREATE pins + the compacted
      // generation's own table ids) — never a getPersistentRDDs diff, so
      // a concurrent session persisting WHILE this statement runs can no
      // longer be misattributed to the scope and freed on rollback
      txnCreated = txnCreated ++ planner.createdCheckpointIds ++ compacted
    }
    res.df.getOrElse(spark.emptyDataFrame)
  }

  // ---------------- session-resident label tables ----------------

  /** The file-backed tables of the opening store (the only ones worth a
    * resident copy), keyed (kind, label).
    */
  private lazy val openingTables: Map[(VarKind, String), DataFrame] = {
    def fileBacked(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }.isDefined
    (initial.vertexTables.map { case (l, df) => (VarKind.Node: VarKind, l) -> df } ++
      initial.edgeTables.map { case (l, df) => (VarKind.Edge: VarKind, l) -> df })
      .filter { case (_, df) => fileBacked(df) }
  }

  /** Opening tables that an earlier statement read. */
  private val readBefore = scala.collection.mutable.Set[(VarKind, String)]()

  /** Session-resident label tables. When a second statement reads a
    * file-backed table of the opening store, the store swaps that table
    * for a resident copy: the same rows in a persisted RDD
    * (MEMORY_AND_DISK) that keeps its lineage to the files, planned with
    * the table's statistics. Later statements read blocks instead of
    * re-opening the files, and a lost block costs a re-read, never a
    * failed statement. A single-statement session persists nothing, and a
    * table a write has replaced stays under the compaction rule. The
    * session owns the copies and releases them at its next compaction;
    * releasing is always safe because the lineage survives.
    *
    * The hook is per statement: `readNow` collects the opening tables
    * this statement reads, which count as read before from the next
    * statement on.
    */
  private def residency(readNow: scala.collection.mutable.Set[(VarKind, String)])
      : Planner.ReadHook = (st, kind, label) => synchronized {
    val key = (kind, label)
    val table = if (kind == VarKind.Node) st.vertexTables.get(label) else st.edgeTables.get(label)
    openingTables.get(key) match {
      case Some(opening) if table.exists(_ eq opening) =>
        if (!readBefore(key)) { readNow += key; st }
        else {
          val rows = opening.queryExecution.executedPlan.execute().map(_.copy())
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          ownedGen = ownedGen + rows.id
          val copy = org.apache.spark.sql.GraftColumnBridge.ofRows(rows, opening)
          held.put(copy, Held(kind, label))
          if (kind == VarKind.Node) st.withVertexTable(label, copy) else st.withEdgeTable(label, copy)
        }
      case _ => st
    }
  }

  // ---------------- session-owned keyed indexes ----------------

  /** A table this session holds resident (a resident copy or a table of a
    * compacted generation), its label, and its keyed indexes by key column.
    */
  private final case class Held(kind: VarKind, label: String,
      built: Map[String, KeyedIndex] = Map.empty)

  /** The held tables, keyed by identity, so a table a write has replaced
    * misses. An edge table is indexed by `src` and by `dst` (the adjacency
    * both ways, edge properties included), a vertex table by `id` and by
    * any column a key lookup filters on. The indexes of one table have the
    * same partition count (the shuffle partitions at the first build) and
    * go at the next compaction; one built in an open transaction goes at
    * its rollback. An index costs its rows as UnsafeRows (8 bytes per
    * column, plus strings, plus 8 per row for the null bits) and 4 bytes
    * more per row and 12 per distinct key. When that is at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes the index is held on the
    * driver heap, reachable only from here, so clearing or restoring
    * `held` frees it; a larger one is an RDD held MEMORY_AND_DISK that
    * joins ownedGen (and txnCreated in a transaction) and is unpersisted
    * with them.
    */
  private val held = new java.util.IdentityHashMap[DataFrame, Held]()

  /** The held tables at begin(), restored by rollback(). */
  private var txnHeld: java.util.IdentityHashMap[DataFrame, Held] = _

  /** Statements run so far. */
  private var statements = 0L

  /** The key lookups since the last write statement (or compaction) that
    * found no index, by (kind, label, key column): the number of the first
    * statement that made one.
    */
  private var wanted = Map.empty[(VarKind, String, String), Long]

  /** The compacted store's tables replace every held table. */
  private def holdGeneration(): Unit = synchronized {
    held.clear()
    wanted = Map.empty
    store.vertexTables.foreach { case (l, t) => held.put(t, Held(VarKind.Node, l)) }
    store.edgeTables.foreach { case (l, t) => held.put(t, Held(VarKind.Edge, l)) }
  }

  /** The index of held `table` by `key`: how to get it when it exists or
    * may be built now, else None. Without `build` only an index an earlier
    * statement built. With it, a missing index may be built when a
    * traversal walks the table (`walk`, the adjacency's rule) or, for a key
    * lookup, the second time a statement could use it with no write
    * statement or compaction in between (a read of the opening table
    * counts), as a resident copy is made on the second read: a table a
    * write is about to replace is not indexed for nothing, and a session
    * that writes between its reads builds an index only for a run of reads
    * that repeats it. Asking records the want; only calling the result
    * builds, so a statement that cannot use every index it reads builds
    * none.
    */
  private def indexOf(table: DataFrame, key: String, build: Boolean, walk: Boolean)
      : Option[() => KeyedIndex] = synchronized {
    val h = Option(held.get(table))
    h.flatMap(_.built.get(key)).map(index => () => index).orElse {
      val named = h.map(x => (x.kind, x.label))
        .orElse(openingTables.collectFirst { case (k, t) if t eq table => k })
      named.filter { case (kind, _) => kind == VarKind.Node || key == "src" || key == "dst" }
        .flatMap { case (kind, label) =>
          val want = (kind, label, key)
          val due = walk || wanted.get(want).exists(_ < statements)
          if (build && !due && !wanted.contains(want)) wanted += want -> statements
          if (h.isDefined && build && due) Some(() => buildIndex(table, kind, key)) else None
        }
    }
  }

  /** Builds the index of held `table` by `key`, unless it was built since it
    * was asked for. The indexes of one table share a partition count.
    */
  private def buildIndex(table: DataFrame, kind: VarKind, key: String)
      : KeyedIndex = synchronized {
    val h = Option(held.get(table))
    h.flatMap(_.built.get(key)).getOrElse {
      val partitions = h.flatMap(_.built.values.headOption).map(_.partitions)
        .getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val index =
        if (kind == VarKind.Edge) Adjacency.index(table, reverse = key == "dst", partitions)
        else Adjacency.keyed(table, key, partitions, s"graft index by $key")
      // a driver-held index goes with its Held entry; only a persisted one
      // has blocks to release
      index.rdd.foreach { rdd =>
        ownedGen = ownedGen + rdd.id
        if (txnSnapshot.nonEmpty) txnCreated = txnCreated + rdd.id
      }
      h.foreach(x => held.put(table, x.copy(built = x.built.updated(key, index))))
      index
    }
  }

  /** The keyed indexes the session holds now, either form. */
  private[graft] def heldIndexes: Seq[KeyedIndex] = synchronized {
    import scala.jdk.CollectionConverters._
    held.values.asScala.toSeq.flatMap(_.built.values)
  }

  private def adjacencyOf(build: Boolean): Planner.AdjacencyHook = (table, dir) => {
    def index(key: String) = indexOf(table, key, build, walk = true).map(_())
    dir match {
      case Direction.Out => index("src").map(Adjacency(_))
      case Direction.In => index("dst").map(Adjacency(_))
      case Direction.Both => for (o <- index("src"); i <- index("dst")) yield Adjacency.both(o, i)
    }
  }

  private def lookupOf(build: Boolean): Planner.LookupHook =
    (table, key, walk) => indexOf(table, key, build, walk)

  /** Auto-compaction on lineage growth. A SET-style rewrite references the
    * previous table twice (anti-join victims + updated rows), so a chain
    * of such mutations DOUBLES the logical plan per statement — Catalyst
    * walks plans as trees, and a 100-statement MERGE..ON CREATE SET replay
    * goes exponential without a cut (measured: statement 14 alone took
    * 85 s). Compacting whenever the store's total plan size crosses
    * `CompactPlanNodes` bounds every statement's plan to ~2x the threshold
    * and makes long mutation chains linear; the superseded generation's
    * checkpoint blocks are released once the new one is live. The probe
    * reads `queryExecution.logical` (the raw plan — no analysis), and the
    * threshold check itself stays cheap BECAUSE it runs every statement:
    * plans never exceed ~2x threshold before being cut.
    */
  private var ownedGen: scala.collection.Set[Int] = Set.empty

  /** Returns the compacted generation's checkpoint ids (empty when no
    * compaction ran) — read off the new store's own tables, the exact-
    * attribution contract of Checkpoints.idsOf.
    */
  private def maybeCompact(): Set[Int] = {
    val nodes = (store.vertexTables.values ++ store.edgeTables.values)
      .map(df => df.queryExecution.logical.map(_ => 1).sum).sum
    if (nodes > CypherSession.CompactPlanNodes) {
      store = store.compact(eager = true)
      val added = (store.vertexTables.values ++ store.edgeTables.values)
        .flatMap(graft.util.Checkpoints.idsOf).toSet
      holdGeneration()
      if (txnSnapshot.isEmpty) {
        graft.util.Checkpoints.release(spark, ownedGen -- added)
        ownedGen = added
      } else {
        // an open transaction's snapshot may read any pre-begin generation:
        // defer every release (rollback frees the txn-era gens; the first
        // post-commit compaction frees the rest)
        ownedGen = ownedGen ++ added
      }
      added
    } else Set.empty
  }

  def withParams(p: Map[String, Any]): CypherSession =
    new CypherSession(spark, store, params ++ p, lookupRows)

  /** Replay a multi-statement Cypher script (e.g. GraphIO.exportCypher
    * output, or the reference generator's graph.cypher): `--` comment
    * lines are skipped, statements split on `;` outside string literals,
    * each executed in order. The store is compacted every `compactEvery`
    * statements so a long replay's per-statement planning time stays flat
    * instead of growing with the union/filter lineage. Returns the number
    * of statements executed.
    */
  def runScript(script: String, compactEvery: Int = 32): Int = {
    val sc = spark.sparkContext
    // RDDs persisted before the script (a previous compact's live
    // generation, unrelated session state) are not ours to free
    val baseline = sc.getPersistentRDDs.keySet
    var executed = 0
    CypherSession.splitStatements(script).foreach { stmt =>
      run(stmt)
      executed += 1
      if (executed % compactEvery == 0) {
        // EAGER compaction so the new generation's blocks exist before the
        // old generation is released: once they do, every block persisted
        // since the script began (the previous compact generation + any
        // statement-internal checkpoints) is lineage-dead. A lazy compact
        // here would pin one dead generation per compactEvery statements
        // for the session lifetime (the x21 leak family, r6 audit).
        val before = sc.getPersistentRDDs.keySet
        store = store.compact(eager = true)
        graft.util.Checkpoints.release(spark, before -- baseline)
        holdGeneration()
      }
    }
    executed
  }

  /** Physical plan of a read query without executing it (the engine's
    * EXPLAIN surface — the reference has no optimizer to explain, §4.1).
    * Does not apply mutations: the plan is compiled against the current
    * store and discarded. Traversals and key lookups still run while
    * planning, as in `run`, over the indexes earlier statements built;
    * explain builds none.
    */
  def explain(cypher: String, extended: Boolean = false): String = {
    val res = new Planner(spark, store, params, adjacency = adjacencyOf(build = false),
      lookup = lookupOf(build = false), lookupRows = lookupRows).plan(Parser.parse(cypher))
    res.df match {
      case Some(df) =>
        if (extended) df.queryExecution.toString
        else df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
      case None => "(write-only statement: no result plan)"
    }
  }
}

object CypherSession {

  /** Total logical-plan nodes across the store's tables above which a
    * mutation auto-compacts (the SocialGraph lineage-compaction bound).
    * Base stores (parquet scans) sit far under it; only long mutation
    * chains cross it.
    */
  val CompactPlanNodes: Int = 200

  /** Split a script on `;` outside single/double-quoted string literals
    * (backslash escapes respected — mirrors the Lexer's string rules).
    * `--` comment lines are stripped HERE, with the quote state in hand: a
    * line-based pre-filter would delete "-- …" lines living inside a
    * multi-line string literal. Comments are line-anchored (first
    * non-whitespace on the line), so `()--(…)` patterns mid-line are safe.
    */
  private[cypher] def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var quote: Char = 0
    var atLineStart = true
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (quote != 0) {
        sb += c
        if (c == '\\' && i + 1 < script.length) { i += 1; sb += script.charAt(i) }
        else if (c == quote) quote = 0
      } else if (atLineStart && c == '-' &&
          i + 1 < script.length && script.charAt(i + 1) == '-') {
        // comment: swallow to (not including) the newline
        while (i < script.length && script.charAt(i) != '\n') i += 1
        i -= 1
      } else if (c == '\'' || c == '"') { quote = c; sb += c; atLineStart = false }
      else if (c == ';') { out += sb.toString; sb.clear(); atLineStart = false }
      else {
        sb += c
        if (c == '\n') atLineStart = true
        else if (!c.isWhitespace) atLineStart = false
      }
      i += 1
    }
    out += sb.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}

