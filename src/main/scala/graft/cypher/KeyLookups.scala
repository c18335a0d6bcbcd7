package graft.cypher

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import Ast._
import graft.algorithms.{Adjacency, CsrBlock, Direction, KeyedIndex, KeyedRows, Traversals}

/** Binding rows held on the driver: the columns the DataFrame plan of the
  * same clauses would have, in its order, and one Catalyst value per column
  * per row.
  */
private[cypher] final case class Bindings(fields: Vector[StructField],
    rows: Vector[Array[Any]], vars: Map[String, VarInfo], order: Seq[String]) {
  private lazy val at = fields.iterator.map(_.name).zipWithIndex.toMap
  def ord(c: String): Int = at(c)
  def cols(v: String): Vector[String] = fields.map(_.name).filter(_.startsWith(s"${v}__"))

  def drop(names: Set[String]): Bindings = {
    val keep = fields.indices.filterNot(i => names(fields(i).name)).toArray
    copy(fields = keep.toVector.map(fields), rows = rows.map(r => keep.map(r)))
  }
}

/** Answers the MATCH clauses of a read-only statement that are anchored on
  * a key, with partition-pruned lookups into the session's keyed indexes
  * (the reference's `get_vertex` and `o:`/`i:` prefix scans,
  * rocksdb_store.rs:606-712) instead of joins over whole label tables. The
  * rows are bound on the driver with the DataFrame plan's semantics (join
  * multiplicities, homomorphic hops, the same columns, names and types)
  * and handed back as a LocalRelation, over which the statement's WHERE,
  * RETURN, aggregates and ORDER BY compile unchanged.
  *
  * A statement is answered, all of its MATCH clauses or none, when each
  * clause's every pattern starts from a single-label node with one inline
  * `{prop: literal-or-$param}` of the column's type family (integral or
  * string), or from a variable of the answered clause just before it
  * (which has no WHERE); its fixed hops name one edge type and carry no
  * inline props; its var-length hops walk an adjacency on the driver
  * ([[Traversals.vlePaths]]); its other nodes have one label (or none, when
  * anonymous and unconstrained) and inline props of the column's family;
  * an OPTIONAL MATCH extends the answered clause before it, keeps no
  * WHERE, and shares only node variables; and every index the clauses
  * read exists or may be built now ([[prepare]]). A clause whose bindings
  * or any single lookup pass `maxRows` sends the whole statement to the
  * DataFrame plan: `answer` returns None when no clause was answered yet,
  * and throws [[KeyLookups.Restart]] otherwise.
  *
  * A statement the lookups answer only once its WHERE-equality anchors
  * are moved into inline props ([[hoist]]) is planned in that form; a
  * fallback then throws [[KeyLookups.Restart]] for the statement as
  * written, so its DataFrame plan is the one it always had.
  *
  * `read` gives a label table as the statement reads it (None for an
  * unknown label); `fresh` is the planner's variable namer, called in the
  * DataFrame plan's order.
  */
private[cypher] final class KeyLookups(spark: SparkSession, params: Map[String, Any],
    read: (VarKind, String) => Option[DataFrame], fresh: String => String,
    lookup: Planner.LookupHook, maxRows: Long) {

  import KeyLookups._

  /** The bindings of the scopes this statement's answered clauses made. */
  private val held = new java.util.IdentityHashMap[Scope, Bindings]()

  /** The indexes the statement's MATCH clauses read, once [[prepare]] found
    * every one ready; None while the statement runs the DataFrame plan.
    */
  private var indexes: Option[Map[Index, KeyedIndex]] = None

  /** Whether the statement is planned with its anchors hoisted. */
  private var hoisted = false

  /** Decides, before `q` is planned, whether lookups answer its MATCH
    * clauses: the statement to plan, `q` with its WHERE-equality anchors
    * hoisted when that form is answered, or None for the DataFrame plan of
    * `q`.
    */
  def prepare(q: Query): Option[Query] = {
    val h = hoist(q)
    hoisted = (h ne q) && ready(h)
    if (hoisted) Some(h) else Option.when(ready(q))(q)
  }

  /** Whether lookups answer the MATCH clauses of `q`. Every index they
    * read is asked for first, so a missing one does not hide the others'
    * use; the missing ones are built only when every one is present or
    * due, so a statement that falls back builds none.
    */
  private def ready(q: Query): Boolean = {
    val needs = mutable.LinkedHashSet[Index]()
    if (bodies(q).forall(answerable(_, needs)) && needs.nonEmpty) {
      val got = needs.toSeq.map(n => n -> lookup(table(n.kind, n.label), n.key, n.walk))
      if (got.forall(_._2.isDefined)) indexes = Some(got.map { case (n, get) => n -> get.get() }.toMap)
    }
    indexes.isDefined
  }

  /** `q` with each WHERE-equality anchor moved into its node's inline
    * props: in a non-OPTIONAL MATCH of a leading run of MATCH clauses (the
    * only ones lookups answer), a top-level AND conjunct `v.p = lit` or
    * `lit = v.p`, where `lit` is an integer or string literal or a non-null
    * parameter, `v` is a node first bound in that MATCH, named once there,
    * with one label and no inline props, and column `p` of its table is
    * [[filterable]] by `lit`. A WHERE left with no conjunct goes. `q`
    * itself when nothing moves.
    */
  private def hoist(q: Query): Query = {
    var bound = Set.empty[String]
    val lead = q.clauses.takeWhile(_.isInstanceOf[MatchClause]).collect { case m: MatchClause =>
      val out = if (m.optional) m else m.where.fold(m)(w => anchor(m, conjuncts(w), bound))
      bound ++= Planner.patternVars(m.patterns)
      out
    }
    val rest = q.clauses.drop(lead.size).map {
      case c: CallSubqueryClause => CallSubqueryClause(hoist(c.inner))
      case c => c
    }
    val h = Query(lead ++ rest, q.union.map { case (all, next) => (all, hoist(next)) })
    if (h == q) q else h
  }

  /** The top-level AND conjuncts of `e`, in order. */
  private def conjuncts(e: Expr): Seq[Expr] = e match {
    case Bin("AND", l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** `m` with those of its WHERE's conjuncts `cs` that anchor a node
    * bound first in `m` (not in `before`) moved into its props.
    */
  private def anchor(m: MatchClause, cs: Seq[Expr], before: Set[String]): MatchClause = {
    def nodes(pats: Seq[PathPat]): Seq[NodePat] = pats.flatMap(p => p.start +: p.hops.map(_._2))
    var pats = m.patterns
    val kept = cs.filterNot { c =>
      val eq = c match {
        case Bin("=", Prop(Variable(v), p), lit) => Some((v, p, lit))
        case Bin("=", lit, Prop(Variable(v), p)) => Some((v, p, lit))
        case _ => None
      }
      eq.exists { case (v, p, lit) =>
        val ok = !before(v) && (nodes(pats).filter(_.variable.contains(v)) match {
          case Seq(np) => np.props.isEmpty && np.labels.distinct.size == 1 && constant(lit) &&
            read(VarKind.Node, np.labels.head).exists(t => filterable(t.schema, Seq(p -> lit)))
          case _ => false
        })
        if (ok) pats = pats.map(place(_, v, p -> lit))
        ok
      }
    }
    if (kept.size == cs.size) m
    else m.copy(patterns = pats, where = kept.reduceOption(Bin("AND", _, _)))
  }

  /** Whether `e` is an integer or string literal or a non-null parameter. */
  private def constant(e: Expr): Boolean = e match {
    case IntLit(_) | StrLit(_) => true
    case Param(p) => params.get(p).exists(_ != null)
    case _ => false
  }

  /** `pat` with inline prop `prop` on its node named `v`. */
  private def place(pat: PathPat, v: String, prop: (String, Expr)): PathPat = {
    def on(np: NodePat) = if (np.variable.contains(v)) np.copy(props = Seq(prop)) else np
    pat.copy(start = on(pat.start), hops = pat.hops.map { case (r, n) => (r, on(n)) })
  }

  /** The clause lists of `q` planned each from an empty scope: its own,
    * its CALL subqueries' and its UNION parts'.
    */
  private def bodies(q: Query): Seq[Seq[Clause]] =
    (q.clauses +: q.clauses.collect { case c: CallSubqueryClause => c.inner }.flatMap(bodies)) ++
      q.union.toSeq.flatMap { case (_, next) => bodies(next) }

  /** Whether every MATCH clause of `clauses` has a shape the lookups answer
    * where it stands; adds the indexes they read to `into`.
    */
  private def answerable(clauses: Seq[Clause], into: mutable.LinkedHashSet[Index]): Boolean = {
    // the variables of the answered scope the next clause extends; None
    // after any other clause or a WHERE
    var scope: Option[Map[String, VarKind]] = Some(Map.empty)
    clauses.forall {
      case m: MatchClause =>
        val next = scope.flatMap { vars =>
          if (!m.optional) needs(m.patterns, vars)
          else {
            val shared = Planner.patternVars(m.patterns).filter(vars.contains)
            if (shared.nonEmpty && m.where.isEmpty && shared.forall(vars(_) == VarKind.Node))
              needs(m.patterns, shared.map(v => v -> vars(v)).toMap)
                .map { case (ns, bound) => (ns, vars ++ bound) }
            else None
          }
        }
        next.foreach { case (ns, _) => into ++= ns }
        scope = next.collect { case (_, bound) if m.where.isEmpty => bound }
        next.isDefined
      case _ =>
        scope = None
        true
    }
  }

  /** The scope of `m` over `outer` (before `m`'s WHERE), or None for the
    * DataFrame plan.
    */
  def answer(outer: Option[Scope], m: MatchClause): Option[Scope] = indexes.flatMap { idx =>
    try {
      val b = outer match {
        case None => Bindings(Vector.empty, Vector(Array.empty[Any]), Map.empty, Nil)
        case Some(s) => Option(held.get(s)).getOrElse(throw Fallback)
      }
      val out = if (m.optional) optional(b, m.patterns, idx) else patterns(b, m.patterns, idx)
      val df = GraftColumnBridge.localRows(spark, StructType(out.fields),
        out.rows.map(r => new GenericInternalRow(r)))
      val s = Scope(df, out.vars, out.order)
      held.put(s, out)
      Some(s)
    } catch {
      case Fallback =>
        indexes = None
        if (!held.isEmpty || hoisted) throw Restart
        None
    }
  }

  /** Each of `nodes` (a pattern and the variable to bind) as a label scan
    * from an empty scope binds it, filtered by its inline props: its
    * distinct non-null ids, and its rows (a LocalRelation) and variable, read
    * through the index of its label by its first inline prop. None, for the
    * DataFrame plan, when a node has no inline prop or a shape a lookup
    * does not bind, an index neither exists nor may be built now (then none
    * is built), or a lookup passes `maxRows`.
    */
  def nodes(ns: Seq[(NodePat, String)]): Option[Seq[(Array[Long], DataFrame, VarInfo)]] = {
    val keyed = ns.map { case (np, _) => Option.when(np.props.nonEmpty)(np).flatMap(nodeIndex(_, None)) }
    val got = keyed.flatten.distinct.map(n => n -> lookup(table(n.kind, n.label), n.key, n.walk))
    if (!keyed.forall(_.isDefined) || !got.forall(_._2.isDefined)) None
    else {
      val idx = got.map { case (n, get) => n -> get.get() }.toMap
      val empty = Bindings(Vector.empty, Vector(Array.empty[Any]), Map.empty, Nil)
      try Some(ns.zip(keyed.flatten).map { case ((np, v), n) =>
        val (k, e) = np.props.head
        val p = probe(e, table(VarKind.Node, n.label).schema(k).dataType).get
        val b = where(bindNode(empty, v, n.label, k, Left(p), idx(n)), v, np.props)
        val id = b.ord(Scope.colName(v, "id"))
        val ids = b.rows.iterator.map(_(id)).filter(_ != null).map(Adjacency.keyOf).toArray.distinct
        (ids, GraftColumnBridge.localRows(spark, StructType(b.fields), b.rows.map(r => new GenericInternalRow(r))),
          b.vars(v))
      })
      catch { case Fallback => None }
    }
  }

  /** `CALL graft.degrees()` over the edge tables of `labels`, read off their
    * `src` and `dst` indexes held on the driver: a key's rows in a `src`
    * index are its out-edges and in a `dst` index its in-edges, so the
    * blocks' offsets give the degrees without reading a row (the
    * reference's count over `o:`/`i:` prefixes). The rows and schema of
    * [[graft.algorithms.GraphAlgorithms.degrees]], per id summed over the
    * labels, with its null-id rows for edges with a null source or a null
    * target. None, for the DataFrame plan, when a table has a shape a
    * lookup does not read, an index neither exists nor may be built now
    * (then none is built), an index is persisted, or the rows pass
    * `maxRows`. An index degrees cannot use is not built for them: under a
    * non-positive `spark.sql.autoBroadcastJoinThreshold` none is held on
    * the driver, so none is asked for, and the indexes are got in turn
    * until the first persisted one, so at most that one is built.
    */
  def degrees(labels: Seq[String]): Option[DataFrame] = {
    val tables = labels.map(l => usable(VarKind.Edge, l).map(_ => table(VarKind.Edge, l)))
    lazy val got = tables.flatten.flatMap(t => Seq("src", "dst").map(k => k -> lookup(t, k, false)))
    if (labels.isEmpty || !tables.forall(_.isDefined) ||
        spark.sessionState.conf.autoBroadcastJoinThreshold <= 0 || !got.forall(_._2.isDefined)) None
    else {
      // in-degrees at 0 (the dst indexes), out-degrees at 1
      val held = mutable.ArrayBuffer[(Int, Array[CsrBlock])]()
      val onDriver = got.forall { case (k, get) =>
        get.get() match {
          case KeyedIndex.OnDriver(blocks) => held += (if (k == "dst") 0 else 1) -> blocks; true
          case _ => false
        }
      }
      if (!onDriver) None
      else {
        val deg = mutable.LongMap.empty[Array[Long]]
        val nulls = new Array[Long](2)
        held.foreach { case (side, blocks) =>
          blocks.foreach { b =>
            var i = 0
            while (i < b.keys.length) {
              deg.getOrElseUpdate(b.keys(i), new Array[Long](2))(side) += b.offsets(i + 1) - b.offsets(i)
              i += 1
            }
            nulls(side) += b.nulls
          }
        }
        // the DataFrame plan's groups of null ids, which its join never pairs
        val unkeyed = (if (nulls(1) > 0) Seq(Array[Any](null, 0L, nulls(1))) else Nil) ++
          (if (nulls(0) > 0) Seq(Array[Any](null, nulls(0), 0L)) else Nil)
        Option.when(deg.size + unkeyed.size <= maxRows) {
          val rows = deg.iterator.map { case (id, d) => Array[Any](id, d(0), d(1)) } ++ unkeyed
          GraftColumnBridge.localRows(spark, DegreesSchema, rows.map(new GenericInternalRow(_)).toVector)
        }
      }
    }
  }

  /** Whether lookups answered the statement's MATCH clauses. */
  def answered: Boolean = !held.isEmpty

  /** A label table the shape checks found. */
  private def table(kind: VarKind, label: String): DataFrame = read(kind, label).get

  // ---------------- shape checks ----------------

  private def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** The Catalyst value a `{prop: e}` compares `dt` values to, when `e` is a
    * literal or parameter of `dt`'s type family.
    */
  private def probe(e: Expr, dt: DataType): Option[Any] = {
    val v = e match {
      case IntLit(x) => Some(x)
      case StrLit(x) => Some(x)
      case Param(p) => params.get(p)
      case _ => None
    }
    v.collect {
      case x @ (_: Long | _: Int | _: Short | _: Byte) if integral(dt) => Adjacency.keyOf(x)
      case x: String if dt == StringType => UTF8String.fromString(x)
    }
  }

  private def same(value: Any, p: Any): Boolean = value != null && (p match {
    case l: Long => Adjacency.keyOf(value) == l
    case u => u == value
  })

  /** A label table this lookup can bind rows of: none of the columns the
    * scan adds, and for an edge table long id, src and dst.
    */
  private def usable(kind: VarKind, label: String): Option[StructType] =
    read(kind, label).map(_.schema).filter { st =>
      val added = if (kind == VarKind.Node) Seq("label") else Seq("label", "__start", "__end")
      added.forall(c => !st.fieldNames.contains(c)) && (kind == VarKind.Node ||
        Seq("id", "src", "dst").forall(c => st.fieldNames.contains(c) && st(c).dataType == LongType))
    }

  /** Inline props a node's rows can be filtered by on the driver. */
  private def filterable(st: StructType, props: Seq[(String, Expr)]): Boolean =
    props.forall { case (k, e) =>
      st.fieldNames.contains(k) && Adjacency.keyable(st(k).dataType) && probe(e, st(k).dataType).isDefined
    }

  /** The index a new node of one label is bound through: by column `key`,
    * or by its first inline prop; None when its table, key or props do not
    * allow it.
    */
  private def nodeIndex(np: NodePat, key: Option[String]): Option[Index] = np.labels.distinct match {
    case Seq(l) => usable(VarKind.Node, l).flatMap { st =>
      val k = key.getOrElse(np.props.headOption.map(_._1).getOrElse(""))
      Option.when(st.fieldNames.contains(k) && Adjacency.keyable(st(k).dataType) &&
        filterable(st, np.props))(Index(VarKind.Node, l, k))
    }
    case _ => None
  }

  /** The indexes `pats` read from a scope binding `bound0`, and the
    * variables bound after them; None when a pattern has a shape the
    * lookups do not answer.
    */
  private def needs(pats: Seq[PathPat], bound0: Map[String, VarKind])
      : Option[(Seq[Index], Map[String, VarKind])] = {
    val bound = mutable.Map[String, VarKind]() ++= bound0
    val out = mutable.LinkedHashSet[Index]()
    def bindNew(v: Option[String], kind: VarKind): Boolean = v match {
      case Some(x) if bound.contains(x) => false
      case _ => v.foreach(bound(_) = kind); true
    }
    // a node bound before, re-matched: labels only
    def rebound(np: NodePat): Option[Boolean] = np.variable.filter(bound.contains).map { v =>
      bound(v) == VarKind.Node && np.props.isEmpty
    }
    def newNode(np: NodePat, key: Option[String]): Boolean = nodeIndex(np, key).exists { ix =>
      out += ix
      np.variable.foreach(bound(_) = VarKind.Node)
      true
    }
    def target(np: NodePat, shortcut: Boolean): Boolean = rebound(np).getOrElse {
      (shortcut && Planner.anonFree(np)) || newNode(np, Some("id"))
    }
    val ok = pats.forall { pat =>
      val start = rebound(pat.start).getOrElse(pat.start.props.size == 1 && newNode(pat.start, None))
      start && pat.hops.forall { case (rel, node) =>
        rel.types match {
          case Seq(t) if rel.props.isEmpty && usable(VarKind.Edge, t).isDefined => rel.varLength match {
            case None =>
              bindNew(rel.variable, VarKind.Edge) && {
                if (rel.dir != Dir.In) out += Index(VarKind.Edge, t, "src")
                if (rel.dir != Dir.Out) out += Index(VarKind.Edge, t, "dst")
                target(node, shortcut = true)
              }
            case Some((_, hi)) =>
              bindNew(rel.variable, VarKind.Value) && {
                if (hi >= 1) out ++= walkIndexes(t, Planner.direction(rel.dir))
                target(node, shortcut = false)
              }
          }
          case _ => false
        }
      } && bindNew(pat.pathVar, VarKind.Value)
    }
    if (ok) Some((out.toSeq, bound.toMap)) else None
  }

  /** The edge indexes a walk over `t` in `dir` reads. */
  private def walkIndexes(t: String, dir: Direction): Seq[Index] = {
    def by(key: String) = Index(VarKind.Edge, t, key, walk = true)
    dir match {
      case Direction.Out => Seq(by("src"))
      case Direction.In => Seq(by("dst"))
      case Direction.Both => Seq(by("src"), by("dst"))
    }
  }

  private def walkOf(t: String, dir: Direction, idx: Map[Index, KeyedIndex]): Adjacency =
    walkIndexes(t, dir).map(idx) match {
      case Seq(one) => Adjacency(one)
      case Seq(bySrc, byDst) => Adjacency.both(bySrc, byDst)
    }

  // ---------------- binding ----------------

  private def fetch(index: KeyedIndex, keys: Iterable[Any]): KeyedRows =
    Adjacency(index).lookup(keys.iterator.filter(_ != null).map(Adjacency.keyOf).toArray, maxRows)
      .getOrElse(throw Fallback)

  private def prefixed(v: String, fs: Seq[StructField]): Vector[StructField] =
    fs.map(f => StructField(Scope.colName(v, f.name), f.dataType)).toVector

  /** Appends to each row of `b` the rows `more(row)` gives (an inner join). */
  private def extend(b: Bindings, fields: Vector[StructField])(more: Array[Any] => Iterator[Array[Any]]): Bindings = {
    val rows = Vector.newBuilder[Array[Any]]
    var n = 0L
    b.rows.foreach { r =>
      more(r).foreach { m =>
        n += 1
        if (n > maxRows) throw Fallback
        rows += r ++ m
      }
    }
    b.copy(fields = b.fields ++ fields, rows = rows.result())
  }

  /** Keeps the rows of node `v` whose inline props hold. */
  private def where(b: Bindings, v: String, props: Seq[(String, Expr)]): Bindings =
    props.foldLeft(b) { case (acc, (k, e)) =>
      val i = acc.ord(Scope.colName(v, k))
      val p = probe(e, acc.fields(i).dataType).get
      acc.copy(rows = acc.rows.filter(r => same(r(i), p)))
    }

  /** The columns of a label scan of table `st` ([[Planner.labelled]]),
    * read off rows laid out as `row` columns.
    */
  private def labelReads(st: StructType, row: Seq[String]): Seq[Read] =
    Planner.labelled(st.fieldNames.toSeq).map {
      case (c, Some(from)) => Read(c, st(from).dataType, Some(row.indexOf(from)))
      case (c, None) => Read(c, StringType, None)
    }

  private def fieldsOf(v: String, reads: Seq[Read]): Vector[StructField] =
    prefixed(v, reads.map(r => StructField(r.name, r.dataType)))

  private def values(reads: Seq[Read], r: UnsafeRow, label: UTF8String): Array[Any] =
    reads.iterator.map(c => c.at.fold[Any](label)(r.get(_, c.dataType))).toArray

  /** Binds a new node variable `v` of label `l` to the rows of `idx` whose
    * column `key` equals `on`: one probe value, whose rows join every row of
    * `b` (an anchor), or the column of `b` whose value each row looks up.
    */
  private def bindNode(b: Bindings, v: String, l: String, key: String, on: Either[Any, String],
      idx: KeyedIndex): Bindings = {
    val st = table(VarKind.Node, l).schema
    val k = st.fieldIndex(key)
    val label = UTF8String.fromString(l)
    val reads = labelReads(st, st.fieldNames.toSeq)
    val probes = on match {
      case Left(p) => Seq(p)
      case Right(c) => val i = b.ord(c); b.rows.map(_(i))
    }
    val found = fetch(idx, probes)
    def matches(p: Any): Iterator[Array[Any]] = if (p == null) Iterator.empty else {
      val out = Vector.newBuilder[Array[Any]]
      found.foreachRow(Adjacency.keyOf(p)) { r =>
        if (same(r.get(k, st(k).dataType), p)) out += values(reads, r, label)
      }
      out.result().iterator
    }
    val joined = on match {
      case Left(p) => val rows = matches(p).toVector; extend(b, fieldsOf(v, reads))(_ => rows.iterator)
      case Right(c) => val i = b.ord(c); extend(b, fieldsOf(v, reads))(r => matches(r(i)))
    }
    val info = VarInfo(VarKind.Node, Some(l), Planner.scanProps(VarKind.Node, reads.map(_.name)))
    joined.copy(vars = joined.vars + (v -> info), order = joined.order :+ v)
  }

  /** A node pattern over a variable bound before: its labels only. */
  private def relabel(b: Bindings, v: String, np: NodePat): Bindings =
    if (np.labels.distinct.forall(l => b.vars(v).label.contains(l))) b else b.copy(rows = Vector.empty)

  private def patterns(b0: Bindings, pats: Seq[PathPat], idx: Map[Index, KeyedIndex]): Bindings =
    pats.foldLeft(b0)((b, pat) => path(b, pat, idx))

  private def path(b0: Bindings, pat: PathPat, idx: Map[Index, KeyedIndex]): Bindings = {
    val np = pat.start
    val sv = np.variable.getOrElse(fresh("n"))
    var b = if (b0.vars.contains(sv)) relabel(b0, sv, np) else {
      val (k, e) = np.props.head
      val l = np.labels.head
      val st = table(VarKind.Node, l).schema
      bindNode(b0, sv, l, k, Left(probe(e, st(k).dataType).get), idx(Index(VarKind.Node, l, k)))
    }
    val startId = Scope.colName(sv, "id")
    var prev = startId
    // per hop, for a path variable: the columns of the vertex and edge ids
    // it appends, and whether they are a var-length hop's lists
    val pieces = mutable.ArrayBuffer[(String, String, Boolean)]()
    val temps = mutable.Set[String]()
    pat.hops.foreach { case (rel, node) =>
      val t = rel.types.head
      rel.varLength match {
        case None =>
          val ev = rel.variable.getOrElse(fresh("e"))
          b = edges(b, ev, t, rel.dir, prev, idx)
          val end = Scope.colName(ev, "dst")
          val anchor = if (Planner.anonFree(node) && !node.variable.exists(b.vars.contains)) end else {
            val nv = node.variable.getOrElse(fresh("n"))
            b = bindTarget(b, end, node, nv, idx)
            Scope.colName(nv, "id")
          }
          pieces += ((anchor, Scope.colName(ev, "id"), false))
          prev = anchor
        case Some((lo, hi)) =>
          val ev = fresh("vl")
          b = walk(b, ev, rel, lo, hi, prev, pat.pathVar.isDefined, idx)
          val nv = node.variable.getOrElse(fresh("n"))
          b = bindTarget(b, s"${ev}__d", node, nv, idx).drop(Set(s"${ev}__s", s"${ev}__d"))
          if (pat.pathVar.isDefined) {
            val (vp, ep) = (s"${ev}__vp", s"${ev}__ep")
            temps ++= Seq(vp, ep)
            pieces += ((vp, ep, true))
          }
          prev = Scope.colName(nv, "id")
      }
    }
    pat.pathVar.fold(b) { pv =>
      val s = b.ord(startId)
      val ps = pieces.toSeq.map { case (v, e, lists) => (b.ord(v), b.ord(e), lists) }
      def ids(r: Array[Any]): Seq[Any] = Seq(r(s)) ++ ps.flatMap {
        case (v, _, true) => arr(r(v)).drop(1)
        case (v, _, false) => Seq(r(v))
      }
      def eids(r: Array[Any]): Seq[Any] = ps.flatMap {
        case (_, e, true) => arr(r(e))
        case (_, e, false) => Seq(r(e))
      }
      val withPath = b.copy(
        fields = b.fields ++ Seq(StructField(pv, ArrayType(LongType)),
          StructField(Planner.pathRels(pv), ArrayType(LongType))),
        rows = b.rows.map(r => r ++ Array[Any](array(ids(r)), array(eids(r)))),
        vars = b.vars + (pv -> Planner.pathInfo),
        order = b.order :+ pv)
      withPath.drop(temps.toSet)
    }
  }

  private def arr(v: Any): Seq[Any] = v.asInstanceOf[GenericArrayData].array.toSeq

  private def array(vs: Seq[Any]): GenericArrayData =
    new GenericArrayData(vs.map(v => if (v == null) null else Adjacency.keyOf(v)).toArray[Any])

  /** A fixed hop over edge type `t` from column `prev`: the edge scan's
    * columns ([[Planner.oriented]]), so that `ev__src` is the side walked
    * from.
    */
  private def edges(b: Bindings, ev: String, t: String, dir: Dir, prev: String,
      idx: Map[Index, KeyedIndex]): Bindings = {
    val st = table(VarKind.Edge, t).schema
    val labelled = labelReads(st, Adjacency.edgeColumns(st.fieldNames.toSeq))
    def reads(reversed: Boolean): Seq[Read] = {
      val byName = labelled.map(r => r.name -> r).toMap
      Planner.oriented(labelled.map(_.name), reversed).map { case (c, from) => byName(from).copy(name = c) }
    }
    val label = UTF8String.fromString(t)
    val p = b.ord(prev)
    val keys = b.rows.map(_(p))
    def rows(key: String, reversed: Boolean) =
      (fetch(idx(Index(VarKind.Edge, t, key)), keys), reads(reversed))
    val walked = (if (dir != Dir.In) Seq(rows("src", reversed = false)) else Nil) ++
      (if (dir != Dir.Out) Seq(rows("dst", reversed = true)) else Nil)
    val scan = reads(false)
    val fields = fieldsOf(ev, scan)
    val out = extend(b, fields) { r =>
      val k = r(p)
      val found = Vector.newBuilder[Array[Any]]
      if (k != null) walked.foreach { case (rows, rs) =>
        rows.foreachRow(Adjacency.keyOf(k))(e => found += values(rs, e, label))
      }
      found.result().iterator
    }
    val props = Planner.scanProps(VarKind.Edge, scan.map(_.name))
    out.copy(vars = out.vars + (ev -> VarInfo(VarKind.Edge, Some(t), props)), order = out.order :+ ev)
  }

  /** A var-length hop from column `prev`: the columns of the DataFrame
    * plan's walked pairs ([[Planner.walkColumns]]), joined on the start.
    */
  private def walk(b: Bindings, ev: String, rel: RelPat, lo: Int, hi: Int, prev: String,
      wantPath: Boolean, idx: Map[Index, KeyedIndex]): Bindings = {
    val t = rel.types.head
    val cols = Planner.walkColumns(ev, rel.variable, wantPath)
    val carry = cols.exists(_._2 == "epath")
    val p = b.ord(prev)
    val starts = b.rows.iterator.map(_(p)).filter(_ != null).map(Adjacency.keyOf).toArray.distinct
    if (starts.length > maxRows) throw Fallback
    // one walked pair's values: its start and end ids, vertex and edge lists
    def pair(s: Long, d: Long, ids: Seq[Long], eids: Seq[Long]): Array[Any] =
      cols.iterator.map[Any] {
        case (_, "start_id") => s
        case (_, "end_id") => d
        case (_, "path") => array(ids)
        case (_, "epath") => array(eids)
      }.toArray
    val walked: Map[Long, Seq[Array[Any]]] =
      if (hi < 1) Map.empty
      else Traversals.vlePaths(walkOf(t, Planner.direction(rel.dir), idx), starts, lo.max(1), hi,
        carry, maxRows).getOrElse(throw Fallback)
        .map { row =>
          val eids = if (carry) row.getSeq[Long](4) else Nil
          row.getLong(0) -> pair(row.getLong(0), row.getLong(1), row.getSeq[Long](3), eids)
        }.groupMap(_._1)(_._2)
    val fields = cols.map { case (c, from) =>
      StructField(c, from match {
        case "start_id" | "end_id" => LongType
        case _ => ArrayType(LongType)
      })
    }.toVector
    val out = extend(b, fields) { r =>
      val k = r(p)
      if (k == null) Iterator.empty else {
        val s = Adjacency.keyOf(k)
        val zero = if (lo == 0) Seq(pair(s, s, Seq(s), Nil)) else Nil
        (walked.getOrElse(s, Nil) ++ zero).iterator
      }
    }
    rel.variable.fold(out)(rv => out.copy(vars = out.vars + (rv -> VarInfo(VarKind.Value, None, Nil)),
      order = out.order :+ rv))
  }

  /** Binds the far end of a hop (column `end`) to node variable `nv`: an
    * equality with its id when bound before, a lookup of its label's id
    * index otherwise.
    */
  private def bindTarget(b: Bindings, end: String, node: NodePat, nv: String,
      idx: Map[Index, KeyedIndex]): Bindings =
    if (b.vars.contains(nv)) {
      val (e, i) = (b.ord(end), b.ord(Scope.colName(nv, "id")))
      relabel(b.copy(rows = b.rows.filter(r => r(e) != null && same(r(i), Adjacency.keyOf(r(e))))), nv, node)
    } else {
      val l = node.labels.head
      where(bindNode(b, nv, l, "id", Right(end), idx(Index(VarKind.Node, l, "id"))), nv, node.props)
    }

  /** OPTIONAL MATCH over held bindings `o`: the patterns bound from the
    * distinct rows of the shared variables' columns, joined back left-outer
    * on their ids; the columns come in the order of the DataFrame plan's
    * using-join (the ids, `o`'s other columns, the new columns).
    */
  private def optional(o: Bindings, pats: Seq[PathPat], idx: Map[Index, KeyedIndex]): Bindings = {
    val shared = Planner.patternVars(pats).filter(o.vars.contains)
    val seedCols = shared.flatMap(o.cols)
    // the seed rows are made distinct by value equality, which map and
    // binary values lack
    def comparable(dt: DataType): Boolean = dt match {
      case _: MapType | BinaryType => false
      case ArrayType(e, _) => comparable(e)
      case StructType(fs) => fs.forall(f => comparable(f.dataType))
      case _ => true
    }
    if (!seedCols.forall(c => comparable(o.fields(o.ord(c)).dataType))) throw Fallback
    val seedAt = seedCols.map(o.ord).toArray
    val seed = Bindings(seedAt.toVector.map(o.fields),
      o.rows.map(r => seedAt.map(r).toVector).distinct.map(_.toArray),
      shared.map(v => v -> o.vars(v)).toMap, shared)
    val sub = patterns(seed, pats, idx)
    val keys = shared.map(Scope.colName(_, "id"))
    val added = sub.fields.indices.filterNot(i => seedCols.contains(sub.fields(i).name))
    val subKey = keys.map(sub.ord)
    val matches = sub.rows.groupBy(r => subKey.map(r)).map { case (k, rs) => k -> rs.map(r => added.map(r)) }
    val oKey = keys.map(o.ord)
    val oRest = o.fields.indices.filterNot(i => keys.contains(o.fields(i).name))
    val none = Seq(Array.fill[Any](added.size)(null))
    val rows = Vector.newBuilder[Array[Any]]
    var n = 0L
    o.rows.foreach { r =>
      val k = oKey.map(r)
      val ms = if (k.contains(null)) none else matches.get(k).map(_.map(_.toArray)).getOrElse(none)
      ms.foreach { m =>
        n += 1
        if (n > maxRows) throw Fallback
        rows += (k ++ oRest.map(r) ++ m).toArray
      }
    }
    Bindings(oKey.toVector.map(o.fields) ++ oRest.map(o.fields) ++ added.map(sub.fields),
      rows.result(), o.vars ++ (sub.vars -- shared), o.order ++ sub.order.filterNot(shared.contains))
  }
}

private[cypher] object KeyLookups {

  private object Fallback extends scala.util.control.ControlThrowable

  /** The schema of [[graft.algorithms.GraphAlgorithms.degrees]] over long
    * ids: its full outer join makes the id nullable.
    */
  private val DegreesSchema = StructType(Seq(StructField("id", LongType),
    StructField("in_degree", LongType, nullable = false), StructField("out_degree", LongType, nullable = false)))

  /** Thrown when a clause passes the row bound after another clause of the
    * statement was answered: the planner plans the statement again without
    * lookups.
    */
  object Restart extends scala.util.control.ControlThrowable

  /** An index a clause reads: a label table's rows by a key column; an edge
    * table by `src` or `dst` is walked as an adjacency when `walk`.
    */
  private final case class Index(kind: VarKind, label: String, key: String, walk: Boolean = false)

  /** A column of a label scan, read off an index row at `at` (None: the
    * label).
    */
  private final case class Read(name: String, dataType: DataType, at: Option[Int])
}
