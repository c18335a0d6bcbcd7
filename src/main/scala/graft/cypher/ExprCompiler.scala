package graft.cypher

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Ast._
import graft.functions.ParamLiteral

/** Variable binding kinds in a compiled scope. */
sealed trait VarKind
object VarKind {
  case object Node extends VarKind
  case object Edge extends VarKind
  case object Value extends VarKind
}

/** `path` marks a path variable (`p = (a)-[*]->(b)`, `shortestPath`): a
  * value holding the vertex-id list, whose `length` counts relationships.
  */
final case class VarInfo(kind: VarKind, label: Option[String], props: Seq[String],
    path: Boolean = false)

/** A compiled clause pipeline state: the binding DataFrame plus the
  * variable table. Entity variables own prefixed columns
  * (`v__id`, `v__label`, `v__<prop>`, edges also `v__src`/`v__dst`);
  * value variables own a single column named after themselves.
  * This is the Spark answer to the reference's per-row
  * `HashMap<String, Value>` bindings (/root/reference/src/executor/mod.rs:117-143):
  * one wide columnar relation instead of a hash map per row.
  */
final case class Scope(df: DataFrame, vars: Map[String, VarInfo], order: Seq[String]) {
  def varCols(v: String): Seq[String] = vars(v).kind match {
    // a Value var owns its own column; a path variable additionally owns
    // prefixed companions (p__rels) that must survive WITH passthrough
    case VarKind.Value =>
      v +: vars(v).props.map(Scope.colName(v, _)).filter(df.columns.contains)
    case _ => df.columns.filter(_.startsWith(s"${v}__")).toSeq
  }
}
object Scope {
  def colName(v: String, field: String): String = s"${v}__$field"
}

/** Compiles Cypher expressions (Ast.Expr) to Catalyst Columns. Cypher
  * numeric semantics (SURVEY.md §1.3) map onto Spark: int/float promotion is
  * native; integer `/` truncates (reference set_executor.rs:296-310);
  * missing properties evaluate to NULL (openCypher semantics — deliberate
  * divergence from the reference's PropertyNotFound error, SURVEY.md §1.4).
  */
final class ExprCompiler(scope: Scope, params: Map[String, Any] = Map.empty,
    // lambda-bound variables (list comprehension / reduce / quantifiers):
    // name -> (the HOF argument Column, its element type). Checked before
    // scope resolution, so a lambda variable shadows a scope column.
    locals: Map[String, (Column, DataType)] = Map.empty) {

  private val aggNames = Set("count", "sum", "avg", "min", "max", "collect",
    "stdev", "percentilecont")

  def isAggregate(e: Expr): Boolean = e match {
    case CountStar => true
    case FnCall(n, args, _) => aggNames.contains(n.toLowerCase) || args.exists(isAggregate)
    case Bin(_, l, r) => isAggregate(l) || isAggregate(r)
    case Un(_, x) => isAggregate(x)
    case Prop(b, _) => isAggregate(b)
    case Index(b, i) => isAggregate(b) || isAggregate(i)
    case IsNull(x, _) => isAggregate(x)
    case InList(x, l, _) => isAggregate(x) || isAggregate(l)
    case CaseExpr(ws, o) =>
      ws.exists(w => isAggregate(w._1) || isAggregate(w._2)) || o.exists(isAggregate)
    case ListLit(xs) => xs.exists(isAggregate)
    case MapLit(es) => es.exists(e => isAggregate(e._2))
    // lambda bodies cannot hold aggregates; the LIST side can (e.g.
    // reduce over a collect())
    case ListComp(_, l, _, _) => isAggregate(l)
    case ReduceExpr(_, i, _, l, _) => isAggregate(i) || isAggregate(l)
    case ListPred(_, _, l, _) => isAggregate(l)
    case MapProjection(_, items) => items.exists {
      case MapProjKV(_, e) => isAggregate(e)
      case _ => false
    }
    case _ => false
  }

  /** Analysis-time typing. Lambda-bound variables cannot resolve outside
    * their HOF, so the probe select replaces each lambda argument
    * expression with a typed null literal first — the element type is
    * known at comprehension-compile time.
    */
  private def dtype(c: Column): DataType =
    if (locals.isEmpty) scope.df.select(c).schema.head.dataType
    else {
      val args = locals.values.flatMap { case (ac, t) =>
        GraftColumnBridge.lambdaArgName(ac).map(_ -> t) }.toSeq
      GraftColumnBridge.typeUnderLambdas(scope.df, c, args)
    }

  private def isStringT(c: Column): Boolean = dtype(c) == StringType
  private def isArrayT(c: Column): Boolean = dtype(c).isInstanceOf[ArrayType]
  private def isIntegralT(c: Column): Boolean = dtype(c) match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def isPathVar(e: Expr): Boolean = e match {
    case Variable(v) => !locals.contains(v) && scope.vars.get(v).exists(_.path)
    case _ => false
  }

  private def entityVar(name: String): Option[VarInfo] =
    scope.vars.get(name).filter(_.kind != VarKind.Value)

  /** An entity rendered as a value: struct of its columns (used when a bare
    * node/edge variable appears in RETURN).
    */
  def entityStruct(v: String): Column = {
    val cols = scope.varCols(v)
    struct(cols.map(c => col(c).as(c.stripPrefix(s"${v}__"))).toIndexedSeq: _*)
  }

  def idOf(v: String): Column = col(Scope.colName(v, "id"))

  def compile(e: Expr): Column = e match {
    case NullLit => lit(null)
    case BoolLit(v) => lit(v)
    // numeric literals are parameters of the generated code, so statements
    // that differ only in a key reuse one compiled class
    case IntLit(v) => ParamLiteral(v)
    case FloatLit(v) => ParamLiteral(v)
    case StrLit(v) => lit(v)
    case ListLit(items) => array(items.map(compile).toIndexedSeq: _*)
    case MapLit(entries) =>
      struct(entries.map { case (k, v) => compile(v).as(k) }.toIndexedSeq: _*)
    case Param(name) =>
      params.get(name).map(lit).getOrElse(
        sys.error(s"unbound parameter: $$$name (bind via CypherSession.withParams)"))
    case Variable(name) =>
      locals.get(name) match {
        case Some((argCol, _)) => argCol
        case None => scope.vars.get(name) match {
          case Some(vi) if vi.kind == VarKind.Value => col(name)
          case Some(_) => entityStruct(name)
          case None => sys.error(s"unbound variable: $name")
        }
      }
    case p: Prop => compileProp(p)
    case Index(base, idx) =>
      val b = compile(base)
      val i = compile(idx)
      if (dtype(b).isInstanceOf[MapType]) element_at(b, i)
      else {
        // Cypher 0-based with negative-from-the-end; Spark 1-based where
        // negatives already count from the end and 0 is an error
        val ii = i.cast("int")
        element_at(b, when(ii >= 0, ii + lit(1)).otherwise(ii))
      }
    case CountStar => count(lit(1))
    case f: FnCall => compileFn(f)
    case Bin(op, l, r) => compileBin(op, l, r)
    case Un("NOT", x) => !truthyExpr(x)
    case Un("-", x) => -compile(x)
    case Un(op, x) => sys.error(s"unknown unary op $op")
    case IsNull(x, negated) =>
      // an unmatched OPTIONAL entity is a struct of all-null FIELDS, never a
      // null struct — its existence test is the id column (as count() does)
      val c = x match {
        case Variable(v) if entityVar(v).isDefined => idOf(v)
        case _ => compile(x)
      }
      if (negated) c.isNotNull else c.isNull
    case InList(x, list, negated) =>
      val c = array_contains(compile(list), compile(x))
      if (negated) !c else c
    case _: PatternPred => sys.error(
      "EXISTS pattern predicates are only supported as top-level WHERE " +
        "conjuncts (optionally under NOT) — they compile to semi/anti " +
        "joins, not scalar columns")
    case _: PatternComp | _: CountSub => sys.error(
      "pattern comprehensions and COUNT {} subqueries are only supported " +
        "inside RETURN/WITH projection items — the planner hoists them " +
        "into aggregating joins, not scalar columns")
    case CaseExpr(whens, otherwise) =>
      val first = when(truthyExpr(whens.head._1), compile(whens.head._2))
      val chained = whens.tail.foldLeft(first) { case (acc, (w, t)) =>
        acc.when(truthyExpr(w), compile(t))
      }
      otherwise.map(o => chained.otherwise(compile(o))).getOrElse(chained)
    case MapProjection(v, items) =>
      val vi = scope.vars.getOrElse(v, sys.error(s"unbound variable: $v"))
      require(vi.kind != VarKind.Value,
        s"map projection needs a node or edge variable: $v")
      val fields = items.flatMap {
        case MapProjProp(k) => Seq(compileProp(Prop(Variable(v), k)).as(k))
        case MapProjKV(k, e) => Seq(compile(e).as(k))
        case MapProjAll =>
          // schemaless = the only real property column is the JSON blob;
          // an unlabeled scan adds "label" beside it, which must not
          // bypass the guard (it would splat the raw JSON string as one
          // field named "properties")
          if (vi.props.filterNot(_ == "label") == Seq("properties")) sys.error(
            "map projection .* needs typed properties; use properties(n) on a schemaless entity")
          else vi.props.filterNot(_ == "label")
            .map(pr => col(Scope.colName(v, pr)).as(pr))
      }
      struct(fields.toIndexedSeq: _*)
    case ListComp(v, listE, whereE, projE) =>
      val (base, elemT) = listAndElemType(listE, "list comprehension")
      val filtered = whereE match {
        case Some(w) => filter(base, x => withLocal(v, x, elemT).truthyExpr(w))
        case None => base
      }
      projE match {
        case Some(pe) => transform(filtered, x => withLocal(v, x, elemT).compile(pe))
        case None => filtered
      }
    case ReduceExpr(accV, initE, v, listE, bodyE) =>
      val (base, elemT) = listAndElemType(listE, "reduce")
      val init = compile(initE)
      val accT = dtype(init)
      // the merge lambda must return the accumulator's type (Spark
      // aggregate() contract) — the body casts back each step, so an
      // integer accumulator stays integral (Cypher promotes instead;
      // start from a float init for float accumulation)
      aggregate(base, init, (acc, x) =>
        new ExprCompiler(scope, params,
          locals + (accV -> (acc, accT)) + (v -> (x, elemT)))
          .compile(bodyE).cast(accT))
    case ListPred(kind, v, listE, predE) =>
      val (base, elemT) = listAndElemType(listE, kind)
      def pred(x: Column) = withLocal(v, x, elemT).truthyExpr(predE)
      kind match {
        case "any" => exists(base, x => pred(x))
        case "all" => forall(base, x => pred(x))
        case "none" => !exists(base, x => pred(x))
        case "single" => size(filter(base, x => pred(x))) === 1
      }
  }

  private def withLocal(name: String, arg: Column, t: DataType): ExprCompiler =
    new ExprCompiler(scope, params, locals + (name -> (arg, t)))

  private def listAndElemType(listE: Expr, what: String): (Column, DataType) = {
    val base = compile(listE)
    dtype(base) match {
      case ArrayType(t, _) => (base, t)
      case other => sys.error(s"$what needs a list, got $other")
    }
  }

  /** Property access a.b.c — typed column for labeled entities, JSON path
    * for schemaless ones, struct field for map values.
    */
  private def compileProp(p: Prop): Column = {
    def chain(e: Expr): (Expr, List[String]) = e match {
      case Prop(b, k) => val (root, path) = chain(b); (root, path :+ k)
      case other => (other, Nil)
    }
    val (root, path) = chain(p)
    root match {
      case Variable(v) if entityVar(v).isDefined =>
        val vi = scope.vars(v)
        val key = path.head
        val base: Column =
          if (vi.props.contains(key)) col(Scope.colName(v, key))
          else if (vi.props.contains("properties"))
            get_json_object(col(Scope.colName(v, "properties")), "$." + key)
          else lit(null)
        path.tail.foldLeft(base)((c, k) => navigate(c, k))
      case _ =>
        path.foldLeft(compile(root))((c, k) => navigate(c, k))
    }
  }

  private def navigate(c: Column, key: String): Column = dtype(c) match {
    case _: StructType => c.getField(key)
    case _: MapType => element_at(c, key)
    case StringType => get_json_object(c, "$." + key)
    case _ => lit(null)
  }

  private def compileFn(f: FnCall): Column = {
    // the AST keeps the user's spelling for output naming; openCypher
    // function names are case-insensitive, so dispatch on lowercase
    val FnCall(rawName, args, distinct) = f
    val name = rawName.toLowerCase
    def a0 = compile(args.head)
    /** aggregate arg: a bare entity var aggregates over its id (null for
      * unmatched OPTIONAL rows, so count(n) skips them correctly).
      */
    def aggArg = args.headOption match {
      case Some(Variable(v)) if entityVar(v).isDefined => idOf(v)
      case Some(other) => compile(other)
      case None => sys.error(s"$name() needs an argument")
    }
    name match {
      case "count" =>
        if (distinct) count_distinct(aggArg) else count(aggArg)
      case "sum" => if (distinct) sum_distinct(aggArg) else sum(aggArg)
      case "avg" => avg(aggArg)
      case "min" => min(aggArg)
      case "max" => max(aggArg)
      case "collect" =>
        // collect of a bare entity gathers the entity as a STRUCT of its
        // columns (openCypher returns nodes, not ids); the id-null guard
        // keeps unmatched OPTIONAL rows out (an unmatched entity is a
        // struct of null FIELDS, which collect_list would keep)
        val collectArg = args.headOption match {
          case Some(Variable(v)) if entityVar(v).isDefined =>
            when(idOf(v).isNotNull, entityStruct(v))
          case _ => aggArg
        }
        if (distinct) collect_set(collectArg) else collect_list(collectArg)
      case "stdev" => stddev_samp(aggArg)
      case "id" => args.head match {
        case Variable(v) if entityVar(v).isDefined => idOf(v)
        case _ => a0.getField("id")
      }
      case "labels" | "label" | "type" => args.head match {
        case Variable(v) if entityVar(v).isDefined => col(Scope.colName(v, "label"))
        case _ => a0.getField("label")
      }
      // __start/__end carry the edge's STORED orientation — src/dst are
      // traversal-oriented and arrive swapped for incoming/undirected hops
      case "startnode" => args.head match {
        case Variable(v) => col(Scope.colName(v, "__start"))
        case _ => a0.getField("__start")
      }
      case "endnode" => args.head match {
        case Variable(v) => col(Scope.colName(v, "__end"))
        case _ => a0.getField("__end")
      }
      case "properties" => args.head match {
        case Variable(v) if entityVar(v).isDefined =>
          val vi = scope.vars(v)
          if (vi.props == Seq("properties")) col(Scope.colName(v, "properties"))
          else to_json(struct(vi.props.filterNot(_ == "label")
            .map(pr => col(Scope.colName(v, pr)).as(pr)).toIndexedSeq: _*))
        case _ => to_json(a0)
      }
      // openCypher: length(p) counts a path's relationships, one fewer than
      // its vertex list; on strings and lists it is the size
      case "length" if isPathVar(args.head) =>
        when(a0.isNotNull, size(a0) - 1).cast("long")
      case "size" | "length" =>
        if (isStringT(a0)) length(a0) else size(a0).cast("long")
      case "coalesce" => coalesce(args.map(compile).toIndexedSeq: _*)
      case "tostring" => a0.cast("string")
      case "tointeger" | "toint" =>
        if (isStringT(a0)) a0.cast("double").cast("long") else a0.cast("long")
      case "tofloat" => a0.cast("double")
      case "toboolean" => a0.cast("boolean")
      case "abs" => abs(a0)
      case "round" => round(a0)
      case "floor" => floor(a0).cast("double")
      case "ceil" => ceil(a0).cast("double")
      case "sqrt" => sqrt(a0)
      case "sign" => signum(a0).cast("long")
      case "toupper" | "upper" => upper(a0)
      case "tolower" | "lower" => lower(a0)
      case "trim" => trim(a0)
      case "ltrim" => ltrim(a0)
      case "rtrim" => rtrim(a0)
      case "reverse" => reverse(a0)
      // LITERAL string replacement (not regex — '.' must not match-all)
      case "replace" => replace(a0, compile(args(1)), compile(args(2)))
      case "split" => args(1) match {
        // Cypher split takes a LITERAL delimiter; Spark's split takes a
        // regex, so quote it (\Q..\E)
        case StrLit(d) => split(a0, java.util.regex.Pattern.quote(d))
        case _ => sys.error("split() delimiter must be a string literal")
      }
      case "substring" =>
        val start = compile(args(1)) + lit(1)
        if (args.length > 2) a0.substr(start, compile(args(2)))
        else a0.substr(start, length(a0))
      case "left" => a0.substr(lit(1), compile(args(1)))
      case "right" => a0.substr(length(a0) - compile(args(1)) + lit(1), compile(args(1)))
      case "range" =>
        if (args.length > 2) sequence(compile(args(0)), compile(args(1)), compile(args(2)))
        else sequence(compile(args(0)), compile(args(1)))
      case "head" => element_at(a0, 1)
      case "last" => element_at(a0, -1)
      // a path variable IS its vertex-id sequence in this engine, so
      // nodes(p) is the identity on the bound array (openCypher surface).
      // Restricted to array-valued arguments: nodes(n) on a node variable
      // (or any scalar) must fail loudly like every other type error here,
      // not silently return its argument
      case "nodes" =>
        args.head match {
          case Variable(v) if entityVar(v).isDefined =>
            sys.error(s"nodes() takes a path, not a node/relationship variable: $v")
          case _ => ()
        }
        if (!isArrayT(a0)) sys.error("nodes() takes a path (vertex-id array) argument")
        a0
      // relationships(p): the edge-id sequence of a MATCH-assigned path
      // (`p = (a)-[*1..2]->(b)` binds both lists; reference GraphPath
      // carries the edge sequence too, types/path.rs:33-40). shortestPath
      // paths bind vertex ids only — the error says which form to use.
      case "relationships" =>
        args.head match {
          case Variable(v) if scope.vars.get(v).exists(vi =>
              vi.kind == VarKind.Value && vi.props.contains("rels")) =>
            col(Scope.colName(v, "rels"))
          case Variable(v) if entityVar(v).isDefined =>
            sys.error(s"relationships() takes a path, not a node/relationship variable: $v")
          case _ => sys.error("relationships() takes a MATCH-assigned path " +
            "variable (p = (a)-[*..k]->(b)); shortestPath paths carry vertex " +
            "ids only — use nodes(p)")
        }
      case "keys" => args.head match {
        // keys(n) on an entity = names of its PRESENT properties: typed
        // columns that are non-null on this row (a REMOVE nulls the
        // column, so null = absent, matching openCypher), or the JSON
        // keys for a schemaless entity
        case Variable(v) if entityVar(v).isDefined =>
          val vi = scope.vars(v)
          if (vi.props == Seq("properties"))
            json_object_keys(col(Scope.colName(v, "properties")))
          else array_compact(array(vi.props.filterNot(_ == "label").map(pr =>
            when(col(Scope.colName(v, pr)).isNotNull, lit(pr))).toIndexedSeq: _*))
        case _ =>
          if (isStringT(a0)) json_object_keys(a0)
          else map_keys(a0)
      }
      case "exists" => compile(args.head).isNotNull
      case other => sys.error(s"unknown function: $other (reference rejects unknown functions too, match_executor.rs:458-462)")
    }
  }

  private def compileBin(op: String, le: Expr, re: Expr): Column = {
    // entity = entity compares ids
    (le, re) match {
      case (Variable(a), Variable(b))
          if (op == "=" || op == "<>") && entityVar(a).isDefined && entityVar(b).isDefined =>
        return if (op == "=") idOf(a) === idOf(b) else idOf(a) =!= idOf(b)
      case _ =>
    }
    lazy val l = compile(le)
    lazy val r = compile(re)
    op match {
      case "AND" => truthyExpr(le) && truthyExpr(re)
      case "OR" => truthyExpr(le) || truthyExpr(re)
      case "XOR" => truthyExpr(le) =!= truthyExpr(re)
      case "=" => l === r
      case "<>" => l =!= r
      case "<" => l < r
      case ">" => l > r
      case "<=" => l <= r
      case ">=" => l >= r
      case "=~" => re match {
        case StrLit(s) => l.rlike(s)
        case _ => sys.error("=~ needs a string-literal regex")
      }
      case "STARTS WITH" => l.startsWith(r)
      case "ENDS WITH" => l.endsWith(r)
      case "CONTAINS" => l.contains(r)
      case "+" =>
        if (isStringT(l) || isStringT(r)) concat(l.cast("string"), r.cast("string"))
        else if (isArrayT(l)) concat(l, r)
        else l + r
      case "-" => l - r
      case "*" => l * r
      case "/" =>
        // Cypher/reference semantics: integer / integer = integer division,
        // and integer division by zero is an ERROR (match_executor.rs:580-591)
        // — Spark's silent NULL would diverge. Float division keeps Spark
        // semantics (SURVEY §8).
        if (isIntegralT(l) && isIntegralT(r)) {
          val guarded = when(r === lit(0), raise_error(lit("division by zero"))).otherwise(r)
          // SQL `div`, not (l / r).cast: Spark's `/` on longs goes through a
          // double, losing exactness past 2^53
          call_function("div", l, guarded)
        } else l / r
      case "%" =>
        if (isIntegralT(l) && isIntegralT(r))
          l % when(r === lit(0), raise_error(lit("modulo by zero"))).otherwise(r)
        else l % r
      case "^" => pow(l, r)
      case other => sys.error(s"unknown operator: $other")
    }
  }

  /** A property chain a.k1.k2... rooted at a schemaless entity variable —
    * the whole chain lives in the JSON properties column, any depth.
    * (If the FIRST key is a typed column, navigation goes through Spark
    * types instead and the typed truthy() handles it.)
    */
  private object JsonPropChain {
    def unapply(e: Expr): Option[(String, List[String])] = {
      def chain(x: Expr): Option[(String, List[String])] = x match {
        case Prop(b, k) => chain(b).map { case (v, ks) => (v, ks :+ k) }
        case Variable(v) => Some((v, Nil))
        case _ => None
      }
      chain(e).filter { case (v, keys) =>
        keys.nonEmpty && entityVar(v).exists(vi =>
          !vi.props.contains(keys.head) && vi.props.contains("properties"))
      }
    }
  }

  /** Truthiness with the AST in hand: a schemaless (JSON-backed) property
    * must be decoded by its JSON type, exactly as the reference parses JSON
    * properties into typed values before is_truthy (match_executor.rs
    * Value::Boolean/Integer/Float/String). A text decode (get_json_object)
    * cannot do this — it strips quotes, so JSON `false` and the non-empty
    * (hence truthy) string `"false"` become the same text. VARIANT keeps
    * the JSON type: boolean passes through, numbers compare to zero,
    * string/list/map are truthy iff non-empty, null/missing stay NULL.
    * Applies to chains of any depth (n.meta.enabled) — the whole chain
    * is one variant path.
    */
  def truthyExpr(e: Expr): Column = e match {
    case JsonPropChain(v, keys) =>
      val vcol = try_parse_json(col(Scope.colName(v, "properties")))
      val path = "$." + keys.mkString(".")
      val node = try_variant_get(vcol, path, "variant")
      val typ = schema_of_variant(node)
      val asStr = try_variant_get(vcol, path, "string")
      when(node.isNull || is_variant_null(node), lit(null).cast("boolean"))
        .when(typ === "BOOLEAN", try_variant_get(vcol, path, "boolean"))
        .when(typ === "BIGINT" || typ === "DOUBLE" || typ.startsWith("DECIMAL"),
          try_variant_get(vcol, path, "double") =!= 0)
        .when(typ.startsWith("ARRAY"), asStr =!= "[]")
        .when(typ.startsWith("OBJECT"), asStr =!= "{}")
        .otherwise(length(asStr) > 0) // STRING: non-empty truthy, even "false"/"0"
    case _ => truthy(compile(e))
  }

  /** Cypher truthiness for WHERE on non-boolean values (reference
    * match_executor.rs:702-716): null/0/''/[] are false. Booleans pass
    * through (3-valued logic preserved).
    */
  def truthy(c: Column): Column = dtype(c) match {
    case BooleanType => c
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         _: DecimalType => c =!= 0
    case StringType => length(c) > 0
    case _: ArrayType => size(c) > 0
    case NullType => lit(null).cast("boolean")
    case _ => c.isNotNull
  }
}
