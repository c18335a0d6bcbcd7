package graft.cypher

import scala.collection.mutable
import scala.util.control.{ControlThrowable, NonFatal}

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._

/** The rest of a statement whose MATCH clauses (or shortestPath
  * endpoints) key lookups answered, evaluated on the driver where the binding rows already are (the
  * reference's `apply_return` over its materialized rows,
  * executor/mod.rs:295-360). Spark folds only Project, Filter and Limit over
  * a LocalRelation; an aggregate, DISTINCT, ORDER BY, join or UNION over one still
  * plans exchanges and runs jobs to shuffle a few dozen driver-held rows.
  *
  * [[fold]] evaluates the statement's optimized plan bottom-up with
  * Catalyst's own interpreted machinery (bound references, interpreted
  * projections, predicates and orderings, and each aggregate function's own
  * buffer API), so null handling, ANSI errors and result types are Spark's,
  * and hands back the rows as a LocalRelation: collecting it runs no job. It
  * evaluates Project, Filter, Sort, Limit, Offset, an inner or cross Join
  * (nested loops), Union, Aggregate (a
  * DISTINCT aggregate de-duplicates its inputs per group, a FILTER applies
  * per row), Expand (the optimizer's rewrite of several DISTINCT
  * aggregates) and Generate (UNWIND); it declines, keeping the DataFrame
  * plan for the whole statement, on any other node, a leaf that is no
  * LocalRelation, a nondeterministic or unevaluable expression, a subquery,
  * an expression that throws (its error is the DataFrame plan's to raise)
  * and any intermediate result of more than `maxRows` rows.
  *
  * Not an optimizer rule: one would act on every LocalRelation of every
  * plan, and a changed float reduction order there changes gate outputs.
  */
private[cypher] object LocalTail {

  def fold(df: DataFrame, maxRows: Long): DataFrame =
    try df.queryExecution.optimizedPlan match {
      case _: LocalRelation => df
      case plan =>
        if (plan.exists(_.expressions.exists(_.exists(unfoldable)))) throw Decline
        GraftColumnBridge.localRows(df.sparkSession, plan.schema, new Eval(maxRows)(plan))
    } catch {
      case Decline | NonFatal(_) => df
    }

  private object Decline extends ControlThrowable

  private def unfoldable(e: Expression): Boolean = e match {
    case _: Nondeterministic | _: SubqueryExpression => true
    case u: ScalaUDF => !u.udfDeterministic
    case _ => false
  }

  /** `es` bound to the positions of `input`; declines an expression that
    * cannot be evaluated.
    */
  private def bind[E <: Expression](es: Seq[E], input: Seq[Attribute]): Seq[E] = {
    val bound = BindReferences.bindReferences(es, input)
    if (bound.exists(_.exists {
      case _: SortOrder => false // evaluated by the ordering, its child by eval
      case e => e.isInstanceOf[Unevaluable]
    })) throw Decline
    bound
  }

  private def project(es: Seq[Expression], input: Seq[Attribute]): InternalRow => InternalRow =
    new InterpretedProjection(bind(es, input))

  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]

  private final class Eval(maxRows: Long) {

    private val cap = math.min(maxRows, Int.MaxValue - 1L).toInt + 1

    def apply(plan: LogicalPlan): Vector[InternalRow] = {
      val rows = node(plan).take(cap).toVector
      if (rows.length == cap) throw Decline
      rows
    }

    private def node(plan: LogicalPlan): Iterator[InternalRow] = plan match {
      case l: LocalRelation => l.data.iterator
      case Project(list, child) => apply(child).iterator.map(project(list, child.output))
      case Filter(cond, child) =>
        val keep = InterpretedPredicate(bind(Seq(cond), child.output).head)
        apply(child).iterator.filter(keep.eval)
      case s: Sort =>
        apply(s.child).sorted(new InterpretedOrdering(bind(s.order, s.child.output))).iterator
      case GlobalLimit(n, child) => apply(child).iterator.take(int(n))
      case LocalLimit(n, child) => apply(child).iterator.take(int(n))
      case Offset(n, child) => apply(child).iterator.drop(int(n))
      case Join(left, right, Inner | Cross, cond, _) =>
        val in = left.output ++ right.output
        val keep = cond.map(c => InterpretedPredicate(bind(Seq(c), in).head))
        val copy = project(in, in)
        val rs = apply(right)
        apply(left).iterator.flatMap(l => rs.iterator.map(new JoinedRow(l, _)))
          .filter(r => keep.forall(_.eval(r))).map(copy)
      case u: Union => u.children.iterator.flatMap(apply)
      case Expand(projections, _, child) =>
        val each = projections.map(project(_, child.output))
        apply(child).iterator.flatMap(r => each.iterator.map(_(r)))
      case g: Generate => generate(g)
      case a: Aggregate => aggregate(a)
      case _ => throw Decline
    }

    private def generate(g: Generate): Iterator[InternalRow] = {
      val gen = bind(Seq(g.generator), g.child.output).head
      val out = project(g.output, g.child.output ++ g.generatorOutput)
      val unmatched = new GenericInternalRow(g.generatorOutput.length)
      apply(g.child).iterator.flatMap { r =>
        val produced = gen.eval(r).iterator
        val rows = if (g.outer && !produced.hasNext) Iterator.single(unmatched) else produced
        rows.map(x => out(new JoinedRow(r, x)))
      }
    }

    /** The groups in order of first appearance, keyed like Spark's hash
      * aggregate: floating keys normalized, keys compared as UnsafeRows.
      */
    private def aggregate(a: Aggregate): Iterator[InternalRow] = {
      val PhysicalAggregation(grouping, aggs, results, child) = a: @unchecked
      val keyOf = InterpretedUnsafeProjection.createProjection(
        bind(grouping.map(GraftColumnBridge.normalizeFloats), child.output))
      val folds = aggs.map(new Folding(_, child.output))
      val groups = mutable.LinkedHashMap[UnsafeRow, Seq[Folding#State]]()
      apply(child).foreach { r =>
        groups.getOrElseUpdate(keyOf(r).copy(), folds.map(_.start())).foreach(_.update(r))
      }
      if (groups.isEmpty && grouping.isEmpty) groups(keyOf(InternalRow.empty).copy()) = folds.map(_.start())
      val out = project(results, grouping.map(_.toAttribute) ++ aggs.map(_.resultAttribute))
      groups.iterator.map { case (key, states) =>
        out(new JoinedRow(key, new GenericInternalRow(states.map(_.value).toArray)))
      }
    }
  }

  /** One aggregate expression folded over the rows of a group, through the
    * function's own buffer: a DeclarativeAggregate's initial, update and
    * evaluate expressions, or an ImperativeAggregate's initialize, update
    * and eval.
    */
  private final class Folding(ae: AggregateExpression, input: Seq[Attribute]) {
    if (ae.mode != Complete) throw Decline

    private val filter = ae.filter.map(f => InterpretedPredicate(bind(Seq(f), input).head))
    private val distinctOf = Option.when(ae.isDistinct)(InterpretedUnsafeProjection
      .createProjection(bind(ae.aggregateFunction.children.map(GraftColumnBridge.normalizeFloats), input)))

    /** A group's empty buffer, the buffer after one more row, the result. */
    private val (empty, step, result) = ae.aggregateFunction match {
      case d: DeclarativeAggregate =>
        val init = d.initialValues.toArray
        val update = bind(d.updateExpressions, d.aggBufferAttributes ++ input).toArray
        val evaluate = bind(Seq(d.evaluateExpression), d.aggBufferAttributes).head
        (() => new GenericInternalRow(init.map(_.eval())): InternalRow,
          (buf: InternalRow, r: InternalRow) => {
            val joined = new JoinedRow(buf, r)
            new GenericInternalRow(update.map(_.eval(joined))): InternalRow
          },
          (buf: InternalRow) => evaluate.eval(buf))
      case i: ImperativeAggregate =>
        val f = bind(Seq(i), input).head
          .withNewMutableAggBufferOffset(0).withNewInputAggBufferOffset(0)
        (() => {
          val buf = new GenericInternalRow(f.aggBufferAttributes.length)
          f.initialize(buf)
          buf: InternalRow
        },
          (buf: InternalRow, r: InternalRow) => { f.update(buf, r); buf },
          (buf: InternalRow) => f.eval(buf))
      case _ => throw Decline
    }

    def start(): State = new State

    final class State {
      private var buf = empty()
      private val seen = mutable.HashSet[UnsafeRow]()

      def update(r: InternalRow): Unit =
        if (filter.forall(_.eval(r)) && distinctOf.forall(p => seen.add(p(r).copy())))
          buf = step(buf, r)

      def value: Any = result(buf)
    }
  }
}
