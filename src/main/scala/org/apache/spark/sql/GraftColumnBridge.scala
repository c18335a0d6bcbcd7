package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column<->Expression converters so the
  * engine can expose custom Catalyst expressions (graft.functions.*) as
  * user-facing Columns on Spark 4 (where `new Column(expr)` is gone), and
  * into the Dataset-from-plan factories.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over `rows`, which must be `origin`'s rows, planned like
    * `origin`: the same output attributes, statistics and partitioning.
    * This is the leaf `Dataset.checkpoint` builds, for an RDD the caller
    * persists itself, so the RDD keeps its lineage.
    */
  def ofRows(rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      origin: DataFrame): DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }

  /** A DataFrame over driver-held `rows` of `schema` (a LocalRelation):
    * projections and filters over it are evaluated while optimizing, with no
    * job.
    */
  def localRows(spark: SparkSession, schema: types.StructType,
      rows: Seq[catalyst.InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** `e` with NaN and -0.0 normalized, as Spark's aggregates key floats. */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  import org.apache.spark.sql.{internal => in}
  import org.apache.spark.sql.types.{ArrayType, DataType}

  /** The fresh name of a HOF lambda argument Column — `functions.transform`
    * and friends invoke the user's Scala function with a Column wrapping an
    * UnresolvedNamedLambdaVariable node; this surfaces its generated name.
    */
  def lambdaArgName(c: Column): Option[String] = c.node match {
    case v: in.UnresolvedNamedLambdaVariable => Some(v.name)
    case _ => None
  }

  /** Analyze `body`'s data type with lambda variables in scope. A column
    * that references a HOF lambda argument cannot be analyzed standalone
    * (`df.select` has no lambda binding), so the body is wrapped in nested
    * `transform(<typed null array>, <name> -> body)` calls DECLARING the
    * same argument names — the analyzer then re-binds them by name, and
    * the result type is unwrapped through the introduced array layers.
    * The wrap is built from catalyst nodes directly: the ColumnNode-level
    * LambdaFunction freshens its argument names on conversion (capture
    * avoidance), which would break the by-name re-binding.
    */
  def typeUnderLambdas(df: DataFrame, body: Column,
      args: Seq[(String, DataType)]): DataType = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform,
      LambdaFunction => CLambda, UnresolvedNamedLambdaVariable => CUnlv}
    val wrapped = args.foldLeft(body) { case (b, (name, t)) =>
      val lam = CLambda(expression(b), Seq(CUnlv(Seq(name))))
      val arr = functions.lit(null).cast(ArrayType(t))
      column(ArrayTransform(expression(arr), lam))
    }
    val res = df.select(wrapped).schema.head.dataType
    args.foldLeft(res)((t, _) => t.asInstanceOf[ArrayType].elementType)
  }
}
