package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** A literal whose value is a parameter of the generated code, not part of
  * its text.
  *
  * Spark inlines a primitive literal into the Java it generates (`5L`), so
  * two statements that differ only in a key compile two classes, and a
  * long-lived session serving `{uid: k}` reads compiles a fresh class per
  * key that never gets JIT-warm. This literal generates a field read from
  * the plan's `references` array instead, so the source text — the Janino
  * cache key — is the same for every value and the compiled class is
  * reused. Strings and other object-typed literals already take that path
  * in Spark; here it is extended to the primitive types.
  *
  * It is still a `Literal`: constant folding, parquet filter pushdown,
  * `OptimizeIn` and interpreted evaluation see an ordinary literal. A
  * fold that computes a NEW literal from it (`k + 1`) yields a plain,
  * inlined one.
  */
final class ParamLiteral(value: Any, dataType: DataType)
    extends Literal(value, dataType) {

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "param",
        v => s"$v = $boxed.${javaType}Value();")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }
}

object ParamLiteral {

  /** `v` as a column: a [[ParamLiteral]] for primitive-typed values, an
    * ordinary literal otherwise (strings are already parameters). */
  def apply(v: Any): Column = {
    val l = Literal(v)
    GraftColumnBridge.column(
      if (CodeGenerator.isPrimitiveType(l.dataType)) new ParamLiteral(l.value, l.dataType)
      else l)
  }
}
