package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkSessionExtensions registration: the custom DotProduct expression is
  * callable from SQL text, not just the Column API. The suite gets the
  * SHARED spec session, created without extensions, where withExtensions
  * would silently no-op — GraftExtensions.register covers that path, and
  * exercising it here is the point: it is what any shared-session consumer
  * must call.
  */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {

  test("dot_product callable from SQL and codegen'd") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 32.0)
    val nulls = spark.sql(
      "SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS d")
      .collect()(0)
    assert(nulls.isNullAt(0))
  }
}
