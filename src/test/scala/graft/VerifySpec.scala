package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JArray, JObject, JString}
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Verify`'s gate loop: every gate's rows are written, and each
  * failure is recorded in failures.json.
  */
class VerifySpec extends AnyFunSuite with SparkSuite {

  def failures(out: String): String = Files.readString(Paths.get(out, "failures.json"))

  test("Verify records each failed gate in failures.json and still writes the others") {
    val out = Files.createTempDirectory("graft_verify").toString
    val gates: Seq[(String, SparkSession => DataFrame)] = Seq(
      "toy_ok" -> (s => s.range(3).toDF("x")),
      "toy_bad" -> (_ => throw new IllegalStateException("no table toy")))
    val failed = Verify.run(spark, gates, out)
    assert(failed.map(_._1) == Seq("toy_bad"))
    assert(parse(failures(out)) == JArray(List(JObject(
      "gate" -> JString("toy_bad"),
      "exception" -> JString("java.lang.IllegalStateException"),
      "message" -> JString("no table toy")))))
    assert(spark.read.parquet(s"$out/toy_ok").count() == 3)

    val clean = Files.createTempDirectory("graft_verify").toString
    assert(Verify.run(spark, gates.take(1), clean).isEmpty)
    assert(failures(clean) == "[]")
  }
}
