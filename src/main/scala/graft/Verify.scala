package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JArray, JNull, JObject, JString}
import org.json4s.jackson.JsonMethods.compact
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failures.json, the gates that failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for profiling single queries locally;
    // the driver leaves it unset and dumps everything
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(",").map(_.trim).toSet)
    run(spark, SparkEntry.queries.toSeq
      .collect { case (n, fn) if only.forall(_.contains(n)) => n -> ((s: SparkSession) => fn(s, sfDir)) },
      outDir)
    val json = JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), compact(json))
    spark.stop()
  }

  /** Writes each gate's result to `outDir/<name>` (parquet), sweeping the
    * session after each (gates are independent), and `outDir/failures.json`:
    * one `{gate, exception, message}` per gate that threw, `[]` when none
    * did. Each failure is also printed to stderr. Returns the failures.
    */
  def run(spark: SparkSession, gates: Seq[(String, SparkSession => DataFrame)],
      outDir: String): Seq[(String, Throwable)] = {
    val failures = gates.flatMap { case (name, gate) =>
      val failed =
        try {
          gate(spark).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e)
        }
      Session.sweep(spark)
      failed
    }
    val json = JArray(failures.toList.map { case (name, e) =>
      JObject("gate" -> JString(name), "exception" -> JString(e.getClass.getName),
        "message" -> Option(e.getMessage).map(JString(_)).getOrElse(JNull))
    })
    Files.writeString(Paths.get(s"$outDir/failures.json"), compact(json))
    failures
  }
}
