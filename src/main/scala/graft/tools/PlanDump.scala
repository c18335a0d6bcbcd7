package graft.tools

import java.nio.file.{Files, Paths}

/** Dump the FINAL (post-AQE) physical plan of named declared queries to
  * text files — the r19 optimization-round evidence format
  * (`plans/r19/<query>_<tag>.txt`). Args: <sfDir> <outDir> <tag> <q1,q2,...>.
  * Each file holds `explain("formatted")` of the query's returned frame
  * plus the executed plan after one collect (AQE final shape). Iterative
  * operators whose public surface returns a materialized checkpoint
  * additionally dump the inner lazy plan where one is exposed
  * (louvainSweepPlan).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println("usage: PlanDump <sfDir> <outDir> <tag> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, tag, qcsv) = args.take(4)
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    qcsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val sb = new StringBuilder
      name match {
        case "louvain_sweep_plan" =>
          // the inner lazy sweep plan (the public gate returns a
          // materialized checkpoint, which explains as a bare LogicalRDD)
          import org.apache.spark.sql.functions._
          val g = graft.store.GraphStore.tpch(spark, sfDir)
          val und = g.allEdges.select(col("src"), col("dst"))
          val lbl = graft.algorithms.GraphAlgorithms.labelPropagation(und, iters = 2)
          val plan = graft.algorithms.GraphAlgorithms.louvainSweepPlan(
            und, lbl, graft.algorithms.GraphAlgorithms.BroadcastVertexRows)
          sb.append("== explain(formatted) of the lazy Louvain sweep plan ==\n")
          sb.append(plan.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          plan.collect()
          sb.append("\n== executed (final adaptive) plan ==\n")
          sb.append(plan.queryExecution.executedPlan.toString)
        case q =>
          val df = graft.SparkEntry.queries(q)(spark, sfDir)
          sb.append(s"== explain(formatted) ==\n")
          sb.append(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          df.collect()
          sb.append("\n== executed (final adaptive) plan ==\n")
          sb.append(df.queryExecution.executedPlan.toString)
      }
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), sb.toString)
      println(s"dumped $name -> $outDir/${name}_$tag.txt")
      graft.Session.sweep(spark)
    }
    spark.stop()
  }
}
