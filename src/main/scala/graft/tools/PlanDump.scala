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
  *
  * `--cypher <storeDir> <statements> <outDir> <tag>` dumps Cypher
  * statements instead: see [[cypher]].
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--cypher") && args.length == 5) {
      cypher(args(1), args(2), args(3), args(4))
      return
    }
    if (args.length < 4) {
      System.err.println("usage: PlanDump <sfDir> <outDir> <tag> <q1,q2,...>\n" +
        "       PlanDump --cypher <storeDir> <statements> <outDir> <tag>")
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

  /** Plans of Cypher statements as a long-lived session runs them. One
    * `CypherSession` over the store saved in `storeDir` (GraphStore.save
    * layout) runs every statement of the `statements` file once, as a
    * client's warm-up would; then, per statement, `<outDir>/<name>_<tag>.txt`
    * gets its `CypherSession.explain` output and, after one more run, its
    * executed (final adaptive) plan. Each line of the file is
    * `name<TAB>statement`; blank lines and `--` comments are skipped. File
    * locations print relative to `<store>`, so dumps of one store made in
    * two checkouts compare line by line.
    */
  def cypher(storeDir: String, statements: String, outDir: String, tag: String): Unit = {
    import scala.jdk.CollectionConverters._
    val stmts = Files.readAllLines(Paths.get(statements)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("--"))
      .map { l =>
        val parts = l.split("\t", 2)
        require(parts.length == 2, s"$statements: expected name<TAB>statement, got: $l")
        (parts(0), parts(1))
      }
    val spark = graft.Session()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    val store = Paths.get(storeDir).toAbsolutePath.normalize.toString
    val session = new graft.cypher.CypherSession(spark,
      graft.store.GraphStore.load(spark, store))
    stmts.foreach { case (_, q) => session.run(q).collect() }
    stmts.foreach { case (name, q) =>
      val df = session.run(q)
      df.collect()
      val out = s"$outDir/${name}_$tag.txt"
      Files.writeString(Paths.get(out), (s"-- $q\n== CypherSession.explain ==\n" +
        session.explain(q) + "\n== executed (final adaptive) plan ==\n" +
        df.queryExecution.executedPlan.toString).replace(store, "<store>"))
      println(s"dumped $name -> $out")
    }
    spark.stop()
  }
}
