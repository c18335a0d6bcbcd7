package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.compact

import graft.algorithms.{GraphAlgorithms, Traversals}
import graft.cypher.{CypherSession, Parser}
import graft.pipeline.Dedup
import graft.store.GraphStore

/** The JVM side of the benchmark: one closed-loop client driving graft's
  * public API over inputs made by gen.py.
  *
  *   Harness --workload W --data DIR[,DIR...] --out DIR --scratch DIR
  *           --seconds S --trace 0|1 --cores N
  *           [--ops FILE --warm N] [--param k=v ...]
  *
  * Each --data directory is one set-up repetition (a load); the last
  * one's store serves the warm-up (the first N statements of the --ops
  * stream) and the measured phase. Results and timings go to
  * OUT/result.json for run.py to check and summarise; with --trace 1 the
  * spans and per-op layer counters go to OUT/trace.json.
  */
object Harness {

  /** A JSON object built field by field, in insertion order. */
  type Fields = mutable.LinkedHashMap[String, JValue]

  def obj(f: Fields): JObject = JObject(f.toList)

  /** A result value as JSON: integers stay integers, NaN becomes null. */
  def jv(v: Any): JValue = v match {
    case null => JNull
    case s: String => JString(s)
    case d: Double => if (d.isNaN || d.isInfinite) JNull else JDouble(d)
    case f: Float => jv(f.toDouble)
    case b: Boolean => JBool(b)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case n: java.lang.Number => JLong(n.longValue)
    case s: scala.collection.Seq[_] => JArray(s.map(jv).toList)
    case o => JString(o.toString)
  }

  def main(argv: Array[String]): Unit = {
    val args = mutable.Map[String, String]()
    val params = mutable.Map[String, String]()
    argv.grouped(2).foreach {
      case Array("--param", kv) => val Array(k, v) = kv.split("=", 2); params(k) = v
      case Array(k, v) if k.startsWith("--") => args(k.drop(2)) = v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }
    val workload = args("workload")
    val cores = args("cores")
    val traced = args("trace") == "1"
    val out = new File(args("out"))
    out.mkdirs()

    val t0 = System.nanoTime()
    val spark = session(cores, args("scratch"))
    val sessionMs = ms(t0)
    val trace = if (traced) Some(new Trace(spark)) else None
    trace.foreach(_.attach())

    val res: Fields = mutable.LinkedHashMap("session_start_ms" -> JDouble(sessionMs))
    val run = new Run(spark, trace, res, args("seconds").toDouble)
    workload match {
      case "cypher_read" | "cypher_mixed" =>
        run.cypher(args("data").split(","), readOps(args("ops")), args("warm").toInt)
      case "analytics" => run.analytics(args("data").split(","), params.toMap)
      case w => sys.error(s"unknown workload $w")
    }
    trace.foreach { tr =>
      res("log_error_events") = JDouble(tr.snapshot().getOrElse("log.error_events", 0.0))
      res("log_errors") = jv(tr.errorLines)
    }
    write(new File(out, "result.json"), compact(obj(res)))
    trace.foreach(_ => write(new File(out, "trace.json"), compact(run.traceJson)))
    spark.stop()
  }

  /** The session profile graft.Bench uses: codegen stage id off, Janino
    * cache 4096, AQE on, shuffle partitions = cores. Spill and temp files
    * stay under `scratch`. */
  def session(cores: String, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Op(kind: String, tpl: String, text: String)

  def readOps(path: String): IndexedSeq[Op] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map { l =>
      val Array(k, t, text) = l.split("\t", 3); Op(k, t, text)
    }.toIndexedSeq
    finally src.close()
  }

  def ms(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e6

  def write(f: File, s: String): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.write(s) finally w.close()
  }

  def heapRetainedMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

final class Run(spark: SparkSession, trace: Option[Trace], res: Harness.Fields,
    seconds: Double) {
  import Harness._
  private val sc = spark.sparkContext
  private val spans = new Spans
  private val perOp = mutable.ArrayBuffer[JValue]()

  def traceJson: JValue = JObject(
    "spans" -> JArray(spans.spans.toList.map { s =>
      JObject("name" -> JString(s.name), "start_ms" -> JDouble(s.startNs / 1e6),
        "end_ms" -> JDouble(s.endNs / 1e6), "parent" -> JLong(s.parent),
        "op" -> JLong(s.op))
    }),
    "ops" -> JArray(perOp.toList))

  private def load(dir: String): GraphStore = {
    val store = GraphStore.load(spark, dir)
    (store.vertexTables.values ++ store.edgeTables.values).foreach(_.count())
    store
  }

  /** Time `body` as one operation; with tracing, record its span and the
    * layer-counter delta it caused. */
  private def timed[T](op: Int, name: String, extra: Fields => Unit = _ => ())
      (body: => T): (T, Double) = trace match {
    case None =>
      val t0 = System.nanoTime()
      val r = body
      (r, ms(t0))
    case Some(tr) =>
      val before = tr.snapshot()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = spans(name, op)(body)
      val took = ms(t0)
      val wall1 = System.currentTimeMillis()
      val d = Trace.delta(tr.snapshot(), before)
      val busy = tr.busyMs(wall0, wall1)
      val j: Fields = mutable.LinkedHashMap(
        "op" -> JLong(op), "name" -> JString(name), "ms" -> JDouble(took))
      d.toSeq.sortBy(_._1).foreach { case (k, v) => j(k) = jv(v) }
      j("scheduler.job_active_ms") = JDouble(busy)
      j("driver.gap_ms") = JDouble(math.max(0.0, (wall1 - wall0) - busy))
      extra(j)
      perOp += obj(j)
      (r, took)
  }

  private def rowsJson(rows: Seq[Row]): JValue = JArray(rows.toList.map(r => jv(r.toSeq)))

  private def planNodes(store: GraphStore): Int =
    (store.vertexTables.values ++ store.edgeTables.values)
      .map(_.queryExecution.logical.map(_ => 1).sum).sum

  def cypher(dirs: Seq[String], ops: IndexedSeq[Op], warm: Int): Unit = {
    val base = sc.getPersistentRDDs.keySet
    cypherPhases(dirs, ops, warm)
    leakCheck(base)
  }

  /** Set-up repetitions: load each copy of the inputs (the last one's
    * store is kept). */
  private def loadReps(dirs: Seq[String]): GraphStore = {
    var store: GraphStore = null
    res("setup") = JArray(dirs.zipWithIndex.toList.map { case (dir, rep) =>
      val t0 = System.nanoTime()
      store = load(dir)
      JObject("rep" -> JLong(rep), "load_ms" -> JDouble(ms(t0)))
    })
    store
  }

  private def cypherPhases(dirs: Seq[String], ops: IndexedSeq[Op], warm: Int): Unit = {
    val session = new CypherSession(spark, loadReps(dirs))
    val t0 = System.nanoTime()
    val results = mutable.ArrayBuffer[JValue]()
    results ++= (0 until warm).map(i => execute(session, ops(i), i, record = false))
    res("warmup_ms") = JDouble(ms(t0))
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var i = warm
    while (System.nanoTime() < deadline && i < ops.length) {
      results += execute(session, ops(i), i, record = true)
      i += 1
    }
    require(i < ops.length, "op stream exhausted before the deadline")
    res("measured_ms") = JDouble(ms(start))
    res("measured_ops") = JLong(i - warm)
    res("ops") = JArray(results.toList)
    retained()
  }

  /** Run one statement and collect its rows. Errors are recorded, not
    * thrown: they count as failed operations. */
  private def execute(session: CypherSession, op: Op, i: Int, record: Boolean): JValue = {
    val j: Fields = mutable.LinkedHashMap(
      "i" -> JLong(i), "kind" -> JString(op.kind), "tpl" -> JString(op.tpl))
    def span[T](name: String)(b: => T): T = if (trace.isDefined) spans(name, i)(b) else b
    def body: Seq[Row] = {
      // traced runs parse once more on their own, to time the parser alone
      if (trace.isDefined) span("cypher.parse")(Parser.parse(op.text))
      val df = span("cypher.run")(session.run(op.text))
      span("exec")(df.collect().toSeq)
    }
    try {
      // auto-compaction shows as a write after which the store's plan shrank
      val nodesBefore = if (trace.isDefined && op.kind != "read") planNodes(session.store) else 0
      val (rows, took) =
        if (record) timed(i, op.tpl, tj => if (op.kind != "read")
          tj("store.compacted") = JLong(if (planNodes(session.store) < nodesBefore) 1 else 0))(body)
        else { val t0 = System.nanoTime(); val r = body; (r, ms(t0)) }
      j("ms") = JDouble(took)
      j("n") = JLong(rows.size)
      j("rows") = rowsJson(rows)
    } catch {
      case t: Throwable => j("error") = JString(t.toString.take(300))
    }
    obj(j)
  }

  /** Memory held at the end of the measured phase, the workload's objects
    * still live: heap after a full GC, and cached / checkpointed blocks. */
  private def retained(): Unit = {
    res("heap_retained_mb") = JDouble(heapRetainedMb())
    res("storage_memory_mb") = JDouble(sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
  }

  /** Checkpoint hygiene, once the workload's objects (session, store,
    * results) are unreachable: after a GC the persisted-RDD set must be the
    * one the workload started with. SparkContext tracks persisted RDDs by
    * weak reference, so what remains is held by the program itself. */
  private def leakCheck(base: scala.collection.Set[Int]): Unit = {
    def leaked = sc.getPersistentRDDs.keySet -- base
    val until = System.nanoTime() + 3000000000L
    System.gc()
    while (leaked.nonEmpty && System.nanoTime() < until) { Thread.sleep(100); System.gc() }
    res("persisted_rdds_delta") = JLong(leaked.size)
  }

  def analytics(dirs: Seq[String], p: Map[String, String]): Unit = {
    val base = sc.getPersistentRDDs.keySet
    analyticsPass(dirs, p)
    leakCheck(base)
  }

  private def analyticsPass(dirs: Seq[String], p: Map[String, String]): Unit = {
    val store = loadReps(dirs)
    res("warmup_ms") = JDouble(0)
    val dir = dirs.last
    val docs = spark.read.parquet(s"$dir/docs")
    val follows = store.edgeTables("FOLLOWS")
    val e = follows.select("src", "dst")
    import spark.implicits._
    def rows(df: DataFrame) = df.collect().toSeq
    val calls: Seq[(String, () => Any)] = Seq(
      "algorithms.louvainLevels" -> (() => {
        val (df, levels) = GraphAlgorithms.louvainLevels(e,
          maxLevels = p("louvain_levels").toInt, sweepsPerLevel = p("louvain_sweeps").toInt)
        (df.collect().toSeq, levels)
      }),
      "algorithms.stronglyConnectedComponents" ->
        (() => rows(GraphAlgorithms.stronglyConnectedComponents(e))),
      "algorithms.kCore" -> (() => rows(GraphAlgorithms.kCore(e, p("kcore_k").toInt))),
      "algorithms.pageRankStable" -> (() => rows(GraphAlgorithms.pageRankStable(e, 10))),
      "algorithms.bfsDistances" -> (() => rows(Traversals.bfsDistances(
        e, Seq(p("bfs_source").toLong).toDF("id"), p("bfs_hops").toInt))),
      "algorithms.bidirWeightedDistance" -> (() => (Traversals.bidirWeightedDistance(
        follows.select("src", "dst", "weight"), p("wsrc").toLong, p("wdst").toLong))),
      "algorithms.connectedComponents" ->
        (() => rows(GraphAlgorithms.connectedComponents(spark, e))),
      "algorithms.kTruss" -> (() => rows(GraphAlgorithms.kTruss(e, p("ktruss_k").toInt))),
      "pipeline.nearDupClusters" -> (() => rows(Dedup.nearDupClusters(
        docs, "id", "text", p("jaccard").toDouble))))
    val start = System.nanoTime()
    val results = calls.zipWithIndex.map { case ((name, call), i) =>
      val j: Fields = mutable.LinkedHashMap(
        "i" -> JLong(i), "kind" -> JString("call"), "tpl" -> JString(name))
      try {
        val (value, took) = timed(i, name)(call())
        j("ms") = JDouble(took)
        value match {
          case (rs: Seq[Row] @unchecked, levels: Int) =>
            j("levels") = JLong(levels); j("n") = JLong(rs.size); j("rows") = rowsJson(rs)
          case rs: Seq[Row] @unchecked => j("n") = JLong(rs.size); j("rows") = rowsJson(rs)
          case d: Option[_] => j("n") = JLong(1); j("rows") = d.map(jv).getOrElse(JNull)
        }
      } catch {
        case t: Throwable => j("error") = JString(t.toString.take(300))
      }
      obj(j)
    }
    res("measured_ms") = JDouble(ms(start))
    res("measured_ops") = JLong(calls.size)
    res("ops") = JArray(results.toList)
    retained()
  }
}
