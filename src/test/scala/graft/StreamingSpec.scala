package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.store.Tables
import graft.streaming.EventStreams

/** Structured Streaming correctness: the streaming windowed aggregate over
  * the events table must equal its batch equivalent once the (single) file
  * batch is processed; sessionization exercises flatMapGroupsWithState.
  */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  val sfDir = "/root/testdata/sf0.001"

  test("NTZ events.ts normalizes to the same instant on any session timezone") {
    import org.apache.spark.sql.functions._
    // write a TIMESTAMP_NTZ events file (the pandas-written shape), then
    // load it under UTC and under a +8 zone: the ingested instant must be
    // identical — the naive value read as a UTC wall clock — not shifted
    // by the session zone
    val dir = java.nio.file.Files.createTempDirectory("graft_ntz")
    val out = s"$dir/events.parquet"
    spark.range(1).select(
      lit(1L).as("event_id"),
      expr("timestamp_ntz '2024-03-01 12:00:00'").as("ts"),
      lit(7L).as("user_id"), lit("click").as("event_type"),
      lit(1.5).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(out)
    def micros(zone: String): Long = {
      val prev = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", zone)
      try Tables.load(spark, dir.toString, "events")
        .select(unix_micros(col("ts"))).head.getLong(0)
      finally spark.conf.set("spark.sql.session.timeZone", prev)
    }
    val utc = micros("UTC")
    assert(utc == java.time.Instant.parse("2024-03-01T12:00:00Z").toEpochMilli * 1000L)
    assert(micros("Asia/Shanghai") == utc)
    assert(micros("America/New_York") == utc)
  }

  test("streaming windowed agg equals batch on one file batch") {
    val stage = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(sfDir, "events.parquet"),
      stage.resolve("events.parquet"))
    val stream = EventStreams.readStream(spark, stage.toString)
    val agg = EventStreams.windowedStats(stream)
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("win_out")
      .select("window_start", "event_type", "n")
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.windowedStatsBatch(Tables.load(spark, sfDir, "events"))
      .select("window_start", "event_type", "n")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming HLL sketch: <=16 registers per window, sane estimate") {
    import org.apache.spark.sql.functions._
    val stage = java.nio.file.Files.createTempDirectory("events_hll")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(sfDir, "events.parquet"),
      stage.resolve("events.parquet"))
    val stream = EventStreams.readStream(spark, stage.toString)
    val q = EventStreams.windowedCardinalitySketch(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_out").start()
    try q.processAllAvailable() finally q.stop()
    val regs = spark.table("hll_out")
    // the state-bound claim: at most one row per (window, register)
    val maxRegs = regs.groupBy(col("window_start")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(maxRegs <= 16)
    // registers hold lowbit values only (powers of two)
    assert(regs.where(expr("lb <= 0 OR (lb & (lb - 1)) != 0")).count() == 0)
    val est = EventStreams.finishCardinality(regs)
      .collect().map(r => r.getTimestamp(0) -> r.getLong(2)).toMap
    val exact = Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(col("window.start"), col("n"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet && est.nonEmpty)
    // 16-register HLL is coarse and deliberately skips the small-range
    // correction (raw estimator ≈ α·r²/(r−n) ≈ 11–12 at n→1, identical
    // on both engines); the estimate must still be the right order of
    // magnitude once past that constant bias floor
    exact.foreach { case (w, n) =>
      val e = est(w)
      assert(e >= n / 4 && e <= n * 4 + 12, s"window $w: est $e vs exact $n")
    }
  }

  test("streaming Count-Min: state bounded by depth*width, bit-exact vs batch, never understates") {
    import org.apache.spark.sql.functions._
    val stage = java.nio.file.Files.createTempDirectory("events_cms")
    // 4 staged files + maxFilesPerTrigger=1 = four REAL micro-batches:
    // the sums must be cut-point-insensitive
    spark.read.parquet(s"$sfDir/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(stage.toString)
    val stream = EventStreams.readStream(spark, stage.toString,
      maxFilesPerTrigger = 1)
    val q = EventStreams.countMinSketch(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_out").start()
    try q.processAllAvailable() finally q.stop()
    val sketch = spark.table("cms_out")
    // state bound: at most depth*width counter rows, whatever the volume
    assert(sketch.count() <= 4L * 256L)
    // bit-exact vs the batch-built sketch over the same events
    val batch = EventStreams.countMinSketch(
        Tables.load(spark, sfDir, "events"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = sketch
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    // heavy-hitter read-off: estimates never understate the exact count
    val fin = EventStreams.finishCountMin(sketch,
        Tables.load(spark, sfDir, "events"))
      .collect()
    assert(fin.length == 10)
    fin.foreach(r => assert(r.getLong(3) >= r.getLong(2),
      s"cm_est ${r.getLong(3)} understates exact ${r.getLong(2)}"))
    // a finisher with mismatched build parameters would join foreign
    // buckets and could UNDERSTATE — rejected loudly where detectable
    val eD = intercept[IllegalArgumentException] {
      EventStreams.finishCountMin(sketch,
        Tables.load(spark, sfDir, "events"), depth = 8)
    }
    assert(eD.getMessage.contains("depth"), eD.getMessage)
    val eW = intercept[IllegalArgumentException] {
      EventStreams.finishCountMin(sketch,
        Tables.load(spark, sfDir, "events"), width = 64)
    }
    assert(eW.getMessage.contains("width"), eW.getMessage)
  }

  test("streaming dedup keeps one event per fingerprint, matching batch keys") {
    val stage = java.nio.file.Files.createTempDirectory("events_dedup")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(sfDir, "events.parquet"),
      stage.resolve("events.parquet"))
    val stream = EventStreams.readStream(spark, stage.toString)
    val deduped = EventStreams.dedupStream(stream, Seq("user_id", "event_type"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamedKeys = spark.table("dedup_out")
      .select("user_id", "event_type").collect().map(_.toSeq)
    val batchKeys = EventStreams.dedupBatch(
        Tables.load(spark, sfDir, "events"), Seq("user_id", "event_type"))
      .select("user_id", "event_type").collect().map(_.toSeq)
    // exactly one survivor per (user, type): same key set, no duplicates
    assert(streamedKeys.length == streamedKeys.toSet.size)
    assert(streamedKeys.toSet == batchKeys.toSet && streamedKeys.nonEmpty)
  }

  test("streaming dedup drops re-deliveries arriving in LATER micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two parquet files staged separately + maxFilesPerTrigger=1: the
    // duplicated fingerprint (7, click, 1.0) spans the batch boundary, so
    // only the cross-batch dedup STATE can drop the re-delivery — a
    // within-batch dropDuplicates would pass both
    val stage = java.nio.file.Files.createTempDirectory("events_dedup2")
    def put(rows: Seq[(Long, String, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", to_timestamp(col("ts")))
        .coalesce(1).write.mode("append").parquet(stage.toString)
    put(Seq((1L, "2024-01-01 10:00:00", 7L, "click", 1.0, "{}"),
      (2L, "2024-01-01 10:05:00", 8L, "view", 2.0, "{}")))
    put(Seq((3L, "2024-01-01 10:10:00", 7L, "click", 1.0, "{}"),
      (4L, "2024-01-01 10:15:00", 9L, "click", 3.0, "{}")))
    val q = EventStreams.dedupStream(
        EventStreams.readStream(spark, stage.toString, maxFilesPerTrigger = 1),
        Seq("user_id", "event_type", "value"), watermark = "10 hours")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_xbatch").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("dedup_xbatch")
      .select("user_id", "event_type", "value").collect().map(_.toSeq)
    assert(out.length == 3, out.toSeq)
    assert(out.toSet == Set(Seq(7L, "click", 1.0), Seq(8L, "view", 2.0),
      Seq(9L, "click", 3.0)))
  }

  test("sessionizeStream merges a session across the micro-batch boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 7: events at 10:00 and 10:10 land in DIFFERENT files (10 min
    // < 30-min gap -> ONE session of 3 once 10:20 arrives); user 8's
    // second event is 2 h later -> two sessions. The final flush file
    // (far future) closes every open session; flush-only sessions stay
    // in state and never reach the sink.
    val stage = java.nio.file.Files.createTempDirectory("sessions_xbatch")
    def put(i: Int, rows: Seq[(Long, String, Long, String, Double, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"sess_b$i")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", to_timestamp(col("ts")))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val target = stage.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.move(part, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L))
    }
    put(0, Seq((1L, "2024-01-01 10:00:00", 7L, "click", 1.0, "{}"),
      (2L, "2024-01-01 09:00:00", 8L, "view", 1.0, "{}")))
    put(1, Seq((3L, "2024-01-01 10:10:00", 7L, "click", 1.0, "{}"),
      (4L, "2024-01-01 10:20:00", 7L, "click", 1.0, "{}"),
      (5L, "2024-01-01 11:00:00", 8L, "view", 1.0, "{}")))
    put(2, Seq((6L, "2024-01-02 00:00:00", 7L, "__flush", 0.0, "{}"),
      (7L, "2024-01-02 00:00:00", 8L, "__flush", 0.0, "{}")))
    val stream = EventStreams.readStream(spark, stage.toString, maxFilesPerTrigger = 1)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStreams.Event]
    val q = EventStreams.sessionizeStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_xbatch").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("sess_xbatch")
      .select(col("user_id"), col("n_events"),
        date_format(col("session_start"), "HH:mm").as("s"),
        date_format(col("session_end"), "HH:mm").as("e"))
      .orderBy(col("user_id"), col("s"))
      .collect().map(_.toSeq)
    assert(out.toSeq == Seq(
      Seq(7L, 3L, "10:00", "10:20"),
      Seq(8L, 1L, "09:00", "09:00"),
      Seq(8L, 1L, "11:00", "11:00")))
  }

  test("watermark finalizes windows and drops late events (append mode)") {
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("events_late")
    def nanos(hhmm: String): Long =
      java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00").getTime * 1000000L
    def writeBatch(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
      // the file stream source only sees FILES in the watched directory —
      // write to a temp dir and move the part file in as a flat file
      val tmp = java.nio.file.Files.createTempDirectory("late_batch")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
      val part = java.nio.file.Files.list(tmp.resolve("out")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(part, stage.resolve(name + ".parquet"))
    }
    // batch 1: two events in [10:00,11:00) + one at 13:30 that pushes the
    // watermark (2h) to 11:30, finalizing the 10:00 window
    writeBatch("b1", Seq(
      (1L, nanos("10:00"), 1L, "a", 1.0, "{}"),
      (2L, nanos("10:30"), 1L, "a", 1.0, "{}"),
      (3L, nanos("13:30"), 1L, "a", 1.0, "{}")))
    val stream = EventStreams.readStream(spark, stage.toString)
    val agg = EventStreams.windowedStats(stream)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE event for the already-finalized 10:00 window — the
      // watermark must drop it, the emitted count must not change
      writeBatch("b2", Seq((4L, nanos("10:15"), 1L, "a", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val w10 = spark.table("late_out")
      .where($"window_start" === java.sql.Timestamp.valueOf("2026-01-01 10:00:00"))
      .select("n").collect()
    assert(w10.length == 1 && w10(0).getLong(0) == 2L)
  }

  test("sessionize groups events by gap") {
    import spark.implicits._
    val events = Seq(
      EventStreams.Event(1, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), 1, "a", 1.0),
      EventStreams.Event(2, java.sql.Timestamp.valueOf("2026-01-01 10:10:00"), 1, "a", 1.0),
      EventStreams.Event(3, java.sql.Timestamp.valueOf("2026-01-01 12:00:00"), 1, "a", 1.0),
      EventStreams.Event(4, java.sql.Timestamp.valueOf("2026-01-01 10:05:00"), 2, "b", 1.0)
    ).toDS()
    val sessions = EventStreams.sessionize(events).collect()
    assert(sessions.count(_.user_id == 1) == 2) // 30-min gap splits user 1
    assert(sessions.count(_.user_id == 2) == 1)
    val first = sessions.filter(_.user_id == 1).minBy(_.session_start.getTime)
    assert(first.n_events == 2)
  }

  test("streaming edge ingest builds a loadable graph store") {
    import org.apache.spark.sql.functions._
    val stage = java.nio.file.Files.createTempDirectory("events_ingest")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(sfDir, "events.parquet"),
      stage.resolve("events.parquet"))
    val storeDir = java.nio.file.Files.createTempDirectory("ingest_store")
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt")
    val q = EventStreams.edgeIngest(EventStreams.readStream(spark, stage.toString))
      .writeStream.format("parquet")
      .option("path", s"$storeDir/edges/DID")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val store = graft.store.GraphStore.load(spark, storeDir.toString)
    val batch = Tables.load(spark, sfDir, "events")
    // every event became exactly one well-formed User->Event edge
    assert(store.edges("DID").count() == batch.count())
    val labs = store.edges("DID")
      .select(shiftright(col("src"), 48).as("sl"), shiftright(col("dst"), 48).as("dl"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labs == Set((EventStreams.UserLab.toLong, EventStreams.EventLab.toLong)))
  }

  test("stream-stream interval join equals the batch theta join") {
    import org.apache.spark.sql.functions._
    val stage = java.nio.file.Files.createTempDirectory("events_ssj")
    java.nio.file.Files.copy(
      java.nio.file.Path.of(sfDir, "events.parquet"),
      stage.resolve("events.parquet"))
    def split(df: org.apache.spark.sql.DataFrame) =
      (df.where(col("event_type") === "click"),
        df.where(col("event_type") === "purchase"))
    val (sc, sp) = split(EventStreams.readStream(spark, stage.toString))
    val q = EventStreams.clickPurchaseJoin(sc, sp).writeStream
      .outputMode("append").format("memory").queryName("ssj_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssj_out")
      .select("click_id", "purchase_id").collect().map(_.toSeq).toSet
    val (bc, bp) = split(Tables.load(spark, sfDir, "events"))
    val batch = bc.select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      .join(bp.select(col("event_id").as("purchase_id"),
          col("user_id").as("pu"), col("ts").as("pts")),
        col("user_id") === col("pu") && col("ts") >= col("pts") &&
          col("ts") < col("pts") + expr("INTERVAL 1 HOUR"))
      .select("click_id", "purchase_id").collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stream-static enrichment join equals the batch join across batches") {
    import org.apache.spark.sql.functions._
    // events split over 2 files + maxFilesPerTrigger=1: the per-nation
    // aggregate must accumulate the dim-joined rows ACROSS micro-batches
    // to reach the batch result (a per-batch-only join would undercount)
    val stage = java.nio.file.Files.createTempDirectory("events_enrich")
    spark.read.parquet(s"$sfDir/events.parquet").repartition(2)
      .write.mode("overwrite").parquet(stage.toString)
    val dim = Tables.load(spark, sfDir, "customer")
    val q = EventStreams.enrichedNationStats(
        EventStreams.readStream(spark, stage.toString, maxFilesPerTrigger = 1),
        dim)
      .writeStream.outputMode("complete").format("memory")
      .queryName("enrich_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enrich_out").collect().map(_.toSeq).toSet
    val batch = EventStreams.enrichedNationStats(
      Tables.load(spark, sfDir, "events"), dim).collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("watermark EVICTS: late rows drop, state stays bounded (x31 twin)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // three staged files in forced mtime order: on-time rows, a +20 h
    // sentinel that advances the watermark beyond every on-time window,
    // then late re-deliveries of the first file — the aggregate must
    // drop every late row and hold only the unfinalized tail in state
    val src = java.nio.file.Files.createTempDirectory("graft_evict")
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli * 1000L
    def ev(ids: Seq[Long], offsetH: Long, tag: String) =
      ids.toDF("event_id").select(
        col("event_id"),
        expr(s"timestamp_micros(${base}L + event_id * 600000000L + " +
          s"${offsetH * 3600000000L}L)").as("ts"),
        (col("event_id") % 3).as("user_id"), lit(tag).as("event_type"),
        col("event_id").cast("double").as("value"), lit("{}").as("props"))
    val onTime = ev(1L to 18L, 0, "click")       // 3 h of rows, 10 min apart
    val sentinel = ev(Seq(999L), 20, "__advance")
    val late = ev(1L to 6L, 0, "click")          // re-delivered, now stale
      .withColumn("event_id", col("event_id") + 1000L)
    Seq(onTime, sentinel, late).zipWithIndex.foreach { case (df, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_evict_b$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val target = src.resolve(f"b$i%02d.parquet")
      java.nio.file.Files.move(part, target)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 10000L))
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    val q = EventStreams.windowedStats(
        EventStreams.readStream(spark, src.toString, maxFilesPerTrigger = 1),
        watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("evict_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // the drop is observable in the engine's own metrics — map-side
    // partial aggregation folds the 6 late rows into their 2 window
    // groups before the state operator counts them, so the metric reads
    // one drop per late WINDOW, not per late row
    val progress = q.recentProgress.toSeq
    val dropped = progress.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsDroppedByWatermark).sum
    assert(dropped == 2L, s"expected the 2 late windows dropped, got $dropped")
    // ...the final state holds only unfinalized windows (the on-time tail
    // + the sentinel), far fewer than the 4 distinct hourly windows seen
    val finalState = progress.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsTotal).sum
    assert(finalState <= 2, s"state not bounded: $finalState rows")
    // ...and the emitted result is the on-time batch aggregate exactly,
    // late contributions absent
    val got = spark.table("evict_out")
      .where(col("event_type") =!= "__advance")
      .select(col("window_start"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    val want = EventStreams.windowedStatsBatch(onTime)
      .collect().map(_.toSeq).toSet
    // Append emits only watermark-finalized windows: every emitted window
    // must be an exact batch window, the late rows never perturb one, and
    // all but the unfinalized tail window made it out
    assert(got.subsetOf(want) && got.size >= want.size - 1 && got.nonEmpty,
      s"got ${got.size} windows of ${want.size}")
    java.nio.file.Files.walk(src).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }
}
