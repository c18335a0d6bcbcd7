package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsofJoin

/** Composed-operator semantics: as-of join (latest right row at-or-before
  * each left row per key, left-outer).
  */
class OperatorsSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("gate contract: every query carries an oracle except the documented rows-only set") {
    // the driver records a weaker rows-only check for any query without
    // oracle SQL — so a FORGOTTEN oracle silently downgrades a gate. Pin
    // the exemption list to exactly the documented FP/probabilistic set
    // (each of which has an exact oracle-checked twin; SURVEY §8).
    val rowsOnlyByDesign = Set(
      "x1_approx_distinct", "x2_quantiles", "x3_sample", "x6_pagerank",
      "x9_ann_multiprobe", "x11_ann_ivf", "x24_betweenness",
      "x37_temporal_betweenness") // FP sigma-ratio twin; g48 carries the oracle
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty, s"orphan oracles: ${os -- qs}")
    assert(qs -- os == rowsOnlyByDesign,
      s"undocumented rows-only gates: ${(qs -- os) -- rowsOnlyByDesign}; " +
        s"stale exemptions: ${rowsOnlyByDesign -- (qs -- os)}")
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("range join equals a plain BETWEEN theta join") {
    import org.apache.spark.sql.functions._
    val points = (1 to 200).map(i => (i.toLong % 5, i.toLong * 13 % 997)).toDF("k", "t")
      .withColumn("t", timestamp_seconds(col("t")))
    val intervals = (1 to 40).map(i =>
      (i.toLong % 5, i.toLong * 20 % 900, i.toLong * 20 % 900 + 50)).toDF("k", "s", "e")
      .withColumn("s", timestamp_seconds(col("s")))
      .withColumn("e", timestamp_seconds(col("e")))
      .withColumn("iid", monotonically_increasing_id())
    val viaBucket = graft.operators.RangeJoin
      .intervalJoin(points, "t", intervals, "s", "e", Seq("k"), 30L)
      .select(col("t"), col("r_iid")).collect().map(_.toSeq).toSet
    val viaTheta = points.join(intervals,
        points("k") === intervals("k") && points("t") >= col("s") && points("t") < col("e"))
      .select(points("t"), col("iid")).collect().map(_.toSeq).toSet
    assert(viaBucket == viaTheta && viaBucket.nonEmpty)
  }

  test("asof join picks the latest at-or-before right row per key") {
    val trades = Seq(
      (1L, 100L, 10L), // key 1, ts 100
      (1L, 205L, 11L),
      (2L, 150L, 12L),
      (3L, 50L, 13L)) // key 3 has no quote at all
      .toDF("k", "t", "trade_id")
    val quotes = Seq(
      (1L, 90L, 1.0),
      (1L, 100L, 2.0), // equal ts: inclusive
      (1L, 300L, 3.0), // future: never matched
      (2L, 100L, 4.0))
      .toDF("k", "t", "px")
    val out = AsofJoin.asof(trades, quotes, "k", "t", "t")
      .select("trade_id", "r_px").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out == Map(
      10L -> Some(2.0), // ts 100 matches the equal-ts quote, not 90
      11L -> Some(2.0), // ts 205: latest at-or-before is still 100
      12L -> Some(4.0),
      13L -> None)) // no quote for key 3
  }

  test("salted join equals the plain join, inner and left") {
    import org.apache.spark.sql.functions._
    // skewed large side: key 0 holds 80% of the rows; key 9 matches nothing
    val large = (1 to 1000).map(i => (if (i % 5 == 0) i.toLong % 3 + 1 else 0L, i.toLong))
      .toDF("k", "v")
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c"), (42L, "z")).toDF("k", "name")
    for (how <- Seq("inner", "left")) {
      val salted = graft.operators.SkewJoin.saltedJoin(large, small, Seq("k"), 8, how)
        .select(col("k"), col("v"), col("name")).collect().map(_.toSeq).toSet
      val plain = large.join(small, Seq("k"), how)
        .select(col("k"), col("v"), col("name")).collect().map(_.toSeq).toSet
      assert(salted == plain && plain.nonEmpty, s"mismatch for $how")
    }
  }

  test("hash sample is deterministic, partitioning-invariant, and partitions the table") {
    import org.apache.spark.sql.functions._
    val df = (1 to 2000).map(_.toLong).toDF("id")
    val m = 10
    val s1 = graft.operators.Sampling.hashSample(df, col("id"), m).select("id")
      .collect().map(_.getLong(0)).toSet
    val s2 = graft.operators.Sampling.hashSample(df.repartition(13), col("id"), m)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty) // reproducible under any layout
    // the m buckets are disjoint and cover the table exactly
    val all = (0 until m).flatMap(b =>
      graft.operators.Sampling.hashSample(df, col("id"), m, b)
        .select("id").collect().map(_.getLong(0)))
    assert(all.length == 2000 && all.toSet.size == 2000)
    // a different salt decorrelates the draw
    val salted = graft.operators.Sampling.hashSample(df, col("id"), m, 0, "other")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(salted != s1)
  }
}
