package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Graphid
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Property-based laws over the core invariants: id packing roundtrips,
  * shingle arithmetic, packing bounds, dedup conservation — checked over
  * generated inputs, not hand-picked examples. Generators run under a
  * fixed seed (the scalatest/scalacheck bridge artifact is not in the
  * offline cache, so samples are drawn directly — deterministic and
  * replayable).
  */
class PropertySpec extends AnyFunSuite with SparkSuite {

  /** Draw n deterministic samples from a generator. */
  private def samples[A](g: Gen[A], n: Int = 50): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    samples(Gen.zip(ga, gb)).foreach { case (a, b) => f(a, b) }

  import spark.implicits._

  test("graphid pack/unpack roundtrips for every (label, local) pair") {
    forAll(Gen.chooseNum(0, Graphid.MaxLabel),
      Gen.chooseNum(0L, Graphid.LocalMask)) { (labid: Int, locid: Long) =>
      assert(Graphid.unpack(Graphid.pack(labid, locid)) == ((labid, locid)))
    }
  }

  test("graphid column ops agree with the scala ops") {
    import org.apache.spark.sql.functions._
    val cases = Seq((0, 0L), (1, 42L), (Graphid.MaxLabel, Graphid.LocalMask),
      (7, 1L << 40))
    val df = cases.toDF("labid", "locid")
      .withColumn("id", Graphid.packCol(0, col("locid")) // labid col-side below
        .bitwiseOR(shiftleft(col("labid").cast("long"), Graphid.LocalBits)))
      .select(Graphid.labidCol(col("id")).as("lab2"), Graphid.locidCol(col("id")).as("loc2"))
      .collect()
    cases.zip(df).foreach { case ((lab, loc), row) =>
      assert(row.getInt(0) == lab && row.getLong(1) == loc)
    }
  }

  test("h32/h60 hashes: bounded, deterministic, and h60 covers past 2^32") {
    import org.apache.spark.sql.functions._
    import graft.pipeline.TextHash
    val seeded = new scala.util.Random(7)
    val inputs = Seq.fill(200)(seeded.nextLong().toString)
    val rows = inputs.toDF("s")
      .select(TextHash.h32(col("s")).as("h32"), TextHash.h60(col("s")).as("h60"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.foreach { case (h32, h60) =>
      assert(h32 >= 0L && h32 < (1L << 32))
      assert(h60 >= 0L && h60 < (1L << 60))
      // same md5, h32 is the 8-hex-char prefix of h60's 15
      assert((h60 >> 28) == h32)
    }
    // a 60-bit hash must actually exercise the range a 2^32 hash cannot:
    // with 200 draws the chance every h60 lands under 2^32 is ~0
    assert(rows.exists(_._2 > (1L << 32)))
    // determinism: same inputs -> identical hashes on a fresh plan
    val again = inputs.toDF("s")
      .select(TextHash.h32(col("s")).as("h32"), TextHash.h60(col("s")).as("h60"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == again.toSeq)
  }

  test("shingle count is max(0, n - k + 1) and every shingle has k tokens") {
    import org.apache.spark.sql.functions._
    forAll(Gen.chooseNum(0, 12), Gen.chooseNum(1, 5)) { (n: Int, k: Int) =>
      val text = (1 to n).map(i => s"t$i").mkString(" ")
      // split("") yields [""] — the empty document still tokenizes to one
      // (empty) token, matching both engines' split semantics
      val nToks = math.max(n, 1)
      val row = Seq(Tuple1(text)).toDF("text")
        .select(graft.pipeline.TextHash.shingles(
          graft.pipeline.TextHash.tokens(col("text")), k).as("sh"))
        .collect().head.getSeq[String](0)
      assert(row.length == math.max(0, nToks - k + 1))
      assert(row.forall(_.split(" ", -1).length == k))
    }
  }

  test("sequence packing: offsets stay below seqLen and ids never straddle shards") {
    import org.apache.spark.sql.functions._
    val docs = (1 to 60).map(i => (i.toLong, s"s${i % 3}",
      Seq.fill(1 + i % 37)("w").mkString(" "))).toDF("doc_id", "source", "text")
    val out = TextAnalysis.packSequences(docs, "doc_id", "source", "text", 64L, 4)
      .collect()
    assert(out.length == 60)
    assert(out.forall(r => r.getLong(5) >= 0 && r.getLong(5) < 64))
    // within a (source, shard), seq_id is non-decreasing in id order
    out.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (_, rows) =>
      val seqIds = rows.sortBy(_.getLong(2)).map(_.getLong(4)).toSeq
      assert(seqIds == seqIds.sorted)
    }
  }

  test("exact dedup conserves rows: survivors' copy counts sum to the corpus") {
    import org.apache.spark.sql.functions._
    forAll(Gen.chooseNum(1, 30), Gen.chooseNum(1, 5)) { (rows: Int, distinct: Int) =>
      val d = (1 to rows).map(i => (i.toLong, s"text ${i % distinct}"))
        .toDF("doc_id", "text")
      val out = Dedup.exact(d, "doc_id", "text")
        .agg(sum(col("n_copies")), count(lit(1))).collect().head
      assert(out.getLong(0) == rows)
      assert(out.getLong(1) == math.min(rows, distinct))
    }
  }

  test("int8 quantization: components bounded, max maps to ±127, roundtrip within half-step") {
    import org.apache.spark.sql.functions._
    forAll(Gen.listOfN(8, Gen.chooseNum(-100.0f, 100.0f)),
      Gen.chooseNum(0.1f, 50.0f)) { (vec: List[Float], boost: Float) =>
      val v = (boost :: vec).toArray // ensure a nonzero max component
      val df = Seq((1L, v)).toDF("vec_id", "embedding")
      val row = Similarity.quantize(df, "vec_id", "embedding").collect().head
      val scale = row.getDouble(1)
      val q = row.getSeq[Double](2)
      assert(scale == v.map(x => math.abs(x.toDouble)).max)
      assert(q.forall(x => math.abs(x) <= 127.0))
      // dequantization error is at most half a quantization step
      v.zip(q).foreach { case (orig, qi) =>
        assert(math.abs(qi * scale / 127.0 - orig.toDouble) <= scale / 254.0 + 1e-12)
      }
    }
  }

  test("recall@k of a result against itself is 1.0") {
    import org.apache.spark.sql.functions._
    val exact = Seq((1L, 1, 10L), (1L, 2, 20L), (2L, 1, 30L), (2L, 2, 40L))
      .toDF("pid", "rank", "cid")
    val out = Similarity.recallAtK(exact, exact, 2).collect()
    assert(out.forall(_.getDouble(2) == 1.0))
  }
}
