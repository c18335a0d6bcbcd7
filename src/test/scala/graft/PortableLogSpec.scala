package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.util.PortableLog

/** PortableLog must (a) agree with libm to well under the 10^-6 grid the
  * quantized gates snap onto, and (b) be a pure function of the mirrored
  * IEEE op order — pinned here by recomputing the identical op sequence
  * in driver-side Scala and asserting BIT equality with the codegen'd
  * column. Cross-engine bit-equality with the DuckDB rendering is proven
  * by the driver's oracle hash gate on g34/t17 (and was swept over 6k
  * values incl. random 62-bit ints at build time).
  */
class PortableLogSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  /** The identical op order as PortableLog.lnLong, on the driver. */
  private def lnRef(n: Long): Double = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val m = n.toDouble / (1L << e).toDouble
    val z = (m - 1.0) / (m + 1.0)
    val z2 = z * z
    val odd = (1 to 13).map(k => 2 * k + 1)
    var s = 1.0 / odd.last
    for (d <- odd.reverse.tail) s = 1.0 / d + z2 * s
    val lnm = 2.0 * z * (1.0 + z2 * s)
    e.toDouble * (6243314768165359L.toDouble / 9007199254740992L.toDouble) + lnm
  }

  test("lnLong: bit-identical to the mirrored driver-side op order") {
    val rnd = new scala.util.Random(7)
    val ns = (1L to 2000L) ++ Seq.fill(2000)(1L + (rnd.nextLong().abs % ((1L << 62) - 1)))
    val got = ns.toDF("n").select(col("n"), PortableLog.lnLong(col("n")).as("ln"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ns.foreach { n =>
      assert(java.lang.Double.doubleToLongBits(got(n)) ==
        java.lang.Double.doubleToLongBits(lnRef(n)), s"bit mismatch at n=$n")
    }
  }

  test("lnLong: within 4 ulps of libm across the domain") {
    val rnd = new scala.util.Random(11)
    val ns = (2L to 5000L) ++ Seq.fill(2000)(2L + (rnd.nextLong().abs % ((1L << 62) - 2)))
    ns.foreach { n =>
      val ref = math.log(n.toDouble)
      assert(math.abs(lnRef(n) - ref) <= 4 * math.ulp(ref), s"off at n=$n")
    }
  }

  test("lnLong: exact at 1 and at ln 2's own double") {
    assert(lnRef(1L) == 0.0)
    assert(lnRef(2L) == 0.6931471805599453)
  }

  test("lnDoubleJvm/expDoubleJvm: libm accuracy, roundtrip, domain guards") {
    val rnd = new scala.util.Random(13)
    // log-uniform sweep across the full documented domain (2^-62, 2^62)
    val xs = Seq(1.0, 2.0, 0.5, math.Pi, 1e-9, 1e9, 3.5e18, 1.0000001) ++
      Seq.fill(3000)(math.pow(2.0, (rnd.nextDouble() * 123.0) - 61.5))
    // x < 1 routes through -ln(1/x): the correctly-rounded reciprocal
    // adds up to ~1 ulp-of-argument ABSOLUTE error (~1e-16) on top of
    // the series' relative error — far below the 1e-9 grids any caller
    // snaps onto, but wider than a pure-relative bound near ln ~ 0
    xs.foreach { x =>
      val ref = math.log(x)
      val got = PortableLog.lnDoubleJvm(x)
      assert(math.abs(got - ref) <= 4 * math.ulp(ref) + 1e-15, s"ln off at $x")
    }
    // exp over its |x| <= 43 domain: the k·ln2 reduction cancels ~k ulps
    // of argument into e^r's relative error (~20 ulps at k ~ 60) — still
    // relative ~5e-15, orders below any caller's 10^-9 grid; the contract
    // here is cross-engine DETERMINISM, with accuracy merely bounded
    val es = Seq(0.0, 1.0, -1.0, 0.6931471805599453, 42.9, -42.9) ++
      Seq.fill(3000)((rnd.nextDouble() - 0.5) * 86.0)
    es.foreach { x =>
      val ref = math.exp(x)
      val got = PortableLog.expDoubleJvm(x)
      assert(math.abs(got - ref) <= 1e-14 * math.abs(ref), s"exp off at $x")
    }
    // roundtrip at the same documented relative envelope
    Seq(0.001, 1.0, 7.25, 12345.678, 9.9e12).foreach { x =>
      val rt = PortableLog.expDoubleJvm(PortableLog.lnDoubleJvm(x))
      assert(math.abs(rt - x) <= 1e-14 * x, s"roundtrip off at $x")
    }
    // fixed points and integer-path agreement with the column mirror
    assert(PortableLog.lnDoubleJvm(2.0) == 0.6931471805599453)
    assert(PortableLog.expDoubleJvm(0.0) == 1.0)
    (2L to 2000L).foreach { n =>
      assert(java.lang.Double.doubleToLongBits(PortableLog.lnDoubleJvm(n.toDouble))
        == java.lang.Double.doubleToLongBits(lnRef(n)), s"path split at $n")
    }
    // out-of-domain inputs fail loudly instead of degrading silently
    intercept[IllegalArgumentException](PortableLog.lnDoubleJvm(0.0))
    intercept[IllegalArgumentException](PortableLog.lnDoubleJvm(-1.0))
    intercept[IllegalArgumentException](PortableLog.lnDoubleJvm(5e18))
    intercept[IllegalArgumentException](PortableLog.expDoubleJvm(43.5))
    intercept[IllegalArgumentException](PortableLog.expDoubleJvm(-44.0))
  }

  test("x32/x33 probe gates match the driver-side mirror of each primitive") {
    // the diagnostic gates feed the driver's oracle hash check; here the
    // Spark side is pinned against the exact JVM integer/FP mirror so a
    // driver-red probe can only mean the driver DuckDB's primitive differs
    val bits = SparkEntry.queries("x32_bits")(spark, "unused").collect()
    assert(bits.length == 39)
    bits.foreach { r =>
      val n = r.getLong(0)
      val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
      assert(r.getLong(1) == e.toLong, s"e mismatch at n=$n")
      assert(r.getLong(2) == (1L << e), s"p2 mismatch at n=$n")
    }
    val series = SparkEntry.queries("x33_series")(spark, "unused").collect()
    assert(series.length == 39)
    series.foreach { r =>
      val n = r.getLong(0)
      val want = math.floor(1000000.0 * lnRef(n) + 0.5).toLong
      assert(r.getLong(1) == want, s"wm mismatch at n=$n")
    }
  }
}
