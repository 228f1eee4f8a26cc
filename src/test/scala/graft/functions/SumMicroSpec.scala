package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** sum_micro must be BIT-IDENTICAL to the decimal(30,6) sum it
  * replaces — on random values, negative values, rounding-boundary
  * dyadics, nulls, and across repartitionings (order independence). */
class SumMicroSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def assertParity(df: org.apache.spark.sql.DataFrame): Unit = {
    val both = df.groupBy("k").agg(
      call_function("sum_micro", col("v")).as("fast"),
      sum(col("v").cast("decimal(30,6)")).cast("double").as("ref"))
    val bad = both.filter(!(col("fast") <=> col("ref"))).collect()
    assert(bad.isEmpty, s"divergence: ${bad.take(5).mkString("; ")}")
  }

  test("random grouped doubles (incl. negatives and nulls) match bit-for-bit") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 5000).map { _ =>
      val v: java.lang.Double =
        if (rnd.nextInt(20) == 0) null
        else java.lang.Double.valueOf((rnd.nextDouble() - 0.3) * math.pow(10, rnd.nextInt(8)))
      (s"g${rnd.nextInt(5)}", v)
    }
    assertParity(rows.toDF("k", "v"))
  }

  test("rounding-boundary dyadics and special shapes match") {
    assertParity(Seq(
      ("a", java.lang.Double.valueOf(0.0000005)), // exact decimal half at scale 6
      ("a", java.lang.Double.valueOf(-0.0000005)),
      ("a", java.lang.Double.valueOf(0.0078125)), // 2^-7
      ("b", java.lang.Double.valueOf(0.1)),
      ("b", java.lang.Double.valueOf(0.2)),
      ("b", java.lang.Double.valueOf(-0.30000000000000004)),
      ("c", null),
      ("d", java.lang.Double.valueOf(123456789012.654321)),
      ("d", java.lang.Double.valueOf(-123456789012.654321))).toDF("k", "v"))
  }

  test("per-row values beyond one limb (>=1e12) accumulate exactly") {
    // a per-row micros value can exceed 10^18; the limb-split in
    // update() must keep the two-long accumulator exact
    assertParity(Seq(
      ("a", java.lang.Double.valueOf(4.0e12)),
      ("a", java.lang.Double.valueOf(4.0e12)),
      ("a", java.lang.Double.valueOf(4.0e12)),
      ("a", java.lang.Double.valueOf(-2.5e12)),
      ("b", java.lang.Double.valueOf(9.0e12)),
      ("b", java.lang.Double.valueOf(-9.0e12))).toDF("k", "v"))
  }

  test("per-row values beyond long micro-units keep the decimal formulation's domain") {
    // |x| >= 9.2e12: micro-units no longer fit a long — the BigInteger
    // limb split must keep full DECIMAL(30,6)-and-above range exact
    assertParity(Seq(
      ("a", java.lang.Double.valueOf(9.3e12)),
      ("a", java.lang.Double.valueOf(1.0e15)),
      ("a", java.lang.Double.valueOf(-7.77e14)),
      ("b", java.lang.Double.valueOf(1.0e20)),
      ("b", java.lang.Double.valueOf(-3.5e19)),
      ("b", java.lang.Double.valueOf(2.5)),
      ("c", java.lang.Double.valueOf(1.23456789e21))).toDF("k", "v"))
  }

  test("rows beyond DECIMAL(30,6) capacity fail loudly like the ANSI cast") {
    // just inside the boundary: exact parity
    assertParity(Seq(
      ("b", java.lang.Double.valueOf(9.999999e23)),
      ("b", java.lang.Double.valueOf(-9.0e23))).toDF("k", "v"))
    // at/beyond the boundary: the ANSI decimal cast throws — so must
    // sum_micro (DuckDB likewise errors on decimal overflow)
    Seq(1.0e24, -1.0e24, 1.0e25, 1.7e308).foreach { x =>
      val e = intercept[Exception] {
        Seq(("a", java.lang.Double.valueOf(x))).toDF("k", "v")
          .groupBy("k").agg(call_function("sum_micro", col("v"))).collect()
      }
      assert(graft.TestCauses.chain(e).exists(t =>
        t.getMessage != null && t.getMessage.contains("DECIMAL(30,6)")), s"$x: $e")
    }
  }

  test("NaN and infinite inputs are skipped like their NULL decimal cast") {
    assertParity(Seq(
      ("a", java.lang.Double.valueOf(Double.NaN)),
      ("a", java.lang.Double.valueOf(1.5)),
      ("b", java.lang.Double.valueOf(Double.PositiveInfinity)),
      ("b", java.lang.Double.valueOf(Double.NegativeInfinity)),
      ("c", java.lang.Double.valueOf(Double.NaN))).toDF("k", "v"))
  }

  test("all-null group yields null, like the decimal sum") {
    val r = Seq(("a", null: java.lang.Double))
      .toDF("k", "v").groupBy("k")
      .agg(call_function("sum_micro", col("v")).as("fast")).collect()(0)
    assert(r.isNullAt(1))
  }

  test("toMicros fast path is bit-identical to the BigDecimal derivation") {
    def slow(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()
    def check(x: Double): Unit = {
      val s = try Right(slow(x)) catch { case e: ArithmeticException => Left(e) }
      val f = try Right(MicroSumOps.toMicros(x)) catch { case e: ArithmeticException => Left(e) }
      (s, f) match {
        case (Right(a), Right(b)) => assert(a == b, s"toMicros($x): $b != $a")
        case (Left(_), Left(_)) => // both overflow loudly — parity holds
        case _ => fail(s"toMicros($x): one side threw, one returned ($s vs $f)")
      }
    }
    val rnd = new scala.util.Random(17)
    // regime 1: uniform magnitudes across 1e-9 .. 1e14 (both sides of
    // the long-micros overflow bound), both signs
    (0 until 200000).foreach { _ =>
      val x = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(24) - 9)
      check(x)
    }
    // regime 2: exact-micros and half-micros dyadic neighborhoods — the
    // adversarial zone for the guard band: (n+0.5)/1e6 parsed as a
    // double sits within an ulp of the HALF_UP boundary
    (0 until 100000).foreach { _ =>
      val n = rnd.nextLong() % 1000000000000L
      val base = (n + 0.5) / 1e6
      check(base); check(Math.nextUp(base)); check(Math.nextDown(base))
      check(n / 1e6)
    }
    // regime 3: raw bit patterns (subnormals, extremes) filtered to finite
    (0 until 100000).foreach { _ =>
      val x = java.lang.Double.longBitsToDouble(rnd.nextLong())
      if (!x.isNaN && !x.isInfinite) check(x)
    }
    // pinned shapes
    Seq(0.0, -0.0, 1e-7, -1e-7, 0.0000005, -0.0000005, 0.00000049999999999,
      4.9e-324, 2.2250738585072014e-308, 9.2e12, -9.2e12, 9.3e12,
      4503599627370496.0, 0.1 + 0.2).foreach(check)
  }

  test("order independence: identical result under different partitionings") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 3000).map(_ =>
      ("k", java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 1e6))).toDF("k", "v")
    val a = rows.repartition(1).groupBy("k")
      .agg(call_function("sum_micro", col("v"))).collect()(0).getDouble(1)
    val b = rows.repartition(16).groupBy("k")
      .agg(call_function("sum_micro", col("v"))).collect()(0).getDouble(1)
    assert(a == b)
  }
}
