package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Native dot_dec vs the interpreted aggregate(zip_with(...)) SQL form:
  * values must be BIT-identical (the DuckDB oracles compute the lambda
  * form, so any drift breaks the correctness gate). */
class DotDecSpec extends AnyFunSuite with GraftSpark {

  private val lambdaForm =
    """CAST(aggregate(zip_with(a, b,
      |  (x, y) -> CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(30,12))),
      |  CAST(0 AS DECIMAL(30,12)),
      |  (acc, v) -> CAST(acc + v AS DECIMAL(30,12))) AS DOUBLE)""".stripMargin

  test("dot_dec matches the interpreted decimal lambda bit-for-bit on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong,
        Array.fill(64)(rnd.nextFloat() * 20 - 10),
        Array.fill(64)(rnd.nextFloat() * 20 - 10))
    }
    val df = rows.toDF("id", "a", "b")
      .withColumn("native", expr("dot_dec(a, b)"))
      .withColumn("lambda", expr(lambdaForm))
    val bad = df.filter(col("native") =!= col("lambda")).count()
    assert(bad == 0)
    // and the values are non-trivial (not all zero)
    assert(df.filter(abs(col("native")) > 1).count() > 100)
  }

  test("dot_dec works against an inlined literal array and inside codegen") {
    import spark.implicits._
    val v = Array.tabulate(4)(i => (i + 1) * 0.5) // 0.5, 1.0, 1.5, 2.0
    val lit = v.mkString("array(", "D,", "D)")
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f, 4.0f))).toDF("id", "emb")
      .withColumn("d", expr(s"dot_dec(emb, $lit)"))
    // 0.5 + 2 + 4.5 + 8 = 15
    assert(df.collect().head.getDouble(2) == 15.0)
    // driver-side constant accumulation agrees
    assert(VecCodec.dotDecConst(Array(1.0, 2.0, 3.0, 4.0), v) == 15.0)
  }

  test("dot_dec overflow fallback: huge magnitudes still match the lambda form") {
    import spark.implicits._
    // products ~1e15 overflow the fix12 long fast path (toFix12 throws
    // past |x| ≈ 9.2e6) and must land on the exact BigDecimal path with
    // identical rounding — and a sum that overflows the long
    // accumulator mid-stream (alternating huge positives) too
    val rows = Seq(
      (1L, Array.fill(8)(3.0e7), Array.fill(8)(4.0e7)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 2.9e6 else 1.0),
        Array.tabulate(64)(i => if (i % 2 == 0) 3.1e6 else 1.7e-7)),
      (3L, Array.fill(4)(-9.9e6), Array.fill(4)(9.9e6)))
    val df = rows.toDF("id", "a", "b")
      .withColumn("native", expr("dot_dec(a, b)"))
      .withColumn("lambda", expr(lambdaForm))
    assert(df.filter(col("native") =!= col("lambda")).count() == 0)
  }

  test("toFix12 and round4 fast paths are bit-identical to the BigDecimal forms") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def slowFix(x: Double): Long = JBD.valueOf(x)
      .setScale(12, RoundingMode.HALF_UP).movePointRight(12).longValueExact()
    def slowR4(x: Double): Double = JBD.valueOf(x)
      .setScale(4, RoundingMode.HALF_UP).doubleValue()
    val rnd = new scala.util.Random(23)
    // uniform magnitudes across the embedding-product regime, both signs
    (0 until 200000).foreach { _ =>
      val x = (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(12) - 6)
      assert(VecCodec.toFix12(x) == slowFix(x), s"toFix12($x)")
      assert(VecCodec.round4(x) == slowR4(x), s"round4($x)")
    }
    // adversarial half-boundary neighborhoods at each scale
    (0 until 50000).foreach { _ =>
      val n12 = rnd.nextLong() % 1000000000L
      val b12 = (n12 + 0.5) / 1e12
      Seq(b12, Math.nextUp(b12), Math.nextDown(b12), n12 / 1e12).foreach { x =>
        assert(VecCodec.toFix12(x) == slowFix(x), s"toFix12($x)")
      }
      val n4 = rnd.nextLong() % 1000000L
      val b4 = (n4 + 0.5) / 1e4
      Seq(b4, Math.nextUp(b4), Math.nextDown(b4), n4 / 1e4).foreach { x =>
        assert(VecCodec.round4(x) == slowR4(x), s"round4($x)")
      }
    }
    // pinned shapes incl. the cosine range round4 actually sees
    Seq(0.0, -0.0, 1.0, -1.0, 0.99995, -0.99995, 0.00005, 0.12345,
      4.9e-324, 1e-13, -1e-13).foreach { x =>
      assert(VecCodec.toFix12(x) == slowFix(x), s"toFix12($x)")
      assert(VecCodec.round4(x) == slowR4(x), s"round4($x)")
    }
    // values rounding to zero must give +0.0 (BigDecimal has no signed
    // zero) — == treats -0.0 == 0.0, so compare raw bits
    Seq(-0.00004, -4.9e-324, -0.0).foreach { x =>
      assert(java.lang.Double.doubleToRawLongBits(VecCodec.round4(x)) == 0L,
        s"round4($x) must be +0.0")
    }
  }

  test("dot_dec fails loudly on length mismatch instead of silently nulling") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f), Array(1.0f))).toDF("id", "a", "b")
      .withColumn("d", expr("dot_dec(a, b)"))
    val e = intercept[Exception](df.collect())
    assert(e.toString.contains("length mismatch") ||
      e.getCause != null && e.getCause.toString.contains("length mismatch"))
  }
}
