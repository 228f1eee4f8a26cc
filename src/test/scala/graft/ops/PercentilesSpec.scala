package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Differential spec: the bounded-memory sort-rank percentile operator
  * must equal Spark's own percentile() aggregate (the semantics
  * reference it replaced) on random data INCLUDING null values and
  * degenerate group sizes. */
class PercentilesSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private val PCTS = Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99))

  private def reference(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("k")
      .agg(expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("q"),
        count(lit(1)).as("n"))
      .select(col("k"),
        round(element_at(col("q"), 1), 4).as("p50"),
        round(element_at(col("q"), 2), 4).as("p90"),
        round(element_at(col("q"), 3), 4).as("p99"),
        col("n"))

  private def check(rows: Seq[(String, java.lang.Double)]): Unit = {
    val df = rows.toDF("k", "v")
    val got = Percentiles.exact(df, "k", "v", PCTS)
      .collect().map(r => Option(r.getString(0)) ->
        (r.get(1), r.get(2), r.get(3), r.getLong(4))).toMap
    val want = reference(df)
      .collect().map(r => Option(r.getString(0)) ->
        (r.get(1), r.get(2), r.get(3), r.getLong(4))).toMap
    assert(got == want, s"got $got\nwant $want")
  }

  test("random grouped data with nulls matches percentile() exactly") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2000).map { i =>
      val k = s"g${rnd.nextInt(7)}"
      val v: java.lang.Double =
        if (rnd.nextInt(10) == 0) null
        else java.lang.Double.valueOf(math.floor(rnd.nextDouble() * 10000) / 100)
      (k, v)
    }
    check(rows)
  }

  test("degenerate groups: single value, all-equal values, with nulls") {
    check(Seq(
      ("one", java.lang.Double.valueOf(42.0)),
      ("one", null),
      ("same", java.lang.Double.valueOf(7.5)),
      ("same", java.lang.Double.valueOf(7.5)),
      ("same", java.lang.Double.valueOf(7.5)),
      ("two", java.lang.Double.valueOf(1.0)),
      ("two", java.lang.Double.valueOf(2.0)),
      // an all-null group must still emit (null, null, null, n)
      ("allnull", null),
      ("allnull", null)))
  }

  test("a NULL group key is a group like any other (null-safe joins)") {
    check(Seq(
      (null, java.lang.Double.valueOf(1.0)),
      (null, java.lang.Double.valueOf(3.0)),
      (null, null),
      ("k", java.lang.Double.valueOf(9.0))))
  }

  test("gate corpus percentiles sit far from every 4dp rounding boundary") {
    // DuckDB's quantile_cont interpolation is NOT bit-identical to this
    // operator's (measured: its result can sit 1 ulp from the correctly
    // rounded lo+(hi-lo)*frac — even an infinitely-precise evaluation
    // of the standard formulas rounds to a different last bit). The
    // round(·, 4) gate is immune only while no percentile lands near a
    // .5*10⁻⁴ boundary; this locks that margin as a checked invariant
    // — if regenerated data ever lands near a boundary, THIS fails
    // loudly instead of the oracle hash flipping mysteriously.
    // Measured margin on the driver fixtures: ~0.4999999 (the values
    // are 4-decimal-quantized, so percentiles fall ON integers·10⁻⁴,
    // maximally far from the half boundaries); 1e-3 gives 6 orders of
    // slack over any 1-ulp formula divergence.
    val ev = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_type").as("k"), col("value").as("v"))
    val margins = Percentiles.exactUnrounded(ev, "k", "v", PCTS)
      .select(PCTS.map { case (name, _) => col(name) }: _*)
      .collect()
      .flatMap(r => PCTS.indices.map(i => r.getDouble(i)))
      .map { v =>
        val scaled = v * 10000
        math.abs((scaled - math.floor(scaled)) - 0.5)
      }
    assert(margins.nonEmpty)
    assert(margins.min > 1e-3,
      s"a percentile is ${margins.min} from a 4dp rounding boundary — " +
        "the cross-engine round() gate is no longer provably stable")
  }
}
