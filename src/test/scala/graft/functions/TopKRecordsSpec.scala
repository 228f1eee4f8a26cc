package graft.functions

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** TopKRecords edge semantics the corpus gate cannot exercise: the
  * NaN-skip rule (class doc — under the sign flip a NaN would rank
  * LAST while the window twin ranks it FIRST; it must enter neither),
  * null skips, and tie multiplicity. */
class TopKRecordsSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def top(rows: Seq[(Long, java.lang.Double, java.lang.Long)],
      k: Int): Seq[(Double, Long)] = {
    rows.toDF("g", "value", "ts")
      .groupBy("g").agg(org.apache.spark.sql.functions.expr(
        s"topk_records(value, ts, $k) AS t"))
      .collect()(0).getSeq[Row](1)
      .map(r => (-r.getDouble(0), r.getLong(1)))
  }

  test("NaN records are skipped, never silently ranked last") {
    val got = top(Seq((1L, 5.0, 10L), (1L, Double.NaN, 11L),
      (1L, 7.0, 12L), (1L, 3.0, 13L)), 3)
    assert(got == Seq((7.0, 12L), (5.0, 10L), (3.0, 13L)))
  }

  test("null value/ts skipped; duplicate records keep multiplicity; ties by ts asc") {
    val got = top(Seq((1L, null, 1L), (1L, 4.0, null),
      (1L, 6.0, 30L), (1L, 6.0, 30L), (1L, 6.0, 20L), (1L, 9.0, 40L)), 3)
    assert(got == Seq((9.0, 40L), (6.0, 20L), (6.0, 30L)))
  }

  test("plus and minus zero at the cut boundary keep the accept test consistent") {
    // r11: the accept test compares against the buffer tail with
    // PRIMITIVE double compares (-0.0 == 0.0 -> tie falls to ts),
    // while SortArray orders by Double.compare (-0.0 < 0.0). The two
    // must agree on the OUTPUT VALUE multiset: with mixed-sign zeros
    // crowding the cut, the kept values (as primitive doubles) match
    // what a full sort would keep, whichever zero representation
    // survives. Exercised in arrival orders that hit both the
    // buffer-not-full admit and the tail-tie reject paths.
    for (rows <- Seq(
      Seq((1L, 5.0, 1L), (1L, 0.0, 2L), (1L, -0.0, 3L), (1L, -1.0, 4L)),
      Seq((1L, -0.0, 3L), (1L, -1.0, 4L), (1L, 0.0, 2L), (1L, 5.0, 1L)),
      Seq((1L, -1.0, 4L), (1L, 5.0, 1L), (1L, -0.0, 2L), (1L, 0.0, 3L)))) {
      val got = top(rows.map { case (g, v, t) =>
        (g, java.lang.Double.valueOf(v), java.lang.Long.valueOf(t)) }, 2)
      // top-2 by value: 5.0 then a zero (either sign bit — compare
      // with ==, which is sign-of-zero-blind like the accept test)
      assert(got.size == 2 && got(0) == ((5.0, 1L)) && got(1)._1 == 0.0,
        s"$rows -> $got")
    }
  }
}
