package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** sampleByFn's delta/rate selectors: hand-computed windows, the
  * struct tie policy at duplicate timestamps, single-point NULL rate. */
class SampleFnSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  // interval 100: window (0,100] label 100 etc. Window 100: points at
  // 10 (v=5), 50 (v=9), 99 (v=7) → delta 2, span 89. Window 200: one
  // point (150, 4) → delta 0, rate NULL. Window 300: DUPLICATE ts 250
  // with v 1 and 3 → struct tie policy: first=(250,1), last=(250,3) →
  // delta 2, span 0 → rate NULL.
  private lazy val series = Seq(
    (10L, 5.0), (50L, 9.0), (99L, 7.0),
    (150L, 4.0),
    (250L, 1.0), (250L, 3.0)
  ).toDF("timestamp", "value")

  test("delta = last minus first with deterministic duplicate-ts ties") {
    val got = SeriesOps.sampleByFn(series, 100L, "delta").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got == Map(
      100L -> ((2.0, 3L)),
      200L -> ((0.0, 1L)),
      300L -> ((2.0, 2L))))
  }

  test("rate = delta per 1e6 units; NULL on zero span, never a throw") {
    val got = SeriesOps.sampleByFn(series, 100L, "rate").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getLong(2))).toMap
    assert(got(100L) == ((Some(2.0 * 1000000.0 / 89.0), 3L)))
    assert(got(200L) == ((None, 1L))) // single point: no elapsed time
    assert(got(300L) == ((None, 2L))) // duplicate-ts-only window: span 0
  }

  test("unknown selector fails loudly") {
    intercept[IllegalArgumentException] {
      SeriesOps.sampleByFn(series, 100L, "median")
    }
  }

  test("M4 keeps first/last/min/max per window with the struct tie policy") {
    val got = SeriesOps.sampleByM4(series, 100L).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getLong(5)))).toMap
    // window 100: first 5 (ts 10), last 7 (ts 99), min 5, max 9
    assert(got(100L) == ((5.0, 7.0, 5.0, 9.0, 3L)))
    // single-point window: all four collapse to the point
    assert(got(200L) == ((4.0, 4.0, 4.0, 4.0, 1L)))
    // duplicate-ts window: tie goes (smaller, larger) value for
    // (first, last) — the delta selector's struct policy
    assert(got(300L) == ((1.0, 3.0, 1.0, 3.0, 2L)))
  }

  test("anchored LTTB: boundary windows pin endpoints; duplicate-ts tie by value") {
    val got = SeriesOps.sampleByLttb(series, 100L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    // first window (no prev anchor): earliest point
    assert(got(100L) == ((10L, 5.0, 3L)))
    // interior single-point window: the point itself
    assert(got(200L) == ((150L, 4.0, 1L)))
    // last window (no next anchor): latest point; equal-ts tie -> max value
    assert(got(300L) == ((250L, 3.0, 2L)))
  }

  test("anchored LTTB selects the spike against flat neighbor anchors") {
    val flatSpike = Seq(
      (10L, 10.0), (90L, 10.0),            // w100 anchor mean (50, 10)
      (110L, 10.0), (150L, 50.0), (190L, 10.0), // w200: spike at 150
      (210L, 10.0), (290L, 10.0)           // w300 anchor mean (250, 10)
    ).toDF("timestamp", "value")
    val got = SeriesOps.sampleByLttb(flatSpike, 100L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(200L) == ((150L, 50.0)))
  }
}
