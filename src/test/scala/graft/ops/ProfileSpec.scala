package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Table profiling: per-column counts, exact distincts, numeric
  * min/max, null handling, single-aggregate shape. */
class ProfileSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private lazy val t = Seq(
    (Some(1L), Some(2.0), Some("a")),
    (Some(1L), None, Some("b")),
    (Some(3L), Some(-1.5), None),
    (None, Some(2.0), Some("a"))
  ).toDF("k", "v", "s")

  test("per-column stats: counts, exact distincts, numeric min/max") {
    val got = Profile.profile(t, Seq("k", "v"), Seq("s")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
    assert(got("k") == ((4L, 1L, 2L, Some(1.0), Some(3.0))))
    assert(got("v") == ((4L, 1L, 2L, Some(-1.5), Some(2.0))))
    // string column: counts only, min/max stay null by contract
    assert(got("s") == ((4L, 1L, 2L, None, None)))
  }

  test("one row per declared column, nothing else") {
    val names = Profile.profile(t, Seq("k"), Seq("s")).collect()
      .map(_.getString(0)).toSeq
    assert(names == Seq("k", "s"))
  }

  test("no Expand in any branch: distinct never rides beside the counts") {
    // countDistinct mixed with count(*) plans an Expand (every input
    // row duplicated per aggregate arm — 2x the rows through the
    // aggregation); the two-phase fine-group + bitmap shapes must keep
    // the plan Expand-free
    val plan = Profile.profile(t, Seq("k", "v"), Seq("s"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"Expand leaked into the profile plan:\n$plan")
  }

  test("empty input: zero rows, zero nulls, zero distincts per column") {
    val empty = t.filter("k = 99")
    val got = Profile.profile(empty, Seq("k", "v"), Seq("s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map("k" -> ((0L, 0L, 0L)), "v" -> ((0L, 0L, 0L)),
      "s" -> ((0L, 0L, 0L))))
  }
}
