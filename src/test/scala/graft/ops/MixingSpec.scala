package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Mixing.plan invariants on hand-built strata: the binding stratum
  * takes everything, takes never exceed supply, achieved mixture
  * matches targets within integer-division slack. */
class MixingSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  // 3 strata: a supplies 100 tokens (10 docs x 10 words), b 40, c 200
  private def fixture = (
    (0 until 10).map(i => (s"a$i", "a", Seq.fill(10)("w").mkString(" "))) ++
    (0 until 4).map(i => (s"b$i", "b", Seq.fill(10)("w").mkString(" "))) ++
    (0 until 20).map(i => (s"c$i", "c", Seq.fill(10)("w").mkString(" ")))
  ).toDF("doc_id", "stratum", "text")

  private def planOf(targets: Map[String, Int]) =
    Mixing.plan(fixture, "stratum", targets)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap

  test("binding stratum is fully taken; others downsample to the recipe") {
    // targets 50/25/25: caps a=200, b=160, c=800 → b binds at B=160
    val p = planOf(Map("a" -> 5000, "b" -> 2500, "c" -> 2500))
    assert(p("b") == ((4L, 40L, 2500L, 40L, 10000L)))   // all of b
    assert(p("a") == ((10L, 100L, 5000L, 80L, 8000L)))  // 80 of 100
    assert(p("c") == ((20L, 200L, 2500L, 40L, 2000L)))  // 40 of 200
    // achieved mixture = exactly the recipe here (no division slack)
    val total = p.values.map(_._4).sum
    assert(total == 160L)
  }

  test("takes never exceed supply and rates never exceed 10000 bp") {
    for (t <- Seq(
      Map("a" -> 9000, "b" -> 500, "c" -> 500),
      Map("a" -> 100, "b" -> 9800, "c" -> 100),
      Map("a" -> 3333, "b" -> 3333, "c" -> 3334))) {
      val p = planOf(t)
      p.foreach { case (s, (_, supply, _, take, rate)) =>
        assert(take <= supply, s"stratum $s overdrawn under $t")
        assert(rate >= 0 && rate <= 10000, s"stratum $s rate $rate under $t")
      }
    }
  }

  test("zero-target strata are excluded from the budget and take nothing") {
    val p = planOf(Map("a" -> 6000, "c" -> 4000)) // b defaults to 0
    assert(p("b") == ((4L, 40L, 0L, 0L, 0L)))
    // caps: a=166, c=500 → a binds; c takes 166*4000 div 10⁴ = 66
    assert(p("a")._4 == 99L)  // 166 * 6000 div 10000
    assert(p("c")._4 == 66L)
  }

  test("a declared stratum with zero supply binds the budget to zero") {
    // 'ja' is in the recipe but not in the corpus: the recipe is
    // unachievable — every take must be 0 and ja must appear as a
    // zero-supply row (silent renormalization onto present strata was
    // the r4 review finding)
    val p = Mixing.plan(fixture, "stratum",
        Map("a" -> 4000, "b" -> 2000, "c" -> 2000, "ja" -> 2000))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(p.keySet == Set("a", "b", "c", "ja"))
    assert(p("ja") == ((0L, 0L, 2000L, 0L, 0L)))
    p.values.foreach { case (_, _, _, take, rate) =>
      assert(take == 0L && rate == 0L)
    }
  }

  test("rates feed stratifiedHash: sampled token mass tracks the plan") {
    val p = planOf(Map("a" -> 5000, "b" -> 2500, "c" -> 2500))
    // whole-percent rates from the plan (stratifiedHash takes percent)
    val rates = p.map { case (s, (_, _, _, _, rateBp)) =>
      s -> (rateBp / 100).toInt
    }
    val sampled = Sampling.stratifiedHash(fixture, "stratum", "doc_id", rates, 0)
      .groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // b is kept whole; a and c land within hash-sampling tolerance of
    // the planned doc fraction (10-doc strata → coarse, just bound it)
    assert(sampled("b") == 4L)
    assert(sampled.getOrElse("a", 0L) <= 10L && sampled.getOrElse("c", 0L) <= 20L)
  }

  test("temperature shares compress toward uniform without reordering") {
    val t = Mixing.temperaturePlan(fixture, "stratum")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4))))
      .toMap
    // supply 100/40/200 → natural 2941/1176/5882 bp; sqrt weights
    // 10/6/14 → temp 3333/2000/4666 bp: tail up, head down, order kept
    assert(t("b")._2 > t("b")._1, s"tail stratum must gain: ${t("b")}")
    assert(t("c")._2 < t("c")._1, s"head stratum must shed: ${t("c")}")
    assert(t("c")._2 > t("a")._2 && t("a")._2 > t("b")._2, "order preserved")
    // integer-exact expected values (floor(sqrt()) weights 10, 6, 14)
    assert(t == Map(
      "a" -> ((2941L, 3333L)), "b" -> ((1176L, 2000L)),
      "c" -> ((5882L, 4666L))))
  }

  test("epoch plan: fixed budget forces repeats; zero supply marks unachievable") {
    // budget = 2 x 340 = 680 tokens; takes = budget * target / 1e4
    val got = Mixing.epochPlan(fixture, "stratum",
        Map("a" -> 4000, "b" -> 2500, "c" -> 2500, "d" -> 1000))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // (n_tokens, take_tokens, epochs_centi, oversampled)
    assert(got == Map(
      "a" -> ((100L, 272L, 272L, 1L)), // 2.72 epochs
      "b" -> ((40L, 170L, 425L, 1L)),  // the tail stratum repeats most
      "c" -> ((200L, 170L, 85L, 0L)),  // under one pass
      "d" -> ((0L, 68L, -1L, 0L))))    // demanded but absent
  }
}
