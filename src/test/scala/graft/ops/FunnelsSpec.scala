package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Funnels: strictly-after chaining, earliest-frontier policy,
  * same-timestamp exclusion; retention cohort/offset arithmetic. */
class FunnelsSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  test("funnel chains strictly-after frontiers with the earliest-frontier policy") {
    val ev = Seq(
      // user 1: clean 3-step conversion
      (1L, 10L, "signup"), (1L, 20L, "view"), (1L, 30L, "purchase"),
      // user 2: view at the SAME ts as signup does not chain
      (2L, 10L, "signup"), (2L, 10L, "view"), (2L, 40L, "purchase"),
      // user 3: pre-signup view ignored; purchase before the view frontier
      (3L, 5L, "view"), (3L, 10L, "signup"), (3L, 15L, "view"), (3L, 12L, "purchase"),
      // user 4: never signs up
      (4L, 1L, "purchase"), (4L, 2L, "view"),
      // user 5: EARLIEST view after signup (12, not 20) lets purchase@15 chain
      (5L, 10L, "signup"), (5L, 20L, "view"), (5L, 12L, "view"), (5L, 15L, "purchase")
    ).toDF("user_id", "timestamp", "event_type")
    val got = Funnels.funnel(ev, Seq("signup", "view", "purchase"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // signup: 1,2,3,5; view strictly after: 1,3,5; purchase after that: 1,5
    assert(got == Set((1L, "signup", 4L), (2L, "view", 3L), (3L, "purchase", 2L)))
  }

  test("windowed funnel bounds every step by the step-1 attribution window") {
    val ev = Seq(
      (1L, 0L, "signup"), (1L, 5L, "view"), (1L, 8L, "purchase"),   // all inside W=10
      (2L, 0L, "signup"), (2L, 5L, "view"), (2L, 12L, "purchase"),  // purchase outside
      (3L, 0L, "signup"), (3L, 20L, "view"),                        // view outside
      (4L, 0L, "signup"), (4L, 15L, "view"), (4L, 5L, "view"), (4L, 7L, "purchase")
    ).toDF("user_id", "timestamp", "event_type")
    def counts(w: Long) = Funnels
      .funnelWithin(ev, Seq("signup", "view", "purchase"), w)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // W=10: user 4's in-window view@5 is the frontier (15 ignored),
    // purchase@7 chains; user 2 loses only the purchase; user 3 stalls
    assert(counts(10L) == Map(1L -> 4L, 2L -> 3L, 3L -> 2L))
    // W=6: purchases at 7/8 fall outside; views at 5 still convert
    assert(counts(6L) == Map(1L -> 4L, 2L -> 3L, 3L -> 0L))
    // a huge window degenerates to the plain funnel
    val plain = Funnels.funnel(ev, Seq("signup", "view", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(counts(1000000L) == plain)
  }

  test("NULL-timestamp seeds: windowed step 1 counts the row, plain funnel doesn't (r17 chain)") {
    // the r17 left-join count chain must preserve both legacy counting
    // rules: funnelWithin's step 1 counted seed ROWS (count(*) over
    // s1 — a user whose only signup ts is NULL still groups), while
    // funnel's step 1 counted non-null f0.
    val ev = Seq(
      (1L, Option(10L), "signup"), (1L, Option(20L), "view"), (1L, Option(30L), "purchase"),
      (9L, None: Option[Long], "signup") // NULL-ts signup: groups, can't chain
    ).toDF("user_id", "timestamp", "event_type")
    val within = Funnels.funnelWithin(ev, Seq("signup", "view", "purchase"), 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(within == Map(1L -> 2L, 2L -> 1L, 3L -> 1L), s"got $within")
    val plain = Funnels.funnel(ev, Seq("signup", "view", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(plain == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $plain")
  }

  test("funnel edge arities: single step and two steps") {
    val ev = Seq(
      (1L, 10L, "signup"), (1L, 20L, "view"),
      (2L, 10L, "view"), (2L, 20L, "signup"),   // view before signup: no chain
      (3L, 10L, "signup"), (3L, 10L, "view")    // same ts: no chain
    ).toDF("user_id", "timestamp", "event_type")
    val one = Funnels.funnel(ev, Seq("signup"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(one.toSeq == Seq((1L, "signup", 3L)))
    val two = Funnels.funnel(ev, Seq("signup", "view"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(two == Map(1L -> 3L, 2L -> 1L))
  }

  test("4-step funnel matches a row-level replay on seeded random events") {
    // exercises the generic path: intermediate frontier recounts (the
    // mids branch) plus the stats-maxima last step
    val types = Seq("signup", "view", "click", "purchase")
    val rnd = new scala.util.Random(31)
    val rows = (1L to 60L).flatMap { u =>
      (0 until rnd.nextInt(14)).map { _ =>
        (u, rnd.nextInt(50).toLong, types(rnd.nextInt(4)))
      }
    }
    // replay: f(k) = min ts of types(k) strictly after f(k-1)
    val reached = rows.groupBy(_._1).view.mapValues { evs =>
      var r = 0
      var f = Long.MinValue
      for (k <- types.indices if r == k) {
        val cand = evs.collect {
          case (_, ts, tp) if tp == types(k) && (k == 0 || ts > f) => ts
        }
        if (cand.nonEmpty) { r = k + 1; f = cand.min }
      }
      r
    }.toMap
    val expected = (1 to 4).map(k =>
      (k.toLong, types(k - 1), reached.values.count(_ >= k).toLong)).toSet
    val got = Funnels.funnel(rows.toDF("user_id", "timestamp", "event_type"), types)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected, s"got $got expected $expected")
  }

  test("4-step windowed funnel matches a row-level replay on seeded random events") {
    val types = Seq("signup", "view", "click", "purchase")
    val w = 25L
    val rnd = new scala.util.Random(37)
    val rows = (1L to 50L).flatMap { u =>
      (0 until rnd.nextInt(16)).map { _ =>
        (u, rnd.nextInt(60).toLong, types(rnd.nextInt(4)))
      }
    }
    // replay: f(0) = min types(0); f(k) = min ts of types(k) with
    // f(k-1) < ts <= f(0) + w
    val reached = rows.groupBy(_._1).view.mapValues { evs =>
      var r = 0
      var f = Long.MinValue
      var t0 = Long.MinValue
      for (k <- types.indices if r == k) {
        val cand = evs.collect {
          case (_, ts, tp) if tp == types(k) &&
            (k == 0 || (ts > f && ts <= t0 + w)) => ts
        }
        if (cand.nonEmpty) {
          r = k + 1; f = cand.min
          if (k == 0) t0 = f
        }
      }
      r
    }.toMap
    val expected = (1 to 4).map(k =>
      (k.toLong, types(k - 1), reached.values.count(_ >= k).toLong)).toSet
    val got = Funnels.funnelWithin(
        rows.toDF("user_id", "timestamp", "event_type"), types, w)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected, s"got $got expected $expected")
  }

  test("retention counts distinct users per (first-activity cohort, offset)") {
    val ev = Seq(
      (1L, 5L), (1L, 15L), (1L, 35L),   // cohort 0 -> offsets 0, 1, 3
      (2L, 25L), (2L, 27L),             // cohort 2 -> offset 0 once (distinct)
      (3L, 6L), (3L, 36L)               // cohort 0 -> offsets 0, 3
    ).toDF("user_id", "timestamp")
    val got = Funnels.retention(ev, periodUs = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (0L, 0L) -> 2L, (0L, 1L) -> 1L, (0L, 3L) -> 2L, (2L, 0L) -> 1L))
  }

  test("funnel step counts are non-increasing on the real fixture") {
    val ev = graft.core.Tables.eventSeries(spark, "/root/testdata/sf0.001")
    val n = Funnels.funnel(ev, Seq("signup", "view", "purchase"))
      .orderBy("step").collect().map(_.getLong(2))
    assert(n.length == 3 && n(0) >= n(1) && n(1) >= n(2) && n(0) > 0)
  }
}
