package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** As-of join semantics: inclusive boundary, per-key isolation,
  * null when no prior right row, brute-force parity, no cross product. */
class AsOfJoinSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private lazy val trades = Seq(
    (1L, 100L, 10.0), (1L, 200L, 20.0), (1L, 300L, 30.0),
    (2L, 150L, 15.0),
    (3L, 50L, 5.0) // user 3 has no quotes at all
  ).toDF("user_id", "timestamp", "value")

  private lazy val quotes = Seq(
    (1L, 90L, 1.0), (1L, 200L, 2.0), (1L, 250L, 3.0),
    (2L, 151L, 9.0) // strictly after user 2's only trade
  ).toDF("user_id", "timestamp", "qv")

  test("backward as-of: inclusive boundary, per-key, null without prior right row") {
    val got = AsOfJoin.backward(trades, quotes, "user_id", "timestamp", "qv", "q")
      .select("user_id", "timestamp", "value", "q")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSet
    assert(got == Set(
      (1L, 100L, Some(1.0)), // quote at 90 carried forward
      (1L, 200L, Some(2.0)), // EQUAL timestamp quote matches (inclusive)
      (1L, 300L, Some(3.0)),
      (2L, 150L, None),      // only quote is later
      (3L, 50L, None)))      // no quotes for the key
  }

  test("matches the brute-force definition on a random fixture") {
    val rnd = new scala.util.Random(11)
    val l = (0 until 300).map(_ => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val r = (0 until 200).map(_ => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
      // dedup (key, ts) keeping max value — the documented tie policy
      .groupBy(x => (x._1, x._2)).map { case ((k, t), v) => (k, t, v.map(_._3).max) }.toSeq
    val got = AsOfJoin.backward(
        l.toDF("user_id", "timestamp", "value"),
        r.toDF("user_id", "timestamp", "qv"),
        "user_id", "timestamp", "qv", "q")
      .select("user_id", "timestamp", "value", "q").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3))))
      .sortBy(x => (x._1, x._2, x._3))
    val brute = l.map { case (k, t, v) =>
      val prior = r.filter(q => q._1 == k && q._2 <= t)
      (k, t, v, if (prior.isEmpty) None else Some(prior.maxBy(_._2)._3))
    }.sortBy(x => (x._1, x._2, x._3))
    assert(got.toSeq == brute)
  }

  test("null right values are dropped, not carried as stale observations") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("timestamp", LongType),
      StructField("qv", DoubleType, nullable = true)))
    val qWithNull = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 90L, 1.0), Row(1L, 95L, null)), schema)
    val got = AsOfJoin.backward(
        trades.filter($"user_id" === 1 && $"timestamp" === 100L),
        qWithNull, "user_id", "timestamp", "qv", "q")
      .select("q").collect().head
    // the null row at 95 is ignored; the 90 observation carries — NOT
    // DuckDB semantics (which would match the null row); documented
    assert(got.getDouble(0) == 1.0)
  }

  test("a 50%-hot key: brute-force parity and the same cross-product-free plan") {
    // one symbol = half of all quotes AND half of all trades — the
    // classic hot instrument. The union+window formulation's work per
    // key is its row share (sort within partition), so the plan must
    // be IDENTICAL in shape to the uniform case: one shuffle on the
    // key, a window, no join operator at all.
    val rnd = new scala.util.Random(29)
    def hotKey() = if (rnd.nextBoolean()) 0L else 1L + rnd.nextInt(50).toLong
    val l = (0 until 2000).map(_ => (hotKey(), rnd.nextInt(100000).toLong, rnd.nextDouble()))
    val r = (0 until 2000).map(_ => (hotKey(), rnd.nextInt(100000).toLong, rnd.nextDouble()))
      .groupBy(x => (x._1, x._2)).map { case ((k, t), v) => (k, t, v.map(_._3).max) }.toSeq
    val hotShare = l.count(_._1 == 0L).toDouble / l.size
    assert(hotShare > 0.4 && hotShare < 0.6, s"fixture skew drifted: $hotShare")
    val df = AsOfJoin.backward(
      l.toDF("user_id", "timestamp", "value"),
      r.toDF("user_id", "timestamp", "qv"),
      "user_id", "timestamp", "qv", "q")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin")
      && !plan.contains("SortMergeJoin"), plan.take(2000))
    assert(plan.contains("Window"), plan.take(2000))
    val got = df.select("user_id", "timestamp", "value", "q").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3))))
      .sortBy(x => (x._1, x._2, x._3))
    val brute = l.map { case (k, t, v) =>
      val prior = r.filter(q => q._1 == k && q._2 <= t)
      (k, t, v, if (prior.isEmpty) None else Some(prior.maxBy(_._2)._3))
    }.sortBy(x => (x._1, x._2, x._3))
    assert(got.toSeq == brute)
  }

  test("plan is a windowed union — no cross product or nested loop") {
    val plan = AsOfJoin.backward(trades, quotes, "user_id", "timestamp", "qv", "q")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    assert(plan.contains("Window"), plan.take(2000))
  }

  test("forward as-of: inclusive boundary, next observation, null without later right row") {
    val got = AsOfJoin.forward(trades, quotes, "user_id", "timestamp", "qv", "q")
      .select("user_id", "timestamp", "value", "q")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSet
    assert(got == Set(
      (1L, 100L, Some(2.0)), // next quote is at 200
      (1L, 200L, Some(2.0)), // EQUAL timestamp quote matches (inclusive)
      (1L, 300L, None),      // no later quote
      (2L, 150L, Some(9.0)), // the strictly-later quote now matches
      (3L, 50L, None)))      // no quotes for the key
  }

  test("forward matches the brute-force definition on a random fixture") {
    val rnd = new scala.util.Random(13)
    val l = (0 until 300).map(_ => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val r = (0 until 200).map(_ => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
      // dedup (key, ts) keeping min value — forward's documented tie policy
      .groupBy(x => (x._1, x._2)).map { case ((k, t), v) => (k, t, v.map(_._3).min) }.toSeq
    val got = AsOfJoin.forward(
        l.toDF("user_id", "timestamp", "value"),
        r.toDF("user_id", "timestamp", "qv"),
        "user_id", "timestamp", "qv", "q")
      .select("user_id", "timestamp", "value", "q").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3))))
      .sortBy(x => (x._1, x._2, x._3))
    val brute = l.map { case (k, t, v) =>
      val later = r.filter(q => q._1 == k && q._2 >= t)
      (k, t, v, if (later.isEmpty) None else Some(later.minBy(_._2)._3))
    }.sortBy(x => (x._1, x._2, x._3))
    assert(got.toSeq == brute)
  }

  test("nearest as-of: closest side wins, exact tie prefers backward") {
    val l = Seq((1L, 100L, 0.0), (1L, 210L, 0.0), (1L, 300L, 0.0),
      (2L, 150L, 0.0), (3L, 50L, 0.0))
      .toDF("user_id", "timestamp", "value")
    val r = Seq((1L, 90L, 1.0), (1L, 200L, 2.0), (1L, 220L, 3.0),
      (2L, 150L, 9.0))
      .toDF("user_id", "timestamp", "qv")
    val got = AsOfJoin.nearest(l, r, "user_id", "timestamp", "qv", "q")
      .select("user_id", "timestamp", "q").collect()
      .map(x => (x.getLong(0), x.getLong(1),
        if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toSet
    assert(got == Set(
      (1L, 100L, Some(1.0)), // 90 at distance 10 beats 200 at 100
      (1L, 210L, Some(2.0)), // EXACT tie (10 both ways) → backward
      (1L, 300L, Some(3.0)), // only backward exists from 300
      (2L, 150L, Some(9.0)), // distance 0 (inclusive)
      (3L, 50L, None)))      // no right rows for the key
  }

  test("nearest matches the brute-force definition on a random fixture") {
    val rnd = new scala.util.Random(17)
    val l = (0 until 300).map(_ => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val r = (0 until 200).map(_ => (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
      .groupBy(x => (x._1, x._2)).map { case ((k, t), v) => (k, t, v.map(_._3).max) }.toSeq
    val got = AsOfJoin.nearest(
        l.toDF("user_id", "timestamp", "value"),
        r.toDF("user_id", "timestamp", "qv"),
        "user_id", "timestamp", "qv", "q")
      .select("user_id", "timestamp", "value", "q").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3))))
      .sortBy(x => (x._1, x._2, x._3))
    val brute = l.map { case (k, t, v) =>
      val mine = r.filter(_._1 == k)
      val b = mine.filter(_._2 <= t).sortBy(_._2).lastOption
      val f = mine.filter(_._2 >= t).sortBy(_._2).headOption
      val near = (b, f) match {
        case (None, None) => None
        case (Some(x), None) => Some(x._3)
        case (None, Some(y)) => Some(y._3)
        case (Some(x), Some(y)) =>
          if (t - x._2 <= y._2 - t) Some(x._3) else Some(y._3)
      }
      (k, t, v, near)
    }.sortBy(x => (x._1, x._2, x._3))
    assert(got.toSeq == brute)
  }

  test("nearest fuses both carries into ONE window (one shuffle, no cross product)") {
    val plan = AsOfJoin.nearest(trades, quotes, "user_id", "timestamp", "qv", "q")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan)
    // both frames share one WindowExec: exactly one Window operator
    assert("(?m)^[^\\n]*Window ".r.findAllIn(plan).size <= 2, plan)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, plan.take(3000))
  }
}
