package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Binned range join: parity with the direct |diff| <= tol definition,
  * exact boundary behavior, no duplicate pairs, equality-join plan. */
class RangeJoinSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  test("matches the brute-force tolerance join; boundary is inclusive; no dup pairs") {
    val rnd = new scala.util.Random(13)
    val l = (0 until 200).map(i => (rnd.nextInt(4).toLong, rnd.nextInt(5000).toLong, i.toDouble))
    val r = (0 until 200).map(i => (rnd.nextInt(4).toLong, rnd.nextInt(5000).toLong, i + 0.5))
    val tol = 100L
    val got = RangeJoin.withinTolerance(
        l.toDF("user_id", "timestamp", "value"),
        r.toDF("user_id", "timestamp", "value"),
        "user_id", tol, "value")
      .select("user_id", "timestamp", "value", "r_timestamp", "r_value")
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3), x.getDouble(4)))
    val brute = for {
      (lk, lt, lv) <- l
      (rk, rt, rv) <- r
      if lk == rk && math.abs(lt - rt) <= tol
    } yield (lk, lt, lv, rt, rv)
    assert(got.sorted.toSeq == brute.sorted)
    assert(got.length == got.distinct.length) // multi-probe never duplicates
    // the fixture must actually contain an exactly-at-tolerance pair
    // crossing a bucket boundary for the boundary claim to be tested
    val exact = brute.filter(p => math.abs(p._2 - p._4) == tol)
    assert(exact.nonEmpty || {
      val g2 = RangeJoin.withinTolerance(
        Seq((1L, 0L, 1.0)).toDF("user_id", "timestamp", "value"),
        Seq((1L, tol, 2.0)).toDF("user_id", "timestamp", "value"),
        "user_id", tol, "value").count()
      g2 == 1
    })
  }

  test("a 50%-hot key: parity holds and candidates stay (key, bucket)-bounded") {
    // half of both sides on one key. The quadratic term of a range
    // join is the within-candidate-block pair count; binning keys the
    // block by (key, TIME BUCKET), so the hot key's candidates grow
    // with its rows per tol-window, not with its total rows. The plan
    // must stay the equality join of the uniform case.
    val rnd = new scala.util.Random(31)
    def hotKey() = if (rnd.nextBoolean()) 0L else 1L + rnd.nextInt(50).toLong
    // spread over a long horizon so the hot key's per-bucket population
    // stays small even though it owns half the rows
    val l = (0 until 1500).map(i => (hotKey(), rnd.nextInt(1000000).toLong, i.toDouble))
    val r = (0 until 1500).map(i => (hotKey(), rnd.nextInt(1000000).toLong, i + 0.5))
    val tol = 1000L
    val df = RangeJoin.withinTolerance(
      l.toDF("user_id", "timestamp", "value"),
      r.toDF("user_id", "timestamp", "value"),
      "user_id", tol, "value")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    val got = df.select("user_id", "timestamp", "value", "r_timestamp", "r_value")
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2), x.getLong(3), x.getDouble(4)))
    val brute = for {
      (lk, lt, lv) <- l
      (rk, rt, rv) <- r
      if lk == rk && math.abs(lt - rt) <= tol
    } yield (lk, lt, lv, rt, rv)
    assert(got.sorted.toSeq == brute.sorted)
    assert(brute.count(_._1 == 0L) > brute.size / 3, "fixture skew drifted")
  }

  test("candidates come from an equality join — no nested loop or cross product") {
    val l = Seq((1L, 10L, 1.0)).toDF("user_id", "timestamp", "value")
    val r = Seq((1L, 20L, 2.0)).toDF("user_id", "timestamp", "value")
    val plan = RangeJoin.withinTolerance(l, r, "user_id", 100L, "value")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }
}
