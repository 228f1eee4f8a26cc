package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Rolling z-score anomalies: planted spike flagged, steady baseline
  * and warm-up rows never flagged, verdicts causal (trailing frame). */
class AnomalySpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  test("planted spike flagged; warm-up and steady rows clean; causal frame") {
    // user 1: values oscillate 10/11 for 20 events, then a 100 spike,
    // then back to 10 — only the spike may flag. user 2: constant, no
    // flags (zero variance, but its own values never deviate).
    val rows =
      (0 until 20).map(i => (1000L + i, 1L, if (i % 2 == 0) 10.0 else 11.0)) ++
        Seq((1020L, 1L, 100.0), (1021L, 1L, 10.0)) ++
        (0 until 12).map(i => (2000L + i, 2L, 5.0))
    val ev = rows.zipWithIndex
      .map { case ((ts, u, v), i) => (ts, v, i.toLong, u) }
      .toDF("timestamp", "value", "event_id", "user_id")
    val out = Anomaly.rollingZScore(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(6))) // user, ts, anomaly
    val flagged = out.filter(_._3 == 1L).toSet
    assert(flagged == Set((1L, 1020L, 1L)), out.filter(_._3 == 1L).mkString(","))
    // warm-up: first minPrev rows of each user have no verdict
    val warm = out.filter { case (_, ts, _) => ts < 1008L || (ts >= 2000L && ts < 2008L) }
    assert(warm.forall(_._3 == 0L))
    // causality: the row AFTER the spike is judged against a window
    // that now CONTAINS the spike (inflated variance) — still clean
    assert(out.find(t => t._1 == 1L && t._2 == 1021L).get._3 == 0L)
  }

  test("constant series never flags (zero variance, zero deviation)") {
    val ev = (0 until 30).map(i => (100L + i, 7.5, i.toLong, 1L))
      .toDF("timestamp", "value", "event_id", "user_id")
    assert(Anomaly.rollingZScore(ev).filter("anomaly = 1").count() == 0)
    // ...but a deviation from a constant baseline flags immediately
    val ev2 = ((0 until 10).map(i => (100L + i, 7.5, i.toLong, 1L)) :+
      (110L, 8.5, 10L, 1L))
      .toDF("timestamp", "value", "event_id", "user_id")
    val f = Anomaly.rollingZScore(ev2).filter("anomaly = 1").collect()
    assert(f.length == 1 && f.head.getLong(1) == 110L)
  }

  test("one shuffle on the key; no unpartitioned window") {
    val ev = (0 until 100).map(i => (100L + i, i.toDouble, i.toLong, (i % 7).toLong))
      .toDF("timestamp", "value", "event_id", "user_id")
    val plan = Anomaly.rollingZScore(ev).queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(2000))
    // partitioned by user_id — a global (empty-partition-spec) window
    // would print "Window [... ORDER BY ...]" without the key
    assert(plan.contains("partitionBy") || plan.contains("user_id"), plan.take(2000))
  }
}
