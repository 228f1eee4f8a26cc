package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Incremental combine/finalize: any hash split of the input merges to
  * the bit-identical single-pass rollup (decimal associativity), the
  * iterative state fold the scaladoc promises works without retaining
  * historical partials, and the shared-scan split variant equals
  * per-batch partials. */
class IncrementalSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private lazy val events = {
    val rnd = new scala.util.Random(7)
    (0 until 2000).map { i =>
      (i.toLong, s"t${i % 3}", 1700000000000000L + (i % 50) * 3600000000L +
        (rnd.nextLong() % 3600000000L).abs, rnd.nextDouble() * 1000 - 500)
    }.toDF("event_id", "event_type", "timestamp", "value")
  }

  // the production membership hash (h60-derived, skewed bucket sizes)
  private def bucket(k: Int) =
    pmod(TextFns.h60(concat(lit("split:"), col("event_id").cast("string"))),
      lit(k.toLong))

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("event_type", "hour_ts")
      .collect().map(_.toSeq).toSeq

  private lazy val single =
    canon(Incremental.merge(Incremental.hourlyPartials(events)))

  test("merge of K hash splits equals the single-pass rollup, bit-identical") {
    for (k <- Seq(2, 3, 7)) {
      val parts = (0 until k).map(i =>
        Incremental.hourlyPartials(events.filter(bucket(k) === i)))
      assert(canon(Incremental.merge(parts: _*)) == single, s"k=$k")
    }
  }

  test("iterative fold: standing state absorbs each batch, finalized once") {
    val k = 5
    var state = Incremental.hourlyPartials(events.filter(bucket(k) === 0))
    for (i <- 1 until k) // state stays mergeable — no historical partials kept
      state = Incremental.combine(state,
        Incremental.hourlyPartials(events.filter(bucket(k) === i)))
    assert(canon(Incremental.finalizeRollup(state)) == single)
  }

  test("hourlyPartialsBy shares one scan and equals per-batch partials") {
    val bySplit = Incremental.hourlyPartialsBy(events, bucket(2) === 0)
    for (flag <- Seq(true, false)) {
      val viaBy = Incremental.merge(
        bySplit.filter(col("split") === flag).drop("split"))
      val direct = Incremental.merge(
        Incremental.hourlyPartials(events.filter(bucket(2) === 0 === flag)))
      assert(canon(viaBy) == canon(direct), s"flag=$flag")
    }
  }

  test("an empty batch is the merge identity") {
    val base = Incremental.hourlyPartials(events)
    val empty = Incremental.hourlyPartials(events.filter("event_id < 0"))
    assert(canon(Incremental.merge(base, empty)) == single)
  }

  test("joinDelta equals full-join minus old-join, terms disjoint, empty deltas empty") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // keys 1..6; a-row (k, tag), b-row (k, name); deltas overlap on
    // keys 2 (both new), 3 (only a new), 4 (only b new); key 6 new on
    // the a side has NO b match at all
    val aOld = Seq((1L, "a1"), (3L, "a3"), (4L, "a4"), (5L, "a5")).toDF("k", "a_tag")
    val aNew = Seq((2L, "a2"), (3L, "a3n"), (6L, "a6")).toDF("k", "a_tag")
    val bOld = Seq((1L, "b1"), (2L, "b2o"), (3L, "b3"), (5L, "b5")).toDF("k", "b_name")
    val bNew = Seq((2L, "b2n"), (4L, "b4")).toDF("k", "b_name")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "a_tag", "b_name").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val delta = rows(Incremental.joinDelta(aOld, aNew, bOld, bNew, Seq("k")))
    val full = rows(aOld.unionByName(aNew).join(bOld.unionByName(bNew), Seq("k")))
    val old = rows(aOld.join(bOld, Seq("k")))
    // identity: the view after the batch = old view ∪ delta
    assert(delta.toSet == (full.toSet diff old.toSet))
    // the three terms are disjoint → no dup rows from the union
    assert(delta.length == delta.toSet.size)
    // unmatched new key (6) contributes nothing; old-old pairs never appear
    assert(!delta.exists(_._1 == 6L) && !delta.exists(r => r._2 == "a1"))
    // empty deltas → empty view delta
    assert(Incremental.joinDelta(aOld, aNew.filter(col("k") < 0),
      bOld, bNew.filter(col("k") < 0), Seq("k")).isEmpty)
  }
}
