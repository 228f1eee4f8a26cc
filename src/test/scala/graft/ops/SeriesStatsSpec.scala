package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** SeriesStats: autocorrelation signs on constructed series, MAD
  * robustness vs the mean/stddev detector, histogram-quantile
  * interpolation arithmetic on hand-packed buckets. */
class SeriesStatsSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def series(vals: Seq[Double], user: Long = 1L) =
    vals.zipWithIndex.map { case (v, i) =>
      (user, i.toLong * 1000000L, i.toLong, v)
    }.toDF("user_id", "timestamp", "event_id", "value")

  test("alternating series has strongly negative acf1, positive acf2") {
    val df = SeriesStats.acf(series(Seq.fill(30)(Seq(10.0, 20.0)).flatten))
    val r = df.collect().head
    val (a1, a2) = (r.getAs[Long]("acf6_1"), r.getAs[Long]("acf6_2"))
    assert(a1 < -900000L, s"acf1=$a1") // ~ -1
    assert(a2 > 900000L, s"acf2=$a2") // ~ +1
  }

  test("linear trend keeps all lags strongly positive") {
    val df = SeriesStats.acf(series((1 to 60).map(_.toDouble)))
    val r = df.collect().head
    (1 to 3).foreach { k =>
      assert(r.getAs[Long](s"acf6_$k") > 700000L, s"lag $k")
    }
  }

  test("constant series (zero variance) yields null acf, counts intact") {
    val df = SeriesStats.acf(series(Seq.fill(20)(5.0)))
    val r = df.collect().head
    assert(r.getAs[Long]("n") == 20L)
    assert(r.getAs[Long]("n1") == 19L)
    assert(r.isNullAt(r.fieldIndex("acf6_1")))
  }

  test("MAD flags a spike the frame median absorbs into a zero-MAD frame") {
    // 19 constants then one spike: med = 5, mad = 0 → spike is anomalous
    val df = SeriesStats.rollingMad(series(Seq.fill(19)(5.0) :+ 500.0))
    val rows = df.orderBy("event_id").collect()
    assert(rows.take(19).forall(_.getAs[Long]("anomaly") == 0L))
    val last = rows.last
    assert(last.getAs[Double]("med") == 5.0)
    assert(last.getAs[Double]("mad") == 0.0)
    assert(last.getAs[Long]("anomaly") == 1L)
  }

  test("MAD detector survives a level shift (median robustness)") {
    // step from 5 to 50 mid-series: after 10 points at the new level
    // the median has moved — no anomalies once the frame is majority-new
    val df = SeriesStats.rollingMad(series(Seq.fill(20)(5.0) ++ Seq.fill(20)(50.0)))
    val rows = df.orderBy("event_id").collect()
    // deep into the new level, frame is all-50: quiet again
    assert(rows.drop(38).forall(_.getAs[Long]("anomaly") == 0L))
  }

  test("warm-up frames below minN never flag") {
    val df = SeriesStats.rollingMad(series(Seq(1.0, 99.0, 1.0, 99.0, 1.0)))
    assert(df.collect().forall(_.getAs[Long]("anomaly") == 0L))
  }

  test("histogram p90 interpolates inside the winning bucket") {
    // 10 values in (5,10]: total=10, rank=9, bucket covers cb=0..cnt=10
    // → p90 = 5 + (10-5) * 9/10 = 9.5
    val ev = (1 to 10).map(i => (0L, 6.0 + (i % 4) * 0.5))
      .toDF("timestamp", "value")
    val r = SeriesStats.histogramQuantile(ev).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("bucket") == 3L)
    assert(r.head.getAs[Double]("p90") == 9.5)
  }

  test("histogram p90 lands in the right bucket across a split") {
    // 90 small values in bucket 0, 10 in bucket 5 (26..50): rank=90
    // falls on the LAST small row → p90 interpolates to bucket 0's hi
    val ev = (Seq.fill(90)(0.5) ++ Seq.fill(10)(30.0)).map((0L, _))
      .toDF("timestamp", "value")
    val r = SeriesStats.histogramQuantile(ev).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("bucket") == 0L)
    assert(r.head.getAs[Double]("p90") == 0.0 + (1.0 - 0.0) * (90.0 / 90.0))
  }

  test("histogram grid stays bucket-bounded per hour") {
    val ev = (1 to 1000).map(i =>
      ((i % 3).toLong * 3600000000L, (i % 700).toDouble))
      .toDF("timestamp", "value")
    val out = SeriesStats.histogramQuantile(ev).collect()
    assert(out.length == 3) // one winning bucket per hour
    assert(out.forall(_.getAs[Long]("total") > 0))
  }
}
