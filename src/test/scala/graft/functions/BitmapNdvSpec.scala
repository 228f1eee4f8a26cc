package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** bitmap_ndv must equal count(DISTINCT _) exactly on every integral
  * shape — and fail LOUDLY past its documented range cap rather than
  * degrade. */
class BitmapNdvSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def assertParity(df: org.apache.spark.sql.DataFrame): Unit = {
    val both = df.groupBy("k").agg(
      call_function("bitmap_ndv", col("v")).as("fast"),
      countDistinct(col("v")).as("ref"))
    val bad = both.filter(!(col("fast") <=> col("ref"))).collect()
    assert(bad.isEmpty, s"divergence: ${bad.take(5).mkString("; ")}")
  }

  test("random grouped longs (dups, negatives, nulls) match count distinct") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20000).map { _ =>
      val v: java.lang.Long =
        if (rnd.nextInt(25) == 0) null
        else java.lang.Long.valueOf(rnd.nextLong() % 500000L) // dups + negatives
      (s"g${rnd.nextInt(4)}", v)
    }
    assertParity(rows.toDF("k", "v"))
  }

  test("span boundaries, extremes, and single-span density match") {
    val edge = Seq(0L, 1L, 65535L, 65536L, 65537L, -1L, -65536L,
      Long.MaxValue, Long.MinValue, Long.MaxValue - 1, 42L, 42L)
    assertParity(edge.map(("a", _)).toDF("k", "v"))
    // a fully dense span plus its neighbors
    assertParity((0L until 70000L).map(("b", _)).toDF("k", "v"))
  }

  test("partials merge exactly across partitionings (serialize round-trip)") {
    val rnd = new scala.util.Random(13)
    val vals = (0 until 50000).map(_ => rnd.nextLong() % 3000000L)
    val expected = vals.distinct.size.toLong
    Seq(1, 3, 16).foreach { p =>
      val got = vals.toDF("v").repartition(p)
        .agg(call_function("bitmap_ndv", col("v"))).collect()(0).getLong(0)
      assert(got == expected, s"partitions=$p: $got != $expected")
    }
  }

  test("integer input works through the same aggregate") {
    val got = (0 until 1000).map(i => i % 321).toDF("v")
      .agg(call_function("bitmap_ndv", col("v"))).collect()(0).getLong(0)
    assert(got == 321L)
  }

  test("all-null input counts zero, like count distinct") {
    val got = Seq[java.lang.Long](null, null).toDF("v")
      .agg(call_function("bitmap_ndv", col("v"))).collect()(0).getLong(0)
    assert(got == 0L)
  }

  test("a value range past the container cap fails loudly, never silently") {
    // one value per 65,536-value span, one more span than the cap
    val wide = (0L to NdvBitmap.MaxContainers.toLong)
      .map(i => i * 65536L).toDF("v").repartition(1)
    val e = intercept[Exception] {
      wide.agg(call_function("bitmap_ndv", col("v"))).collect()
    }
    assert(graft.TestCauses.chain(e).exists(t =>
      t.getMessage != null && t.getMessage.contains("bitmap_ndv")), s"$e")
  }

  test("bitmap_merge_ndv over serialized partials equals bitmap_ndv over the union") {
    val rnd = new scala.util.Random(17)
    // build per-group serialized bitmaps by hand (the DictRollup
    // kernel's partial shape), overlapping value sets across groups
    val partials = (0 until 24).map { i =>
      val bm = new NdvBitmap
      val vals = (0 until 500).map(_ => rnd.nextLong() % 80000L)
      vals.foreach(bm.add)
      (s"k${i % 3}", bm.serialize(), vals)
    }
    val expected = partials.groupBy(_._1)
      .map { case (k, ps) => k -> ps.flatMap(_._3).distinct.size.toLong }
    val got = partials.map(p => (p._1, p._2)).toDF("k", "bm")
      .repartition(5)
      .groupBy("k").agg(call_function("bitmap_merge_ndv", col("bm")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, s"$got vs $expected")
    // null partials are skipped, empty group counts zero
    val z = Seq(("a", null: Array[Byte]),
        ("a", (new NdvBitmap).serialize()))
      .toDF("k", "bm")
      .groupBy("k").agg(call_function("bitmap_merge_ndv", col("bm")))
      .collect()(0).getLong(1)
    assert(z == 0L)
  }

  test("non-integral input is rejected at analysis") {
    val e = intercept[Exception] {
      Seq(1.5).toDF("v").agg(call_function("bitmap_ndv", col("v"))).collect()
    }
    assert(graft.TestCauses.chain(e).exists(t =>
      t.getMessage != null && t.getMessage.toLowerCase.contains("integral")), s"$e")
  }
}
