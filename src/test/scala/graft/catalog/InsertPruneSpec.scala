package graft.catalog

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Ignore-policy insert pruning: the existing-side read must prune to
  * the batch's bucket span without ever collecting an unbounded set of
  * bucket ids (VERDICT r3 watch item — a years-long backfill into fine
  * buckets would otherwise hold 10^5-10^6 of them). Narrow batches keep
  * the exact bucket set; wide batches degrade to min/max range bounds
  * on the ordered bucket ids.
  */
class InsertPruneSpec extends AnyFunSuite with GraftSpark {

  // 1 µs buckets make "thousands of buckets" cheap to span
  private def freshCatalog(): TsCatalog = new TsCatalog(
    spark, Files.createTempDirectory("graft-prune-spec").toString,
    bucketNs = 1000L)

  private def batchDf(tss: Seq[Long]) = {
    import spark.implicits._
    tss.map(t => (t, 1.0)).toDF("timestamp", "value")
  }

  test("narrow batch keeps the exact per-bucket IN filter") {
    val cat = freshCatalog()
    // 5 points in 3 distinct 1µs buckets, with bucket 2 skipped
    val pred = cat.bucketPrunePredicate(
      batchDf(Seq(1000L, 1001L, 3000L, 3999L, 4000L)))
    assert(Seq(1L, 3L, 4L).forall(pred))
    // exact: a listed bucket inside the batch's span but not in it is
    // not read
    assert(!pred(2L) && !pred(0L) && !pred(5L))
  }

  test("wide batch degrades to O(1) range bounds, never a huge IN list") {
    val cat = freshCatalog()
    // 1500 points in 1500 distinct even buckets — over the 1000-id cap
    val pred = cat.bucketPrunePredicate(
      batchDf((0 until 1500).map(i => i * 2000L + 7L)))
    assert(!pred.isInstanceOf[Set[_]], "expected range bounds, not an id set")
    // bounds are the batch's floorDiv bucket extremes: every bucket in
    // between passes, odd ones the batch never touches included
    assert(pred(0L) && pred(1L) && pred(2998L))
    assert(!pred(-1L) && !pred(2999L))
  }

  test("ignore-policy dedup stays exact across the wide-batch fallback") {
    val cat = freshCatalog()
    cat.createDb("db")
    cat.createSeries("db", "s", SeriesMeta(None, dupPolicy = "ignore"))
    // first ingest: 1200 points, one per bucket
    val first = (0 until 1200).map(i => i * 1000L)
    assert(cat.insert("db", "s", batchDf(first)) == 1200L)
    // second ingest overlaps 1100 of them and adds 400 new, again over
    // the literal cap — the range-bounded existing read must still feed
    // an exact timestamp anti-join
    val second = (100 until 1600).map(i => i * 1000L)
    assert(cat.insert("db", "s", batchDf(second)) == 400L)
    assert(cat.readSeries("db", "s").count() == 1600L)
  }
}
