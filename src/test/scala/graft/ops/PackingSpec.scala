package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Packing.sequenceSpans: the two-level scan equals the naive global
  * window bit-for-bit, straddles and zero-token docs behave, and the
  * plan's only unpartitioned window runs over the shard relation. */
class PackingSpec extends AnyFunSuite with GraftSpark {

  import spark.implicits._

  private def naive(docs: org.apache.spark.sql.DataFrame, seqLen: Long) = {
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"),
        size(expr("regexp_extract_all(text, '\\\\S+', 0)")).cast("long").as("tok"))
      .withColumn("tok_offset", coalesce(sum("tok").over(w), lit(0L)))
      .select(col("doc_id"), col("tok").as("n_tokens"), col("tok_offset"),
        expr(s"tok_offset div $seqLen").as("start_seq"),
        expr(s"CASE WHEN tok > 0 THEN (tok_offset + tok - 1) div $seqLen " +
          s"ELSE tok_offset div $seqLen END").as("end_seq"),
        expr(s"CASE WHEN tok > 0 THEN (tok_offset + tok - 1) div $seqLen " +
          s"- tok_offset div $seqLen + 1 ELSE 0 END").as("n_seqs"))
  }

  test("two-level scan equals the global window on the corpus, several shard sizes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val expected = naive(docs, 512).collect().map(_.toSeq).toSet
    for (shard <- Seq(1L, 7L, 64L, 1L << 20)) {
      val got = Packing.sequenceSpans(docs, 512, shard).collect().map(_.toSeq).toSet
      assert(got == expected, s"shardSize=$shard diverged")
    }
  }

  test("straddle spans and zero-token docs") {
    // seqLen 10: doc 0 (8 tok) in seq 0; doc 1 (0 tok) at offset 8,
    // n_seqs 0; doc 2 (5 tok) spans seqs 0-1; doc 3 (25 tok) spans 1-3
    val docs = Seq(
      (0L, "a b c d e f g h"), (1L, "  "), (2L, "i j k l m"),
      (3L, Seq.fill(25)("w").mkString(" "))).toDF("doc_id", "text")
    val r = Packing.sequenceSpans(docs, 10, 2).collect()
      .map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))).toMap
    assert(r(0L) == ((8L, 0L, 0L, 0L, 1L)))
    assert(r(1L) == ((0L, 8L, 0L, 0L, 0L)))
    assert(r(2L) == ((5L, 8L, 0L, 1L, 2L)))
    assert(r(3L) == ((25L, 13L, 1L, 3L, 3L)))
  }

  test("the only unpartitioned window runs over the shard relation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Packing.sequenceSpans(docs, 512, 64)
      .queryExecution.optimizedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    // every window over doc_id must be shard-partitioned; the global
    // one may only order by shard (the tiny per-shard relation)
    windows.filter(_.contains("doc_id")).foreach { w =>
      assert(w.contains("shard"), s"unpartitioned corpus window: $w")
    }
    assert(windows.exists(w => w.contains("shard") && !w.contains("doc_id")),
      "expected the shard-relation prefix window")
  }

  test("length buckets: quantile boundaries split deterministically, ties stay together") {
    // 8 docs with token counts 1,2,3,4,5,6,7,8 → quartile boundaries
    // p25=2.75, p50=4.5, p75=6.25 → buckets (1,2)(3,4)(5,6)(7,8)
    val docs = (1 to 8).map(i => (i.toLong, ("w " * i).trim))
      .toDF("doc_id", "text")
    val got = Packing.lengthBuckets(docs, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L,
      5L -> 3L, 6L -> 3L, 7L -> 4L, 8L -> 4L))
    // equal token counts always share a bucket (the batching property)
    val tied = Seq((1L, "a b"), (2L, "c d"), (3L, "e f"), (4L, "x y z"))
      .toDF("doc_id", "text")
    val buckets = Packing.lengthBuckets(tied, 2).collect()
      .map(r => (r.getLong(1), r.getLong(2))).groupBy(_._1)
    buckets.foreach { case (_, bs) => assert(bs.map(_._2).distinct.length == 1) }
    spark.catalog.clearCache()
  }

  test("exactGlobal matches the per-group exact tier, several shard sizes") {
    val vals = (Seq.fill[Option[Long]](3)(None) ++
      Seq(5L, 1L, 9L, 2L, 2L, 7L, 300L, 1024L, 1025L, 4096L).map(Option(_)))
      .toDF("x")
    val pcts = Seq(("p25", 0.25), ("p50", 0.5), ("p75", 0.75))
    val expected = Percentiles.exact(vals.withColumn("g", lit(1)), "g", "x", pcts)
      .drop("g").collect().map(_.toSeq).toSet
    for (shard <- Seq(1L, 7L, 1024L)) {
      val got = Percentiles.exactGlobal(vals, "x", pcts, shard).collect()
      assert(got.map(_.toSeq).toSet == expected, s"shardSize=$shard diverged")
    }
    // all-null input: null percentiles, full count — like percentile()
    val allNull = Seq.fill[Option[Long]](4)(None).toDF("x")
    val r = Percentiles.exactGlobal(allNull, "x", pcts).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.getLong(3) == 4L)
  }

  test("length buckets: no unpartitioned window ever touches token rows") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Packing.lengthBuckets(docs, 4).queryExecution.optimizedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty)
    // every value-ordered window must be shard-partitioned; the only
    // unpartitioned window orders by shard — the histogram-shard
    // relation (value-range/shardSize rows), never document rows
    windows.filter(_.contains("v#")).foreach { w =>
      assert(w.contains("shard"), s"unpartitioned value window: $w")
    }
    assert(!plan.contains("windowspecdefinition(n_tokens"),
      "boundary pass sorts the token relation globally")
    spark.catalog.clearCache()
  }

  test("GK sketch tier: verdicts hold on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val r = Packing.lengthBucketsApproxVerified(docs, 4).collect()(0)
    assert(r.getLong(0) == docs.count())
    (1 to 3).foreach(i => assert(r.getLong(i) == 1L, s"ok$i verdict red"))
  }

  test("chunkWithOverlap: starts, overlap, short tail, content hash, map-only plan") {
    val docs = Seq(
      (0L, (0 until 70).map(i => s"t$i").mkString(" ")), // starts 0,30,60
      (1L, "a b c"),                                     // one short chunk
      (2L, "   ")                                        // empty: no chunks
    ).toDF("doc_id", "text")
    val r = Packing.chunkWithOverlap(docs, 40, 30)
    val rows = r.collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getString(4)))
    assert(rows.filter(_._1 == 0L).map(x => (x._2, x._3, x._4)).toSet ==
      Set((0L, 0L, 40L), (1L, 30L, 40L), (2L, 60L, 10L)))
    assert(rows.filter(_._1 == 1L).toSeq.map(x => (x._2, x._3, x._4)) ==
      Seq((0L, 0L, 3L)))
    assert(!rows.exists(_._1 == 2L))
    // chunk (0, 0) hashes exactly tokens t0..t39 space-joined
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest((0 until 40).map(i => s"t$i").mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(rows.find(x => x._1 == 0L && x._2 == 0L).get._5 == exp)
    // zero-shuffle generate: no exchange anywhere in the plan
    assert(!r.queryExecution.executedPlan.toString.contains("Exchange"))
  }
}
