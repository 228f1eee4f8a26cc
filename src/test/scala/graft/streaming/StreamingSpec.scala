package graft.streaming

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.catalog.TsCatalog

/** Structured Streaming ingest: micro-batch appends into the series
  * catalog (WAL/chunk analog, SURVEY.md §2.6) and stream/batch parity
  * of the windowed aggregation. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll with GraftSpark {

  private val tmp = Files.createTempDirectory("graft-stream-spec").toString

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    super.afterAll()
  }

  test("file-stream ingest appends micro-batches into the series catalog incrementally") {
    import spark.implicits._
    val src = s"$tmp/src"
    val catalog = new TsCatalog(spark, s"$tmp/cat")
    catalog.createDb("sdb")
    catalog.createSeries("sdb", "s1", graft.catalog.SeriesMeta(None))

    val base = 1700000000000000000L
    (0 until 50).map(i => (base + i * 1000000000L, i.toDouble))
      .toDF("timestamp", "value")
      .coalesce(1).write.mode("append").parquet(src)

    val q = StreamingIngest.ingest(spark, src, catalog, "sdb", "s1", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      assert(catalog.readSeries("sdb", "s1").count() == 50)

      // second file arrives → incremental micro-batch, no reprocessing
      (50 until 80).map(i => (base + i * 1000000000L, i.toDouble))
        .toDF("timestamp", "value")
        .coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
      assert(catalog.readSeries("sdb", "s1").count() == 80)
    } finally q.stop()

    // points are queryable through the normal batch path, in order
    val got = catalog.readSeries("sdb", "s1").orderBy("timestamp")
      .collect().map(_.getDouble(1))
    assert(got.toSeq == (0 until 80).map(_.toDouble))
  }

  test("retention reaper racing live micro-batch ingest: no loss, expired buckets gone") {
    // enforceRetention's concurrent-ingest contract (TsCatalog scaladoc):
    // the reaper deletes only fully-expired bucket dirs, the append
    // touches only its rows' own (recent) buckets and its ignore-policy
    // read side prunes to the batch's span — disjoint directory sets,
    // so no serialization is needed. This spec runs the reaper in a
    // tight loop against live ingest (dup policy "ignore", so the read
    // side of insert races too) and asserts neither side failed, every
    // within-retention point survives exactly once, and expired buckets
    // are physically gone.
    import spark.implicits._
    val src = s"$tmp/retsrc"
    val catalog = new TsCatalog(spark, s"$tmp/retcat", bucketNs = 1000000000L)
    catalog.createDb("rdb")
    catalog.createSeries("rdb", "ev",
      graft.catalog.SeriesMeta(Some(10L * 1000000000L), dupPolicy = "ignore"))
    val base = 1700000000000000000L
    def stage(lo: Int, hi: Int): Unit =
      (lo until hi).map(i => (base + i * 1000000000L, i.toDouble))
        .toDF("timestamp", "value").coalesce(1).write.mode("append").parquet(src)
    stage(0, 10)
    val q = StreamingIngest.ingest(spark, src, catalog, "rdb", "ev", s"$tmp/retckpt")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reaperErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val nowNs = new java.util.concurrent.atomic.AtomicLong(base)
    val reaper = new Thread(() => {
      try while (!stop.get()) {
        catalog.enforceRetention("rdb", "ev", nowNs.get())
        // small backoff between reaps: the race coverage (reaper listing
        // and deleting while micro-batches append) is preserved — dozens
        // of reaps still interleave each ingest step — but the directory
        // listing pressure on a shared CI filesystem drops by orders of
        // magnitude vs a hot spin
        Thread.sleep(20)
      } catch { case t: Throwable => reaperErr.set(t) }
    }, "retention-reaper")
    reaper.start()
    try {
      q.processAllAvailable()
      for (step <- 1 to 5) {
        stage(step * 10, step * 10 + 10)
        // "now" tracks the newest staged point, so arriving rows are
        // always inside the retention window (the contract precondition)
        nowNs.set(base + (step * 10 + 10) * 1000000000L)
        q.processAllAvailable()
      }
    } finally { stop.set(true); reaper.join(); q.stop() }
    assert(reaperErr.get() == null, s"reaper failed: ${reaperErr.get()}")
    // deterministic final reap: cutoff = base + 50 s, 1 s buckets =>
    // point i (bucket ending at base + (i+1) s) survives iff i >= 50
    catalog.enforceRetention("rdb", "ev", base + 60L * 1000000000L)
    val got = catalog.readSeries("rdb", "ev").orderBy("timestamp").collect()
      .map(_.getDouble(1)).toSeq
    assert(got == (50 until 60).map(_.toDouble))
  }

  test("windowed stream aggregation matches the batch computation (complete mode)") {
    import spark.implicits._
    val src = s"$tmp/src2"
    val base = 1700000000000000000L
    val pts = (0 until 300).map(i => (base + i * 777000000L, (i % 7).toDouble))
    pts.toDF("timestamp", "value").coalesce(1).write.mode("append").parquet(src)

    val stream = spark.readStream.schema(StreamingIngest.PointSourceSchema).parquet(src)
    val agg = StreamingIngest.sampleByStream(stream, 60L * 1000000000L)
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("win_test").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("win_test")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val batch = StreamingIngest.sampleByStream(
        pts.toDF("timestamp", "value"), 60L * 1000000000L)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.forall(_._1 % 60000000000L == 0)) // end-labeled windows
  }

  test("delta/rate selectors: stream (complete mode) matches batch, ties and single-point windows exact") {
    import spark.implicits._
    val src = s"$tmp/src_rate"
    // micros domain like the gate; window = 60 s. Crafted: window 1 has
    // a duplicate-timestamp tie at both ends, window 2 is single-point
    // (rate NULL), window 3 is a plain ramp. Base is window-ALIGNED
    // (windows are absolute `ts div interval` buckets, not relative to
    // the first point).
    val base = 1699999980000000L
    val pts = Seq(
      (base + 1000000L, 5.0), (base + 1000000L, 3.0),    // tie at first ts
      (base + 50000000L, 9.0), (base + 50000000L, 11.0), // tie at last ts
      (base + 70000000L, 42.0),                          // lone point
      (base + 130000000L, 1.0), (base + 140000000L, 2.0), (base + 150000000L, 4.0))
    pts.toDF("timestamp", "value").coalesce(1).write.mode("append").parquet(src)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    for (fn <- Seq("delta", "rate")) {
      val stream = spark.readStream.schema(schema).parquet(src)
      val q = graft.engine.SeriesOps.sampleByFn(stream, 60000000L, fn)
        .writeStream.outputMode("complete").format("memory")
        .queryName(s"rate_test_$fn").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table(s"rate_test_$fn").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2))).toSet
      val batch = graft.engine.SeriesOps.sampleByFn(
          pts.toDF("timestamp", "value"), 60000000L, fn).collect()
        .map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2))).toSet
      assert(streamed == batch, s"stream/batch $fn divergence")
    }
    // batch-side semantics pin the crafted expectations: struct ties
    // give first=(t0,3.0), last=(t1,11.0) → delta 8.0; the lone-point
    // window rates NULL; the ramp window deltas 3.0 over 20 s
    val d = graft.engine.SeriesOps.sampleByFn(
        pts.toDF("timestamp", "value"), 60000000L, "delta")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(d.values.toSet == Set(Some(8.0), Some(0.0), Some(3.0)))
    val rt = graft.engine.SeriesOps.sampleByFn(
        pts.toDF("timestamp", "value"), 60000000L, "rate")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(rt.values.count(_.isEmpty) == 1)  // single-point window → NULL
    assert(rt.values.flatten.toSet ==
      Set(8.0 * 1000000.0 / 49000000.0, 3.0 * 1000000.0 / 20000000.0))
  }

  test("session_window aggregation: stream (append + watermark) matches batch, boundary exact") {
    import spark.implicits._
    val src = s"$tmp/src_sess"
    val baseUs = 1700000000000000L
    val gapUs = 1800L * 1000000 // 30 min
    // user 1: an event EXACTLY gap after the previous one still merges
    // (adjacent session windows coalesce), one more at gap+1µs breaks;
    // user 2: one dense session
    val rows = Seq(
      (1L, baseUs), (1L, baseUs + 60000000L), (1L, baseUs + 120000000L),
      (1L, baseUs + 120000000L + gapUs), // exactly gap → same session
      (1L, baseUs + 120000000L + 2 * gapUs + 1L), // gap+1µs → new session
      (2L, baseUs), (2L, baseUs + 1000000L))
      .map { case (u, t) => (t, u) }
    rows.toDF("timestamp", "user_id")
      .coalesce(1).write.mode("append").parquet(src)

    val batch = StreamingIngest.sessionCounts(
        rows.toDF("timestamp", "user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // boundary semantics: user 1 has sessions (4 events) and (1 event)
    assert(batch == Set(
      (1L, baseUs, 4L), (1L, baseUs + 120000000L + 2 * gapUs + 1L, 1L),
      (2L, baseUs, 2L)))

    // streaming session windows require append mode + watermark:
    // sessions emit once the watermark passes their end, so sentinel
    // events in later micro-batches push the watermark forward (the
    // watermark used by a batch comes from the PREVIOUS batch's max
    // event time → two sentinel batches flush everything real)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("timestamp", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema).parquet(src)
    val q = StreamingIngest.sessionCounts(stream, watermark = Some("1 second"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_test").start()
    try {
      q.processAllAvailable()
      val dayUs = 86400L * 1000000
      for (k <- 1 to 2) {
        Seq((baseUs + k * 10 * dayUs, 90L + k)).toDF("timestamp", "user_id")
          .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("sess_test")
      .filter($"user_id" < 90).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState keeps per-user running aggregates across micro-batches") {
    import spark.implicits._
    val src = s"$tmp/src_state"
    def writeBatch(events: Seq[StreamingIngest.UserEvent]): Unit =
      events.toDF().coalesce(1).write.mode("append").parquet(src)

    writeBatch(Seq(
      StreamingIngest.UserEvent(1L, 100L, 1.0),
      StreamingIngest.UserEvent(1L, 200L, 2.0),
      StreamingIngest.UserEvent(2L, 150L, 5.0)))

    val schema = org.apache.spark.sql.Encoders.product[StreamingIngest.UserEvent].schema
    val stream = spark.readStream.schema(schema).parquet(src)
      .as[StreamingIngest.UserEvent]
    val q = StreamingIngest.runningUserStats(stream)
      .writeStream.outputMode("update").format("memory")
      .queryName("state_test").start()
    try {
      q.processAllAvailable()
      // second batch updates existing state
      writeBatch(Seq(
        StreamingIngest.UserEvent(1L, 300L, 4.0),
        StreamingIngest.UserEvent(3L, 50L, 9.0)))
      q.processAllAvailable()
    } finally q.stop()

    // memory sink in update mode appends each emitted snapshot; the
    // LAST snapshot per user is the current state
    val snaps = spark.table("state_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val last = snaps.groupBy(_._1).map { case (u, v) => u -> v.maxBy(_._2) }
    assert(last(1L) == ((1L, 3L, 7.0, 300L))) // 3 events, sum 7, last ts 300
    assert(last(2L) == ((2L, 1L, 5.0, 150L)))
    assert(last(3L) == ((3L, 1L, 9.0, 50L)))
  }

  test("streaming as-of join carries the last cause across micro-batches") {
    import spark.implicits._
    val src = s"$tmp/src_asof"
    def writeBatch(events: Seq[StreamingIngest.AsOfEvent]): Unit =
      events.toDF().coalesce(1).write.mode("append").parquet(src)

    // batch 1: a click at 100, events straddling it; a tied-ts click
    // pair at 100 must resolve to the MAX value (the batch policy)
    writeBatch(Seq(
      StreamingIngest.AsOfEvent(50L, 1L, "view", 1.0),
      StreamingIngest.AsOfEvent(100L, 1L, "click", 3.0),
      StreamingIngest.AsOfEvent(100L, 1L, "click", 7.0),
      StreamingIngest.AsOfEvent(100L, 1L, "view", 2.0), // inclusive >=
      StreamingIngest.AsOfEvent(150L, 1L, "view", 4.0)))

    val schema = org.apache.spark.sql.Encoders.product[StreamingIngest.AsOfEvent].schema
    val stream = spark.readStream.schema(schema).parquet(src)
      .as[StreamingIngest.AsOfEvent]
    val q = StreamingIngest.asOfAnnotate(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_test").start()
    try {
      q.processAllAvailable()
      // batch 2: carry from batch 1's click until the fresh one lands
      writeBatch(Seq(
        StreamingIngest.AsOfEvent(200L, 1L, "view", 5.0),
        StreamingIngest.AsOfEvent(250L, 1L, "click", 9.0),
        StreamingIngest.AsOfEvent(300L, 1L, "view", 6.0),
        StreamingIngest.AsOfEvent(10L, 2L, "view", 8.0))) // no cause ever
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("asof_test").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got((1L, 50L)) == None)        // before any click
    assert(got((1L, 100L)) == Some(7.0))  // tied clicks -> max, inclusive
    assert(got((1L, 150L)) == Some(7.0))
    assert(got((1L, 200L)) == Some(7.0))  // carried across the batch gap
    assert(got((1L, 300L)) == Some(9.0))  // fresh cause wins
    assert(got((2L, 10L)) == None)        // causeless user
  }

  test("streaming rolling z-score carries the ring across micro-batches and matches batch") {
    import spark.implicits._
    val src = s"$tmp/src_zscore"
    // user 1: steady 10.0 baseline with a spike at ts 25 (fires: the
    // trailing window is constant so any deviation exceeds 9·var=0);
    // user 2: too little history for a verdict
    val all = ((1 to 24).map(i =>
        StreamingIngest.ZEvent(i.toLong, 1L, 1000L + i, 10.0)) :+
      StreamingIngest.ZEvent(25L, 1L, 1025L, 100.0)) ++
      (1 to 3).map(i => StreamingIngest.ZEvent(i.toLong, 2L, 2000L + i, 5.0 + i))
    val (b1, b2) = all.partition(_.timestamp <= 12)
    def writeBatch(events: Seq[StreamingIngest.ZEvent]): Unit =
      events.toDF().coalesce(1).write.mode("append").parquet(src)
    writeBatch(b1)
    val schema = org.apache.spark.sql.Encoders.product[StreamingIngest.ZEvent].schema
    val stream = spark.readStream.schema(schema).parquet(src)
      .as[StreamingIngest.ZEvent]
    val q = StreamingIngest.rollingZScoreStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("zscore_test").start()
    try {
      q.processAllAvailable()
      writeBatch(b2) // the 13.. tail scores against batch-1 carry
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("zscore_test").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)), r.getLong(6))).toSet
    // batch twin over the SAME rows: bit-equal output row set
    val batchDf = all.toDF()
      .select($"user_id", $"timestamp", $"value", $"event_id")
    val exp = graft.ops.Anomaly.rollingZScore(batchDf).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)), r.getLong(6))).toSet
    assert(got == exp)
    // the spike fires, the baseline never does, short history abstains
    assert(got.count(_._7 == 1L) == 1)
    assert(got.find(_._7 == 1L).get._3 == 100.0)
    assert(got.filter(t => t._1 == 2L).forall(t => t._7 == 0L && t._5 < 8))
  }

  test("streaming funnel carries step frontiers across micro-batches, matches batch") {
    import spark.implicits._
    val src = s"$tmp/src_funnel"
    // the FunnelsSpec fixture, split so user 1's purchase and user 5's
    // whole chain arrive in batch 2 (cross-batch frontier carry)
    val all = Seq(
      (1L, 10L, "signup"), (1L, 20L, "view"), (1L, 30L, "purchase"),
      (2L, 10L, "signup"), (2L, 10L, "view"), (2L, 40L, "purchase"),
      (3L, 5L, "view"), (3L, 10L, "signup"), (3L, 15L, "view"), (3L, 12L, "purchase"),
      (4L, 1L, "purchase"), (4L, 2L, "view"),
      (5L, 10L, "signup"), (5L, 20L, "view"), (5L, 12L, "view"), (5L, 15L, "purchase"))
    val (b1, b2) = all.partition { case (u, ts, _) => !(u == 5L || ts >= 25L) }
    def writeBatch(rows: Seq[(Long, Long, String)]): Unit =
      rows.map { case (u, ts, tp) => (ts, u, tp) }
        .toDF("timestamp", "user_id", "event_type")
        .coalesce(1).write.mode("append").parquet(src)
    writeBatch(b1)
    val schema = org.apache.spark.sql.Encoders
      .product[StreamingIngest.FunnelEvent].schema
    val stream = spark.readStream.schema(schema).parquet(src)
      .as[StreamingIngest.FunnelEvent]
    val q = StreamingIngest.funnelStream(stream, Seq("signup", "view", "purchase"))
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_test").start()
    try {
      q.processAllAvailable()
      writeBatch(b2)
      q.processAllAvailable()
    } finally q.stop()
    val reached = spark.table("funnel_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // user 1's purchase@30 arrives in batch 2 and chains off the
    // batch-1 view frontier; user 2 never chains past signup
    assert(reached.contains((1L, 3L, 30L)))
    assert(!reached.exists(t => t._1 == 2L && t._2 >= 2L))
    // per-step counts equal the batch operator on the same rows
    val batchCounts = graft.ops.Funnels.funnel(
      all.toDF("user_id", "timestamp", "event_type"),
      Seq("signup", "view", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val streamCounts = reached.groupBy(_._2).map { case (s2, v) => s2 -> v.size.toLong }
    assert(streamCounts == batchCounts)
  }

  test("streaming retention pins cohorts in state and dedups periods across batches") {
    import spark.implicits._
    val src = s"$tmp/src_ret"
    // periodUs = 10: user 1 cohort 0 active in periods 0,1,3; user 2
    // cohort 2 with a within-period repeat; period 3 arrives in batch 2
    val b1 = Seq((5L, 1L), (15L, 1L), (25L, 2L), (27L, 2L))
    val b2 = Seq((35L, 1L), (36L, 3L)) // + user 3, cohort 3
    def writeBatch(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("timestamp", "user_id").coalesce(1)
        .write.mode("append").parquet(src)
    writeBatch(b1)
    val schema = org.apache.spark.sql.Encoders
      .product[StreamingIngest.RetEvent].schema
    val stream = spark.readStream.schema(schema).parquet(src)
      .as[StreamingIngest.RetEvent]
    val q = StreamingIngest.retentionStream(stream, periodUs = 10L)
      .writeStream.outputMode("append").format("memory")
      .queryName("ret_test").start()
    try { q.processAllAvailable(); writeBatch(b2); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("ret_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exactly one emission per distinct (user, period), cohort carried
    assert(got.length == got.distinct.length)
    val cells = got.groupBy(t => (t._2, t._3)).view.mapValues(_.length).toMap
    val exp = graft.ops.Funnels.retention(
      (b1 ++ b2).toDF("timestamp", "user_id"), periodUs = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
    assert(cells == exp)
    // user 1's period-3 row (batch 2) kept cohort 0 from batch-1 state
    assert(got.contains((1L, 0L, 3L)))
  }

  test("watermarked append-mode counts emit only closed windows, all correct") {
    import spark.implicits._
    val src = s"$tmp/src3"
    val baseUs = 1700000000000000L
    val rows = (0 until 240).map(i =>
      (baseUs + i.toLong * 60 * 1000000, if (i % 2 == 0) "click" else "view", i.toDouble))
    rows.map { case (t, et, v) => (t, v, et) }
      .toDF("timestamp", "value", "event_type")
      .coalesce(1).write.mode("append").parquet(src)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("timestamp", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(src)
    val counts = StreamingIngest.watermarkedCounts(stream, "1 hour")
    val q = counts.writeStream.outputMode("append").format("memory")
      .queryName("wm_test").start()
    try q.processAllAvailable() finally q.stop()

    val emitted = spark.table("wm_test").collect()
      .map(r => ((r.getTimestamp(0).getTime * 1000, r.getString(1)), r.getLong(2)))
      .toMap
    // ground truth: per (hour-window-start, type) counts of the fixture
    val hourUs = 3600L * 1000000
    val truth = rows.groupBy(r => (r._1 - r._1 % hourUs, r._2))
      .map { case (k, v) => k -> v.size.toLong }
    // 240 events over 4 hours; watermark = maxEvent - 1h → only closed
    // windows emit, every emitted count must match the ground truth
    assert(emitted.nonEmpty)
    assert(emitted.size < truth.size) // open windows withheld
    emitted.foreach { case (k, n) => assert(truth(k) == n, s"window $k") }
  }

  test("stream-static incremental dedup matches the batch formulation") {
    import spark.implicits._
    val src = s"$tmp/src_incdedup"
    val existing = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different content about spark query engines and shuffles here"))
      .toDF("doc_id", "text")
    val incomingRows = Seq(
      (10L, "The quick brown fox jumps over the lazy dog, again and again today!"),
      (11L, "entirely novel words never seen before in any accepted document batch"),
      (14L, "the quick brown fox jumps over the lazy dog again and again today"))
    incomingRows.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(src)
    val q = graft.ops.Dedup.suppressAgainstIndex(existing, stream, 0.8)
      .writeStream.outputMode("complete").format("memory")
      .queryName("inc_dedup_test").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("inc_dedup_test").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.ops.Dedup.suppressAgainstIndex(
        existing, incomingRows.toDF("doc_id", "text"), 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed == Set((10L, 0L), (14L, 0L))) // 11 is clean
  }

  test("streaming minhash signature dedup matches the batch signature set") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // the stream path: row-level minhash_sig + stateful dropDuplicates
    val streamed = graft.SparkEntry.queries("stream_dedup_minhash")(spark, dir)
      .collect().map(_.getString(0)).toSet
    // batch twin through the OTHER formulation (exploded groupBy
    // signatures), fingerprinted the same way — a full differential of
    // expression, stream plumbing, and dedup state in one assert
    val k = 64
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = graft.ops.Dedup.minhashSignatures(docs, k)
      .select(md5(concat_ws("_", (1 to k).map(i => col(s"m${i - 1}")): _*)).as("fp"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("inferred-kernel stream twins match their batch forms (fold/incremental/sketch)") {
    val dir = "/root/testdata/sf0.001"
    def rows(key: String): Set[String] =
      graft.SparkEntry.queries(key)(spark, dir)
        .collect().map(_.mkString("|")).toSet
    // fold + incremental: the stream twins' stateful sum-merge must
    // land on the batch inferred kernels' exact output (which the
    // generic-oracle gates already lock) — full differential of the
    // row-form codec, the streaming plumbing, and the decimal render
    val fold = rows("stream_rollup_fold_inferred")
    assert(fold == rows("agg_rollup_fold") && fold.nonEmpty)
    val incr = rows("stream_incremental_rollup_inferred")
    assert(incr == rows("agg_incremental_rollup") && incr.nonEmpty)
    // sketch: duplicate-insensitive registers — identical estimate band
    val sk = rows("stream_sketch_rollup_inferred")
    assert(sk == rows("agg_sketch_rollup") && sk.nonEmpty)
  }

  test("row-form open fold: NULL/rogue categories, NaN/Inf/null values, pre-1970 hours, split invariance") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_type", StringType, nullable = true),
      StructField("timestamp", LongType, nullable = false),
      StructField("value", DoubleType, nullable = true),
      StructField("event_id", LongType, nullable = false)))
    val hourUs = 3600000000L
    val rows = Seq(
      Row(null, -7200000001L, 1.5, 1L),          // NULL category, pre-1970
      Row(null, -7200000001L, Double.NaN, 2L),   // NaN skipped, n counted
      Row("rogue-é", 0L, 2.25, 3L),         // non-ASCII rogue category
      Row("view", hourUs + 1L, null, 4L),        // null value, n counted
      Row("view", hourUs + 2L, Double.PositiveInfinity, 5L),
      Row("view", 2 * hourUs, -3.0000005, 6L),   // sub-micro rounding
      Row("rogue-é", 0L, 1.75, 7L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    def render(partials: org.apache.spark.sql.DataFrame): Set[String] = {
      val sv = (col("h6").cast("decimal(20,0)") *
        lit(new java.math.BigDecimal(1000000)).cast("decimal(7,0)") +
        col("l6").cast("decimal(20,0)")) *
        lit(new java.math.BigDecimal("0.000001"))
      partials.groupBy("event_type", "hour_ts")
        .agg(sum("n").cast("long").as("n"),
          sum("h6").as("h6"), sum("l6").as("l6"))
        .select(col("event_type"), col("hour_ts"), col("n"),
          round(sv.cast("double"), 4).as("sum_value"))
        .collect().map(_.mkString("|")).toSet
    }
    val viaFold = render(graft.ops.DictRollup.openSumPartialsRows(df))
    val generic = graft.ops.Incremental.merge(
        graft.ops.Incremental.hourlyPartials(df))
      .collect().map(_.mkString("|")).toSet
    assert(viaFold == generic && viaFold.nonEmpty)
    // split invariance: ANY deterministic split merges identically
    val withSplit = df.withColumn("split",
      (pmod(xxhash64(col("event_id"), lit("incr")), lit(100L)) < 20)
        .cast("int"))
    val viaSplit = render(
      graft.ops.DictRollup.openSumPartialsRows(withSplit, withSplit = true))
    assert(viaSplit == generic)
  }

  test("stream-stream interval join matches the batch self-join, boundaries closed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = s"$tmp/src_ivjoin"
    val base = 1700000000000000L // epoch micros
    val min = 60000000L
    // user 1: views at t0, t0+10m, t0+31m; click at t0+30m → the 31m
    // view precedes the click (excluded: cause must be <= effect); t0
    // view is exactly 30m before (included: closed lower bound); the
    // t0+30m click itself pairs with nothing of type click.
    // user 2: view at t0, click at t0+45m → outside the gap, no match.
    val rows = Seq(
      (100L, base, 1L, "view"),
      (101L, base + 10 * min, 1L, "view"),
      (102L, base + 31 * min, 1L, "view"),
      (103L, base + 30 * min, 1L, "click"),
      (200L, base, 2L, "view"),
      (201L, base + 45 * min, 2L, "click"))
    rows.toDF("event_id", "t_us", "user_id", "event_type")
      .coalesce(1).write.mode("append").parquet(src)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("t_us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType)))
    def timed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), timestamp_micros(col("t_us")).as("etime"),
        col("user_id"), col("event_type"))
    val stream = timed(spark.readStream.schema(schema).parquet(src))
    val q = StreamingIngest.attributeWithin(stream, "click", "view")
      .writeStream.outputMode("append").format("memory")
      .queryName("ivjoin_test").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ivjoin_test").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the same plan over the batch DataFrame (attributeWithin is
    // mode-agnostic — identical code path, Spark's parity guarantee)
    val batch = StreamingIngest.attributeWithin(
        timed(rows.toDF("event_id", "t_us", "user_id", "event_type")),
        "click", "view").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed == Set(
      (103L, 100L, 1L, 30 * min), // exactly gap before: closed bound
      (103L, 101L, 1L, 20 * min)))
  }
}
