package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Sketch-tier aggregates: error bounds against the exact operators on
  * the driver testdata — the check that replaces a cross-engine oracle
  * (sketch internals are engine-specific). */
class ApproxSpec extends AnyFunSuite with GraftSpark {

  private val sfDir = "/root/testdata/sf0.01"

  private def events = graft.core.Tables.load(spark, sfDir, "events")

  test("HLL distinct is within the advertised rsd of the exact count") {
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val approx = Approx.approxDistinct(
      events.select(col("event_type"), col("user_id")), "event_type", "user_id",
      rsd = 0.05)
    val joined = exact.join(approx, "event_type").collect()
    assert(joined.nonEmpty)
    for (r <- joined) {
      val e = r.getAs[Long]("n_exact").toDouble
      val a = r.getAs[Long]("n_approx").toDouble
      // 4 sigma of the 5% target rsd — deterministic data, so this is
      // a fixed fact about the sketch on this input, not a flaky bound
      assert(math.abs(a - e) / e <= 0.20,
        s"${r.getString(0)}: approx $a vs exact $e")
    }
  }

  test("sketch percentiles sit within rank-error tolerance of the exact ones") {
    val exact = graft.SparkEntry.queries("agg_percentiles")(spark, sfDir)
      .withColumnRenamed("p50", "e50").withColumnRenamed("p90", "e90")
      .withColumnRenamed("p99", "e99").drop("n")
    val approx = Approx.approxPercentiles(
      events.select(col("event_type"), col("value")), "event_type", "value")
    val joined = approx.join(exact, "event_type").collect()
    assert(joined.nonEmpty)
    for (r <- joined; (a, e) <- Seq(("p50", "e50"), ("p90", "e90"), ("p99", "e99"))) {
      val av = r.getAs[Double](a); val ev = r.getAs[Double](e)
      val denom = math.max(math.abs(ev), 1e-9)
      assert(math.abs(av - ev) / denom <= 0.10,
        s"${r.getAs[String]("event_type")} $a: approx $av vs exact $ev")
    }
  }

  test("sketch output shape is drop-in for the exact percentile operator") {
    val approx = Approx.approxPercentiles(
      events.select(col("event_type"), col("value")), "event_type", "value")
    assert(approx.columns.toSeq == Seq("event_type", "p50", "p90", "p99", "n"))
  }

  test("two-phase heavy hitters equal the brute-force exact answer") {
    val df = events.select(col("event_type"))
    val total = df.count()
    val counts = df.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    for (inv <- Seq(2, 4, 6, 100)) {
      val got = Approx.heavyHitters(df, "event_type", inv)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = counts.filter { case (_, n) => n * inv > total }.toMap
      // phase 2 is exact, so this must be equality, not containment —
      // the freqItems superset guarantee means no heavy item is lost,
      // and the verify count disproves every false candidate
      assert(got == want, s"invSupport=$inv")
      // sanity: the permissive support level must actually select rows
      if (inv == 100) assert(want.nonEmpty)
    }
  }

  test("verified distinct emits the exact count and an all-green verdict") {
    val got = Approx.approxDistinctVerified(
      events.select(col("event_type"), col("user_id")), "event_type", "user_id")
      .collect()
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    for (r <- got) {
      assert(r.getAs[Long]("exact_n") == exact(r.getString(0)))
      assert(r.getAs[Long]("within_3rsd") == 1L,
        s"${r.getString(0)}: sketch drifted past 3·rsd")
    }
  }

  test("verified distinct keeps a NULL group (null-safe join)") {
    import spark.implicits._
    val df = (Seq.fill(10)((null: String, "u1")) ++
      Seq(("a", "u1"), ("a", "u2"))).toDF("k", "v")
    val got = Approx.approxDistinctVerified(df, "k", "v")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got == Map(None -> 1L, Some("a") -> 2L))
  }

  test("verified percentiles rank-check is green and schema-stable") {
    val got = Approx.approxPercentilesVerified(
      events.select(col("event_type"), col("value")), "event_type", "value")
    assert(got.columns.toSeq == Seq("event_type", "n", "ok50", "ok90", "ok99"))
    val rows = got.collect()
    assert(rows.nonEmpty)
    for (r <- rows; c <- Seq("ok50", "ok90", "ok99"))
      assert(r.getAs[Long](c) == 1L,
        s"${r.getString(0)} $c: sketch rank outside 2·eps·n + 2")
  }

  test("verified percentiles: an all-null group verdicts trivially green") {
    import spark.implicits._
    val df = (Seq.fill(5)(("dead", null: java.lang.Double)) ++
      (1 to 100).map(i => ("live", java.lang.Double.valueOf(i.toDouble)))).toDF("k", "v")
    val got = Approx.approxPercentilesVerified(df, "k", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map("dead" -> ((5L, 1L, 1L, 1L)), "live" -> ((100L, 1L, 1L, 1L))))
  }

  test("heavy hitters runs TWO SQL executions (total rides the sketch pass)") {
    // count SQL executions, not jobs — AQE splits one execution into
    // several jobs (see SkewSpec precedent)
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            seen.incrementAndGet()
          case _ => ()
        }
    }
    val df = events.select(col("event_type"))
    df.count() // materialize any lazy table state before listening
    spark.sparkContext.addSparkListener(listener)
    try {
      Approx.heavyHitters(df, "event_type", 6).collect()
      org.apache.spark.graft.ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(seen.get() == 2,
      s"expected sketch pass + verify pass, saw ${seen.get()} executions")
  }

  test("a NULL heavy hitter survives the candidate filter like any group") {
    import spark.implicits._
    // null in 40% of rows — the oracle-side GROUP BY emits a NULL
    // group; isin()'s three-valued logic must not silently drop it
    val df = (Seq.fill(40)(null: String) ++ Seq.fill(35)("a") ++
      Seq.fill(25)("b")).toDF("k")
    val got = Approx.heavyHitters(df, "k", 3)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got == Map(None -> 40L, Some("a") -> 35L))
  }

  test("sketch merge: day-partial union spans partitions and tracks exact") {
    import spark.implicits._
    val dayUs = 86400000000L
    // key "a": 300 distinct users spread over 5 days (with cross-day
    // repeats the union must NOT double count); key "b": 40 users, 2 days
    // key "c": NULL user_id rows mixed in — count(DISTINCT) and
    // hll_sketch_agg both skip NULLs, so exact_n must NOT count the
    // NULL fine group (ADVICE r11: a NULL group inflated exact_n by 1)
    val rows =
      (0 until 600).map(i => (("a"), (i % 5).toLong * dayUs + i, Option((i % 300).toLong))) ++
      (0 until 80).map(i => (("b"), (i % 2).toLong * dayUs + i, Option((i % 40).toLong))) ++
      (0 until 60).map(i => (("c"), (i % 2).toLong * dayUs + i,
        if (i % 3 == 0) None else Option((i % 20).toLong)))
    val ev = rows.toDF("event_type", "timestamp", "user_id")
    val got = Approx.sketchMergeVerified(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((300L, 5L, 1L, 1L)))
    assert(got("b") == ((40L, 2L, 1L, 1L)))
    assert(got("c") == ((20L, 2L, 1L, 1L)), s"NULL fine group inflated exact_n: ${got("c")}")
  }

  test("sketch merge: a NULL-day group is its own partial (r17 grouping-sets shape)") {
    import spark.implicits._
    val dayUs = 86400000000L
    // the r17 rewrite counts n_partials as the day-level grouping-set
    // rows; grouping() must keep a data-NULL day distinct from the
    // key-level rollup row — a NULL timestamp's partial counted as one
    // group in the old groupBy(key, day) shape and must still
    val rows =
      (0 until 40).map(i => ("a", Option((i % 2).toLong * dayUs + i), Option((i % 10).toLong))) ++
      (0 until 10).map(i => ("a", None: Option[Long], Option((i % 10 + 10).toLong)))
    val ev = rows.toDF("event_type", "timestamp", "user_id")
    val got = Approx.sketchMergeVerified(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 20 distinct users, 2 real days + 1 NULL-day partial = 3 partials
    assert(got("a") == ((20L, 3L, 1L, 1L)), s"got ${got("a")}")
  }

  test("sketch-only rollup: band equals the exact count's band in the sketch's exact range") {
    import spark.implicits._
    val dayUs = 86400000000L
    // same corpus shape as the verified test — at these cardinalities
    // (300/40/20) the DataSketches HLL is in its exact (sparse) range,
    // so est_band must equal the band of the EXACT distinct count; an
    // all-null key bands through the greatest(est, 1) floor to 0
    val rows =
      (0 until 600).map(i => (("a"), (i % 5).toLong * dayUs + i, Option((i % 300).toLong))) ++
      (0 until 80).map(i => (("b"), (i % 2).toLong * dayUs + i, Option((i % 40).toLong))) ++
      (0 until 30).map(i => (("z"), (i % 2).toLong * dayUs + i, None: Option[Long]))
    val ev = rows.toDF("event_type", "timestamp", "user_id")
    val got = Approx.sketchRollup(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def band(n: Long) =
      math.floor(math.log(math.max(n, 1L).toDouble) / Approx.BandLn125 + 0.5).toLong
    assert(got("a") == ((5L, band(300))))
    assert(got("b") == ((2L, band(40))))
    assert(got("z") == ((2L, band(0))), s"all-null key must band to 0: ${got("z")}")
  }

  test("columnar sketch kernel equals the row twin, including in the HLL's estimating range") {
    import spark.implicits._
    val dayUs = 86400000000L
    val dict = Seq("a", "b", "z")
    // key "a" runs PAST the sketch's exact range (40k distinct users
    // over 5 days with cross-day repeats): the kernel's lgK-12
    // DataSketches updates must merge with hll_union_agg to the SAME
    // estimate the row twin's hll_sketch_agg path produces — this
    // locks register-level compatibility, not just band agreement;
    // "b" and "z" cover the exact range and the all-null key
    val rows =
      (0 until 120000).map(i => ("a", (i % 5).toLong * dayUs + i, Option((i % 40000).toLong))) ++
      (0 until 80).map(i => ("b", (i % 2).toLong * dayUs + i, Option((i % 40).toLong))) ++
      (0 until 30).map(i => ("z", (i % 2).toLong * dayUs + i, None: Option[Long]))
    val dir = java.nio.file.Files.createTempDirectory("graft-skc").toFile
    dir.deleteOnExit()
    rows.zipWithIndex.map { case ((t, ts, u), i) =>
      (i.toLong, ts * 1000L, u, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/events.parquet")
    val raw = graft.core.Tables.load(spark, dir.getAbsolutePath, "events")
    val colK = graft.ops.DictRollup.sketchRollupColumnar(raw, dict)
      .orderBy("event_type").collect().toSeq
    val rowK = Approx.sketchRollup(
        graft.core.Tables.eventSeries(spark, dir.getAbsolutePath))
      .orderBy("event_type").collect().toSeq
    assert(colK == rowK,
      s"columnar sketch kernel diverged from the row twin:\ncol: $colK\nrow: $rowK")
  }
}
