package tsbench

import java.io.File

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry

/** The `fleet` workload: six `SparkEntry` keys run one at a time into
  * the `noop` sink, in whole passes, with `graft.Bench`'s hygiene before
  * every key. The first pass is the cold pass; the warm passes after it
  * run in a seeded order, a fixed number of them per run. */
object FleetBench {

  /** Timed key seconds of one warm pass today: a run of `--seconds`
    * makes `seconds / PassSeconds` warm passes, rounded, at least one. */
  val PassSeconds = 8.0

  def warmPasses(seconds: Int): Int = math.max(1, math.round(seconds / PassSeconds).toInt)

  /** Three execution-bound keys (ts, rollup and dedup families), then
    * three construction-bound ones whose driver-side jobs run before the
    * action (relational, streaming and model-training families). */
  val Keys: Seq[String] = Seq(
    "ts_range", "agg_hourly_rollup", "dedup_minhash",
    "q5_region_volume", "stream_top3", "probe_train_quality")

  /** Expected result rows per key at the fixture scale, one `key rows` per line. */
  def expectedRows(benchDir: File): Map[String, Long] = {
    val src = scala.io.Source.fromFile(new File(benchDir, "fleet_rows.txt"), "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(k, n) = l.split("\\s+")
      k -> n.toLong
    }.toMap
    finally src.close()
  }

  /** graft.Bench's per-rep hygiene, outside the timed region. */
  private def hygiene(spark: SparkSession): Unit = {
    graft.core.EscapedCaches.release()
    spark.sharedState.cacheManager.clearCache()
    graft.ops.Similarity.clearCodebookMemo()
    System.gc()
    Thread.sleep(150)
    System.gc()
  }

  /** graft.Bench's warm-up: scan, sort and aggregate code paths that every
    * key shares, with no key's own plan. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val ev = graft.core.Tables.eventSeries(spark, sfDir)
    ev.orderBy("timestamp").limit(1).collect()
    ev.groupBy((col("timestamp") % 2).as("k")).count().write.mode("overwrite").format("noop").save()
  }

  def run(ctx: Ctx): Outcome = {
    val expected = expectedRows(ctx.benchDir)
    val spark = Sessions.fleet(ctx)
    val queries = SparkEntry.queries
    val fns = Keys.map(k => k -> queries.getOrElse(k, sys.error(s"no SparkEntry key $k"))).toMap
    warmUp(spark, ctx.sfDir)
    val setup1 = Run.firstSetup(ctx)

    val tracer = new Tracer
    val listener = if (ctx.trace) Some(new OpListener(spark).install()) else None
    var opId = 0L
    val failures = Seq.newBuilder[String]

    val counted = scala.collection.mutable.Map[String, Long]()
    /** Wall seconds of each op's timed region, stolen time included. */
    val wallOf = scala.collection.mutable.Map[Long, Double]()

    /** One key: construct, then the noop save. Returns its seconds less
      * stolen time, or None when it failed. With `count`, the key's rows
      * are counted after the timed save, from the same constructed frame. */
    def runKey(key: String, count: Boolean = false): (Long, Option[Double]) = {
      hygiene(spark)
      opId += 1
      val op = opId
      val (t0, h0) = (System.nanoTime(), HostTicks.now())
      try {
        val df = listener match {
          case None =>
            val df = fns(key)(spark, ctx.sfDir)
            df.write.mode("overwrite").format("noop").save()
            df
          case Some(l) => tracer.span("key", op) { root =>
            val df = tracer.span("fleet.construct", op, root)(_ => l.tagged(op, "construct")(fns(key)(spark, ctx.sfDir)))
            tracer.span("fleet.exec", op, root)(_ =>
              l.tagged(op, "exec")(df.write.mode("overwrite").format("noop").save()))
            df
          }
        }
        val took = Run.Took.between(Run.secondsSince(t0), h0, HostTicks.now())
        wallOf(op) = took.wallS
        if (count) counted(key) = df.count()
        (op, Some(took.unstolenS))
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"$key: ${e.toString.take(300)}"
          (op, None)
      }
    }

    // pass times sum the keys' timed regions; the hygiene between keys
    // and the row counts are outside them, as in graft.Bench
    val before = Counters.snap()
    val tCold = System.nanoTime()
    val cold = Keys.map(runKey(_))
    val coldPass = cold.flatMap(_._2).sum

    val rnd = new Random(ctx.seed)
    val warm = Seq.newBuilder[(String, Long, Option[Double])]
    val passTimes = Seq.newBuilder[Double]
    val tWarm = System.nanoTime()
    val passes = warmPasses(ctx.seconds)
    for (p <- 0 until passes) {
      val pass = rnd.shuffle(Keys).map { k => val (op, s) = runKey(k, count = p == 0); (k, op, s) }
      warm ++= pass
      passTimes += pass.flatMap(_._3).sum
    }
    val warmRuns = warm.result()
    val warmWall = Run.secondsSince(tWarm)
    val regionWall = Run.secondsSince(tCold)
    val after = Counters.snap()

    Keys.foreach { k =>
      if (expected.get(k) != counted.get(k))
        failures += s"$k: expected ${expected.getOrElse(k, "?")} rows, got ${counted.getOrElse(k, "none")}"
    }
    hygiene(spark)
    val liveHeap = Counters.liveHeapMb()
    val layers = listener.map { l =>
      l.remove()
      val keyOps = warmRuns.map(_._2).toSet
      val spans = tracer.all.filter(s => keyOps.contains(s.op))
      def mean(name: String) = Stats.mean(spans.filter(_.name == name).map(_.ns / 1e6))
      val construct = l.perOp(_ == "construct")
      val counts = l.perOp().filter { case (op, _) => keyOps.contains(op) }.values.toSeq
      val keyTimes = warmRuns.flatMap(_._3)
      val p90 = Stats.percentile(keyTimes.map(_ * 1000), 90)
      Seq(
        Metric("latency.p90_ms", p90.value, "ms", p90.n),
        Metric("fleet.construct_ms", mean("fleet.construct"), "ms", keyOps.size),
        Metric("fleet.exec_ms", mean("fleet.exec"), "ms", keyOps.size),
        Metric("fleet.driver_jobs",
          keyOps.toSeq.map(o => construct.get(o).map(_.jobs).getOrElse(0)).sum.toDouble / keyOps.size,
          "count", keyOps.size),
        Metric("fleet.cold_penalty_s", coldPass - Stats.median(passTimes.result()), "s", passes),
      ) ++ Layers.spark(ctx, counts, keyOps.size, before, after, cold.size + warmRuns.size,
        l.allTaskRunMs, regionWall) ++
        Layers.jvm(before, after, keyTimes.size / keyTimes.sum)
    }
    spark.stop()

    val (setup, setupWall) = Run.setupMedian(setup1, () => {
      var s: SparkSession = null
      val took = Run.Took.of {
        s = Sessions.fleet(ctx)
        SparkEntry.queries
        warmUp(s, ctx.sfDir)
      }
      s.stop()
      took
    })

    val times = warmRuns.flatMap(_._3).map(_ * 1000)
    val p50 = Stats.percentile(times, 50)
    val p90 = Stats.percentile(times, 90)
    val keysPerS = times.size / (times.sum / 1000)
    // every key weighs the same, whatever its size: a percentile over six
    // keys of different sizes would sit between two of them
    def keyMean(ms: ((String, Long, Option[Double])) => Option[Double]) =
      Stats.geomean(warmRuns.groupBy(_._1).values.map(rs => Stats.mean(rs.flatMap(ms))).toSeq)
    val warmWalls = warmRuns.flatMap(r => wallOf.get(r._2))
    val e2e = layers.getOrElse(Seq(
      setup,
      Metric("cold_pass_s", coldPass, "s", Keys.size),
      Metric("latency_ms", keyMean(_._3.map(_ * 1000)), "ms", times.size),
      Metric("ops_per_s", keysPerS, "1/s", times.size),
      Metric("live_heap_mb", liveHeap, "MB")))
    val perKeyCold = Keys.zip(cold).map { case (k, (_, t)) => Metric(s"$k.cold_ms", t.getOrElse(-1.0) * 1000, "ms", 1) }
    val perKey = perKeyCold ++ warmRuns.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, rs) =>
      val ms = rs.flatMap(_._3).map(_ * 1000)
      Metric(s"$k.warm_ms", Stats.mean(ms), "ms", ms.size)
    }
    val extra = Seq(
      Metric("key_p50_ms", p50.value, "ms", p50.n),
      Metric("key_p90_ms", p90.value, "ms", p90.n),
      Metric("keys_per_s", keysPerS, "1/s", times.size),
      Metric("warm_passes", passes.toDouble, "count"),
      Metric("setup_first_s", setup1.unstolenS, "s"),
      // the same figures by the wall clock, stolen time included
      setupWall,
      Metric("cold_pass_wall_s", cold.flatMap(r => wallOf.get(r._1)).sum, "s", Keys.size),
      Metric("latency_wall_ms", keyMean(r => wallOf.get(r._2).map(_ * 1000)), "ms", warmWalls.size),
      Metric("ops_per_wall_s", warmWalls.size / warmWalls.sum, "1/s", warmWalls.size),
      Metric("measured_wall_s", warmWall, "s"),
      Metric("host_stolen_share", HostTicks.stolenShare(ctx.hostStart, HostTicks.now()), "ratio")) ++ perKey
    Outcome(Keys.size * (passes + 1).toLong, failures.result(), e2e, extra,
      if (ctx.trace) Some(tracer) else None)
  }
}
