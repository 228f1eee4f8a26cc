package graft.catalog

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Seeded multi-thread catalog soak (the ServerSoakSpec discipline
  * applied to the DDL surface): inserters, a full-catalog maintenance
  * sweeper (compact + enforceRetention via Maintenance.run), a
  * create/drop churner, and a metadata reader race for the soak
  * window, then the end state is audited row-for-row.
  *
  * The races stay INSIDE the documented contracts:
  *  - one writer per series (the reference's ingest model); writers
  *    rotate to a fresh generation series so the sweeper compacts only
  *    RETIRED generations — compaction's quiet-window contract per
  *    series, scheduled concurrently across the catalog;
  *  - retention races live ingest on the same series with fresh
  *    timestamps (retention ≫ lateness + bucket width — the
  *    StreamingSpec disjointness contract, here under a full-catalog
  *    sweep instead of a two-party race);
  *  - dropSeries races the sweep's list→compact walk (a series dropped
  *    between listing and maintenance must no-op, never throw) and the
  *    reader's listSeries/seriesMeta.
  *
  * Invariants: no thread dies on an unexpected exception; every
  * long-lived series holds exactly the rows its writer committed
  * (count AND value-sum); churn series are absent at the end; the
  * sweep actually compacted retired generations. */
class CatalogSoakSpec extends AnyFunSuite with GraftSpark {

  test("seeded concurrent DDL + maintenance + ingest soak keeps every committed row") {
    import spark.implicits._
    val seed = 53L
    println(s"[catalog-soak] seed=$seed")
    val root = Files.createTempDirectory("graft-cat-soak").toString
    val errors = new ConcurrentLinkedQueue[Throwable]()
    try {
      val cat = new TsCatalog(spark, root)
      val now = 1700000000000000000L
      val retentionNs = 36000L * 1000000000L // 10 h — far beyond lateness
      cat.createDb("soak")

      val nWriters = 2
      val gensPerWriter = 3
      val insertsPerGen = 6
      // committed(w)(g) = (rows, valueSum) the writer saw succeed
      val committed = Array.fill(nWriters, gensPerWriter)((0L, 0L))
      val retired = new ConcurrentLinkedQueue[String]()
      val stop = new AtomicBoolean(false)

      // a pre-planted stale series: the sweeper must reap it DURING
      // the soak (retention 30 min, data 1 h old)
      cat.createSeries("soak", "stale", SeriesMeta(Some(1800L * 1000000000L)))
      cat.insert("soak", "stale",
        Seq((now - 3600L * 1000000000L, 9.0)).toDF("timestamp", "value"))

      def writer(w: Int): Thread = new Thread(() => {
        val rnd = new scala.util.Random(seed + w)
        try {
          for (g <- 0 until gensPerWriter) {
            val series = s"live_${w}_g$g"
            assert(cat.createSeries("soak", series, SeriesMeta(Some(retentionNs))))
            for (i <- 0 until insertsPerGen) {
              val rows = (0 until 3).map { j =>
                // fresh timestamps, unique per row; small positive values
                (now + (g.toLong * 1000 + i * 10 + j) * 1000000L,
                  (w * 100 + g * 10 + j).toDouble)
              }
              cat.insert("soak", series, rows.toDF("timestamp", "value"))
              val (c, s) = committed(w)(g)
              committed(w)(g) = (c + rows.size, s + rows.map(_._2.toLong).sum)
              Thread.sleep(rnd.nextInt(5).toLong)
            }
            retired.add(series) // generation done: compaction may begin
          }
        } catch { case t: Throwable => errors.add(t) }
      }, s"soak-writer-$w")

      val sweeper = new Thread(() => {
        val rnd = new scala.util.Random(seed + 100)
        try {
          while (!stop.get()) {
            // retention sweep over the LIVE listing (races creates and
            // drops: a series dropped between list and enforce must
            // no-op); compaction only on RETIRED generations — the
            // per-series quiet-window contract — plus a never-existed
            // name to pin the missing-series no-op
            cat.listSeries("soak").foreach(s =>
              cat.enforceRetention("soak", s, now))
            retired.forEach(s => cat.compact("soak", s, maxFilesPerBucket = 2))
            assert(cat.compact("soak", "never_existed", 2) == 0)
            Thread.sleep(rnd.nextInt(20).toLong)
          }
        } catch { case t: Throwable => errors.add(t) }
      }, "soak-sweeper")

      val churner = new Thread(() => {
        val rnd = new scala.util.Random(seed + 200)
        try {
          var k = 0
          while (!stop.get()) {
            val name = s"churn_$k"
            if (cat.createSeries("soak", name, SeriesMeta(None))) {
              cat.insert("soak", name,
                Seq((now + k, 1.0)).toDF("timestamp", "value"))
              Thread.sleep(rnd.nextInt(5).toLong)
              assert(cat.dropSeries("soak", name))
            }
            k += 1
          }
        } catch { case t: Throwable => errors.add(t) }
      }, "soak-churner")

      val reader = new Thread(() => {
        val rnd = new scala.util.Random(seed + 300)
        try {
          while (!stop.get()) {
            // listings and meta reads race creates/drops/renames; a
            // series listed then dropped must yield None/false, never
            // a crash
            cat.listSeries("soak").foreach { s =>
              cat.seriesMeta("soak", s); cat.seriesExists("soak", s)
            }
            cat.listDbs()
            Thread.sleep(rnd.nextInt(3).toLong)
          }
        } catch { case t: Throwable => errors.add(t) }
      }, "soak-reader")

      val writers = (0 until nWriters).map(writer)
      (writers ++ Seq(sweeper, churner, reader)).foreach(_.start())
      writers.foreach(_.join(300000))
      stop.set(true)
      Seq(sweeper, churner, reader).foreach(_.join(60000))

      assert(errors.isEmpty, s"soak threads failed: ${errors.peek()}")

      // final sweep in the quiet window, then audit; a SECOND sweep
      // must find nothing left to do (idempotence)
      Maintenance.run(cat, maxFilesPerBucket = 2, now = now)
      val second = Maintenance.run(cat, maxFilesPerBucket = 2, now = now)
      assert(second.forall(t => t._3 == 0 && t._4 == 0), s"non-idempotent: $second")
      assert(cat.readSeries("soak", "stale").count() == 0, "stale series not reaped")
      for (w <- 0 until nWriters; g <- 0 until gensPerWriter) {
        val series = s"live_${w}_g$g"
        val (expN, expSum) = committed(w)(g)
        val got = cat.readSeries("soak", series).collect()
        assert(got.length.toLong == expN, s"$series rows: ${got.length} != $expN")
        assert(got.map(_.getDouble(1).toLong).sum == expSum, s"$series value sum")
      }
      // churn series all dropped; only the live generations remain
      val leftover = cat.listSeries("soak").filter(_.startsWith("churn_"))
      assert(leftover.isEmpty, s"undropped churn series: $leftover")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }
}
