package graft.catalog

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Catalog-wide maintenance sweep (retention + compaction). */
class MaintenanceSpec extends AnyFunSuite with GraftSpark {

  test("sweep reaps expired buckets and compacts fragmented ones across all series") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-maint").toString
    try {
      val cat = new TsCatalog(spark, root)
      val now = 1700000000000000000L
      cat.createDb("m")
      // fragmented series: 10 single-point appends in one bucket
      cat.createSeries("m", "frag", SeriesMeta(None))
      for (i <- 0 until 10)
        cat.insert("m", "frag", Seq((now + i, i.toDouble)).toDF("timestamp", "value"))
      // expiring series: one stale bucket (1 h old), 30 min retention
      cat.createSeries("m", "exp", SeriesMeta(Some(1800L * 1000000000L)))
      cat.insert("m", "exp", Seq(
        (now - 3600L * 1000000000L, 1.0), (now, 2.0)).toDF("timestamp", "value"))

      val summary = Maintenance.run(cat, maxFilesPerBucket = 2, now = now)
        .map(t => t._2 -> (t._3, t._4)).toMap
      assert(summary("frag") == ((0, 1))) // nothing expired, 1 bucket compacted
      assert(summary("exp")._1 == 1)      // 1 stale bucket reaped

      // data intact after the sweep
      assert(cat.readSeries("m", "frag").count() == 10)
      assert(cat.readSeries("m", "exp").collect().map(_.getDouble(1)).toSeq == Seq(2.0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a scan planned BEFORE compaction fails loudly; a fresh scan is identical") {
    // Read-during-maintenance contract (VERDICT r3 watch item):
    // compact() swaps bucket directories by rename, so a reader whose
    // file index was built before the swap holds dead paths. The
    // REQUIRED behavior is loud failure (Spark's FileNotFound guidance
    // to re-create the Dataset) — never silently wrong rows — and a
    // re-planned scan must return byte-identical data. True
    // concurrent-snapshot reads need a versioned table layout (Delta/
    // Iceberg class); for this catalog the maintenance window contract
    // is documented here and in TsCatalog.compact's doc.
    import spark.implicits._
    val root = Files.createTempDirectory("graft-maint-race").toString
    try {
      val cat = new TsCatalog(spark, root)
      val now = 1700000000000000000L
      cat.createDb("m")
      cat.createSeries("m", "s", SeriesMeta(None))
      for (i <- 0 until 6)
        cat.insert("m", "s", Seq((now + i, i.toDouble)).toDF("timestamp", "value"))
      val before = cat.readSeries("m", "s").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      // plan (and list files for) a scan, THEN compact under it
      val planned = cat.readSeries("m", "s")
      assert(cat.compact("m", "s", maxFilesPerBucket = 2) == 1)
      val outcome = try Right(planned.collect().length)
      catch { case e: Throwable => Left(graft.TestCauses.classNames(e)) }
      outcome match {
        case Left(classes) =>
          // loud failure: a FileNotFound (possibly wrapped) — the
          // documented re-plan signal
          assert(classes.exists(_.contains("FileNotFound")), classes.toString)
        case Right(n) =>
          // acceptable only if the snapshot was complete (e.g. the
          // whole listing was consumed before the swap)
          assert(n == before.size, s"silent partial read: $n of ${before.size}")
      }
      // a fresh scan re-lists and must be byte-identical
      val after = cat.readSeries("m", "s").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
      assert(after == before)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a scan planned BEFORE retention reap fails loudly or completes; fresh scan sees only retained data") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-maint-race2").toString
    try {
      val cat = new TsCatalog(spark, root)
      val now = 1700000000000000000L
      cat.createDb("m")
      cat.createSeries("m", "s", SeriesMeta(Some(1800L * 1000000000L)))
      cat.insert("m", "s", Seq(
        (now - 3600L * 1000000000L, 1.0), (now, 2.0)).toDF("timestamp", "value"))
      val planned = cat.readSeries("m", "s")
      assert(cat.enforceRetention("m", "s", now) == 1)
      val outcome = try Right(planned.collect().length)
      catch { case e: Throwable => Left(graft.TestCauses.classNames(e)) }
      outcome match {
        case Left(classes) =>
          assert(classes.exists(_.contains("FileNotFound")), classes.toString)
        // a complete pre-reap snapshot (2 rows) is the ONLY acceptable
        // success: exactly 1 row is what a silent skip of the reaped
        // file would produce, and must fail here
        case Right(n) => assert(n == 2, s"silent partial read: $n of 2")
      }
      val after = cat.readSeries("m", "s").collect().map(_.getDouble(1)).toSeq
      assert(after == Seq(2.0))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }
}
