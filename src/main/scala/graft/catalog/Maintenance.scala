package graft.catalog

import graft.tsql.TimeEval

/** Maintenance entry point: retention enforcement + small-file
  * compaction across every series of a catalog — the scheduled-job
  * analog of the reference's inline flush/rotate
  * (src/timeseries.c:632-658), run out-of-band so the write path never
  * blocks on reorganization.
  *
  * Run: sbt "runMain graft.catalog.Maintenance <catalogRoot> [maxFilesPerBucket] [unit]"
  * where `unit` is the catalog's timestamp unit: ns (default) | us | ms | s.
  */
object Maintenance {

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      sys.error("usage: Maintenance <catalogRoot> [maxFilesPerBucket] [unit]"))
    val maxFiles = args.lift(1).map(_.toInt).getOrElse(8)
    // the catalog stores raw Longs in whatever unit its writer used —
    // "now" must be expressed in the SAME unit or the retention cutoff
    // is off by orders of magnitude (a nanos-now against a micros
    // catalog computes a cutoff ~1000x in the future and reaps all)
    val unitDiv = args.lift(2).getOrElse("ns") match {
      case "ns" => 1L
      case "us" => 1000L
      case "ms" => 1000000L
      case "s" => 1000000000L
      case other => sys.error(s"unknown timestamp unit '$other' (ns|us|ms|s)")
    }
    val spark = graft.core.GraftSession.build("graft-maintenance")
    spark.sparkContext.setLogLevel("WARN")
    val summary = run(new TsCatalog(spark, root), maxFiles,
      TimeEval.nowNanos() / unitDiv)
    summary.foreach { case (db, series, reaped, compacted) =>
      println(s"[maintenance] $db/$series: reaped $reaped bucket(s), compacted $compacted")
    }
    spark.stop()
  }

  /** Sweep all series: returns (db, series, reapedBuckets, compactedBuckets).
    * `now` is deliberately NOT defaulted: it must be in the catalog's
    * own timestamp unit (retention spans and bucket widths are stored
    * as raw Longs in that unit), and defaulting to nanos would silently
    * reap everything in a micros-unit catalog. */
  def run(catalog: TsCatalog, maxFilesPerBucket: Int,
      now: Long): Seq[(String, String, Int, Int)] =
    for {
      db <- catalog.listDbs()
      series <- catalog.listSeries(db)
    } yield {
      val reaped = catalog.enforceRetention(db, series, now)
      val compacted = catalog.compact(db, series, maxFilesPerBucket)
      (db, series, reaped, compacted)
    }
}
