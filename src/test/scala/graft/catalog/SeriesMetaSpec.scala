package graft.catalog

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** `_series.json`, a series' options: written whole, read strictly,
  * and read only by a catalog of the width it records. */
class SeriesMetaSpec extends AnyFunSuite with GraftSpark {

  private val T0 = 1700000000L * 1000000000L
  private val Sec = 1000000000L

  private def withRoot(f: File => Unit): Unit = {
    val root = Files.createTempDirectory("graft-series-meta").toFile
    try f(root) finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("options round-trip with no temp file left behind") {
    withRoot { root =>
      val cat = new TsCatalog(spark, root.getPath)
      cat.createDb("d")
      assert(cat.createSeries("d", "ig", SeriesMeta(Some(86400L), "ignore")))
      assert(cat.createSeries("d", "plain", SeriesMeta(None)))
      assert(cat.seriesMeta("d", "ig") === Some(SeriesMeta(Some(86400L), "ignore")))
      assert(cat.seriesMeta("d", "plain") === Some(SeriesMeta(None)))
      assert(cat.seriesMeta("d", "absent") === None)
      val left = new File(root, "d/ig").list().toSeq.sorted
      assert(left == Seq("._series.json.crc", "_series.json"), left)
    }
  }

  test("a torn _series.json fails loudly with its path, never reading as defaults") {
    withRoot { root =>
      val cat = new TsCatalog(spark, root.getPath)
      cat.createDb("d")
      assert(cat.createSeries("d", "s", SeriesMeta(None, "ignore")))
      val meta = new File(root, "d/s/_series.json")
      val whole = Files.readAllBytes(meta.toPath)
      // every proper prefix, with no checksum: what a write cut short
      // leaves
      for (n <- 0 until whole.length) {
        Files.write(meta.toPath, whole.take(n))
        new File(root, "d/s/._series.json.crc").delete()
        val e = intercept[IllegalStateException](cat.seriesMeta("d", "s"))
        assert(e.getMessage.contains(meta.getName), e.getMessage)
        // nor does a write fall back to the `insert` policy
        intercept[IllegalStateException](cat.append("d", "s", Seq((T0, 1.0))))
      }
      assert(cat.readSeries("d", "s").count() == 0)
    }
  }

  test("a catalog of another bucket width refuses the series instead of " +
      "mis-pruning ranges or reaping live buckets") {
    for (width <- Seq(Sec, 86400L * Sec)) withRoot { root =>
      val own = new TsCatalog(spark, root.getPath, bucketNs = width)
      own.createDb("d")
      assert(own.createSeries("d", "s", SeriesMeta(Some(60 * Sec))))
      val points = (0 until 24).map(i => (T0 + i * 5 * Sec, i.toDouble))
      own.append("d", "s", points)
      val now = T0 + 120 * Sec
      val other = new TsCatalog(spark, root.getPath)
      val e = intercept[IllegalArgumentException](other.enforceRetention("d", "s", now))
      assert(e.getMessage.contains(s"$width ns buckets"), e.getMessage)
      intercept[IllegalArgumentException](
        other.readSeries("d", "s", Some((T0, T0 + 60 * Sec))))
      intercept[IllegalArgumentException](other.append("d", "s", Seq((now, 0.0))))
      // the series' own width still reads and reaps it
      assert(own.readSeries("d", "s", Some((T0, T0 + 60 * Sec))).count() == 13)
      own.enforceRetention("d", "s", now)
      val kept = own.readSeries("d", "s").collect().map(_.getLong(0))
      // 1 s buckets reap the points before now - 60 s; the 1-day
      // bucket holding them all is still live
      assert(kept.min == (if (width == Sec) T0 + 60 * Sec else T0), kept.min)
    }
  }
}
