package graft.engine

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.catalog.{SeriesMeta, TsCatalog}

/** A wire INSERT reads its series' `_series.json` once: the options
  * the statement looks up to find the series are the ones its write
  * honors. Counted with Hadoop's per-thread statistics of the local
  * file system: a wire INSERT runs no Spark job, so every byte it
  * reads is read on the calling thread, and under the `insert` policy
  * (or `ignore` into an empty series) the metadata is all it reads. */
class InsertMetaReadSpec extends AnyFunSuite with GraftSpark {

  /** Bytes this thread has read through the local file system. */
  private def bytesRead(): Long = FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file").map(_.getThreadStatistics.getBytesRead).sum

  /** `f`'s result and the bytes this thread read while it ran. */
  private def withBytesRead[T](f: => T): (T, Long) = {
    val before = bytesRead()
    val result = f
    (result, bytesRead() - before)
  }

  test("a wire INSERT reads _series.json once") {
    val root = Files.createTempDirectory("graft-insert-meta").toFile
    try {
      val cat = new TsCatalog(spark, root.getPath)
      cat.createDb("d")
      val exec = new StatementExecutor(spark, cat)
      exec.defaultSession.activeDb = Some("d")
      val t0 = 1700000000000000000L
      // the options the statement read still pick the policy: `ignore`
      // keeps the first of the duplicate timestamp, `insert` keeps both
      for ((series, policy, kept) <- Seq(("s", "insert", 2), ("i", "ignore", 1))) {
        assert(cat.createSeries("d", series, SeriesMeta(None, policy)))
        val (_, oneRead) = withBytesRead(cat.seriesMeta("d", series))
        assert(oneRead > 0, s"no bytes counted for one read of $series' metadata")
        val (ack, insertRead) = withBytesRead(
          exec.executeSql(s"INSERT INTO $series VALUES ($t0, 1.0), ($t0, 2.0)"))
        assert(ack == ExecResult.Ack(s"$kept point(s) inserted, 0 error(s)"))
        assert(insertRead == oneRead,
          s"$policy INSERT read $insertRead bytes; one metadata read is $oneRead")
      }
      assert(cat.readSeries("d", "i").collect().map(_.getDouble(1)).toSeq == Seq(1.0))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }
}
