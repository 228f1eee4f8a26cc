package graft.catalog

import java.io.File
import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.engine.{ExecResult, StatementExecutor, TsSession}

/** `TsCatalog.append`, the driver-side write path of a wire INSERT:
  * its files are the files a write job makes, a crash mid-write leaves
  * nothing a reader sees, and concurrent appends never collide. */
class AppendSpec extends AnyFunSuite with GraftSpark {

  private val BucketNs = TsCatalog.DefaultBucketNs
  private val Base = Math.floorDiv(1700000000000000000L, BucketNs) * BucketNs
  private val B = Base / BucketNs

  private def withCatalog(f: (TsCatalog, File) => Unit): Unit = {
    val root = Files.createTempDirectory("graft-append").toFile
    try {
      val cat = new TsCatalog(spark, root.getPath)
      cat.createDb("d")
      f(cat, root)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName)

  private def parquetFiles(dir: File): Seq[File] =
    files(dir).filter(_.getName.endsWith(".parquet"))

  private def points(cat: TsCatalog, name: String): Seq[(Long, Double)] =
    cat.readSeries("d", name).collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq

  test("an appended file has the parquet schema, metadata and codec of a job-written one") {
    import spark.implicits._
    withCatalog { (cat, root) =>
      val batch = (0 until 15).map(i => (Base + i * 1000L, i * 0.5))
      cat.createSeries("d", "job", SeriesMeta(None))
      cat.createSeries("d", "drv", SeriesMeta(None))
      cat.insert("d", "job", batch.toDF("timestamp", "value").coalesce(1))
      assert(cat.append("d", "drv", batch) == 15L)
      def footer(series: String) = {
        val Seq(f) = parquetFiles(new File(root, s"d/$series/data/bucket=$B"))
        val in = HadoopInputFile.fromPath(new Path(f.getPath),
          spark.sparkContext.hadoopConfiguration)
        val reader = ParquetFileReader.open(in)
        try {
          val meta = reader.getFooter
          (f.getName.dropWhile(_ != '.'), meta.getFileMetaData.getSchema,
            meta.getFileMetaData.getKeyValueMetaData.asScala.toMap,
            meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSeq)
        } finally reader.close()
      }
      val (jobExt, jobSchema, jobKv, jobCodecs) = footer("job")
      val (drvExt, drvSchema, drvKv, drvCodecs) = footer("drv")
      assert(drvExt == ".snappy.parquet" && jobExt.endsWith(drvExt))
      assert(drvSchema == jobSchema)
      assert(drvKv == jobKv)
      assert(drvCodecs == jobCodecs)
      assert(points(cat, "drv") == points(cat, "job"))
    }
  }

  test("a leftover hidden part file is invisible to reads, listing and compact, which drops it") {
    withCatalog { (cat, root) =>
      cat.createSeries("d", "s", SeriesMeta(None))
      val exec = new StatementExecutor(spark, cat)
      val session = new TsSession
      session.activeDb = Some("d")
      val stored = (0 until 3).flatMap { k =>
        val batch = (0 until 5).map(i => (Base + (k * 5 + i) * 1000L, (k * 5 + i).toDouble))
        cat.append("d", "s", batch)
        batch
      }
      // a crash mid-write: one truncated hidden file in the written
      // bucket, one in a newer bucket that holds nothing else
      val bucket = new File(root, s"d/s/data/bucket=$B")
      val newer = new File(root, s"d/s/data/bucket=${B + 5}")
      newer.mkdirs()
      for (dir <- Seq(bucket, newer))
        Files.write(new File(dir, s".part-${java.util.UUID.randomUUID()}.snappy.parquet.tmp")
          .toPath, "PAR1 torn".getBytes("UTF-8"))
      assert(points(cat, "s") == stored)
      assert(cat.buckets("d", "s", None) == Seq(B, B + 5))
      assert(exec.executeSql("SELECT latest(value) FROM s", session) match {
        case ExecResult.Rows(df) =>
          df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq(stored.last)
        case _ => false
      })
      assert(cat.compact("d", "s", maxFilesPerBucket = 1) == 1)
      assert(cat.buckets("d", "s", None) == Seq(B))
      assert(!files(bucket).exists(_.getName.endsWith(".tmp")), files(bucket))
      assert(parquetFiles(bucket).size == 1)
      assert(points(cat, "s") == stored)
    }
  }

  test("two threads' INSERTs into one series all read back once, in distinct files") {
    withCatalog { (cat, root) =>
      cat.createSeries("d", "s", SeriesMeta(None))
      val exec = new StatementExecutor(spark, cat)
      def client(t: Int): Future[Unit] = Future {
        val session = new TsSession
        session.activeDb = Some("d")
        for (k <- 0 until 50) {
          val values = (0 until 15).map { i =>
            val n = (t * 50 + k) * 15 + i
            s"(${Base + n * 1000L}, $n.0)"
          }
          assert(exec.executeSql(s"INSERT INTO s VALUES ${values.mkString(", ")}", session) ==
            ExecResult.Ack("15 point(s) inserted, 0 error(s)"))
        }
      }
      Await.result(Future.sequence(Seq(client(0), client(1))), 5.minutes)
      assert(points(cat, "s") == (0 until 1500).map(n => (Base + n * 1000L, n.toDouble)))
      val bucket = new File(root, s"d/s/data/bucket=$B")
      assert(parquetFiles(bucket).map(_.getName).distinct.size == 100)
      assert(!files(bucket).exists(_.getName.endsWith(".tmp")), files(bucket))
    }
  }
}
