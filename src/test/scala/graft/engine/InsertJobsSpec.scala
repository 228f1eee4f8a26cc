package graft.engine

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.graft.ListenerBridge.{jobDescriptionsOf, jobsOf}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.catalog.{SeriesMeta, TsCatalog}

/** The INSERT cost contract: a wire INSERT runs no Spark job (under
  * the ignore policy too: the stored timestamps it may repeat are read
  * on the driver) and adds one parquet file per bucket it touches; a DataFrame insert
  * counts its rows in its one write job, and the count comes back even
  * when nothing is written. */
class InsertJobsSpec extends AnyFunSuite with GraftSpark {

  private val BucketNs = TsCatalog.DefaultBucketNs
  private val Base = Math.floorDiv(1700000000000000000L, BucketNs) * BucketNs

  private def withCatalog(f: (TsCatalog, String) => Unit): Unit = {
    val root = Files.createTempDirectory("graft-insert-jobs").toString
    try f(new TsCatalog(spark, root), root)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  private def parquetFiles(dir: java.io.File): Int =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  private def values(tss: Seq[Long]) =
    tss.zipWithIndex.map { case (t, i) => s"($t, $i.0)" }.mkString(", ")

  test("a 15-row INSERT is no Spark job and one parquet file per touched bucket") {
    withCatalog { (cat, root) =>
      val exec = new StatementExecutor(spark, cat, () => Base)
      exec.executeSql("CREATEDB idb"); exec.executeSql("CREATE s")
      val data = new java.io.File(root, "idb/s/data")
      // inside one bucket
      val (one, jobs1) = jobsOf(spark.sparkContext)(
        exec.executeSql(s"INSERT INTO s VALUES ${values((0 until 15).map(i => Base + i * 1000L))}"))
      assert(one == ExecResult.Ack("15 point(s) inserted, 0 error(s)"))
      assert(jobs1 == 0, s"INSERT ran $jobs1 jobs")
      assert(parquetFiles(data) == 1)
      // straddling the next bucket boundary
      val edge = Base + BucketNs
      val (two, jobs2) = jobsOf(spark.sparkContext)(
        exec.executeSql(s"INSERT INTO s VALUES ${values((-7 until 8).map(i => edge + i * 1000L))}"))
      assert(two == ExecResult.Ack("15 point(s) inserted, 0 error(s)"))
      assert(jobs2 == 0, s"INSERT ran $jobs2 jobs")
      assert(parquetFiles(data) == 3)
      assert(cat.readSeries("idb", "s").count() == 30)
    }
  }

  test("an ignore-policy INSERT reads only its own buckets, with no listing job") {
    import spark.implicits._
    withCatalog { (cat, _) =>
      val exec = new StatementExecutor(spark, cat, () => Base)
      exec.executeSql("CREATEDB gdb"); exec.executeSql("CREATE s 'ignore'")
      // one point per bucket: 48 buckets, past Spark's parallel listing
      // threshold (32) for a directory handed to it whole
      cat.insert("gdb", "s", (0 until 48).map(k => (Base + k * BucketNs, -1.0))
        .toDF("timestamp", "value"))
      val last = Base + 47 * BucketNs
      // 15 rows in the newest bucket; the first repeats its stored point
      val (ack, jobs) = jobDescriptionsOf(spark.sparkContext)(
        exec.executeSql(s"INSERT INTO s VALUES ${values((0 until 15).map(i => last + i * 1000L))}"))
      assert(ack == ExecResult.Ack("14 point(s) inserted, 0 error(s)"))
      assert(!jobs.exists(_.startsWith("Listing leaf files")), jobs)
      // the bucket ids come from the rows in hand, the stored timestamps
      // from a driver-side read and the write is a driver-side file
      assert(jobs.isEmpty, jobs)
      val stored = cat.readSeries("gdb", "s").filter($"timestamp" === last)
        .as[(Long, Double)].collect()
      assert(stored.toSeq == Seq((last, -1.0)))
      assert(cat.readSeries("gdb", "s").count() == 48 + 14)
    }
  }

  test("catalog.insert counts 0, without blocking, when nothing is written") {
    import spark.implicits._
    withCatalog { (cat, _) =>
      cat.createDb("e")
      cat.createSeries("e", "ins", SeriesMeta(None))
      cat.createSeries("e", "ign", SeriesMeta(None, dupPolicy = "ignore"))
      def counted(body: => Long): Long = Await.result(Future(body), 2.minutes)
      assert(counted(cat.insert("e", "ins",
        Seq.empty[(Long, Double)].toDF("timestamp", "value").coalesce(1))) == 0L)
      assert(counted(cat.insert("e", "ins",
        spark.range(0).selectExpr("id AS timestamp", "0.5 AS value"))) == 0L)
      val batch = (0 until 15).map(i => (Base + i, i.toDouble))
      assert(counted(cat.insert("e", "ign", batch.toDF("timestamp", "value"))) == 15L)
      assert(counted(cat.insert("e", "ign", batch.toDF("timestamp", "value"))) == 0L)
      assert(cat.readSeries("e", "ign").count() == 15L)
      assert(cat.readSeries("e", "ins").count() == 0L)
    }
  }
}
