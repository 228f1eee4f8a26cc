package graft.engine

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.graft.ListenerBridge.jobsOf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.catalog.TsCatalog

/** Wire reads inside the driver-row bound (`TsCatalog.localPoints`):
  * a plain scan or `latest` runs no Spark job and answers what a Spark
  * scan of the same range answers; one row past the bound, the
  * statement keeps its Spark plan. */
class DriverReadSpec extends AnyFunSuite with BeforeAndAfterAll with GraftSpark {

  private val root = Files.createTempDirectory("graft-driver-read").toString
  private lazy val catalog = new TsCatalog(spark, root)
  private lazy val exec = new StatementExecutor(spark, catalog, () => 0L)

  private val B = TsCatalog.DefaultBucketNs
  private val Base = Math.floorDiv(1700000000000000000L, B) * B
  private val Bucket0 = Base / B
  private def at(bucket: Int, offsetMs: Long) = Base + bucket * B + offsetMs * 1000000L

  override def beforeAll(): Unit = {
    super.beforeAll()
    exec.executeSql("CREATEDB ddb")
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new File(root))
    super.afterAll()
  }

  private def create(series: String): Unit =
    assert(exec.executeSql(s"CREATE $series").isInstanceOf[ExecResult.Ack])

  private def insert(series: String, pts: Seq[(Long, Double)]): Unit = {
    val vals = pts.map { case (t, v) => s"($t, $v)" }.mkString(", ")
    assert(exec.executeSql(s"INSERT INTO $series VALUES $vals").isInstanceOf[ExecResult.Ack])
  }

  /** `sql`'s rows, drained as the server drains them, and the number
    * of Spark jobs from execute to the last row. */
  private def run(sql: String): (Seq[(Long, Double)], Int) =
    jobsOf(spark.sparkContext)(exec.executeSql(sql) match {
      case ExecResult.Rows(df) =>
        ExecResult.rowIterator(df).map(r => (r.getLong(0), r.getDouble(1))).toSeq
      case ExecResult.Err(ErrCode.EmptyResultset, _) => Nil
      case other => fail(s"$sql: $other")
    })

  /** The Spark-scan oracle: the series' points in `range` passing
    * `where`, by timestamp. */
  private def oracle(series: String, range: Option[(Long, Long)] = None,
      where: String = "true"): Seq[(Long, Double)] =
    catalog.readSeries("ddb", series, range).filter(expr(where)).orderBy("timestamp")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Rows equal as multisets, and in timestamp order. */
  private def assertScan(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Unit = {
    assert(got.sorted == want.sorted)
    assert(got.map(_._1) == got.map(_._1).sorted)
  }

  /** A `latest` answer is one of the oracle's rows at its maximum
    * timestamp. */
  private def assertLatest(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Unit =
    if (want.isEmpty) assert(got.isEmpty)
    else assert(got.size == 1 && want.filter(_._1 == want.last._1).contains(got.head), s"$got vs $want")

  test("a range of exactly OneShotMaxRows points runs no job; one more point takes the Spark path") {
    create("bound")
    val n = StatementExecutor.OneShotMaxRows
    // 1 ms apart, all in bucket 0, so `latest` reads them all too
    val pts = (0 until n).map(i => (at(0, i.toLong), i.toDouble))
    assert(catalog.append("ddb", "bound", pts) == n)
    val range = Some((at(0, 0), at(1, 0)))
    val sql = s"SELECT value FROM bound BETWEEN ${at(0, 0)} AND ${at(1, 0)}"
    val (rows, jobs) = run(sql)
    assert(jobs == 0, s"$n-point read ran $jobs jobs")
    assert(rows == oracle("bound", range))
    val (last, latestJobs) = run("SELECT latest(value) FROM bound")
    assert(latestJobs == 0 && last == Seq(pts.last))
    val (limited, limitJobs) = run(s"$sql LIMIT 7")
    assert(limitJobs == 0 && limited == pts.take(7))

    insert("bound", Seq((at(0, 60000L), -1.0)))
    val (more, moreJobs) = run(sql)
    assert(moreJobs > 0, s"${n + 1}-point read ran no job")
    assert(more.size == n + 1 && more == oracle("bound", range))
    val (newest, newestJobs) = run("SELECT latest(value) FROM bound")
    assert(newestJobs == 1 && newest == Seq((at(0, 60000L), -1.0)))
  }

  test("a WHERE that empties the newest bucket still runs no job") {
    create("gaps")
    insert("gaps", Seq(0, 1).flatMap(b => (0 until 5).map(i => (at(b, i * 1000L), b * 10.0 + i))) ++
      (0 until 5).map(i => (at(3, i * 1000L), 100.0 + i)))
    for (where <- Seq("value < 100", "value < 100 AND timestamp < " + at(1, 0),
        "value >= 100", "value < 0", "value = 11 OR value = 3")) {
      val (got, jobs) = run(s"SELECT latest(value) FROM gaps WHERE $where")
      assert(jobs == 0, s"$where: $jobs jobs")
      assertLatest(got, oracle("gaps", where = where))
      val (scanned, scanJobs) = run(s"SELECT value FROM gaps WHERE $where")
      assert(scanJobs == 0, s"$where: scan ran $scanJobs jobs")
      assertScan(scanned, oracle("gaps", where = where))
    }
  }

  test("duplicate maximum timestamps under the insert policy") {
    create("dups")
    // three INSERTs, so the ties sit in separate files of one bucket
    insert("dups", Seq((at(0, 5), 1.0), (at(0, 7), 2.0)))
    insert("dups", Seq((at(0, 7), 3.0), (at(0, 3), 4.0), (at(0, 5), 5.0)))
    insert("dups", Seq((at(0, 7), 6.0)))
    val (scanned, scanJobs) = run("SELECT value FROM dups")
    assert(scanJobs == 0)
    assertScan(scanned, oracle("dups"))
    assert(scanned.count(_._1 == at(0, 7)) == 3)
    val (got, jobs) = run("SELECT latest(value) FROM dups")
    assert(jobs == 0)
    assertLatest(got, oracle("dups"))
    val (notSix, whereJobs) = run("SELECT latest(value) FROM dups WHERE value != 6")
    assert(whereJobs == 0)
    assertLatest(notSix, oracle("dups", where = "value != 6"))
  }

  test("a torn hidden .tmp file in the newest bucket is skipped") {
    create("torn")
    insert("torn", (0 until 5).map(i => (at(0, i * 1000L), i.toDouble)))
    insert("torn", (0 until 5).map(i => (at(1, i * 1000L), 10.0 + i)))
    val newest = new File(root, s"ddb/torn/data/bucket=${Bucket0 + 1}")
    Files.write(new File(newest, s".part-${java.util.UUID.randomUUID()}.snappy.parquet.tmp").toPath,
      "PAR1 torn".getBytes("UTF-8"))
    val (got, jobs) = run("SELECT latest(value) FROM torn")
    assert(jobs == 0)
    assertLatest(got, oracle("torn"))
    val (scanned, scanJobs) = run(s"SELECT value FROM torn BETWEEN ${at(1, 0)} AND ${at(2, 0)}")
    assert(scanJobs == 0)
    assertScan(scanned, oracle("torn", Some((at(1, 0), at(2, 0)))))
  }

  test("a listed file deleted before the read fails loudly, not as an empty answer") {
    create("gone")
    insert("gone", Seq((at(0, 1), 1.0)))
    insert("gone", Seq((at(0, 2), 2.0)))
    val dir = new Path(new File(root, s"ddb/gone/data/bucket=$Bucket0").getPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet")).toSeq
    assert(listed.size == 2)
    assert(catalog.readPointFiles(listed, None).map(_.size).contains(2))
    assert(fs.delete(listed.head.getPath, false))
    intercept[java.io.FileNotFoundException](catalog.readPointFiles(listed, None))
  }

  test("two readers beside an appender see every acked point exactly once") {
    create("live")
    val batches = 40
    // 15 points 7 s apart per batch: 4,200 s over five buckets, so some
    // batches write two files
    def batch(k: Int) = (0 until 15).map { i =>
      val n = k * 15 + i
      (at(0, n * 7000L), n.toDouble)
    }
    val written = (0 until batches).flatMap(batch).toMap
    val acked = new AtomicInteger(0)
    val writer = Future {
      for (k <- 0 until batches) {
        insert("live", batch(k))
        acked.set(k + 1)
      }
    }
    def reader(series: String): Future[Int] = Future {
      val session = new TsSession
      session.activeDb = Some("ddb")
      var reads = 0
      while (!writer.isCompleted || reads == 0) {
        val before = acked.get()
        val rows = exec.executeSql(s"SELECT value FROM $series", session) match {
          case ExecResult.Rows(df) =>
            ExecResult.rowIterator(df).map(r => (r.getLong(0), r.getDouble(1))).toSeq
          case other => fail(s"read: $other")
        }
        val ts = rows.map(_._1)
        assert(ts.distinct.size == ts.size, "a point read twice")
        assert(ts == ts.sorted)
        assert(rows.forall { case (t, v) => written.get(t).contains(v) })
        val seen = ts.toSet
        assert((0 until before).flatMap(batch).forall(p => seen(p._1)),
          s"an acked point missing after $before acked batches")
        reads += 1
      }
      reads
    }
    val reads = Await.result(Future.sequence(Seq(reader("live"), reader("live"))), 5.minutes)
    Await.result(writer, 1.minute)
    assert(reads.forall(_ > 0))
    val (all, jobs) = run("SELECT value FROM live")
    assert(jobs == 0)
    assert(all == (0 until batches).flatMap(batch))
  }
}
