package graft.engine

import java.nio.file.Files

import org.apache.spark.graft.ListenerBridge.jobsOf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.catalog.TsCatalog

/** A plain ranged SELECT inside one bucket runs no Spark job from
  * execute to the last streamed row, and every plain SELECT answers in
  * timestamp order whatever order its points were inserted in. */
class RangeReadSpec extends AnyFunSuite with BeforeAndAfterAll with GraftSpark {

  private val root = Files.createTempDirectory("graft-range-read").toString
  private lazy val catalog = new TsCatalog(spark, root)
  private lazy val exec = new StatementExecutor(spark, catalog, () => 0L)

  private val B = TsCatalog.DefaultBucketNs
  private val Base = Math.floorDiv(1700000000000000000L, B) * B
  private def at(bucket: Int, offsetS: Long) = Base + bucket * B + offsetS * 1000000000L

  override def beforeAll(): Unit = {
    super.beforeAll()
    exec.executeSql("CREATEDB rdb")
    exec.executeSql("CREATE s")
    // four INSERTs (four files per bucket) whose timestamps interleave,
    // each covering buckets 0 and 1
    (0 until 4).foreach { k =>
      val pts = Seq(0, 1).flatMap(b => (0 until 10).map(i => (at(b, i * 40L + (3 - k) * 10L), b * 100.0 + k)))
      val vals = pts.map { case (t, v) => s"($t, $v)" }.mkString(", ")
      assert(exec.executeSql(s"INSERT INTO s VALUES $vals").isInstanceOf[ExecResult.Ack])
    }
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    super.afterAll()
  }

  /** Executes `sql` and drains its rows as the server does. */
  private def drained(sql: String): Seq[(Long, Double)] = exec.executeSql(sql) match {
    case ExecResult.Rows(df) =>
      ExecResult.rowIterator(df).map(r => (r.getLong(0), r.getDouble(1))).toSeq
    case other => fail(s"$sql: $other")
  }

  private def oracle(range: (Long, Long)): Seq[(Long, Double)] =
    catalog.readSeries("rdb", "s", Some(range)).orderBy("timestamp").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("a BETWEEN inside one bucket runs no job and comes back in timestamp order") {
    val range = (at(0, 25), at(0, 305))
    val (rows, jobs) = jobsOf(spark.sparkContext)(
      drained(s"SELECT value FROM s BETWEEN ${range._1} AND ${range._2}"))
    assert(jobs == 0, s"ranged read ran $jobs jobs")
    assert(rows.nonEmpty && rows == oracle(range))
    assert(rows.map(_._1) == rows.map(_._1).sorted)
    val (limited, limitJobs) = jobsOf(spark.sparkContext)(
      drained(s"SELECT value FROM s BETWEEN ${range._1} AND ${range._2} LIMIT 5"))
    assert(limitJobs == 0, s"ranged LIMIT read ran $limitJobs jobs")
    assert(limited == oracle(range).take(5))
  }

  test("a BETWEEN across buckets, and a WHERE, keep timestamp order") {
    val range = (at(0, 200), at(1, 200))
    assert(drained(s"SELECT value FROM s BETWEEN ${range._1} AND ${range._2}") == oracle(range))
    val inOne = (at(1, 0), at(1, 900))
    assert(drained(s"SELECT value FROM s BETWEEN ${inOne._1} AND ${inOne._2} WHERE value > 101") ==
      oracle(inOne).filter(_._2 > 101))
    assert(drained("SELECT value FROM s") == oracle((at(0, 0), at(2, 0))))
  }
}
