package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.catalog.{SeriesMeta, TsCatalog}

/** `latest` reads the newest in-range bucket first and falls back to
  * the rest only when WHERE empties it; every answer must equal the
  * full-scan oracle `orderBy(desc(timestamp)).limit(1)` over the same
  * range and WHERE. */
class LatestSpec extends AnyFunSuite with BeforeAndAfterAll with GraftSpark {

  private val root = Files.createTempDirectory("graft-latest-spec").toString
  private lazy val catalog = new TsCatalog(spark, root)
  private lazy val exec = new StatementExecutor(spark, catalog, () => 0L)

  private val B = TsCatalog.DefaultBucketNs
  private val Base = Math.floorDiv(1700000000000000000L, B) * B
  private def at(bucket: Int, offsetS: Long) = Base + bucket * B + offsetS * 1000000000L

  override def beforeAll(): Unit = {
    super.beforeAll()
    exec.executeSql("CREATEDB ldb")
    // buckets 0, 1 and 3 (bucket 2 is a gap); values below 100 in the
    // older buckets, 100 and up in the newest one
    exec.executeSql("CREATE gaps")
    insert("gaps", Seq(0, 1).flatMap(b => (0 until 5).map(i => (at(b, i * 100L), b * 10.0 + i))) ++
      (0 until 5).map(i => (at(3, i * 100L), 100.0 + i)))
    // two points share the maximum timestamp
    exec.executeSql("CREATE dups")
    insert("dups", Seq((at(0, 5), 1.0), (at(1, 7), 2.0), (at(1, 7), 3.0), (at(1, 3), 4.0)))
    exec.executeSql("CREATE single")
    insert("single", (0 until 6).map(i => (at(0, i * 10L), i.toDouble)))
    exec.executeSql("CREATE unwritten")
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    super.afterAll()
  }

  private def insert(series: String, pts: Seq[(Long, Double)]): Unit = {
    val vals = pts.map { case (t, v) => s"($t, $v)" }.mkString(", ")
    assert(exec.executeSql(s"INSERT INTO $series VALUES $vals").isInstanceOf[ExecResult.Ack])
  }

  /** Rows at the oracle's maximum timestamp (every one is a valid
    * `latest` under ties), or empty. */
  private def oracle(series: String, range: Option[(Long, Long)], where: String): Seq[(Long, Double)] = {
    val in = catalog.readSeries("ldb", series, range).filter(expr(where))
    in.orderBy(desc("timestamp")).limit(1).collect().headOption match {
      case None => Nil
      case Some(top) =>
        in.filter(col("timestamp") === top.getLong(0)).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
  }

  private def check(series: String, range: Option[(Long, Long)] = None,
      where: Option[String] = None): Unit = {
    val sql = s"SELECT latest(value) FROM $series" +
      range.map { case (a, b) => s" BETWEEN $a AND $b" }.getOrElse("") +
      where.map(w => s" WHERE $w").getOrElse("")
    val want = oracle(series, range, where.getOrElse("true"))
    exec.executeSql(sql) match {
      case ExecResult.Rows(df) =>
        val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got.size == 1 && want.contains(got.head), s"$sql: got $got, oracle $want")
      case ExecResult.Err(ErrCode.EmptyResultset, _) =>
        assert(want.isEmpty, s"$sql: empty result, oracle $want")
      case other => fail(s"$sql: $other")
    }
  }

  test("a WHERE that empties the newest bucket falls back to the older ones") {
    check("gaps", where = Some("value < 100"))
    check("gaps", where = Some("value >= 100"))
    check("gaps", where = Some("value < 0"))
    check("gaps")
  }

  test("a BETWEEN whose upper bound falls in a bucket gap") {
    check("gaps", Some((at(0, 0), at(2, 450))))
    check("gaps", Some((at(2, 0), at(2, 800))))
    check("gaps", Some((at(1, 150), at(2, 10))), Some("value < 12"))
  }

  test("duplicate maximum timestamps under the insert policy") {
    check("dups")
    check("dups", Some((at(0, 0), at(1, 7))))
    check("dups", where = Some("value < 3"))
  }

  test("a series with one bucket") {
    check("single")
    check("single", Some((at(0, 15), at(0, 35))))
    check("single", where = Some("value > 10"))
  }

  test("a series with no data directory") {
    check("unwritten")
    check("unwritten", Some((at(0, 0), at(5, 0))))
    // a data directory removed underneath a created series
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root, "ldb/single/data"))
    check("single")
    check("single", Some((at(0, 0), at(0, 10))))
  }
}
